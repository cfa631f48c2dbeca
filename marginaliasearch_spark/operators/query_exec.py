"""Query execution: top-k BM25 over the block-compressed postings tables.

One executor, in the shape of the reference's 4-stage pipeline
(``IndexQueryExecution.java:118-210``: Lookup → Deduplicate → Preparation →
Ranking), whose physical plan ``CombinedIndexReader.createQueries`` fixes
before anything runs:

- **plan_query** (driver, = ``SearchContext`` + ``createQueries``): parse,
  probe the lexicon for per-term document frequencies (and N, per language
  when lang-scoped), keep the OR-paths whose terms all exist and order each
  one's terms rarest-first (``CombinedIndexReader.java:94-97,119-130`` —
  selectivity ordering is OURS to do; Catalyst cannot reorder a semi-join
  chain), resolve role gates and ``conv:``/``set:`` ids, and choose the
  strategy, recording why. The result is a ``QueryPlan``.
- **execute** turns a plan into one DataFrame DAG:
  - *lookup* (= EntrySource + ReverseIndexRetainFilter): a term scan
    reads only the postings files that can hold the term — the reader's
    file map, built from the parquet footers' term_id ranges at open, is
    the analogue of the reference's WordLexicon term → postings offset
    (``WordLexicon.java:34-41``) — so each decode runs one Python task,
    not one per split of the whole table. Decode the rarest
    term's posting blocks into candidates, then for each further term
    decode *pruned* blocks — the candidate doc-id set is shipped to
    executors and blocks whose [min_doc, max_doc] window misses all
    candidates are skipped undecoded (skip-list forward pointers;
    ``SkipListReader.tryRetainData``); several OR-paths fold their distinct
    terms through one union + pivot instead;
  - *exclusion* (= ReverseIndexRejectFilter): ``left_anti`` join;
  - *ranking*: per-term BM25 partials as JVM column expressions, aggregated
    over the compiled query's OR-tree as max-over-paths of sum-along-path
    (``CompiledQueryAggregates.intMaxSumAggregateOfIndexes``), then the
    ascending ``normalize()`` transform (``IndexResultRankingService.java``);
  - *select*: ``orderBy(score).limit(k)`` (Spark's TakeOrdered = the top-k
    heap, ``ResultPriorityQueue``) with an optional per-group result cap
    (``row_number`` window = per-domain cap, ``IndexQueryExecution.java:162-177``).
- **wand_rewrite**: block-max WAND is a plan rewrite, not a second
  executor — execute the plan on each term's best blocks, take the kth
  score as θ, and return the plan with per-term block-max ``cuts``.

``run_query`` is plan → rewrite → execute; ``run_query_wand``,
``run_search``, ``run_query_page`` and ``explain_scores`` all go through it.
The time-budget / early-termination machinery (``IndexSearchBudget``) is
deliberately omitted: this is a batch engine; block-max metadata + parquet
min/max stats provide the scan pruning instead (SURVEY §2.6 O4 note).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field, replace
from functools import partial, reduce
from urllib.parse import unquote

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.blocks import decode_blocks, decoded_schema
from ..functions.scoring import (
    FLAG_BM25_WEIGHT,
    bm25_partial,
    document_bonus,
    document_penalty,
    first_position_bonus,
    flags_partial,
    normalize,
    optional_group_bonus,
    proximity_bonus,
    temporal_bias,
    verbatim_bonus,
)
from ..plans.parser import ParsedQuery, parse_query
from .index_build import IndexPaths, read_manifest, read_postings
from .ingest import PRIORITY_FLAGS, ROLE_FLAG


@dataclass(frozen=True)
class RankingParams:
    """Optional ranking features beyond the BM25 core.

    ``positional=True`` adds the reference's positional bonuses
    (first-position, verbatim phrase, proximity — SURVEY §5) to the raw
    score before normalization. Divergence note: the reference skips
    position lists longer than 16 entries inside its proximity scan
    (PhraseConstraintGroupList.java, a CPU guard for its row-at-a-time
    scorer); our vectorized kernel computes the exact min spread over all
    positions.

    ``flag_score=True`` adds the reference's second BM25 over flag-derived
    pseudo-counts (``score_bFlags``, IndexResultRankingService.java:139-141)
    at weight 0.5 — see scoring.flags_partial.

    ``penalties=True`` feeds the document bonus/penalty (short-doc +
    rank-bucket quality, scoring.document_penalty) into ``normalize``'s
    penalty argument (IndexResultRankingService.java:155-158) instead of 0.

    ``weighted_counts=True`` scores BM25 with the role-span-weighted count
    (system 2.5 / tool 1.25 / body 1.0 per occurrence — the reference's
    tag-span-weighted ``c``, UnorderedMatches :566-604) instead of the raw
    term frequency. Term presence/DF statistics are unchanged.

    ``temporal_bias='recent'|'old'`` adds the reference's temporal bias
    ``-|year - anchor| * weight`` to the document bonus
    (IndexResultRankingService.java:322-330; scoring.temporal_bias —
    anchored at the index's own max/min year for determinism).
    """

    positional: bool = False
    flag_score: bool = False
    penalties: bool = False
    weighted_counts: bool = False
    temporal_bias: str | None = None
    temporal_bias_weight: float = 5.0


def _min_spread_batch(
    out: np.ndarray,
    row_ids: list[int],
    seqs: list[np.ndarray],
    k: int,
) -> None:
    """Vectorized k-way min-spread for a bucket of rows sharing list
    count ``k`` (``seqs`` holds k arrays per row, row-major).

    The classic smallest-covering-window: with all (value, label) pairs of
    a row sorted by value, the best window ending at position g spans from
    ``m(g) = min over labels of last-occurrence(label) <= g``; the answer
    is ``min over g of vals[g] - vals[m(g)]``. Last-occurrence per label is
    one ``np.maximum.accumulate`` over the whole batch (row boundaries
    handled by comparing against the row's start offset — a stale index
    from a previous row is always below it), so the scan is O(k·N) numpy
    with no Python loop over positions (the reference bounds this scan
    per candidate too: SequenceOperations.java:195-230).
    """
    lens = np.fromiter((s.size for s in seqs), np.int64, count=len(seqs))
    vals = np.concatenate(seqs)
    labels = np.repeat(np.tile(np.arange(k), len(row_ids)), lens)
    rows = np.repeat(
        np.repeat(np.asarray(row_ids, dtype=np.int64), k), lens
    )
    order = np.lexsort((vals, rows))
    vals, labels, rows = vals[order], labels[order], rows[order]
    n = vals.size
    seg_mask = np.empty(n, dtype=bool)
    seg_mask[0] = True
    seg_mask[1:] = rows[1:] != rows[:-1]
    seg_starts = np.flatnonzero(seg_mask)
    idx = np.arange(n)
    row_start = np.maximum.accumulate(np.where(seg_mask, idx, 0))
    m = np.full(n, n, dtype=np.int64)
    valid = np.ones(n, dtype=bool)
    for lab in range(k):
        last = np.maximum.accumulate(np.where(labels == lab, idx, -1))
        valid &= last >= row_start
        np.minimum(m, last, out=m)
    big = np.iinfo(np.int64).max
    spread = np.where(valid, vals - vals[np.clip(m, 0, n - 1)], big)
    per_row = np.minimum.reduceat(spread, seg_starts)
    res = np.where(per_row == big, 0, per_row)
    out[rows[seg_starts]] = np.maximum(res, 0)


def _min_spread_kernel(lists: pd.Series) -> pd.Series:
    """Smallest max-min spread picking one value per sub-list (inputs are
    already order-adjusted by the term's query index). 0 when any list is
    missing/empty or fewer than 2 lists — callers treat 0 as "no bonus"
    (SequenceOperations.minDistance semantics).

    Python touches each row only to validate shape and collect sub-array
    references; all position-level work is batched numpy
    (``_min_spread_batch``) — no per-row sliding-window loop.
    """
    out = np.zeros(len(lists), dtype=np.int32)
    buckets: dict[int, tuple[list[int], list[np.ndarray]]] = {}
    for r, ls in enumerate(lists):
        if ls is None or len(ls) < 2:
            continue
        seqs = [
            np.asarray(l, dtype=np.int64) for l in ls if l is not None and len(l)
        ]
        if len(seqs) != len(ls):
            continue
        rows_b, seqs_b = buckets.setdefault(len(ls), ([], []))
        rows_b.append(r)
        seqs_b.extend(seqs)
    for k, (row_ids, seqs) in buckets.items():
        _min_spread_batch(out, row_ids, seqs, k)
    return pd.Series(out)


def _min_spread_udf(col: F.Column) -> F.Column:
    # pandas_udf is created lazily — the decorator needs an active session
    return F.pandas_udf(_min_spread_kernel, "int")(col)

# Candidate sets up to this size are collected to the driver and shipped to
# decode kernels for block pruning (the reference streams 512-id batches
# through skip lists; our batch analogue prunes whole blocks). Above it we
# fall back to a shuffle semi-join, which is what a 10^12-turn corpus needs
# for stop-word-ish terms anyway.
MAX_DRIVER_CANDIDATES = 2_000_000

# A term whose postings are smaller than this joins faster than the extra
# driver-collect job that block pruning costs; above it, pruning pays.
PRUNE_DF_THRESHOLD = 50_000


def _collect_ids_u64(df: DataFrame, col: str = "doc_id") -> np.ndarray:
    """One long column → uint64 numpy array via an Arrow batch transfer.

    ``toArrow`` streams columnar batches straight into numpy — no
    per-row ``Row`` objects. At the 2M-id ``MAX_DRIVER_CANDIDATES`` cap the
    Row path burned seconds of driver CPU per query; this is the same plan
    with a ~10x cheaper driver step (measured in BASELINE.md)."""
    try:
        tbl = df.toArrow()
        arr = tbl.column(col).to_numpy(zero_copy_only=False)
    except Exception:  # pragma: no cover - non-Arrow fallback
        arr = np.fromiter((r[col] for r in df.collect()), dtype=np.int64)
    return np.asarray(arr, dtype=np.int64).astype(np.uint64)


def _term_files(root: str, dirs: list[str]) -> list[tuple[float, float, str | None, str]]:
    """``(min term_id, max term_id, lang, path)`` of every data file under
    ``dirs`` (a tier root's committed dirs), read from the parquet footers
    on the driver — no Spark job. Hidden files and dirs are skipped, as
    Spark's listing skips them. A footer without ``term_id`` stats covers
    every term; a file with no rows covers none. ``lang`` is the file's
    ``lang=`` partition value, None when the tier is not lang-partitioned.
    """
    out = []
    for d in dirs:
        for cur, subdirs, files in os.walk(d, followlinks=True):
            subdirs[:] = sorted(x for x in subdirs if not x.startswith(("_", ".")))
            lang = next(
                (
                    unquote(seg[len("lang="):])
                    for seg in os.path.relpath(cur, root).split(os.sep)
                    if seg.startswith("lang=")
                ),
                None,
            )
            for fn in sorted(f for f in files if not f.startswith(("_", "."))):
                path = os.path.join(cur, fn)
                md = pq.read_metadata(path)
                if md.num_rows == 0:
                    continue
                names = md.schema.names
                stats = [
                    md.row_group(g).column(names.index("term_id")).statistics
                    if "term_id" in names
                    else None
                    for g in range(md.num_row_groups)
                ]
                if all(st is not None and st.has_min_max for st in stats):
                    lo, hi = min(st.min for st in stats), max(st.max for st in stats)
                else:
                    lo, hi = -math.inf, math.inf
                out.append((lo, hi, lang, path))
    return out


class IndexReader:
    """Open handle on a built index (lexicon + postings + doc stats)."""

    def __init__(self, spark: SparkSession, paths: IndexPaths):
        self.spark = spark
        self.paths = paths
        self.postings = read_postings(spark, paths)
        self.lexicon = spark.read.parquet(paths.lexicon)
        self.doc_stats = spark.read.parquet(paths.doc_stats)
        # optional priority tier (flagged occurrences only, much smaller);
        # a corpus with no flagged turns writes an EMPTY lang-partitioned
        # dir (no parquet files at all), which can't be read — treat as
        # absent and fall back to the full tier
        self.prio = None
        if os.path.exists(os.path.join(paths.prio, "_SUCCESS")):
            try:
                self.prio = spark.read.parquet(paths.prio)
            except Exception:
                self.prio = None
        # deletion tombstones (index_build.delete_convs): results must
        # never contain these docs; stats stay pre-deletion until
        # compact_index absorbs them (stale-until-reconstruction, as the
        # reference between crawl re-ingests)
        self._year_range: tuple[int, int] | None = None
        self.tombstones = None
        if os.path.exists(os.path.join(paths.tombstones, "_SUCCESS")):
            try:
                self.tombstones = (
                    spark.read.parquet(paths.tombstones)
                    .select("doc_id")
                    .distinct()
                )
            except Exception:
                self.tombstones = None
        with open(paths.corpus_stats) as f:
            stats = json.load(f)
        self.n_docs = float(stats["doc_count"])
        # per-language doc counts + lexicon (reference: per-language
        # WordLexicon) — lang-scoped queries score with these
        self.lang_doc_counts = {
            k: float(v) for k, v in stats.get("lang_doc_counts", {}).items()
        }
        self.lexicon_lang = (
            spark.read.parquet(paths.lexicon_lang)
            if os.path.exists(os.path.join(paths.lexicon_lang, "_SUCCESS"))
            else None
        )
        # optional corpus-derived ngram lexicon (expansion segmentation,
        # reference NgramLexicon analogue — built by index_build.build_ngrams)
        self.ngrams = (
            spark.read.parquet(paths.ngrams)
            if os.path.exists(os.path.join(paths.ngrams, "_SUCCESS"))
            else None
        )
        # actual block geometry of this index (older indexes predate the
        # stat; fall back to the build default) — sizes WAND probe budgets
        from ..functions.blocks import BLOCK_DOCS

        self.block_docs = int(stats.get("block_docs", BLOCK_DOCS))
        # driver-side memo of lexicon/bounds probes: a reader is pinned to
        # one immutable index snapshot, so these tiny lookups never change
        # — the Spark analogue of the reference keeping lexicon B-tree
        # pages hot in its buffer pool
        self._stats_cache: dict[tuple, tuple[int, int] | None] = {}
        self._bounds_cache: dict[int, float | None] = {}
        self._searchset_cache: dict[str, DataFrame | None] = {}
        # the term → postings-file map (the reference's WordLexicon term →
        # offset): each tier's files with their footer term_id range, so a
        # term scan lists only the files that can hold the term
        self._files = {
            "full": _term_files(
                paths.postings,
                [paths.bucket_dir(m["partition_id"]) for m in read_manifest(paths)],
            ),
            "prio": _term_files(paths.prio, [paths.prio]) if self.prio is not None else [],
        }
        self._scans: dict[tuple[str, ...], DataFrame] = {}

    def search_set(self, name: str) -> DataFrame | None:
        """Persisted search set by name (RankingSearchSet load-at-query);
        None = missing or empty, which imposes NO constraint (the
        reference's contains() quirk, RankingSearchSet.java:73-82)."""
        from .searchset import load_search_set

        if name not in self._searchset_cache:
            try:
                self._searchset_cache[name] = load_search_set(
                    self.spark, self.paths.root, name
                )
            except ValueError:
                # a user-typed set: name outside [a-z0-9_] (the write-path
                # traversal guard) is just an unloadable set — the
                # reference treats those as no-constraint, never an error
                self._searchset_cache[name] = None
        return self._searchset_cache[name]

    @property
    def year_range(self) -> tuple[int, int]:
        """(min, max) document year in the index — the deterministic
        anchors for temporal-bias ranking (one tiny driver probe, memoized;
        the snapshot is immutable)."""
        if self._year_range is None:
            if "year" not in self.doc_stats.columns:
                raise ValueError(
                    "index predates the year stamp; rebuild to use "
                    "temporal_bias"
                )
            r = self.doc_stats.agg(
                F.min("year").alias("lo"), F.max("year").alias("hi")
            ).collect()[0]
            self._year_range = (int(r["lo"]), int(r["hi"]))
        return self._year_range

    def term_bounds(self, term_ids: list[int]) -> dict[int, float]:
        """term_id → global max tf-norm (score UB = idf * max_tf_norm) from
        the tiny term_bounds table — a driver-side pushed-IN probe, the
        skip-list global-max analogue (SkipListReader block maxima).
        Memoized per reader (the snapshot is immutable)."""
        if not term_ids:
            return {}
        missing = [t for t in term_ids if t not in self._bounds_cache]
        if missing:
            tb = self.spark.read.parquet(self.paths.term_bounds)
            rows = tb.filter(F.col("term_id").isin(missing)).collect()
            found = {r["term_id"]: float(r["max_tf_norm"]) for r in rows}
            for t in missing:
                self._bounds_cache[t] = found.get(t)
        return {
            t: self._bounds_cache[t]
            for t in term_ids
            if self._bounds_cache[t] is not None
        }

    # --- planning -----------------------------------------------------
    def term_stats(
        self, words: list[str], lang: str | None = None
    ) -> dict[str, tuple[int, int]]:
        """word → (term_id, df); missing words absent (df=0).

        Driver-side lexicon probe (SearchContext.java:167-178 numHits) —
        a pushed-down IN filter over the lexicon table, tiny result.
        ``lang`` scopes df to one language's lexicon (a word unused in that
        language is 'missing' there, like the reference's per-language
        WordLexicon lookup). Memoized per (lang, word) — the snapshot is
        immutable.
        """
        if not words:
            return {}
        if lang is not None and self.lexicon_lang is None:
            raise ValueError("index has no per-language lexicon")
        want = list(dict.fromkeys(words))
        missing = [w for w in want if (lang, w) not in self._stats_cache]
        if missing:
            src = self.lexicon
            if lang is not None:
                src = self.lexicon_lang.filter(F.col("lang") == lang)
            rows = src.filter(F.col("term").isin(missing)).collect()
            found = {r["term"]: (r["term_id"], r["df"]) for r in rows}
            for w in missing:
                self._stats_cache[(lang, w)] = found.get(w)
        return {
            w: self._stats_cache[(lang, w)]
            for w in want
            if self._stats_cache[(lang, w)] is not None
        }

    # --- posting access ------------------------------------------------
    def decode_term(
        self,
        term_id: int,
        candidates: np.ndarray | None = None,
        with_positions: bool = False,
        with_wtf: bool = False,
        min_tf_norm: float | None = None,
        top_blocks: int | None = None,
        first_blocks: int | None = None,
        tier: str = "full",
        lang: str | None = None,
    ) -> DataFrame:
        """One term's postings → (doc_id, tf, flags[, positions]).

        The scan lists only the tier's files whose footer term_id range
        covers the term (and, lang-scoped, only those under that
        ``lang=`` dir): the reader's file map is the analogue of the
        reference's WordLexicon term → postings offset
        (``WordLexicon.java:34-41``), and it keeps the decode to one
        Python task per covering file instead of one per split of the
        whole table. A term no file covers decodes to an empty frame
        without a scan. Inside those files the term_id equality predicate
        prunes parquet row groups via min/max stats (postings files are
        written sorted by term_id); the candidate
        array prunes blocks before decode. ``min_tf_norm`` is the block-max
        WAND cut: blocks whose score upper bound (idf * max_tf_norm) cannot
        reach the current top-k threshold are skipped at the parquet scan
        (predicate on the max_tf_norm column → row-group stats pruning).
        ``top_blocks`` restricts to the N highest-max_tf_norm blocks (the
        threshold-estimation phase of two-phase top-k). ``first_blocks``
        restricts to the N lowest-doc-id blocks — with rank-stamped ids
        (functions/ids.py) those hold the best-quality documents, which is
        the reference's budgeted-scan semantics (IndexSearchBudget: a
        truncated scan is sound BECAUSE docID order is quality order).
        """
        tier = "prio" if (tier == "prio" and self.prio is not None) else "full"
        source, root = (
            (self.prio, self.paths.prio)
            if tier == "prio"
            else (self.postings, self.paths.postings)
        )
        files = tuple(
            path
            for lo, hi, flang, path in self._files[tier]
            if lo <= term_id <= hi and (lang is None or flang in (None, lang))
        )
        schema = decoded_schema(with_positions, with_wtf)
        if not files:
            # no file of the tier can hold the term (a prio-tier term with
            # no flagged occurrence): nothing to scan
            return self.spark.createDataFrame([], schema).drop("term_id")
        blocks = self._scan(source, root, files).filter(F.col("term_id") == term_id)
        if lang is not None and "lang" in source.columns:
            # postings are written partitioned by the doc's language, so a
            # lang-scoped query prunes whole lang=... directories at the
            # scan (PartitionFilters) instead of filtering after the join —
            # the per-language reverse index of the reference
            blocks = blocks.filter(F.col("lang") == lang)
        if min_tf_norm is not None:
            blocks = blocks.filter(F.col("max_tf_norm") >= min_tf_norm)
        if top_blocks is not None:
            blocks = blocks.orderBy(F.desc("max_tf_norm")).limit(top_blocks)
        if first_blocks is not None:
            blocks = blocks.orderBy("min_doc").limit(first_blocks)
        # column pruning into the parquet scan: the positions payload (the
        # widest column) is only read when the query needs positions
        cols = ["term_id", "n_docs", "doc_ids", "tfs", "flags", "min_doc", "max_doc"]
        if with_wtf:
            cols.insert(4, "wtfs")
        if with_positions:
            cols.insert(4, "positions")
        fn = partial(
            decode_blocks,
            with_positions=with_positions,
            with_wtf=with_wtf,
            candidates=candidates,
        )
        return blocks.select(*cols).mapInPandas(fn, schema=schema).drop("term_id")

    def _scan(self, source: DataFrame, root: str, files: tuple[str, ...]) -> DataFrame:
        """The tier table ``source`` (rooted at ``root``) restricted to
        ``files`` — same schema and partition columns. Memoized per file
        tuple: the snapshot is immutable, and a serving process should not
        build a new file index for every scan."""
        if files not in self._scans:
            self._scans[files] = (
                self.spark.read.schema(source.schema)
                .option("basePath", root)
                .parquet(*files)
            )
        return self._scans[files]


def _safe(word: str) -> str:
    """Column-name-safe token alias (terms may contain . - / : etc., which
    break unquoted column references)."""
    import zlib

    return f"w{zlib.crc32(word.encode()):08x}"


def _adjacent_count(pos_cols: list[F.Column]) -> F.Column:
    """How many positions p of the first column have column i holding
    p+i for every i — the offset-shifted position intersection of the
    reference (``SequenceOperations.findIntersections``), expressed with
    ``filter``/``array_contains`` so it stays in whole-stage codegen."""
    return F.size(
        F.filter(
            pos_cols[0],
            lambda p: reduce(
                lambda acc, i: acc & F.array_contains(pos_cols[i], p + i),
                range(1, len(pos_cols)),
                F.lit(True),
            ),
        )
    )


def _broadcast_ids(reader: IndexReader, frames: list[DataFrame]):
    """The candidate-superset broadcast: the union of the frames' doc ids,
    collected in one job and broadcast sorted (decode_blocks' candidate
    contract). A broadcast, not a closure capture: at the 2M-id cap this is
    16 MB shipped once per executor (torrent) instead of once per task of
    every pruned term scan."""
    ids = reduce(lambda a, b: a.unionByName(b), [f.select("doc_id") for f in frames])
    return reader.spark.sparkContext.broadcast(np.unique(_collect_ids_u64(ids)))


@dataclass(frozen=True, eq=False)
class QueryPlan:
    """Every driver-side decision for one query, taken before any posting
    is decoded — the reference's ``SearchContext`` plus the query list
    ``CombinedIndexReader.createQueries`` builds for the Lookup → Dedup →
    Preparation → Ranking pipeline (SURVEY §3.1). ``execute`` turns a plan
    into a DataFrame; ``wand_rewrite`` turns one plan into another.

    ``eq=False``: ``tie_break`` is a Column, whose ``==`` builds an
    expression instead of comparing.
    """

    pq: ParsedQuery
    k: int
    lang: str | None
    # word → (term_id, df) for every query word; the language's df when
    # lang-scoped, like n_corpus
    stats: dict[str, tuple[int, int]]
    n_corpus: float
    # include paths whose terms are all in the lexicon; none = empty result
    live_paths: list[list[str]] = field(default_factory=list)
    live_terms: list[str] = field(default_factory=list)  # + phrase terms
    # each live path's terms plus the (mandatory) need_pos terms, rarest
    # first: element 0 drives the path's candidate generation
    chains: list[list[str]] = field(default_factory=list)
    need_pos: frozenset[str] = frozenset()  # terms decoded with positions
    gate_mask: int = 0  # role flags every matched include term must carry
    prio_ok: bool = False  # the gate lets ranked scans read the prio tier
    # conv:/set: doc ids seeding the driver decode; oversized search sets
    # are semi-joined late instead
    conv_doc_ids: np.ndarray | None = None
    set_post_filters: list[DataFrame] = field(default_factory=list)
    # per-term scan options: the block-max cut (min max_tf_norm) of every
    # ranked scan; the WAND probe's best-N blocks (single-path driver, or
    # every OR term); budget_blocks' first-N blocks (single-path driver)
    cuts: dict[str, float] = field(default_factory=dict)
    top_blocks: int | None = None
    first_blocks: int | None = None
    ranking: RankingParams = RankingParams()
    group_cap: int | None = None
    group_col: str | F.Column = "conv_id"
    round_score_to: int | None = None
    tie_break: F.Column | None = None
    blocklist: DataFrame | None = None
    safe_tier: int = 0
    strategy: str = "plain"  # "plain" | "wand"
    reason: str = ""


def plan_query(
    reader: IndexReader,
    query: str | ParsedQuery,
    k: int = 10,
    ranking: RankingParams | None = None,
    budget_blocks: int | None = None,
    lang: str | None = None,
    group_cap: int | None = None,
    **output,
) -> QueryPlan:
    """Plan one query: every driver-side decision, before any posting is
    decoded. Spark actions here are the lexicon probe (memoized per reader)
    and the ``conv:`` / ``set:`` id resolution. ``output`` carries the
    result-shaping parameters of ``run_query`` (``group_col``,
    ``round_score_to``, ``tie_break``, ``blocklist``, ``safe_tier``)."""
    pq = parse_query(query) if isinstance(query, str) else query
    if lang is None:
        lang = pq.lang  # `lang:xx` query syntax; explicit param wins
    ranking = ranking or RankingParams()
    include_terms = pq.all_include_terms()
    # lang-scoped queries take df/N from that language's lexicon partition
    # and restrict candidates to its documents (per-language index surface)
    stats = reader.term_stats(
        include_terms + pq.exclude + pq.priority + pq.advice, lang=lang
    )
    empty = QueryPlan(
        pq=pq,
        k=k,
        lang=lang,
        stats=stats,
        n_corpus=(
            reader.lang_doc_counts.get(lang, 0.0) if lang is not None else reader.n_docs
        ),
        ranking=ranking,
        group_cap=group_cap,
        first_blocks=budget_blocks,
        **output,
    )

    # any required include term missing from the lexicon on an AND-only
    # query → empty result; OR paths drop the missing alternatives
    paths = pq.include.paths() if pq.include is not None else [[]]
    live_paths = [p for p in paths if all(w in stats for w in p)]
    if not live_paths or not include_terms:
        return replace(empty, reason="empty: no include path is in the lexicon")
    phrase_terms = sorted({w for ph in pq.phrases for w in ph})
    live_terms = sorted({w for p in live_paths for w in p} | set(phrase_terms))
    if any(w not in stats for w in live_terms):
        return replace(empty, reason="empty: a phrase term is not in the lexicon")
    # an advisory term absent from the lexicon can match no document —
    # required-but-unranked semantics make the result empty up front
    if any(w not in stats for w in pq.advice):
        return replace(empty, reason="empty: an advisory term is not in the lexicon")
    need_pos = frozenset(phrase_terms) | (
        frozenset(live_terms) if ranking.positional else frozenset()
    )

    # role gate (in:system ...) → required flag mask per matched term
    gate_mask = 0
    for g in pq.gates:
        if g not in ROLE_FLAG:
            raise ValueError(f"unknown role gate 'in:{g}'")
        gate_mask |= ROLE_FLAG[g]
    # a gate within the priority flags runs entirely on the (much smaller)
    # priority tier: every gate-passing (doc, term) occurrence is flagged,
    # hence present there (two-tier head, CombinedIndexReader.java:152-176)
    prio_ok = (
        gate_mask != 0
        and (gate_mask & ~PRIORITY_FLAGS) == 0
        and reader.prio is not None
    )

    # conv: restrictions (F5 doc-range analogue): resolve conversation ids
    # to doc ids via the forward index (tiny driver probe) and seed the
    # driver term's decode with them — blocks outside the doc-id windows
    # are skipped undecoded (ReverseIndexRetainDocumentRangeFilter)
    conv_doc_ids: np.ndarray | None = None
    if pq.convs:
        convs = reader.doc_stats.filter(F.col("conv_id").isin(pq.convs))
        conv_doc_ids = np.sort(_collect_ids_u64(convs.select("doc_id")))
        if conv_doc_ids.size == 0:
            return replace(empty, reason="empty: no conv: id is indexed")

    # set:<name> search sets (RankingSearchSet membership): members resolve
    # to doc ids through the forward index and seed the decode like conv:
    # ranges (the reference holds the set in RAM, so the driver-side id
    # array honors the same size contract); a missing/empty set imposes no
    # constraint (contains() quirk). Oversized sets (beyond the candidate
    # cap) degrade to a distributed semi-join after the doc-stats join
    # instead of a driver collect.
    set_post_filters: list[DataFrame] = []
    for set_name in pq.sets:
        sdf = reader.search_set(set_name)
        if sdf is None:
            continue
        members = reader.doc_stats.join(
            F.broadcast(sdf), "conv_id", "left_semi"
        ).select("doc_id")
        # ONE job does both the size probe and the id fetch (a separate
        # count() would re-run the whole doc_stats semi-join): collect
        # cap+1 ids; more than cap rows back = oversized, degrade to the
        # distributed post-filter
        capped = _collect_ids_u64(members.limit(MAX_DRIVER_CANDIDATES + 1))
        if capped.size > MAX_DRIVER_CANDIDATES:
            set_post_filters.append(members)
            continue
        ids = np.sort(capped)
        conv_doc_ids = (
            ids if conv_doc_ids is None else np.intersect1d(conv_doc_ids, ids)
        )
        if conv_doc_ids.size == 0:
            return replace(
                empty, reason=f"empty: set:{set_name} leaves no indexed doc"
            )

    strategy, reason = "plain", f"qs strategy {pq.strategy}"
    if pq.strategy == "wand":
        # a block-max cut drops a term's score for the cut blocks' docs, so
        # WAND serves only scores that are sums of per-term BM25 partials
        blockers = [why for hit, why in (
            (pq.phrases, "a phrase constraint"),
            (pq.priority, "a ?priority term"),
            (group_cap is not None, "group_cap"),
            (ranking.positional or ranking.flag_score or ranking.penalties
             or ranking.weighted_counts or ranking.temporal_bias is not None,
             "ranking beyond BM25"),
        ) if hit]
        strategy = "plain" if blockers else "wand"
        reason = f"wand ineligible: {blockers[0]}" if blockers else reason
    return replace(
        empty,
        live_paths=live_paths,
        live_terms=live_terms,
        chains=[
            sorted(set(p) | need_pos, key=lambda w: (stats[w][1], w))
            for p in live_paths
        ],
        need_pos=need_pos,
        gate_mask=gate_mask,
        prio_ok=prio_ok,
        conv_doc_ids=conv_doc_ids,
        set_post_filters=set_post_filters,
        strategy=strategy,
        reason=reason,
    )


def execute(reader: IndexReader, plan: QueryPlan) -> DataFrame:
    """Run a plan: candidate generation through top-k. Returns (doc_id,
    conv_id, doc_len, n_turns, score) ascending by the reference's
    normalized score (lower = better). Spark actions here are the
    candidate-superset collects and, for temporal bias, the year-range
    probe; the caller's action runs the rest."""
    if not plan.live_paths:
        return (
            reader.doc_stats.select("doc_id", "conv_id", "doc_len", "n_turns")
            .withColumn("score", F.lit(0.0))
            .limit(0)
        )
    pq, stats, lang, need_pos = plan.pq, plan.stats, plan.lang, plan.need_pos
    ranking = plan.ranking
    weighted = ranking.weighted_counts
    drivers = sorted({c[0] for c in plan.chains})

    # the candidate-superset broadcast, once one is made — it prunes the
    # further include scans, and the exclusion / advice / priority decodes
    # (those joins only care about docs already in the candidate set, so a
    # head-term ?priority word must not scan its full posting list)
    cand_bc = None

    def superset():
        """The candidate-superset broadcast, built on first need: a doc
        matching path p contains p's driver, so the drivers' doc ids hold
        every result. None while the drivers are too big to collect."""
        nonlocal cand_bc
        if cand_bc is None and (
            sum(stats[w][1] for w in drivers) <= MAX_DRIVER_CANDIDATES
        ):
            seeds = [scan(w, plan.conv_doc_ids, use="seed") for w in drivers]
            cand_bc = _broadcast_ids(reader, seeds)
        return cand_bc

    def scan(word, candidates=None, use="rank", top_blocks=None, first_blocks=None):
        """The one per-term postings decode. ``use`` is ``rank`` for a
        scored include term (the columns scoring needs, and the plan's
        block-max cut on every leg, SkipListReader.java:87), ``seed`` for a
        path driver's doc ids, or ``filter`` for an exclusion / advice /
        priority term: full tier, since every occurrence counts, pruned to
        the candidate superset when the term is big enough for that to pay
        (tryRejectData's walk is likewise driven by the candidate buffer,
        SkipListReader.java:248). Include scans read the priority tier
        under a priority-flag gate unless their positions are needed."""
        if use == "filter":
            prune = superset() if stats[word][1] > PRUNE_DF_THRESHOLD else cand_bc
            return reader.decode_term(stats[word][0], candidates=prune, lang=lang)
        ranked = use == "rank"
        return reader.decode_term(
            stats[word][0],
            candidates=candidates,
            with_positions=ranked and word in need_pos,
            with_wtf=ranked and weighted,
            min_tf_norm=plan.cuts.get(word) if ranked else None,
            top_blocks=top_blocks,
            first_blocks=first_blocks,
            tier="prio" if (plan.prio_ok and word not in need_pos) else "full",
            lang=lang,
        )

    def carried(word: str) -> list[tuple[str, str]]:
        """(decoded column, per-term alias prefix) pairs scoring reads."""
        cols = [("tf", "tf")]
        if weighted:
            cols.append(("wtf_q4", "wtf"))
        if plan.gate_mask or ranking.flag_score:
            cols.append(("flags", "flags"))
        if word in need_pos:
            cols.append(("positions", "pos"))
        return cols

    def term_df(word: str, candidates, is_driver: bool = False) -> DataFrame:
        out = scan(
            word,
            candidates,
            top_blocks=plan.top_blocks if is_driver else None,
            first_blocks=plan.first_blocks if is_driver else None,
        )
        return out.select(
            F.col("doc_id"),
            *[F.col(c).alias(f"{p}_{_safe(word)}") for c, p in carried(word)],
        )

    # ---- candidate generation: rarest term drives, per OR-path union ----
    if len(plan.live_paths) == 1:
        # the common single-path (pure AND) case: one retain chain
        ordered = plan.chains[0]
        cand = term_df(ordered[0], plan.conv_doc_ids, is_driver=True)
        # ship the driver's doc ids to the other terms' decode kernels only
        # when those terms' posting lists are big enough that block skipping
        # pays for the extra collect job (at small df a plain join is
        # cheaper; at head-term scale the pruning is the whole ballgame)
        if (
            len(ordered) > 1
            and stats[ordered[0]][1] <= MAX_DRIVER_CANDIDATES
            and sum(stats[w][1] for w in ordered[1:]) > PRUNE_DF_THRESHOLD
        ):
            cand_bc = _broadcast_ids(reader, [cand])
        for word in ordered[1:]:
            cand = cand.join(term_df(word, cand_bc), "doc_id", "inner")
    else:
        # multi-path (OR): decode each DISTINCT term exactly once — a term
        # shared by several paths gets one postings scan, not one per path —
        # and fold everything through a single union + pivot aggregation
        # (one shuffle on doc_id replaces the per-path join chains plus the
        # old union+groupBy(max) dedup); the candidate superset prunes the
        # head terms' block scans exactly as the single-path chain does
        rest_df = sum(stats[w][1] for w in plan.live_terms) - sum(
            stats[w][1] for w in drivers
        )
        if rest_df > PRUNE_DF_THRESHOLD:
            superset()
        if cand_bc is None and plan.conv_doc_ids is not None:
            # the conv:/set: ids are a candidate superset too
            cand_bc = reader.spark.sparkContext.broadcast(plan.conv_doc_ids)
        frames = []
        for i, w in enumerate(plan.live_terms):
            tdf = scan(w, cand_bc, top_blocks=plan.top_blocks)
            sel = [
                F.col("doc_id"),
                F.lit(i).alias("ti"),
                F.col("tf"),
                (F.col("wtf_q4") if weighted else F.lit(None).cast("int")).alias(
                    "wtf_q4"
                ),
                F.col("flags"),
                (
                    F.col("positions")
                    if w in need_pos
                    else F.lit(None).cast("array<int>")
                ).alias("positions"),
            ]
            frames.append(tdf.select(*sel))
        allt = reduce(lambda a, b: a.unionByName(b), frames)
        aggs = [
            F.max(F.when(F.col("ti") == i, F.col(c))).alias(f"{p}_{_safe(w)}")
            for i, w in enumerate(plan.live_terms)
            for c, p in carried(w)
        ]
        cand = allt.groupBy("doc_id").agg(*aggs)
        # retain docs where at least one path matched in full (mirrors the
        # old per-path inner-join chains: need_pos terms are mandatory)
        def _path_present(chain: list[str]) -> F.Column:
            return reduce(
                lambda a, w: a & F.col(f"tf_{_safe(w)}").isNotNull(),
                sorted(chain),
                F.lit(True),
            )

        cand = cand.filter(
            reduce(lambda a, c: a | _path_present(c), plan.chains, F.lit(False))
        )

    # ---- role gate (F8): every matched include term must carry the flags ----
    if plan.gate_mask:
        for w in plan.live_terms:
            fc = F.col(f"flags_{_safe(w)}")
            cand = cand.filter(
                fc.isNull()
                | (fc.bitwiseAND(F.lit(plan.gate_mask)) == F.lit(plan.gate_mask))
            )

    # ---- exclusion: anti-join (ReverseIndexRejectFilter) ----
    for word in pq.exclude:
        if word in stats:
            cand = cand.join(
                scan(word, use="filter").select("doc_id"), "doc_id", "left_anti"
            )

    # ---- advisory terms: semi-join retain (AdviceTerm — required to
    # match, excluded from ranking; QueryParser.java:25, the advice terms
    # become retain filters but never enter the compiled score)
    for word in pq.advice:
        cand = cand.join(
            scan(word, use="filter").select("doc_id"), "doc_id", "left_semi"
        )

    # ---- phrase constraints ----
    for ph in pq.phrases:
        cand = cand.filter(
            _adjacent_count([F.col(f"pos_{_safe(w)}") for w in ph]) > 0
        )

    # ---- doc metadata join + spec limits (ParamMatchingQueryFilter) ----
    cand = cand.join(reader.doc_stats, "doc_id")
    for members in plan.set_post_filters:
        # corpus-scale search set: plain (shuffling) semi-join — correct at
        # any set size; the common dimension-sized case was already folded
        # into the decode seed by the plan
        cand = cand.join(members, "doc_id", "left_semi")
    if reader.tombstones is not None:
        # deleted docs are masked in BOTH WAND phases (each executes
        # through here), so the probe's θ never counts a tombstoned doc —
        # the cut stays sound after deletions
        cand = cand.join(F.broadcast(reader.tombstones), "doc_id", "left_anti")
    if plan.blocklist is not None and plan.safe_tier >= 1:
        # tiered safety blocklist (NsfwDomainFilter.isBlocked, nsfw-filter/
        # .../domain/NsfwDomainFilter.java:64-74): filter level t blocks
        # every list row with tier <= t; 0 disables. Applied at the same
        # point as tombstones so both WAND phases mask identically and the
        # probe's θ never counts a blocked doc. The list is a vertex-sized
        # dim (the reference syncs ~10^4 rows from NSFW_DOMAINS hourly) —
        # broadcast anti-join, no shuffle of the candidate side.
        blocked = plan.blocklist.where(
            F.col("tier") <= F.lit(plan.safe_tier)
        ).select("doc_id")
        cand = cand.join(F.broadcast(blocked), "doc_id", "left_anti")
    if lang is not None:
        cand = cand.filter(F.col("lang") == lang)
    if pq.convs_exclude:
        cand = cand.filter(~F.col("conv_id").isin(pq.convs_exclude))
    op_map = {">": "__gt__", "<": "__lt__", "=": "__eq__", ">=": "__ge__", "<=": "__le__"}
    for lim in pq.limits:
        # 'rank' filters on the quality bucket in the doc id's high bits —
        # the reference's RankTerm specification limit over the domain rank
        # (QueryFactory.java:151; ParamMatchingQueryFilter)
        col = {
            "turns": F.col("n_turns"),
            "len": F.col("doc_len"),
            "rank": F.shiftrightunsigned(F.col("doc_id"), 57),
            # YearTerm specification limit (QueryParser.java:229-231) over
            # the year stamped into doc stats at build time
            "year": F.col("year"),
        }[lim.field]
        cand = cand.filter(getattr(col, op_map[lim.op])(F.lit(lim.value)))

    # ---- scoring: per-term partials, max-over-paths of sum-along-path ----
    def partial_col(word: str):
        df_w = float(stats[word][1])
        if weighted:
            c = F.coalesce(
                F.col(f"wtf_{_safe(word)}").cast("double") / 4.0, F.lit(0.0)
            )
        else:
            c = F.coalesce(F.col(f"tf_{_safe(word)}").cast("double"), F.lit(0.0))
        return bm25_partial(
            c,
            F.col("doc_len").cast("double"),
            F.lit(df_w),
            plan.n_corpus,
        )

    def flag_partial_col(word: str):
        df_w = float(stats[word][1])
        return flags_partial(
            F.coalesce(F.col(f"flags_{_safe(word)}"), F.lit(0)),
            F.lit(df_w),
            plan.n_corpus,
        )

    path_sums = []
    for p in plan.live_paths:
        terms_in_path = sorted(set(p))
        s = reduce(
            lambda a, w: a + partial_col(w), terms_in_path, F.lit(0.0)
        )
        if ranking.flag_score:
            # score_bFlags: the same max-over-paths aggregate over the
            # flag-derived pseudo-counts, at half the BM25 weight
            # (IndexResultRankingService.java:139-141)
            s = s + FLAG_BM25_WEIGHT * reduce(
                lambda a, w: a + flag_partial_col(w), terms_in_path, F.lit(0.0)
            )
        # a path only counts if every term matched (tf present)
        present = reduce(
            lambda a, w: a & F.col(f"tf_{_safe(w)}").isNotNull(), terms_in_path, F.lit(True)
        )
        path_sums.append(F.when(present, s).otherwise(F.lit(None)))
    raw = path_sums[0] if len(path_sums) == 1 else F.greatest(*path_sums)

    # ---- positional bonuses (first-position, verbatim, proximity — §5) ----
    if ranking.positional:

        def adjacent(words: list[str]) -> F.Column:
            """In-order occurrences of ``words``; 0 unless all are present."""
            cols = [F.col(f"pos_{_safe(w)}") for w in words]
            present = reduce(lambda a, c: a & c.isNotNull(), cols, F.lit(True))
            return F.when(present, _adjacent_count(cols)).otherwise(F.lit(0))

        # the "full group" = include terms in query appearance order
        ordered = [w for w in pq.ordered_include_terms() if w in stats]
        pos_of = {w: F.col(f"pos_{_safe(w)}") for w in ordered}
        first_pos = F.greatest(
            *[
                F.coalesce(F.element_at(pos_of[w], 1), F.lit(1))
                for w in ordered
            ],
            F.lit(1),
        )
        bonuses = first_position_bonus(first_pos)
        if len(ordered) >= 2:
            bonuses = bonuses + verbatim_bonus(adjacent(ordered), len(ordered))
        if len(ordered) > 2:
            # NB: a two-arg lambda would be treated by F.transform as
            # (element, index) — build single-arg closures per term offset
            def _shift(i: int):
                return lambda p: p - F.lit(i)

            adjusted = F.array(
                *[
                    F.transform(pos_of[w], _shift(i))
                    for i, w in enumerate(ordered)
                ]
            )
            bonuses = bonuses + proximity_bonus(
                _min_spread_udf(adjusted), len(ordered)
            )
        # optional phrase-constraint groups (expansion segments): in-order
        # matches of the group's ORIGINAL words boost the score, scaled by
        # the group's share of the full query (reference optional-group
        # verbatim scoring; the mandatory groups are pq.phrases above)
        full_size = max(len(ordered), 1)
        for grp in pq.opt_phrases:
            # a group is scoreable only when EVERY word has decoded
            # positions (pos_<w> columns exist for need_pos terms only —
            # a lexicon word on no live path has no column and would make
            # the whole query fail to resolve)
            if (
                len(grp) < 2
                or not set(grp) <= need_pos
                or any(w not in stats for w in grp)
            ):
                continue
            bonuses = bonuses + optional_group_bonus(
                adjacent(grp), len(grp), full_size
            )
        raw = raw + bonuses

    # priority terms: score bonus when present (reference multiplies by
    # exp(priorityTermAdjustment/5); our transcript analogue gives each
    # matched priority term a 1/5 exponent step)
    prio_present = [w for w in pq.priority if w in stats]
    if prio_present:
        for w in prio_present:
            cand = cand.join(
                scan(w, use="filter").select(
                    "doc_id", F.lit(1).alias(f"prio_{_safe(w)}")
                ),
                "doc_id",
                "left",
            )
        n_prio = reduce(
            lambda a, w: a
            + F.when(F.col(f"prio_{_safe(w)}").isNotNull(), 1.0).otherwise(0.0),
            prio_present,
            F.lit(0.0),
        )
        raw = raw * F.exp(n_prio / 5.0)

    t_bias = ranking.temporal_bias
    if ranking.penalties and t_bias is None:
        # rank bucket lives in the doc id's high bits (ids.py layout)
        rank_col = F.shiftrightunsigned(F.col("doc_id"), 57)
        pen = document_penalty(F.col("doc_len").cast("double"), rank_col)
        scored = cand.withColumn("score", normalize(raw, pen))
    elif t_bias is not None:
        # the temporal term joins the same document-bonus sum the other
        # penalties live in (calculateDocumentBonus, then -min(0, bonus))
        if t_bias not in ("recent", "old"):
            raise ValueError(f"unknown temporal_bias {t_bias!r}")
        lo, hi = reader.year_range
        anchor = hi if t_bias == "recent" else lo
        bonus = temporal_bias(
            F.col("year"), anchor, ranking.temporal_bias_weight
        )
        if ranking.penalties:
            rank_col = F.shiftrightunsigned(F.col("doc_id"), 57)
            bonus = (
                document_bonus(F.col("doc_len").cast("double"), rank_col)
                + bonus
            )
        scored = cand.withColumn(
            "score", normalize(raw, -F.least(F.lit(0.0), bonus))
        )
    else:
        scored = cand.withColumn("score", normalize(raw))
    if plan.round_score_to is not None:
        scored = scored.withColumn(
            "score", F.round(F.col("score"), plan.round_score_to)
        )

    # ---- per-group cap + global top-k (ascending: lower = better) ----
    tb = F.col("doc_id") if plan.tie_break is None else plan.tie_break
    if plan.group_cap is not None:
        w = Window.partitionBy(plan.group_col).orderBy(F.col("score").asc(), tb)
        scored = scored.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= plan.group_cap
        ).drop("_rn")
    return (
        scored.orderBy(F.col("score").asc(), tb)
        .limit(plan.k)
        .select("doc_id", "conv_id", "doc_len", "n_turns", "score")
    )


def wand_rewrite(reader: IndexReader, plan: QueryPlan) -> QueryPlan:
    """Block-max WAND as a plan rewrite (the north-star's block-max WAND,
    re-expressed for a batch engine). The rewritten plan returns EXACTLY
    the input plan's results:

    - **probe**: execute the plan with each term's postings restricted to
      its highest-``max_tf_norm`` blocks (``top_blocks``), yielding k valid
      result scores. The kth of them is a *lower bound* θ on the true kth
      best raw score (it is the kth best of a subset of the true candidate
      set, with every exclusion/limit filter applied).
    - **cut**: return the plan with per-term ``cuts``; executing it pushes
      ``max_tf_norm >= cut`` to each postings parquet scan — any block
      whose score upper bound cannot reach θ is skipped via row-group
      column stats, undecoded.

    Eligible shapes (``plan_query`` decides): ANY include tree — single
    term, pure OR, pure AND, and mixed AND-of-OR (``( a | b ) c``, the
    expansion engine's default output shape). Exclusions, spec limits and
    lang scoping are fine — both phases apply them identically; lang-scoped
    idf/θ use the language's own stats (as the scorer does), while the
    per-term upper bounds stay the GLOBAL block maxima, an upper bound for
    any language slice, so the cut is merely conservative.

    The general per-term cut (every enumerated OR-path's retain chain gets
    block-max skipping in the reference, ``CombinedIndexReader.java:86-203``
    + ``SkipListReader.java:87``): with ``UB_t = idf_t * global max
    tf-norm`` (term_bounds table) and ``UB(p) = Σ_{t∈p} UB_t``, a block of
    term t can hold a top-k doc only if SOME path p ∋ t could reach θ
    through it::

        idf_t * block_max_tf_norm >= θ - max_{p ∋ t} (UB(p) - UB_t)

    so the scan cut is ``max_tf_norm >= (θ - max_residual_t) / idf_t``.
    Soundness: if a doc's block is pruned on term t, then EVERY path
    containing t sums below θ for that doc; a doc whose true best path
    reaches θ therefore keeps that path un-pruned and scores exactly, and
    the multi-path pipeline's max-over-surviving-paths is its true score.
    Pure OR reduces to ``θ / idf_t`` (residual 0), pure AND to the single
    path's ``θ - Σ_{u≠t} UB_u``.

    When the plan rounds scores (``round_score_to``), θ is inverted from
    the kth score widened by half a rounding quantum — a doc just below
    the unrounded kth can round into a tie and win the deterministic
    tie-break, so the cut must keep it.

    A plan whose strategy is not ``wand`` passes through unchanged; one
    the cut cannot serve comes back with ``strategy="plain"`` and the
    reason. At 10^12-turn scale this is the difference between scanning a
    head term's full posting list and touching a handful of blocks.
    """
    if plan.strategy != "wand":
        return plan

    def plain(reason: str) -> QueryPlan:
        return replace(plan, strategy="plain", reason=f"wand fallback: {reason}")

    stats, n_corpus, k, live = plan.stats, plan.n_corpus, plan.k, plan.live_terms
    if n_corpus <= 0:
        return plain("no documents to take idf from")
    idfs = {
        w: math.log(1.0 + (n_corpus - stats[w][1] + 0.5) / (stats[w][1] + 0.5))
        for w in live
    }
    if any(v <= 0 for v in idfs.values()):
        return plain("a term's idf is not positive")
    # probe — threshold from each term's best blocks, budgeted from the
    # index's ACTUAL block geometry (an index built with small blocks needs
    # proportionally more of them to cover k candidates)
    n_blocks = max(1, -(-2 * k // reader.block_docs))
    probe = execute(
        reader, replace(plan, top_blocks=n_blocks, round_score_to=None)
    ).collect()
    if not probe or len(probe) < k:
        return plain(f"the probe found {len(probe)} < k={k} results")
    kth_score = probe[-1]["score"]
    round_to = plan.round_score_to
    if round_to is not None:
        # widen to the worst score that could still round-tie with the kth
        kth_score = round(kth_score, round_to) + 0.5 * 10.0 ** (-round_to)
    # relative epsilon guards the float round-trip through normalize() —
    # pruning may only ever be conservative
    theta_raw = (501.0 / (kth_score * kth_score) - 1.0) * (1.0 - 1e-9)
    if all(len(set(p)) == 1 for p in plan.live_paths):
        # pure OR, including a single term (residual would equal θ)
        cuts = {w: theta_raw / idfs[w] for w in live}
    else:
        bounds = reader.term_bounds([stats[w][0] for w in live])
        if any(stats[w][0] not in bounds for w in live):
            return plain("a term has no block-max bound")
        ub = {w: idfs[w] * bounds[stats[w][0]] for w in live}
        ub_path = [sum(ub[w] for w in set(p)) for p in plan.live_paths]
        cuts = {}
        for w in live:
            # the most forgiving path containing w sets its residual
            max_resid = max(
                ub_p - ub[w]
                for p, ub_p in zip(plan.live_paths, ub_path)
                if w in p
            )
            residual = theta_raw - max_resid
            if residual > 0:
                cuts[w] = residual / idfs[w]
        if not cuts:
            return plain("no term's residual reaches θ")
    return replace(plan, cuts=cuts, reason=f"block-max cuts at θ={theta_raw:.6g}")


def run_query(
    reader: IndexReader,
    query: str | ParsedQuery,
    k: int = 10,
    group_cap: int | None = None,
    group_col: str = "conv_id",
    round_score_to: int | None = None,
    tie_break: F.Column | None = None,
    ranking: RankingParams | None = None,
    budget_blocks: int | None = None,
    lang: str | None = None,
    blocklist: DataFrame | None = None,
    safe_tier: int = 0,
) -> DataFrame:
    """Top-k BM25 search: ``plan_query`` → ``wand_rewrite`` → ``execute``.
    Returns (doc_id, conv_id, doc_len, n_turns, score) ascending by the
    reference's normalized score (lower = better).

    The query's ``qs=`` execution-strategy override picks the strategy
    (``QueryParser.java:238`` QsTerm → ``QueryFactory.java:246-258``
    parseQueryStrategy; the index applies a non-AUTO strategy via
    ``setQueryStrategy``, QueryFactory.java:214). Documented divergence:
    the reference's SENTENCE/TOPIC pick a positional-vs-topic scan; our two
    strategies are the plain pipeline and block-max WAND, which return
    EXACT-equal results:

    - ``qs=sentence`` / ``qs=plain`` → plain
    - ``qs=topic`` / ``qs=wand`` → block-max WAND (plain for shapes WAND
      can't prune, same results)
    - ``qs=rf_<role>`` → folded into the role gate by the parser
      (REQUIRE_FIELD_* analogue) — strategy stays AUTO
    - anything else → AUTO = plain (reference default)

    ``tie_break``: optional column expression used instead of ``doc_id`` to
    break score ties deterministically (e.g. an external id recoverable from
    ``conv_id`` so results are comparable with an engine that does not know
    our hash-based doc ids).

    ``budget_blocks``: opt-in approximate mode — only the driver term's
    first N blocks in doc-id order are scanned. With rank-stamped ids this
    is the reference's budgeted scan (IndexSearchBudget): truncation is
    sound because docID order is quality order, so the scanned prefix holds
    the best documents.
    """
    plan = plan_query(
        reader, query, k=k, ranking=ranking, budget_blocks=budget_blocks,
        lang=lang, group_cap=group_cap, group_col=group_col,
        round_score_to=round_score_to, tie_break=tie_break,
        blocklist=blocklist, safe_tier=safe_tier,
    )
    return execute(reader, wand_rewrite(reader, plan))


# run_query follows the query's ``qs=`` strategy itself; callers that
# dispatch on it import this name
run_search = run_query


def keyword_positions(
    reader: IndexReader, results: DataFrame, terms: list[str]
) -> DataFrame:
    """Per-result keyword report: for each top-k result and query term,
    the term's first position and tf in that document — the reference
    decorates every search result with its keywords' scores/positions
    (DecoratedSearchResultItem.keywordScores, built from the same postings
    values the ranker consumed,
    code/index/java/nu/marginalia/index/results/IndexResultScoreCalculator
    .java keyword extraction).

    ``results`` is a run_query output (carries ``doc_id`` and
    ``conv_id``). The top-k set is tiny, so its ``(doc_id, conv_id)``
    pairs collect to the driver in one job and prune each term's decode
    to the candidate blocks (the J5 candidate→values lookup); absent
    (doc, term) combinations produce no row, matching the reference's
    absent-keyword mask.
    """
    hits = [
        (r["doc_id"], r["conv_id"])
        for r in results.select("doc_id", "conv_id").collect()
    ]
    ds = reader.spark.createDataFrame(hits, "doc_id long, conv_id string")
    # decode_blocks' candidate contract: sorted uint64 (rank-stamped ids
    # can exceed int63, and the membership mask binary-searches)
    ids = np.sort(
        np.array([d for d, _ in hits], dtype=np.int64).astype(np.uint64)
    )
    stats = reader.term_stats(terms)
    outs = []
    for w in sorted(set(terms)):
        if w not in stats or not len(ids):
            continue
        dec = reader.decode_term(stats[w][0], candidates=ids, with_positions=True)
        outs.append(
            dec.select(
                "doc_id",
                F.lit(w).alias("term"),
                # runs are encoded ascending, so element 1 IS the first hit
                F.element_at("positions", 1).cast("long").alias("first_pos"),
                "tf",
            )
        )
    if not outs:
        return reader.spark.createDataFrame(
            [], "conv_id string, term string, first_pos long, tf long"
        )
    out = reduce(lambda a, b: a.unionByName(b), outs)
    return out.join(F.broadcast(ds), "doc_id").select(
        "conv_id", "term", "first_pos", "tf"
    )


def explain_scores(
    reader: IndexReader,
    query: str | ParsedQuery,
    k: int = 10,
    round_to: int = 6,
    **kw,
) -> DataFrame:
    """Per-result ranking-factor report — the reference's
    ``debugRankingFactors`` surface (``IndexResultRankingService`` records
    ``termScore.bm25`` per term plus the document bonus components;
    served through ``QueryDebugInterface``): the top-k results with one
    ``bm25_<term>`` column per include term (that term's BM25 partial in
    that document, rounded) alongside the final score.

    The top-k set is tiny, so the query runs once: its rows collect to
    the driver, their ids prune each term's decode to candidate blocks
    (same J5 lookup as ``keyword_positions``), and the report is built
    over the collected rows as a local relation. An absent (doc, term)
    pair explains as 0.0, matching a term that contributed nothing. Term
    statistics, language and N come from the query's own plan.
    """
    plan = wand_rewrite(reader, plan_query(reader, query, k=k, **kw))
    res = execute(reader, plan)
    rows = res.collect()
    stats, lang = plan.stats, plan.lang
    ids = np.sort(
        np.array([r["doc_id"] for r in rows], dtype=np.int64).astype(np.uint64)
    )
    out = reader.spark.createDataFrame(rows, res.schema)
    for w in sorted(set(plan.pq.all_include_terms())):
        # readable factor column for plain words, hash-safe otherwise
        col = f"bm25_{w}" if w.isalnum() else f"bm25_{_safe(w)}"
        if w not in stats or not len(ids):
            out = out.withColumn(col, F.lit(0.0))
            continue
        dec = reader.decode_term(
            stats[w][0], candidates=ids, lang=lang
        ).select("doc_id", F.col("tf").alias(f"_tf_{_safe(w)}"))
        out = out.join(F.broadcast(dec), "doc_id", "left")
        partial = bm25_partial(
            F.coalesce(F.col(f"_tf_{_safe(w)}").cast("double"), F.lit(0.0)),
            F.col("doc_len").cast("double"),
            F.lit(float(stats[w][1])),
            plan.n_corpus,
        )
        out = out.withColumn(
            col,
            F.round(
                F.when(F.col(f"_tf_{_safe(w)}").isNull(), 0.0).otherwise(
                    partial
                ),
                round_to,
            ),
        ).drop(f"_tf_{_safe(w)}")
    return out


def decorate_results(
    results: DataFrame, transcripts: DataFrame, n_turns: int = 1
) -> DataFrame:
    """Join top-k results back to the source transcripts for display — the
    reference's document-DB decoration join (docId → url/title/description,
    ``IndexQueryExecution.java:189-207``), carrying the same metadata its
    ``DecoratedSearchResultItem`` does: description (here: the first
    ``n_turns`` turns' text + opening role), ``pubYear`` (year of the first
    turn, the build's doc-year semantics), ``dataHash`` (a 60-bit content
    hash over the full conversation text), and ``wordsTotal`` (the indexed
    doc length, already on the result row).

    The (tiny) result set is broadcast into the transcript scan, so the
    big table is touched once with a semi-join — never the other way
    round; all decoration fields come out of ONE aggregation over the
    matched conversations.
    """
    hits = transcripts.join(
        F.broadcast(results.select("conv_id")), "conv_id", "left_semi"
    )
    full_sorted = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    snippets = hits.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("turn_idx") < n_turns,
                            F.struct("turn_idx", "text"),
                        )
                    )
                ),
                lambda s: s["text"],
            ),
            " ",
        ).alias("snippet"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.year(F.min("ts")).alias("pub_year"),
        F.conv(
            F.substring(
                F.md5(
                    F.array_join(
                        F.transform(full_sorted, lambda s: s["text"]), "\n"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("data_hash"),
    )
    out = results.join(F.broadcast(snippets), "conv_id", "left")
    if "doc_len" in results.columns:
        out = out.withColumn("words_total", F.col("doc_len").cast("long"))
    return out


def run_query_wand(
    reader: IndexReader,
    query: str | ParsedQuery,
    k: int = 10,
    **kw,
) -> DataFrame:
    """``run_query`` with the ``qs=wand`` strategy forced: two-phase
    block-max top-k (``wand_rewrite``), EXACT same results as the plain
    pipeline; shapes WAND can't prune run plain."""
    pq = parse_query(query) if isinstance(query, str) else query
    return run_query(reader, replace(pq, strategy="wand"), k=k, **kw)


def run_query_page(
    reader: IndexReader,
    query: str | ParsedQuery,
    page: int = 1,
    page_size: int = 10,
    total_limit: int = 100,
    **kw,
) -> DataFrame:
    """Result pagination — the reference's ``IndexClient.executeQueries``
    slice (`code/index/api/java/nu/marginalia/index/api/IndexClient.java:
    167-175`): gather the ranked top ``total_limit`` (the query's
    ``resultsTotal`` budget), then return rows ``[(page−1)·page_size,
    …+page_size)`` of it; a page past the end is empty, page ≤ 1 starts
    at 0 (the reference's ``Math.max(0, …)``).

    Spark shape: the gather is the usual ``TakeOrderedAndProject``; the
    slice is ``GlobalLimit``+``Offset`` over the already-``total_limit``-
    sized relation — no extra shuffle, and deeper pages reuse the same
    plan (a ``qs=wand`` query lets block-max pruning serve the gather)."""
    res = run_query(reader, query, k=total_limit, **kw)
    start = max(0, (page - 1) * page_size)
    return res.offset(start).limit(page_size)
