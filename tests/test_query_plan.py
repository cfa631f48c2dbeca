"""One executor: every query is ``plan_query`` (the driver-side decisions)
then ``execute``; block-max WAND is ``wand_rewrite``, a plan-to-plan
rewrite, not a second entry point.

Three contracts are pinned here:

- the Spark jobs each benchmark query shape runs on a warm reader (at
  small scale latency tracks job count, so a refactor must not add any);
- the WAND rewrite keeps ineligible shapes on the plain pipeline with a
  reason, cuts eligible ones per term, and falls back when its probe
  cannot fill k;
- a term scan lists only the postings files whose footer term_id range
  covers the term, and decodes what a whole-table scan decodes.
"""

import os
from dataclasses import replace
from functools import reduce
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marginaliasearch_spark.operators import query_exec
from marginaliasearch_spark.functions.blocks import decode_blocks, decoded_schema
from marginaliasearch_spark.operators.index_build import (
    IndexPaths,
    build_index,
    merge_indexes,
)
from marginaliasearch_spark.operators.query_exec import (
    IndexReader,
    RankingParams,
    execute,
    explain_scores,
    keyword_positions,
    plan_query,
    run_query_wand,
    run_search,
    wand_rewrite,
)
from marginaliasearch_spark.sources.transcripts import bm25_corpus


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planidx"))
    # 16-doc blocks so head terms span many blocks and cuts have work to do
    build_index(spark, bm25_corpus(spark, 200), root, n_buckets=1, block_docs=16)
    return IndexReader(spark, IndexPaths(root))


def _pairs(rows):
    return [(r["conv_id"], round(r["score"], 9)) for r in rows]


# the eight shapes of perfbench/inputs.py over bm25_corpus words: a, b are
# rarer leading terms, h1 and h2 more common partners
A, B, H1, H2 = "word30", "word40", "word00", "word10"
SHAPES = {
    "single": A,
    "and": f"{A} {H1}",
    "exclude": f"{A} {H1} -{H2}",
    "or": f"( {A} | {B} ) {H1}",
    "phrase": f'"{A} {H1}"',
    "proximity": f"{A} {H1} {H2}",
    "wand_single": f"{A} qs=wand",
    "wand_or": f"( {A} | {B} ) {H1} qs=wand",
}

# Spark jobs of each shape's second run (lexicon and bounds probes memoized).
# At small scale every job is latency, so a change here must be deliberate.
# PRUNE_DF_THRESHOLD=0 engages every candidate-superset collect.
JOBS = {
    query_exec.PRUNE_DF_THRESHOLD: {
        "single": 2, "and": 3, "exclude": 4, "or": 3,
        "phrase": 3, "proximity": 4, "wand_single": 4, "wand_or": 5,
    },
    0: {
        "single": 2, "and": 4, "exclude": 5, "or": 4,
        "phrase": 4, "proximity": 5, "wand_single": 4, "wand_or": 7,
    },
}


@pytest.mark.parametrize("threshold", sorted(JOBS))
def test_jobs_per_shape_on_a_warm_reader(spark, reader, monkeypatch, threshold):
    monkeypatch.setattr(query_exec, "PRUNE_DF_THRESHOLD", threshold)
    sc = spark.sparkContext
    got = {}
    try:
        for shape, query in SHAPES.items():
            kw = {"k": 20, "round_score_to": 6}
            if shape == "proximity":
                kw["ranking"] = RankingParams(positional=True)
            for run in range(2):
                group = f"query-plan-jobs-{threshold}-{shape}-{run}"
                sc.setJobGroup(group, group)
                run_search(reader, query, **kw).collect()
            got[shape] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == JOBS[threshold]


# Spark jobs of the per-result reports on a warm reader: the query runs
# once and its top-k is collected, then the report is built over it.
REPORTS = {
    "explain_scores": (6, lambda r: explain_scores(r, SHAPES["and"], k=10)),
    "keyword_positions": (
        5,
        lambda r: keyword_positions(r, run_search(r, SHAPES["and"], k=10), [A, B, H1]),
    ),
}


@pytest.mark.parametrize("report", sorted(REPORTS))
def test_report_jobs_on_a_warm_reader(spark, reader, report):
    want, build = REPORTS[report]
    sc = spark.sparkContext
    try:
        for run in range(2):
            group = f"query-plan-report-{report}-{run}"
            sc.setJobGroup(group, group)
            build(reader).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == want


@pytest.mark.parametrize(
    "query, kw, why",
    [
        ('"word00 word01" qs=wand', {}, "phrase"),
        ("?word01 word00 qs=wand", {}, "priority"),
        ("word00 qs=wand", {"ranking": RankingParams(positional=True)}, "ranking"),
        ("word00 qs=wand", {"group_cap": 2}, "group_cap"),
    ],
)
def test_wand_ineligible_shapes_plan_plain(reader, query, kw, why):
    plan = plan_query(reader, query, k=10, **kw)
    assert plan.strategy == "plain"
    assert why in plan.reason, plan.reason
    assert wand_rewrite(reader, plan) is plan


def test_auto_strategy_plans_plain(reader):
    plan = plan_query(reader, "word00 word01", k=10)
    assert plan.strategy == "plain" and "auto" in plan.reason


@pytest.mark.parametrize(
    "query, terms",
    [
        ("word00 qs=wand", {"word00"}),
        ("( word00 | word30 ) qs=wand", {"word00", "word30"}),
    ],
)
def test_wand_rewrite_cuts_every_term(reader, query, terms):
    plan = plan_query(reader, query, k=10)
    assert plan.strategy == "wand" and not plan.cuts
    cut = wand_rewrite(reader, plan)
    assert cut.strategy == "wand"
    assert set(cut.cuts) == terms and all(v > 0 for v in cut.cuts.values())
    assert "θ" in cut.reason
    plain = execute(reader, replace(plan, strategy="plain")).collect()
    assert _pairs(execute(reader, cut).collect()) == _pairs(plain)


def test_wand_short_probe_falls_back_to_plain(reader):
    plan = plan_query(reader, "word30 qs=wand", k=10_000)
    out = wand_rewrite(reader, plan)
    assert out.strategy == "plain" and not out.cuts
    assert "probe" in out.reason, out.reason


def test_empty_plan_says_why(reader):
    plan = plan_query(reader, "word00 nosuchword qs=wand", k=10)
    assert not plan.live_paths and plan.strategy == "plain"
    assert plan.reason.startswith("empty")
    assert execute(reader, plan).count() == 0


@pytest.mark.parametrize(
    "run",
    [
        lambda r: run_query_wand(r, "word00 word01 -word45", k=10),
        lambda r: explain_scores(r, "word00 word01 -word45", k=10),
    ],
    ids=["run_query_wand", "explain_scores"],
)
def test_lexicon_probed_once_per_query(reader, monkeypatch, run):
    calls = []
    probe = IndexReader.term_stats

    def spy(self, words, lang=None):
        calls.append(list(words))
        return probe(self, words, lang=lang)

    monkeypatch.setattr(IndexReader, "term_stats", spy)
    run(reader).collect()
    assert len(calls) == 1, calls


# --- term scans read only the files that hold the term ------------------


def _covering(files, tid, lang):
    """The data files whose footer term_id range covers ``tid`` (and that
    sit under ``lang=<lang>`` when the scan is lang-scoped)."""
    out = set()
    for path in files:
        groups = pq.read_metadata(path).to_dict()["row_groups"]
        stats = [
            c["statistics"]
            for g in groups
            for c in g["columns"]
            if c["path_in_schema"] == "term_id"
        ]
        if lang is not None and f"{os.sep}lang={lang}{os.sep}" not in path:
            continue
        if any(st["min"] <= tid <= st["max"] for st in stats):
            out.add(path)
    return out


def _data_files(*dirs):
    return [
        os.path.join(cur, fn)
        for d in dirs
        for cur, _, files in os.walk(d, followlinks=True)
        for fn in files
        if fn.endswith(".parquet")
    ]


def _assert_scans_cover(reader, tier, files, langs):
    """Every lexicon term's scan lists exactly its covering files and,
    all terms together, decodes what the whole-table scan decodes."""
    source = reader.prio if tier == "prio" else reader.postings
    tids = [r["term_id"] for r in reader.lexicon.select("term_id").collect()]
    cols = ["term_id", "n_docs", "doc_ids", "tfs", "flags", "min_doc", "max_doc"]
    scanned_some = False
    for lang in [None, *langs]:
        scans = []
        for tid in tids:
            dec = reader.decode_term(tid, tier=tier, lang=lang)
            got = {urlparse(p).path for p in dec.inputFiles()}
            assert got == _covering(files, tid, lang), (tier, lang, tid)
            scanned_some |= bool(got)
            scans.append(dec.select(F.lit(tid).cast("long").alias("term_id"), "*"))
        whole = source if lang is None else source.filter(F.col("lang") == lang)
        want = whole.select(*cols).mapInPandas(decode_blocks, schema=decoded_schema())
        got_rows = reduce(DataFrame.unionByName, scans).collect()
        assert sorted(map(tuple, got_rows)) == sorted(map(tuple, want.collect()))
    assert scanned_some


def _langs(reader):
    return sorted(
        r["lang"] for r in reader.lexicon_lang.select("lang").distinct().collect()
    )


@pytest.mark.parametrize("tier", ["full", "prio"])
def test_term_scan_reads_only_covering_files(reader, tier):
    assert reader.prio is not None
    files = _data_files(
        reader.paths.prio if tier == "prio" else reader.paths.postings
    )
    assert len(files) > 1
    _assert_scans_cover(reader, tier, files, [*_langs(reader), "zz"])


def test_merged_term_scan_reads_only_covering_files(spark, tmp_path_factory):
    """A merged index's part=N dirs are symlinks into the source indexes;
    a part=N dir with no committed manifest contributes no file."""
    base = str(tmp_path_factory.mktemp("scan_base"))
    corpus = bm25_corpus(spark, 80)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    build_index(spark, corpus.filter(half == 0), os.path.join(base, "a"), n_buckets=1)
    build_index(spark, corpus.filter(half == 1), os.path.join(base, "b"), n_buckets=1)
    paths = merge_indexes(
        spark, os.path.join(base, "a"), os.path.join(base, "b"),
        os.path.join(base, "out"),
    )
    parts = sorted(os.listdir(paths.postings))
    assert parts == ["part=0", "part=1"]
    assert all(os.path.islink(paths.bucket_dir(b)) for b in (0, 1))
    # an uncommitted bucket: same files, but no manifest names it
    os.symlink(os.path.realpath(paths.bucket_dir(0)), paths.bucket_dir(2))
    reader = IndexReader(spark, paths)
    committed = _data_files(paths.bucket_dir(0), paths.bucket_dir(1))
    _assert_scans_cover(reader, "full", committed, _langs(reader))
    _assert_scans_cover(reader, "prio", _data_files(paths.prio), _langs(reader))


def test_file_map_reads_footer_ranges(tmp_path):
    """A footer without term_id stats covers every term (conservative,
    never wrong); a file with no rows and hidden files cover none."""
    import math

    import pyarrow as pa

    d = tmp_path / "lang=en"
    d.mkdir()
    tbl = pa.table({"term_id": pa.array([9, 5], pa.int64())})
    pq.write_table(tbl, d / "nostats.parquet", write_statistics=False)
    pq.write_table(tbl, d / "stats.parquet")
    pq.write_table(tbl.slice(0, 0), d / "empty.parquet")
    pq.write_table(tbl, d / ".hidden.parquet")
    got = query_exec._term_files(str(tmp_path), [str(tmp_path)])
    assert [(lo, hi, lang, os.path.basename(p)) for lo, hi, lang, p in got] == [
        (-math.inf, math.inf, "en", "nostats.parquet"),
        (5, 9, "en", "stats.parquet"),
    ]
