"""One executor: every query is ``plan_query`` (the driver-side decisions)
then ``execute``; block-max WAND is ``wand_rewrite``, a plan-to-plan
rewrite, not a second entry point.

Two contracts are pinned here:

- the Spark jobs each benchmark query shape runs on a warm reader (at
  small scale latency tracks job count, so a refactor must not add any);
- the WAND rewrite keeps ineligible shapes on the plain pipeline with a
  reason, cuts eligible ones per term, and falls back when its probe
  cannot fill k.
"""

from dataclasses import replace

import pytest

from marginaliasearch_spark.operators import query_exec
from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.query_exec import (
    IndexReader,
    RankingParams,
    execute,
    explain_scores,
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
