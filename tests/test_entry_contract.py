"""Driver-contract invariants of __spark_entry__ that don't need Spark.

The CORRECTNESS gate walks ``queries()`` in dict order and has historically
truncated, so the ordering machinery (_verification_order + the priority
tier lists) is load-bearing: a typo'd key silently demotes an entry out of
the driver's check window, and a queries/oracle_sql key mismatch means an
entry ships without its gate. These checks are pure-Python (no session)."""

import os
import re


def _entry_mod():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    return m


def test_every_query_has_an_oracle_or_is_declared_rows_only():
    m = _entry_mod()
    q, o = m.queries(), m.oracle_sql()
    # rows-only by design (iterative learner, pinned by pytest instead)
    declared_rows_only = {"text_bpe_vocab"}
    assert set(q) - set(o) == declared_rows_only
    # an oracle without a query would never run at all
    assert not set(o) - set(q)
    # the internal CTE-sharing key must never leak as an entry
    assert "__fc_ctes__" not in o
    # every shared-CTE placeholder got substituted
    for name, sql in o.items():
        assert "{FC_CTES}" not in sql, name


def test_priority_tier_lists_match_real_keys():
    m = _entry_mod()
    q = set(m.queries())
    for lst_name in ("_NEW_THIS_ROUND", "_NEVER_DRIVER_VERIFIED",
                     "_JUDGE_VERIFIED_R3", "_STALE_SINCE_R02"):
        tier = getattr(m, lst_name)
        missing = [k for k in tier if k not in q]
        assert not missing, f"{lst_name} names unknown entries: {missing}"
        assert len(tier) == len(set(tier)), f"{lst_name} has duplicates"


def test_verification_order_is_a_permutation():
    m = _entry_mod()
    base = m.queries()
    # _verification_order is applied inside queries(); reordering must
    # neither drop nor duplicate entries
    assert len(base) == len(set(base))
    # the self-rotating invariant: EVERY entry the driver has never
    # recorded (no row in any CORRECTNESS_r*.json) leads EVERY entry it
    # has — so each round's ~50-entry sweep window automatically covers
    # what prior rounds missed
    keys = list(base)
    recorded = m._recorded_entries()
    idx = {k: i for i, k in enumerate(keys)}
    unrec = [idx[k] for k in keys if k not in recorded]
    rec = [idx[k] for k in keys if k in recorded]
    if unrec and rec:
        assert max(unrec) < min(rec), (
            "recorded entry ahead of an unrecorded one",
            [k for k in keys if k in recorded][:3],
        )
    # new-this-round entries lead the dict while they lack a driver row
    for k in m._NEW_THIS_ROUND:
        if k not in recorded:
            assert keys.index(k) < 50, (k, keys.index(k))


def test_failed_driver_rows_do_not_count_as_recorded():
    """The r04 rotation bug: a row that FAILED a check (sim_kmeans's
    hash_match=false) or errored must NOT count as recorded, else the one
    red entry is the one the rotation forgets — it would sort into the
    recorded tail, outside the driver's ~50-entry window, and never be
    re-verified. Only a green row (or a rows-only success for the one
    by-design oracle-less entry) retires an entry from the lead."""
    m = _entry_mod()
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 5, "oracle_rows": 5, "err": None}
    hash_fail = dict(ok, hash_match=False)
    errored = dict(ok, hash_match=None, rows_match=None, err="boom")
    no_oracle = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "spark_rows": 5, "oracle_rows": None,
                 "err": "no_oracle"}
    assert m._driver_row_passed("any", ok)
    assert not m._driver_row_passed("sim_kmeans", hash_fail)
    assert not m._driver_row_passed("any", errored)
    assert not m._driver_row_passed("any", "not-a-dict")
    # an expected oracle that was missing when the driver ran → re-check
    assert not m._driver_row_passed("dedup_minhash_lsh", no_oracle)
    # …but the by-design rows-only entry IS retired by a no_oracle row
    assert m._driver_row_passed("text_bpe_vocab", no_oracle)
    assert not m._driver_row_passed(
        "text_bpe_vocab", dict(no_oracle, spark_rows=None))
    # an explicit red check never counts, even for the rows-only entry
    # (covers the entry later gaining an oracle while still listed)
    assert not m._driver_row_passed(
        "text_bpe_vocab", dict(no_oracle, err=None, hash_match=False,
                               rows_match=True))
    # and the live r04 record specifically: its sim_kmeans hash-FAIL row
    # must not pass (scoped to r04 — NOT to _recorded_entries(), which
    # unions later rounds where the row is expected to go green)
    import json
    import os as _os

    r04 = _os.path.join(_os.path.dirname(__file__), "..",
                        "CORRECTNESS_r04.json")
    with open(r04) as f:
        row = json.load(f)["sim_kmeans"]
    assert not m._driver_row_passed("sim_kmeans", row)


def test_recorded_entries_latest_round_wins(tmp_path):
    """An entry green in an earlier round but red in a LATER round must
    re-enter the never-recorded lead: a union-of-greens would retire a
    since-regressed entry on the strength of the stale green row."""
    import json

    m = _entry_mod()
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 5, "oracle_rows": 5, "err": None}
    red = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"x": green, "y": red, "z": green}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"x": red, "y": green}))
    rec = m._recorded_entries(record_dir=str(tmp_path))
    assert rec == {"y", "z"}, rec  # x regressed in r02; y recovered


def test_recorded_entries_orders_rounds_by_number(tmp_path):
    """r100 is a later round than r99 although it sorts first by filename:
    its rows must override r99's, in both directions."""
    import json

    m = _entry_mod()
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 5, "oracle_rows": 5, "err": None}
    red = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({"x": green, "y": red}))
    (tmp_path / "CORRECTNESS_r100.json").write_text(
        json.dumps({"x": red, "y": green}))
    rec = m._recorded_entries(record_dir=str(tmp_path))
    assert rec == {"y"}, rec  # x regressed in r100; y recovered


def test_oracle_outputs_carry_no_decimal_columns():
    """DuckDB widens BIGINT sums to HUGEINT and float literals to
    DECIMAL; those surface to the driver as decimal128 columns whose
    values hash differently from the Spark side's int64/double even when
    numerically equal (``Decimal('123') == 123`` but
    ``repr/str/bytes`` differ) — the root cause of r04's sole red row,
    ``sim_kmeans``. Every oracle's output schema must therefore be
    decimal-free: add an explicit CAST in the SQL where DuckDB widens."""
    import duckdb
    import pytest

    if not os.path.isdir("/root/testdata/sf0.001"):
        pytest.skip("driver testdata not present")
    m = _entry_mod()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    offenders = {}
    for name, sql in m.oracle_sql().items():
        schema = con.execute(
            f"SELECT * FROM ({sql}) LIMIT 0"
        ).arrow().schema
        decs = [(f.name, str(f.type)) for f in schema
                if "decimal" in str(f.type)]
        if decs:
            offenders[name] = decs
    assert not offenders, offenders


def test_oracle_sql_only_references_registered_tables():
    m = _entry_mod()
    tables = {"region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"}
    for name, sql in m.oracle_sql().items():
        for t in re.findall(r"\bFROM\s+([a-z_][a-z0-9_]*)\b", sql,
                            flags=re.IGNORECASE):
            if t.lower() in tables:
                continue
            # CTE names are fine — they must be defined in the same SQL
            # (optionally with a column list: `probes(probe) AS (...)`)
            assert re.search(rf"\b{t}\s*(\([^)]*\))?\s+AS\s*\(", sql,
                             re.IGNORECASE), (name, t)
