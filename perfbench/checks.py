"""Correctness checks, run after the timed loop and outside ``setup_s``.

Query results are compared with the repository's DuckDB BM25 oracle
(``__spark_entry__._bm25_sql``) over the same ``documents.parquet``; built
indexes are checked against counts the generator knows independently.
All reads go through DuckDB, so the checks need no Spark session.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

from __spark_entry__ import _bm25_sql
from inputs import TOKENS_PER_DOC, Query


class Oracle:
    def __init__(self, documents_path: str, k: int):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE documents AS SELECT * FROM read_parquet('{documents_path}')"
        )
        self.k = k
        self._memo: dict[str, list[tuple[int, float]]] = {}

    def expected(self, q: Query) -> list[tuple[int, float]]:
        if q.text not in self._memo:
            sql = _bm25_sql(
                [list(p) for p in q.paths],
                exclude=list(q.exclude) or None,
                phrases=[list(p) for p in q.phrases] or None,
                positional=list(q.paths[0]) if q.positional else None,
                k=self.k,
            )
            rows = self.con.execute(sql).fetchall()
            self._memo[q.text] = sorted((int(d), float(s)) for d, s in rows)
        return self._memo[q.text]

    def matches(self, q: Query, rows: list[tuple[int, float]]) -> bool:
        want = self.expected(q)
        got = sorted((int(d), float(s)) for d, s in rows)
        return len(got) == len(want) and all(
            gd == wd and abs(gs - ws) <= 1e-9 for (gd, gs), (wd, ws) in zip(got, want)
        )


def index_problems(root: str, n_docs: int) -> tuple[list[str], float]:
    """Invariants of a freshly built single-turn index over ``n_docs`` docs,
    and its number of posting blocks."""
    problems = []
    with open(os.path.join(root, "corpus_stats.json")) as f:
        stats = json.load(f)
    if stats["doc_count"] != n_docs:
        problems.append(f"doc_count {stats['doc_count']} != {n_docs}")
    con = duckdb.connect()

    def one(sql: str):
        return con.execute(sql).fetchone()[0]

    ctf = one(f"SELECT sum(ctf) FROM read_parquet('{root}/lexicon/*.parquet')")
    if ctf != n_docs * TOKENS_PER_DOC:
        problems.append(f"sum(ctf) {ctf} != {n_docs * TOKENS_PER_DOC}")
    n_blocks = one(f"SELECT sum(n_blocks) FROM read_parquet('{root}/term_bounds/*.parquet')")
    block_rows = one(
        f"SELECT count(*) FROM read_parquet('{root}/postings/**/*.parquet')"
    )
    if n_blocks != block_rows:
        problems.append(f"sum(n_blocks) {n_blocks} != postings rows {block_rows}")
    manifests = glob.glob(os.path.join(root, "manifest", "part-*.json"))
    if not manifests:
        problems.append("no manifest")
    for path in manifests:
        with open(path) as f:
            if json.load(f).get("status") != "committed":
                problems.append(f"{os.path.basename(path)} not committed")
    return problems, float(block_rows)
