"""Seeded inputs: a Zipf ``documents.parquet`` and the query pool.

Everything here is a pure function of the seed. The engine only ever sees
the parquet file and the query strings; term classes (head/tail) are read
off the generated corpus, not off the index.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 5000
ZIPF_S = 1.1
TOKENS_PER_DOC = 40

# document-frequency classes, as a share of the corpus
HEAD_MIN_DF = 0.30
TAIL_DF = (0.005, 0.02)

# the eight shapes mirror the fulltext_* entries of __spark_entry__.py
SHAPES = (
    "single", "and", "exclude", "or", "phrase", "proximity", "wand_single", "wand_or",
)


@dataclass(frozen=True)
class Query:
    shape: str
    text: str
    positional: bool
    # DuckDB oracle arguments (``__spark_entry__._bm25_sql``)
    paths: tuple[tuple[str, ...], ...]
    exclude: tuple[str, ...] = ()
    phrases: tuple[tuple[str, ...], ...] = ()


def write_documents(out_dir: str, n_docs: int, seed: int) -> tuple[str, np.ndarray]:
    """Write ``documents.parquet`` (doc_id, text); returns (path, token matrix)."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
    p /= p.sum()
    toks = rng.choice(VOCAB, size=(n_docs, TOKENS_PER_DOC), p=p)
    texts = [" ".join(f"w{j}" for j in row) for row in toks]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}), path
    )
    return path, toks


def document_frequencies(toks: np.ndarray) -> np.ndarray:
    """df per vocabulary id over the token matrix (one row per document)."""
    n_docs = toks.shape[0]
    present = np.zeros((n_docs, VOCAB), dtype=bool)
    present[np.repeat(np.arange(n_docs), toks.shape[1]), toks.ravel()] = True
    return present.sum(axis=0)


def query_pool(toks: np.ndarray, term_class: str, n_sets: int) -> list[Query]:
    """``n_sets`` term sets x the eight shapes, interleaved shape-major so a
    client walking the pool in order runs every shape once per eight queries.

    ``term_class`` picks the leading terms: ``tail`` (df 0.5-2%) or ``head``
    (df >= 30%). Conjunct partners are always head terms, so a tail query
    still returns results and the rarest term drives candidate generation.
    """
    df = document_frequencies(toks) / float(toks.shape[0])
    by_df = np.argsort(-df, kind="stable")
    head = [int(i) for i in by_df if df[i] >= HEAD_MIN_DF]
    tail = [int(i) for i in by_df if TAIL_DF[0] <= df[i] <= TAIL_DF[1]]
    lead = tail if term_class == "tail" else head
    if len(head) < 4 or len(lead) < 2 * n_sets:
        raise ValueError(f"corpus too small for {n_sets} sets of {term_class} queries")
    top = f"w{head[0]}"
    # terms are taken at fixed df ranks, so every seed's queries do the same
    # amount of work; the seed changes the corpus they run over
    sets = []
    for i in range(n_sets):
        a = lead[(2 * i * (len(lead) - 1)) // (2 * n_sets - 1)]
        b = lead[((2 * i + 1) * (len(lead) - 1)) // (2 * n_sets - 1)]
        partners = [h for h in head if h not in (a, b)]
        h1 = partners[(2 * i) % len(partners)]
        h2 = partners[(2 * i + 1) % len(partners)]
        sets.append(tuple(f"w{t}" for t in (a, b, h1, h2)))
    pool = []
    for a, b, h1, h2 in sets:
        pool += [
            Query("single", a, False, ((a,),)),
            Query("and", f"{a} {h1}", False, ((a, h1),)),
            Query("exclude", f"{a} {h1} -{h2}", False, ((a, h1),), exclude=(h2,)),
            Query("or", f"( {a} | {b} ) {h1}", False, ((a, h1), (b, h1))),
            Query("phrase", f'"{a} {top}"', False, ((a, top),), phrases=((a, top),))
            if a != top
            else Query("phrase", f'"{a} {h1}"', False, ((a, h1),), phrases=((a, h1),)),
            Query("proximity", f"{a} {h1} {h2}", True, ((a, h1, h2),)),
            Query("wand_single", f"{a} qs=wand", False, ((a,),)),
            Query("wand_or", f"( {a} | {b} ) {h1} qs=wand", False, ((a, h1), (b, h1))),
        ]
    return pool
