"""``functions.blocks`` in-process: encode and decode rates with no Spark.

The sample is every posting of a built index, read once from its journal
and sorted the way the build's range shuffle sorts them.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from marginaliasearch_spark.functions.blocks import decode_blocks, encode_blocks
from marginaliasearch_spark.functions.scoring import tf_norm

PAYLOAD_COLUMNS = ("doc_ids", "tfs", "wtfs", "positions", "flags")


def sample_postings(spark: SparkSession, index_root: str) -> pd.DataFrame:
    journal = spark.read.parquet(os.path.join(index_root, "journal"))
    return (
        journal.filter(F.col("term").isNotNull())
        .select(
            "term_id", "doc_id", "tf", "wtf_q4", "positions", "flags", "lang",
            tf_norm(F.col("tf").cast("double"), F.col("doc_len").cast("double")).alias(
                "tf_norm"
            ),
        )
        .orderBy("lang", "term_id", "doc_id")
        .toPandas()
    )


def measure(postings: pd.DataFrame, reps: int = 3) -> tuple[dict, bool]:
    """(metrics, round trip ok): median-of-``reps`` rates over the sample,
    at the package's default block size."""
    n = len(postings)
    enc_s, dec_s = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        blocks = pd.concat(
            list(encode_blocks(iter([postings]))), ignore_index=True
        )
        enc_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        decoded = pd.concat(
            list(decode_blocks(iter([blocks]), with_positions=True, with_wtf=True)),
            ignore_index=True,
        )
        dec_s.append(time.perf_counter() - t0)
    ok = len(decoded) == n and all(
        (decoded[c].to_numpy() == postings[c].to_numpy()).all()
        for c in ("term_id", "doc_id", "tf", "wtf_q4", "flags")
    )
    payload = sum(int(blocks[c].map(len).sum()) for c in PAYLOAD_COLUMNS)
    return {
        "blocks.encode_postings_per_s": n / statistics.median(enc_s),
        "blocks.decode_postings_per_s": n / statistics.median(dec_s),
        "blocks.bytes_per_posting": payload / n,
    }, ok
