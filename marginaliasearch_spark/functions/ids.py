"""Document-id layout: rank-in-high-bits so docID order = quality order.

The reference packs ``[0 | rank:6 | domainId:31 | documentOrdinal:26]`` into a
signed 64-bit id (``UrlIdCodec.java:26-57``) precisely so that posting lists
sorted by doc id are sorted best-document-first, which makes budgeted /
early-terminating scans sound. We preserve the monotone layout for
transcripts: ``conv_id`` plays the role of domain and one conversation is one
document, so the id is ``[0 | rank:6 | conv_hash:57]``.

Determinism requirement (scaling-safe): ids derive purely from ``conv_id``
via ``xxhash64`` — never from ``monotonically_increasing_id`` — so the same
input produces the same index at any parallelism level.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

RANK_BITS = 6
HASH_BITS = 57
HASH_MASK = (1 << HASH_BITS) - 1


def doc_id_for_conv(conv_id: Column | str, rank: Column | int = 0) -> Column:
    """Deterministic 63-bit doc id: ``(rank << 57) | (xxhash64(conv_id) & mask)``.

    Sorting by the result sorts by rank bucket first (rank 0 = best), then
    pseudo-randomly within a bucket — the transcript analogue of the
    reference's rank-stamped ids (``UrlIdCodec.java:3-7``).
    """
    c = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    r = F.lit(rank) if isinstance(rank, int) else rank
    hashed = F.xxhash64(c).bitwiseAND(F.lit(HASH_MASK))
    return (F.shiftleft(r.cast("long"), HASH_BITS) + hashed).alias("doc_id")


def term_id_expr(term: Column | str) -> Column:
    """term → 64-bit id via Spark's JVM-side xxhash64.

    The reference hashes keywords with murmur3-128 folded to 64 bits
    (``KeywordHasher.java:15-26``); rank-identity needs identical term
    *equivalence classes*, not identical hash values, so we use the
    vectorized built-in (SURVEY §1.5).
    """
    c = F.col(term) if isinstance(term, str) else term
    return F.xxhash64(c)
