"""Tokenization + position assignment for transcript documents.

Re-expresses the reference's keyword-extraction rules
(``SentenceSegmentSplitter.java:33-115``, ``DocumentPositionMapper.java:23-260``,
``WordPatterns.java:6-9``) as vectorized pandas/regex work suitable for
Arrow-batched ``mapInPandas``:

- unicode-flatten (NFKC) + lowercase;
- a *word* is a run of ``[a-z0-9]`` optionally joined by the separator set
  ``.-_/:+*@#`` (cf. DocumentPositionMapper word pattern, :201-260);
- possessive ``'s`` stripped (cf. QueryParser.java:163-167);
- tokens longer than ``MAX_WORD_LENGTH`` (48) are dropped but still consume
  a position slot (pattern filter, DocumentPositionMapper.java:201-260);
- stopwords are skipped from the index but *consume positions*
  (DocumentPositionMapper.java:79-81);
- positions are 1-based ("can't represent 0 in gamma coding",
  DocumentPositionMapper.java:64-68);
- turn boundaries consume 2 extra position slots, mirroring the +2 padding
  the reference inserts between document regions
  (DocumentPositionMapper.java:33-39).

Two tokenizer modes:

- ``reference``: the full rule set above — used by the transcript engine and
  pinned by the numpy rank-oracle tests;
- ``simple``: ``lower → split /[^a-z0-9]+/ → drop '' and len>=64`` — exactly
  expressible in both Spark SQL and DuckDB SQL, used for the driver's
  oracle-checked queries so Spark and DuckDB tokenize identically.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

MAX_WORD_LENGTH = 48  # DocumentPositionMapper pattern filter
MAX_RAW_TOKEN_LENGTH = 64  # SentenceSegmentSplitter / WordPatterns.java:7
TURN_BREAK = "\x00turn\x00"  # never produced by tokenization of real text
TURN_BREAK_COST = 2  # +2 padding between regions

# Word = alnum runs joined by separators .-_/:+*@# (never leading/trailing).
_TOKEN_RE = re.compile(r"[a-z0-9]+(?:[.\-_/:+*@#][a-z0-9]+)*")
# One alternation pass also captures turn-break markers, so tokenization is a
# single C-level findall per document (no Python-level split loop).
_TOKEN_OR_BREAK_RE = re.compile(
    r"\x00turn\x00|[a-z0-9]+(?:[.\-_/:+*@#][a-z0-9]+)*"
)
_POSSESSIVE_RE = re.compile(r"'s\b")

# Deterministic small English stopword set (reference ships a stopword list;
# ours is fixed here so oracles can reproduce it).
STOPWORDS = frozenset(
    "a an and are as at be by for from has he in is it its of on or that the to was were will with".split()
)

SIMPLE_SPLIT_RE = "[^a-z0-9]+"  # shared with DuckDB oracle SQL


def flatten_unicode(texts: pd.Series) -> pd.Series:
    """NFKC-fold + lowercase (vectorized pandas string kernel)."""
    return texts.fillna("").str.normalize("NFKC").str.lower()


def tokenize_texts(texts: pd.Series) -> pd.Series:
    """Full reference-rule tokenization → Series of lists of raw tokens.

    Keeps stopwords and over-long tokens (callers filter during position
    assignment so slots are still consumed). ``TURN_BREAK`` markers embedded
    in the text survive as break tokens.
    """
    flat = flatten_unicode(texts)
    flat = flat.str.replace(_POSSESSIVE_RE, "", regex=True)
    # the \x00-delimited break marker survives NFKC/lowercase and is matched
    # by the alternation, so each document is one findall pass
    findall = _TOKEN_OR_BREAK_RE.findall
    return pd.Series([findall(t) for t in flat.tolist()], index=texts.index)


def assign_positions(tokens: list[str]) -> tuple[list[str], np.ndarray, int]:
    """1-based positions with stopword/over-long slots consumed and +2 turn gaps.

    Returns (indexable_tokens, positions, doc_len) where doc_len counts word
    slots (stopwords included, turn breaks excluded) — the BM25 length.
    """
    if not tokens:
        return [], np.empty(0, dtype=np.int64), 0
    arr = np.asarray(tokens, dtype=object)
    # note: numpy U-dtype comparison trims trailing \x00, so compare in Python
    is_break = np.fromiter(
        (t == TURN_BREAK for t in tokens), dtype=bool, count=len(tokens)
    )
    costs = np.where(is_break, TURN_BREAK_COST, 1)
    # each token's position = last slot it occupies; words cost 1 so the
    # cumulative sum is directly the 1-based position; a break burns 2 slots
    positions = np.cumsum(costs)
    lengths = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    is_stop = np.fromiter(
        (t in STOPWORDS for t in tokens), dtype=bool, count=len(tokens)
    )
    keep = ~is_break & ~is_stop & (lengths <= MAX_WORD_LENGTH) & (lengths > 0)
    doc_len = int((~is_break).sum())
    return arr[keep].tolist(), positions[keep], doc_len
