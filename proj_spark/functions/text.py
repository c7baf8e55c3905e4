"""Text analysis for large-scale training-data pipelines.

Everything here is either a pure Column expression (JVM codegen, pushes
down, oracle-checkable in ANSI SQL) or a vectorized pandas UDF (the
content fingerprint, where the per-byte hash chain genuinely needs numpy).

Semantics are pinned so a DuckDB oracle can reproduce them exactly:
token = maximal run of non-whitespace after trim(); all ratios are plain
double divisions rounded at the query layer, not here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Tiny English function-word list for the language-ID heuristic. Kept SHORT
# and frozen: the oracle SQL must embed the identical list.
EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "for", "on")

_WS = r"\s+"


def tokens(text: Column) -> Column:
    """array<string> of whitespace-delimited tokens (empty text -> ['''])."""
    return F.split(F.trim(text), _WS)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def avg_token_len(text: Column) -> Column:
    """Mean token length = non-space chars / token count."""
    nonspace = F.length(F.regexp_replace(text, _WS, ""))
    return nonspace / token_count(text)


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    n = F.length(text)
    p = n - F.length(F.regexp_replace(text, r"[!-/:-@\[-`{-~]", ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    d = n - F.length(F.regexp_replace(text, "[0-9]", ""))
    return F.when(n > 0, d / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are English function words (lowercased)."""
    toks = F.split(F.trim(F.lower(text)), _WS)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.size(toks)


def is_english_heuristic(text: Column, threshold: float = 0.05) -> Column:
    """Language ID by function-word density — the classic cheap n-gram-free
    heuristic; real pipelines swap in fastText at this exact call site."""
    return (stopword_ratio(text) >= threshold).cast("boolean")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: length band + low punct/digit noise +
    plausible mean token length. Weights are arbitrary but FROZEN (oracle
    reproduces them)."""
    n = char_count(text).cast("double")
    len_band = F.when((n >= 200) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    atl = avg_token_len(text)
    tok_band = F.when((atl >= 2.0) & (atl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.3))
    noise = punct_ratio(text) + digit_ratio(text)
    noise_band = F.when(noise <= 0.2, F.lit(1.0)).otherwise(F.lit(0.2))
    return (0.4 * len_band + 0.3 * tok_band + 0.3 * noise_band).cast("double")


# ---------------------------------------------------------------------------
# document fingerprint — pandas UDF tier
# ---------------------------------------------------------------------------

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def _fnv1a_bytes_vec(texts: pd.Series) -> np.ndarray:
    """FNV-1a over utf-8 bytes, vectorized ACROSS the batch: the chain is
    inherently sequential per document, so iterate over byte POSITIONS
    (max doc length steps) with the whole batch updated per step — one
    numpy op per position instead of one Python op per byte per doc."""
    enc = [(s or "").encode("utf-8") for s in texts]
    n = len(enc)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=n)
    L = int(lens.max()) if n else 0
    M = np.zeros((n, max(L, 1)), dtype=np.uint64)
    for k, b in enumerate(enc):
        if b:
            M[k, :len(b)] = np.frombuffer(b, dtype=np.uint8)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):  # mod-2^64 wrap is the algorithm
        for i in range(L):
            act = lens > i
            if not act.any():
                break
            h = np.where(act, (h ^ M[:, i]) * _FNV_PRIME, h)
    return h


_FP64 = None


def fingerprint64(text: Column) -> Column:
    """64-bit FNV-1a content fingerprint (order-sensitive, byte-exact).

    UDF is created lazily — pandas_udf needs an active SparkSession, which
    doesn't exist at import time.
    """
    global _FP64
    if _FP64 is None:
        @pandas_udf("long")
        def _fp(t: pd.Series) -> pd.Series:
            return pd.Series(_fnv1a_bytes_vec(t).view(np.int64))
        _FP64 = _fp
    return _FP64(text)
