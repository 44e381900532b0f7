"""Hashed linear quality classifier — the fastText-style "model-based
quality filtering" pass of a web-text pipeline (GPT-3 / CCNet / FineWeb
all gate documents on a cheap linear classifier over hashed token
features; Weinberger et al. 2009's feature-hashing trick is what makes
the feature space fixed-size with no vocabulary to ship).

Scoring a document is ``score = Σ_t w[h(t)] / (|tokens| * W)`` — hash
every token into one of ``dim`` buckets, sum the bucket weights, and
normalize. One execution path, ``hashed_score``: pure Column
expressions (split → aggregate lambda → one division), fully inside
whole-stage codegen: ZERO shuffles, zero joins, zero Python — quality
filtering at scan speed. Weights are derived arithmetically from the
bucket id (below), which is what keeps the path engine-portable for the
DuckDB oracle gate; pytest pins it bit-for-bit against a pure-Python
scorer over the same weight vector (tests/reference.py).

Engine-parity constraints (same reasoning as operators/sampling.py —
the oracle must reproduce every bit):

* the TOKEN HASH is a bounded character-probe polynomial —
  ``L*131 + 17*cp(first) + 7*cp(last) + cp(middle)`` with L capped at
  10 000 (caps the int64 product below; also bounds work on pathological
  unbroken-text tokens) — because Spark's xxhash64/md5 and DuckDB's hash()
  disagree. Swapping in xxhash64 for production is this one expression;
  the plan shape does not change. Collisions only fold features together
  — that is the feature-hashing trick working as designed, not an error.
* the WEIGHT of bucket b is ``(b * 2654435761) mod 2^32 mod 1001 - 500``
  — an integer in [-500, 500], a deterministic stand-in for trained
  weights with the same plan shape. Per-document sums therefore stay in
  EXACT int64 (order-free); the only float op is one final division.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_tools_spark.operators.sampling import FIB_MULT, _MOD32

W_SCALE = 500  # weights live in [-W_SCALE, W_SCALE]
MAX_TOKEN_LEN = 10_000  # probe-length cap: bounds probe*FIB_MULT « 2^63

# PII scan patterns (queries.docs_pii_scan):
# only syntax Java regex and RE2 interpret identically — explicit classes,
# bounded repeats, no lookaround, no \b
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"


def _token_probe(t: Column) -> Column:
    """Bounded character-probe hash of one token (int64 Column)."""
    length = F.least(F.length(t), F.lit(MAX_TOKEN_LEN))
    mid = ((length + 1) - (length + 1) % 2) / 2  # (L+1) div 2, exact small ints
    probe = (
        length * 131
        + F.ascii(F.substr(t, F.lit(1), F.lit(1))) * 17
        + F.ascii(F.substr(t, length, F.lit(1))) * 7
        + F.ascii(F.substr(t, mid.cast("int"), F.lit(1)))
    )
    return F.when(length == 0, F.lit(0)).otherwise(probe).cast("long")


def bucket_expr(t: Column, dim: int) -> Column:
    """Feature bucket of one token: (probe * FIB) mod 2^32 mod dim."""
    return (_token_probe(t) * F.lit(FIB_MULT)) % F.lit(_MOD32) % F.lit(dim)


def weight_expr(bucket: Column) -> Column:
    """Derived integer weight in [-W_SCALE, W_SCALE] for a bucket id."""
    return (bucket * F.lit(FIB_MULT)) % F.lit(_MOD32) % F.lit(2 * W_SCALE + 1) - F.lit(
        W_SCALE
    )


def hashed_score(df: DataFrame, dim: int = 1 << 20) -> DataFrame:
    """Score every (doc_id, text) document with the hashed linear
    classifier — pure Column path (see module doc). Output: (doc_id,
    n_tok, score_num,
    score, keep) where score_num is the EXACT int64 weight sum (the
    hash-gate anchor), score = score_num / (n_tok * W_SCALE) ∈ [-1, 1]
    is a single division, and keep = score ≥ 0 (a trained threshold
    replaces 0 in production)."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    score_num = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + weight_expr(bucket_expr(t, dim)),
    )
    d = df.select(
        F.col("doc_id"),
        F.size(toks).cast("long").alias("n_tok"),
        score_num.alias("score_num"),
    )
    score = F.col("score_num") / (F.col("n_tok") * F.lit(float(W_SCALE)))
    return d.select(
        "doc_id",
        "n_tok",
        "score_num",
        score.alias("score"),
        (score >= 0.0).alias("keep"),
    )
