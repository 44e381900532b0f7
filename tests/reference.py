"""Pure-Python and brute-force references that tests compare the engine's
kernels against. None of these is an engine path: each re-derives one
package kernel's output by the slowest obvious route, over the same
constants the kernel uses."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_addr_tools_spark.functions import cells as C
from osm_addr_tools_spark.functions.tokenize import _EOW
from osm_addr_tools_spark.operators.quality import MAX_TOKEN_LEN, W_SCALE
from osm_addr_tools_spark.operators.sampling import (
    _FEISTEL_BITS,
    _FEISTEL_KEYS,
    _MOD32,
    FIB_MULT,
)
from osm_addr_tools_spark.operators.similarity import cosine_col

# --- operators/similarity.py ------------------------------------------------


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    q_id: str = "vec_id",
    c_id: str = "cand_id",
    q_vec: str = "q_emb",
    c_vec: str = "c_emb",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side, scan candidates
    once, window-rank. Ties broken on candidate id."""
    pairs = candidates.crossJoin(F.broadcast(queries)).withColumn(
        "sim", cosine_col(F.col(q_vec), F.col(c_vec))
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(q_id, c_id, F.col("sim"))
    )


# --- operators/sampling.py --------------------------------------------------


def feistel_shuffle_key_py(i: int, bits: int = _FEISTEL_BITS) -> int:
    """``feistel_shuffle_key`` on one id (bijectivity + engine parity)."""
    mod = 1 << bits
    left, right = (i // mod) % mod, i % mod
    for k in _FEISTEL_KEYS:
        f = (right * FIB_MULT + k) % mod
        left, right = right, left ^ f
    return left * mod + right


# --- functions/cells.py -----------------------------------------------------


def cell_range_min(cell: np.ndarray) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.uint64)
    return cell - (C.cell_lsb(cell) - np.uint64(1))


def cell_range_max(cell: np.ndarray) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.uint64)
    return cell + (C.cell_lsb(cell) - np.uint64(1))


def cell_contains(parent: np.ndarray, child: np.ndarray) -> np.ndarray:
    child = np.asarray(child, dtype=np.uint64)
    return (cell_range_min(parent) <= child) & (child <= cell_range_max(parent))


def ring_edges_loop(rings) -> list[float]:
    """``C.ring_edges`` one ring and one vertex at a time: each ring closed
    back to its first vertex, each longitude stepped from the previous one
    (a ring's first vertex from the polygon's first vertex) and shifted by
    360° per step of more than 180°."""
    verts = [[tuple(map(float, p)) for p in r] for r in rings]
    verts = [r for r in verts if r]
    out: list[float] = []
    for ring in verts:
        prev, shift, xs = verts[0][0][0], 0.0, []
        for lon, _ in ring:
            shift += float(np.round((lon - prev) / 360.0))
            prev = lon
            xs.append(lon - 360.0 * shift)
        for k, (x, (_, y)) in enumerate(zip(xs, ring)):
            nxt = (k + 1) % len(ring)
            out += [x, y, xs[nxt], ring[nxt][1]]
    return out


# --- functions/text.py ------------------------------------------------------


def fingerprint64(text: pd.Series) -> pd.Series:
    """Whole-document 64-bit fingerprint (first 8 bytes of sha256), as
    signed int64 — the exact hash winnowing is contrasted with."""

    def one(t: str) -> int:
        h = hashlib.sha256((t or "").encode("utf-8")).digest()
        v = int.from_bytes(h[:8], "big")
        return v - (1 << 64) if v >= (1 << 63) else v

    return text.map(one).astype("int64")


# --- operators/quality.py ---------------------------------------------------

_WS = re.compile(r"\s+")


def derived_weights(dim: int) -> np.ndarray:
    """The weight vector ``hashed_score`` encodes arithmetically —
    w[b] = (b * FIB) mod 2^32 mod (2W+1) - W, as int64."""
    b = np.arange(dim, dtype=np.uint64)
    return (
        (b * np.uint64(FIB_MULT)) % np.uint64(_MOD32) % np.uint64(2 * W_SCALE + 1)
    ).astype(np.int64) - W_SCALE


def _probe_py(t: str) -> int:
    if not t:
        return 0
    length = min(len(t), MAX_TOKEN_LEN)
    mid = (length + 1) // 2
    return length * 131 + ord(t[0]) * 17 + ord(t[length - 1]) * 7 + ord(t[mid - 1])


def score_batch(text: pd.Series, weights: np.ndarray) -> pd.DataFrame:
    """Per-doc (n_tok, score_num) with an arbitrary weight vector
    (len(weights) = dim): ``hashed_score`` token by token in Python."""
    dim = len(weights)
    n_tok, score_num = [], []
    for doc in text.fillna(""):
        toks = _WS.split(doc.strip().lower())
        n_tok.append(len(toks))
        s = 0
        for t in toks:
            s += int(weights[(_probe_py(t) * FIB_MULT) % _MOD32 % dim])
        score_num.append(s)
    return pd.DataFrame({"n_tok": n_tok, "score_num": score_num})


# --- functions/tokenize.py --------------------------------------------------


def bpe_decode(symbols: list[str]) -> str:
    """Inverse of ``bpe_encode`` over a symbol stream: the symbols joined,
    each end-of-word marker a space — the canonical normalized text
    (lowercase TOKEN_RE tokens joined by single spaces)."""
    return "".join(symbols).replace(_EOW, " ").strip()
