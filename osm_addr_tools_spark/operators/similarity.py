"""Similarity search over embedding columns: two scale
paths — random-hyperplane LSH bucketing and IVF (coarse-quantizer)
partitioning. Their exactness baseline, brute-force cosine top-k, lives
with the tests (tests/reference.py).

Spark-first shape: the vector math is Column expressions (zip_with /
aggregate — JVM-side, codegen) wherever possible; only the hyperplane
projection and centroid assignment are Arrow-batched NumPy UDFs (matrix
multiply per batch — the textbook vectorized-UDF case).

At 10^12-row scale the LSH/IVF variants turn ANN into an equi-join on the
bucket key: candidates shuffle only within buckets, brute force never
leaves the small query side (broadcast).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osm_addr_tools_spark.operators.joins import key_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_col(a, b):
    """Cosine similarity as a pure Column expression; NULL (never NaN, and
    never an ANSI DIVIDE_BY_ZERO) when either vector has zero norm —
    cosine is undefined there, and a null sim falls out of every
    ``sim >= threshold`` filter deterministically (ADVICE r5: Spark
    treats NaN as LARGER than any number in comparisons, so a NaN sim
    would silently PASS a threshold filter)."""
    denom = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    return F.when(denom > 0, _dot(a, b) / denom)


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Cosine top-k ``(vec_id, cand_id, sim)`` per query over candidate
    rows carrying ``q_emb`` and ``c_emb``; a candidate reached through
    several buckets or lists counts once, ties break on cand_id."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("sim", cosine_col(F.col("q_emb"), F.col("c_emb")))
        .dropDuplicates(["vec_id", "cand_id"])
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("vec_id", "cand_id", "sim")
    )


# hyperplane-LSH constants, shared with the DuckDB oracle
# (oracle_support): the ANN top-k join probes ANN_N_PROBES buckets
# (its own plus the hamming-1 flips) over ANN_N_PLANES planes; semantic
# dedup bands SEM_BANDS plane sets of SEM_N_PLANES, band b seeded
# SEM_SEED + b
ANN_N_PLANES = 6
ANN_N_PROBES = 4
SEM_N_PLANES = 8
SEM_BANDS = 4
SEM_SEED = 97
# IVF constants, shared with the DuckDB oracle: the coarse quantizer
# trains IVF_N_CENTROIDS centroids on the first IVF_SAMPLE candidates by
# id, and each query probes its IVF_N_PROBE nearest lists
IVF_N_CENTROIDS = 16
IVF_N_PROBE = 3
IVF_SAMPLE = 2000


def lsh_ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    dim: int,
) -> DataFrame:
    """Approximate cosine top-k over (vec_id, q_emb) queries and
    (cand_id, c_emb) candidates: equi-join on the hyperplane bucket,
    probing each query's own bucket and the ANN_N_PROBES - 1 buckets at
    hamming distance 1 (multi-probe recall boost without more
    hyperplanes)."""
    # optimizer fence (the kernel itself is deterministic): the bucket
    # equi-join otherwise pushes inferred isnotnull(_bucket) below the
    # projection and evaluates the matrix multiply again
    # (test_python_udf_evaluation_counts: buckets 2 → 3 in emb_ann_lsh_top3)
    bu = hyperplane_bands_udf(dim, ANN_N_PLANES, 1, 42).asNondeterministic()
    qb = queries.withColumn("_bucket", bu(F.col("q_emb"))[0])
    flips = F.array(
        F.col("_bucket"),
        *[F.col("_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(ANN_N_PROBES - 1)],
    )
    qb = qb.withColumn("_bucket", F.explode(flips))
    cb = candidates.withColumn("_bucket", bu(F.col("c_emb"))[0])
    return _top_k(qb.join(cb, "_bucket"), k)


def hyperplane_bands_udf(dim: int, n_planes: int, bands: int, seed: int):
    """All ``bands`` hyperplane buckets in ONE Arrow pass: band b uses an
    independent plane set seeded ``seed + b``; returns array<long> indexed
    by band (posexplode at the call site). One batched matrix multiply
    against the (dim × bands·n_planes) stacked planes — b× fewer UDF
    passes over the corpus than one single-band UDF per band.
    ``bands=1`` is the single-bucket kernel lsh_ann_topk takes element 0
    of."""
    planes = np.concatenate(
        [
            np.random.default_rng(seed + b).standard_normal((dim, n_planes))
            for b in range(bands)
        ],
        axis=1,
    )
    weights = 1 << np.arange(n_planes)

    @pandas_udf("array<long>")
    def buckets(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype(np.float64)
        bits = (m @ planes) > 0  # (n, bands*n_planes)
        per_band = bits.reshape(len(m), bands, n_planes)
        vals = (per_band * weights).sum(axis=2).astype(np.int64)
        return pd.Series([row.tolist() for row in vals])

    return buckets


def lsh_semantic_pairs(
    vectors: DataFrame,
    threshold: float,
    dim: int,
) -> DataFrame:
    """SEMANTIC near-duplicate pairs (a < b, cosine ≥ threshold) over one
    (vec_id, embedding) table — the candidate generator for
    embedding-based dedup (pairs → connected_components → min-id
    retention, the same composition as the MinHash families in
    operators.dedup).

    Banded hyperplane LSH: ``SEM_BANDS`` independent plane sets; two
    vectors are candidates iff ALL ``SEM_N_PLANES`` sign bits agree in ≥1
    band (the cosine analog of MinHash banding — more bands raise recall,
    more planes per band cut candidates). Candidates are ``key_pairs``
    over (band, bucket); the exact cosine verify is JVM Column math
    (zip_with/aggregate).

    Zero-norm vectors (ADVICE r5): every all-zero vector gets identical
    sign bits, so they'd all collide into ONE bucket in EVERY band —
    O(z²) candidate blowup — and their cosine is undefined (NULL under
    cosine_col), so they'd then silently fail the threshold and never
    dedup despite being byte-identical duplicates of one another. They
    are therefore EXCLUDED from banding and linked exactly instead: a
    STAR to the minimum zero-norm id (O(z) pairs, sim = 1.0 by the
    exact-duplicate convention), which connected_components collapses to
    the same single group an all-pairs clique would."""
    allv = vectors.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    nz = _dot(F.col("_v"), F.col("_v")) > 0
    ids = allv.where(nz)
    zeros = allv.where(~nz).select("_id")
    zmin = zeros.agg(F.min("_id").alias("a"))
    zero_pairs = (
        zeros.select(F.col("_id").alias("b"))
        .crossJoin(F.broadcast(zmin))  # 1-row build side, lazy (no collect)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(1.0).alias("sim"))
    )
    bu = hyperplane_bands_udf(dim, SEM_N_PLANES, SEM_BANDS, SEM_SEED)
    keyed = ids.select(
        "_id", F.posexplode(bu(F.col("_v"))).alias("_band", "_bucket")
    )
    pairs = key_pairs(keyed, ["_band", "_bucket"])
    va = ids.select(F.col("_id").alias("a"), F.col("_v").alias("_va"))
    vb = ids.select(F.col("_id").alias("b"), F.col("_v").alias("_vb"))
    verified = (
        pairs.join(va.hint("shuffle_hash"), "a")
        .join(vb.hint("shuffle_hash"), "b")
        .withColumn("sim", cosine_col(F.col("_va"), F.col("_vb")))
        .where(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )
    return verified.unionByName(zero_pairs)


def kmeans_centroids(vectors: np.ndarray, n_centroids: int):
    """Tiny deterministic Lloyd's k-means (8 iterations, seed 42) for the
    IVF coarse quantizer (driver-side on a SAMPLE — the only
    non-distributed step, bounded)."""
    rng = np.random.default_rng(42)
    cent = vectors[rng.choice(len(vectors), size=n_centroids, replace=False)].astype(
        np.float64
    )
    for _ in range(8):
        d = ((vectors[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            pts = vectors[assign == c]
            if len(pts):
                cent[c] = pts.mean(axis=0)
    return cent


def centroid_assign_udf(centroids: np.ndarray, n_probe: int = 1):
    cent = centroids.astype(np.float64)

    @pandas_udf("array<int>")
    def assign(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype(np.float64)
        d = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    # see lsh_ann_topk: fence against duplicate evaluation
    # (test_python_udf_evaluation_counts: assign 2 → 3 in emb_ann_ivf_top3)
    return assign.asNondeterministic()


def ivf_ann_topk(
    spark,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_centroids: int = IVF_N_CENTROIDS,
    sample: int = IVF_SAMPLE,
) -> DataFrame:
    """IVF over (vec_id, q_emb) queries and (cand_id, c_emb) candidates:
    train a coarse quantizer on a bounded candidate sample, assign
    candidates to their nearest centroid (1 list each), probe the query's
    ``IVF_N_PROBE`` nearest lists — candidate generation is an equi-join
    on the list id. The sample is the first ``sample`` candidates BY ID — a bare
    ``limit`` picks partition-order rows, which is not reproducible across
    layouts; ordering makes the quantizer (and the oracle parity) a pure
    function of the data."""
    samp = np.stack(
        [r[0] for r in candidates.select("c_emb", "cand_id").orderBy("cand_id")
         .limit(sample).collect()]
    )
    cent = kmeans_centroids(samp, n_centroids)
    c_assign = centroid_assign_udf(cent, 1)
    q_assign = centroid_assign_udf(cent, IVF_N_PROBE)
    cb = candidates.withColumn("_list", c_assign(F.col("c_emb"))[0])
    qb = queries.withColumn("_list", F.explode(q_assign(F.col("q_emb"))))
    return _top_k(qb.join(cb, "_list"), k)
