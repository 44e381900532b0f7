"""Length-bucketed sequence packing — deterministic pack/slot assignment
for training batches.

The training-data shape: every example must land in a fixed-capacity
sequence (``capacity`` tokens). Concatenate-and-chunk (``token_shards``)
splits documents across boundaries; padding every doc to ``capacity``
wastes compute proportional to the length spread. The standard middle
ground is LENGTH-BUCKETED packing: round each doc's token count up to a
power-of-two bucket, then pack ``capacity // bucket`` same-bucket docs
per sequence — padding waste is bounded by <2× within a bucket, no doc is
split, and the assignment is a pure function of (bucket, rank-in-bucket),
so it is reproducible and resumable.

Why not ``row_number().over(Window.partitionBy(bucket))``: with ~log2
buckets the whole corpus would run on ~a dozen window tasks. The rank
comes from ``prefix_sum.grouped_row_number`` instead — monotone
order-key buckets, one per-(bucket, group) counts aggregate, bounded
offsets collect, full-parallelism windows.

Scale shape at 100 TB: one scan → JVM CASE ladder for the bucket (no
UDF, inside codegen) → the grouped prefix-sum core (two passes over the
pruned (id, n_tok) projection) → pure Column arithmetic for pack/slot.
No join wider than the broadcast offsets table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_tools_spark.operators.prefix_sum import grouped_row_number


def length_buckets(capacity: int, min_bucket: int) -> list[int]:
    """Ascending power-of-two bucket capacities [min_bucket .. capacity].
    Both ends must be powers of two with min_bucket ≤ capacity."""
    for v, name in ((capacity, "capacity"), (min_bucket, "min_bucket")):
        if v < 1 or v & (v - 1):
            raise ValueError(f"{name} must be a positive power of two; got {v}")
    if min_bucket > capacity:
        raise ValueError(f"min_bucket {min_bucket} > capacity {capacity}")
    out, b = [], min_bucket
    while b <= capacity:
        out.append(b)
        b *= 2
    return out


def pack_by_length_bucket(
    df: DataFrame,
    n_tok_col: str = "n_tok",
    capacity: int = 128,
    min_bucket: int = 8,
) -> DataFrame:
    """Assign every doc a (bucket_cap, pack_id, slot) training position.

    bucket_cap = smallest power-of-two bucket ≥ n_tok (clamped to
    [min_bucket, capacity]); docs with n_tok > capacity are flagged
    ``truncated`` and packed alone at bucket_cap = capacity. Within a
    bucket, docs are ranked by ``doc_id`` (deterministic; ties impossible
    on unique ids) and packed ``capacity // bucket_cap`` per pack:
    pack_id = (rank-1) // per_pack, slot = (rank-1) % per_pack. Every
    pack holds docs of ONE bucket, so its token sum ≤ capacity by
    construction.

    Output: doc_id, n_tok, bucket_cap, truncated, pack_id, slot — pack_id
    is unique within a bucket_cap (the pack key is (bucket_cap,
    pack_id))."""
    buckets = length_buckets(capacity, min_bucket)
    n = F.col(n_tok_col)
    cap = F.lit(capacity)
    for b in reversed(buckets):
        cap = F.when(n <= b, F.lit(b)).otherwise(cap)
    d = df.select(
        "doc_id",
        F.col(n_tok_col).cast("long").alias(n_tok_col),
        cap.cast("long").alias("bucket_cap"),
        (n > capacity).alias("truncated"),
    )
    # exact int64 arithmetic via SQL `div` — double division would
    # silently lose ulps past 2^53 ranks
    r = (
        grouped_row_number(d, "bucket_cap", "doc_id", out_col="_rank")
        .withColumn("_pp", F.expr(f"cast({capacity} as bigint) div bucket_cap"))
        .withColumn("_r0", F.col("_rank") - F.lit(1).cast("long"))
    )
    return (
        r.select(
            "doc_id",
            n_tok_col,
            "bucket_cap",
            "truncated",
            F.expr("_r0 div _pp").cast("long").alias("pack_id"),
            (F.col("_r0") % F.col("_pp")).cast("long").alias("slot"),
        )
    )


def chunk_token_windows(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding context-window chunking — the other standard way (besides
    packing above and ``token_shards``' concatenate-and-shard) to turn
    variable-length documents into model-sized training examples: emit a
    chunk of up to ``window`` whitespace tokens of ``text`` starting at
    every ``stride``-th token (stride < window ⇒ overlapping chunks, the usual
    LM pre-training setup so no span is only ever seen split across a
    boundary; stride = window ⇒ an exact partition of the document).

    Output: one row per chunk — (doc_id, chunk_idx, start_tok, n_tok,
    chunk_text); chunk_idx is 0-based within the document, start_tok its
    0-based first-token offset, and only the final chunk of a document
    may be shorter than ``window``. Every token of every document appears
    in at least one chunk; a document always yields ≥ 1 chunk (an empty
    text yields one empty chunk — downstream filters decide).

    Scale shape: one scan, zero shuffles, zero joins — split / sequence /
    posexplode / slice / array_join are all JVM codegen; output size is
    ceil(n/stride) rows per doc, a pure map. The whole-document token
    array lives once per row during the explode (bounded by the longest
    single document, not the corpus)."""
    if window < 1 or stride < 1:
        raise ValueError(f"window and stride must be ≥ 1; got {window}, {stride}")
    if stride > window:
        raise ValueError(
            f"stride {stride} > window {window} would silently drop tokens"
        )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
    )
    return (
        df.select(F.col("doc_id"), toks.alias("_toks"), F.size(toks).alias("_n"))
        .select(
            "doc_id",
            "_toks",
            "_n",
            F.posexplode(starts).alias("chunk_idx", "start_tok"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.least(F.lit(window), F.col("_n") - F.col("start_tok"))
            .cast("long")
            .alias("n_tok"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("start_tok") + 1, F.lit(window)), " "
            ).alias("chunk_text"),
        )
    )
