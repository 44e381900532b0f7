"""Distributed prefix sum — running aggregate ordered by a global key
(VERDICT r4 #1). One two-pass core (``_prefix``) serves ``running_sum``,
``global_row_number`` and ``grouped_row_number``.

``Window.orderBy(key)`` with NO ``partitionBy`` routes the ENTIRE input
through one WindowExec task — the canonical Spark scale-killer (an empty
partition spec is an all-to-one-partition plan, and Spark itself logs a
"No Partition Defined for Window operation" warning). The distributed
shape implemented here:

1. bucket every row MONOTONICALLY in the order key (bucket ids
   non-decreasing in the key), via a pure Column expression;
2. one hash aggregate computes each bucket's partial sum;
3. collect the ≤ ``num_buckets`` partials — bounded METADATA, not data
   (the same bounded-collect contract as manifest.py's partition keys);
4. prefix-sum the partials on the driver, broadcast the per-bucket
   cumulative offsets back;
5. run the running-sum window PER BUCKET (bounded window partitions) and
   add the bucket's offset.

Null order keys, null groups and null values raise ValueError (found in
the partials pass): none has a per-bucket form of the global window.

Monotone bucketing is a deterministic EXPRESSION — uniform range buckets
over [min, max] of the key (one min/max aggregate; parquet footer stats
make it near-free under aggregate pushdown) — NOT ``repartitionByRange``:
range-partition boundaries come from sampling and are resolved
independently in each consuming stage, so the partials pass and the
window pass could silently disagree on bucket assignment, while a pure
function of the key cannot. Correctness never depends on bucket
boundaries (any monotone bucketing yields the identical running sum —
property-tested); skewed keys only IMBALANCE buckets. For heavy skew,
or a key whose domain is known without a min/max job, pass
``running_sum`` an explicit ascending cut list as ``boundaries``
(``grouped_row_number`` always buckets uniformly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _uniform_bucket(key, kmin: float, kmax: float, nb: int):
    """Monotone non-decreasing bucket id in [0, nb): uniform split of
    [kmin, kmax]. Double rounding is monotone non-decreasing, * and /
    by positive constants are monotone, floor is monotone — ties that
    collapse across a boundary merely merge buckets, which the offset
    pass absorbs."""
    span = float(kmax) - float(kmin) + 1.0
    raw = F.floor((key.cast("double") - F.lit(float(kmin))) * F.lit(float(nb)) / F.lit(span))
    return F.greatest(F.lit(0), F.least(F.lit(nb - 1), raw)).cast("int")


def _boundary_bucket(key, boundaries: list):
    """Bucket id = #boundaries ≤ key (the caller's cut points, sorted
    ascending). O(len(boundaries)) JVM array
    filter per row — fine for the ≤ few-thousand boundaries that make
    sense here."""
    arr = F.array(*[F.lit(b) for b in sorted(boundaries)])
    return F.size(F.filter(arr, lambda x: x <= key)).cast("int")


def _default_buckets(spark) -> int:
    """Uniform bucket count when the caller gives none: 4 × shuffle
    partitions, clamped to [64, 4096]."""
    try:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # e.g. "auto" under some AQE configs
        parts = 200
    return max(64, min(4096, parts * 4))


def _resolve_bucket(df: DataFrame, order_col: str, num_buckets, boundaries):
    """Monotone bucket-id Column for ``order_col`` (shared by running_sum
    and grouped_row_number). ``boundaries``: None → ``num_buckets``
    uniform range buckets over one min/max aggregate; a list → explicit
    ascending cuts. Null keys yield a NULL bucket (never clamp into a
    valid one): F.least/F.greatest skip nulls and the boundary filter
    drops null comparisons, so without the final guard null keys would
    silently land in a bucket with wrong offsets — the partials pass
    raises on them instead."""
    key = F.col(order_col)
    if boundaries is not None:
        # compare against the DOUBLE view of the key (ADVICE r6): cut
        # points are numbers, so a raw timestamp/date key would miscast or
        # fail under ANSI — the same view the uniform path already uses,
        # and double casting is monotone, which is all bucketing needs
        bucket = _boundary_bucket(key.cast("double"), boundaries)
    else:
        # min/max over the DOUBLE view of the key: keeps the driver-side
        # arithmetic type-free (timestamps become epoch seconds, ints/
        # floats pass through); double rounding of an int64 key is
        # monotone non-decreasing, which is all bucketing needs
        kd = key.cast("double")
        bounds = df.agg(F.min(kd), F.max(kd), F.count(F.lit(1))).first()
        if bounds is None or bounds[2] == 0:  # empty input: single bucket
            bucket = F.lit(0).cast("int")
        elif bounds[0] is None:  # rows exist but every key is null
            raise ValueError(
                f"prefix_sum: order key {order_col!r} is null on all rows"
            )
        else:
            if num_buckets is None:
                num_buckets = _default_buckets(df.sparkSession)
            bucket = _uniform_bucket(kd, bounds[0], bounds[1], num_buckets)

    return F.when(key.isNotNull(), bucket)


def _prefix(b: DataFrame, order_cols, value, out_col: str, groups, max_groups: int) -> DataFrame:
    """The two-pass core every caller shares: ``b`` + ``out_col`` =
    inclusive running SUM of the ``value`` Column per ``groups`` tuple,
    rows ordered by (``_psb``, *``order_cols``). ``b`` already carries the
    bucket column ``_psb``, monotone in the order key (``_resolve_bucket``).

    One hash aggregate of per-(bucket, *groups) partial sums, collected —
    ≤ buckets × ``max_groups`` tiny rows, metadata not data; the driver
    runs each group's total in bucket order; the offsets go back as one
    broadcast join and are added to a ROWS window per (bucket, *groups).
    Null buckets (null order keys), null groups and null values raise:
    none has a per-bucket decomposition of the global window. A caller
    without groups passes ``[]`` and ``max_groups`` 1 (the one empty
    group)."""
    field = b.select(value).schema[0]
    integral = isinstance(field.dataType, _INTEGRAL)
    sum_type = "long" if integral else "double"
    keys = ["_psb", *groups]
    partials = (
        b.groupBy(*keys)
        .agg(F.sum(value).cast(sum_type).alias("_n"), F.count_if(value.isNull()).alias("_nulls"))
        .collect()  # bounded: ≤ buckets × max_groups tiny rows (metadata, not data)
    )
    if any(r._psb is None for r in partials):
        raise ValueError(
            f"prefix_sum: order key {order_cols[0]!r} contains nulls — "
            "a global NULLS FIRST order cannot be decomposed per-bucket; "
            "filter or impute null keys upstream"
        )
    for g in groups:
        if any(r[g] is None for r in partials):
            raise ValueError(
                f"prefix_sum: group column {g!r} contains nulls — "
                "make null-group semantics explicit upstream (filter or impute)"
            )
    if any(r._nulls for r in partials):
        raise ValueError(
            f"prefix_sum: value {field.name!r} contains nulls — a running "
            "total has no per-bucket form across them; filter or impute "
            "null values upstream"
        )
    totals: dict = {}
    offsets = []
    for r in sorted(partials, key=lambda r: r._psb):
        g = tuple(r[c] for c in groups)
        offsets.append((r._psb, *g, totals.get(g, 0 if integral else 0.0)))
        totals[g] = offsets[-1][-1] + r._n
    if len(totals) > max_groups:
        raise ValueError(
            f"prefix_sum: {len(totals)} distinct groups exceeds "
            f"max_groups={max_groups} — the per-(bucket, group) partials "
            "collect is only bounded for low-cardinality groups; use a "
            "plain per-group window for high-cardinality groups"
        )
    schema = ", ".join(f"{c} {b.schema[c].dataType.simpleString()}" for c in keys)
    off = b.sparkSession.createDataFrame(offsets, f"{schema}, _psoff {sum_type}")
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(off), keys)
        .withColumn(out_col, (F.col("_psoff") + F.sum(value).over(w)).cast(sum_type))
        .drop("_psb", "_psoff")
    )


def running_sum(
    df: DataFrame,
    order_cols,
    value_col: str,
    out_col: str = "running",
    num_buckets: int | None = None,
    boundaries: list | None = None,
) -> DataFrame:
    """``df`` + ``out_col`` = inclusive running SUM of ``value_col`` over
    rows ordered globally by ``order_cols`` — the distributed equivalent
    of ``F.sum(v).over(Window.orderBy(*order_cols).rowsBetween(
    unboundedPreceding, currentRow))`` without the single-partition
    window (identical output, property-tested).

    ``order_cols``: str or list; the FIRST column is the bucketing key
    and must be numeric (ids, timestamps) and NON-NULL: ``Window.orderBy``
    sorts nulls globally (NULLS FIRST), which no per-bucket decomposition
    on a null key can reproduce, so null keys raise ValueError instead of
    silently dropping rows or misplacing offsets (ADVICE r5). The check is
    free — null keys surface as a null bucket in the partials pass. Null
    VALUES raise too (counted in the same pass): the global window carries
    its total across them, a per-bucket window sum reads null until the
    bucket's first non-null value.

    ``boundaries``: explicit ascending cut points, compared against the
    key's double view (timestamps as epoch seconds); None buckets
    uniformly over the key's min/max. Output is identical under ANY
    monotone bucketing (property-tested).

    The ``df`` subtree is evaluated twice (partials pass + window pass) —
    at scale, read it from columnar storage or persist it upstream; both
    passes push the same pruned schema to the scan.
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    bucket = _resolve_bucket(df, order_cols[0], num_buckets, boundaries)
    return _prefix(df.withColumn("_psb", bucket), order_cols, F.col(value_col), out_col, [], 1)


def global_row_number(
    df: DataFrame,
    order_cols,
    out_col: str = "row_num",
    **kwargs,
) -> DataFrame:
    """1-based global row number ordered by ``order_cols`` — the
    distributed replacement for ``F.row_number().over(Window.orderBy(...))``
    (same single-task WindowExec hazard as the running sum). Implemented
    as the running sum of 1; same contract as running_sum (first order
    column numeric/timestamp; ties get an arbitrary-but-valid order).
    The sequential-example-id assignment a training manifest needs."""
    one = "_ps_one"
    return running_sum(
        df.withColumn(one, F.lit(1).cast("long")), order_cols, one,
        out_col=out_col, **kwargs,
    ).drop(one)


def grouped_row_number(
    df: DataFrame,
    group_col: str,
    order_cols,
    out_col: str = "row_num",
    num_buckets: int | None = None,
    max_groups: int = 256,
) -> DataFrame:
    """1-based row number WITHIN each ``group_col`` value, rows ordered by
    ``order_cols`` — the distributed replacement for
    ``F.row_number().over(Window.partitionBy(group).orderBy(...))`` when
    groups are FEW but HUGE (length buckets, train/val splits, languages):
    the plain window shuffles each entire group through ONE task, so a
    12-bucket corpus runs on 12 tasks no matter how many executors exist.

    The running sum of 1 with the partials keyed on (bucket, group):
    monotone bucket on the order key → per-(bucket, group) counts → each
    group's counts prefix-summed across buckets on the driver → broadcast
    offsets → per-(bucket, group) window. Every stage runs at full
    parallelism; window partitions are bucket-bounded.

    Contract: ``group_col`` must be LOW-cardinality — more than
    ``max_groups`` distinct values raises (the bounded-collect contract;
    for high-cardinality groups the plain per-group window is already
    parallel and should be used instead). Order-key contract as
    ``running_sum``: first order column numeric/timestamp, non-null
    (raises); null GROUP values raise too — a null group is partition-key
    semantics (NULLS grouped together) that the caller should make
    explicit upstream."""
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    bucket = _resolve_bucket(df, order_cols[0], num_buckets, None)
    return _prefix(
        df.withColumn("_psb", bucket), order_cols, F.lit(1), out_col, [group_col], max_groups
    )
