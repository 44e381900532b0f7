"""S5 — checkpoint manifest: per-partition lineage + metrics, resumable
writes (SURVEY.md §2.1 S5, §2.4 J6b; BASELINE north_star: "every partition
writes lineage + row-count/match-rate metrics to a checkpoint manifest so a
killed job resumes without recomputation").

Design (deliberately NOT Spark ``checkpoint()`` — RDD truncation is not
resumable across driver restarts):

* stage output is written ``partitionBy(part_col)`` with dynamic partition
  overwrite — a re-run of a partition atomically replaces its directory;
* the upstream plan runs once, in that write: no key pre-pass, no
  re-evaluation for metrics. The rows and ``matched`` count of each
  written partition come from a columnar scan of the data files the write
  created (the listing after it minus the listing before it), so stale
  partitions from another config or a crashed run are never recorded;
  ``matched_pred`` therefore sees the written columns, by name;
* the manifest (``<out>/_manifest`` parquet, leading underscore so data
  readers ignore it) is appended ONLY after a write job succeeds, one row
  per written partition key: (stage, config_hash, part value as long,
  rows, matched, wall_ms);
* resume = the input minus the partition keys the manifest records for
  (stage, config_hash) — completed partitions are never recomputed; a
  config change (different config_hash) invalidates resume.

Crash window: if the job dies between the data write and the manifest
append, the partitions are rewritten on resume (identical bytes — the
pipeline is deterministic), i.e. at-least-once with idempotent overwrite.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from urllib.parse import unquote

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"

MANIFEST_SCHEMA = (
    "stage string, config_hash string, part long, rows long, "
    "matched long, wall_ms long"
)


def config_hash(conf: dict) -> str:
    return hashlib.sha256(
        json.dumps(conf, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def _read_parquet(spark: SparkSession, schema, path: str) -> DataFrame | None:
    """``path`` read with a user schema (no footer read, no job), or None
    if it does not exist yet."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        # absent path (fresh job) → None; anything else (storage errors,
        # corruption) raises — treating a lost manifest as absent would
        # silently re-run every completed partition of a 100 TB job
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return None


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return _read_parquet(spark, MANIFEST_SCHEMA, os.path.join(out_dir, MANIFEST_DIR))


def completed_parts(
    spark: SparkSession, out_dir: str, stage: str, cfg_hash: str
) -> DataFrame | None:
    m = read_manifest(spark, out_dir)
    if m is None:
        return None
    return (
        m.where((F.col("stage") == stage) & (F.col("config_hash") == cfg_hash))
        .select("part")
        .distinct()
    )


def _data_files(spark: SparkSession, out_dir: str, schema) -> set[str]:
    """The data files under ``out_dir`` (none before the first write);
    ``inputFiles()`` only lists."""
    data = _read_parquet(spark, schema, out_dir)
    return set(data.inputFiles()) if data is not None else set()


def write_resumable(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    stage: str,
    conf: dict,
    part_col: str = "cell_p",
    matched_pred=None,
) -> dict:
    """Write ``df`` partitioned by ``part_col``, skipping partitions already
    recorded in the manifest for (stage, config_hash(conf)).

    The upstream plan of ``df`` runs once, in the write itself. The
    partition keys and metrics come from the data files this write
    created (listed before and after, read back with ``basePath`` so
    ``part_col`` returns), grouped by ``part_col``: stale partitions left
    by another config or a crashed run are never counted or recorded.

    Returns {"planned", "skipped", "written", "rows"}: ``skipped`` is the
    number of keys already recorded for (stage, config_hash), ``written``
    the number of partitions this write created, ``planned = skipped +
    written`` and ``rows`` the rows written.

    ``matched_pred``: optional Column → per-partition ``matched`` count
    (match-rate metric in the manifest). It is evaluated over the written
    columns, resolved by name (e.g. ``F.col("match_kind") != "create"``).
    The manifest stores the partition value cast to ``long``; it is
    appended only after the data write succeeds.
    """
    cfg = config_hash(conf)
    recorded = completed_parts(spark, out_dir, stage, cfg)
    done = [r.part for r in recorded.collect()] if recorded is not None else []
    work = df
    if done:
        # null keys are kept out of the IN list (one null there makes the
        # negation null for every row); a null part is done iff recorded
        keys = [k for k in done if k is not None]
        work = df.where(~F.coalesce(F.col(part_col).isin(keys), F.lit(None in done)))

    before = _data_files(spark, out_dir, df.schema)
    t0 = time.perf_counter()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        work.write.partitionBy(part_col).mode("overwrite").parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    wall_ms = int((time.perf_counter() - t0) * 1000)

    # inputFiles() gives URIs; unquote so a path with an escaped character
    # (a space, a %XX partition value) is not escaped a second time
    new = sorted(unquote(f) for f in _data_files(spark, out_dir, df.schema) - before)
    per_part = []  # one row per written partition
    if new:
        matched_expr = (
            F.sum(F.when(matched_pred, 1).otherwise(0))
            if matched_pred is not None
            else F.lit(0)
        )
        metrics = (
            spark.read.schema(df.schema).option("basePath", out_dir).parquet(*new)
            .groupBy(F.col(part_col).cast("long").alias("part"))
            .agg(F.count(F.lit(1)).alias("rows"), matched_expr.cast("long").alias("matched"))
            .select(
                F.lit(stage).alias("stage"), F.lit(cfg).alias("config_hash"),
                "part", "rows", "matched", F.lit(wall_ms).cast("long").alias("wall_ms"),
            )
        )
        per_part = metrics.collect()
        metrics.write.mode("append").parquet(os.path.join(out_dir, MANIFEST_DIR))
    return {
        "planned": len(done) + len(per_part),
        "skipped": len(done),
        "written": len(per_part),
        "rows": sum(r.rows for r in per_part),
    }


def with_part_col(df: DataFrame, level: int = 6) -> DataFrame:
    """Standard physical partition column ``cell_p``: coarse cell of the
    row's (lon, lat) point (SURVEY §4: sink partitioned by cell prefix →
    partition pruning on reads, locality for downstream cell joins)."""
    from osm_addr_tools_spark.operators.joins import cell_encode_udf

    return df.withColumn("cell_p", cell_encode_udf(level)(F.col("lon"), F.col("lat")))
