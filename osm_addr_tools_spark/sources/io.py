"""S1/S3 — pages source and partitioned sinks (SURVEY.md §2.1).

Two bindings for the pages table (schema pinned by BASELINE.json
input_hint):

  parquet:<path>   sandbox/testing binding — plain parquet directory
  table:<name>     production binding — an Iceberg (or any catalog) table;
                   requires the catalog configured on the session
                   (spark-submit --packages iceberg-spark-runtime …). Not
                   executable in this sandbox (no Iceberg jar — SURVEY
                   §7.3), therefore config-only and untested here, stated
                   explicitly rather than silently assumed.

Both return the same fixed StructType; no schema inference anywhere
(inference is nondeterministic across file samples — determinism gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_addr_tools_spark.sources.synth import PAGES_DDL

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages table from a source reference (see module doc)."""
    kind, _, loc = source.partition(":")
    if kind == "parquet":
        df = spark.read.schema(PAGES_DDL).parquet(loc)
    elif kind == "table":
        df = spark.read.table(loc)
    else:
        raise ValueError(
            f"unknown pages source {source!r}; expected parquet:<path> or table:<name>"
        )
    return df.select(*PAGES_COLUMNS)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """S3b — bucketed-table sink (beyond-spec; the storage-level
    co-location SURVEY §4 gets from cell_p partition pruning, taken one
    step further): ``bucketBy(buckets, key)`` hashes rows into a FIXED
    bucket layout at write time, so any later equi-join or aggregation on
    ``key`` between tables bucketed the same way runs with ZERO shuffle
    exchanges — Spark proves both sides share the hash partitioning and
    plans a local sort-merge/hash join per bucket (plan-gated in
    tests/test_bucketed.py). At 100 TB this converts the nightly
    "re-join everything on doc_id/cell" workloads from full-corpus
    shuffles into embarrassingly-parallel per-bucket work; the trade is
    the fixed bucket count, chosen once per table (64 here ≈ thousands
    of files at production partition sizes — size to the cluster).

    ``sortBy(key)`` additionally pre-sorts within buckets so sort-merge
    joins skip their sort stage. Uses the session catalog
    (saveAsTable — in-memory catalog works; production would point the
    same call at an Iceberg/HMS catalog, the S1 ``table:`` binding).

    The input is repartitioned on ``key`` to ``buckets`` partitions
    first (ADVICE r5): bucketBy alone makes EVERY upstream task write
    one file per bucket it sees — tasks × buckets files at scale — and
    the sortBy guarantee then holds only per FILE, so readers re-sort
    multi-file buckets anyway. One hash repartition on the same key
    gives task i exactly bucket i's rows: one sorted file per bucket,
    and the shuffle is the same exchange any later key-join would have
    paid once anyway."""
    w = (
        df.repartition(buckets, F.col(key))
        .write.format("parquet")
        .mode(mode)
        .bucketBy(buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
