"""S1 — pages source (SURVEY.md §2.1).

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
