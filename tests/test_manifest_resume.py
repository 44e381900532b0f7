"""S5 kill-resume gate (SURVEY.md §5.5): a killed conflate stage resumes
recomputing only missing partitions; completed re-runs recompute zero;
final bytes identical to the one-shot run. The upstream plan runs once per
write, and the manifest records exactly the partitions that write created."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osm_addr_tools_spark.plans.conflate import run_conflate
from osm_addr_tools_spark.plans.extract import run_extract
from osm_addr_tools_spark.plans.manifest import (
    MANIFEST_DIR,
    config_hash,
    read_manifest,
    read_output,
    with_part_col,
    write_resumable,
)
from osm_addr_tools_spark.sources import synth as S

N = 100
CONF = {"stage": "conflate", "n": N, "d_max": 10.0}


def _matched():
    return F.col("match_kind") != "create"


@pytest.fixture(scope="module")
def matches(spark):
    addrs = run_extract(spark, S.synth_pages(spark, N), S.synth_gazetteer(spark, N))
    m = run_conflate(
        spark, addrs, S.synth_buildings(spark, N), S.synth_existing(spark, N)
    )
    return with_part_col(m.drop("tags"), level=6).cache()


def _canon(df):
    pdf = df.toPandas().sort_values(["addr_key", "url"]).reset_index(drop=True)
    return pdf[sorted(pdf.columns)]


def test_resume_recomputes_only_missing(spark, matches, tmp_path):
    full_dir = str(tmp_path / "full")
    resume_dir = str(tmp_path / "resumed")

    # one-shot reference run
    s1 = write_resumable(
        spark, matches, full_dir, "conflate", CONF,
        matched_pred=_matched(),
    )
    assert s1["skipped"] == 0 and s1["written"] == s1["planned"] >= 2

    # simulated kill: only half the partitions got written+recorded
    parts = sorted(r.cell_p for r in matches.select("cell_p").distinct().collect())
    half = parts[: len(parts) // 2]
    s2 = write_resumable(
        spark, matches.where(F.col("cell_p").isin(half)), resume_dir, "conflate", CONF,
        matched_pred=_matched(),
    )
    assert s2["written"] == len(half)

    # resume with the full input: must recompute exactly the missing ones
    s3 = write_resumable(
        spark, matches, resume_dir, "conflate", CONF,
        matched_pred=_matched(),
    )
    assert s3["skipped"] == len(half)
    assert s3["written"] == len(parts) - len(half)

    # re-run after completion: zero recomputation (the BASELINE gate)
    s4 = write_resumable(
        spark, matches, resume_dir, "conflate", CONF,
        matched_pred=_matched(),
    )
    assert s4["written"] == 0 and s4["skipped"] == len(parts)

    # outputs identical
    pd.testing.assert_frame_equal(
        _canon(read_output(spark, full_dir)), _canon(read_output(spark, resume_dir))
    )


def test_config_change_invalidates_resume(spark, matches, tmp_path):
    out = str(tmp_path / "cfg")
    write_resumable(spark, matches, out, "conflate", CONF)
    s = write_resumable(spark, matches, out, "conflate", {**CONF, "d_max": 20.0})
    assert s["skipped"] == 0  # different config_hash → full recompute


def test_manifest_records_metrics(spark, matches, tmp_path):
    out = str(tmp_path / "metrics")
    write_resumable(spark, matches, out, "conflate", CONF, matched_pred=_matched())

    m = read_manifest(spark, out).toPandas()
    assert set(m.stage) == {"conflate"}
    assert set(m.config_hash) == {config_hash(CONF)}
    got = m[["part", "rows", "matched"]].sort_values("part").reset_index(drop=True)
    exp = (
        matches.groupBy(F.col("cell_p").alias("part"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(_matched(), 1).otherwise(0)).cast("long").alias("matched"),
        )
        .toPandas()
        .sort_values("part")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert exp.matched.sum() > 0


def test_empty_input_writes_no_manifest(spark, matches, tmp_path):
    out = str(tmp_path / "empty")
    s = write_resumable(
        spark, matches.where(F.lit(False)), out, "conflate", CONF, matched_pred=_matched()
    )
    assert s == {"planned": 0, "skipped": 0, "written": 0, "rows": 0}
    assert not os.path.exists(os.path.join(out, MANIFEST_DIR))


def _jobs_of(spark, group, fn):
    """Run ``fn`` under one job group; returns (result, number of jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_upstream_plan_runs_once(spark, tmp_path):
    """A fresh write evaluates its upstream once: a pandas UDF computing the
    partition column sees every input row exactly once, and the call runs
    fewer jobs than the four-pass form (key pre-pass, write, metrics
    group-by, count: 7 jobs on this frame, its UDF on 6× the rows)."""
    n = 3000
    seen = spark.sparkContext.accumulator(0)

    @pandas_udf("long")
    def part(ids: pd.Series) -> pd.Series:
        seen.add(len(ids))
        return ids % 7

    df = (
        spark.range(0, n, 1, 4)
        .withColumn("cell_p", part("id"))
        .withColumn("match_kind", F.when(F.col("id") % 3 == 0, "create").otherwise("update"))
    )
    s, jobs = _jobs_of(
        spark, f"upstream-once-{tmp_path.name}",
        lambda: write_resumable(
            spark, df, str(tmp_path / "once"), "once", {}, matched_pred=_matched()
        ),
    )
    assert s == {"planned": 7, "skipped": 0, "written": 7, "rows": n}
    assert seen.value == n
    assert jobs < 7


def test_stale_partitions_never_recorded(spark, matches, tmp_path):
    """Partitions another config left in the directory are neither counted
    nor recorded: only the files this write created feed the manifest."""
    out = str(tmp_path / "stale")
    fine = with_part_col(matches.drop("cell_p"), level=10)
    parts = sorted(r.cell_p for r in fine.select("cell_p").distinct().collect())
    assert len(parts) >= 4
    write_resumable(
        spark, fine.where(F.col("cell_p").isin(parts[:4])), out, "conflate", CONF,
        matched_pred=_matched(),
    )
    conf_b = {**CONF, "d_max": 20.0}
    subset = fine.where(F.col("cell_p").isin(parts[:2]))
    s = write_resumable(spark, subset, out, "conflate", conf_b, matched_pred=_matched())
    assert s == {"planned": 2, "skipped": 0, "written": 2, "rows": subset.count()}
    m = read_manifest(spark, out).where(F.col("config_hash") == config_hash(conf_b))
    assert sorted(r.part for r in m.collect()) == parts[:2]


def test_kill_before_manifest_append_rewrites_all(spark, matches, tmp_path):
    """Crash window: data written, manifest never appended (simulated by
    deleting it) → the resume rewrites every partition, same output."""
    out = str(tmp_path / "crash")
    s1 = write_resumable(spark, matches, out, "conflate", CONF, matched_pred=_matched())
    before = _canon(read_output(spark, out))
    shutil.rmtree(os.path.join(out, MANIFEST_DIR))
    s2 = write_resumable(spark, matches, out, "conflate", CONF, matched_pred=_matched())
    assert s2["skipped"] == 0
    assert s2["written"] == s2["planned"] == s1["planned"]
    assert s2["rows"] == s1["rows"] == matches.count()
    pd.testing.assert_frame_equal(before, _canon(read_output(spark, out)))


def test_null_partition_key_resumes(spark, tmp_path):
    """A null partition value is one more key: written once, recorded, and
    skipped on resume without hiding the other keys. The space in the path
    is escaped in the listed file URIs; the metrics scan must still find
    the files."""
    out = str(tmp_path / "null keys")
    df = spark.range(0, 30, 1, 2).withColumn(
        "cell_p", F.when(F.col("id") % 3 != 0, F.col("id") % 3)
    )
    s1 = write_resumable(spark, df.where(~F.col("cell_p").eqNullSafe(2)), out, "nulls", {})
    assert s1 == {"planned": 2, "skipped": 0, "written": 2, "rows": 20}
    s2 = write_resumable(spark, df, out, "nulls", {})
    assert s2 == {"planned": 3, "skipped": 2, "written": 1, "rows": 10}
    assert read_output(spark, out).count() == 30
