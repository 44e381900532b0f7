"""The traced run: per-layer metrics on one workload's own rows.

Session 1 (event log off) runs the warm-up and one untraced pass, the
pass an untraced run measures: the baseline of ``trace.overhead_s``. Session 2
turns on the uncompressed, non-rolling event log, times each layer's public
operators under a job group of its own, counts jobs through the status
tracker, runs one traced pass, and on conflate workloads cross-checks the
engine against ``tests/oracle.py``. The kernels are timed in this process
on the same rows. After the session stops, ``eventlog.py`` turns the log
into the ``spark.*`` and ``py.*`` numbers of the traced pass.
"""

from __future__ import annotations

import glob
import os
import sys
import time
import traceback

import pandas as pd

import eventlog
import gen

UNITS = {
    **{k: "count" for k in ("spark.jobs", "spark.stages", "spark.tasks", "joins.pip_candidates",
                            "joins.knn_candidates", "joins.hot_keys", "manifest.write_jobs",
                            "manifest.resume_jobs", "conflate.cached_blocks_after")},
    **{k: "s" for k in ("spark.run_s", "spark.cpu_s", "py.run_s", "py.start_init_s",
                        "conflate.build_s", "joins.pip_s", "joins.pip_unsalted_s", "joins.knn_s",
                        "extract.s", "manifest.write_s", "manifest.resume_s", "tile.s",
                        "trace.overhead_s")},
    **{k: "MB" for k in ("spark.shuffle_write_mb", "spark.spill_mb", "py.to_workers_mb",
                         "py.from_workers_mb", "manifest.bytes_written")},
    **{k: "1/s" for k in ("cells.encode_rows_per_s", "cells.ring_cells_per_s",
                          "cells.cover_polys_per_s", "normalize.street_rows_per_s",
                          "normalize.similarity_pairs_per_s", "text.extract_pages_per_s",
                          "text.parse_pages_per_s")},
    **{k: "ratio" for k in ("joins.pip_hit_ratio", "joins.knn_keep_ratio",
                            "joins.max_task_skew", "tile.cells_per_polygon")},
    "py.run_ms_per_task": "ms",
}
ORACLE_PAGES = 100  # the size tests/test_conflate_golden.py checks at


def _rate(fn, work: int, min_s: float = 0.3) -> float:
    """Units of ``work`` per second of ``fn``, repeated for at least min_s."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return work * n / dt


def kernel_metrics(meta: dict) -> dict:
    from osm_addr_tools_spark.functions import cells as C
    from osm_addr_tools_spark.functions import normalize as N
    from osm_addr_tools_spark.functions import text as T

    p = meta["paths"]
    addrs = pd.read_parquet(p["addrs"])
    nodes = pd.read_parquet(p["existing"])
    pages = pd.read_parquet(p["pages"])
    rings = [[[(v["lon"], v["lat"]) for v in r] for r in poly]
             for poly in pd.read_parquet(p["buildings"])["rings"]]
    lon, lat = addrs["lon"].to_numpy(), addrs["lat"].to_numpy()
    node_cells = C.cell_encode(nodes["lon"].to_numpy(), nodes["lat"].to_numpy(), gen.KNN_LEVEL)
    node_streets = N.norm_street(pd.Series([t.get("addr:street", "") for t in
                                            map(dict, nodes["tags"])]))
    pairs = pd.MultiIndex.from_product(
        [addrs["street_norm"].unique(), node_streets.unique()]).to_frame(index=False)
    texts = pages["text"].tolist()
    return {
        "cells.encode_rows_per_s": _rate(lambda: C.cell_encode(lon, lat, gen.CONTAINMENT_LEVEL),
                                         len(lon)),
        "cells.ring_cells_per_s": _rate(lambda: C.cell_ring(node_cells, 2), 25 * len(node_cells)),
        "cells.cover_polys_per_s": _rate(
            lambda: [C.cover_polygon(r, gen.CONTAINMENT_LEVEL) for r in rings], len(rings)),
        "normalize.street_rows_per_s": _rate(lambda: N.norm_street(addrs["street"]), len(addrs)),
        "normalize.similarity_pairs_per_s": _rate(
            lambda: N.street_similarity(pairs[0], pairs[1], tau=gen.FUZZY_TAU), len(pairs)),
        "text.extract_pages_per_s": _rate(lambda: T.extract_text(pages["html"]), len(pages)),
        "text.parse_pages_per_s": _rate(
            lambda: [T.parse_addresses_one(t) for t in texts], len(texts)),
    }


class Groups:
    """Runs calls under named job groups; counts their jobs and walls."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}

    def label(self, group: str) -> None:
        if group:
            self.sc.setJobGroup(group, group)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def timed(self, group: str, fn):
        self.label(group)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls[group] = time.perf_counter() - t0
            self.label("")

    def jobs(self, prefix: str) -> int:
        tracker = self.sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g)) for g in self.walls if g.startswith(prefix))


def operator_metrics(spark, meta: dict, salt: dict, work: str, groups: Groups) -> dict:
    from pyspark.sql import functions as F

    from osm_addr_tools_spark.operators.joins import (cell_ring_udf, cover_polygon_udf,
                                                      knn_join, pip_join, with_cell)
    from osm_addr_tools_spark.plans.conflate import run_conflate
    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.plans.manifest import with_part_col, write_resumable
    from osm_addr_tools_spark.plans.tile import run_tile_polygons

    import run as R

    p = meta["paths"]
    read = spark.read.parquet
    pts = read(p["addrs"]).select("url", "addr_key", "lon", "lat")
    unaddressed = read(p["buildings"]).where(
        ~F.map_contains_key("tags", F.lit("addr:housenumber"))).select("building_id", "rings")
    nodes = read(p["existing"]).select("node_id", F.col("lon").alias("c_lon"),
                                       F.col("lat").alias("c_lat"))
    qid, lvl, knn_lvl = ["url", "addr_key"], gen.CONTAINMENT_LEVEL, gen.KNN_LEVEL
    m, t = {}, groups.timed

    def hot_keys():  # the salted joins' histograms: pip at lvl, knn at knn_lvl
        return sum(with_cell(pts, level, out="_cell").groupBy("_cell").count()
                   .where(F.col("count") > salt["hot_threshold"]).count()
                   for level in (lvl, knn_lvl))

    m["joins.hot_keys"] = t("joins.hot_keys", hot_keys)
    hits = t("joins.pip", lambda: pip_join(pts, unaddressed, lvl, salt=True, **salt).count())
    hits_unsalted = t("joins.pip_unsalted", lambda: pip_join(pts, unaddressed, lvl).count())
    cands = t("joins.pip_candidates", lambda: with_cell(pts, lvl, out="_cell").join(
        unaddressed.select(F.explode(cover_polygon_udf(lvl)("rings")).alias("_cell")),
        "_cell").count())
    t("joins.knn", lambda: knn_join(pts, nodes, qid, "node_id", gen.D_MAX_M, k=1, ring_r=2,
                                    salt=True, expand="candidates", **salt).count())
    knn_cands = t("joins.knn_candidates", lambda: with_cell(pts, knn_lvl, out="_cell").join(
        with_cell(nodes, knn_lvl, "c_lon", "c_lat", "_cell")
        .withColumn("_cell", F.explode(cell_ring_udf(2)("_cell"))), "_cell").count())
    in_band = t("joins.knn_band", lambda: knn_join(pts, nodes, qid, "node_id", gen.D_MAX_M,
                                                   k=None, ring_r=2, expand="candidates").count())
    m.update({
        "joins.pip_s": groups.walls["joins.pip"],
        "joins.pip_unsalted_s": groups.walls["joins.pip_unsalted"],
        "joins.pip_candidates": cands,
        "joins.pip_hit_ratio": hits / max(1, cands),
        "joins.knn_s": groups.walls["joins.knn"],
        "joins.knn_candidates": knn_cands,
        "joins.knn_keep_ratio": in_band / max(1, knn_cands),
    })
    if hits != hits_unsalted:
        raise AssertionError(f"salted pip_join found {hits} pairs, unsalted {hits_unsalted}")

    # the plan build runs run_conflate's eager jobs (the pinned ``ex``);
    # the pass itself is timed by the traced pass
    t("conflate.build", lambda: run_conflate(
        spark, read(p["addrs"]), read(p["buildings"]), read(p["existing"]),
        salt=True, pin_inputs=False, **salt))
    m["conflate.build_s"] = groups.walls["conflate.build"]
    m["conflate.cached_blocks_after"] = R.cached_blocks(spark)
    spark.catalog.clearCache()

    t("extract", lambda: run_extract(spark, read(p["pages"]), read(p["gazetteer"]))
      .where("geocoded").write.format("noop").mode("overwrite").save())
    tiles = t("tile", lambda: run_tile_polygons(read(p["buildings"]), gen.TILE_LEVEL).count())
    m.update({"extract.s": groups.walls["extract"], "tile.s": groups.walls["tile"],
              "tile.cells_per_polygon": tiles / meta["properties"]["rows_buildings"]})

    out = os.path.join(work, "out", f"{os.getpid()}-manifest")
    rows = with_part_col(read(p["addrs"]), gen.PART_LEVEL)
    conf = {"layer": "manifest"}
    t("manifest.write", lambda: write_resumable(spark, rows, out, "addrs", conf))
    t("manifest.resume", lambda: write_resumable(spark, rows, out, "addrs", conf))
    m.update({"manifest.write_s": groups.walls["manifest.write"],
              "manifest.resume_s": groups.walls["manifest.resume"],
              "manifest.write_jobs": groups.jobs("manifest.write"),
              "manifest.resume_jobs": groups.jobs("manifest.resume"),
              "manifest.bytes_written": R.dir_bytes(out) / (1024 * 1024)})
    return m


def oracle_errors(spark, salt: dict) -> list[str]:
    """run_conflate on unmodified synthetic inputs vs the O(n^2) oracle."""
    from osm_addr_tools_spark.plans.conflate import run_conflate
    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.sources import synth as S
    from tests.oracle import oracle_matches

    n = ORACLE_PAGES
    got = run_conflate(
        spark, run_extract(spark, S.synth_pages(spark, n), S.synth_gazetteer(spark, n)),
        S.synth_buildings(spark, n), S.synth_existing(spark, n),
        salt=True, pin_inputs=False, **salt,
    ).toPandas()
    exp = oracle_matches(n)
    cols = ["url", "addr_key", "match_kind", "matched_ref", "dist_m"]
    g, e = (d[cols].sort_values(["addr_key", "url"]).reset_index(drop=True) for d in (got, exp))
    if len(g) != len(e):
        return [f"oracle: {len(g)} rows, oracle has {len(e)}"]
    g["matched_ref"], e["matched_ref"] = (d["matched_ref"].astype("float64") for d in (g, e))
    same = g[cols[:4]].fillna(-1).equals(e[cols[:4]].fillna(-1))
    near = (g["dist_m"].fillna(-1) - e["dist_m"].fillna(-1)).abs().max() < 1e-6
    return [] if same and near else ["oracle: conflate output differs from tests/oracle.py"]


def traced_run(spark, runner, start_session, work: str, salt: dict) -> dict:
    """Stops ``spark`` (session 1) and its successor; returns the metrics."""
    untraced = runner.run_pass(spark)  # the pass an untraced run measures
    spark.stop()

    event_dir = os.path.join(work, "events", str(os.getpid()))
    os.makedirs(event_dir, exist_ok=True)
    spark = start_session(event_dir)
    groups = Groups(spark)
    m = kernel_metrics(runner.meta)
    try:  # the layer calls also warm the new session's Python workers
        m.update(operator_metrics(spark, runner.meta, salt, work, groups))
    except Exception as e:  # reported as a wrong run; the traced pass still runs
        traceback.print_exc()
        runner.errors.append(f"layer call failed: {type(e).__name__}: {e}")
    traced = runner.run_pass(spark, label=groups.label)
    if runner.spec["kind"] == "conflate":
        runner.errors += groups.timed("oracle", lambda: oracle_errors(spark, salt))
    spark.stop()
    print("layer call walls: " + " ".join(f"{g}={s:.2f}" for g, s in groups.walls.items()),
          file=sys.stderr, flush=True)

    (log,) = glob.glob(os.path.join(event_dir, "*"))
    by_group = eventlog.read(log)
    # the pass's plan build and writes; ingest's resume calls are excluded
    engine = eventlog.summarize([g for name, g in by_group.items()
                                 if name.startswith("pass.") and not name.startswith("pass.resume")])
    m["joins.max_task_skew"] = eventlog.summarize([by_group.get("joins.pip", {})])["max_task_skew"]
    del engine["max_task_skew"]
    m.update(engine)
    if untraced and traced:
        m["trace.overhead_s"] = traced["pass_s"] - untraced["pass_s"]
    return m
