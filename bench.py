"""Benchmark harness (driver contract + BASELINE.md scaling evidence).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <headline seconds>, "unit": "sec",
 "queries": {name: exec sec, ...},
 "queries_eager": {eager-build name: build-inclusive sec, ...}, "sf": ...,
 plus informational keys}.

The headline is the address-match conflation pipeline (BASELINE.json
metric: address-match join throughput) over the deterministic synthetic
pages table at 1M-pages-per-sf scale; every query is forced to full
materialization through the noop sink (no collect on the driver).

tools/bench_scaling.py wraps this to produce the N-vs-4N evidence in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial


# Engine settings every session of this engine runs with (bench, tests,
# tools/check_oracle.py). Each builder adds only its deployment values:
# master, driver memory, shuffle partitions, app name.
SPARK_CONF = {
    "spark.python.daemon.module": "osm_addr_tools_spark.daemon_prewarm",
    "spark.sql.adaptive.enabled": "true",
    # CPU-heavy Arrow stages must be sized by CORES, not input bytes:
    # with the default 128 MB splits, a 20 MB input collapses to 2-4
    # scan partitions and every downstream pandas-UDF stage serializes
    # (measured: flat wall from local[2] to local[8]). Same for AQE's
    # post-shuffle coalescing ahead of the PIP-refine stage.
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    # let AQE coalesce below the default 1 MB floor: with
    # parallelismFirst (default true) post-shuffle partition count then
    # tracks cores, so CPU-heavy Arrow stages keep full parallelism on
    # small-byte shuffles too
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "5000",
    "spark.ui.enabled": "false",
}


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config(map=SPARK_CONF)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", str(max(cpus * 2, 16))),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .appName("osm-addr-tools-spark-bench")
        .getOrCreate()
    )


def materialize(df) -> int:
    """Force full computation of every column; return row count."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def materialize_inputs(spark, n_pages: int, base: str) -> None:
    """Pre-materialize the conflation inputs to parquet (untimed setup):
    the headline metric is address-match JOIN throughput over stored
    tables (BASELINE.json), not synthetic-generation/extraction wall.
    Extraction has its own timed entry."""
    import os

    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.sources import synth as S

    if os.path.exists(f"{base}/_done_{n_pages}"):
        return
    addrs = run_extract(
        spark, S.synth_pages(spark, n_pages), S.synth_gazetteer(spark, n_pages)
    )
    # 64 files each: read parallelism never bottlenecks on file count,
    # whatever core count later reads these
    addrs.where("geocoded").repartition(64).write.mode("overwrite").parquet(f"{base}/addrs")
    S.synth_buildings(spark, n_pages).repartition(64).write.mode("overwrite").parquet(f"{base}/buildings")
    S.synth_existing(spark, n_pages).repartition(64).write.mode("overwrite").parquet(f"{base}/existing")
    open(f"{base}/_done_{n_pages}", "w").write("ok")


# Registered queries timed after the four conflation-pipeline entries.
BENCH_QUERIES = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "brand_revenue_broadcast",
    "events_running_cents",
    "geo_knn_nearest_supplier",
    "geo_distance_band_count",
    "emb_cosine_top3",
    "dedup_minhash_components",
    "emb_ann_lsh_top3",
    "dedup_simhash",
    "docs_winnow_partial_dups",
    "geo_customer_clusters",
    "docs_token_shards",
    "emb_dedup_retention",
    "docs_pack_assign",
    "docs_decontaminate",
    "docs_repetition_filter",
    "docs_boilerplate_removal",
    "docs_dup_spans",
    "docs_quality_classifier",
    "docs_paragraph_dedup",
    "docs_shuffle_order",
    "docs_incremental_dedup",
    "docs_bpe_token_stats",
    "docs_training_manifest",
    "docs_mix_epoch",
    "docs_spans_applied",
)

# Bench queries whose connected-components loop (or BPE merge fold) runs
# eagerly at plan build: their cluster work is in the build phase, so the
# exec wall of the final write misses it. The result line also carries
# their build-inclusive walls ("queries_eager").
EAGER_BUILD_QUERIES = (
    "dedup_minhash_components",
    "geo_customer_clusters",
    "emb_dedup_retention",
    "docs_incremental_dedup",
    "docs_bpe_token_stats",
    "docs_training_manifest",
)


def bench_queries(spark, sf_dir: str, n_pages: int, base: str):
    from pyspark.sql import functions as F

    from osm_addr_tools_spark import queries as Q
    from osm_addr_tools_spark.plans.conflate import run_conflate
    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.plans.tile import run_tile_polygons
    from osm_addr_tools_spark.sources import synth as S

    def conflate_join():
        """Headline: the conflation join phase over stored inputs.

        pin_inputs=False — the inputs are already parquet; re-scanning
        columnar storage per evidence join keeps the whole conflation ONE
        job (no per-job serial floor; that floor capped round-1 N→4N
        scaling efficiency at 0.704)."""
        addrs = spark.read.parquet(f"{base}/addrs").withColumn(
            "geocoded", F.lit(True)
        )
        return run_conflate(
            spark,
            addrs,
            spark.read.parquet(f"{base}/buildings"),
            spark.read.parquet(f"{base}/existing"),
            salt=True,
            pin_inputs=False,
            hot_threshold=100_000,
            rows_per_task=50_000,
        )

    def conflate_pipeline():
        addrs = run_extract(
            spark, S.synth_pages(spark, n_pages), S.synth_gazetteer(spark, n_pages)
        )
        return run_conflate(
            spark,
            addrs,
            S.synth_buildings(spark, n_pages),
            S.synth_existing(spark, n_pages),
            salt=True,
            hot_threshold=100_000,
            rows_per_task=50_000,
        )

    return {
        "conflate_join": conflate_join,
        "conflate_pipeline": conflate_pipeline,
        "extract_only": lambda: run_extract(
            spark, S.synth_pages(spark, n_pages), S.synth_gazetteer(spark, n_pages)
        ),
        "tile_polygons": lambda: run_tile_polygons(
            S.synth_buildings(spark, n_pages), level=16
        ),
        **{name: partial(Q.QUERIES[name], spark, sf_dir) for name in BENCH_QUERIES},
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = 0.1
    n_pages = int(os.environ.get("SPARK_GRAFT_N_PAGES", str(max(1000, int(1_000_000 * sf)))))

    # n_pages in the directory name: a marker file alone can't invalidate
    # inputs when the SAME dir is reused at a different n_pages
    base = os.environ.get(
        "SPARK_GRAFT_BENCH_DIR", f"/tmp/spark_graft_bench_{sf}_{n_pages}"
    )
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # untimed setup: stored conflation inputs for the headline join metric,
    # plus a 1/50-scale copy used ONLY to warm codegen/worker pools
    materialize_inputs(spark, n_pages, base)
    n_warm = max(1000, n_pages // 50)
    warm_base = f"{base}_warm"
    materialize_inputs(spark, n_warm, warm_base)

    # Warmup: exercise every UDF/plan shape once at 1/50 scale so the
    # Python worker pool (2× cores when Arrow stages run concurrently) is
    # fully spawned, imports are done (prewarm daemon covers the heavy
    # ones) and whole-stage codegen is compiled for every plan shape —
    # including conflate_join itself, against the small stored copy.
    # Cold-start is a per-session fixed cost that amortizes to zero at
    # production scale; the benchmark reports steady-state throughput.
    # spawn the FULL Python worker pool up front (2× cores under concurrent
    # Arrow stages). A single job can run at most `cpus` tasks at once
    # under local[cpus], forking only ~one worker per core (ADVICE r2 #5),
    # so run TWO Arrow-UDF jobs CONCURRENTLY from a thread pool — each
    # holds its workers for the duration of its tasks, forcing ~2×cores
    # forks before timing. Each task sleeps briefly so the two jobs
    # genuinely overlap instead of racing through the queue.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("double")
    def _warm_udf(x):
        import time as _t

        _t.sleep(0.2)
        return x * 1.0

    def _warm_job(_):
        spark.range(0, cpus * 2, 1, cpus).select(
            _warm_udf(col("id").cast("double"))
        ).write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(_warm_job, range(2)))

    warm = bench_queries(spark, sf_dir, n_warm, warm_base)
    for name in ("conflate_join", "conflate_pipeline", "q1_pricing_summary",
                 "emb_cosine_top3"):
        warm[name]().write.format("noop").mode("overwrite").save()

    qs = bench_queries(spark, sf_dir, n_pages, base)
    # SPARK_GRAFT_BENCH_ONLY: comma-separated query subset (tools/
    # bench_scaling.py sets it to the headline — the N→4N efficiency is
    # defined on conflate_join alone, and skipping the other 14 queries
    # lets the scaling protocol afford more repeats against host jitter)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {k.strip() for k in only.split(",")}
        qs = {k: v for k, v in qs.items() if k in keep}
    # The host under this microVM carries bursty external load (up to 3×
    # wall inflation for tens of seconds — measured: the SAME conflate
    # plan 20 s and 49 s in adjacent sessions, a trivial JVM groupBy 0.8 s
    # and 41 s). Each query therefore runs SPARK_GRAFT_QUERY_REPEATS times
    # (default 2) and reports the best wall — the run least polluted by
    # host noise — with every raw sample preserved in "samples".
    # (tools/bench_scaling.py pins this to 1: its OUTER best-of-N across
    # fresh JVMs is the noise filter there.)
    repeats = int(os.environ.get("SPARK_GRAFT_QUERY_REPEATS", "2"))
    # VERDICT r5 #6: two consecutive driver records drifted the headline
    # +13% the same direction inside the documented jitter band — band-
    # reading is not a trend signal. The HEADLINE query runs best-of-≥4
    # (the other queries stay at the default budget); explicitly pinned
    # SPARK_GRAFT_QUERY_REPEATS (tools/bench_scaling.py sets 1 — its
    # outer best-of-N across fresh JVMs is the noise filter there) wins.
    headline_repeats = int(
        os.environ.get(
            "SPARK_GRAFT_HEADLINE_REPEATS",
            str(repeats if "SPARK_GRAFT_QUERY_REPEATS" in os.environ else max(repeats, 4)),
        )
    )
    timings: dict[str, float] = {}
    exec_timings: dict[str, float] = {}
    algo_timings: dict[str, float] = {}
    samples: dict[str, list[list[float]]] = {}
    sentinel_walls: list[float] = []
    last_df: dict = {}

    def _sentinel():
        # Host-load sentinel (VERDICT r6 #3): the SAME trivial JVM-only
        # aggregate timed before the first query and after the last — a
        # fixed-cost yardstick that makes records comparable across
        # sessions on this jittery host. A 3× spread between the two
        # sentinel walls marks the whole record as load-polluted.
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, cpus).groupBy(
            (F.col("id") % 97).alias("k")
        ).count().write.format("noop").mode("overwrite").save()
        sentinel_walls.append(round(time.perf_counter() - t0, 3))

    def _run_once(name: str, make) -> None:
        # Build and execution timed separately. Plan construction +
        # Catalyst analysis is a DRIVER-side fixed cost (~15 s for the
        # conflate plan, identical at every parallelism level and input
        # size) — on a real cluster it compiles once per hours-long job,
        # so the throughput/scaling metric uses execution wall. For
        # pipelines with eager materialization points (conflate_pipeline's
        # pins) the build phase performs real cluster work, so the
        # build-inclusive wall is ALSO reported (and remains the
        # comparable round-1 definition).
        t0 = time.perf_counter()
        df = make()
        t1 = time.perf_counter()
        materialize(df)
        t2 = time.perf_counter()
        samples.setdefault(name, []).append(
            [round(t2 - t0, 3), round(t2 - t1, 3)]
        )
        # only the headline frame is needed later (match_rows count);
        # retaining every df would pin eagerly-materialized state —
        # docs_training_manifest's localCheckpoint blocks — on the
        # executors through every subsequent timed run
        if name == "conflate_join":
            last_df[name] = df
        # release the frames the run pinned — otherwise repeated
        # invocations hold |docs|-sized caches for the rest of the session
        from osm_addr_tools_spark.cache import release_pinned

        release_pinned()

    # VERDICT r6 #3: repeats run INTERLEAVED (round-robin passes over the
    # whole query set, not back-to-back per query) so one loaded host
    # window inflates one pass of many queries instead of every repeat of
    # one query — at repeats=2 back-to-back, a 30 s load burst made two
    # unchanged dedup queries read as a 1.74× regression in the r6 record.
    # Queries whose best exec wall still exceeds SLOW_EXEC_SEC after the
    # base passes get adaptive extra passes (best-of-3): the slow walls
    # are exactly the ones a single polluted window distorts most.
    SLOW_EXEC_SEC = 2.0
    # An EXPLICIT SPARK_GRAFT_QUERY_REPEATS pin disables the adaptive
    # extra passes entirely: tools/bench_scaling.py pins 1 (its outer
    # best-of-N across fresh JVMs is the noise filter — adaptive
    # in-JVM extras would silently turn each "cold" sample into a
    # min-of-3 warm one and change the efficiency definition) and
    # tools/bench_trend.py pins 2 for the same reason.
    adaptive = "SPARK_GRAFT_QUERY_REPEATS" not in os.environ
    _sentinel()
    max_passes = max(headline_repeats, repeats, 3 if adaptive else 0)
    for p in range(max_passes):
        for name, make in qs.items():
            want = headline_repeats if name == "conflate_join" else repeats
            done = len(samples.get(name, []))
            if p < want:
                pass  # scheduled base repeat for this pass
            elif (
                adaptive
                and 0 < done < max(want, 3)
                and min(s[1] for s in samples[name]) > SLOW_EXEC_SEC
            ):
                pass  # adaptive extra repeat: still slow after base passes
            else:
                continue
            _run_once(name, make)
    _sentinel()

    for name in samples:
        timings[name] = min(s[0] for s in samples[name])
        exec_timings[name] = min(s[1] for s in samples[name])
        # VERDICT r4 #3: the third per-query number. For queries whose
        # algorithm runs EAGERLY at plan-build time (EAGER_BUILD_QUERIES),
        # the build wall IS cluster work — report
        # it explicitly so the 30 ms exec wall can't be misread as the
        # query's cost. For everything else it is driver-side Catalyst
        # analysis only.
        algo_timings[name] = min(round(s[0] - s[1], 3) for s in samples[name])

    headline = exec_timings.get("conflate_join")
    # row count for throughput (cheap second pass over cached plan would
    # skew timings; count separately, not timed)
    match_rows = (
        last_df["conflate_join"].count() if "conflate_join" in last_df else 0
    )
    # VERDICT r4 #2 / r6 #1: the result line MUST fit the driver's
    # 2000-char stdout capture. r6 put the three per-query dicts on the
    # line and at 27 queries it grew to 2704 chars → BENCH_r06.json
    # parsed: null. The line carries the headline aggregates, the exec
    # walls (~1.3k chars at 31 queries) and the build-inclusive walls of
    # the six EAGER_BUILD_QUERIES (~220 chars); every other build wall,
    # the algo walls and the raw samples live in detail_file, and a hard
    # length check makes an overflow impossible to reintroduce silently.
    out = {
        "metric": "address-match join exec wall (per-query walls in detail_file)",
        "value": headline,
        "unit": "sec",
        "repeats": repeats,
        "headline_repeats": headline_repeats,
        "sf": sf,
        "n_pages": n_pages,
        "n_queries": len(qs),
        "match_rows": match_rows,
        "throughput_rows_per_sec": round(match_rows / headline, 1) if headline else None,
        "cpus": cpus,
        "sentinel_sec": sentinel_walls,
        "detail_file": "BENCH/SAMPLES_last_run.json",
        "queries": exec_timings,
        "queries_eager": {
            name: timings[name] for name in EAGER_BUILD_QUERIES if name in timings
        },
    }
    spark.stop()
    # the build-inclusive walls, algo walls and raw samples go to the side
    # file only (tools/bench_scaling.py and tools/bench_trend.py read the
    # build-inclusive walls there)
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SAMPLES_last_run.json", "w") as f:
        json.dump(
            {
                **out,
                "queries_build": timings,
                "queries_algo": algo_timings,
                "samples": samples,
            },
            f,
            indent=1,
        )
    line = json.dumps(out)
    if len(line) >= 1800:  # raise, not assert: python -O strips asserts
        raise ValueError(
            f"bench result line is {len(line)} chars — the driver captures "
            f"only the last 2000 chars of stdout (BENCH_r04/r06 parsed: "
            f"null); move whatever grew into BENCH/SAMPLES_last_run.json"
        )
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
