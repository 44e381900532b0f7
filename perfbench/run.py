#!/usr/bin/env python3
"""Address-engine benchmark: closed-loop import passes on local[4].

    python3 perfbench/run.py --workload conflate_city_hot --seed 1 \\
        --seconds 3 --trace 0

Run from the repository root. One driver process starts one SparkSession
on ``local[4]`` and runs one pass at a time, each through the same public
entry points ``tools/submit_job.py`` calls (``plans.extract``,
``plans.conflate``, ``plans.tile``, ``plans.manifest``), and checks every
pass's output against the expected output the seeded generator
(``gen.py``) derives independently. Everything the run writes stays under
``.perfbench_work/`` in the working directory; inputs are cached there per
workload and seed. The result line is printed only after the JVM, the
Python daemon and every worker the run started have ended.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
untraced pass, then a second session with the Spark event log on, times
each layer's public operators and kernels on the workload's own rows under
its own job group, runs one traced pass, and reports the per-layer metrics
(``layers.py``). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

# one salting pair for both conflate workloads: the city_hot hot cell
# (~1.2k addresses) is 3x the threshold; no region cell holds more than 2
SALT = {"hot_threshold": 400, "rows_per_task": 200}
WORKLOADS = {
    "conflate_city_hot": dict(kind="conflate", n_addrs=4000, n_towns=1, hot_share=0.30,
                              n_pages=1000, hot=True),
    "conflate_region": dict(kind="conflate", n_addrs=16000, n_towns=4, hot_share=0.0,
                            n_pages=1000, hot=False),
    "ingest_write": dict(kind="ingest", n_addrs=3200, n_towns=4, hot_share=0.0,
                         n_pages=2500, hot=False),
}
UNITS = {"setup_s": "s", "pass_s": "s", "peak_pss_mb": "MB"}


class PeakPss(threading.Thread):
    """Peak summed proportional set size (PSS) of every process below this
    one: the driver JVM, the Python daemon and its workers. PSS divides each
    shared page among the processes that map it; summed RSS would count the
    pages the forked workers share with the daemon once per worker, and jump
    with every fork."""

    PERIOD_S = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_b = 0
        self._halt = threading.Event()

    @staticmethod
    def descendants() -> list[int]:
        kids = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:  # the process ended while listing
                    continue
                kids.setdefault(ppid, []).append(int(d))
        out, todo = [], list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo += kids.get(pid, [])
        return out

    def sample(self) -> int:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += sum(int(line.split()[1]) * 1024 for line in f
                                 if line.startswith("Pss:"))
            except OSError:
                continue
        return total

    def run(self):
        while not self._halt.wait(self.PERIOD_S):
            self.peak_b = max(self.peak_b, self.sample())

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._halt.set()
        self.join()
        return self.peak_b / (1024 * 1024)


def start_session(event_dir: str | None = None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.builder.master("local[4]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        # bench.py's sizing: post-shuffle partitions track the cores even
        # when the shuffled bytes are small, so Arrow stages stay parallel
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.python.daemon.module", "osm_addr_tools_spark.daemon_prewarm")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def no_label(name: str) -> None:
    pass


def conflate_pass(spark, meta: dict, out: str, conf: dict, label=no_label) -> dict:
    """run_conflate over the stored inputs into a parquet sink."""
    from osm_addr_tools_spark.plans.conflate import run_conflate

    p = meta["paths"]
    label("pass.build")
    t0 = time.perf_counter()
    m = run_conflate(spark, spark.read.parquet(p["addrs"]), spark.read.parquet(p["buildings"]),
                     spark.read.parquet(p["existing"]), salt=True, pin_inputs=False, **SALT)
    t1 = time.perf_counter()
    label("pass.write.conflate")
    m.write.mode("overwrite").parquet(out)
    t2 = time.perf_counter()
    return {"pass_s": t2 - t0, "build_s": t1 - t0, "write_s": t2 - t1,
            "outputs": {"conflate": out}}


def ingest_pass(spark, meta: dict, out: str, conf: dict, label=no_label) -> dict:
    """submit_job's extract and tile stages over stored pages, gazetteer and
    buildings; each write_resumable runs once to write, once to resume."""
    from pyspark.sql import functions as F

    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.plans.manifest import with_part_col, write_resumable
    from osm_addr_tools_spark.plans.tile import run_tile_polygons

    import gen

    p = meta["paths"]
    res = {"pass_s": 0.0, "resume_s": 0.0, "build_s": 0.0, "write_s": 0.0, "resumed": True,
           "outputs": {"extract": os.path.join(out, "extract"), "tile": os.path.join(out, "tile")}}

    def stage(name, make, part_col):
        label("pass.build")
        t0 = time.perf_counter()
        df = make()
        t1 = time.perf_counter()
        label(f"pass.write.{name}")
        first = write_resumable(spark, df, res["outputs"][name], name, conf, part_col=part_col)
        t2 = time.perf_counter()
        label(f"pass.resume.{name}")
        again = write_resumable(spark, df, res["outputs"][name], name, conf, part_col=part_col)
        t3 = time.perf_counter()
        res["pass_s"] += t2 - t0
        res["resume_s"] += t3 - t2
        res["build_s"] += t1 - t0
        res["write_s"] += t2 - t1
        res["resumed"] &= again["written"] == 0 and first["written"] > 0

    stage("extract", lambda: with_part_col(run_extract(
        spark, spark.read.parquet(p["pages"]), spark.read.parquet(p["gazetteer"]),
    ).where("geocoded"), gen.PART_LEVEL), "cell_p")
    stage("tile", lambda: run_tile_polygons(spark.read.parquet(p["buildings"]), gen.TILE_LEVEL)
          .withColumn("cell_p", F.lit(0)), "cell_p")
    return res


def check(meta: dict, kind: str, outputs: dict) -> list[str]:
    """Compare the pass output with the generator's expected digests."""
    import pyarrow.dataset as ds

    import gen

    def load(path):
        return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()

    errors = []
    if kind == "conflate":
        got = load(outputs["conflate"])
        kinds = got["match_kind"].value_counts().sort_index().to_dict()
        if kinds != meta["kinds"]:
            errors.append(f"match_kind counts {kinds} != {meta['kinds']}")
        if gen.digest(got, gen.CONFLATE_DIGEST_COLS) != meta["digest"]:
            errors.append("conflate row digest differs")
    else:
        got = load(outputs["extract"])
        got["cell_p"] = got["cell_p"].astype("int64")  # hive partition values read as text
        if gen.digest(got, gen.EXTRACT_DIGEST_COLS) != meta["digest"]:
            errors.append("extract row digest differs")
        if gen.digest(load(outputs["tile"]), gen.TILE_DIGEST_COLS) != meta["tile_digest"]:
            errors.append("tile row digest differs")
    return errors


class Runner:
    """Runs, checks and counts the passes of one workload."""

    def __init__(self, name: str, seed: int, meta: dict):
        self.spec, self.meta = WORKLOADS[name], meta
        self.conf = {"workload": name, "seed": seed, **SALT}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._n = 0

    def run_pass(self, spark, label=no_label) -> dict | None:
        """One pass into a fresh output directory; None when it failed."""
        out = os.path.join(WORK, "out", f"{os.getpid()}-{self._n}")
        self._n += 1
        self.attempted += 1
        run = conflate_pass if self.spec["kind"] == "conflate" else ingest_pass
        try:
            cpu0 = host_cpu()
            res = run(spark, self.meta, out, self.conf, label)
            res.update({k: b - a for k, a, b in zip(("cpu_s", "steal_s"), cpu0, host_cpu())})
            errors = check(self.meta, self.spec["kind"], res["outputs"])
            if not res.get("resumed", True):
                errors.append("resume rewrote partitions")
        except Exception as e:  # a failed pass counts against fail_ratio
            traceback.print_exc()
            res, errors = None, [f"{type(e).__name__}: {e}"]
        finally:
            label("")
            spark.catalog.clearCache()  # passes stay independent
        shutil.rmtree(out, ignore_errors=True)
        print(f"pass {self._n - 1}: " + (" ".join(f"{k}={v:.3f}" for k, v in res.items()
                                                    if k.endswith("_s")) if res else "failed")
              + f" processes={len(PeakPss.descendants())}", file=sys.stderr, flush=True)
        if errors:
            self.failed += 1
            self.errors += errors
            return None
        return res


def host_cpu() -> tuple[float, float]:
    """CPU seconds the machine has been busy, and stolen from it by the
    hypervisor, since boot (/proc/stat, all CPUs)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


def cached_blocks(spark) -> int:
    """Storage blocks held by cached RDDs (the JVM SparkContext's
    getRDDStorageInfo developer API)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    WORK, and let the workers import the engine from the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def measure(spark, runner: Runner, seconds: float) -> list[dict]:
    """Closed loop: one pass after another until ``seconds`` have passed
    and one pass succeeded."""
    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        res = runner.run_pass(spark)
        if res is not None:
            passes.append(res)
        elif runner.failed > 3 + len(passes):
            break  # failing every time: stop rather than spin
    return passes


def main(argv=None) -> int:
    args = parse_args(argv)
    import osm_addr_tools_spark  # noqa: F401  fail fast outside a checkout of the engine

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so that stop_all still runs
    adopt_orphans()
    try:
        result = run(args)
    finally:
        stop_all()
    # printed once every process this run started has ended
    print(json.dumps(result))
    return 0


def run(args) -> dict:
    """Set up, run the workload's passes and return the result line."""
    import gen

    spec = {"name": args.workload, **WORKLOADS[args.workload]}
    prepare_env()
    meta = gen.make_inputs(spec, args.seed,
                           os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}-{gen.source_hash()}"),
                           SALT["hot_threshold"])
    print(f"inputs {json.dumps(meta['properties'], sort_keys=True)}", flush=True)
    runner = Runner(args.workload, args.seed, meta)
    validity = validity_errors(spec, meta["properties"]["hot_cells_containment"]
                               + meta["properties"]["hot_cells_knn"])

    mem = PeakPss()
    mem.start()
    t0 = time.perf_counter()
    spark = start_session()
    runner.run_pass(spark)  # warm-up: same plan shape, output checked too
    setup_s = time.perf_counter() - t0

    if args.trace:
        import layers

        units = layers.UNITS
        metrics = layers.traced_run(spark, runner, start_session, WORK, SALT)
        mem.stop()
        validity += validity_errors(spec, metrics.get("joins.hot_keys", 0))
    else:
        units = UNITS
        passes = measure(spark, runner, args.seconds)
        pass_s = statistics.median(r["pass_s"] for r in passes) if passes else float("nan")
        metrics = {"setup_s": setup_s, "pass_s": pass_s, "peak_pss_mb": mem.stop()}
        extra = {"rows_per_s": meta["rows"] / pass_s, "fail_ratio": runner.failed / runner.attempted}
        if passes and "resume_s" in passes[0]:
            extra["resume_s"] = statistics.median(r["resume_s"] for r in passes)
        print(f"{args.workload} seed={args.seed} passes={len(passes)} "
              + " ".join(f"{k}={v:.4f} {({**units, 'rows_per_s': '1/s', 'resume_s': 's'}).get(k, '')}".rstrip()
                         for k, v in {**metrics, **extra}.items()))

    missing = [k for k in units if not math.isfinite(metrics.get(k, math.nan))]
    if missing:
        validity.append(f"not measured: {', '.join(missing)}")
    for e in runner.errors + validity:
        print(f"error: {e}", file=sys.stderr)
    return {
        "correct": not runner.errors and not validity,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k] if k not in missing else 0.0, "unit": u}
                    for k, u in units.items()},
    }


PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts. The JVM
    forks the Python daemon, which forks the workers; when the JVM exits
    first they are re-parented here instead of to init, so ``stop_all``
    can still find and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap() -> None:
    """Collect every child that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 20.0) -> None:
    """Stop the session and the gateway JVM (closing its stdin is PySpark's
    shutdown signal), then wait until every process below this one has
    ended: the Python daemon leaves when the JVM does and takes its workers
    with it. What is still alive after ``grace_s`` is killed."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # the JVM may already be gone
            traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        try:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=grace_s)
        except (OSError, subprocess.TimeoutExpired):
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        reap()
        pids = PeakPss.descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def validity_errors(spec: dict, hot: int) -> list[str]:
    """A hot workload must have a key above the salting threshold; the
    others must have none."""
    if spec["hot"] and hot == 0:
        return [f"{spec['name']}: no key above hot_threshold"]
    if not spec["hot"] and hot > 0:
        return [f"{spec['name']}: {hot} keys above hot_threshold"]
    return []


if __name__ == "__main__":
    sys.exit(main())
