"""Two-parallelism scaling evidence (BASELINE.md / driver north_rule).

The north_rule's criterion — ≥0.8 throughput-scaling efficiency from N to
4N executors — cannot use a real cluster in this sandbox; per the driver's
instruction it is evidenced by running the SAME job at two local
parallelism levels on the SAME input and reporting throughput at both.

Runs bench.py in fresh subprocesses (fresh JVM each — no warm-worker
bleed-through) at local[N] and local[4N], computes
    efficiency = (throughput_4N / throughput_N) / 4
and writes BENCH/BASELINE.md.

Usage: python tools/bench_scaling.py [N] [n_pages]   (default N=8 → 8 vs 32)
"""

from __future__ import annotations

import datetime
import json
import os
import platform
import subprocess
import sys


def run_bench(cpus: int, n_pages: int, sf_dir: str, repeats: int) -> dict:
    """One fresh bench.py subprocess on conflate_join alone, ``repeats``
    timed repeats per query; returns its side file
    (BENCH/SAMPLES_last_run.json: the result line's keys plus the
    build-inclusive walls ``queries_build`` and the raw ``samples``)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_N_PAGES=str(n_pages),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_QUERY_REPEATS=str(repeats),
        # headline only: both the efficiency and the trend metric are
        # defined on conflate_join (the only query whose input scales with
        # n_pages); dropping the other queries makes each sample ~3×
        # cheaper, which buys the repeats that beat host jitter
        SPARK_GRAFT_BENCH_ONLY="conflate_join",
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
        cwd=root,
    )
    if any(line.startswith("{") for line in out.stdout.splitlines()):
        with open(os.path.join(root, "BENCH", "SAMPLES_last_run.json")) as f:
            return json.load(f)
    raise RuntimeError(f"bench.py produced no JSON (rc={out.returncode}):\n{out.stderr[-2000:]}")


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Best-of-N, alternating levels: this sandbox VM shows up to 3×
    # run-to-run variance (SMT + microVM jitter); best-of filters it and
    # alternation keeps slow phases from biasing one level.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    lo_runs, hi_runs = [], []
    for _ in range(repeats):
        lo_runs.append(run_bench(n, n_pages, sf_dir, 1))
        hi_runs.append(run_bench(4 * n, n_pages, sf_dir, 1))
    lo = min(lo_runs, key=lambda r: r["value"])
    hi = min(hi_runs, key=lambda r: r["value"])
    thr_lo = lo["throughput_rows_per_sec"]
    thr_hi = hi["throughput_rows_per_sec"]
    eff = (thr_hi / thr_lo) / 4.0
    # median-of-N alongside best-of-N (ADVICE r2 #4): best filters jitter
    # but is noise-sensitive; both must clear the gate for the claim to
    # stand on its own
    lo_med = sorted(lo_runs, key=lambda r: r["value"])[len(lo_runs) // 2]
    hi_med = sorted(hi_runs, key=lambda r: r["value"])[len(hi_runs) // 2]
    eff_med = (hi_med["throughput_rows_per_sec"] / lo_med["throughput_rows_per_sec"]) / 4.0
    # round-1's build-inclusive definition, kept comparable across rounds
    bi_lo = min(r["queries_build"]["conflate_join"] for r in lo_runs)
    bi_hi = min(r["queries_build"]["conflate_join"] for r in hi_runs)
    eff_build_incl = (bi_lo / bi_hi) / 4.0

    os.makedirs("BENCH", exist_ok=True)
    import pyspark

    with open("BENCH/BASELINE.md", "w") as f:
        f.write(f"""# BENCH/BASELINE — measured numbers + N→4N scaling evidence

Generated {datetime.datetime.now(datetime.timezone.utc).isoformat(timespec='seconds')} by tools/bench_scaling.py.
Sandbox substitute for the north_rule's two-cluster-size criterion (driver
instruction): same job, same input, local[{n}] vs local[{4 * n}].

## Pinned configuration

| knob | value |
|---|---|
| seed | 42 (all generators id-pure, splitmix64) |
| input | deterministic synthetic pages, n_pages={n_pages} (+~10% re-crawls), sf_dir={sf_dir} |
| spark | {pyspark.__version__}, AQE on, shuffle.partitions=2×cores, Arrow batch 5000 |
| python / platform | {platform.python_version()} / {platform.platform()} |
| cores available | {os.cpu_count()} |

## Headline: address-match conflation join (stored inputs, salted cell joins)

Execution wall = cluster work only; the driver-side plan build (Catalyst
analysis of the 4-evidence-join plan, ~15 s, identical at EVERY
parallelism level and input size — compiled once per job on a real
cluster) is reported separately and excluded from throughput, exactly as
query-compilation time is excluded from engine throughput benchmarks.

| parallelism | exec wall (s) | build+exec (s) | match rows | throughput (rows/s) |
|---|---|---|---|---|
| local[{n}] best-of-{repeats} | {lo['value']} | {lo['queries_build']['conflate_join']} | {lo['match_rows']} | {thr_lo} |
| local[{4 * n}] best-of-{repeats} | {hi['value']} | {hi['queries_build']['conflate_join']} | {hi['match_rows']} | {thr_hi} |
| local[{n}] median-of-{repeats} | {lo_med['value']} | {lo_med['queries_build']['conflate_join']} | {lo_med['match_rows']} | {lo_med['throughput_rows_per_sec']} |
| local[{4 * n}] median-of-{repeats} | {hi_med['value']} | {hi_med['queries_build']['conflate_join']} | {hi_med['match_rows']} | {hi_med['throughput_rows_per_sec']} |

**Scaling efficiency N→4N = (thr_4N / thr_N) / 4** (target ≥ 0.8, all three
definitions reported per ADVICE r2 #4 — best-of alone is noise-sensitive):

| definition | efficiency |
|---|---|
| exec wall, best-of-{repeats} | {eff:.3f} |
| exec wall, median-of-{repeats} | {eff_med:.3f} |
| build+exec wall (round-1 definition), best-of-{repeats} | {eff_build_incl:.3f} |

## Per-query walls (seconds, execution / build+exec)

| query | local[{n}] | local[{4 * n}] |
|---|---|---|
""")
        for k in lo["queries"]:
            f.write(f"| {k} | {lo['queries'][k]} / {lo['queries_build'][k]} | "
                    f"{hi['queries'].get(k, '—')} / {hi['queries_build'].get(k, '—')} |\n")
        f.write(f"""
## Notes

- Throughput = conflation match rows / pipeline wall; the pipeline includes
  synthetic-page generation, X1/X2 extraction, geocode broadcast join, key
  equi-join, cell-bucketed PIP containment join (level 19), ring kNN join
  (level sized so ring_r·min_edge ≥ d_max=10 m), and the precedence
  projection.
- Fixed costs that do NOT grow with data (Python worker cold-start ≈1.5 s
  per worker × cores, Spark session setup) are included in the walls, which
  UNDERSTATES large-scale efficiency; at 10^12-doc scale these amortize to
  zero.
- Determinism: both runs produce identical match rows ({lo['match_rows']} == {hi['match_rows']}: {lo['match_rows'] == hi['match_rows']}).
- Walls are best-of-{repeats} alternating runs — this sandbox microVM shows
  up to 3× run-to-run jitter. All observed headline walls (s):
  local[{n}] = {[r['value'] for r in lo_runs]}, local[{4 * n}] = {[r['value'] for r in hi_runs]}.
""")
    print(json.dumps({"eff": round(eff, 3), "eff_median": round(eff_med, 3),
                      "eff_build_incl": round(eff_build_incl, 3),
                      "thr_lo": thr_lo, "thr_hi": thr_hi,
                      "lo_wall": lo["value"], "hi_wall": hi["value"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
