"""Data-scale trend evidence: the conflate join at 1x / 6x / 12x pages on
the SAME parallelism (local[8]) — does throughput hold as DATA grows?

The north_rule's scale claim is two-dimensional: efficiency across
parallelism (tools/bench_scaling.py) and stability across input size
(this file). A plan that degrades super-linearly in rows (quadratic
candidate generation, skew collapse, driver bottlenecks) shows up here as
falling rows/s. Writes BENCH/TREND.md.

Usage: python tools/bench_trend.py [n_base] [cpus]   (default 100000, 8)
"""

from __future__ import annotations

import datetime
import json
import os
import sys

from bench_scaling import run_bench


def main() -> int:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sizes = [n_base, 6 * n_base, 12 * n_base]
    runs = [run_bench(cpus, n, sf_dir, 2) for n in sizes]

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/TREND.md", "w") as f:
        f.write(f"""# BENCH/TREND — throughput vs input size (same parallelism)

Generated {datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")} by tools/bench_trend.py.
local[{cpus}], best-of-2 per query (see bench.py host-noise note), stored
conflation inputs, EXECUTION wall.

| n_pages | match rows | conflate_join exec (s) | rows/s | rows/s vs {n_base} |
|---|---|---|---|---|
""")
        base_thr = None
        for n, r in zip(sizes, runs):
            thr = r["throughput_rows_per_sec"]
            if base_thr is None:
                base_thr = thr
            f.write(
                f"| {n} | {r['match_rows']} | {r['value']} | {thr} | "
                f"{thr / base_thr:.2f}× |\n"
            )
        f.write("""
A flat-or-rising rows/s column as input grows 12× means the join shapes
(bucketed candidates, salted shuffles, partial aggregation) hold as data
scales — per-session fixed costs amortize, and nothing in the plan is
super-linear in rows. Falling rows/s would indicate a quadratic candidate
path or skew collapse.

Raw samples (build+exec / exec seconds per repeat):
""")
        for n, r in zip(sizes, runs):
            # run_bench returns bench.py's side file, which holds the samples
            f.write(f"- n={n}: {r['samples']['conflate_join']}\n")
    print(json.dumps({
        "sizes": sizes,
        "throughput": [r["throughput_rows_per_sec"] for r in runs],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
