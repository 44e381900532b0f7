"""Count Python-evaluation and Exchange nodes in every bench query's
executed plan (duplicate-UDF audit; diagnostic only).

Usage: python tools/audit_python_nodes.py [repo_root]
Prints one line per bench query: name, ArrowEvalPython, BatchEvalPython,
Exchange counts, and the per-UDF-name eval multiplicity.
"""

import os
import re
import sys
from collections import Counter

root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
sys.path.insert(0, root)

from bench import bench_queries, build_spark  # noqa: E402
from osm_addr_tools_spark.cache import release_pinned  # noqa: E402


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = os.environ.get(
        "SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench_0.1_100000"
    )
    only = os.environ.get("AUDIT_ONLY")
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = bench_queries(spark, sf_dir, 100_000, base)
    if only:
        keep = {k.strip() for k in only.split(",")}
        qs = {k: v for k, v in qs.items() if k in keep}
    for name, make in qs.items():
        try:
            df = make()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:32s} ERROR {exc}")
            continue
        arrow = plan.count("ArrowEvalPython")
        batch = plan.count("BatchEvalPython")
        exch = plan.count("Exchange")
        names = Counter(
            m.group(1) for m in re.finditer(r"(?:Arrow|Batch)EvalPython \[(\w+)\(", plan)
        )
        dups = {k: v for k, v in names.items() if v > 1}
        print(
            f"{name:32s} arrow={arrow:2d} batch={batch} exch={exch:2d} "
            f"dups={dups if dups else '-'}"
        )
        release_pinned()
    spark.stop()


if __name__ == "__main__":
    main()
