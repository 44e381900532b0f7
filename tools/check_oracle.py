"""Self-check replicating the driver's DuckDB-parity gate at sf0.01.

For every queries() entry with an oracle: run the Spark DataFrame and the
DuckDB SQL on the same parquet tables, compare row count, sorted column
names, and an order-insensitive canonical value hash. Exit non-zero on any
mismatch. Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(pdf: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()

    def fmt(v):
        if v is None or v != v:
            return "␀"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    rows = sorted("|".join(fmt(v) for v in row) for row in pdf.itertuples(index=False))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(pdf), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from osm_addr_tools_spark import oracle_support as OS

    if os.path.basename(sf_dir.rstrip("/")) != os.path.basename(OS.ORACLE_SF_DIR):
        print(
            f"WARNING: oracle SQL strings pin intermediates + scale constants "
            f"of {OS.ORACLE_SF_DIR}; the pipeline-tail oracles are OUT OF "
            f"CONTRACT at {sf_dir} and will mismatch (ADVICE r2 #2)."
        )

    from pyspark.sql import SparkSession

    from bench import SPARK_CONF

    spark = (
        SparkSession.builder.master("local[8]")
        .config(map=SPARK_CONF)
        .config("spark.sql.shuffle.partitions", "16")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"spark error: {exc}"))
            print(f"✗ {name}: SPARK ERROR {exc}")
            continue
        if name not in oracles:
            print(f"· {name}: rows-only ({len(got)} rows)")
            if len(got) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"duckdb error: {exc}"))
            print(f"✗ {name}: DUCKDB ERROR {exc}")
            continue
        ng, cg, hg = canon(got)
        ne, ce, he = canon(exp)
        ok = (ng, cg, hg) == (ne, ce, he)
        mark = "✓" if ok else "✗"
        print(f"{mark} {name}: spark {ng} rows, duckdb {ne} rows, "
              f"cols {'=' if cg == ce else f'{cg} vs {ce}'}, hash {'=' if hg == he else 'MISMATCH'}")
        if not ok:
            failures.append((name, "mismatch"))
            if ng == ne and cg == ce:
                g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
                e2 = exp[sorted(exp.columns)].sort_values(sorted(exp.columns)).reset_index(drop=True)
                diff = (g != e2) & ~(g.isna() & e2.isna())
                bad_rows = diff.any(axis=1)
                print(f"  first differing rows ({bad_rows.sum()} total):")
                print(pd.concat([g[bad_rows].head(3).add_suffix("_spark"),
                                 e2[bad_rows].head(3).add_suffix("_duck")], axis=1).to_string())
    spark.stop()
    if failures:
        print(f"\nFAILED: {len(failures)} → {[f[0] for f in failures]}")
        return 1
    print("\nALL PARITY CHECKS PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
