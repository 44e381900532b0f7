"""Physical-plan shape gates (SURVEY.md §4): these assert the *plans*, not
the results — predicate pushdown reaches the parquet scan, small sides
broadcast, spatial joins never degenerate into nested-loop joins, the
relational core stays inside whole-stage codegen, and no Python UDF is
evaluated more often than pinned."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p or "LessThanOrEqual(l_shipdate" in p
    # column pruning: read schema carries only the 3 referenced columns
    assert "l_extendedprice" not in p.split("ReadSchema")[1].split("\n")[0]


def test_gazetteer_geocode_is_broadcast_join(spark):
    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.sources import synth as S

    out = run_extract(spark, S.synth_pages(spark, 50), S.synth_gazetteer(spark, 50))
    p = plan_of(out)
    assert "BroadcastHashJoin" in p


def test_no_nested_loop_join_in_conflate(spark):
    from osm_addr_tools_spark.cache import release_pinned
    from osm_addr_tools_spark.plans.conflate import run_conflate
    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.sources import synth as S

    addrs = run_extract(spark, S.synth_pages(spark, 50), S.synth_gazetteer(spark, 50))
    # the default live-pipeline shape, and bench.py's conflate_join shape
    # (salted joins, unpinned inputs)
    for kw in ({}, {"salt": True, "pin_inputs": False}):
        m = run_conflate(
            spark, addrs, S.synth_buildings(spark, 50), S.synth_existing(spark, 50), **kw
        )
        p = plan_of(m)
        release_pinned()
        # the J8 design rule: theta predicates are always equi-join + residual
        assert "BroadcastNestedLoopJoin" not in p, kw
        assert "CartesianProduct" not in p, kw


def test_salted_join_replicates_build_side_only(spark):
    import pandas as pd

    from osm_addr_tools_spark.operators.joins import salted_join

    a = spark.createDataFrame(pd.DataFrame({"k": [1] * 100 + [2] * 5, "v": range(105)}))
    b = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "w": [10, 20]}))
    out = salted_join(a, b, "k", F.col("v"), hot_threshold=10, rows_per_task=25)
    p = plan_of(out)
    assert p.count("Generate") >= 1  # explode of salt range on build side
    assert len(out.columns) == {"k", "v", "w"}.__len__()


def test_q1_stays_in_whole_stage_codegen(spark):
    from osm_addr_tools_spark import queries as Q

    df = Q.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    df.collect()  # AQE only shows codegen spans in the executed final plan
    p = plan_of(df)
    # formatted mode marks whole-stage-codegen operators with a leading '*'
    assert "* HashAggregate" in p and "* ColumnarToRow" in p or "* Sort" in p
    assert "ArrowEvalPython" not in p  # no Python in the relational core


def test_knn_join_distance_math_is_jvm_side(spark):
    # haversine/rank/filter are JVM Column math; the Python evaluations
    # are pinned in test_python_udf_evaluation_counts
    from osm_addr_tools_spark import queries as Q

    p = plan_of(Q.QUERIES["geo_knn_nearest_supplier"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p


def test_knn_level_assertion_fires():
    from osm_addr_tools_spark.functions.cells import level_for_max_distance

    with pytest.raises(ValueError):
        level_for_max_distance(10**9)  # bigger than a face


def test_pack_assign_window_is_bucket_partitioned(spark):
    # the per-bucket rank must come from the grouped prefix-sum core:
    # every Window in the plan is partitioned by (_psb, bucket_cap) —
    # never an empty or bucket-only partition spec (which would run the
    # whole corpus on ~5 window tasks)
    import osm_addr_tools_spark.queries as Q

    p = plan_of(Q.QUERIES["docs_pack_assign"](spark, SF_DIR))
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    for line in p.splitlines():
        if "partitionBy=" in line:
            assert "_psb" in line, line


def test_decontaminate_joins_on_gram_no_nested_loop(spark):
    import osm_addr_tools_spark.queries as Q

    p = plan_of(Q.QUERIES["docs_decontaminate"](spark, SF_DIR))
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    assert "gram" in p  # equi-join key survives into the physical plan


# Python evaluations per UDF name in each shape's executed plan (sf0.01;
# run_conflate over 2 000 synthetic pages, pin_inputs=False), taken before
# adaptive execution, whose exchange reuse can merge identical subtrees at
# run time: an upper bound on the evaluations that run. A count that
# rises is a duplicated Python evaluation: Catalyst pushed a filter below
# the projection that applies the UDF and evaluates it again there. The
# UDFs fenced with asNondeterministic() are enc, both, sim, sh, buckets
# (in emb_ann_lsh_top3) and assign; each fence's comment names the shape here that rises
# without it. Counts above 1 are the plans as they stand (two build sides,
# unions, unpinned extraction), not a target. When a plan changes on
# purpose, re-pin the new count and say why in the change description.
UDF_EVALS = {
    "docs_quality_ascii": {"qc": 1},
    "docs_winnow_fingerprints": {"wf": 1},
    "docs_winnow_partial_dups": {"wf": 8},
    "geo_knn_nearest_supplier": {"enc": 2, "ring": 1},
    "geo_distance_band_count": {"enc": 2, "ring": 1},
    "conflate_matches": {
        "x1": 1, "x2": 1, "norm": 1, "enc": 3, "ring": 1, "both": 1,
        "pip": 1, "sim": 1,
    },
    "dedup_ngram_jaccard": {"sh": 8},
    "dedup_minhash_lsh": {"mh": 3},
    "dedup_simhash": {"sim": 3},
    "emb_ann_lsh_top3": {"buckets": 2},
    "emb_ann_ivf_top3": {"assign": 2},
    "geo_building_supplier_overlap": {"both": 4, "isect": 1},
    "geo_customer_clusters edges": {"enc": 2, "ring": 1},
    "emb_dedup_retention edges": {"buckets": 2},
    "dedup_minhash_components edges": {"mh": 3},
    "docs_dedup_retention edges": {"mh": 3},
    "docs_incremental_dedup edges": {"mh": 12},
    "run_conflate unsalted": {
        "x1": 5, "x2": 5, "norm": 1, "enc": 3, "ring": 1, "both": 1,
        "pip": 1, "sim": 1,
    },
    "run_conflate salted": {
        "x1": 9, "x2": 9, "norm": 1, "enc": 7, "ring": 1, "both": 1,
        "pip": 1, "sim": 1,
    },
}


def _bracket_items(s: str, i: int) -> tuple[list[str], int]:
    """Top-level items of the bracketed list that opens at ``s[i]``, and
    the index just past its closing bracket."""
    depth, start, items = 0, i + 1, []
    for j in range(i, len(s)):
        if s[j] in "([":
            depth += 1
        elif s[j] in ")]":
            depth -= 1
            if depth == 0:
                return items + [s[start:j].strip()], j + 1
        elif s[j] == "," and depth == 1:
            items.append(s[start:j].strip())
            start = j + 1
    raise ValueError(f"unclosed list at {i}")


def python_evals(df) -> dict[str, int]:
    """UDF name → number of ArrowEvalPython evaluations in the executed
    plan. A cached relation prints its plan once per scan, so each
    evaluation is counted once by its output attribute (pythonUDFn#id)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    outs = set()
    for m in re.finditer(r"ArrowEvalPython \[", plan):
        udfs, end = _bracket_items(plan, m.end() - 1)
        results, _ = _bracket_items(plan, plan.index("[", end))
        outs.update((u[: u.index("(")], r) for u, r in zip(udfs, results))
    return dict(Counter(name for name, _ in outs))


class _EdgesBuilt(Exception):
    pass


def test_python_udf_evaluation_counts(spark, monkeypatch):
    """Plans only: builds each shape (running just what it runs at build)
    and pins its per-UDF evaluation counts (UDF_EVALS)."""
    from osm_addr_tools_spark import queries as Q
    from osm_addr_tools_spark.cache import release_pinned
    from osm_addr_tools_spark.operators import dedup as D
    from osm_addr_tools_spark.plans.conflate import run_conflate
    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.sources import synth as S

    def cc_edges(name):
        # the edge frame an eager connected-components query passes to
        # connected_components, taken without running the CC loop
        seen = []

        def capture(edges, *args, **kwargs):
            seen.append(edges)
            raise _EdgesBuilt

        with monkeypatch.context() as m:
            m.setattr(D, "connected_components", capture)
            with pytest.raises(_EdgesBuilt):
                Q.QUERIES[name](spark, SF_DIR)
        return seen[0]

    def conflate(salt):
        addrs = run_extract(spark, S.synth_pages(spark, 2000), S.synth_gazetteer(spark, 2000))
        return run_conflate(
            spark, addrs, S.synth_buildings(spark, 2000), S.synth_existing(spark, 2000),
            salt=salt, pin_inputs=False,
        )

    shapes = {
        name: (lambda name=name: Q.QUERIES[name](spark, SF_DIR))
        for name in UDF_EVALS
        if name in Q.QUERIES
    }
    for name in UDF_EVALS:
        if name.endswith(" edges"):
            shapes[name] = lambda name=name: cc_edges(name.removesuffix(" edges"))
    shapes["run_conflate unsalted"] = lambda: conflate(False)
    shapes["run_conflate salted"] = lambda: conflate(True)

    got = {}
    for name, build in shapes.items():
        got[name] = python_evals(build())
        release_pinned()
    assert got == UDF_EVALS
