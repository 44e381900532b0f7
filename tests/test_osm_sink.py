"""S4 OSM-change sink: structure, determinism, kind routing."""

import re
import xml.etree.ElementTree as ET

import pytest

from osm_addr_tools_spark.plans.conflate import run_conflate
from osm_addr_tools_spark.plans.extract import run_extract
from osm_addr_tools_spark.sources import synth as S
from osm_addr_tools_spark.sources.osm_sink import osmchange_document, write_osmchange

N = 100


@pytest.fixture(scope="module")
def matches(spark):
    addrs = run_extract(spark, S.synth_pages(spark, N), S.synth_gazetteer(spark, N))
    return run_conflate(
        spark, addrs, S.synth_buildings(spark, N), S.synth_existing(spark, N)
    ).cache()


def test_osmchange_wellformed_and_routed(spark, matches):
    doc = osmchange_document(matches)
    root = ET.fromstring(doc)
    assert root.tag == "osmChange"
    creates = root.find("create")
    modifies = root.find("modify")
    n_create = matches.where("match_kind in ('create','nearest')").count()
    n_modify = matches.where("match_kind in ('update','attach')").count()
    assert len(list(creates)) == n_create
    assert len(list(modifies)) == n_modify
    # duplicates emit nothing
    total = matches.count()
    n_dup = matches.where("match_kind = 'duplicate'").count()
    assert len(list(creates)) + len(list(modifies)) == total - n_dup
    # created nodes carry fresh negative ids, unique
    ids = [int(n.get("id")) for n in creates]
    assert all(i < 0 for i in ids) and len(set(ids)) == len(ids)
    # nearest rows are flagged for human review
    fixmes = [
        n for n in creates
        if any(t.get("k") == "fixme" for t in n.findall("tag"))
    ]
    n_near = matches.where("match_kind = 'nearest'").count()
    assert len(fixmes) == n_near


def test_osmchange_deterministic(spark, matches):
    assert osmchange_document(matches) == osmchange_document(matches.repartition(7))


def test_write_osmchange_parts_equal_document(spark, matches, tmp_path):
    """The sharded sink writes exactly the document's edits: the sorted
    text parts under create/ and modify/ concatenate to the <create> and
    <modify> bodies of osmchange_document for the same matches."""
    write_osmchange(matches, str(tmp_path))
    doc = osmchange_document(matches)
    bodies = re.fullmatch(
        r"(?s).*<create>(.*)</create><modify>(.*)</modify></osmChange>", doc
    ).groups()
    for kind, body in zip(("create", "modify"), bodies):
        lines = [
            line
            for part in (tmp_path / kind).glob("part-*")
            for line in part.read_text(encoding="utf-8").splitlines()
        ]
        assert lines, kind
        assert "".join(sorted(lines)) == body, kind


def test_negative_id_assignment_is_distributed(spark, matches):
    """VERDICT r1 #3: the id assignment must not funnel all rows through a
    single-partition Exchange (global no-partition window)."""
    from osm_addr_tools_spark.sources.osm_sink import matches_to_osmchange

    plan = matches_to_osmchange(matches)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_negative_ids_dense_and_deterministic(spark, matches):
    from osm_addr_tools_spark.sources.osm_sink import _with_negative_ids
    import pyspark.sql.functions as F

    df = _with_negative_ids(matches.where(F.col("match_kind") != "duplicate"))
    ids = sorted(-r.new_id for r in df.select("new_id").collect())
    assert ids == list(range(1, len(ids) + 1))  # dense 1..n
    ids2 = sorted(
        -r.new_id
        for r in _with_negative_ids(
            matches.where(F.col("match_kind") != "duplicate").repartition(5)
        ).select("new_id").collect()
    )
    assert ids == ids2


def test_negative_ids_follow_hash_bucket_order(spark, matches):
    """new_id is exactly -(row number) in the (hash bucket, addr_key, url)
    order _with_negative_ids promises, not only dense and deterministic."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from osm_addr_tools_spark.sources.osm_sink import N_ID_BUCKETS, _with_negative_ids

    df = matches.where(F.col("match_kind") != "duplicate")
    bucket = F.pmod(F.xxhash64("addr_key", "url"), F.lit(N_ID_BUCKETS))
    want = df.withColumn(
        "new_id", -F.row_number().over(Window.orderBy(bucket, "addr_key", "url"))
    )
    cols = ["addr_key", "url", "new_id"]
    got = sorted(map(tuple, _with_negative_ids(df).select(cols).collect()))
    assert got and got == sorted(map(tuple, want.select(cols).collect()))
