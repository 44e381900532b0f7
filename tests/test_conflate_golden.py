"""End-to-end golden conflation test (SURVEY.md §5.2): EP1→EP2 on the
deterministic 100-page two-towns scenario, compared row-for-row against the
independent pure-Python oracle, under two different partitionings."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_addr_tools_spark.cache import release_pinned
from osm_addr_tools_spark.plans.conflate import run_conflate
from osm_addr_tools_spark.plans.extract import run_extract
from osm_addr_tools_spark.sources import synth as S
from tests.oracle import oracle_matches

N_PAGES = 100
CMP = ["url", "addr_key", "match_kind", "matched_ref"]


def _run_engine(spark, n_pages, salt=False, repartition=None):
    pages = S.synth_pages(spark, n_pages)
    if repartition:
        pages = pages.repartition(repartition)
    addrs = run_extract(spark, pages, S.synth_gazetteer(spark, n_pages))
    m = run_conflate(
        spark,
        addrs,
        S.synth_buildings(spark, n_pages),
        S.synth_existing(spark, n_pages),
        salt=salt,
        # tiny thresholds so the salted path actually executes in the test
        **({"hot_threshold": 5, "rows_per_task": 3} if salt else {}),
    )
    pdf = m.toPandas().sort_values(["addr_key", "url"]).reset_index(drop=True)
    return pdf


@pytest.fixture(scope="module")
def golden():
    return oracle_matches(N_PAGES)


def _assert_matches_equal(got: pd.DataFrame, exp: pd.DataFrame):
    assert len(got) == len(exp)
    g = got[CMP].reset_index(drop=True)
    e = exp[CMP].reset_index(drop=True)
    g["matched_ref"] = g.matched_ref.astype("float64")
    e["matched_ref"] = e.matched_ref.astype("float64")
    pd.testing.assert_frame_equal(g.fillna(-1), e.fillna(-1))
    # distances agree to well under a millimeter
    diff = (got.dist_m.fillna(-1) - exp.dist_m.fillna(-1)).abs().max()
    assert diff < 1e-6


def test_conflate_matches_oracle(spark, golden):
    got = _run_engine(spark, N_PAGES)
    _assert_matches_equal(got, golden)
    # scenario exercises every match kind
    assert set(golden.match_kind) == {"duplicate", "update", "attach", "nearest", "create"}
    # ... including the F3 fuzzy-street path (typo nodes have id = 10a+4):
    fuzzy = golden[
        golden.match_kind.isin(["duplicate", "update"])
        & (golden.matched_ref.fillna(0).astype("int64") % 10 == 4)
    ]
    assert len(fuzzy) > 0, "golden scenario must exercise the fuzzy tie-breaker"
    got_fuzzy = got[
        got.match_kind.isin(["duplicate", "update"])
        & (got.matched_ref.fillna(0).astype("int64") % 10 == 4)
    ]
    assert len(got_fuzzy) == len(fuzzy)


def test_conflate_deterministic_under_parallelism(spark, golden):
    got = _run_engine(spark, N_PAGES, repartition=13)
    _assert_matches_equal(got, golden)


def test_conflate_salted_equals_unsalted(spark, golden):
    got = _run_engine(spark, N_PAGES, salt=True)
    _assert_matches_equal(got, golden)


def test_update_tags_merge(spark, golden):
    pages = S.synth_pages(spark, N_PAGES)
    addrs = run_extract(spark, pages, S.synth_gazetteer(spark, N_PAGES))
    m = run_conflate(
        spark, addrs, S.synth_buildings(spark, N_PAGES), S.synth_existing(spark, N_PAGES)
    )
    upd = m.where(F.col("match_kind") == "update").limit(5).collect()
    assert upd
    for r in upd:
        assert "addr:postcode" in r.tags  # the merged-in key
        assert r.tags["addr:postcode"] == r.postcode
    dup = m.where(F.col("match_kind") == "duplicate").limit(5).collect()
    for r in dup:
        # duplicate = existing already complete; tags are the existing node's
        assert "source:addr" not in r.tags


@pytest.mark.parametrize("pin_inputs", [True, False])
def test_conflate_releases_pinned_frames(spark, tmp_path, pin_inputs):
    """Every frame run_conflate persists is pinned: once the output is
    written, release_pinned() returns the session's cached blocks to where
    they were before the run, on both pin_inputs paths."""

    def cached_blocks():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.numCachedPartitions() for i in infos)

    release_pinned()  # frames earlier tests left pinned
    before = cached_blocks()
    addrs = run_extract(
        spark, S.synth_pages(spark, N_PAGES), S.synth_gazetteer(spark, N_PAGES)
    )
    m = run_conflate(
        spark,
        addrs,
        S.synth_buildings(spark, N_PAGES),
        S.synth_existing(spark, N_PAGES),
        pin_inputs=pin_inputs,
    )
    m.write.parquet(str(tmp_path / "matches"))
    assert cached_blocks() > before
    assert release_pinned() == (2 if pin_inputs else 1)
    assert cached_blocks() == before


def test_exact_key_min_node_with_null_tags(spark):
    """ex_best takes every field from the one existing node with the
    smallest node_id, nulls included: min_by skips only null orderings, so
    a null ``e_tags``/``has_postcode`` on that node is not filled in from a
    larger node sharing the key."""
    from osm_addr_tools_spark.functions.geo import haversine_np
    from osm_addr_tools_spark.plans.conflate import keyed_existing

    existing = spark.createDataFrame(
        [(1, 21.0, 52.0, None), (2, 21.001, 52.0, {"building": "yes"})],
        "node_id long, lon double, lat double, tags map<string,string>",
    )
    key = {r.node_id: r for r in keyed_existing(existing).collect()}
    assert key[1].addr_key == key[2].addr_key
    assert key[1].e_tags is None and key[1].has_postcode is None
    lon, lat = 21.0, 52.0001
    addrs = spark.createDataFrame(
        [(f"u{i}", key[1].addr_key, "c", "s", "1", pc, key[1].city_norm,
          key[1].street_norm, key[1].hn_norm, lon, lat, True)
         for i, pc in ((0, None), (1, "00-001"))],
        "url string, addr_key string, city string, street string, housenumber string, "
        "postcode string, city_norm string, street_norm string, hn_norm string, "
        "lon double, lat double, geocoded boolean",
    )
    no_buildings = S.synth_buildings(spark, 1).where(F.lit(False))
    got = {r.url: r for r in run_conflate(spark, addrs, no_buildings, existing).collect()}
    release_pinned()

    # postcode null: complete regardless of has_postcode → duplicate of
    # node 1, carrying node 1's null tags and measured to node 1's point
    dup = got["u0"]
    assert (dup.match_kind, dup.matched_ref, dup.tags) == ("duplicate", 1, None)
    assert abs(dup.dist_m - float(haversine_np(lon, lat, 21.0, 52.0))) < 1e-6
    # postcode set: has_postcode null makes both the duplicate and the
    # update rule null, so the row falls through to create (node 2's
    # has_postcode=false would have made it an update)
    assert got["u1"].match_kind == "create"
    assert got["u1"].matched_ref is None


def test_extract_and_existing_keys_agree(spark):
    """The same raw address through X2 (parse_and_normalize_udf) and
    through the existing-node side (keyed_existing) gets the identical F4
    key and parts, so a page address and an OSM node carrying the same raw
    tags meet in the key join."""
    from osm_addr_tools_spark.plans.conflate import keyed_existing
    from osm_addr_tools_spark.plans.extract import parse_and_normalize_udf

    texts = [
        "Ul. Długa 12 a, 00-950 Adamowo\nopis",
        "al. Róż 012/3, BORKOWO\nPl. Wolności 5B, Celinowo7",
        "ul. pl.  Wolności 7 / 2, Adamowo",
        "bez adresu",
    ]
    pages = spark.createDataFrame([(t,) for t in texts], "text string")
    x2 = (
        pages.select(F.explode(parse_and_normalize_udf()("text")).alias("a"))
        .select("a.*").toPandas()
    )
    assert len(x2) == 4
    existing = spark.createDataFrame(
        [
            (i, 21.0, 52.2, {"addr:city": r.city, "addr:street": r.street,
                             "addr:housenumber": r.housenumber})
            for i, r in enumerate(x2.itertuples())
        ],
        "node_id long, lon double, lat double, tags map<string,string>",
    )
    ke = keyed_existing(existing).orderBy("node_id").toPandas()
    cols = ["addr_key", "city_norm", "street_norm", "hn_norm"]
    assert x2[cols].values.tolist() == ke[cols].values.tolist()
    assert "adamowo|długa|12A" in set(x2["addr_key"])

    # run_extract emits exactly the (url, addr_key) rows the X1 and X2
    # kernels find on each url's latest crawl: the gazetteer join neither
    # drops nor duplicates an address
    from osm_addr_tools_spark.operators.joins import asof_latest
    from osm_addr_tools_spark.plans.extract import extract_text_udf

    pages = S.synth_pages(spark, N_PAGES)
    latest = asof_latest(pages.select("url", "warc_ts", "html", "lang"), "url", "warc_ts")
    addr = parse_and_normalize_udf()(extract_text_udf()("html"))
    want = sorted(
        (r.url, r.a.addr_key)
        for r in latest.select("url", F.explode(addr).alias("a")).collect()
    )
    got = sorted(
        map(tuple, run_extract(spark, pages, S.synth_gazetteer(spark, N_PAGES))
            .select("url", "addr_key").collect())
    )
    assert got and got == want
