"""Composition gate for plans/training.training_manifest: the pipeline's
survivor set must equal the stagewise reference (each stage operator run
independently, in order), and the packing/shuffle tail must emit a valid
training order. The per-stage KERNELS are gated elsewhere (oracle rows +
their own pytests); this file pins the COMPOSITION — ids-only joins,
stage order, drop propagation."""

import pytest
from pyspark.sql import functions as F

from osm_addr_tools_spark.functions.tokenize import learn_bpe_from_df
from osm_addr_tools_spark.operators.decontam import ngram_overlap
from osm_addr_tools_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from osm_addr_tools_spark.operators.quality import hashed_score
from osm_addr_tools_spark.plans.training import PACK_CAPACITY, training_manifest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def manifest_inputs(spark):
    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    exact = d.where(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    bench = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing mutation")).alias("text"),
    )
    corpus = d.unionByName(exact)
    merges = learn_bpe_from_df(d, n_merges=50)
    return corpus, bench, merges


def _stagewise_survivors(corpus, bench):
    """The reference: run each stage operator independently, in order."""
    pairs = minhash_lsh_pairs(corpus)
    comp = connected_components(pairs.select("a", "b"))
    dropped = {
        r.v for r in comp.where(F.col("v") != F.col("component")).collect()
    }
    retained = corpus.where(~F.col("doc_id").isin(dropped) if dropped else F.lit(True))
    retained_ids = {r.doc_id for r in retained.select("doc_id").collect()}
    contaminated = {
        r.doc_id for r in ngram_overlap(retained, bench).collect()
    }
    kept = {
        r.doc_id
        for r in hashed_score(retained, dim=1 << 16)
        .where(F.col("keep"))
        .select("doc_id")
        .collect()
    }
    survivors = (retained_ids - contaminated) & kept
    quality_dropped = (retained_ids - contaminated) - kept
    return dropped, contaminated, quality_dropped, survivors


def test_pipeline_equals_stagewise_reference(spark, manifest_inputs):
    corpus, bench, merges = manifest_inputs
    dropped, contaminated, quality_dropped, survivors = _stagewise_survivors(
        corpus, bench
    )

    # every stage is non-vacuous on this corpus (exact plants dup their
    # bases; benchmark near-copies contaminate 1/10 of bases; the hashed
    # classifier splits on score sign)
    assert dropped and contaminated and quality_dropped and survivors

    out = training_manifest(corpus, bench, merges).collect()
    assert {r.doc_id for r in out} == survivors


def test_pack_and_shuffle_invariants(spark, manifest_inputs):
    corpus, bench, merges = manifest_inputs
    rows = training_manifest(corpus, bench, merges).collect()

    # bucket_cap is the tightest power-of-two bucket; token sums fit
    for r in rows:
        assert r.bucket_cap in (16, 32, 64, 128)
        assert r.n_tok_bpe <= r.bucket_cap or r.truncated
        assert 0 <= r.slot < 128 // r.bucket_cap

    # each (bucket_cap, pack_id) holds distinct slots — no double booking;
    # its members' tokens fit PACK_CAPACITY, except an over-long
    # (truncated) doc, which is alone in its pack
    packs = {}
    for r in rows:
        packs.setdefault((r.bucket_cap, r.pack_id), []).append(r)
    for members in packs.values():
        assert len({m.slot for m in members}) == len(members)
        if any(m.truncated for m in members):
            assert len(members) == 1
        else:
            assert sum(m.n_tok_bpe for m in members) <= PACK_CAPACITY
    assert any(r.truncated for r in rows)  # the over-long case is exercised

    # pack_pos is a 1..n_packs permutation over distinct packs
    pos = {(r.bucket_cap, r.pack_id): r.pack_pos for r in rows}
    assert sorted(pos.values()) == list(range(1, len(packs) + 1))


def test_manifest_deterministic_across_parallelism(spark, manifest_inputs):
    corpus, bench, merges = manifest_inputs
    a = sorted(
        map(tuple, training_manifest(corpus.repartition(2), bench, merges).collect())
    )
    b = sorted(
        map(tuple, training_manifest(
            corpus.repartition(13), bench.repartition(3), merges
        ).collect())
    )
    assert a == b
