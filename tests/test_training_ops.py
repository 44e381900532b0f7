"""Training-pipeline operators added in round 6: length-bucketed sequence
packing (operators.packing), benchmark decontamination
(operators.decontam), and the Gopher-style repetition filter — invariants
and hand-computed goldens beyond the DuckDB hash-parity gate."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_addr_tools_spark.operators.decontam import ngram_overlap
from osm_addr_tools_spark.operators.packing import (
    length_buckets,
    pack_by_length_bucket,
)

SF_DIR = "/root/testdata/sf0.001"


# --- packing ----------------------------------------------------------------


def test_length_buckets_validation():
    assert length_buckets(128, 8) == [8, 16, 32, 64, 128]
    assert length_buckets(64, 64) == [64]
    with pytest.raises(ValueError, match="power of two"):
        length_buckets(100, 8)
    with pytest.raises(ValueError, match="power of two"):
        length_buckets(128, 12)
    with pytest.raises(ValueError, match="min_bucket"):
        length_buckets(8, 16)


def _toy_docs(spark, n=400):
    # token counts spanning every bucket of capacity 64 plus truncation
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "n_tok": [(i * 37) % 90 + 1 for i in range(n)],  # 1..90
        }
    )
    return spark.createDataFrame(pdf).repartition(8)


def test_pack_invariants(spark):
    capacity = 64
    docs = _toy_docs(spark)
    out = pack_by_length_bucket(
        docs, capacity=capacity, min_bucket=8
    ).toPandas()

    assert len(out) == 400 and out.doc_id.nunique() == 400  # nothing lost
    # bucket_cap = smallest power-of-two bucket >= n_tok (clamped)
    for r in out.itertuples():
        if r.n_tok > capacity:
            assert r.truncated and r.bucket_cap == capacity
        else:
            assert not r.truncated
            assert r.bucket_cap >= max(8, r.n_tok)
            assert r.bucket_cap // 2 < max(8, r.n_tok)  # tightest bucket
    # every pack's padded size fits the capacity; slots are dense unique
    per_pack = out.groupby(["bucket_cap", "pack_id"])
    for (cap, _), grp in per_pack:
        assert cap * len(grp) <= capacity
        assert sorted(grp.slot) == list(range(len(grp)))
    # all packs but each bucket's last are FULL (no fragmentation: the
    # rank-based assignment fills pack 0, then 1, ...)
    for cap, grp in out.groupby("bucket_cap"):
        full = capacity // cap
        sizes = grp.groupby("pack_id").size().sort_index()
        assert (sizes.iloc[:-1] == full).all()


def test_pack_deterministic_across_parallelism(spark):
    docs = _toy_docs(spark)
    a = pack_by_length_bucket(docs.repartition(2), capacity=64).toPandas()
    b = pack_by_length_bucket(docs.repartition(19), capacity=64).toPandas()
    key = ["doc_id", "bucket_cap", "pack_id", "slot"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


# --- decontamination --------------------------------------------------------


def test_ngram_overlap_planted(spark):
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "bid long, text string"
    )
    docs = spark.createDataFrame(
        [
            # shares two distinct 5-grams with the bench doc
            (10, "alpha beta gamma delta epsilon zeta other words here"),
            # shares exactly one (the first five tokens), repeated twice —
            # must count ONCE (distinct grams, not occurrences)
            (11, "alpha beta gamma delta epsilon x alpha beta gamma delta epsilon"),
            # four shared tokens, never five in a row: no hit
            (12, "alpha beta gamma delta zeta epsilon wrong order here now"),
            # shorter than n tokens: no rows, no crash
            (13, "alpha beta"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_hit
        for r in ngram_overlap(docs, bench).collect()
    }
    assert got == {10: 2, 11: 1}


def test_ngram_overlap_tokenization_is_case_and_punct_insensitive(spark):
    bench = spark.createDataFrame([(1, "One Two THREE four five!")], "b long, text string")
    docs = spark.createDataFrame(
        [(7, "prefix one, two three FOUR five suffix")], "doc_id long, text string"
    )
    got = ngram_overlap(docs, bench).collect()
    assert [(r.doc_id, r.n_hit) for r in got] == [(7, 1)]


# --- repetition filter ------------------------------------------------------


def test_repetition_filter_goldens(spark):
    from osm_addr_tools_spark.queries import QUERIES

    out = QUERIES["docs_repetition_filter"](spark, SF_DIR).toPandas()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    assert len(out) == len(docs)

    plain = out[
        (out.doc_id % 4 != 0)
        & (out.doc_id % 5 != 1)
        & (out.doc_id % 6 != 2)
        & (out.doc_id % 9 != 3)
    ]
    assert len(plain) > 0
    # unplanted docs are one line with no repetition: all signals zero, kept
    assert (plain.n_lines == 1).all()
    assert (plain.dup_line_frac == 0).all() and (plain.dup_char_frac == 0).all()
    assert plain.keep.all()

    spam = out[out.doc_id % 4 == 0]
    assert (spam.dup_char_frac > 0).all()  # the duplicated line registers
    # a 3-line doc with 2 identical lines: dup_line_frac = 1/3 > 0.3 → drop
    three_line_spam = spam[spam.n_lines == 3]
    assert len(three_line_spam) > 0 and not three_line_spam.keep.any()

    bullets = out[(out.doc_id % 5 == 1) & (out.doc_id % 4 != 0)]
    assert (bullets.bullet_frac > 0).all()
    ellipsis = out[(out.doc_id % 6 == 2) & (out.doc_id % 4 != 0)]
    assert (ellipsis.ellipsis_frac > 0).all()
