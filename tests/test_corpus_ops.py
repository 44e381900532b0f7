"""Round-6 corpus operators beyond the DuckDB hash gate: paragraph-level
first-occurrence dedup, sliding context-window chunking, temperature
mixing weights, and the hashed linear quality classifier."""

import re

import numpy as np
import pandas as pd
import pytest

from osm_addr_tools_spark.operators.dedup import dedup_paragraphs
from osm_addr_tools_spark.operators.packing import chunk_token_windows
from osm_addr_tools_spark.operators.quality import W_SCALE, hashed_score
from osm_addr_tools_spark.operators.sampling import mix_weights_sqrt
from tests.reference import derived_weights, score_batch

SF_DIR = "/root/testdata/sf0.001"


# --- paragraph dedup --------------------------------------------------------


def _para_reference(docs: list[tuple[int, str]]) -> dict[int, str]:
    """Pure-Python global-first-occurrence paragraph dedup."""
    seen = set()
    out = {}
    for doc_id, text in sorted(docs):
        kept = []
        for para in text.split("\n"):
            if para.strip() == "":
                kept.append(para)  # structural: always kept
            elif para not in seen:
                seen.add(para)
                kept.append(para)
        out[doc_id] = "\n".join(kept)
    return out


PARA_DOCS = [
    (1, "alpha one\nshared para\n\ntail"),
    (2, "shared para\nbeta two"),
    (3, "shared para"),  # every paragraph already seen -> ""
    (4, "gamma\ngamma"),  # within-doc repeat: second removed
    (5, "alpha one\nbeta two"),  # cross-doc repeats of earlier paras
    (6, "   \ndelta"),  # whitespace-only paragraph is structural
]


def test_dedup_paragraphs_matches_reference(spark):
    df = spark.createDataFrame(
        pd.DataFrame(PARA_DOCS, columns=["doc_id", "text"])
    ).repartition(7)
    got = {r.doc_id: r.clean_text for r in dedup_paragraphs(df).collect()}
    assert got == _para_reference(PARA_DOCS)
    assert got[3] == ""  # all-dup doc survives as empty row
    assert got[4] == "gamma"
    assert got[6] == "   \ndelta"


def test_dedup_paragraphs_partition_invariant(spark):
    pdf = pd.DataFrame(PARA_DOCS, columns=["doc_id", "text"])
    a = dedup_paragraphs(spark.createDataFrame(pdf).repartition(2)).collect()
    b = dedup_paragraphs(spark.createDataFrame(pdf).repartition(13)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_dedup_paragraphs_window_excludes_structural(spark):
    """Empty paragraphs must bypass the para-partitioned window (the ''
    key would otherwise be one hot task for the whole corpus)."""
    df = spark.createDataFrame(
        pd.DataFrame(PARA_DOCS, columns=["doc_id", "text"])
    )
    plan = dedup_paragraphs(df)._jdf.queryExecution().optimizedPlan().toString()
    # the Window's child filter must keep only non-empty paragraphs
    assert "row_number" in plan
    assert "NOT (trim(" in plan or "isnotnull" in plan  # structural filter present


# --- chunking ---------------------------------------------------------------


def _chunk_reference(text: str, window: int, stride: int):
    toks = re.split(r"\s+", text.strip())
    out = []
    for idx, s in enumerate(range(0, max(len(toks), 1), stride)):
        chunk = toks[s : s + window]
        out.append((idx, s, len(chunk), " ".join(chunk)))
    return out


@pytest.mark.parametrize("window,stride", [(8, 8), (8, 5), (4, 1), (1, 1)])
def test_chunk_windows_matches_reference(spark, window, stride):
    texts = [
        " ".join(f"t{i}" for i in range(n)) for n in (1, 3, 7, 8, 9, 20, 33)
    ] + [""]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).repartition(5)
    got = chunk_token_windows(df, window=window, stride=stride).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.start_tok, r.n_tok, r.chunk_text)
        )
    for doc_id, text in enumerate(texts):
        assert sorted(by_doc[doc_id]) == _chunk_reference(text, window, stride)


def test_chunk_windows_full_coverage_and_validation(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [" ".join(f"t{i}" for i in range(50))]})
    )
    rows = chunk_token_windows(df, window=16, stride=11).collect()
    covered = set()
    for r in rows:
        covered.update(range(r.start_tok, r.start_tok + r.n_tok))
    assert covered == set(range(50))  # every token in >= 1 chunk
    # only the final chunk may be short
    short = [r.chunk_idx for r in rows if r.n_tok < 16]
    assert short == [max(r.chunk_idx for r in rows)]
    with pytest.raises(ValueError, match="drop tokens"):
        chunk_token_windows(df, window=4, stride=5)
    with pytest.raises(ValueError, match="≥ 1"):
        chunk_token_windows(df, window=0, stride=1)


def test_chunk_windows_no_shuffle(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["a b c"]}))
    plan = (
        chunk_token_windows(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure map: zero shuffles


# --- mixing weights ---------------------------------------------------------


def test_mix_weights_exact(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "lang": ["en"] * 3 + ["pl", "de"],
                "n": [100, 30, 14, 9, 0],
            }
        )
    )
    got = {r.lang: r for r in mix_weights_sqrt(df, ["lang"], "n").collect()}
    # en: 144 tokens -> isqrt 12; pl: 9 -> 3; de: 0 -> 0; total 15
    assert (got["en"].n_tokens, got["en"].isqrt_tokens) == (144, 12)
    assert got["en"].weight_ppm == 12 * 1_000_000 // 15
    assert got["pl"].weight_ppm == 3 * 1_000_000 // 15
    assert got["de"].weight_ppm == 0
    assert sum(r.weight_ppm for r in got.values()) <= 1_000_000


def test_mix_weights_head_flattening(spark):
    """A 100x bigger corpus must get ~10x the weight, not 100x."""
    df = spark.createDataFrame(
        pd.DataFrame({"lang": ["big", "small"], "n": [1_000_000, 10_000]})
    )
    got = {r.lang: r.weight_ppm for r in mix_weights_sqrt(df, ["lang"], "n").collect()}
    ratio = got["big"] / got["small"]
    assert 9.5 < ratio < 10.5


def test_mix_weights_zero_total_guard(spark):
    df = spark.createDataFrame(pd.DataFrame({"lang": ["a", "b"], "n": [0, 0]}))
    rows = mix_weights_sqrt(df, ["lang"], "n").collect()
    assert all(r.weight_ppm == 0 for r in rows)  # no div-by-zero


# --- hashed classifier ------------------------------------------------------


def _score_reference(pdf: pd.DataFrame, dim: int) -> list[tuple]:
    """(doc_id, n_tok, score_num, score, keep) rows from the pure-Python
    scorer over the derived weight vector, sorted."""
    ref = score_batch(pdf.text, derived_weights(dim))
    score = ref.score_num / (ref.n_tok * float(W_SCALE))
    return sorted(
        zip(pdf.doc_id.tolist(), ref.n_tok.tolist(), ref.score_num.tolist(),
            score.tolist(), (score >= 0.0).tolist())
    )


def test_hashed_score_column_equals_pandas_on_corpus(spark):
    """The codegen Column path must agree bit-for-bit with the pure-Python
    scorer over the derived weight vector on real corpus text."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    dim = 1 << 16
    a = sorted(map(tuple, hashed_score(docs, dim=dim).collect()))
    assert a == _score_reference(docs.toPandas(), dim)


def test_hashed_score_edge_cases(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": ["", "x" * 20_000, "Mixed CASE tokens"],
            }
        )
    )
    dim = 1 << 12
    a = sorted(map(tuple, hashed_score(df, dim=dim).collect()))
    assert a == _score_reference(df.toPandas(), dim)


def test_hashed_score_no_shuffle(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = hashed_score(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scan-speed scoring: zero shuffles


def test_derived_weights_range():
    w = derived_weights(4096)
    assert w.min() >= -500 and w.max() <= 500
    assert len(np.unique(w)) > 500  # spread across the range
