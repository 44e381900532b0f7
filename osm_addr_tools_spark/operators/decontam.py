"""Benchmark decontamination — n-gram overlap between a training corpus
and an evaluation/benchmark set.

The standard pre-training hygiene pass (GPT-3 App. C / PaLM / Llama all
describe the same scheme): a training document is CONTAMINATED if it
shares any length-n token n-gram with any benchmark example; contaminated
docs are dropped or audited before training. n is chosen large enough
(5-13) that natural-language collisions are rare; ngram_overlap uses
n = 5.

Scale shape at 100 TB of training text vs a benchmark set of ~10^5-10^7
examples:

- tokenize + n-gram both sides with pure Column expressions
  (regexp_extract_all / transform / slice — whole-stage codegen, no UDF);
- DISTINCT (doc, gram) per side BEFORE the join — a gram repeated inside
  one doc contributes one candidate row, so stop-gram-grade hot n-grams
  produce 1:D joins against distinct doc lists, never an occurrence-
  count wedge;
- equi-join on the gram, AQE-decided: the benchmark gram table is
  typically MBs (broadcast), but it is derived data that grows with the
  benchmark suite, so it is never force-broadcast;
- one map-side-combined count per doc.

At full scale the join key should be ``xxhash64(gram)`` with a residual
string-equality filter — an 8-byte shuffle key instead of a ~60-byte
string, exactness preserved by the residual. At test scale the string
key keeps the plan oracle-identical; the hash variant is a one-line
toggle documented here rather than a fork in tested behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"


def _grams(df: DataFrame, keep_cols: list[str]) -> DataFrame:
    """One row per (keep_cols, gram): lowercase token 5-grams of ``text``.
    Docs shorter than 5 tokens emit no rows."""
    toks = F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)")
    return (
        df.select(*keep_cols, toks.alias("_t"))
        .where(F.size("_t") >= 5)
        .select(
            *keep_cols,
            F.explode(
                F.expr("transform(sequence(1, size(_t) - 4), i -> array_join(slice(_t, i, 5), ' '))")
            ).alias("gram"),
        )
    )


def ngram_overlap(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """(doc_id, n_hit) for every training doc sharing ≥1 token 5-gram
    with the benchmark set (both sides read ``text``); n_hit = number of
    DISTINCT contaminated 5-grams
    (the audit-ranking signal — docs quoting whole benchmark items rank
    above docs sharing one idiom). Docs with zero overlap are absent:
    the output is the contamination WORKLIST (drop-list via anti-join,
    or review queue), not a per-doc annotation — same contract as the
    PII scan."""
    dg = _grams(docs, ["doc_id"]).distinct()
    bg = _grams(bench, []).distinct()
    return (
        dg.join(bg, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
