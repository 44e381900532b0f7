"""Subword (BPE) tokenization — tokenizer-TRUE token counts for the
training-data operators (VERDICT r6 next-round #7).

Packing, chunking, token-sharding and the mixture weights all consume an
``n_tok`` column; counting whitespace words approximates what a trainer
actually sees. This module supplies the real thing: classic byte-pair
encoding (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of
Rare Words with Subword Units", arXiv:1508.07909 — the public algorithm
GPT-2/RoBERTa-family tokenizers descend from), learned from the corpus
and applied distributed.

Split of labor, Spark-first:

* **learning** is a driver-side pure-Python fold over the corpus's
  word-frequency table — exactly how production tokenizers are trained
  (on an aggregate/sample, never inside the data plane). Spark's part is
  the one thing that needs a cluster: the map-side-combined word count,
  collected bounded (top ``BPE_MAX_VOCAB`` by count; a few-thousand-row
  driver table at any corpus scale).
* **application** is an Arrow-batched pandas UDF. The merge table rides
  the closure (a few KB — broadcast-by-serialization), and each batch
  encodes every DISTINCT word once (web text repeats vocabulary heavily
  — the simhash_batch trick), so the per-row cost is a dict lookup.

Both halves share the same scalar kernels (``learn_bpe`` /
``bpe_encode``), so the DuckDB oracle can materialize bit-identical
counts from pure pandas (oracle_support) while Spark runs the real
distributed plan — the established shared-kernel gating policy
(oracle_support module doc).

Determinism: merge learning breaks count ties by lexicographically
SMALLEST pair; the word-count truncation orders by (-count, word). No
randomness, no floats, no engine hashes — the merges are a pure function
of the corpus.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_tools_spark.operators.decontam import TOKEN_RE

_EOW = "</w>"  # end-of-word marker (Sennrich et al. §3.2)
_INF = 1 << 30
# learn_bpe_from_df's word-table cut; the oracle twin truncates alike
BPE_MAX_VOCAB = 50_000


def learn_bpe(word_counts: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a word→count table (pure Python,
    exact integer counts, deterministic tie-break: highest count, then
    lexicographically smallest pair).

    Incremental scheme (the one Sennrich's reference learn_bpe uses): keep
    a global pair→count table plus a pair→{words containing it} index;
    each merge rewrites ONLY the words containing the chosen pair,
    decrementing their old pair counts and incrementing the new ones —
    O(Σ affected-word lengths) per merge instead of recounting the whole
    vocabulary (O(merges × vocab) for the naive fold, ~minutes at a real
    50k-word web vocabulary). Result is identical to the naive
    recount-per-round fold (pinned by tests/test_tokenize.py's
    independent reimplementation)."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        if w:
            key = tuple(w) + (_EOW,)
            vocab[key] = vocab.get(key, 0) + int(c)

    pair_counts: Counter = Counter()
    where: dict[tuple[str, str], set[tuple[str, ...]]] = {}
    for sym, c in vocab.items():
        for p in zip(sym, sym[1:]):
            pair_counts[p] += c
            where.setdefault(p, set()).add(sym)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        # drop zero/negative remnants lazily so min() never picks them
        best = None
        best_key = None
        for p, c in pair_counts.items():
            if c <= 0:
                continue
            k = (-c, p)
            if best_key is None or k < best_key:
                best_key, best = k, p
        if best is None:
            break
        merges.append(best)
        merged = best[0] + best[1]
        for sym in list(where.get(best, ())):
            c = vocab.pop(sym, None)
            if c is None:
                continue
            for p in zip(sym, sym[1:]):
                pair_counts[p] -= c
                s = where.get(p)
                if s is not None:
                    s.discard(sym)
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_sym = tuple(out)
            vocab[new_sym] = vocab.get(new_sym, 0) + c
            for p in zip(new_sym, new_sym[1:]):
                pair_counts[p] += c
                where.setdefault(p, set()).add(new_sym)
    return merges


def bpe_encode(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with a learned merge-rank table: repeatedly merge
    every occurrence of the LOWEST-RANK adjacent pair (the classic greedy
    loop every BPE implementation uses)."""
    sym = list(word) + [_EOW]
    while len(sym) > 1:
        best_rank = _INF
        best = None
        for a, b in zip(sym, sym[1:]):
            r = ranks.get((a, b), _INF)
            if r < best_rank:
                best_rank, best = r, (a, b)
        if best is None or best_rank == _INF:
            break
        merged = best[0] + best[1]
        out = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                out.append(merged)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_count_batch(
    text: pd.Series, ranks: dict[tuple[str, str], int]
) -> pd.Series:
    """Per-document BPE token count over an Arrow batch — one encode per
    DISTINCT word in the batch, then a dict-lookup sum per doc."""
    import re

    word_re = re.compile(TOKEN_RE)
    docs_words = [word_re.findall((t or "").lower()) for t in text]
    cache: dict[str, int] = {}
    for ws in docs_words:
        for w in ws:
            if w not in cache:
                cache[w] = len(bpe_encode(w, ranks))
    return pd.Series(
        [sum(cache[w] for w in ws) for ws in docs_words], dtype="int64"
    )


def merges_to_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    return {m: i for i, m in enumerate(merges)}


def learn_bpe_from_df(
    docs: DataFrame,
    n_merges: int = 200,
) -> list[tuple[str, str]]:
    """Learn merges from the ``text`` of a corpus DataFrame: ONE
    map-side-combined word count (the only cluster-sized stage), a bounded
    driver collect of the top ``BPE_MAX_VOCAB`` (count desc, word asc —
    deterministic truncation),
    then the pure-Python fold. At 100 TB the count table for [a-z0-9]+
    words is still tiny relative to the corpus; the top-V cut bounds the
    collect regardless."""
    toks = F.explode(
        F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)")
    ).alias("w")
    counts = (
        docs.select(toks)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(BPE_MAX_VOCAB)
        .collect()
    )
    return learn_bpe({r["w"]: r["c"] for r in counts}, n_merges)


def bpe_token_count_col(merges: list[tuple[str, str]]) -> Column:
    """Arrow-batched Column: BPE token count of ``text`` under the given
    merge table (closure-shipped; a few KB) — the tokenizer-true
    ``n_tok`` producer for packing/chunking/sharding/mixture inputs."""
    ranks = merges_to_ranks(merges)

    @F.pandas_udf("long")
    def _count(text: pd.Series) -> pd.Series:
        return bpe_count_batch(text, ranks)

    return _count(F.col("text"))
