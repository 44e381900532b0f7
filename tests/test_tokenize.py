"""BPE tokenizer kernels (functions/tokenize.py) — Sennrich et al. 2016
merge learning + greedy encoding, pinned by the paper's own toy corpus,
plus Spark/pure-Python parity of the distributed count path."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_addr_tools_spark.functions.tokenize import (
    bpe_count_batch,
    bpe_encode,
    bpe_token_count_col,
    learn_bpe,
    learn_bpe_from_df,
    merges_to_ranks,
)
from tests.reference import bpe_decode


def test_learn_bpe_sennrich_toy():
    """The paper's §3.2 example: {low:5, lower:2, newest:6, widest:3} —
    the first merges must fuse the frequent 'es'/'est' suffix."""
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = learn_bpe(counts, 4)
    assert merges[0] == ("e", "s")          # 9 occurrences, most frequent
    assert merges[1] == ("es", "t")         # then 'es'+'t'
    assert merges[2] == ("est", "</w>")     # suffix fuses to end-of-word
    ranks = merges_to_ranks(merges[:3])  # only the suffix merges
    assert bpe_encode("newest", ranks)[-1] == "est</w>"
    assert bpe_encode("lowest", ranks)[-1] == "est</w>"  # generalizes
    # with enough merges the frequent whole word fuses to ONE token
    full = merges_to_ranks(learn_bpe(counts, 12))
    assert bpe_encode("newest", full) == ["newest</w>"]


def test_bpe_encode_determinism_and_unknowns():
    merges = learn_bpe({"aaab": 10, "aab": 5}, 6)
    ranks = merges_to_ranks(merges)
    # unknown characters fall through as single symbols, never crash
    toks = bpe_encode("zzz", ranks)
    assert toks == ["z", "z", "z", "</w>"] or toks[-1] == "</w>"
    # encoding is a pure function
    assert bpe_encode("aaab", ranks) == bpe_encode("aaab", ranks)
    # empty word edge
    assert bpe_encode("", ranks) == ["</w>"]


def _learn_bpe_naive(word_counts, n_merges):
    """Independent reference: full recount + full rewrite every round —
    the textbook fold learn_bpe's incremental pair-index scheme must
    reproduce exactly (same counts, same (-count, pair) tie-break)."""
    from collections import Counter

    vocab = {}
    for w, c in word_counts.items():
        if w:
            key = tuple(w) + ("</w>",)
            vocab[key] = vocab.get(key, 0) + int(c)
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def test_learn_bpe_incremental_equals_naive():
    """The incremental pair-index learner must be merge-for-merge
    identical to the naive recount fold — exhaustively, on corpora built
    to stress the update paths: repeated letters (overlapping pairs),
    words collapsing to the same rewritten form, count ties resolved
    lexicographically, and a deterministic pseudo-random corpus."""
    corpora = [
        {"low": 5, "lower": 2, "newest": 6, "widest": 3},
        {"aaaa": 7, "aaab": 3, "abab": 5, "bbbb": 2},
        {"xy": 1, "yx": 1, "xx": 1, "yy": 1},          # all-ties
        {"abc": 2, "bcd": 2, "cde": 2, "abcde": 1},
        {"": 4, "a": 9},                               # degenerate words
    ]
    # deterministic pseudo-random corpus (no RNG: id-derived words)
    big = {}
    for i in range(300):
        w = "".join("abcdef"[(i * k + k * k) % 6] for k in range(2 + i % 7))
        big[w] = big.get(w, 0) + 1 + i % 11
    corpora.append(big)
    for wc in corpora:
        for n in (1, 5, 40):
            assert learn_bpe(wc, n) == _learn_bpe_naive(wc, n), wc


def test_bpe_count_batch_matches_per_word_encode():
    counts = {"hello": 4, "help": 3, "world": 5}
    ranks = merges_to_ranks(learn_bpe(counts, 8))
    texts = pd.Series(["Hello world", "help HELP hello", "", None, "zz9 zz9"])
    got = bpe_count_batch(texts, ranks)

    def one(t):
        import re

        return sum(
            len(bpe_encode(w, ranks))
            for w in re.findall("[a-z0-9]+", (t or "").lower())
        )

    assert list(got) == [one(t) for t in texts]


def test_bpe_spark_matches_pure_python(spark):
    """The full distributed path (word-count agg -> bounded collect ->
    merge fold -> Arrow-batched count) must equal a single-process
    pure-Python run on the same rows."""
    import re

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quicker browner foxes jump over lazier dogs"),
        (3, "pack my box with five dozen liquor jugs"),
        (4, "sphinx of black quartz judge my vow"),
        (5, "the the the quick quick brown"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    merges = learn_bpe_from_df(df, n_merges=30)

    counts: dict[str, int] = {}
    for _, t in rows:
        for w in re.findall("[a-z0-9]+", t.lower()):
            counts[w] = counts.get(w, 0) + 1
    top = dict(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])))
    assert merges == learn_bpe(top, 30)

    ranks = merges_to_ranks(merges)
    got = {
        r.doc_id: r.n_tok_bpe
        for r in df.withColumn("n_tok_bpe", bpe_token_count_col(merges)).collect()
    }
    want = {
        i: sum(len(bpe_encode(w, ranks)) for w in re.findall("[a-z0-9]+", t.lower()))
        for i, t in rows
    }
    assert got == want
    # BPE compresses: token count <= character count, >= word count
    for i, t in rows:
        ws = re.findall("[a-z0-9]+", t.lower())
        if ws:
            assert len(ws) <= got[i] <= sum(len(w) + 1 for w in ws)


def test_bpe_encode_ids_roundtrip_and_count_consistency(spark):
    """The encoded symbol stream decodes to the canonical normalized text
    (lowercase TOKEN_RE tokens, single-space joined), and the n_tok_bpe
    the Spark count path reports is that stream's length — so packing /
    chunking coordinates computed on counts address this exact stream."""
    import re

    rows = [
        (1, "The quick brown fox JUMPS over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs 42 times"),
        (3, ""),
        (4, None),
        (5, "repeat repeat repeat repeat repeat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    merges = learn_bpe_from_df(df, n_merges=25)
    ranks = merges_to_ranks(merges)

    got = {
        r.doc_id: r.n
        for r in df.select("doc_id", bpe_token_count_col(merges).alias("n")).collect()
    }
    for i, t in rows:
        words = re.findall("[a-z0-9]+", (t or "").lower())
        syms = [s for w in words for s in bpe_encode(w, ranks)]
        assert got[i] == len(syms)
        assert bpe_decode(syms) == " ".join(words)


def test_learn_bpe_hypothesis_random_corpora():
    """Property fuzz: on arbitrary small corpora the incremental learner
    equals the naive fold, and encode/decode under the learned merges
    roundtrips every word."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abc01", min_size=0, max_size=8)
    corpus = st.dictionaries(word, st.integers(1, 50), min_size=0, max_size=12)

    @settings(max_examples=60, deadline=None)
    @given(corpus, st.integers(0, 15))
    def prop(wc, n):
        merges = learn_bpe(wc, n)
        assert merges == _learn_bpe_naive(wc, n)
        ranks = merges_to_ranks(merges)
        for w in wc:
            assert bpe_decode(bpe_encode(w, ranks)) == w

    prop()
