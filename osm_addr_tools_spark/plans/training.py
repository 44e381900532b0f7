"""End-to-end training-manifest pipeline — the composition a corpus user
actually ships: raw crawl docs → near-dup retention → benchmark
decontamination → model-based quality gate → tokenizer-true token counts
→ length-bucketed packing → deterministic pack shuffle. Each stage is one
of the already-audited operators; this module owns only the composition
(what flows into what, and on which columns), so the 100-TB scale
argument is the per-stage one:

* dedup retention — banded MinHash candidates + connected components +
  an ids-only anti-join (operators/dedup.py);
* decontamination — per-side DISTINCT n-grams, AQE-decided equi-join on
  the gram (operators/decontam.py);
* quality — zero-shuffle hashed-classifier Column path
  (operators/quality.py);
* token counts — Arrow-batched BPE with a closure-shipped merge table
  (functions/tokenize.py);
* packing — grouped prefix-sum rank, never a few-partition window
  (operators/packing.py);
* shuffle — Feistel bijection key + distributed global row number
  (operators/sampling.py, operators/prefix_sum.py).

Stage ORDER: dedup before decontamination (a benchmark hit on any
member of a dup cluster must still kill the retained representative —
here representatives share the contaminated text, so checking survivors
is sufficient and |survivors| < |corpus| shrinks the gram join); quality
after both (it is per-doc and order-independent — identical text scores
identically — so it runs on the smallest surviving set). All inter-stage
joins carry ids only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_tools_spark.functions.tokenize import bpe_token_count_col
from osm_addr_tools_spark.operators.decontam import ngram_overlap
from osm_addr_tools_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from osm_addr_tools_spark.operators.packing import pack_by_length_bucket
from osm_addr_tools_spark.operators.prefix_sum import global_row_number
from osm_addr_tools_spark.operators.quality import hashed_score
from osm_addr_tools_spark.operators.sampling import feistel_shuffle_key

# Tokens per training pack: the one capacity training_manifest packs to.
PACK_CAPACITY = 128

# pack_uid = bucket_cap * _PACK_UID_STRIDE + pack_id must be injective and
# stay inside the Feistel domain [0, 2^62): bucket_cap ≤ PACK_CAPACITY
# ≤ 2^17 and pack_id < 2^44 give uid < 2^61. 2^44 pack ids per bucket ≈
# 1.7e13 packs — above the 10^12-doc design scale.
_PACK_UID_STRIDE = 1 << 44


def training_manifest(
    docs: DataFrame,
    benchmark: DataFrame,
    merges: list[tuple[str, str]],
    *,
    quality_dim: int = 1 << 16,
) -> DataFrame:
    """(doc_id, n_tok_bpe, bucket_cap, truncated, pack_id, slot, pack_pos)
    for every (doc_id, text) document that survives the full
    preprocessing pipeline — the table a training run reads. Near-dups
    are MinHash pairs at estimated Jaccard ≥ 0.5, contamination is a
    shared token 5-gram, and packs hold ``PACK_CAPACITY`` tokens in
    length buckets of 16 and up.

    ``merges`` is the learned BPE merge list (learn_bpe_from_df on the
    full corpus — the tokenizer is fixed corpus-wide, not per-subset).
    ``pack_pos`` is the 1-based position of the doc's pack in the
    deterministic training order (Feistel permutation over pack uids —
    stable across runs, layouts and parallelism).
    """
    # 1. near-dup retention: keep each component's min-id representative
    # cache_sigs deliberately left off here (r8 measurement): the CC
    # edge-persist immediately downstream already materializes the pair
    # plan once, so the signature cache's extra round-trip measured a
    # wash-to-slightly-worse (best 9.32 s vs 9.16 s), unlike the
    # standalone pair queries where it wins.
    pairs = minhash_lsh_pairs(docs)
    comp = connected_components(pairs.select("a", "b"))
    drops = comp.where(F.col("v") != F.col("component")).select(
        F.col("v").alias("doc_id")
    )
    retained = docs.join(drops, "doc_id", "left_anti")

    # 2. decontamination: drop survivors sharing any token n-gram with
    #    the benchmark set (worklist → ids-only anti-join)
    hits = ngram_overlap(retained, benchmark)
    clean = retained.join(hits.select("doc_id"), "doc_id", "left_anti")

    # 3. quality gate: hashed linear classifier, keep = score >= 0
    kept_ids = (
        hashed_score(clean, dim=quality_dim)
        .where(F.col("keep"))
        .select("doc_id")
    )
    kept = clean.join(kept_ids, "doc_id", "left_semi")

    # 4. tokenizer-true token counts (Arrow-batched BPE). localCheckpoint
    # truncates the lineage here: everything downstream (the packing
    # rank's bounded collects, the distinct-packs pass, the final join)
    # references this frame MORE THAN ONCE, and without the cut each
    # reference would re-run minhash + the gram join + the BPE UDF — the
    # same plan-explosion hazard connected_components cuts per round.
    # The checkpointed payload is (id, n_tok) ONLY — 16 bytes/row, the
    # table a production pipeline would materialize at this point anyway.
    counted = kept.select(
        "doc_id", bpe_token_count_col(merges).alias("n_tok_bpe")
    ).localCheckpoint()

    # 5. length-bucketed packing on the BPE counts
    packed = pack_by_length_bucket(
        counted, n_tok_col="n_tok_bpe", capacity=PACK_CAPACITY, min_bucket=16
    )

    # 6. deterministic pack shuffle: Feistel key over injective pack uids,
    #    dense 1-based order via the distributed prefix-sum core
    pack_uid = (
        F.col("bucket_cap") * F.lit(_PACK_UID_STRIDE) + F.col("pack_id")
    ).cast("long")
    packs = (
        packed.select("bucket_cap", "pack_id")
        .distinct()
        .select(
            "bucket_cap",
            "pack_id",
            feistel_shuffle_key(pack_uid).alias("_pack_key"),
        )
    )
    # explicit uniform boundaries (r8): the Feistel key domain is the
    # STATIC [0, 2^62) — no data-dependent min/max job is needed to bucket
    # it, and any monotone bucketing yields the identical row numbers
    # (running_sum's property contract). Cuts are multiples of 2^54, exact
    # in double. Skips one build-time aggregate job over the whole
    # distinct-packs subtree.
    feistel_cuts = [i * (1 << 62) // 256 for i in range(1, 256)]
    pos = global_row_number(
        packs, "_pack_key", out_col="pack_pos", boundaries=feistel_cuts
    ).select(
        "bucket_cap", "pack_id", F.col("pack_pos").cast("long").alias("pack_pos")
    )
    return packed.join(pos, ["bucket_cap", "pack_id"]).select(
        "doc_id",
        "n_tok_bpe",
        "bucket_cap",
        "truncated",
        "pack_id",
        "slot",
        "pack_pos",
    )
