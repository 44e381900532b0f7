"""Structured Streaming ingest (SURVEY.md §2.10, optional phase).

The batch engine is the deliverable; this module proves the schema and
operator choices don't preclude streaming: the same pages schema streams
from a file source (Iceberg streaming read in production), with an
event-time watermark on ``warc_ts``, windowed per-lang counts, and the
SAME X1/X2 extraction kernels applied to the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from osm_addr_tools_spark.sources.synth import PAGES_DDL


def read_pages_stream(
    spark: SparkSession, path: str, watermark: str = "1 hour", **options
) -> DataFrame:
    """Streaming read of a pages directory (file source stands in for the
    Iceberg streaming read; schema is fixed — no inference on streams).
    ``options`` pass through to the reader (e.g. maxFilesPerTrigger=1 to
    force multi-microbatch runs in tests)."""
    reader = spark.readStream.schema(PAGES_DDL)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(path).withWatermark("warc_ts", watermark)


def windowed_lang_counts(pages: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling event-time window counts per lang (append-mode capable)."""
    return pages.groupBy(F.window("warc_ts", window), "lang").agg(
        F.count(F.lit(1)).alias("n_pages")
    )


def session_counts_stream(
    df: DataFrame, gap: str = "24 hours", key: str = "user_id", ts: str = "ts"
) -> DataFrame:
    """Stateful session-window aggregation on a stream (§2.10 — the
    streaming face of queries.events_session_window; same native
    operator, now with watermark-driven state eviction). Append mode
    emits a session once the watermark passes its end (= last event +
    gap); the batch twin equals the stream restricted to sessions the
    final watermark could close — pinned by
    tests/test_multimodal_streaming.py::test_session_window_stream_matches_batch."""
    # watermarks require TimestampType; events.ts is TIMESTAMP_NTZ and the
    # cast is the identity wall-clock mapping under the UTC session zone
    df = df.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        df.withWatermark(ts, "0 seconds")
        .groupBy(F.col(key), F.session_window(F.col(ts), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.unix_micros(F.col("session_window.start").cast("timestamp")).alias("start_us"),
            F.unix_micros(F.col("session_window.end").cast("timestamp")).alias("end_us"),
            "n_events",
        )
    )


def extract_stream(pages: DataFrame) -> DataFrame:
    """EP1's X1+X2 stages applied to the stream (same kernels, same
    fused-UDF shape — batch/stream parity by construction)."""
    from osm_addr_tools_spark.plans.extract import (
        extract_text_udf,
        parse_and_normalize_udf,
    )

    df = pages.select("url", "warc_ts", "html")
    df = df.withColumn("text", extract_text_udf()("html")).drop("html")
    df = df.withColumn("addr", F.explode(parse_and_normalize_udf()("text"))).drop("text")
    return df.select("url", "warc_ts", "addr.*")


LEDGER_SCHEMA = (
    "key string, first_us long, last_us long, n_crawls long, n_changes long"
)
_LEDGER_STATE = "first_us long, last_us long, n_crawls long, n_changes long, last_fp long"


class ChangeLedgerProcessor(StatefulProcessor):
    """Richer custom state than dropDuplicatesWithinWatermark (SURVEY §2.10
    'transformWithStateInPandas'): a per-key crawl ledger that survives
    across microbatches — first/last event time, crawl count, and the
    number of CONTENT CHANGES (fingerprint transitions, the first crawl
    counting as change #1). Fingerprints are computed upstream with the
    JVM-side ``xxhash64`` — the processor never hashes payload bytes in
    Python; the fold over a key's batch is NumPy-vectorized.

    Semantics are processing-order within event-time order: each
    microbatch's rows for a key are folded sorted by (ts, fp); cross-batch
    order is arrival order (late data past the watermark never reaches the
    processor). The batch twin is ``change_ledger_batch`` — parity is
    pytest-gated across a forced multi-microbatch run."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("ledger", _LEDGER_STATE)

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np
        import pandas as pd

        pdf = pd.concat(list(rows), ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "fp"], kind="mergesort")
        ts = pdf["ts_us"].to_numpy(np.int64)
        fp = pdf["fp"].to_numpy(np.int64)
        if self._state.exists():
            first_us, last_us, n_crawls, n_changes, last_fp = self._state.get()
            prev = np.concatenate(([last_fp], fp[:-1]))
            changes = int((fp != prev).sum())
        else:
            first_us, last_us, n_crawls, n_changes = ts[0], ts[-1], 0, 0
            prev = np.concatenate(([fp[0]], fp[:-1]))
            changes = 1 + int((fp[1:] != fp[:-1]).sum())
        first_us = min(int(first_us), int(ts.min()))
        last_us = max(int(last_us), int(ts.max()))
        n_crawls = int(n_crawls) + len(pdf)
        n_changes = int(n_changes) + changes
        self._state.update((first_us, last_us, n_crawls, n_changes, int(fp[-1])))
        yield pd.DataFrame(
            {"key": [key[0]], "first_us": [first_us], "last_us": [last_us],
             "n_crawls": [n_crawls], "n_changes": [n_changes]}
        )

    def close(self) -> None:
        pass


def change_ledger_stream(
    df: DataFrame, key: str = "url", ts: str = "warc_ts", payload: str = "text"
) -> DataFrame:
    """Streaming per-key change ledger via transformWithStateInPandas
    (requires the RocksDB state store provider). One output row per
    (key, microbatch) in update mode; the LAST row per key is the final
    ledger.

    Sandbox note: the TWS runtime's state-server protocol imports
    google.protobuf, which is not installed here (pip is off-limits) — the
    live-stream test is collected-and-skipped (like the Iceberg binding);
    the processor kernel and the ledger semantics are gated through the
    fake-handle fold test and the events_change_ledger DuckDB oracle."""
    prepared = df.select(
        F.col(key).cast("string").alias("key"),
        F.unix_micros(F.col(ts)).alias("ts_us"),
        F.xxhash64(F.col(payload)).alias("fp"),
    )
    return prepared.groupBy("key").transformWithStateInPandas(
        statefulProcessor=ChangeLedgerProcessor(),
        outputStructType=LEDGER_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def change_ledger_batch(
    df: DataFrame, key: str = "url", ts: str = "warc_ts", payload: str = "text"
) -> DataFrame:
    """Batch twin of ``change_ledger_stream`` — same ledger from a plain
    window + hash-agg, folding each key's rows in GLOBAL (ts_us, fp)
    event-time order. Transitions are counted on the SAME ``xxhash64``
    fingerprint with the same tie-break, so equal-timestamp runs fold in
    the identical order on both sides.

    Parity caveat (ADVICE r3): the stream folds in event-time order
    WITHIN each microbatch but ARRIVAL order across microbatches — rows
    that arrive out of event-time order across microbatches (legal inside
    the watermark; only late-past-watermark data is dropped) can count a
    fingerprint flip the batch twin's global ordering does not (and
    vice versa). first/last/n_crawls always agree; n_changes agrees
    whenever cross-batch arrival respects event time — the common
    monotonic-crawl case, and the one the parity test pins. The
    out-of-order divergence case is pinned too
    (test_change_ledger_out_of_order_arrival_caveat)."""
    from pyspark.sql import Window

    prepared = df.select(
        F.col(key).cast("string").alias("key"),
        F.unix_micros(F.col(ts)).alias("ts_us"),
        F.xxhash64(F.col(payload)).alias("fp"),
    )
    w = Window.partitionBy("key").orderBy(F.col("ts_us").asc(), F.col("fp").asc())
    lagfp = F.lag("fp").over(w)
    return (
        prepared.withColumn(
            "_chg",
            F.when(lagfp.isNull() | (lagfp != F.col("fp")), 1).otherwise(0),
        )
        .groupBy("key")
        .agg(
            F.min("ts_us").alias("first_us"),
            F.max("ts_us").alias("last_us"),
            F.count(F.lit(1)).alias("n_crawls"),
            F.sum("_chg").alias("n_changes"),
        )
    )


def run_to_memory(spark: SparkSession, df: DataFrame, name: str, mode: str = "append"):
    """availableNow trigger into a memory sink (test/debug harness).
    Windowed aggregations need mode="complete" to surface windows the
    watermark hasn't closed yet."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def filter_documents_stream(docs: DataFrame, dim: int = 1 << 16) -> DataFrame:
    """Filter-at-ingest: the stateless per-document training-data gates —
    the hashed linear quality classifier (operators.quality) and the PII
    pattern scan — applied to a document STREAM. Every expression is a
    per-row Column (no aggregation, no join, no state), so the stage is
    streaming-capable by construction in append mode with NO watermark
    and NO state store: exactly-once per input row, and the stream result
    is bit-identical to the batch result on the same rows (pytest-pinned
    across forced multi-microbatch runs).

    This is the shape that matters at ingest scale: quality/PII gating
    happens before anything stateful (dedup, sessionization) ever sees
    the document, so the state stores downstream only carry survivors.

    Output: doc_id, n_tok, score, n_email, n_phone, keep — keep is the
    composed gate (classifier score ≥ 0 AND no PII hits)."""
    from osm_addr_tools_spark.operators.quality import (
        EMAIL_RE,
        PHONE_RE,
        W_SCALE,
        score_cols,
    )

    n_tok, score_num = score_cols("text", dim)
    n_email = F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).cast("bigint")
    n_phone = F.regexp_count(F.col("text"), F.lit(PHONE_RE)).cast("bigint")
    d = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        score_num.alias("score_num"),
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
    )
    score = F.col("score_num") / (F.col("n_tok") * F.lit(float(W_SCALE)))
    return d.select(
        "doc_id",
        "n_tok",
        score.alias("score"),
        "n_email",
        "n_phone",
        (
            (score >= 0.0) & (F.col("n_email") == 0) & (F.col("n_phone") == 0)
        ).alias("keep"),
    )


def seed_dedup_index(index_df: DataFrame, index_path: str) -> None:
    """Write the initial corpus signature index (doc_id, sig) under
    ``index_path`` in the layout incremental_dedup_stream appends to
    (one partition directory per ingest unit; the seed is batch_id=seed).
    ``index_df`` comes from operators.dedup.build_minhash_index — i.e.
    the batch pipeline's artifact IS the stream's starting state."""
    index_df.write.mode("overwrite").parquet(f"{index_path}/batch_id=seed")


def dedup_one_batch(
    batch_df: DataFrame,
    batch_id,
    index_path: str,
    ledger_path: str,
    threshold: float = 0.5,
) -> dict:
    """One micro-batch of the incremental dedup stream over (doc_id, text)
    documents — module-level so
    the crash-replay contract is directly testable (re-invoking with the
    same batch_id must rewrite byte-identical ledger and index
    partitions). Returns ``{"rows", "kept"}`` ledger counts (computed
    from the single post-write read that already feeds the kept-join, so
    callers never re-scan the partition).
    See incremental_dedup_stream for the full contract."""
    from osm_addr_tools_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
    )

    spark = batch_df.sparkSession
    try:
        # basePath keeps partition discovery rooted at index_path, so
        # the directory names surface as a batch_id column (string:
        # the seed partition is batch_id=seed) the replay guard can
        # filter on. The corpus view for batch N is the seed plus
        # STRICTLY EARLIER batches (batch order IS the dedup
        # precedence): never the in-flight batch's own partition (a
        # replay after the index append would otherwise self-match
        # every kept doc and empty the partition; ADVICE r6, high) and
        # never a LATER batch's stale partition — on a config-change
        # rerun (manifest invalidation) or an out-of-order crawl id,
        # `!= current` would dedupe crawl N against crawl N+k's
        # surviving signatures, inverting precedence and permanently
        # mislabeling crawl-N docs corpus_dup.
        # try_cast: the seed partition's value is the literal string
        # "seed" — a plain cast would raise under ANSI (Spark 4 default)
        b = F.col("batch_id").cast("string").try_cast("long")
        idx = (
            spark.read.option("basePath", index_path)
            .parquet(index_path)
            .where(b.isNull() | (b < F.lit(int(batch_id))))
            .select("doc_id", "sig")
        )
    except AnalysisException as e:
        # ONLY a genuinely absent index (unseeded first batch) may fall
        # back to empty — swallowing storage/corruption errors here
        # would silently dedupe against NOTHING and admit the whole
        # batch as 'kept' (an at-scale disaster, not a fallback)
        if "PATH_NOT_FOUND" not in str(e):
            raise
        idx = build_minhash_index(batch_df.limit(0))
    batch_df = batch_df.persist()  # signature subtree feeds 3 stages
    try:
        ledger = incremental_minhash_dedup(batch_df, idx, threshold=threshold)
        ledger.write.mode("overwrite").parquet(
            f"{ledger_path}/batch_id={batch_id}"
        )
        led = spark.read.parquet(f"{ledger_path}/batch_id={batch_id}")
        agg = led.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("status") == "kept").cast("long")).alias("kept"),
        ).first()
        kept = led.where(F.col("status") == "kept").select("doc_id")
        # the appended signatures are built by the SAME construction as
        # the batch signatures the ledger was computed from
        index_rows = build_minhash_index(batch_df.join(kept, "doc_id"))
        index_rows.write.mode("overwrite").parquet(f"{index_path}/batch_id={batch_id}")
    finally:
        batch_df.unpersist()
    return {"rows": int(agg["rows"]), "kept": int(agg["kept"] or 0)}


def incremental_dedup_stream(
    docs: DataFrame,
    index_path: str,
    ledger_path: str,
    threshold: float = 0.5,
    checkpoint: str | None = None,
):
    """Continuous-ingest near-dup gate: each micro-batch runs
    operators.dedup.incremental_minhash_dedup against the PERSISTED
    corpus signature index, appends its ingest ledger, and appends the
    kept docs' signatures back to the index — so a doc kept in batch N
    marks its near-dups in batch N+1 as corpus_dup (cross-batch state,
    pytest-pinned).

    Why foreachBatch + columnar state, not the streaming state store:
    the dedup state is the signature set of EVERY corpus document —
    10^12 rows × ~0.5 KB at design scale — which belongs in the same
    bucketed parquet/Iceberg table the batch pipeline maintains, not in
    a per-key state store (dropDuplicatesWithinWatermark can only dedupe
    EXACT keys within a watermark horizon; near-dup banding + agreement
    verify needs joins). The stream and the batch pipeline therefore
    share ONE index artifact: seed it with seed_dedup_index, and either
    side's kept-docs appends extend the other's view.

    Crash/replay idempotence: every batch writes BOTH outputs with
    dynamic-overwrite semantics into ``batch_id=<id>`` partition
    directories, so a foreachBatch replay after a failure rewrites the
    same deterministic bytes instead of duplicating rows (the S5
    manifest-sink crash-window contract, applied to streaming). Pass
    ``checkpoint`` in production so the engine replays with the SAME
    batch ids. The index read EXCLUDES the in-flight batch's own
    ``batch_id`` partition (ADVICE r6): a replay of batch N after its
    index append but before checkpoint commit would otherwise see batch
    N's own kept signatures, self-match every one of them (identical
    signature ⇒ estimated Jaccard 1.0), relabel them corpus_dup, and
    overwrite the index partition EMPTY — silently dropping kept docs
    from the corpus forever (pytest-pinned: replaying a batch rewrites
    byte-identical ledger and index partitions).

    Returns the finished availableNow query (tests run it to completion).
    """

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_one_batch(
            batch_df, batch_id, index_path, ledger_path, threshold=threshold
        )

    w = docs.writeStream.foreachBatch(_one_batch).trigger(availableNow=True)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.awaitTermination()
    return q


def ingest_batches_resumable(
    docs: DataFrame,
    index_path: str,
    ledger_path: str,
    batch_col: str = "batch_id",
    threshold: float = 0.5,
) -> dict:
    """Resumable multi-crawl incremental dedup (VERDICT r6 #8): run every
    batch of ``docs`` (distinguished by ``batch_col``, ascending — batch
    order IS the dedup precedence: a doc kept in crawl N marks its
    near-dups in crawl N+1 as corpus_dup) through ``dedup_one_batch``,
    recording each COMPLETED batch in the S5 checkpoint manifest at
    ``<ledger_path>/_manifest``. A killed ingest restarted with the same
    arguments skips completed batches entirely — their ledger and index
    partitions are already on disk — replays at most the one in-flight
    batch (idempotent: the replay guard in dedup_one_batch), and
    continues; a config change (threshold) invalidates
    resume via the manifest's config_hash, same as every S5 stage.

    Manifest row per batch: part = batch id, rows = ledger rows,
    matched = kept count, appended ONLY after both the ledger and index
    writes succeed (the S5 crash-window contract: at-least-once with
    idempotent overwrite).

    Returns {"planned", "skipped", "written", "rows"} (the
    plans.manifest.write_resumable stats contract).

    Scale shape: the driver loop is over CRAWLS (a bounded operational
    sequence — dailies, not data); each iteration is a full distributed
    job. Batches must run serially by construction — crawl N+1's corpus
    view includes crawl N's kept signatures."""
    import time as _time

    from osm_addr_tools_spark.plans.manifest import (
        MANIFEST_DIR,
        MANIFEST_SCHEMA,
        completed_parts,
        config_hash,
    )

    spark = docs.sparkSession
    cfg = config_hash({"threshold": threshold})
    done = completed_parts(spark, ledger_path, "incremental_dedup", cfg)
    done_ids = {r.part for r in done.collect()} if done is not None else set()
    # bounded collect: #crawls, an operational sequence
    all_ids = sorted(
        r.b
        for r in docs.select(F.col(batch_col).cast("long").alias("b"))
        .distinct()
        .collect()
    )
    todo = [b for b in all_ids if b not in done_ids]
    stats = {
        "planned": len(all_ids),
        "skipped": len(all_ids) - len(todo),
        "written": len(todo),
        "rows": 0,
    }
    import os as _os

    for b in todo:
        batch_df = docs.where(F.col(batch_col) == b).drop(batch_col)
        t0 = _time.perf_counter()
        bstats = dedup_one_batch(
            batch_df, b, index_path, ledger_path, threshold=threshold
        )
        wall_ms = int((_time.perf_counter() - t0) * 1000)
        row = spark.createDataFrame(
            [("incremental_dedup", cfg, int(b), bstats["rows"],
              bstats["kept"], wall_ms)],
            MANIFEST_SCHEMA,
        )
        row.write.mode("append").parquet(
            _os.path.join(ledger_path, MANIFEST_DIR)
        )
        stats["rows"] += bstats["rows"]
    return stats
