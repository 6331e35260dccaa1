"""Streaming frontier: the batch wave loop (plans/crawl.py) re-expressed
incrementally (SURVEY.md §7 stretch goal).

- ``streaming_candidates``: readStream(documents) → link discovery →
  **streaming dedup** (``dropDuplicates("url_hash")``) → candidate
  stream. The dropDuplicates state store IS the URL-seen set in the
  streaming formulation — exactly-once per canonical url across all
  micro-batches, checkpointed by the engine. At 10^10 scale the state
  is RocksDB-backed (`spark.sql.streaming.stateStore.providerClass`);
  key size = 8-byte url_hash, so 10^10 keys ≈ bounded by the store,
  not the JVM heap.

- ``run_streaming_crawl``: a self-feeding incremental crawl driver —
  ``foreachBatch`` applies the batch politeness/fetch pipeline to each
  discovered micro-batch and writes newly fetched documents back into
  the watched directory, so discovery cascades until the frontier is
  exhausted. One code path (the batch operators) serves both engines,
  which is the point: streaming is an execution mode, not a fork.

- ``streaming_fetch_rollup``: event-time windowed crawl telemetry with
  watermarking (late fetch records beyond the watermark are dropped —
  the standard correctness/ state-size trade).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docrawl_spark.operators.discovery import discover_links
from docrawl_spark.sources.schemas import DOCUMENTS_SCHEMA


def streaming_candidates(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source documents stream → deduped candidate url stream."""
    docs = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(docs_dir)
    )
    with_meta = docs.select(
        "doc_id",
        "spans",
        F.lit(0).cast("long").alias("visit_rank"),
        F.lit(0).alias("depth"),
    )
    discovered = discover_links(with_meta, doc_col="doc_id")
    good = discovered.where(F.col("canon_error").isNull())
    # streaming state = the url-seen set; exactly-once per url_hash
    return good.select(
        "url_hash", "url", "host", "host_hash", "discovered_by", "offset", "depth"
    ).dropDuplicates(["url_hash"])


def bounded_streaming_dedup(
    candidates: DataFrame,
    ts_col: str = "discovered_at",
    watermark: str = "1 hour",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Bounded-state streaming URL dedup:
    ``dropDuplicatesWithinWatermark`` keyed on url_hash. The plain
    ``dropDuplicates`` seen-set (streaming_candidates) keeps EVERY key
    forever — exactly-once per url for the whole run, but state grows
    with the crawl. This variant evicts keys once the watermark passes
    their event time, so state is bounded by the discovery rate ×
    horizon instead of the frontier size — the right trade when the
    long-term seen set lives in the Bloom/warehouse anti-join
    (operators/dedup) and streaming only needs to collapse the
    re-discovery BURSTS every popular URL generates within a window.

    ``candidates`` must carry an event-time column ``ts_col``; a URL
    re-discovered within the horizon is dropped, re-discovered after
    eviction it passes again (then the batch seen-set still catches
    it)."""
    keys = key_cols or ["url_hash"]
    return candidates.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_fetch_rollup(
    spark: SparkSession,
    fetch_log_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed per-host fetch telemetry with late-data
    handling: counts + error rate per (window, host)."""
    return (
        fetch_log_stream.withWatermark("fetched_at", watermark)
        .groupBy(F.window("fetched_at", window).alias("w"), F.col("host"))
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum((F.col("status") >= 400).cast("long")).alias("n_errors"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "host",
            "n_fetches",
            "n_errors",
        )
    )


def streaming_latency_histogram(
    fetch_log_stream: "DataFrame",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    latency_col: str = "latency_ms",
) -> "DataFrame":
    """Event-time windowed log2×sub-bucket latency histogram — the
    streaming twin of functions/sketches.log2_histogram, keyed by
    (window, msb, sub). State is bounded by windows × ≤64·8 buckets
    (never by fetch volume), counters merge by addition across
    micro-batches exactly as the batch sketch merges across waves, and
    downstream reads percentile intervals off the emitted counters
    with the same histogram_percentile_bounds arithmetic."""
    from docrawl_spark.functions.sketches import log2_bucket_cols

    msb, sub = log2_bucket_cols(latency_col)
    return (
        fetch_log_stream.withWatermark("fetched_at", watermark)
        .select(
            F.col("fetched_at"),
            msb.alias("msb"),
            sub.alias("sub"),
        )
        .groupBy(F.window("fetched_at", window).alias("w"), "msb", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "msb", "sub", "cnt")
    )


def run_streaming_crawl(
    spark: SparkSession,
    corpus: DataFrame,
    seeds_docs: DataFrame,
    watch_dir: str,
    checkpoint_dir: str,
    hosts: DataFrame | None = None,
    max_batches: int = 16,
    visits_dir: str | None = None,
) -> DataFrame | None:
    """Self-feeding incremental crawl: seed documents land in
    ``watch_dir``; each micro-batch discovers links, joins the corpus
    (synthetic fetch), and writes newly fetched documents back into
    ``watch_dir`` — cascading until no new urls remain.

    Visited doc_ids are recorded to the ``visits_dir`` SINK (one
    (doc_id, epoch) row per visit) when a caller asks for them —
    never collected to the driver inside the operator path (a
    frontier-sized driver list at 10^10 scale). Tests read the sink
    and order by (epoch, doc_id); returns the sink DataFrame, or None
    when no ``visits_dir`` was given.

    This is the demonstration harness for the streaming mode (file
    source + foreachBatch); the production shape swaps the file source
    for the frontier table's CDC feed."""
    seeds_docs.write.mode("append").parquet(watch_dir)
    stream = streaming_candidates(spark, watch_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        gated = batch_df
        if hosts is not None:
            from docrawl_spark.operators.politeness import robots_allowed_col

            dim = hosts.select("host", F.col("robots_blob").alias("_robots"))
            gated = (
                batch_df.join(F.broadcast(dim), "host", "left")
                .where(robots_allowed_col(F.col("url"), F.col("_robots")))
                .drop("_robots")
            )
        new_docs = (
            gated.join(corpus, gated["url"] == corpus["doc_id"], "inner")
            .select(corpus["doc_id"], corpus["spans"])
            .persist()
        )
        # scalar emptiness check (NOT a row collect): an empty epoch
        # must not write a new file or the file source would cascade
        # empty batches forever
        if new_docs.count() > 0:
            new_docs.write.mode("append").parquet(watch_dir)
            if visits_dir is not None:
                new_docs.select(
                    "doc_id", F.lit(int(epoch_id)).alias("epoch")
                ).write.mode("append").parquet(visits_dir)
        new_docs.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        for _ in range(max_batches):
            q.processAllAvailable()
    finally:
        q.stop()
    if visits_dir is None:
        return None
    try:
        return spark.read.parquet(visits_dir)
    except Exception:  # no doc ever joined — sink never created
        return spark.createDataFrame([], "doc_id string, epoch long")


def streaming_url_dedup(
    candidates_stream: DataFrame,
    url_col: str = "url",
    within_watermark: bool = False,
    event_time_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Cross-batch first-occurrence URL dedup on a candidate stream —
    the streaming twin of the wave loop's seen-set anti-join, for the
    continuous-ingest deployment where candidates arrive as a stream
    rather than as wave frames.

    Two state regimes, picked by ``within_watermark``:

    - ``False`` (default): ``dropDuplicates`` on the url hash —
      EXACT forever, state grows with distinct URLs. Right when the
      state store is RocksDB-backed and the URL universe is the
      10^9-10^10 the seen-set Bloom was sized for (hash-only state
      rows: ~8 bytes each before store overhead).
    - ``True``: ``dropDuplicatesWithinWatermark`` over
      ``event_time_col`` — state bounded by the watermark horizon;
      re-discoveries older than the horizon pass through and the
      DOWNSTREAM warehouse anti-join (the batch truth,
      ``plans/wave``) removes them. This is the production pairing:
      bounded in-stream state for the common fast path, exact batch
      truth behind it.

    Dedup is keyed on ``xxhash64(url)`` — the engine's url_hash —
    so state never stores the raw string.
    """
    keyed = candidates_stream.withColumn(
        "url_hash", F.xxhash64(F.col(url_col))
    )
    if within_watermark:
        return keyed.withWatermark(
            event_time_col, watermark
        ).dropDuplicatesWithinWatermark(["url_hash"])
    return keyed.dropDuplicates(["url_hash"])


def run_streaming_neardup_probe(
    spark: SparkSession,
    index: DataFrame,
    watch_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    n_hashes: int = 8,
    n_bands: int = 4,
    hash_mode: str = "md5hex",
    max_batches: int = 4,
) -> None:
    """Streaming twin of the incremental near-dup probe
    (``datapipe/dedup.lsh_probe_index``): newly crawled documents land
    in ``watch_dir`` as parquet; each micro-batch computes its band
    rows and probes the STATIC corpus band index, appending candidate
    (new_id, corpus_id) rows to ``out_dir``.

    foreachBatch, not a stream-static join on the raw stream: the
    signature stage is a per-doc aggregation (explode shingles →
    groupBy doc) which inside a micro-batch is a plain bounded batch
    aggregate — as unbounded streaming state it would be wrong (a doc
    is whole within its batch; there is nothing to wait for). The
    index stays a warehouse table — ``band_key``-bucketed, the probe
    join is shuffle-free on the corpus side; batch results are
    append-only and idempotent per epoch."""
    from docrawl_spark.datapipe.dedup import lsh_probe_index

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(watch_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        cands = lsh_probe_index(
            batch_df,
            index,
            n_hashes=n_hashes,
            n_bands=n_bands,
            hash_mode=hash_mode,
        )
        cands.write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        for _ in range(max_batches):
            q.processAllAvailable()
    finally:
        q.stop()


def run_streaming_transitions(
    spark: SparkSession,
    watch_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    carry_dir: str,
    max_batches: int = 4,
) -> None:
    """Streaming twin of the event-type transition matrix
    (``plans/driver_queries.q_events_transitions``): events arrive as
    parquet micro-batches; within a batch, consecutive (prev → next)
    pairs come from the same bounded per-user lag window as the batch
    query, and the CROSS-BATCH boundary transition (a user's last event
    in epoch k → their first in epoch k+1) is stitched via a carry
    table holding exactly ONE last-event row per user — the minimal
    streaming state, persisted to ``carry_dir`` between epochs.

    Per-epoch pair counts land in ``out_dir/epoch=N`` with overwrite,
    and the carry is an EPOCH-KEYED snapshot (``carry_dir/epoch=N``):
    epoch k reads the newest snapshot with epoch < k, so a replayed
    epoch (foreachBatch is at-least-once — a crash between the carry
    write and the checkpoint commit WILL replay) re-reads its original
    pre-epoch state and rewrites identical outputs instead of
    double-counting a stale post-epoch carry. A missing snapshot means
    first epoch; a CORRUPT snapshot raises (only absence is swallowed).
    Assumes per-user event-time monotonicity across epochs (the
    file-source ordering); late rows fall through to the batch
    recompute — the same bounded-fast-path / exact-batch-truth pairing
    as ``streaming_url_dedup``. Snapshot listing is a filesystem
    listdir (local paths; an object store swaps in its own listing)."""
    import os
    import re as _re

    from pyspark.sql import Window

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(watch_dir)
    )

    def _carry_before(epoch_id: int):
        try:
            names = os.listdir(carry_dir)
        except OSError:
            return None  # no snapshots yet — first epoch
        epochs = [
            int(m.group(1))
            for m in (_re.fullmatch(r"epoch=(\d+)", n) for n in names)
            if m and int(m.group(1)) < epoch_id
        ]
        if not epochs:
            return None
        # a corrupt snapshot must RAISE here, not silently drop state
        return spark.read.parquet(f"{carry_dir}/epoch={max(epochs)}")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        carry = _carry_before(epoch_id)
        full = (
            batch_df.unionByName(carry) if carry is not None else batch_df
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = (
            full.select(
                "user_id",
                F.lag("event_type").over(w).alias("src_type"),
                F.col("event_type").alias("dst_type"),
            )
            .where(F.col("src_type").isNotNull())
            .groupBy("src_type", "dst_type")
            .agg(F.count(F.lit(1)).alias("n_transitions"))
        )
        pairs.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
        last = full.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        ).where(F.col("_rn") == 1).drop("_rn")
        # epoch-keyed snapshot: never clobbers the pre-epoch state a
        # replay would need; overwrite makes the replay itself
        # idempotent. collect-then-rewrite because the read path can't
        # overwrite its own input mid-plan (one row per user — tiny)
        rows = last.collect()
        spark.createDataFrame(rows, schema=last.schema).write.mode(
            "overwrite"
        ).parquet(f"{carry_dir}/epoch={epoch_id}")

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        for _ in range(max_batches):
            q.processAllAvailable()
    finally:
        q.stop()
