"""Structured Streaming lanes — the three Flink jobs re-expressed.

Reference fanout (SURVEY §2.10 T7): one CDC topic consumed by three jobs —
bronze parquet writer (scripts/cdc_to_parquet.py), current-state upsert
(scripts/cdc_to_pinot_current.py), history audit
(scripts/cdc_to_pinot_history.py). Here each lane is a function from a
streaming DataFrame of raw envelope JSON to a started StreamingQuery.

Source: a file-drop directory of JSON-lines stands in for Kafka (same
envelope schema); on a real cluster swap `readStream.text(dir)` for
`readStream.format("kafka")...option("startingOffsets","earliest")` —
the T1 earliest-replay semantics — and nothing downstream changes.

Fault tolerance: Spark checkpointLocation replaces Flink's 60 s
checkpoint-interval commit protocol (T2); `Trigger.AvailableNow` gives
deterministic drain-everything runs for tests and incremental batch (T6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.scalars import decode_op
from ..operators.cdc import flatten_envelope
from ..operators.merge import latest_wins_upsert
from ..operators.timetravel import SnapshotTable


def read_envelope_stream(
    spark: SparkSession,
    drop_dir: str,
    max_files_per_trigger: int | None = 16,
) -> DataFrame:
    """Raw CDC stream: one string column per event (the reference's
    format=raw Kafka source, scripts/cdc_to_parquet.py:77-88).

    ``max_files_per_trigger`` bounds each micro-batch (the file-source
    analog of Kafka's maxOffsetsPerTrigger); the default keeps the
    historical 16-file batches several demo lanes pin their epoch
    counts to. Pass None for drain-style availableNow runs — every
    extra micro-batch pays a full commit cycle (measured: 2 batches
    run the bronze drain at ~45k rows/s, 1 batch at ~75k)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(drop_dir).withColumnRenamed("value", "raw_message")


def kafka_envelope_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """Source options for the real Kafka lane — the reference's consumer
    config verbatim in Spark terms (scripts/cdc_to_parquet.py:77-88:
    ``scan.startup.mode=earliest-offset`` → ``startingOffsets=earliest``,
    the T1 replay-from-beginning semantics). failOnDataLoss=false matches
    the reference's tolerance for compacted/expired offsets on replay."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }


def kafka_value_to_envelope(kafka_df: DataFrame) -> DataFrame:
    """Kafka records → the engine's raw envelope relation (raw_message
    string). Shared by the live Kafka lane and tests, so the downstream
    flatten/route/sink lanes are identical whichever source feeds them."""
    return kafka_df.select(F.col("value").cast("string").alias("raw_message"))


def read_envelope_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Raw CDC stream from a live Kafka topic (S1 without the file-drop
    stand-in). Requires the spark-sql-kafka connector on the classpath
    (not shipped in this sandbox — the option/projection layers are
    unit-tested; this composition is exercised on a real cluster)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_envelope_options(
        bootstrap_servers, topic, starting_offsets
    ).items():
        reader = reader.option(k, v)
    return kafka_value_to_envelope(reader.load())


def bronze_stream(
    raw: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
) -> StreamingQuery:
    """Lane 1 — bronze parquet, partitioned by dt (reference:
    scripts/cdc_to_parquet.py:126-166). Partition commit via Spark's
    file-sink transaction log (replaces Flink success-files)."""
    flat = flatten_envelope(raw)
    writer = (
        flat.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("dt")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="60 seconds")  # T2 cadence
    return writer.start()


def history_stream(
    raw: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
) -> StreamingQuery:
    """Lane 2 — append-only audit history with op decode and both images
    (reference: scripts/cdc_to_pinot_history.py:148-196,258-264)."""
    flat = flatten_envelope(raw).withColumn("operation", decode_op("op"))
    writer = (
        flat.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def upsert_stream(
    raw: DataFrame,
    table: SnapshotTable,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    ts_col: str = "event_timestamp",
    order_cols: list[str] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Lane 3 — keyed latest-wins upsert via foreachBatch MERGE (the
    canonical Spark CDC pattern; replaces the reference's upsert-kafka →
    Pinot FULL upsert, scripts/cdc_to_pinot_current.py:125-144).

    The record key unifies both images — coalesce(after_id, before_id),
    the reference's F3 idiom (scripts/cdc_to_pinot_current.py:209) —
    because delete events carry only the before image.

    Late/out-of-order data: latest-wins by event time per key, matching
    Pinot's comparisonColumn resolution (T5) — an old event arriving after
    a newer one never regresses the row.
    """
    key_cols = key_cols or ["key_id"]

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        flat = flatten_envelope(batch)
        if "key_id" in key_cols and "key_id" not in flat.columns:
            flat = flat.withColumn(
                "key_id", F.coalesce("after_id", "before_id")
            )
        existing = table.read() if table.exists() else None
        merged = latest_wins_upsert(existing, flat, key_cols, ts_col, "op", order_cols)
        # Persist before overwrite: merged reads the table's current
        # snapshot; SnapshotTable writes a NEW directory, so no
        # read-under-write — localCheckpoint just avoids recompute.
        table.write(merged.localCheckpoint())

    writer = raw.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def scd2_stream(
    raw: DataFrame,
    table: SnapshotTable,
    checkpoint_dir: str,
    key_col: str = "id",
    attr_cols: list[str] | None = None,
    ts_col: str = "event_timestamp",
    order_cols: list[str] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Lane 3b — full SCD2 HISTORY maintenance per micro-batch: the
    reference's Airflow-scheduled batch MERGE cycle
    (libs/scd2_spark_processor.py:438-483 driven by
    dags/cdc_scd2_dag.py:61-83) made continuous. Where ``upsert_stream``
    keeps only current state, this lane applies ``merge_scd2_batch`` to
    the versioned table on every micro-batch — delete close-out, version
    close-out and append resolve to ONE DataFrame written in ONE atomic
    SnapshotTable commit, so a crash between micro-batches can never
    leave a half-applied MERGE (the reference's three-commit window).

    Out-of-order tolerance matches the batch operator exactly (it IS the
    batch operator): disorder within a micro-batch is resolved by the
    (ts, lsn) window chain; a late event arriving in a later micro-batch
    is woven into its key's OPEN segment deterministically. Events older
    than a key's CLOSED history remain the checkpoint contract, same as
    the batch pipeline (T5/T6) — tests/test_streaming_scd2.py proves
    stream == one-shot batch rebuild across out-of-order micro-batches.

    100 TB: per micro-batch cost is the merge's — closed history passes
    through untouched, only |current ∩ batch-keys| rows re-chain, and
    the batch-key semi-join broadcasts at CDC batch sizes.
    """
    from ..operators.cdc import envelope_as_changes
    from ..operators.merge import merge_scd2_batch

    attrs = attr_cols or ["product_name", "category", "price", "quantity", "sale_date"]
    order = order_cols or [ts_col, "lsn"]

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        changes = envelope_as_changes(flatten_envelope(batch), key_col, attrs)
        if not changes.take(1):
            return
        existing = table.read() if table.exists() else None
        merged = merge_scd2_batch(
            existing, changes, [key_col], attrs, ts_col, "op", order
        )
        # Persist before overwrite: merged reads the table's current
        # snapshot; SnapshotTable writes a NEW directory, so no
        # read-under-write — localCheckpoint just avoids recompute.
        table.write(merged.localCheckpoint())

    writer = raw.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts_stream(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    available_now: bool = True,
) -> StreamingQuery:
    """Event-time tumbling-window aggregation with a watermark — the
    streaming twin of the batch `tumbling_window_agg` query.

    The reference's streams are stateless routers (SURVEY §2.10 T4 — no
    watermarks anywhere); this is the extension lane for aggregation-
    at-ingest. The watermark bounds state: windows older than
    (max event time − watermark) finalize and evict; later-than-watermark
    events are dropped (a documented trade against the latest-wins lanes,
    which never drop). Append mode emits each window exactly once, on
    close — the parquet sink is insert-only and replay-safe. A window
    still open when the stream idles is emitted only after the watermark
    passes it (for drain-style runs, feed a final event beyond the last
    window + watermark).
    """
    agg = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def enriched_stream(
    events: DataFrame,
    dim: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    on: str | list[str],
    available_now: bool = True,
) -> StreamingQuery:
    """Stream-static enrichment: join each micro-batch against a batch
    dimension table and append the enriched rows to parquet.

    The Flink realtime lanes enrich rows inline before Pinot ingest
    (scripts/cdc_to_pinot_current.py's projection stage); in Spark the
    same job is a stream-static join — stateless, no watermark. The
    static side's DATA is re-read each micro-batch, but a plain-parquet
    dim pins its FILE LISTING when the DataFrame is resolved — an
    overwrite under a running stream fails the next batch
    (FILE_NOT_EXIST) rather than refreshing. For slowly changing dims,
    either resolve a fresh dim per incremental availableNow run (the
    checkpoint makes reruns cheap; tested), or back the dim with a
    snapshot-resolving table format (Delta/Iceberg) for live updates.

    Scale: the dim is broadcast — each executor joins its in-flight
    micro-batch partition map-side, no shuffle of the stream. A dim too
    big to broadcast (> a few GB) calls for pre-bucketing both sides on
    the join key (sources/bucketing.py) or a keyed-state lookup
    (stateful.py) instead. Left join: an event whose key is missing from
    the dim still flows (nulled dim columns), so late dim rows never
    drop fact rows.
    """
    enriched = events.join(F.broadcast(dim), on, "left")
    writer = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Stream-stream interval join: each click joined to the same key's
    purchases that happen within `within` AFTER the click.

    Both sides carry watermarks and the join condition bounds
    purchase.ts relative to click.ts — together they let Spark evict
    buffered rows once the watermark passes the interval, so state is
    O(in-flight window), not O(stream). An unbounded condition (or a
    missing watermark) would buffer both streams forever; Spark rejects
    some of those shapes outright, silently grows state for others —
    the interval bound is load-bearing, not decorative.

    The reference joins streams only via Pinot lookups after landing
    (SURVEY §2.10: its Flink jobs are single-input routers); this lane
    is the Spark-native form of "conversion within the attribution
    window" — inner join, append mode, replay-safe parquet sink.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col(key_col), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col(key_col).alias("_p_key"), F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = c.join(
        p,
        (F.col(key_col) == F.col("_p_key"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).drop("_p_key")
    writer = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_window_stream(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming sessionization with Spark's native session_window:
    per-user sessions close after `gap` of event-time inactivity.

    Unlike tumbling windows, session windows MERGE as events arrive
    (two half-sessions unite when a bridging event lands), so the state
    store keeps open sessions per user and the watermark is what
    finalizes them — a session emits once, `watermark` after its last
    event. This is the streaming twin of the batch `sessionize` query
    (same gap semantics, lag/cumsum formulation there).
    """
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def deduped_stream(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    watermark: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """At-most-once-per-key pass-through using Spark's built-in
    `dropDuplicatesWithinWatermark` — the bounded-state twin of the
    custom `first_seen_stream` (stateful.py).

    The built-in evicts seen-key state once the watermark passes, so
    duplicates are suppressed only within the watermark horizon —
    exactly-once per key FOREVER requires the applyInPandasWithState
    operator (unbounded keys → unbounded state, caller's trade to
    make). Use this lane when upstream retries/replays cluster within
    a bounded lateness, which is the common CDC case.
    """
    key_cols = key_cols or ["event_id"]
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def near_dedup_stream(
    docs: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    min_bands: int = 3,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming near-duplicate gate: each micro-batch of (doc_id, text)
    is MinHash-banded and checked against a persistent signature index;
    docs sharing >= min_bands of the 8 bands with any already-admitted
    doc (or with an earlier doc in the same batch) are dropped, survivors
    are emitted to out_dir and their signatures appended to the index.
    This is the continuous-ingest twin of the batch dedup_near_pairs_lsh
    lane — the same Carter-Wegman signatures (plans/dedup.py), applied
    incrementally.

    Replay safety: band matching counts DISTINCT seeds against the
    DISTINCT (seed, minhash) index projection, so an at-least-once
    re-append of a batch's signatures cannot inflate match counts — a
    replayed batch re-emits the same survivors (idempotent downstream
    dedup on doc_id applies, as with every at-least-once file sink).

    100 TB: per batch, one shuffle of the batch signatures on the
    (seed, minhash) bucket key against the index (the index side prunes
    to buckets present in the batch via the join), one intra-batch
    bucket self-pair pass; index grows O(|admitted docs| x 8) rows and
    is dt-compactable like any snapshot table.
    """
    from ..operators.util import DEFAULT_MAX_BUCKET, bucket_pairs
    from ..plans.dedup import minhash_long

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        sig = minhash_long(batch).cache()
        try:
            # --- match against the persisted index (distinct buckets) ---
            try:
                index = spark.read.parquet(index_dir)
                have_index = True
            except Exception:  # first batch: no index yet
                have_index = False
            if have_index:
                hits = (
                    sig.join(
                        index.select("seed", "minhash").distinct(),
                        ["seed", "minhash"],
                    )
                    .groupBy("doc_id")
                    .agg(F.countDistinct("seed").alias("n_bands"))
                    .filter(F.col("n_bands") >= min_bands)
                    .select("doc_id")
                )
                sig_new = sig.join(hits, "doc_id", "left_anti")
            else:
                sig_new = sig
            # --- intra-batch: drop the higher doc_id of each near pair ---
            pairs = (
                bucket_pairs(
                    sig_new,
                    ["seed", "minhash"],
                    "doc_id",
                    [],
                    max_bucket=DEFAULT_MAX_BUCKET,
                )
                .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
                .agg(F.count(F.lit(1)).alias("n_bands"))
                .filter(F.col("n_bands") >= min_bands)
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
            survivors_sig = sig_new.join(pairs, "doc_id", "left_anti")
            survivors = batch.join(
                survivors_sig.select("doc_id").distinct(), "doc_id"
            )
            survivors.write.mode("append").parquet(out_dir)
            survivors_sig.write.mode("append").parquet(index_dir)
        finally:
            sig.unpersist()

    writer = (
        docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def heavy_hitters_stream(
    docs: DataFrame,
    counters_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming count-min sketch maintenance: each micro-batch's token
    stream collapses to its own d×w counter grid, appended with the
    epoch id; the live sketch is the element-wise SUM of the per-epoch
    grids (``read_cms_counters``). This is the mergeability that makes
    CMS the streaming heavy-hitter structure — and the streaming twin of
    the batch ``sketch_heavy_hitters_cmin`` lane (plans/sketches.py),
    with which it agrees exactly (tests/test_streaming_cms.py proves
    stream-merged == batch-computed counters).

    Replay safety: each epoch's grid lands via DYNAMIC PARTITION
    OVERWRITE keyed on epoch — a replayed epoch REPLACES its own
    partition rather than appending a duplicate, so at-least-once
    delivery is exactly idempotent regardless of whether the replayed
    grid is byte-identical. (The previous append+max(cnt) collapse was
    only sound for identical replays; a max() over two DIFFERENT grids
    for the same epoch id would silently merge mismatched counters.)
    One contract remains on the caller: a counters_dir is paired with
    exactly ONE checkpoint lineage. Re-running against a fresh
    checkpoint re-numbers epochs from 0 over the grown source; if the
    old lineage had written MORE epochs than the new run produces, the
    stale tail partitions would survive the overwrite — start a fresh
    counters_dir alongside a fresh checkpoint_dir.

    100 TB: per batch, one (i, bucket)-keyed aggregate with map-side
    combine (≤ d×w rows out regardless of batch size); the persisted
    state grows O(d×w) per epoch and compacts by pre-summing closed
    epochs — never by rescanning the corpus.
    """
    from ..plans.sketches import CMS_D, _bucket_spark

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        rows = F.array(*[F.lit(i) for i in range(CMS_D)])
        grid = (
            batch.select(F.explode(F.split("text", " ")).alias("term"))
            .select("term", F.explode(rows).alias("i"))
            .select("i", _bucket_spark("term", "i"))
            .groupBy("i", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("epoch", F.lit(epoch_id))
        )
        write_epoch_grid(grid, counters_dir)

    writer = (
        docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_epoch_grid(grid: DataFrame, counters_dir: str) -> None:
    """Land one epoch's counter grid, epoch-partitioned, with dynamic
    partition overwrite: only the partitions present in ``grid`` are
    replaced, all other epochs are untouched. This is what makes a
    foreachBatch replay idempotent by construction."""
    (
        grid.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(counters_dir)
    )


def read_cms_counters(spark: SparkSession, counters_dir: str) -> DataFrame:
    """Merge-on-read of the streamed sketch: sum the per-epoch grids →
    the same (i, bucket, cnt) grid a single batch pass would produce.
    No replay-dedup step is needed on read: the writer's per-epoch
    dynamic partition overwrite guarantees at most one grid per epoch."""
    return (
        spark.read.parquet(counters_dir)
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def embedding_assign_stream(
    vectors: DataFrame,
    centroids_dir: str,
    lists_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming IVF index maintenance: each micro-batch of
    (vec_id, embedding) is assigned to its nearest TRAINED centroid
    (read from centroids_dir — the persisted output of a
    similarity_kmeans_clusters-style training run) and appended to the
    inverted lists, cluster-partitioned. This closes the ANN lifecycle:
    train batch (plans/similarity.py) → serve queries (IVF/PQ lanes) →
    ingest continuously (this lane), without ever rebuilding the index
    for new data.

    Replay safety: assignment is deterministic (the k-means rounding
    contract), so an at-least-once re-append writes IDENTICAL rows; the
    read side dedupes on vec_id (``read_inverted_lists``).

    100 TB: per batch, one broadcast of the k-row centroid table against
    the batch (never a shuffle of the vectors); the partitionBy(cluster)
    layout means a query's probe reads exactly its cluster's directory —
    partition pruning does the inverted-list lookup.
    """
    from ..plans.similarity import _kmeans_assign

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        cdf = spark.read.parquet(centroids_dir)
        e = batch.select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        )
        assigned = _kmeans_assign(e, cdf).select("vec_id", "cluster", "v")
        assigned.write.mode("append").partitionBy("cluster").parquet(lists_dir)

    writer = (
        vectors.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_inverted_lists(spark: SparkSession, lists_dir: str) -> DataFrame:
    """Replay-safe read of the streamed inverted lists: duplicate
    appends of the same vec_id (identical rows by determinism) collapse
    to one."""
    return spark.read.parquet(lists_dir).dropDuplicates(["vec_id"])


def selection_stream(
    docs: DataFrame,
    weights_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming corpus selection: apply BATCH-TRAINED DSIR weights plus
    the map-side gates (length sanity, hash-kernel classifier) to each
    micro-batch of (doc_id, text, lang) documents and append the
    per-document verdicts. This is the train-offline / filter-online
    deployment of the selection pipeline — the exact split real
    pretraining ingestion uses (the weight table is the persisted output
    of ``plans.data_selection.dsir_weight_table``), and the selection
    twin of ``embedding_assign_stream``'s trained-centroid shape.

    Replay safety: every gate is a deterministic function of (document,
    trained weights), so an at-least-once re-append writes IDENTICAL
    rows; the read side dedupes on doc_id (``read_selection``).

    100 TB: per batch, the two map gates run inside codegen, the 64-row
    weight table is a broadcast join against the batch's hashed bucket
    counts, and the only shuffle is the batch-local doc_id aggregate —
    state per executor is O(buckets), independent of corpus size.
    """
    from ..plans.data_selection import selection_verdicts

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        w = spark.read.parquet(weights_dir)
        selection_verdicts(batch, w).write.mode("append").parquet(out_dir)

    writer = (
        docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_selection(spark: SparkSession, out_dir: str) -> DataFrame:
    """Replay-safe read of streamed selection verdicts: duplicate
    appends of the same doc_id (identical rows by determinism) collapse
    to one."""
    return spark.read.parquet(out_dir).dropDuplicates(["doc_id"])


def catalog_append_stream(
    parsed: DataFrame,
    table_url: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming append sink that commits every micro-batch to an
    Iceberg table THROUGH the REST catalog protocol — the production
    streaming-writer loop: stage files + manifests against the loaded
    metadata, then one pointer commit guarded by assert-ref-snapshot-id,
    re-staged on a 409 (another writer moved main first).

    EXACTLY-ONCE across checkpoint recovery: the micro-batch id rides
    the snapshot summary (`streaming.batch-id`); a replayed batch whose
    id is at or below the table's committed watermark is skipped
    without staging (the same idempotence device as Delta's txn action
    and the Flink Iceberg sink's checkpoint id). Pair with
    `operators/rest_catalog.py:committed_batch_id` to inspect the
    watermark.

    100 TB: each batch's data write and manifest stats run distributed;
    the catalog moves O(KB) pointer JSON per commit; concurrent batch
    writers serialize at the pointer, not at the data."""
    from ..operators.rest_catalog import append_table_via_catalog

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        append_table_via_catalog(
            batch.sparkSession, batch, table_url, batch_id=batch_id
        )

    writer = (
        parsed.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
