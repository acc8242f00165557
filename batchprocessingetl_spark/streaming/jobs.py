"""Streaming jobs over file sources.

Each job takes a source directory + checkpoint dir and returns the
started StreamingQuery (or runs it to completion with availableNow).
``availableNow`` processes everything present then stops — the
streaming-native form of the reference's "poll until caught up" cycle,
with exactly-once progress tracked in the checkpoint instead of the
hand-rolled JSON watermark (raw_layer.py:70-91).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batchprocessingetl_spark.sources.readers import (
    fs_exists,
    publish_snapshot,
    recover_staged_swap,
)

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream with declared schema (streams require one —
    no inference race on new files)."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(source_dir)


def windowed_event_counts(events: DataFrame, window: str = "1 hour", late: str = "2 hours") -> DataFrame:
    """Tumbling-window counts with a watermark for late data — the
    streaming twin of workload.events.q20 (same output schema), so batch
    and stream answers are comparable."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def run_available_now(agg: DataFrame, checkpoint_dir: str, query_name: str) -> None:
    """Drain everything currently available into an in-memory sink and
    stop — deterministic, synchronous; results land in the temp view
    ``query_name``.

    TEST/DRAIN-ONLY: complete mode + memory sink. In complete mode the
    watermark never evicts aggregation state, so on an unbounded stream
    state grows without bound — harmless for an availableNow drain that
    stops at end-of-input, wrong for production. The production path is
    :func:`run_snapshot_to_parquet` (durable sink, state handled by the
    foreachBatch snapshot) or append mode with a durable sink when only
    finalized windows are needed."""
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_snapshot_to_parquet(agg: DataFrame, checkpoint_dir: str, out_dir: str) -> None:
    """Production twin of :func:`run_available_now`: each micro-batch
    overwrites ``out_dir`` with the current full aggregate snapshot via
    ``foreachBatch`` — a durable, idempotent sink (re-running an epoch
    rewrites the same snapshot). Unlike append mode, windows still open
    at end-of-input are visible; unlike the memory sink, results
    survive the driver."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def start_processing_time(
    agg: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    interval: str = "5 seconds",
):
    """Continuous-cadence variant of the reference's 5-second polling
    loop (raw_layer.py:41,142-153): a ``processingTime`` trigger fires a
    micro-batch every ``interval`` as long as the query runs, writing
    snapshot parquet per epoch like :func:`run_snapshot_to_parquet`.
    Returns the running StreamingQuery — the caller owns stop();
    progress/offsets persist in the checkpoint across restarts."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    return (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=interval)
        .start()
    )


def stream_to_jdbc(
    df: DataFrame,
    checkpoint_dir: str,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> None:
    """Streaming JDBC writeback: drain the stream into a warehouse
    table via ``foreachBatch`` + the batch JDBC sink — the streaming
    twin of the reference's curated-layer Postgres writeback
    (curated_layer.py:89-145), exercised against embedded Derby in
    tests.

    Structured Streaming has no first-class JDBC sink, so foreachBatch
    is THE production pattern: each micro-batch appends transactionally
    per batch, and the checkpoint's epoch tracking makes redelivery
    at-least-once (pair with a batch-id/idempotent key on the consumer
    side for exactly-once upserts — the scd2_maintenance_stream
    pattern). availableNow + awaitTermination keeps the call
    synchronous and deterministic."""
    from batchprocessingetl_spark.sources.readers import write_jdbc

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_jdbc(batch_df, url, table, mode="append", properties=properties)

    q = (
        df.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


def windowed_unique_users(
    events: DataFrame, window: str = "1 hour", late: str = "2 hours"
) -> DataFrame:
    """Unique users per tumbling window — THE canonical streaming
    product metric. Exact ``count_distinct`` is unsupported in
    streaming aggregations (state would have to hold every key), so
    this uses ``approx_count_distinct`` (HLL++ sketch state, fixed
    bytes per window — the q57 trade-off applied to streams); the
    exact count is cheap in the batch twin, which the test uses to
    bound the sketch's error."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "approx_users", "n_events")
    )


def enrich_stream_with_dim(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: tuple[str, ...],
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    streaming fact — the streaming form of the curated layer's
    fact-x-dim join (curated_layer.py:133-141 consumers).

    A stream-static INNER equi-join is stateless in Structured
    Streaming: each micro-batch hash-joins against the static side (no
    watermark, no state store growth), and Spark re-plans the static
    side per batch, so a broadcast-sized dim stays broadcast. This is
    the production pattern for slowly-changing dims too: point ``dim``
    at the SCD2 table filtered to ``is_current`` and each micro-batch
    reads the freshest snapshot (left as the caller's choice of
    refresh cadence)."""
    d = dim.select(on, *dim_cols)
    return events.join(F.broadcast(d), on, "inner")


def session_window_stats(events: DataFrame, gap: str = "30 minutes", late: str = "1 hour") -> DataFrame:
    """Native session windows (gap-merged) per user — works identically
    over a stream (with the watermark bounding state) or a batch frame.
    State per open session is a single (start, end, aggregates) tuple,
    evicted once the watermark passes end+gap."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal accumulation: arrival-order-independent (parity.py)
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def running_user_totals(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str
) -> None:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value total), persisted in the state store
    across micro-batches. Each availableNow run resumes from the
    checkpoint — the streaming-native version of the reference's
    watermark-JSON progress tracking (raw_layer.py:70-91), but with
    per-key state and exactly-once semantics.

    State is one (long, double) tuple per user; memory is O(distinct
    keys), eviction would use timeouts (NoTimeout here — totals are
    cumulative forever by design).

    Sink: foreachBatch appending (epoch_id, totals) rows to parquet —
    the memory sink cannot recover from a checkpoint, and foreachBatch
    + idempotent append is the production pattern anyway. The latest
    epoch per user is the current total."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = stream_events(spark, source_dir)
    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 6)))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    def sink(batch_df, epoch_id):
        batch_df.withColumn("epoch_id", F.lit(epoch_id)).write.mode("append").parquet(out_dir)

    q = (
        events.groupBy("user_id")
        .applyInPandasWithState(fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def latest_user_totals(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current running totals: last emitted row per user across epochs."""
    from pyspark.sql.window import Window

    df = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("epoch_id"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "epoch_id")
    )


def attribution_stream_join(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    attribution_window: str = "1 hour",
    late: str = "2 hours",
    how: str = "inner",
    max_files_per_trigger: int | None = None,
) -> None:
    """Stream-stream interval join: attribute each purchase to every
    click by the same user within the preceding ``attribution_window``
    (the streaming sibling of the batch as-of join, q24 — the as-of
    'latest click' pick is a follow-up aggregate; the join itself is
    the stateful hard part).

    Both sides carry watermarks, and the join condition bounds
    click_ts to [p_ts - window, p_ts], so Spark can size and EVICT
    join state: a click older than late+window past the watermark can
    never match a future purchase and is dropped — state is
    O(in-flight window), not O(stream history). Append output mode
    (joined rows are immutable once emitted) to a durable parquet sink.

    ``how="left_outer"`` additionally emits UNATTRIBUTED purchases with
    NULL click columns — but only once the watermark proves no matching
    click can still arrive, which happens in a LATER micro-batch than
    the purchase's own (the watermark used by batch N is computed from
    batch N-1's max event time). Callers needing the trailing
    unmatched rows flushed must advance the watermark past them —
    either future batches in a live stream, or sentinel events split
    across >= 2 extra files with ``max_files_per_trigger=1`` so
    availableNow runs the extra micro-batches. The global watermark is
    the MIN across both sides' watermark operators, so sentinels must
    advance BOTH streams (a click-only sentinel leaves the purchase
    side's watermark — and therefore the join's — stuck; pinned in
    tests/test_streaming_state.py). This is Structured Streaming's
    documented outer-join semantics, not a quirk of this job."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(source_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value"),
        )
        .withWatermark("p_ts", late)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", late)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"c_user = user_id AND "
            f"click_ts BETWEEN p_ts - INTERVAL {attribution_window} AND p_ts"
        ),
        how,
    ).select("purchase_id", "user_id", "p_ts", "value", "click_id", "click_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def deduped_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    late: str = "2 hours",
) -> None:
    """Exactly-once-per-event ingestion under at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` on event_id suppresses re-deliveries
    arriving within ``late`` of the original while the watermark EVICTS
    dedup state for older keys — state is O(events in the lateness
    window), unlike ``dropDuplicates`` on a stream, whose key set grows
    forever. The streaming-native version of the reference's
    union+dropDuplicates re-read (raw_layer.py:124-126), without
    re-reading the accumulated table each cycle."""
    ev = stream_events(spark, source_dir).withWatermark("ts", late)
    q = (
        ev.dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _drain_files(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    fold,
) -> None:
    """Run ``fold(batch, epoch_id)`` over every parquet file now in
    ``source_dir`` (availableNow, ``max_files_per_trigger`` files per
    micro-batch) and wait; ``checkpoint_dir`` tracks the progress."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _fold_snapshot(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    step,
) -> None:
    """Snapshot-state fold: per non-empty micro-batch, adopt a swap a
    crash stranded, read the prior state at ``state_dir`` (None before
    the first batch) and publish ``step(batch, prior)`` in its place
    (``readers.publish_snapshot``). ``step`` must make re-absorbing an
    already-folded batch a no-op, so at-least-once epoch replay
    rebuilds the same state."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        recover_staged_swap(spark, state_dir)
        if batch.isEmpty():
            return
        prior = spark.read.parquet(state_dir) if fs_exists(spark, state_dir) else None
        publish_snapshot(spark, step(batch, prior), state_dir)

    _drain_files(spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, fold)


def _fold_epochs(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    step,
) -> None:
    """Epoch-partitioned fold for summable, NON-idempotent state: each
    non-empty micro-batch's ``step(batch)`` partial overwrites its own
    ``state_dir/epoch=N`` partition, so a replayed epoch rewrites the
    same partition instead of re-adding it; readers sum across
    partitions."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        step(batch).write.mode("overwrite").parquet(
            state_dir.rstrip("/") + f"/epoch={int(epoch_id)}"
        )

    _drain_files(spark, source_dir, schema, checkpoint_dir, max_files_per_trigger, fold)


def scd2_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    snapshot_schema: T.StructType,
    dim_dir: str,
    checkpoint_dir: str,
    primary_key: list[str],
    update_columns: list[str],
    ts_col: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Continuous SCD2 dimension maintenance: attribute-snapshot files
    land in ``source_dir``; each micro-batch folds into the dimension
    at ``dim_dir`` via ``foreachBatch`` + ``operators.scd2.apply_scd2``
    — the streaming form of the reference's per-cycle dim rebuild
    (curated_layer.py:73-88), without re-reading the accumulated
    source each cycle.

    Semantics per micro-batch: resolve the batch to one row per key
    (latest by ``ts_col``), stamp the batch with its max snapshot
    timestamp (deterministic injected ts — no current_timestamp()),
    and SCD2-merge against the current dimension. The merged frame is
    published by ``readers.publish_snapshot`` (staged write, then
    swap), and data lands before the checkpoint commits the epoch —
    the same data-before-metadata durability ordering as
    pipeline/incremental.py. A crash can never leave a half-written
    dimension for the replayed epoch to mistake for an initial load.

    Retry safety: if an epoch re-runs after a crash, re-applying the
    same snapshot is a no-op (no attribute differs null-safely), so
    the dimension is idempotent under foreachBatch's at-least-once
    epoch replay. ``max_files_per_trigger`` bounds batch size (and in
    tests forces each staged snapshot file through its own SCD2 fold,
    exercising real multi-epoch history accrual).

    100 TB posture: state is the dimension itself (a table, not
    executor memory); each fold is the batch-SCD2 plan — broadcast-able
    snapshot vs hash-joined dim on the primary key. For very large
    dims, swap the snapshot publish for a partitioned MERGE target; the fold
    logic is unchanged.
    """
    from batchprocessingetl_spark.operators.scd2 import apply_scd2, resolve_grain

    def step(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        b = resolve_grain(batch, primary_key, [F.col(ts_col).desc()])
        batch_ts = b.agg(F.max(ts_col)).first()[0]
        return apply_scd2(
            b.select(*primary_key, *update_columns),
            prior,
            primary_key,
            update_columns,
            str(batch_ts),
        )

    _fold_snapshot(
        spark, source_dir, snapshot_schema, dim_dir, checkpoint_dir,
        max_files_per_trigger, step,
    )


def session_window_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    gap: str = "30 minutes",
    late: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming session windows (the stateful twin of the batch
    session-window rollup, workload.events.q28): per-user sessions
    close after ``gap`` of inactivity; the watermark both admits
    ``late`` out-of-order events into still-open sessions and EVICTS
    session state once no future event can extend it — state is
    O(open sessions), not O(stream history).

    APPEND output mode (the only mode Spark supports for streaming
    session aggregations): a session emits exactly ONCE, in the first
    micro-batch whose watermark has passed its close — growing
    sessions merge silently in the state store until then, so the
    sink never sees fragments. Consequence: sessions still open (or
    inside the lateness window) when the stream drains remain in
    state, unemitted, until later data advances the watermark — the
    contract for exactly-once session handoff to downstream batch
    consumers. ``max_files_per_trigger`` bounds batch size (tests use
    1 to force a session to accrue ACROSS micro-batches)."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    ev = reader.parquet(source_dir).withWatermark("ts", late)
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )

    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def cdc_changelog_stream(
    spark: SparkSession,
    source_dir: str,
    changelog_schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    version_col: str = "version",
    op_col: str = "op",
    max_files_per_trigger: int = 1,
) -> None:
    """Continuous CDC compaction: changelog files (I/U/D rows tagged
    with versions) land in ``source_dir``; each micro-batch folds into
    the compacted state at ``state_dir`` via ``foreachBatch`` +
    ``operators.cdc.compact_changelog``. The state keeps winning
    DELETES (not just live rows) so a delete goes on shadowing
    lower-versioned re-deliveries of its key in later batches; the
    live snapshot is :func:`cdc_snapshot` over the state.

    Correctness under the streaming contract:

    - compaction is associative + commutative (struct-max), so ANY
      slicing of the log into micro-batches yields the same state as
      one batch compaction — the test pins stream == batch;
    - epoch replay (at-least-once foreachBatch) is a no-op because
      re-compacting already-absorbed rows cannot change a struct-max;
    - ``readers.publish_snapshot`` bounds crash damage to a dir
      rename, same data-before-metadata ordering as
      scd2_maintenance_stream.

    100 TB posture: state is a table, not executor memory; each fold
    shuffles only on the key, and the batch side is typically tiny vs
    the state side, so AQE broadcasts it into the aggregate's
    exchange. For very large states, partition ``state_dir`` by key
    range and rewrite only touched partitions — the fold algebra is
    unchanged.
    """
    from batchprocessingetl_spark.operators.cdc import compact_changelog

    def step(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        merged = batch if prior is None else prior.unionByName(batch)
        return compact_changelog(merged, keys, version_col, op_col)

    _fold_snapshot(
        spark, source_dir, changelog_schema, state_dir, checkpoint_dir,
        max_files_per_trigger, step,
    )


def near_dup_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    doc_schema: T.StructType,
    kept_dir: str,
    bands_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.2,
    max_files_per_trigger: int = 1,
) -> None:
    """Continuous near-dup-aware corpus ingestion — the streaming twin
    of q124's incremental LSH store: document batches land in
    ``source_dir``; each micro-batch is deduped against the PERSISTED
    band store (never against re-scanned corpus signatures) and the
    survivors are appended to ``kept_dir`` + their band rows to
    ``bands_dir``.

    Per-batch semantics (CLUSTER-CANONICAL, deterministic under any
    batch slicing of a fixed arrival order):

    1. candidate pairs via ``incremental_lsh_pairs`` (batch bands vs
       store bands + batch-internal), exact-Jaccard-verified at
       ``threshold`` — cross-pair verification reads only CANDIDATE
       docs back from ``kept_dir`` (id-join point lookups, selective
       under a bucketed store at scale);
    2. batch docs cluster by their verified within-batch pairs
       (``connected_components``);
    3. a cluster whose ANY member near-dups the kept corpus is dropped
       whole (its family is already represented); each surviving
       cluster contributes its MIN-id member.

    Durability: both stores advance by ``readers.publish_snapshot``
    (write aside, swap, ``recover_staged_swap`` at fold start), so
    epoch replay rebuilds the same state instead of double-appending,
    and a crash strands at worst a complete staged snapshot that the
    next fold adopts. The test pins stream == a per-batch batch-mode
    fold of the same rule, plus checkpoint-resume idempotence.

    100 TB posture: candidate generation is O(batch + candidates) —
    the band join touches sketch-width rows only; the snapshot-publish
    full-store rewrite is the correctness-first default (swap for a
    partition-range rewrite, same fold algebra, when the store is
    huge)."""
    from batchprocessingetl_spark.operators.dedup import (
        band_signatures,
        connected_components,
        incremental_lsh_pairs,
        minhash_signatures,
        shingle_frame,
    )

    def fold(batch: DataFrame, epoch_id: int) -> None:
        recover_staged_swap(spark, kept_dir)
        recover_staged_swap(spark, bands_dir)
        if batch.isEmpty():
            return
        batch = batch.dropDuplicates([id_col])
        # replay-idempotence guard: a doc already in the kept store was
        # decided in a previous (possibly replayed) epoch — re-deciding
        # it would double-append. Its band rows still participate via
        # the store side, so dropped docs re-resolve identically.
        if fs_exists(spark, kept_dir):
            kept_ids = spark.read.parquet(kept_dir).select(id_col)
            batch = batch.join(kept_ids, id_col, "left_anti")
        batch = batch.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        sigs = minhash_signatures(batch, id_col, text_col, n_hashes, n)
        bbands = band_signatures(sigs, bands).localCheckpoint(eager=True)
        have_store = fs_exists(spark, bands_dir)
        store_bands = (
            spark.read.parquet(bands_dir)
            if have_store
            else bbands.filter(F.lit(False))
        )
        cands = incremental_lsh_pairs(bbands, store_bands)

        # exact-Jaccard verify: batch shingles from the batch, store
        # shingles from kept_dir (candidate ids only reach the join)
        b_sh = shingle_frame(batch, id_col, text_col, n)
        sh_all = b_sh
        if have_store and fs_exists(spark, kept_dir):
            sh_all = b_sh.unionByName(
                shingle_frame(spark.read.parquet(kept_dir), id_col, text_col, n)
            )
        va = sh_all.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        vb = sh_all.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        verified = (
            cands.join(va, "id_a")
            .join(vb, "id_b")
            .filter(inter / union >= F.lit(threshold))
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

        batch_ids = batch.select(F.col(id_col).alias("id"))
        in_batch = batch_ids.withColumn("__b", F.lit(True))
        internal = (
            verified.join(in_batch.select(F.col("id").alias("id_a"), "__b"), "id_a")
            .drop("__b")
            .join(in_batch.select(F.col("id").alias("id_b"), "__b"), "id_b")
            .select("id_a", "id_b")
        )
        clusters = connected_components(internal, batch_ids)
        # ids with a verified link to the kept store (either pair side)
        store_hit = (
            verified.join(in_batch.select(F.col("id").alias("id_a"), "__b"), "id_a")
            .join(
                in_batch.select(F.col("id").alias("id_b"), "__b").withColumnRenamed(
                    "__b", "__b2"
                ),
                "id_b",
                "left",
            )
            .filter(F.col("__b2").isNull())
            .select(F.col("id_a").alias("id"))
            .unionByName(
                verified.join(
                    in_batch.select(F.col("id").alias("id_b"), "__b"), "id_b"
                )
                .join(
                    in_batch.select(F.col("id").alias("id_a"), "__b").withColumnRenamed(
                        "__b", "__b2"
                    ),
                    "id_a",
                    "left",
                )
                .filter(F.col("__b2").isNull())
                .select(F.col("id_b").alias("id"))
            )
            .distinct()
        )
        bad_clusters = (
            clusters.join(store_hit, "id", "left_semi")
            .select("cluster_id")
            .distinct()
        )
        survivors = (
            clusters.join(bad_clusters, "cluster_id", "left_anti")
            .groupBy("cluster_id")
            .agg(F.min("id").alias("id"))
            .select("id")
        )
        new_kept = batch.join(
            survivors.withColumnRenamed("id", id_col), id_col, "left_semi"
        )
        new_bands = bbands.join(
            survivors.withColumnRenamed("id", "id"), "id", "left_semi"
        )

        old_kept = (
            spark.read.parquet(kept_dir)
            if fs_exists(spark, kept_dir)
            else None
        )
        merged_kept = new_kept if old_kept is None else old_kept.unionByName(new_kept)
        # band rows dedupe on merge: a crash between the two swaps can
        # replay a batch whose bands already landed (bands swap FIRST —
        # the index must never lag the kept docs, or a replayed batch
        # could miss its own prior survivors as candidates)
        merged_bands = (
            new_bands if not have_store else store_bands.unionByName(new_bands)
        ).dropDuplicates(["id", "band", "bucket"])
        publish_snapshot(spark, merged_bands, bands_dir)
        publish_snapshot(spark, merged_kept, kept_dir)

    _drain_files(spark, source_dir, doc_schema, checkpoint_dir, max_files_per_trigger, fold)


def cdc_snapshot(
    spark: SparkSession, state_dir: str, op_col: str = "op", delete_op: str = "D"
) -> DataFrame:
    """Live-rows view over a :func:`cdc_changelog_stream` state dir."""
    recover_staged_swap(spark, state_dir)
    state = spark.read.parquet(state_dir)
    return state.filter(F.col(op_col) != F.lit(delete_op))


from contextlib import contextmanager


@contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """transformWithState keeps each named state (and its timers) in
    its own column family, which the default HDFS-backed provider
    cannot do — RocksDB (bundled with Spark) is the operator's
    required store. Scoped set-and-restore: the provider is captured
    per-query at start and persisted in the checkpoint, so other
    streams in the same session keep their default."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)


def running_user_totals_tws(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str
) -> None:
    """Per-user running totals on the Spark 4 ``transformWithState``
    arbitrary-state API (StatefulProcessor + typed ValueState) — the
    successor surface to ``applyInPandasWithState``. Semantics are
    IDENTICAL to :func:`running_user_totals` (the test pins the two
    operators equal across multi-run checkpoint resume), so this is
    the documented migration path: the GroupState tuple becomes a
    named ``ValueState`` with an explicit schema, timeouts become
    first-class timers (unused here — totals are cumulative forever),
    and state composition (multiple named states, list/map state)
    stops being an encoding exercise.

    Scale posture matches the old operator: state is one fixed-width
    row per key in the state store, input rows stream through Arrow
    batches, and the shuffle is the groupBy key only.

    Environment note: the transformWithState Python state server
    speaks protobuf; :func:`tws_available` probes for a working
    ``google.protobuf`` so callers (and the parity test) can fall back
    to :func:`running_user_totals` where the dependency is absent."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    events = stream_events(spark, source_dir)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, round(total, 6)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    def sink(batch_df, epoch_id):
        batch_df.withColumn("epoch_id", F.lit(epoch_id)).write.mode("append").parquet(out_dir)

    with _rocksdb_state_store(spark):
        q = (
            events.groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=RunningTotals(),
                outputStructType=out_schema,
                outputMode="Update",
                timeMode="None",
            )
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def tws_available() -> bool:
    """True when the transformWithState Python worker can start: its
    state-server protocol requires a working protobuf runtime.

    History: no ``google.protobuf`` wheel exists in this container and
    installs are disallowed (the blocker rounds 5-10). Round 11 found
    a vendorable pure-python runtime on the box — Google Cloud SDK's
    ``cloudsdk.google.protobuf`` 4.23.2 — and
    :mod:`batchprocessingetl_spark.compat` now aliases it to the
    canonical names (plus a worker-side sitecustomize hook installed
    by the session factory). The probe additionally loads the
    generated StateMessage module: the 6.33-codegen descriptors must
    parse on whatever runtime answered, shimmed or real."""
    from batchprocessingetl_spark.compat import ensure_protobuf

    if not ensure_protobuf():
        return False
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        return True
    except Exception:
        return False


def hll_rollup_stream(
    spark: SparkSession,
    source_dir: str,
    event_schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lg_k: int = 14,
    max_files_per_trigger: int = 1,
) -> None:
    """Continuous sketch-state rollup — the streaming twin of q123's
    HLL DAU/WAU/MAU (VERDICT r5 #6): event files land in
    ``source_dir``; each micro-batch folds ONE DataSketches-HLL sketch
    per day into the persisted state table at ``state_dir``
    (``day, sk binary``) via ``foreachBatch`` + ``hll_union_agg``.

    Correctness under the streaming contract:

    - HLL union is register-wise max — associative, commutative, AND
      idempotent — so no batch slicing or at-least-once epoch replay
      can ever DOUBLE-COUNT a user (re-unioning absorbed registers is
      a no-op in the register algebra). Estimates are not bit-frozen
      across slicings, though: DataSketches promotes coupon-list
      sketches to dense HLL under union, so a day folded in two
      micro-batches can estimate a few counts off the one-shot sketch.
      The test therefore pins every stream-state estimate inside the
      sketch's error envelope of the EXACT distinct count (the q123
      flag pattern), across an initial run AND a checkpoint-resume;
    - the state advances by ``readers.publish_snapshot`` (write
      aside, swap, ``recover_staged_swap`` at fold start) — same
      data-before-metadata ordering as scd2/cdc maintenance.

    100 TB posture: the state is days x ~KB sketch rows — independent
    of user cardinality; each fold shuffles only (day, sketch) partial
    aggregates (map-side combined), never user-grain rows. Trailing
    DAU/WAU/MAU reads are :func:`hll_rolling_estimates` over the state
    — 1/7/28 sketch merges per day, no re-scan of events."""

    def step(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        day_sk = (
            batch.select(
                F.to_date(F.date_trunc("day", F.col(ts_col))).alias("day"),
                F.col(user_col),
            )
            .groupBy("day")
            .agg(F.hll_sketch_agg(user_col, F.lit(lg_k)).alias("sk"))
        )
        if prior is None:
            return day_sk
        return (
            prior.unionByName(day_sk)
            .groupBy("day")
            .agg(F.hll_union_agg("sk").alias("sk"))
        )

    _fold_snapshot(
        spark, source_dir, event_schema, state_dir, checkpoint_dir,
        max_files_per_trigger, step,
    )


def hll_rolling_estimates(
    spark: SparkSession, state_dir: str, windows: dict[str, int] | None = None
) -> DataFrame:
    """Trailing distinct-user estimates off the persisted sketch state:
    for each window name -> n days, merge the covered per-day sketches
    (explode day -> day+k, union, estimate) — the q123 read shape, but
    over the STREAM-maintained state, touching only days x |windows|
    sketch rows."""
    windows = windows or {"dau_est": 1, "wau_est": 7, "mau_est": 28}
    state = spark.read.parquet(state_dir)
    bounds = state.agg(F.max("day").alias("max_day"))
    out: DataFrame | None = None
    for name, n in windows.items():
        est = (
            state.select(
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("k"), "day", "sk"
            )
            .select(F.date_add(F.col("day"), F.col("k")).alias("day"), "sk")
            .join(F.broadcast(bounds))
            .filter(F.col("day") <= F.col("max_day"))
            .groupBy("day")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(name))
        )
        out = est if out is None else out.join(est, "day", "full")
    return out.orderBy("day")


def bitmap_rollup_stream(
    spark: SparkSession,
    source_dir: str,
    event_schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_files_per_trigger: int = 1,
) -> None:
    """Continuous EXACT distinct-user state — the streaming twin of
    q145's bitmap-word rollup, complementing :func:`hll_rollup_stream`:
    each micro-batch packs users into 64-bit words (word = id div 64,
    bit = id mod 64) and bit_or-folds them into the persisted state at
    ``state_dir`` (``day, word_idx, word``).

    Unlike the HLL twin, the invariant here is EXACT EQUALITY: bit_or
    is associative, commutative, and idempotent on the word level with
    no representation drift, so the stream-folded state is
    byte-identical to the one-shot batch rollup under ANY micro-batch
    slicing and any at-least-once epoch replay — the test pins
    stream == batch to the last bit, plus the weekly popcount rollup.

    100 TB posture: state is days x occupied-word rows (linear in the
    id space, the bitmap trade vs HLL's fixed KBs); each fold shuffles
    only (day, word_idx) partials with map-side combine, and the
    weekly/trailing reads touch state rows only — the fact stream is
    never rescanned. For very large id spaces, partition ``state_dir``
    by word_idx range and rewrite only touched partitions — the fold
    algebra is unchanged."""

    def step(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        words = (
            batch.select(
                F.to_date(F.date_trunc("day", F.col(ts_col))).alias("day"),
                (F.col(user_col) / 64).cast("long").alias("word_idx"),
                F.expr(f"shiftleft(1L, cast({user_col} % 64 as int))").alias("bit"),
            )
            .groupBy("day", "word_idx")
            .agg(F.bit_or("bit").alias("word"))
        )
        if prior is None:
            return words
        return (
            prior.unionByName(words)
            .groupBy("day", "word_idx")
            .agg(F.bit_or("word").alias("word"))
        )

    _fold_snapshot(
        spark, source_dir, event_schema, state_dir, checkpoint_dir,
        max_files_per_trigger, step,
    )


def bitmap_distinct_daily(spark: SparkSession, state_dir: str) -> DataFrame:
    """Exact per-day distinct users off the bitmap state: popcount the
    day's words — state rows only, never the event stream."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("day")
        .agg(F.sum(F.bit_count("word")).alias("n_users"))
        .orderBy("day")
    )


def error_purchase_patterns(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    window_s: int = 3600,
) -> None:
    """CEP-style stateful pattern detection via
    ``applyInPandasWithState`` — the second custom stateful operator
    next to :func:`running_user_totals`: emit every (error, purchase)
    pair for a user where the purchase follows the error within
    ``window_s`` seconds ('recovered checkout' analysis). Per-key
    state is the list of pending error timestamps, SELF-EVICTED once
    they fall more than ``window_s`` behind the newest event seen for
    the key — O(errors-in-window) state, not O(history).

    Determinism contract: events are processed in (ts, event_id)
    order within each key and batch, and per-key event time is
    assumed non-decreasing ACROSS batches (file-per-trigger ingestion
    of time-ordered drops — the incremental-load shape); under it the
    emitted pair set EXACTLY equals the batch interval self-join
    (e.ts <= p.ts <= e.ts + W), which the test pins, resumable from
    the checkpoint. Sink is foreachBatch idempotent-append parquet."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = stream_events(spark, source_dir)
    out_schema = "user_id long, err_us long, pur_us long, lag_s double"
    state_schema = "pending array<long>, max_us long"
    win_us = window_s * 1_000_000

    def fn(key, pdfs, state: GroupState):
        pending, max_us = state.get if state.exists else ([], 0)
        pending = list(pending)
        rows = []
        frames = [p for p in pdfs if len(p)]
        if frames:
            pdf = pd.concat(frames).sort_values(["ts", "event_id"])
            for ts, etype in zip(pdf["ts"], pdf["event_type"]):
                t_us = int(ts.value // 1_000)  # pandas ns -> us
                max_us = max(max_us, t_us)
                pending = [e for e in pending if e + win_us >= max_us]
                if etype == "error":
                    pending.append(t_us)
                elif etype == "purchase":
                    for e_us in pending:
                        if e_us <= t_us <= e_us + win_us:
                            rows.append(
                                (
                                    int(key[0]),
                                    e_us,
                                    t_us,
                                    round((t_us - e_us) / 1e6, 6),
                                )
                            )
        state.update((pending, max_us))
        yield pd.DataFrame(
            rows, columns=["user_id", "err_us", "pur_us", "lag_s"]
        )

    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def histogram_quantile_stream(
    spark: SparkSession,
    source_dir: str,
    event_schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 100.0,
    n_bins: int = 200,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming quantile maintenance via a fixed-bin histogram state —
    the quantile companion to the HLL (q123) and bitmap (q145)
    streaming twins, and a THIRD state-management pattern: per-bin
    counts are summable but NOT idempotent (unlike register-max and
    bit_or), so at-least-once epoch replay would double-count a naive
    fold. The fold therefore writes each epoch's partial counts to its
    OWN partition (``state_dir/epoch=N``, overwrite) — replaying an
    epoch rewrites the same partition byte-identically instead of
    re-adding it — and readers sum across epoch partitions.

    Quantile reads (:func:`histogram_quantiles`) walk the cumulative
    bins; the answer is exact to within one bin width, a deterministic
    guarantee the test pins against exact percentiles. Values OUTSIDE
    [lo, hi] are counted in dedicated underflow (bin -1) and overflow
    (bin ``n_bins``) bins rather than clamped into the edge bins
    (ADVICE r6): clamping would silently void the one-bin-width
    guarantee, whereas explicit out-of-range bins let readers both
    detect the violation (``within_guarantee`` flag) and still bound
    quantiles that land in-range. State is n_bins × epochs rows (KBs);
    the value stream is never rescanned. At 100 TB the same fold runs
    per key group with bins as a column."""
    width = (hi - lo) / n_bins

    def step(batch: DataFrame) -> DataFrame:
        v = F.col(value_col)
        return (
            batch.select(
                F.when(v < F.lit(lo), F.lit(-1))
                .when(v > F.lit(hi), F.lit(n_bins))
                .otherwise(
                    # v == hi closes into the last interior bin
                    F.least(
                        F.lit(n_bins - 1),
                        F.floor((v - lo) / width).cast("int"),
                    )
                )
                .alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    _fold_epochs(
        spark, source_dir, event_schema, state_dir, checkpoint_dir,
        max_files_per_trigger, step,
    )


def histogram_quantiles(
    spark: SparkSession,
    state_dir: str,
    qs: tuple = (0.5, 0.9, 0.99),
    lo: float = 0.0,
    hi: float = 100.0,
    n_bins: int = 200,
) -> DataFrame:
    """Quantiles off the epoch-partitioned histogram state: sum bins
    across epochs, walk the cumulative distribution, report each
    requested quantile as the UPPER EDGE of the first bin whose
    cumulative count reaches q·N — within one bin width of exact by
    construction WHEN the picked bin is interior. A quantile that
    lands in the underflow bin still gets a valid upper bound (lo, the
    underflow bin's upper edge) and one landing in the overflow bin
    gets +inf; both set ``within_guarantee`` false so readers can see
    the one-bin-width guarantee no longer holds for that quantile."""
    width = (hi - lo) / n_bins
    merged = (
        spark.read.parquet(state_dir)
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )
    from pyspark.sql.window import Window

    cum = merged.withColumn(
        "cn", F.sum("n").over(Window.orderBy("bin"))
    ).crossJoin(F.broadcast(merged.agg(F.sum("n").alias("nt"))))
    out = None
    for q in qs:
        pick = (
            cum.filter(F.col("cn") >= F.lit(q) * F.col("nt"))
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(q).alias("q"),
                F.when(F.col("bin") >= n_bins, F.lit(float("inf")))
                .otherwise(F.lit(lo) + (F.col("bin") + 1) * F.lit(width))
                .alias("value_ub"),
                ((F.col("bin") >= 0) & (F.col("bin") < n_bins)).alias(
                    "within_guarantee"
                ),
            )
        )
        out = pick if out is None else out.unionByName(pick)
    return out


def ivm_revenue_stream(
    spark: SparkSession,
    source_dir: str,
    line_schema: T.StructType,
    dim_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming JOIN-AGGREGATE incremental view maintenance — q111's
    algebra under the streaming contract: lineitem delta files stream
    in, each micro-batch broadcast-joins the STATIC dimension frame
    (``dim_df``: l_orderkey -> nation grain, prepared once by the
    caller) and writes its per-nation revenue partials — UNROUNDED
    fixed-scale DECIMAL, the q111 sum-of-rounds discipline — to an
    epoch-owned partition (``state_dir/epoch=N``, overwrite), so
    at-least-once replay rewrites rather than double-adds (the
    histogram-stream pattern). The VIEW is the epoch-partition sum
    (:func:`ivm_revenue_read`): delta-maintained revenue equals the
    one-shot batch join-aggregate EXACTLY, which the test pins across
    drops and a checkpoint-resume. History is never rescanned; each
    fold touches its delta plus the broadcast dim."""
    acc = "decimal(28,6)"

    def step(batch: DataFrame) -> DataFrame:
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(acc)
        return (
            batch.select("l_orderkey", rev.alias("__r"))
            .join(F.broadcast(dim_df), "l_orderkey")
            .groupBy("n_name")
            .agg(F.sum("__r").alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
        )

    _fold_epochs(
        spark, source_dir, line_schema, state_dir, checkpoint_dir,
        max_files_per_trigger, step,
    )


def ivm_revenue_read(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained view: per-nation revenue summed across epoch
    partitions, rounded only for display (after the merge)."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("revenue"), 2).alias("revenue"),
            F.sum("n_lines").alias("n_lines"),
        )
        .orderBy("n_name")
    )


def kmv_rollup_stream(
    spark: SparkSession,
    source_dir: str,
    event_schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    k: int = 64,
    max_files_per_trigger: int = 1,
) -> None:
    """Continuous per-day KMV distinct-user sketch — q203/q204's
    streaming twin, completing the estimator triple next to
    :func:`hll_rollup_stream` (≈, representation drift) and
    :func:`bitmap_rollup_stream` (exact, linear state): state at
    ``state_dir`` is each day's k smallest md5 user hashes
    (``day, h`` rows, ≤ k per day), folded per micro-batch by
    union → distinct → per-day rank ≤ k.

    The fold (set-union then k-min) is associative, commutative, and
    idempotent on DETERMINISTIC md5 values — unlike DataSketches HLL
    there is no coupon-list/dense promotion, so the stream-folded
    state AND the (k−1)/u_(k) estimate are byte-identical to the
    one-shot batch sketch under any micro-batch slicing and any
    at-least-once replay. The test pins stream == batch exactly.

    100 TB posture: state is days × k rows (fixed KBs per day); each
    fold shuffles the batch's per-day candidate hashes once, and the
    rank window partitions by day over ≤ k + batch-distinct rows. At
    extreme per-batch cardinality, prefilter h ≤ the day's current
    u_(k) before the window (lossless for the k-min set) — the
    standard KMV pruning, same note as q203."""
    from pyspark.sql.window import Window as W

    def step(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        cand = batch.select(
            F.to_date(F.date_trunc("day", F.col(ts_col))).alias("day"),
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("kmv:"), F.col(user_col).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        ).distinct()
        if prior is not None:
            cand = prior.unionByName(cand).distinct()
        wd = W.partitionBy("day").orderBy("h")
        return (
            cand.withColumn("rk", F.row_number().over(wd))
            .filter(F.col("rk") <= k)
            .select("day", "h")
        )

    _fold_snapshot(
        spark, source_dir, event_schema, state_dir, checkpoint_dir,
        max_files_per_trigger, step,
    )


def kmv_distinct_daily(
    spark: SparkSession, state_dir: str, k: int = 64
) -> DataFrame:
    """Per-day distinct-user estimates off the KMV state — state rows
    only, never the event stream: exact count when the day holds fewer
    than k hashes, else (k−1)/u_(k) with u_(k) normalized by 2^60
    (q203's estimator, bit-replayable)."""
    scale = float(1 << 60)
    per_day = (
        spark.read.parquet(state_dir)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_state"), F.max("h").alias("hk"))
    )
    est = F.when(
        F.col("n_state") < k, F.col("n_state").cast("double")
    ).otherwise(F.round(F.lit(k - 1) / (F.col("hk") / F.lit(scale)), 4))
    return per_day.select("day", est.alias("kmv_est")).orderBy("day")


def cms_rollup_read(spark: SparkSession, state_dir: str) -> DataFrame:
    """The merged sketch: counters summed across epoch partitions —
    bit-identical to a one-shot cms_build over all data ever folded.
    Alias of :func:`cms_state_sketch` (r14: a second, shadowed
    ``cms_rollup_stream`` definition from round 8 was deleted and the
    two readers unified on :func:`cms_cells_collapse` — one reader,
    one algebra)."""
    return cms_state_sketch(spark, state_dir)


def session_stats_tws(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    gap_seconds: int = 1800,
    late: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> None:
    """Timer-driven session rollup on ``transformWithState`` — the
    custom-StatefulProcessor twin of :func:`session_window_stream`,
    exercising the three TWS features the running-totals parity twin
    doesn't touch: EVENT-TIME timers, ``ListState``, and
    ``handleExpiredTimer``. The parity test pins its final output
    row-for-row against the NATIVE ``session_window`` aggregation on
    the same source, including checkpoint resume across a second
    ``availableNow`` run.

    Protocol (native append-mode semantics reproduced exactly):

    - input rows below the current watermark are dropped (the same
      late-row policy the built-in aggregation applies);
    - per key, ONE open session lives in a ``ValueState``; in-batch
      rows sort by timestamp and either extend it or split off CLOSED
      sessions, which move to a ``ListState`` of pending emissions —
      closed is NOT emitted yet, because the native operator emits a
      session only when the WATERMARK passes its end;
    - every session (open or pending) owns an event-time timer at
      ``last + gap``; when one fires, ``handleExpiredTimer`` emits and
      evicts exactly the sessions whose end the current watermark has
      passed (stale timers for already-emitted sessions no-op). State
      is O(open + pending-within-lateness), mirroring the native
      operator's eviction.

    Scale posture matches the native operator: state per key is a
    handful of fixed-width rows in RocksDB, rows stream through Arrow
    batches, and the only shuffle is the groupBy key.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = int(gap_seconds) * 1000
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    events = reader.parquet(source_dir).withWatermark("ts", late)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("session_value", T.DoubleType()),
        ]
    )

    def _emit_df(key, sessions):
        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(sessions),
                "session_start": [
                    pd.Timestamp(s[0], unit="ms") for s in sessions
                ],
                "session_end": [
                    pd.Timestamp(s[1] + gap_ms, unit="ms") for s in sessions
                ],
                "n_events": [s[2] for s in sessions],
                "session_value": [round(s[3], 2) for s in sessions],
            }
        )

    class SessionTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._open = handle.getValueState(
                "open", "start long, last long, n long, total double"
            )
            self._pending = handle.getListState(
                "pending", "start long, last long, n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            # Full interval re-merge (ADVICE r11 high): every
            # above-watermark row becomes a unit session, joins the
            # key's LIVE sessions (open + pending), and the union is
            # merged by the native rule — two sessions fuse iff the
            # later one starts within gap of the earlier one's last
            # event. This is exactly what the built-in session_window
            # operator does, and it handles the two cases the old
            # extend-or-split sweep got wrong: an accepted late row
            # more than gap BEFORE the open session now forms (or
            # joins) its own session instead of inflating the open
            # one, and a late row within gap of a PENDING session
            # merges into it (possibly bridging two sessions into
            # one, as native does).
            wm = timerValues.getCurrentWatermarkInMs()
            pts = []
            for pdf in rows:
                ts_ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
                vals = pdf["value"].tolist()
                pts.extend(zip(ts_ms, vals))
            pts = [(t, v) for t, v in pts if t >= wm]
            if not pts:
                return iter([])
            live = [tuple(s) for s in self._pending.get()]
            if self._open.exists():
                live.append(tuple(self._open.get()))
            old_ends = {s[1] + gap_ms for s in live}
            live.extend((t, t, 1, float(v)) for t, v in pts)
            live.sort(key=lambda s: (s[0], s[1]))
            merged: list[tuple] = []
            for s in live:
                if merged and s[0] <= merged[-1][1] + gap_ms:
                    m = merged[-1]
                    merged[-1] = (
                        m[0],
                        max(m[1], s[1]),
                        m[2] + s[2],
                        m[3] + s[3],
                    )
                else:
                    merged.append(s)
            # the most recent session is the one future rows likeliest
            # extend — it keeps the ValueState slot; all earlier ones
            # await their emission timers in the ListState
            self._open.update(merged[-1])
            self._pending.clear()
            if len(merged) > 1:
                self._pending.put(merged[:-1])
            new_ends = {s[1] + gap_ms for s in merged}
            for e in new_ends:
                self._h.registerTimer(e)
            # a timer is stale only if NO surviving session owns its
            # timestamp — merges move session ends, so clean up by set
            # difference rather than guessing
            for e in old_ends - new_ends:
                self._h.deleteTimer(e)
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            wm = timerValues.getCurrentWatermarkInMs()
            emit, keep = [], []
            for s in self._pending.get():
                (emit if s[1] + gap_ms <= wm else keep).append(tuple(s))
            if keep:
                self._pending.clear()
                self._pending.put(keep)
            elif emit:
                self._pending.clear()
            if self._open.exists():
                cur = tuple(self._open.get())
                if cur[1] + gap_ms <= wm:
                    emit.append(cur)
                    self._open.clear()
            if not emit:
                return iter([])
            emit.sort(key=lambda s: s[0])
            return iter([_emit_df(key, emit)])

        def close(self) -> None:
            pass

    with _rocksdb_state_store(spark):
        q = (
            events.groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=SessionTotals(),
                outputStructType=out_schema,
                outputMode="Append",
                timeMode="EventTime",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def event_type_totals_tws(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Per-user, per-event-type running totals on ``transformWithState``
    with a ``MapState`` — the last of the four TWS state primitives
    this engine exercises (ValueState: running totals twin; ListState
    + timers: session rollup; MapState: here). The map key is the
    event type, the value a (count, value-sum) pair; each batch folds
    its rows into the map with point ``getValue``/``updateValue``
    calls and emits one row per TOUCHED type carrying the running
    pair plus the user's total across ALL types — the cross-type
    total forces a full ``iterator()`` walk, exercising the state
    server's map-iterator paging, not just point lookups.

    Parity contract (pinned in tests/test_streaming_state.py): after
    any micro-batch slicing and a checkpoint resume, the LAST emitted
    row per (user, event type) equals the one-shot batch
    ``groupBy(user_id, event_type)`` aggregate of the same files, and
    the cross-type total equals the per-user batch rollup. Scale
    posture: state is one fixed-width map entry per live (key, type);
    rows stream through Arrow batches; shuffle is the groupBy key."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    events = stream_events(spark, source_dir)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("type_value", T.DoubleType()),
            T.StructField("user_total_value", T.DoubleType()),
        ]
    )

    class TypeTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState("by_type", "etype string", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            touched = set()
            for pdf in rows:
                for et, grp in pdf.groupby("event_type"):
                    n, tot = (
                        self._m.getValue((et,))
                        if self._m.containsKey((et,))
                        else (0, 0.0)
                    )
                    self._m.updateValue(
                        (et,), (n + len(grp), tot + float(grp["value"].sum()))
                    )
                    touched.add(et)
            if not touched:
                return iter([])
            user_total = 0.0
            running = {}
            for k, v in self._m.iterator():
                user_total += v[1]
                running[k[0]] = v
            out = sorted(touched)
            return iter(
                [
                    pd.DataFrame(
                        {
                            "user_id": [key[0]] * len(out),
                            "event_type": out,
                            "n_events": [running[et][0] for et in out],
                            "type_value": [round(running[et][1], 6) for et in out],
                            "user_total_value": [round(user_total, 6)] * len(out),
                        }
                    )
                ]
            )

        def close(self) -> None:
            pass

    def sink(batch_df, epoch_id):
        batch_df.withColumn("epoch_id", F.lit(epoch_id)).write.mode("append").parquet(
            out_dir
        )

    with _rocksdb_state_store(spark):
        q = (
            events.groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=TypeTotals(),
                outputStructType=out_schema,
                outputMode="Update",
                timeMode="None",
            )
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def cms_rollup_stream(
    spark: SparkSession,
    source_dir: str,
    event_schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 1024,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming Count-Min maintenance — the incremental twin of the
    batch ``operators/sketches.py::cms_build`` (q121/q373's operator),
    the FREQUENCY member of the streaming estimator family (HLL
    register-max, bitmap bit_or, KMV k-minima, histogram bins, AMS
    signed sums). CMS counters are LINEAR in per-key counts, so each
    micro-batch contributes its own d x w partial grid and the total
    sketch is their plain cell-wise addition — the stream-final folded
    state equals the one-shot batch ``cms_build`` EXACTLY (integer
    equality, no error envelope), which is what the parity test pins.

    Replay safety: addition is summable but NOT idempotent, so the
    fold uses the AMS/histogram per-epoch-partition pattern — each
    epoch's partial grid lands in ``state_dir/epoch=N`` via overwrite
    (an at-least-once replay rewrites the same partition
    byte-identically; the md5 bucket hashes are deterministic), and
    readers sum across epoch partitions (:func:`cms_state_sketch`).

    100 TB posture: the per-batch work is cms_build's — one md5 per
    input row below a narrow d-way generate, then a hash aggregate
    that map-side-combines every partition to <= d*w counters before
    the shuffle; the durable state is <= d*w rows per epoch (KB),
    independent of key cardinality, and point queries never touch the
    raw stream again."""
    from batchprocessingetl_spark.operators.sketches import cms_build

    _fold_epochs(
        spark, source_dir, event_schema, state_dir, checkpoint_dir,
        max_files_per_trigger,
        lambda batch: cms_build(batch, F.col(key_col), depth, width),
    )


def cms_cells_collapse(partials: DataFrame) -> DataFrame:
    """The CMS read-path algebra on a frame of (row, bucket, c)
    partial grids (one grid per epoch partition): sum per cell by
    linearity, yielding the counter table every batch-side reader
    consumes (``cms_point_estimates``, ``cms_inner_product``). Split
    out of :func:`cms_state_sketch` so the q374 batch replay
    (workload/round13_queries.py) oracle-pins the SAME code the
    stream reader runs — the q369/ams_f2_estimate_from_partials
    pattern."""
    return partials.groupBy("row", "bucket").agg(F.sum("c").alias("c"))


def cms_state_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """Collapse the epoch-partitioned streaming CMS state back to a
    counter table — ONE scan of the epochs x cells state through the
    shared read-path algebra (:func:`cms_cells_collapse`)."""
    return cms_cells_collapse(spark.read.parquet(state_dir))


def ams_f2_rollup_stream(
    spark: SparkSession,
    source_dir: str,
    event_schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    n_estimators: int = 16,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming AMS / Tug-of-War F2 maintenance — the incremental twin
    of the batch q345 sketch (workload/round12_queries.py), the
    second-MOMENT member of the streaming estimator family (HLL
    register-max, bitmap bit_or, KMV k-minima, histogram bins, CMS
    counter grid — r14 corrected the ordinal claims here: KMV and CMS
    streaming predate this function). AMS estimator sums
    are linear in per-key counts, so the stream folds each micro-batch's
    16 signed partial sums sum_k sign_i(k) * c_k(batch) and the total
    is their plain addition — by linearity the stream-final state
    equals the one-shot batch sums EXACTLY (integer equality, no error
    envelope), which is what the parity test pins.

    Replay safety: addition is summable but NOT idempotent, so the
    fold uses the histogram stream's per-epoch-partition pattern —
    each epoch's partials land in ``state_dir/epoch=N`` via overwrite
    (an at-least-once replay rewrites the same partition
    byte-identically; the signs are md5-derived, deterministic), and
    readers sum across epoch partitions.

    100 TB posture: the only batch-sized pass is one hash aggregate to
    per-key counts; the 16-way explode runs on the KEY frame and the
    state is 16 rows per epoch (bytes). Signs are md5 parity of
    "ams{i}:{key}" — the exact q345 convention, so batch and stream
    share their oracle algebra."""
    from batchprocessingetl_spark.operators.sketches import ams_sign

    def step(batch: DataFrame) -> DataFrame:
        counts = (
            batch.filter(F.col(key_col).isNotNull())
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        est = counts.select(
            key_col,
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(n_estimators - 1))).alias("i"),
        )
        return (
            est.select(
                "i",
                (ams_sign(F.col("i"), F.col(key_col)) * F.col("c")).alias("sc"),
            )
            .groupBy("i")
            .agg(F.sum("sc").alias("s"))
        )

    _fold_epochs(
        spark, source_dir, event_schema, state_dir, checkpoint_dir,
        max_files_per_trigger, step,
    )


def ams_f2_estimate_from_partials(
    partials: DataFrame, n_estimators: int = 16
) -> DataFrame:
    """The AMS read-path algebra on a frame of (i, s) partial sums
    (one row per estimator per epoch partition): sum each estimator's
    partials (linearity), square, take the median — mean of the two
    middle order stats for an even estimator count (the q345
    convention), the single middle one for odd. Split out from
    :func:`ams_f2_estimate` so the q369 batch replay
    (workload/round13_queries.py) oracle-pins the SAME code the
    stream reader runs."""
    from pyspark.sql.window import Window

    sums = (
        partials.groupBy("i")
        .agg(F.sum("s").alias("s"))
        .select("i", (F.col("s") * F.col("s")).alias("est"))
    )
    if n_estimators % 2 == 0:
        picks = (n_estimators // 2, n_estimators // 2 + 1)
    else:
        picks = ((n_estimators + 1) // 2,)
    w = Window.orderBy(F.asc("est"), F.asc("i"))
    med = (
        sums.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").isin(*picks))
        .agg((F.sum("est") / F.lit(float(len(picks)))).alias("f2_estimate"))
    )
    return med


def ams_f2_estimate(
    spark: SparkSession, state_dir: str, n_estimators: int = 16
) -> DataFrame:
    """F2 estimate off the stream-maintained AMS state — ONE scan of
    the estimators x epochs state, then the shared read-path algebra
    (:func:`ams_f2_estimate_from_partials`). ``n_estimators`` must
    match the rollup's; passing it (rather than count()-ing the state)
    avoids an extra job."""
    return ams_f2_estimate_from_partials(
        spark.read.parquet(state_dir), n_estimators
    )
