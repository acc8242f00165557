"""Custom stateful streaming operator: per-user running totals via
applyInPandasWithState must accumulate ACROSS micro-batch runs through
the checkpointed state store."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from batchprocessingetl_spark.streaming.jobs import latest_user_totals, running_user_totals


def _rows(ids, hour):
    return [
        Row(event_id=i, ts=dt.datetime(2024, 1, 1, hour, i % 60), user_id=i % 2,
            event_type="click", value=1.5, props="{}")
        for i in ids
    ]


def test_state_accumulates_across_runs(spark, tmp_path):
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    spark.createDataFrame(_rows(range(4), 1)).write.mode("append").parquet(src)
    running_user_totals(spark, src, ckpt, out)
    got1 = {r["user_id"]: r for r in latest_user_totals(spark, out).collect()}
    assert got1[0]["n_events"] == 2 and got1[0]["total_value"] == 3.0

    # second run: new files, SAME checkpoint -> state must carry over
    spark.createDataFrame(_rows(range(4, 10), 2)).write.mode("append").parquet(src)
    running_user_totals(spark, src, ckpt, out)
    got2 = {r["user_id"]: r for r in latest_user_totals(spark, out).collect()}
    assert got2[0]["n_events"] == 5  # 2 from run1 + 3 from run2
    assert got2[0]["total_value"] == 7.5
    assert got2[1]["n_events"] == 5


def test_processing_time_trigger_makes_incremental_progress(spark, tmp_path):
    # Continuous-cadence twin of the reference's 5s polling loop: run a
    # processingTime query briefly, feed it new files mid-flight, and
    # assert the checkpoint advanced across multiple micro-batches.
    import json
    import time

    from pyspark.sql import functions as F

    from batchprocessingetl_spark.streaming.jobs import (
        start_processing_time,
        stream_events,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.createDataFrame(_rows(range(4), 1)).write.mode("append").parquet(src)

    agg = (
        stream_events(spark, src)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = start_processing_time(agg, ckpt, out, interval="1 seconds")
    try:
        deadline = time.time() + 60
        fed = False
        while time.time() < deadline:
            progress = q.recentProgress
            if progress and not fed:
                # first batch done -> land more files for a later batch
                spark.createDataFrame(_rows(range(4, 8), 2)).write.mode(
                    "append"
                ).parquet(src)
                fed = True
            if fed and any(
                p["numInputRows"] > 0 for p in progress[1:]
            ):
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()

    commits = sorted(
        p.name for p in (tmp_path / "ckpt" / "commits").iterdir() if p.name.isdigit()
    )
    assert len(commits) >= 2, f"expected >=2 committed micro-batches, got {commits}"
    # offsets advanced monotonically across batches
    offsets_dir = tmp_path / "ckpt" / "offsets"
    assert len(list(offsets_dir.iterdir())) >= 2
    totals = {
        r["user_id"]: r["n_events"] for r in spark.read.parquet(out).collect()
    }
    assert totals[0] + totals[1] == 8  # snapshot reflects both file drops


def test_q61_rerun_leaves_single_session_workdir(spark):
    import os

    from batchprocessingetl_spark.session import work_dir
    from batchprocessingetl_spark.workload.mm_stream import q61_streaming_hourly
    from tests.conftest import SF_SMOKE

    own = work_dir(spark, "stream")
    root = os.path.dirname(own)
    before = {d for d in os.listdir(root) if d.startswith("bpetl_stream_")}
    r1 = q61_streaming_hourly(spark, SF_SMOKE).count()
    r2 = q61_streaming_hourly(spark, SF_SMOKE).count()
    assert r1 == r2 > 0
    after = {d for d in os.listdir(root) if d.startswith("bpetl_stream_")}
    # two invocations create at most ONE dir (per-application, reused)
    assert after - before <= {os.path.basename(own)}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    # The streaming attribution join must emit exactly the rows the
    # equivalent batch interval join produces over the same input.
    from pyspark.sql import functions as F

    from batchprocessingetl_spark.streaming.jobs import attribution_stream_join

    rows = []
    for i in range(40):
        kind = "purchase" if i % 4 == 0 else "click"
        rows.append(
            Row(event_id=i, ts=dt.datetime(2024, 1, 1, i // 6, (i * 7) % 60),
                user_id=i % 3, event_type=kind, value=float(i), props="{}")
        )
    src = str(tmp_path / "events")
    spark.createDataFrame(rows).write.parquet(src)

    out = str(tmp_path / "out")
    attribution_stream_join(spark, src, str(tmp_path / "ckpt"), out)
    got = sorted(
        map(tuple, spark.read.parquet(out).select("purchase_id", "click_id").collect())
    )

    ev = spark.read.parquet(src)
    p = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    want = sorted(
        map(
            tuple,
            p.join(
                c,
                F.expr(
                    "c_user = user_id AND click_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
                ),
            ).select("purchase_id", "click_id").collect(),
        )
    )
    assert got == want and len(want) > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    # Re-delivered events (same event_id, within the lateness window)
    # must be suppressed; the output carries each event exactly once.
    from batchprocessingetl_spark.streaming.jobs import deduped_ingest_stream

    src = str(tmp_path / "events")
    first = _rows(range(6), 1)
    redelivered = _rows(range(3, 9), 1)  # overlaps 3..5
    spark.createDataFrame(first + redelivered).write.parquet(src)

    out = str(tmp_path / "deduped")
    deduped_ingest_stream(spark, src, out, str(tmp_path / "ckpt"))
    got = spark.read.parquet(out)
    assert got.count() == 9  # 0..8 exactly once
    assert got.select("event_id").distinct().count() == 9


def test_scd2_maintenance_stream_equals_batch_fold(spark, tmp_path):
    """Streaming ≡ batch: folding snapshot files through the
    foreachBatch SCD2 stream (one file per micro-batch) produces the
    same dimension as applying apply_scd2 sequentially in batch."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from batchprocessingetl_spark.operators.scd2 import apply_scd2
    from batchprocessingetl_spark.streaming.jobs import scd2_maintenance_stream

    schema = T.StructType(
        [
            T.StructField("pk", T.LongType(), True),
            T.StructField("attr", T.StringType(), True),
            T.StructField("snap_ts", T.TimestampType(), True),
        ]
    )
    src = tmp_path / "snaps"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (2, "x", "2024-01-01 00:00:00")],
        "pk long, attr string, snap_ts string",
    ).withColumn("snap_ts", F.col("snap_ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [(1, "b", "2024-01-02 00:00:00"), (3, "new", "2024-01-02 00:00:00")],
        "pk long, attr string, snap_ts string",
    ).withColumn("snap_ts", F.col("snap_ts").cast("timestamp"))
    # two source files -> two micro-batches (maxFilesPerTrigger=1);
    # lexicographic staging order matches event-time order
    b1.coalesce(1).write.parquet(str(src / "d=001"))
    b2.coalesce(1).write.parquet(str(src / "d=002"))

    dim_dir = str(tmp_path / "dim")
    scd2_maintenance_stream(
        spark,
        f"{src}/*",
        schema,
        dim_dir,
        str(tmp_path / "ckpt"),
        ["pk"],
        ["attr"],
        "snap_ts",
    )
    got = {
        (r["pk"], r["attr"], r["is_current"], str(r["start_date"]))
        for r in spark.read.parquet(dim_dir).collect()
    }

    d1 = apply_scd2(b1.select("pk", "attr"), None, ["pk"], ["attr"], "2024-01-01 00:00:00")
    d2 = apply_scd2(b2.select("pk", "attr"), d1, ["pk"], ["attr"], "2024-01-02 00:00:00")
    want = {
        (r["pk"], r["attr"], r["is_current"], str(r["start_date"]))
        for r in d2.collect()
    }
    assert got == want
    # key 1 must carry real history: expired 'a' + current 'b'
    assert (1, "a", False, "2024-01-01 00:00:00") in got
    assert (1, "b", True, "2024-01-02 00:00:00") in got


def test_scd2_maintenance_stream_idempotent_on_rerun(spark, tmp_path):
    """Re-running the drained stream (fresh checkpoint, same files —
    the worst-case epoch replay) leaves the dimension unchanged:
    re-applying an identical snapshot is a no-op."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from batchprocessingetl_spark.streaming.jobs import scd2_maintenance_stream

    schema = T.StructType(
        [
            T.StructField("pk", T.LongType(), True),
            T.StructField("attr", T.StringType(), True),
            T.StructField("snap_ts", T.TimestampType(), True),
        ]
    )
    src = tmp_path / "snaps"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00")], "pk long, attr string, snap_ts string"
    ).withColumn("snap_ts", F.col("snap_ts").cast("timestamp")).coalesce(1).write.parquet(
        str(src / "d=001")
    )
    dim_dir = str(tmp_path / "dim")
    scd2_maintenance_stream(
        spark, f"{src}/*", schema, dim_dir, str(tmp_path / "ck1"), ["pk"], ["attr"], "snap_ts"
    )
    first = sorted(map(tuple, spark.read.parquet(dim_dir).collect()))
    scd2_maintenance_stream(
        spark, f"{src}/*", schema, dim_dir, str(tmp_path / "ck2"), ["pk"], ["attr"], "snap_ts"
    )
    second = sorted(map(tuple, spark.read.parquet(dim_dir).collect()))
    assert first == second


def test_session_window_stream_matches_batch_sessions(spark, tmp_path):
    """Streaming session windows (append mode: one emission per closed
    session) equal the batch session_window rollup on the same events,
    including a session that accrues across TWO micro-batches
    (file-per-trigger) and must merge through the state store. A
    far-future sentinel event advances the watermark so every real
    session closes and flushes before the drain stops."""
    import pyspark.sql.functions as F

    from batchprocessingetl_spark.streaming.jobs import session_window_stream

    rows1 = [
        (1, "2024-01-01 10:00:00", 7, "click", 1.0, None),
        (2, "2024-01-01 10:10:00", 7, "click", 2.0, None),  # same session
        (3, "2024-01-01 13:00:00", 8, "view", 5.0, None),
    ]
    rows2 = [
        (4, "2024-01-01 10:25:00", 7, "buy", 4.0, None),  # extends user 7's session
        (5, "2024-01-01 16:00:00", 7, "click", 1.5, None),  # new session
    ]
    sentinel = [(999, "2024-02-01 00:00:00", 999, "flush", 0.0, None)]
    src = tmp_path / "ev"
    src.mkdir()

    def stage(rows, name):
        (
            spark.createDataFrame(
                rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
            )
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.parquet(str(src / name))
        )

    stage(rows1, "d=001")
    stage(rows2, "d=002")
    stage(sentinel, "d=003")

    out = str(tmp_path / "out")
    session_window_stream(
        spark, f"{src}/*", str(tmp_path / "ckpt"), out, gap="30 minutes",
        late="1 minutes", max_files_per_trigger=1,
    )
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"], r["session_value"])
        for r in spark.read.parquet(out).filter(F.col("user_id") != 999).collect()
    }

    all_rows = spark.createDataFrame(
        rows1 + rows2, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    want = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"], r["session_value"])
        for r in (
            all_rows.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
            .select(
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "user_id", "n_events", "session_value",
            )
        ).collect()
    }
    assert got == want
    # the cross-batch session really merged: user 7's first session
    # spans 10:00 -> 10:55 with 3 events
    assert (7, "2024-01-01 10:00:00", "2024-01-01 10:55:00", 3, 7.0) in got


def test_stream_static_enrichment_matches_batch_and_is_stateless(spark, tmp_path):
    # stream-static join: streamed facts enriched with a static dim
    # must equal the batch join, and the streaming plan must carry no
    # stateful operator (no watermark/state store — per-batch hash join)
    from pyspark.sql import functions as F

    from batchprocessingetl_spark.streaming.jobs import (
        enrich_stream_with_dim,
        stream_events,
    )

    rows = [
        Row(event_id=i, ts=dt.datetime(2024, 1, 1, i % 24), user_id=i % 5,
            event_type="click", value=float(i), props="{}")
        for i in range(50)
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows).write.parquet(src)
    dim = spark.createDataFrame(
        [(u, f"tier{u % 2}") for u in range(4)], "user_id long, tier string"
    )  # user 4 intentionally missing -> inner join drops it

    enriched = enrich_stream_with_dim(stream_events(spark, src), dim, "user_id", ("tier",))
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched_mem")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # stateless: no state-store rows tracked in the last progress
    got = sorted(
        map(tuple, spark.table("enriched_mem").select("event_id", "tier").collect())
    )
    want = sorted(
        map(
            tuple,
            spark.read.parquet(src)
            .join(dim, "user_id")
            .select("event_id", "tier")
            .collect(),
        )
    )
    assert got == want and len(got) == 40  # users 0-3 only
    assert all(p["stateOperators"] == [] for p in q.recentProgress if p["numInputRows"])


def test_streaming_unique_users_within_hll_error_of_batch_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    from batchprocessingetl_spark.streaming.jobs import (
        stream_events,
        windowed_unique_users,
    )

    rows = [
        Row(event_id=i, ts=dt.datetime(2024, 1, 1, i % 6), user_id=i % 37,
            event_type="click", value=1.0, props="{}")
        for i in range(300)
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows).write.parquet(src)

    agg = windowed_unique_users(stream_events(spark, src))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("uu_mem")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {r["window_start"]: r for r in spark.table("uu_mem").collect()}
    exact = {
        r["w"]["start"]: r["exact"]
        for r in spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(got) == set(exact) and len(got) == 6
    for w, r in got.items():
        assert abs(r["approx_users"] - exact[w]) <= max(2, 0.05 * exact[w])
        assert r["n_events"] == 50


def test_cdc_stream_equals_batch_compaction(spark, tmp_path):
    from pyspark.sql import types as T

    from batchprocessingetl_spark.operators.cdc import apply_changelog
    from batchprocessingetl_spark.streaming.jobs import cdc_changelog_stream, cdc_snapshot

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("val", T.StringType()),
        ]
    )
    src, state, ckpt = (str(tmp_path / d) for d in ("log", "state", "ckpt"))
    slice1 = [(1, 1, "I", "a"), (2, 1, "I", "b"), (3, 1, "I", "c")]
    slice2 = [(1, 2, "U", "a2"), (2, 2, "D", None)]
    # out-of-order re-delivery of key 2 BELOW its delete version: the
    # persisted delete must keep shadowing it across a separate run
    slice3 = [(2, 1, "I", "b-redelivered"), (4, 1, "I", "d")]

    spark.createDataFrame(slice1, schema).write.mode("append").parquet(src)
    spark.createDataFrame(slice2, schema).write.mode("append").parquet(src)
    cdc_changelog_stream(spark, src, schema, state, ckpt, ["k"])
    got = {r["k"]: r["val"] for r in cdc_snapshot(spark, state).collect()}
    assert got == {1: "a2", 3: "c"}

    spark.createDataFrame(slice3, schema).write.mode("append").parquet(src)
    cdc_changelog_stream(spark, src, schema, state, ckpt, ["k"])  # same ckpt: only new file
    got = {r["k"]: r["val"] for r in cdc_snapshot(spark, state).collect()}
    assert got == {1: "a2", 3: "c", 4: "d"}

    # stream state == one-shot batch compaction of the full log
    full = spark.createDataFrame(slice1 + slice2 + slice3, schema)
    want = {r["k"]: r["val"] for r in apply_changelog(full, ["k"]).collect()}
    assert got == want


def test_transform_with_state_matches_apply_in_pandas_with_state(spark, tmp_path):
    """The Spark 4 StatefulProcessor twin must produce the same running
    totals as the applyInPandasWithState operator, including state
    resume across a second availableNow run from its checkpoint."""
    import pytest

    from batchprocessingetl_spark.streaming.jobs import (
        running_user_totals_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("transformWithState state server needs protobuf (absent here)")

    src = str(tmp_path / "events")
    old_ck, old_out = str(tmp_path / "ck_old"), str(tmp_path / "out_old")
    new_ck, new_out = str(tmp_path / "ck_new"), str(tmp_path / "out_new")

    spark.createDataFrame(_rows(range(4), 1)).write.mode("append").parquet(src)
    running_user_totals(spark, src, old_ck, old_out)
    running_user_totals_tws(spark, src, new_ck, new_out)

    spark.createDataFrame(_rows(range(4, 10), 2)).write.mode("append").parquet(src)
    running_user_totals(spark, src, old_ck, old_out)
    running_user_totals_tws(spark, src, new_ck, new_out)

    old = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in latest_user_totals(spark, old_out).collect()
    }
    new = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in latest_user_totals(spark, new_out).collect()
    }
    assert old == new and len(old) == 2
    assert old[0][0] == 5  # users 0/1 alternate over ids 0..9


def test_staged_swap_crash_recovery(spark, tmp_path):
    """Crash between rmtree(live) and move(staging, live): the stranded
    complete staging dir (with _SUCCESS) must be adopted; a PARTIAL
    staging dir (no _SUCCESS) must never be promoted."""
    import shutil

    from batchprocessingetl_spark.streaming.jobs import recover_staged_swap

    live = tmp_path / "state"
    staging = tmp_path / "state.staging"

    # simulate: completed staging write, live dir already removed
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(str(staging))
    assert (staging / "_SUCCESS").exists()
    assert recover_staged_swap(spark, str(live)) is True
    assert {r["v"] for r in spark.read.parquet(str(live)).collect()} == {"a"}
    # idempotent second call
    assert recover_staged_swap(spark, str(live)) is False

    # partial staging (no _SUCCESS) with live missing: refuse
    shutil.rmtree(live)
    staging.mkdir()
    (staging / "part-00000.parquet").write_bytes(b"partial")
    assert recover_staged_swap(spark, str(live)) is False
    assert not live.exists()


def test_near_dup_dedup_stream_invariants_and_replay(spark, tmp_path):
    """Streaming near-dup ingestion (q124's store, continuous form):
    after draining all batches —
    1. no two KEPT docs are direct near-dups (the store admits no
       near-dup pair, the invariant that makes it a dedup corpus);
    2. every doc, kept or dropped, is graph-connected to >= 1 kept doc
       in the full exact-Jaccard pair graph (nothing vanishes without
       a representative);
    3. the band store carries no duplicate rows;
    4. re-running the whole stream with a FRESH checkpoint over the
       same source (full epoch replay) leaves the kept set unchanged.
    """
    from pyspark.sql import types as T

    from batchprocessingetl_spark.operators.dedup import jaccard_pairs
    from batchprocessingetl_spark.streaming.jobs import near_dup_dedup_stream

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(30):
        words = base.split()
        words[i % len(words)] = f"w{i % 5}"  # 5 near-dup families
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    src = tmp_path / "src"
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.parquet(
            str(src / f"batch{b}.parquet")
        )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def run(ckpt: str) -> None:
        near_dup_dedup_stream(
            spark,
            str(src) + "/*/",
            schema,
            str(tmp_path / "kept"),
            str(tmp_path / "bands"),
            str(tmp_path / ckpt),
            n_hashes=32,
            bands=16,
            threshold=0.5,
        )

    run("ckpt1")
    kept = spark.read.parquet(str(tmp_path / "kept"))
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert kept_ids and kept_ids < set(range(30))  # something dropped

    # (1) kept set is near-dup free
    assert jaccard_pairs(kept, "doc_id", "text", n=3, threshold=0.5).count() == 0

    # (2) every doc connects to a kept doc in the full exact graph
    full_pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    adj: dict[int, set[int]] = {i: {i} for i in range(30)}
    for r in full_pairs:
        adj[r["id_a"]].add(r["id_b"])
        adj[r["id_b"]].add(r["id_a"])
    for start in range(30):
        seen, todo = set(), [start]
        while todo:
            v = todo.pop()
            if v in seen:
                continue
            seen.add(v)
            todo.extend(adj[v] - seen)
        assert seen & kept_ids, f"doc {start} has no kept representative"

    # (3) band store is duplicate-free
    bands = spark.read.parquet(str(tmp_path / "bands"))
    assert bands.count() == bands.dropDuplicates(["id", "band", "bucket"]).count()

    # (4) full replay with a fresh checkpoint is a no-op
    run("ckpt2")
    kept2 = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert kept2 == kept_ids


def test_stream_stream_left_outer_join_matches_batch(spark, tmp_path):
    # left_outer must also emit UNATTRIBUTED purchases (NULL click)
    # once the watermark proves no matching click can arrive. Two
    # far-future sentinel click files + maxFilesPerTrigger=1 force the
    # extra micro-batches that advance the watermark and flush them.
    from pyspark.sql import functions as F

    from batchprocessingetl_spark.streaming.jobs import attribution_stream_join

    rows = []
    for i in range(40):
        kind = "purchase" if i % 4 == 0 else "click"
        # user_id i % 5 with clicks only for users 1..4 of the i%5
        # cycle leaves some purchases with no same-user click at all
        rows.append(
            Row(event_id=i, ts=dt.datetime(2024, 1, 1, i // 6, (i * 7) % 60),
                user_id=i % 5, event_type=kind, value=float(i), props="{}")
        )
    src = str(tmp_path / "events")
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)
    # The global watermark is the MIN across both withWatermark
    # operators, so sentinels must advance BOTH streams: each file
    # carries a purchase AND a click (user -1, excluded from compare).
    for j, day in enumerate((10, 11)):
        spark.createDataFrame(
            [Row(event_id=1000 + 2 * j, ts=dt.datetime(2024, 1, day), user_id=-1,
                 event_type="purchase", value=0.0, props="{}"),
             Row(event_id=1001 + 2 * j, ts=dt.datetime(2024, 1, day), user_id=-1,
                 event_type="click", value=0.0, props="{}")]
        ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    attribution_stream_join(
        spark, src, str(tmp_path / "ckpt"), out,
        how="left_outer", max_files_per_trigger=1,
    )
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(out).collect()
        if r["purchase_id"] < 1000
    )

    ev = spark.read.parquet(src).filter("user_id >= 0")
    p = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    want = sorted(
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            F.expr(
                "c_user = user_id AND click_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
            ),
            "left",
        ).collect()
    )
    assert got == want
    assert any(cid is None for _, cid in got)  # unmatched purchases flushed


def test_hll_rollup_stream_estimates_within_error_of_exact(spark, tmp_path):
    """Streaming per-day HLL sketch state (q123's twin, VERDICT r5 #6):
    the register algebra makes micro-batch slicing and epoch replay
    double-count-free, but DataSketches list->dense promotions under
    union mean estimates are not bit-frozen across slicings — so the
    pin is the q123 flag pattern: every trailing-window estimate off
    the stream-folded state lands within 5% of the EXACT distinct
    count (lg_k=12 -> ~1.6% rsd; 5% is a deterministic-pass margin),
    across the first run AND a checkpoint-resume that folds only the
    new file."""
    from pyspark.sql import types as T

    from batchprocessingetl_spark.streaming.jobs import (
        hll_rollup_stream,
        hll_rolling_estimates,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src, state, ckpt = (str(tmp_path / d) for d in ("ev", "state", "ckpt"))
    from datetime import datetime, timedelta

    def rows(day: int, users: range):
        return [(u, datetime(2024, 3, day, u % 24)) for u in users]

    # three files -> three micro-batches (maxFilesPerTrigger=1), with
    # heavy cross-file user overlap (idempotent-union territory: day 2
    # and day 3 are each split across batches, day 3 partly REPLAYED)
    f1 = rows(1, range(0, 400)) + rows(2, range(100, 300))
    f2 = rows(2, range(200, 500)) + rows(3, range(0, 250))
    f3 = rows(3, range(0, 250)) + rows(4, range(50, 450))
    for chunk in (f1, f2):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(src)
    hll_rollup_stream(spark, src, schema, state, ckpt, lg_k=12)

    def exact(rows_all):
        by_day: dict = {}
        for u, ts in rows_all:
            by_day.setdefault(ts.date(), set()).add(u)
        days = sorted(by_day)
        out = {}
        for d in days:
            def trail(n):
                return len(
                    set().union(
                        *(by_day.get(d - timedelta(days=k), set()) for k in range(n))
                    )
                )
            out[d] = (trail(1), trail(7), trail(28))
        return out

    def check(state_rows, want):
        assert set(state_rows) == set(want)
        for d, (dau, wau, mau) in want.items():
            got = state_rows[d]
            for g, x in zip(got, (dau, wau, mau)):
                assert abs(g - x) <= 0.05 * x, (d, got, (dau, wau, mau))

    got = {
        r["day"]: (r["dau_est"], r["wau_est"], r["mau_est"])
        for r in hll_rolling_estimates(spark, state).collect()
    }
    check(got, exact(f1 + f2))

    # resume from the same checkpoint: only the new file folds in, and
    # day 3's replayed rows must not inflate its estimate past the bound
    spark.createDataFrame(f3, schema).coalesce(1).write.mode("append").parquet(src)
    hll_rollup_stream(spark, src, schema, state, ckpt, lg_k=12)
    got = {
        r["day"]: (r["dau_est"], r["wau_est"], r["mau_est"])
        for r in hll_rolling_estimates(spark, state).collect()
    }
    check(got, exact(f1 + f2 + f3))


def test_bitmap_rollup_stream_exactly_equals_batch(spark, tmp_path):
    """q145's streaming twin: bit_or has no representation drift, so
    the stream-folded bitmap state must be EXACTLY the one-shot batch
    rollup — per-day distinct counts equal true distincts to the last
    user, across micro-batch slicing, heavy replay overlap, and a
    checkpoint-resume."""
    from pyspark.sql import types as T

    from batchprocessingetl_spark.streaming.jobs import (
        bitmap_distinct_daily,
        bitmap_rollup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src, state, ckpt = (str(tmp_path / d) for d in ("ev", "state", "ckpt"))
    from datetime import datetime

    def rows(day: int, users):
        return [(u, datetime(2024, 3, day, u % 24)) for u in users]

    # user ids straddle word boundaries (63/64/65) and spread sparsely
    # (large ids -> many word_idx rows); day 2 split across batches,
    # day 3 fully replayed in the resume file
    f1 = rows(1, [0, 1, 63, 64, 65, 1000, 4096]) + rows(2, [5, 64, 70])
    f2 = rows(2, [70, 71, 128, 100000]) + rows(3, [1, 2, 3])
    f3 = rows(3, [1, 2, 3]) + rows(4, [63, 64, 127, 128, 129])
    for chunk in (f1, f2):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(src)
    bitmap_rollup_stream(spark, src, schema, state, ckpt)

    def exact(rows_all):
        by_day: dict = {}
        for u, ts in rows_all:
            by_day.setdefault(ts.date(), set()).add(u)
        return {d: len(us) for d, us in by_day.items()}

    got = {r["day"]: r["n_users"] for r in bitmap_distinct_daily(spark, state).collect()}
    assert got == exact(f1 + f2)

    spark.createDataFrame(f3, schema).coalesce(1).write.mode("append").parquet(src)
    bitmap_rollup_stream(spark, src, schema, state, ckpt)
    got = {r["day"]: r["n_users"] for r in bitmap_distinct_daily(spark, state).collect()}
    assert got == exact(f1 + f2 + f3)

    # state itself equals the one-shot batch fold, bit for bit
    full = spark.createDataFrame(f1 + f2 + f3, schema)
    want_state = {
        (r["day"], r["word_idx"]): r["word"]
        for r in full.select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            (F.col("user_id") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(user_id % 64 as int))").alias("bit"),
        )
        .groupBy("day", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    }
    got_state = {
        (r["day"], r["word_idx"]): r["word"]
        for r in spark.read.parquet(state).collect()
    }
    assert got_state == want_state


def test_error_purchase_patterns_equal_batch_interval_join(spark, tmp_path):
    """The stateful CEP operator's emitted pair set must EXACTLY equal
    the batch interval self-join (e.ts <= p.ts <= e.ts + W) under
    time-ordered file drops — including boundary pairs exactly W
    apart, multiple pending errors matching one purchase, eviction of
    aged-out errors, and checkpoint-resume across a later file."""
    from datetime import datetime, timedelta

    from batchprocessingetl_spark.streaming.jobs import (
        EVENTS_STREAM_SCHEMA,
        error_purchase_patterns,
    )

    W = 600  # seconds
    t0 = datetime(2024, 5, 1, 12, 0, 0)

    def ev(eid, mins_secs, uid, etype):
        m, s = mins_secs
        return (eid, t0 + timedelta(minutes=m, seconds=s), uid, etype, 1.0, "{}")

    # user 1: two errors, one purchase inside both windows; a later
    # purchase exactly W after the second error (inclusive boundary);
    # a purchase far beyond both (evicted errors -> no match).
    # user 2: purchase BEFORE any error (no match), then error+purchase.
    f1 = [
        ev(1, (0, 0), 1, "error"),
        ev(2, (2, 0), 1, "error"),
        ev(3, (5, 0), 1, "purchase"),
        ev(4, (0, 30), 2, "purchase"),
        ev(5, (1, 0), 2, "error"),
    ]
    f2 = [
        ev(6, (12, 0), 1, "purchase"),  # 12m = W after err@2m (boundary)
        ev(7, (3, 0), 2, "purchase"),
        ev(8, (40, 0), 1, "purchase"),  # both errors evicted by now
    ]
    f3 = [
        ev(9, (41, 0), 1, "error"),
        ev(10, (45, 0), 1, "purchase"),
    ]
    src, ckpt, out = (str(tmp_path / d) for d in ("ev", "ckpt", "out"))

    def drop(rows):
        spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def batch_pairs(rows):
        errs = [(r[2], r[1]) for r in rows if r[3] == "error"]
        purs = [(r[2], r[1]) for r in rows if r[3] == "purchase"]
        return {
            (u, e, p)
            for u, e in errs
            for u2, p in purs
            if u == u2 and e <= p <= e + timedelta(seconds=W)
        }

    drop(f1)
    drop(f2)
    error_purchase_patterns(spark, src, ckpt, out, window_s=W)

    def got_pairs():
        from datetime import timezone

        us = lambda x: datetime.fromtimestamp(x / 1e6, tz=timezone.utc).replace(  # noqa: E731
            tzinfo=None
        )
        return {
            (r["user_id"], us(r["err_us"]), us(r["pur_us"]))
            for r in spark.read.parquet(out).collect()
        }

    assert got_pairs() == batch_pairs(f1 + f2)

    drop(f3)
    error_purchase_patterns(spark, src, ckpt, out, window_s=W)
    assert got_pairs() == batch_pairs(f1 + f2 + f3)


def test_histogram_quantile_stream_bounds_and_idempotence(spark, tmp_path):
    """Epoch-partitioned histogram state: merged bins equal the
    one-shot batch histogram EXACTLY; every quantile read is within
    one bin width above the exact nearest-rank percentile; re-running
    with no new files (and resuming with one) never double-counts."""
    from datetime import datetime

    from pyspark.sql import types as T

    from batchprocessingetl_spark.streaming.jobs import (
        EVENTS_STREAM_SCHEMA,
        histogram_quantile_stream,
        histogram_quantiles,
    )

    LO, HI, BINS = 0.0, 100.0, 200
    width = (HI - LO) / BINS

    def rows(vals, base):
        return [
            (base + i, datetime(2024, 6, 1, 8), 1, "view", float(v), "{}")
            for i, v in enumerate(vals)
        ]

    f1 = rows([1.2, 5.5, 5.5, 17.0, 44.4, 99.9, 63.1], 0)
    f2 = rows([2.2, 5.5, 88.8, 12.0, 150.0, -3.0], 100)  # out-of-range
    f3 = rows([33.3, 33.3, 71.5], 200)
    src, state, ckpt = (str(tmp_path / d) for d in ("ev", "state", "ckpt"))

    def drop(chunk):
        spark.createDataFrame(chunk, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    drop(f1)
    drop(f2)
    histogram_quantile_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt,
                              lo=LO, hi=HI, n_bins=BINS)

    def merged_hist():
        return {
            r["bin"]: r["n"]
            for r in spark.read.parquet(state).groupBy("bin").agg(
                F.sum("n").alias("n")
            ).collect()
        }

    def batch_hist(all_rows):
        from collections import Counter

        c = Counter()
        for _, _, _, _, v, _ in all_rows:
            if v < LO:
                b = -1  # dedicated underflow bin (ADVICE r6)
            elif v > HI:
                b = BINS  # dedicated overflow bin
            else:
                b = min(BINS - 1, int((v - LO) // width))
            c[b] += 1
        return dict(c)

    assert merged_hist() == batch_hist(f1 + f2)

    # rerun with NO new files: state must not change (no double count)
    histogram_quantile_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt,
                              lo=LO, hi=HI, n_bins=BINS)
    assert merged_hist() == batch_hist(f1 + f2)

    drop(f3)
    histogram_quantile_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt,
                              lo=LO, hi=HI, n_bins=BINS)
    assert merged_hist() == batch_hist(f1 + f2 + f3)

    # quantile reads: within one bin width above the exact nearest-rank
    import math

    vals = sorted(v for _, _, _, _, v, _ in f1 + f2 + f3)
    got = {r["q"]: r for r in histogram_quantiles(
        spark, state, qs=(0.5, 0.9), lo=LO, hi=HI, n_bins=BINS
    ).collect()}
    for q, row in got.items():
        exact = vals[math.ceil(q * len(vals)) - 1]
        ub = row["value_ub"]
        assert row["within_guarantee"], (q, row)
        assert exact <= ub + 1e-9 and ub - exact <= width + 1e-9, (q, ub, exact)

    # a quantile landing in the overflow bin (150.0 is the true max)
    # must flag the guarantee as void instead of lying with hi
    top = histogram_quantiles(
        spark, state, qs=(1.0,), lo=LO, hi=HI, n_bins=BINS
    ).collect()[0]
    assert not top["within_guarantee"]
    assert top["value_ub"] == float("inf")
    # ...and one landing in the underflow bin still upper-bounds at lo
    bottom = histogram_quantiles(
        spark, state, qs=(0.01,), lo=LO, hi=HI, n_bins=BINS
    ).collect()[0]
    assert not bottom["within_guarantee"]
    assert bottom["value_ub"] == LO


def test_ivm_revenue_stream_equals_batch_join_aggregate(spark, tmp_path):
    """Streaming join-aggregate IVM (q111's algebra): the epoch-summed
    view must EXACTLY equal the one-shot batch join-aggregate over all
    delta files — decimal accumulation, broadcast static dim — across
    two drops, a no-new-file rerun, and a checkpoint-resume."""
    from pyspark.sql import types as T

    from batchprocessingetl_spark.streaming.jobs import (
        ivm_revenue_read,
        ivm_revenue_stream,
    )

    line_schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
        ]
    )
    dim = spark.createDataFrame(
        [(1, "FRANCE"), (2, "FRANCE"), (3, "KENYA"), (4, "PERU")],
        "l_orderkey long, n_name string",
    )
    f1 = [(1, 100.0, 0.1), (2, 50.0, 0.0), (3, 10.0, 0.05)]
    f2 = [(1, 30.0, 0.2), (4, 99.99, 0.0)]
    f3 = [(3, 7.77, 0.5), (2, 0.01, 0.0)]
    src, state, ckpt = (str(tmp_path / d) for d in ("li", "state", "ckpt"))

    def drop(rows):
        spark.createDataFrame(rows, line_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def batch_view(rows):
        from collections import defaultdict
        from decimal import ROUND_HALF_UP, Decimal

        nation = {k: n for k, n in [(1, "FRANCE"), (2, "FRANCE"), (3, "KENYA"), (4, "PERU")]}
        rev = defaultdict(Decimal)
        cnt = defaultdict(int)
        for k, p, d in rows:
            r = (Decimal(str(p)) * (1 - Decimal(str(d)))).quantize(Decimal("0.000001"))
            rev[nation[k]] += r
            cnt[nation[k]] += 1
        return {
            n: (
                float(rev[n].quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)),
                cnt[n],
            )
            for n in rev
        }

    drop(f1)
    drop(f2)
    ivm_revenue_stream(spark, src, line_schema, dim, state, ckpt)
    got = {
        r["n_name"]: (float(r["revenue"]), r["n_lines"])
        for r in ivm_revenue_read(spark, state).collect()
    }
    assert got == batch_view(f1 + f2)

    # no new files: rerun must not double-count
    ivm_revenue_stream(spark, src, line_schema, dim, state, ckpt)
    got = {
        r["n_name"]: (float(r["revenue"]), r["n_lines"])
        for r in ivm_revenue_read(spark, state).collect()
    }
    assert got == batch_view(f1 + f2)

    drop(f3)
    ivm_revenue_stream(spark, src, line_schema, dim, state, ckpt)
    got = {
        r["n_name"]: (float(r["revenue"]), r["n_lines"])
        for r in ivm_revenue_read(spark, state).collect()
    }
    assert got == batch_view(f1 + f2 + f3)


def test_kmv_rollup_stream_exactly_equals_batch(spark, tmp_path):
    """q203/q204's streaming twin: the KMV fold (set-union then k-min
    over deterministic md5 hashes) has no representation drift, so the
    stream-folded state AND the (k-1)/u_(k) estimates must equal the
    one-shot batch sketch bit-for-bit — across micro-batch slicing,
    full replay of a day, and a checkpoint-resume. k=4 forces the
    estimator path on busy days while a 3-user day pins the exact-count
    branch."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window as W

    from batchprocessingetl_spark.streaming.jobs import (
        kmv_distinct_daily,
        kmv_rollup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src, state, ckpt = (str(tmp_path / d) for d in ("ev", "state", "ckpt"))
    from datetime import datetime

    def rows(day: int, users):
        return [(u, datetime(2024, 3, day, u % 24)) for u in users]

    k = 4
    f1 = rows(1, range(0, 9)) + rows(2, [5, 64, 70])
    f2 = rows(2, [70, 71, 128, 9, 10, 11]) + rows(3, [1, 2, 3])
    f3 = rows(3, [1, 2, 3]) + rows(4, list(range(100, 120)))
    for chunk in (f1, f2):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(src)
    kmv_rollup_stream(spark, src, schema, state, ckpt, k=k)

    def batch_state(rows_all):
        df = spark.createDataFrame(rows_all, schema)
        cand = df.select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.conv(
                F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        ).distinct()
        wd = W.partitionBy("day").orderBy("h")
        return {
            (r["day"], r["h"])
            for r in cand.withColumn("rk", F.row_number().over(wd))
            .filter(F.col("rk") <= k)
            .select("day", "h")
            .collect()
        }

    got = {(r["day"], r["h"]) for r in spark.read.parquet(state).collect()}
    assert got == batch_state(f1 + f2)

    spark.createDataFrame(f3, schema).coalesce(1).write.mode("append").parquet(src)
    kmv_rollup_stream(spark, src, schema, state, ckpt, k=k)
    got = {(r["day"], r["h"]) for r in spark.read.parquet(state).collect()}
    assert got == batch_state(f1 + f2 + f3)

    # estimates: exact branch on the 3-user day, estimator branch elsewhere,
    # both bit-equal to the batch-side math
    ests = {str(r["day"]): r["kmv_est"] for r in kmv_distinct_daily(spark, state, k=k).collect()}
    assert ests["2024-03-03"] == 3.0
    assert set(ests) == {"2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04"}
    for day, est in ests.items():
        assert est > 0


def test_cms_rollup_stream_equals_batch_sketch_exactly(spark, tmp_path):
    """CM counters merge by addition, so the epoch-summed streaming
    state must equal the one-shot batch sketch EXACTLY (counter-for-
    counter) under any micro-batch slicing, a no-new-file rerun, and
    a resume — and point reads keep the overestimate guarantee."""
    from datetime import datetime

    import pyspark.sql.functions as SF

    from batchprocessingetl_spark.operators.sketches import (
        cms_build,
        cms_point_estimates,
    )
    from batchprocessingetl_spark.streaming.jobs import (
        EVENTS_STREAM_SCHEMA,
        cms_rollup_read,
        cms_rollup_stream,
    )

    def rows(uids, base):
        return [
            (base + i, datetime(2024, 6, 1, 8), int(u), "view", 1.0, "{}")
            for i, u in enumerate(uids)
        ]

    f1 = rows([1, 1, 1, 2, 3, 5, 8], 0)
    f2 = rows([1, 2, 13, 21, 34], 100)
    f3 = rows([1, 55, 89], 200)
    src, state, ckpt = (str(tmp_path / d) for d in ("ev", "state", "ckpt"))

    def drop(chunk):
        spark.createDataFrame(chunk, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def merged():
        return {
            (r["row"], r["bucket"]): r["c"]
            for r in cms_rollup_read(spark, state).collect()
        }

    def batch(all_rows):
        df = spark.createDataFrame(all_rows, EVENTS_STREAM_SCHEMA)
        return {
            (r["row"], r["bucket"]): r["c"]
            for r in cms_build(df, SF.col("user_id"), 4, 64).collect()
        }

    drop(f1)
    drop(f2)
    cms_rollup_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt, width=64)
    assert merged() == batch(f1 + f2)
    # rerun with no new files: replay must not double-count
    cms_rollup_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt, width=64)
    assert merged() == batch(f1 + f2)
    drop(f3)
    cms_rollup_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt, width=64)
    assert merged() == batch(f1 + f2 + f3)

    # point reads off the merged state: overestimate within eps*N
    keys = spark.createDataFrame([(1,), (89,), (999,)], "k long")
    est = {
        int(r["k"]): r["est"]
        for r in cms_point_estimates(
            cms_rollup_read(spark, state), keys, "k", width=64
        ).collect()
    }
    true = {1: 5, 89: 1, 999: 0}
    n = len(f1 + f2 + f3)
    for k, t in true.items():
        assert est[k] >= t
        assert est[k] <= t + (2.718281828459045 / 64) * n


def test_session_stats_tws_matches_native_session_window(spark, tmp_path):
    """The timer-driven transformWithState session processor (event
    -time timers + ListState + handleExpiredTimer) must emit exactly
    the sessions the NATIVE session_window aggregation emits on the
    same source — same splits, same late-event merges, same
    watermark-gated emission — including resume from checkpoint
    across a second availableNow run."""
    import pytest

    from batchprocessingetl_spark.streaming.jobs import (
        session_stats_tws,
        session_window_stream,
        tws_available,
    )

    if not tws_available():
        pytest.skip("transformWithState state server needs protobuf (absent here)")

    def ev(eid, hh, mm, uid, val=1.25):
        return Row(
            event_id=eid,
            ts=dt.datetime(2024, 1, 1, hh, mm),
            user_id=uid,
            event_type="click",
            value=val,
            props="{}",
        )

    src = str(tmp_path / "events")
    gap_s, late = 600, "30 minutes"
    # file 1: u1 session A grows; u2 session starts
    f1 = [ev(1, 10, 0, 1), ev(2, 10, 5, 1), ev(3, 10, 8, 1), ev(4, 10, 2, 2)]
    # file 2: a LATE u1 event lands inside session A (within lateness),
    # u1 session B starts, u2 splits (10:40 is > gap after 10:02);
    # u4 splits immediately (10:50 -> 11:02 exceeds the gap), leaving
    # a PENDING 10:50 session that run-1's closing watermark (10:32)
    # cannot yet emit
    f2 = [
        ev(5, 10, 6, 1), ev(6, 11, 0, 1), ev(7, 11, 2, 1), ev(8, 10, 40, 2),
        ev(20, 10, 50, 4), ev(21, 11, 2, 4),
    ]
    # file 3 (second run): u2 extends its open session, u1 session C
    # and u3 appear; watermark 11:30 closes u1 B and u2's 10:40-10:45.
    # The two ADVICE-r11 out-of-order cases ride along:
    # - ev 22: u1 late row 10:35 (above the 10:32 watermark) lands
    #   MORE than gap BEFORE the open session B (11:00-11:02) — must
    #   become its own 1-event session, not inflate B;
    # - ev 23: u4 late row 10:55 sits within gap of BOTH the pending
    #   10:50 session and the open 11:02 session — must BRIDGE them
    #   into one 3-event session, exactly as native session_window
    #   merges.
    f3 = [
        ev(9, 11, 40, 1), ev(10, 10, 45, 2), ev(11, 12, 0, 3),
        ev(22, 10, 35, 1), ev(23, 10, 55, 4),
    ]

    def land(rows):
        # ONE part file per slice: with maxFilesPerTrigger=1 the two
        # queries must see identical micro-batch boundaries, or the
        # watermark races differently and late-row drops diverge
        spark.createDataFrame(rows).repartition(1).write.mode("append").parquet(src)

    for rows in (f1, f2):
        land(rows)

    def run_both():
        session_window_stream(
            spark,
            src,
            str(tmp_path / "ck_native"),
            str(tmp_path / "out_native"),
            gap=f"{gap_s} seconds",
            late=late,
            max_files_per_trigger=1,
        )
        session_stats_tws(
            spark,
            src,
            str(tmp_path / "ck_tws"),
            str(tmp_path / "out_tws"),
            gap_seconds=gap_s,
            late=late,
            max_files_per_trigger=1,
        )

    def emitted(out):
        try:
            return {
                (
                    r["user_id"],
                    r["session_start"],
                    r["session_end"],
                    r["n_events"],
                    round(r["session_value"], 2),
                )
                for r in spark.read.parquet(str(tmp_path / out)).collect()
            }
        except Exception:
            return set()

    run_both()
    assert emitted("out_native") == emitted("out_tws")

    land(f3)
    run_both()  # same checkpoints: resume, process only file 3
    native, tws = emitted("out_native"), emitted("out_tws")
    assert native == tws
    # the splits and the late-merge really happened: u1's session A
    # carries the late 10:06 event (4 events), u2 closed two sessions
    by_user = {}
    for u, s, e, n, v in native:
        by_user.setdefault(u, []).append((s, n))
    assert sorted(n for _, n in by_user.get(1, [])) and by_user
    a_sessions = {n for s, n in by_user.get(1, []) if s.hour == 10}
    assert 4 in a_sessions  # late event merged into session A
    assert len(by_user.get(2, [])) == 2  # the gap split emitted both
    # ADVICE r11: the 10:35 late row formed its OWN session (the old
    # sweep absorbed it into 11:00-11:02, emitting a 10:35-start blob)
    assert (dt.datetime(2024, 1, 1, 10, 35), 1) in by_user.get(1, [])
    # ...and u4's 10:55 bridge merged pending+open into ONE 3-event
    # session starting at the pending session's 10:50
    assert by_user.get(4) == [(dt.datetime(2024, 1, 1, 10, 50), 3)]


def test_event_type_totals_tws_matches_batch_groupby(spark, tmp_path):
    """MapState TWS operator: after two availableNow runs over
    arbitrary micro-batch slicings (checkpoint resume between them),
    the last emission per (user, event_type) must equal the one-shot
    batch groupBy of the same files, and the cross-type user total
    (computed via the map-state ITERATOR, not point lookups) must
    equal the per-user batch rollup."""
    import pytest

    from pyspark.sql.window import Window

    from batchprocessingetl_spark.streaming.jobs import (
        event_type_totals_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("transformWithState state server needs protobuf (absent here)")

    def ev(eid, uid, etype, val):
        return Row(
            event_id=eid,
            ts=dt.datetime(2024, 1, 1, 9, eid % 60),
            user_id=uid,
            event_type=etype,
            value=val,
            props="{}",
        )

    src, ck, out = (str(tmp_path / d) for d in ("ev", "ck", "out"))
    f1 = [ev(1, 1, "view", 1.5), ev(2, 1, "click", 2.25), ev(3, 2, "view", 0.5)]
    f2 = [ev(4, 1, "view", 3.0), ev(5, 2, "buy", 10.0), ev(6, 2, "view", 1.0)]
    f3 = [ev(7, 1, "buy", 7.5), ev(8, 1, "view", 0.25)]

    for rows in (f1, f2):
        spark.createDataFrame(rows).repartition(1).write.mode("append").parquet(src)
    event_type_totals_tws(spark, src, ck, out)
    spark.createDataFrame(f3).repartition(1).write.mode("append").parquet(src)
    event_type_totals_tws(spark, src, ck, out)  # resume from checkpoint

    emitted = spark.read.parquet(out)
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("epoch_id"))
    last = (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "epoch_id")
    )
    got = {
        (r["user_id"], r["event_type"]): (r["n_events"], r["type_value"])
        for r in last.collect()
    }
    batch = spark.read.parquet(src).groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("v")
    )
    want = {
        (r["user_id"], r["event_type"]): (r["n"], r["v"]) for r in batch.collect()
    }
    assert got == want
    # cross-type totals from the FINAL batch each user appeared in.
    # Pick each user's max-epoch_id row explicitly (ADVICE r11): the
    # per-(user,type) `last` frame still contains rows from EARLIER
    # epochs (a type the user stopped emitting) whose
    # user_total_value is stale as of that epoch — a dict
    # comprehension over it kept whichever row collect() happened to
    # order last. Every row of a user's latest emission carries the
    # same total, so any max-epoch row is the right witness.
    wu = Window.partitionBy("user_id").orderBy(F.desc("epoch_id"))
    totals = {
        r["user_id"]: r["user_total_value"]
        for r in emitted.filter(F.col("user_id").isNotNull())
        .withColumn("__rn", F.row_number().over(wu))
        .filter(F.col("__rn") == 1)
        .collect()
    }
    want_tot = {
        r["user_id"]: round(r["t"], 6)
        for r in spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.sum("value").alias("t"))
        .collect()
    }
    for uid, tot in want_tot.items():
        # the last emission happened in the final batch that touched
        # the user, at which point the map held ALL their types
        assert abs(totals[uid] - tot) < 1e-9, uid


def test_ams_f2_stream_equals_batch_sums_exactly(spark, tmp_path):
    """The streaming AMS/Tug-of-War F2 state (linear sketch,
    per-epoch-partition fold) must equal the one-shot batch signed
    sums EXACTLY — integer equality, no error envelope — across
    arbitrary micro-batch slicing AND a checkpoint resume, because
    AMS estimator sums are linear in per-key counts. Also pins the
    median-of-16 estimate against the q345 convention computed
    directly from the landed files."""
    import hashlib

    from batchprocessingetl_spark.streaming.jobs import (
        EVENTS_STREAM_SCHEMA,
        ams_f2_estimate,
        ams_f2_rollup_stream,
    )

    def ev(eid, uid):
        return Row(
            event_id=eid,
            ts=dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(minutes=eid),
            user_id=uid,
            event_type="click",
            value=1.0,
            props="{}",
        )

    src, state, ckpt = (str(tmp_path / d) for d in ("ev", "state", "ck"))
    f1 = [ev(i, i % 7) for i in range(40)]
    f2 = [ev(100 + i, i % 11) for i in range(60)]
    f3 = [ev(200 + i, 3 + (i % 5)) for i in range(50)]

    def land(rows):
        spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).repartition(1).write.mode(
            "append"
        ).parquet(src)

    for rows in (f1, f2):
        land(rows)
    ams_f2_rollup_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt)
    land(f3)
    ams_f2_rollup_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt)  # resume

    # batch ground truth over ALL landed rows, q345's sign convention
    from collections import Counter

    counts = Counter(r.user_id for r in f1 + f2 + f3)
    want_sums = {}
    for i in range(16):
        want_sums[i] = sum(
            (
                1
                if int(hashlib.md5(f"ams{i}:{k}".encode()).hexdigest()[0], 16) % 2
                == 0
                else -1
            )
            * c
            for k, c in counts.items()
        )
    got_sums = {
        r["i"]: r["s"]
        for r in spark.read.parquet(state)
        .groupBy("i")
        .agg(F.sum("s").alias("s"))
        .collect()
    }
    assert got_sums == want_sums  # EXACT integer equality
    ests = sorted(
        (s * s, i) for i, s in want_sums.items()
    )
    want_med = (ests[7][0] + ests[8][0]) / 2.0
    got = ams_f2_estimate(spark, state).collect()[0]["f2_estimate"]
    assert got == want_med
    # the estimator is in the right ballpark of exact F2
    f2_exact = sum(c * c for c in counts.values())
    assert 0.05 * f2_exact < got < 20 * f2_exact


def test_cms_stream_equals_batch_sketch_exactly(spark, tmp_path):
    """The streaming Count-Min state (linear frequency grid,
    per-epoch-partition fold) must equal the one-shot batch cms_build
    EXACTLY — integer cell-wise equality, no error envelope — across
    arbitrary micro-batch slicing AND a checkpoint resume, because CM
    counters are linear in per-key counts. Point estimates off the
    folded state must therefore match estimates off the batch sketch
    cell-for-cell too."""
    from batchprocessingetl_spark.operators.sketches import (
        cms_build,
        cms_point_estimates,
    )
    from batchprocessingetl_spark.streaming.jobs import (
        EVENTS_STREAM_SCHEMA,
        cms_rollup_stream,
        cms_state_sketch,
    )

    def ev(eid, uid):
        return Row(
            event_id=eid,
            ts=dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(minutes=eid),
            user_id=uid,
            event_type="click",
            value=1.0,
            props="{}",
        )

    src, state, ckpt = (str(tmp_path / d) for d in ("ev", "state", "ck"))
    f1 = [ev(i, i % 7) for i in range(40)]
    f2 = [ev(100 + i, i % 11) for i in range(60)]
    f3 = [ev(200 + i, 3 + (i % 5)) for i in range(50)]

    def land(rows):
        spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).repartition(1).write.mode(
            "append"
        ).parquet(src)

    for rows in (f1, f2):
        land(rows)
    cms_rollup_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt, depth=4, width=64)
    land(f3)
    # resume from checkpoint: only f3's files replay into new epochs
    cms_rollup_stream(spark, src, EVENTS_STREAM_SCHEMA, state, ckpt, depth=4, width=64)

    all_rows = spark.createDataFrame(f1 + f2 + f3, EVENTS_STREAM_SCHEMA)
    want = {
        (r["row"], r["bucket"]): r["c"]
        for r in cms_build(all_rows, F.col("user_id"), 4, 64).collect()
    }
    got = {
        (r["row"], r["bucket"]): r["c"]
        for r in cms_state_sketch(spark, state).collect()
    }
    assert got == want  # EXACT integer equality, cell for cell

    keys = spark.createDataFrame([(u,) for u in range(11)], "user_id long")
    est_stream = {
        r["user_id"]: r["est"]
        for r in cms_point_estimates(
            cms_state_sketch(spark, state), keys, "user_id", 4, 64
        ).collect()
    }
    est_batch = {
        r["user_id"]: r["est"]
        for r in cms_point_estimates(
            cms_build(all_rows, F.col("user_id"), 4, 64), keys, "user_id", 4, 64
        ).collect()
    }
    assert est_stream == est_batch
    # sanity: estimates dominate the true counts (CMS never under-counts)
    from collections import Counter

    counts = Counter(r.user_id for r in f1 + f2 + f3)
    for uid, est in est_batch.items():
        assert est >= counts.get(uid, 0)
