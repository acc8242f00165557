"""Event-stream batch analytics over the ``events`` table.

The reference's raw layer is a hand-rolled micro-batch stream
(``/root/reference/src/raw/raw_layer.py:142-153``); these queries are
the batch expressions of the streaming concerns (tumbling windows,
sessionization) — the Structured Streaming variants live in
``batchprocessingetl_spark/streaming/``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.sources.readers import local_frame
from batchprocessingetl_spark.workload.parity import davg, davg_sql, dsum, dsum_sql

SESSION_GAP_MINUTES = 30


def q20_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event type: F.window() groups rows into
    aligned hour buckets — window.start equals date_trunc('hour', ts).
    One shuffle on (window, event_type); partial aggregation map-side."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value", "n_users")
        .orderBy("window_start", "event_type")
    )


def q21_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: per-user lag(ts), mark gaps
    > 30 min as session starts, running sum -> session id, then per-user
    session stats. Two window passes over one hash-partition by user_id
    (a single shuffle; the second window reuses the partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap computed on integer epoch-microseconds: exact, engine-independent
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    sessions = (
        ev.withColumn("prev_ts", F.lag("ts").over(by_user))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull() | (gap_us > SESSION_GAP_MINUTES * 60_000_000),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_seq", F.sum("new_session").over(by_user))
    )
    # both roundings (session duration, then the per-user average) are
    # half-up on integer deciseconds: a double quotient would leave
    # x.x5 ties to each engine's own tie-breaking
    span_us = F.max(F.unix_micros(F.col("ts"))) - F.min(F.unix_micros(F.col("ts")))
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"), span_us.alias("span_us"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum(F.expr("(span_us + 50000) div 100000")).alias("sum_ds"),
        )
        .select(
            "user_id",
            "n_sessions",
            "max_session_events",
            (F.expr("(2 * sum_ds + n_sessions) div (2 * n_sessions)") / 10.0).alias("avg_session_sec"),
        )
        .orderBy("user_id")
    )


def q22_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily pivot-shaped rollup via conditional aggregation (stays in
    one hash aggregate rather than a pivot's two passes)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        ev.groupBy(day)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
            dsum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0))).alias(
                "purchase_value"
            ),
        )
        .orderBy("day")
    )


def q23_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the string ``props`` column
    (get_json_object -> int), aggregated. The reference reads JSON with
    an explicit schema (raw_layer.py:87); this is the in-row variant."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


def q24_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN: attribute each purchase to the user's most recent
    prior-or-simultaneous click (operators/asof.py — union+window plan,
    one shuffle on user_id). Oracle uses DuckDB's native ASOF JOIN."""
    from batchprocessingetl_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join_backward(purchases, clicks, ["user_id"], "ts", "ts", ["click_id"])
    gap = (F.unix_micros("ts") - F.unix_micros("matched_ts")) / 1_000_000.0
    return joined.select(
        "event_id",
        "user_id",
        "click_id",
        F.round(gap, 1).alias("gap_sec"),
    ).orderBy("event_id")


def q25_value_band_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join against a small bands dimension (broadcast nested
    loop — zero shuffle), then grouped counts."""
    from batchprocessingetl_spark.operators.asof import range_join_broadcast

    ev = load_table(spark, sf_dir, "events")
    bands = local_frame(
        spark,
        [("p0_25", 0.0, 25.0), ("p25_50", 25.0, 50.0), ("p50_75", 50.0, 75.0), ("p75_up", 75.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        range_join_broadcast(ev, bands, "value")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("band")
    )


def q29_sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h size, 30 min slide): every event lands in
    size/slide = 2 overlapping windows. F.window() expands the row to
    its windows before the aggregate — one shuffle on (window,
    event_type), same cost shape as the tumbling q20 at 2x row volume.
    Oracle: explicit 2-offset window-start enumeration (epoch-anchored,
    matching Spark's epoch-aligned window origin)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


def q28_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (gap-merged sessions) in batch mode — same
    operator the streaming job uses. Oracle: gaps-and-islands CTE
    (session_end = last event + gap)."""
    from batchprocessingetl_spark.streaming.jobs import session_window_stats

    ev = load_table(spark, sf_dir, "events")
    return session_window_stats(ev, gap="30 minutes").orderBy("user_id", "session_start")


def q72_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup hierarchy (operators/rollup.py): hourly
    aggregates from raw, daily from hourly, monthly from daily — raw is
    scanned ONCE for all three grains (associative (sum,count) carry;
    avg derived at the end). The oracle recomputes every grain directly
    from raw, pinning that hierarchical re-aggregation is exact."""
    from batchprocessingetl_spark.operators.rollup import rollup_hierarchy

    ev = load_table(spark, sf_dir, "events")
    return rollup_hierarchy(
        ev, "ts", "value", grains=("hour", "day", "month")
    ).orderBy("grain", "bucket_ts")


INTERVAL_SPAN_HOURS = 12
INTERVAL_BUCKET_US = 3_600 * 1_000_000  # 1 hour


def q75_interval_join_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase concurrency per user-day active span: for each user's
    daily [first event, last event] interval spanning >= 12h, count the
    purchases ANY user made inside it — a pure range-containment join
    with no shared equi-key, the case Spark would otherwise plan as a
    broadcast nested loop (or worse). Runs through
    operators/rangejoin.py:interval_join_bucketed: intervals explode to
    the 1-hour buckets they overlap, purchases map to their single
    bucket, equi-join on bucket + exact inclusive containment — both
    sides shuffle-partitioned, big-big safe."""
    from batchprocessingetl_spark.operators.rangejoin import interval_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    spans = (
        ev.groupBy(F.col("user_id").alias("span_user"), F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("lo_us"),
            F.max(F.unix_micros(F.col("ts"))).alias("hi_us"),
        )
        .filter(
            F.col("hi_us") - F.col("lo_us") >= INTERVAL_SPAN_HOURS * 3_600 * 1_000_000
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.unix_micros(F.col("ts")).alias("p_us"), "value"
    )
    j = interval_join_bucketed(purchases, spans, "p_us", "lo_us", "hi_us", INTERVAL_BUCKET_US)
    return (
        j.groupBy("span_user", "day")
        .agg(
            F.count(F.lit(1)).alias("n_concurrent_purchases"),
            dsum(F.col("value")).alias("concurrent_value"),
        )
        .orderBy("span_user", "day")
    )


def q91_rollup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate refresh
    (operators/rollup.py::merge_rollup_increment): history's hourly
    rollup folded with a new event batch (event_id % 4 == 0) WITHOUT
    rescanning history; the oracle recomputes the rollup from ALL
    events directly — associativity makes incremental ≡ full."""
    from batchprocessingetl_spark.operators.rollup import merge_rollup_increment

    ev = load_table(spark, sf_dir, "events")
    hist = ev.filter(F.col("event_id") % 4 != 0)
    batch = ev.filter(F.col("event_id") % 4 == 0)
    existing = hist.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("__total"),
    )
    merged = merge_rollup_increment(existing, batch, "ts", "value", grain="hour")
    return merged.select(
        "bucket_ts",
        "n_events",
        F.round(F.col("__total"), 2).cast("double").alias("total_value"),
    ).orderBy("bucket_ts")


GAPFILL_VALUE_MIN = 195.0


def q88_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly series of rare high-value events (~23% of hours
    populated) completed on a regular grid
    (operators/rollup.py::gapfill_locf): counts fill with 0, the
    running total carries forward (LOCF), synthesized rows flagged —
    the TimescaleDB gapfill+locf analogue. The oracle rebuilds the
    spine with generate_series and an IGNORE NULLS window."""
    from batchprocessingetl_spark.operators.rollup import gapfill_locf

    ev = load_table(spark, sf_dir, "events")
    actual = (
        ev.filter(F.col("value") > GAPFILL_VALUE_MIN)
        .groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )
    return gapfill_locf(
        actual, "bucket_ts", ("n_events",), ("total_value",), step="1 hour"
    ).orderBy("bucket_ts")


def q155_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sparse hourly series as q88 completed by LINEAR
    interpolation instead of LOCF (operators/rollup.py::
    gapfill_interp) — the right fill for continuously-varying gauges,
    where a step function misrepresents the signal. Interpolation
    times are integer epoch-micros, so both engines blend identical
    IEEE doubles."""
    from batchprocessingetl_spark.operators.rollup import gapfill_interp

    ev = load_table(spark, sf_dir, "events")
    actual = (
        ev.filter(F.col("value") > GAPFILL_VALUE_MIN)
        .groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(dsum(F.col("value")).alias("total_value"))
    )
    out = gapfill_interp(actual, "bucket_ts", ("total_value",), step="1 hour")
    return out.select(
        "bucket_ts",
        F.round("total_value", 6).alias("total_value"),
        "is_filled",
    ).orderBy("bucket_ts")


def q157_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user — the largest peak-to-trough drop of
    the cumulative signed value series (the risk statistic behind
    account-health and balance monitoring). Like q154's clamp, the
    sequential-looking definition has a pure window form: drawdown_i =
    running-max(S) − S_i, and max-drawdown is its per-user max — two
    codegen'd windows plus one hash aggregate on a single user-keyed
    shuffle. Exact decimal accumulation end-to-end; one rounding at
    the output cell."""
    ev = load_table(spark, sf_dir, "events")
    acc = "decimal(28,6)"
    signed = (
        F.when(F.col("event_type").isin("purchase", "signup"), F.col("value"))
        .otherwise(-F.col("value"))
        .cast(acc)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = (
        ev.select("user_id", "event_id", "ts", signed.alias("__x"))
        .withColumn("__s", F.sum("__x").over(w))
        .withColumn("__dd", F.max("__s").over(w) - F.col("__s"))
    )
    return (
        staged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("__dd"), 2).cast("double").alias("max_drawdown"),
        )
        .orderBy("user_id")
    )


SKEW_SALT_BUCKETS = 16


def q81_skewed_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured-skew join hardening (VERDICT r2 #4): a zipfian-key
    variant of the events/user join where 20% of all events collapse
    onto ONE hot key (event_id % 5 == 0 -> user 0) — the bot-user /
    null-default pathology that makes a plain hash join put a fifth of
    the table on a single reducer. The join runs through
    operators/skew.py::salted_join (salt the big side, replicate the
    16-row-per-key small side), so the hot key spreads over 16
    partitions; tests/test_skew.py pins the salt in the join keys, the
    exchange count, and the per-bucket spread of the hot key. The
    oracle is the PLAIN join+rollup — salting must be invisible in the
    values."""
    from batchprocessingetl_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    skewed = ev.select(
        F.when(F.col("event_id") % 5 == 0, F.lit(0).cast("bigint"))
        .otherwise(F.col("user_id"))
        .alias("skew_user"),
        "value",
    )
    dim = (
        skewed.select("skew_user")
        .distinct()
        .withColumn("tier", F.pmod(F.col("skew_user"), F.lit(7)))
    )
    j = salted_join(skewed, dim, ["skew_user"], salt_buckets=SKEW_SALT_BUCKETS)
    return (
        j.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .orderBy("tier")
    )


def q94_skewed_user_rollup_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE bake-off twin of q81 (VERDICT r3 #7): the SAME 20%-hot
    zipf fixture joined PLAIN, forced to sort-merge (merge hint on the
    dim side) so Spark's built-in AQE skew-join splitting — not manual
    salting and not a broadcast — is the machinery in play. Benched
    next to q81; docs/SCALE.md's round-4 skew-join probe records the
    crossover and when AQE suffices (its skew split triggers
    on partition-byte thresholds tuned for production scale; below
    them the plain join simply eats the hot partition)."""
    ev = load_table(spark, sf_dir, "events")
    skewed = ev.select(
        F.when(F.col("event_id") % 5 == 0, F.lit(0).cast("bigint"))
        .otherwise(F.col("user_id"))
        .alias("skew_user"),
        "value",
    )
    dim = (
        skewed.select("skew_user")
        .distinct()
        .withColumn("tier", F.pmod(F.col("skew_user"), F.lit(7)))
    )
    j = skewed.join(dim.hint("merge"), "skew_user")
    return (
        j.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .orderBy("tier")
    )


def q99_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel analysis: users progressing view ->
    click -> purchase, each stage's event strictly AFTER the previous
    stage's earliest qualifying event — the product-analytics pattern a
    sequence of per-user conditional MINs expresses exactly. Output is
    one row per stage with the surviving user count and the mean hours
    from funnel entry.

    Plan shape: each stage is one filtered aggregate joined back on
    user_id, so all three stages share the user-key partitioning —
    three hash aggregates + two co-partitioned joins, no windows, no
    row explosion. Stage timing uses integer epoch-microseconds
    (engine-exact) divided once into hours; the cross-user mean
    accumulates in the decimal domain (parity.py)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t1").alias("t1"))
    )

    def hours(end: str) -> Column:
        return (F.unix_micros(F.col(end)) - F.unix_micros(F.col("t1"))) / F.lit(
            3_600_000_000.0
        )

    def stage(df: DataFrame, name: str, end: str | None) -> DataFrame:
        h = hours(end) if end else F.lit(0.0)
        return (
            df.select(h.alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                davg(F.col("h")).alias("avg_hours_from_entry"),
            )
            .select(F.lit(name).alias("stage"), "n_users", "avg_hours_from_entry")
        )

    return (
        stage(t1, "1_view", None)
        .unionByName(stage(t2, "2_click", "t2"))
        .unionByName(stage(t3, "3_purchase", "t3"))
        .orderBy("stage")
    )


EWMA_ALPHA = 0.5  # exact binary fraction: weight products stay bit-exact
EWMA_WINDOW = 12


def q98_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing of the hourly value series: weights
    alpha^k over the last ``EWMA_WINDOW`` observed buckets, normalized
    over the weights actually present (series starts use fewer lags).
    The 12 lag expressions share ONE window spec, so the physical plan
    is a single hash-partition-by-user window pass after the hourly
    aggregate — two shuffles total, both keyed for the series. The
    weighted sum is an explicit left-associated expression chain (not
    an aggregate), so it is bit-exact across engines; alpha = 0.5 keeps
    every weight product an exact mantissa shift."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(dsum(F.col("value")).alias("v"))
    w = Window.partitionBy("user_id").orderBy("bucket")
    num = None
    den = None
    for k in range(EWMA_WINDOW):
        lg = F.col("v") if k == 0 else F.lag("v", k).over(w)
        wt = F.lit(EWMA_ALPHA**k)
        nk = F.coalesce(lg * wt, F.lit(0.0))
        dk = F.when(lg.isNotNull(), wt).otherwise(F.lit(0.0))
        num = nk if num is None else num + nk
        den = dk if den is None else den + dk
    return (
        s.withColumn("ewma", F.when(den > F.lit(0.0), F.round(num / den, 6)))
        .select("user_id", F.col("bucket").alias("bucket_start"), "v", "ewma")
        .orderBy("user_id", "bucket_start")
    )


def q102_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week of each user's first
    event; a user is retained at offset k if active in cohort_week + k
    weeks. Two hash shuffles, both on user_id (min-ts cohort assign,
    then distinct active weeks) — AQE reuses the exchange — followed by
    one small rollup on (cohort_week, offset). No windows, no
    cross-join of the calendar: offsets come from observed activity
    only, so sparse users cost nothing. At 100 TB the heavy side
    (distinct user-weeks) is a map-side-combinable aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    per_cell = (
        active.join(cohorts, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    size = per_cell.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("cohort_size")
    )
    return (
        per_cell.join(size, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            "cohort_size",
            F.round(F.col("n_users") / F.col("cohort_size"), 6).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


ANOMALY_BASELINE_BUCKETS = 24  # trailing buckets feeding mean/stddev
ANOMALY_MIN_BASELINE = ANOMALY_BASELINE_BUCKETS // 2  # min history to score
ANOMALY_Z = 2.0


def q103_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over per-type hourly event
    counts: each bucket is scored against the mean/stddev of the 24
    PRECEDING buckets (frame excludes the current row, so a spike
    can't mask itself). One shuffle for the hourly rollup, then one
    window partitioned by event_type — bounded state (24 rows) per
    partition, no global window. The stddev is the sample form over
    integer counts, identical in both engines; z is rounded before the
    flag comparison so the cutoff itself is drift-free."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-ANOMALY_BASELINE_BUCKETS, -1)
    )
    mu = F.avg(F.col("n").cast("double")).over(w)
    sd = F.stddev_samp(F.col("n").cast("double")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    z = F.round((F.col("n") - mu) / sd, 6)
    return (
        hourly.withColumn("baseline_n", cnt)
        .withColumn("mu", F.round(mu, 6))
        .withColumn("sd", F.round(sd, 6))
        .withColumn(
            "z",
            F.when((F.col("baseline_n") >= ANOMALY_MIN_BASELINE) & (sd > 0), z),
        )
        .filter(F.abs(F.col("z")) >= ANOMALY_Z)
        .select("event_type", "bucket", "n", "mu", "sd", "z")
        .orderBy("event_type", "bucket")
    )


def q106_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead(event_type) within each user's (ts, event_id)
    ordered stream, then one hash rollup per (from, to) pair and an
    in-plan per-source normalizer (window sum — 25 source rows, not a
    second scan). ONE shuffle on user_id feeds the sequence window;
    the pair rollup's map-side combine collapses to |types|^2 rows
    before its exchange. The (ts, event_id) ordering is a total order,
    so lead() is deterministic in both engines."""
    ev = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(seq))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_src = Window.partitionBy("from_type")
    return (
        pairs.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(per_src), 6)
        )
        .orderBy("from_type", "to_type")
    )


DP_EPSILON = 0.5
DP_SEED = "dp-r4"


def q109_dp_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private daily activity release (operators/
    privacy.py::dp_noisy_counts): exact (event_type, day) counts +
    deterministic Laplace(1/eps) noise from the md5-uniform inverse
    CDF, releasing ONLY the noisy value. One count shuffle + a narrow
    noise projection; the oracle replays the identical draw, so the
    mechanism (not just the shape) is pinned cross-engine."""
    from batchprocessingetl_spark.operators.privacy import dp_noisy_counts

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    )
    return dp_noisy_counts(
        ev, ["event_type", "day"], DP_EPSILON, DP_SEED
    ).orderBy("event_type", "day")


def q114_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user metrics — DAU / WAU(7) / MAU(28) per day,
    EXACT. A distinct (user, day) base is computed once; each trailing
    window materializes as an offset explode (a user active on day d
    covers days d..d+n-1), distinct again, then a fixed-width count
    rollup — turning 'distinct over a sliding window' (not directly
    expressible as a window aggregate) into plain hash shuffles keyed
    on (user, day). Cost is user-days x 36, the documented exactness
    price; the sketch path at extreme scale is a per-day HLL merge
    (q57/q61 machinery). Trailing-window days beyond the observed max
    are clipped in-plan via a broadcast 1-row max, and the output is
    driven by a generated [min_day, max_day] spine LEFT-joined to each
    metric — a day with NO same-day activity still reports dau=0 with
    its true trailing wau/mau instead of silently vanishing (an inner
    join on the dau day set would hole the series)."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select("user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .distinct()
    )
    bounds = du.agg(F.min("day").alias("min_day"), F.max("day").alias("max_day"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("min_day"), F.col("max_day"))).alias("day")
    )

    def roll(n: int, name: str) -> DataFrame:
        covered = (
            du.select(
                "user_id",
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("k"),
                "day",
            )
            .select("user_id", F.date_add(F.col("day"), F.col("k")).alias("day"))
            .distinct()
        )
        return (
            covered.join(F.broadcast(bounds))
            .filter(F.col("day") <= F.col("max_day"))
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias(name))
        )

    out = (
        spine.join(roll(1, "dau"), "day", "left")
        .join(roll(7, "wau"), "day", "left")
        .join(roll(28, "mau"), "day", "left")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.coalesce("wau", F.lit(0)).alias("wau"),
            F.coalesce("mau", F.lit(0)).alias("mau"),
        )
        .orderBy("day")
    )
    return out


CMS_DEPTH, CMS_WIDTH = 4, 1024
CMS_EPS = 2.718281828459045 / CMS_WIDTH  # e / w — the CM error bound


def q121_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-sketch heavy hitters (operators/sketches.py): the
    top-20 users by exact event count, re-estimated from a 4x1024
    Count-Min sketch, with the CM guarantee CHECKED per key (true <=
    est <= true + eps*N, eps = e/w) — the q57/q74/q96 pattern of
    oracle-pinning a sketch's actual contract rather than its exact
    values. The sketch is d*w counters regardless of corpus size and
    merges across shards by addition; at 100 TB the exact top-k is
    the expensive path and the sketch is the cheap always-on one."""
    from batchprocessingetl_spark.operators.sketches import (
        cms_build,
        cms_point_estimates,
    )

    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    top = exact.orderBy(F.desc("true_n"), "user_id").limit(20)
    sketch = cms_build(ev, F.col("user_id"), CMS_DEPTH, CMS_WIDTH)
    est = cms_point_estimates(sketch, top, "user_id", CMS_DEPTH, CMS_WIDTH)
    n_total = ev.agg(F.count(F.lit(1)).alias("__n"))
    return (
        top.join(
            est.select(F.col("user_id").cast("long").alias("user_id"), "est"),
            "user_id",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "user_id",
            "true_n",
            "est",
            (
                (F.col("est") >= F.col("true_n"))
                & (F.col("est") <= F.col("true_n") + F.lit(CMS_EPS) * F.col("__n"))
            ).alias("est_ok"),
        )
        .orderBy(F.desc("true_n"), "user_id")
    )


HLL_LG_K = 14  # 2^14 registers -> rsd ~= 1.04/sqrt(2^14) ~= 0.8%


def q123_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of q114 — the documented extreme-scale path for
    rolling DAU/WAU/MAU, now runnable: ONE DataSketches-HLL sketch per
    day (``hll_sketch_agg``), then each trailing window merges 7/28
    per-day SKETCHES (``hll_union_agg`` -> ``hll_sketch_estimate``)
    instead of exploding user-day rows. The shuffle after the per-day
    aggregate is days x 36 sketch-sized (~KB) rows — independent of
    user cardinality — vs q114's user-days x 36; at 100 TB the sketch
    plan's exchange is megabytes where the exact plan's is terabytes.

    Estimates are engine-defined, so (the q57/q121 pattern) the output
    carries the EXACT q114 metrics plus per-window ``*_ok`` flags —
    whether each HLL estimate landed within 5% of exact (lgConfigK=14
    gives ~0.8% rsd, so 5% is a deterministic-pass margin on fixed
    data). The oracle recomputes the exact side and pins every flag
    TRUE, making the sketch's error bound a driver-checked fact."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select("user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .distinct()
    )
    bounds = du.agg(F.min("day").alias("min_day"), F.max("day").alias("max_day"))
    per_day = du.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk")
    )

    def roll_est(n: int, name: str) -> DataFrame:
        covered = per_day.select(
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("k"), "day", "sk"
        ).select(F.date_add(F.col("day"), F.col("k")).alias("day"), "sk")
        return (
            covered.join(F.broadcast(bounds))
            .filter(F.col("day") <= F.col("max_day"))
            .groupBy("day")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(name))
        )

    est = (
        roll_est(1, "dau_est")
        .join(roll_est(7, "wau_est"), "day", "full")
        .join(roll_est(28, "mau_est"), "day", "full")
        .select(F.col("day").cast("timestamp").alias("day"), "dau_est", "wau_est", "mau_est")
    )
    exact = q114_active_users(spark, sf_dir)

    def ok(est_col: str, exact_col: str) -> Column:
        e = F.coalesce(F.col(est_col).cast("double"), F.lit(0.0))
        x = F.col(exact_col).cast("double")
        return F.abs(e - x) <= F.lit(0.05) * F.greatest(x, F.lit(1.0))

    return (
        exact.join(est, "day", "left")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            ok("dau_est", "dau").alias("dau_ok"),
            ok("wau_est", "wau").alias("wau_ok"),
            ok("mau_est", "mau").alias("mau_ok"),
        )
        .orderBy("day")
    )


BOOT_SEED = "boot-r4"


def q122_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type mean event value with a subsample-bootstrap 95% CI
    (operators/stats.py::bootstrap_mean_ci): 32 deterministic
    half-samples (md5-uniform membership), exact decimal per-resample
    means, spread scaled back to full-sample standard error. The
    oracle replays every draw — an RNG bootstrap could never be
    differentially tested; this one is reproducible to the last
    digit."""
    from batchprocessingetl_spark.operators.stats import bootstrap_mean_ci

    ev = load_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        ev, ["event_type"], F.col("value"), "event_id", seed=BOOT_SEED
    ).orderBy("event_type")


def q139_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise AUDIENCE OVERLAP between event types: for every
    unordered type pair, the number of users who did both, each side's
    audience size, and the Jaccard overlap — the segment-intersection
    matrix behind "users who viewed AND purchased" analyses. Shape:
    one distinct (type, user) aggregate collapses the fact table, then
    a self-join keyed on user_id whose blow-up is bounded by
    C(types, 2) PER USER (types is a small enum), never corpus² —
    followed by a hash rollup on the type pair. The Jaccard is one
    IEEE double division of exact integer counts, bit-identical in
    both engines."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("event_type", "user_id").distinct()
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a = ut.select(F.col("event_type").alias("type_a"), "user_id")
    b = ut.select(F.col("event_type").alias("type_b"), "user_id")
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    return (
        both.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("overlap_jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


def q143_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: the median and
    p90 gap (seconds) between a user's consecutive events of the same
    type — the cadence statistic behind session-gap tuning and
    anomaly baselines. Gaps come from one lag window over fine
    (user, type) partitions — millions of small partitions, the shape
    window functions scale on (never one global sort); the exact
    percentiles aggregate gap rows per type. Gap seconds are exact
    integer epoch differences, so the interpolated percentiles start
    from identical inputs in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.percentile(F.col("gap_s").cast("double"), F.lit(0.5)), 4)
            .alias("p50_gap_s"),
            F.round(F.percentile(F.col("gap_s").cast("double"), F.lit(0.9)), 4)
            .alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


def q144_user_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix (nats) — the
    behavioral-diversity score separating single-purpose accounts from
    broad users (and a standard bot signal at the extremes). Two hash
    aggregates: (user, type) counts, then the per-user entropy fold
    -Σ p·ln p with p from exact integer counts — identical IEEE inputs
    in both engines, rounded 6dp against libm jitter."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = ut.groupBy("user_id").agg(F.sum("n").alias("n_events"))
    p = F.col("n").cast("double") / F.col("n_events").cast("double")
    return (
        ut.join(tot, "user_id")
        .groupBy("user_id", "n_events")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
        .orderBy("user_id")
    )


def q145_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via bitmap words: users pack
    into 64-bit words (word = id div 64, bit = id mod 64), each day
    keeps one bit_or word per occupied word index, and the WEEKLY
    distinct-user count merges the daily words with another bit_or +
    popcount — the fact table is scanned once and the weekly rollup
    touches only day×word rows (the roaring-bitmap/Theta-sketch
    pattern, but exact). Unlike HLL (q123) there is no error bar, at
    the cost of state linear in the id space; the oracle recomputes
    weekly COUNT(DISTINCT) directly, so any bit-packing or merge bug
    flips the value hash."""
    ev = load_table(spark, sf_dir, "events")
    day_words = (
        ev.select(
            F.date_trunc("week", "ts").alias("week"),
            F.date_trunc("day", "ts").alias("day"),
            (F.col("user_id") / 64).cast("long").alias("word_idx"),
            # F.shiftleft takes a literal bit count; the SQL form
            # accepts an expression
            F.expr("shiftleft(1L, cast(user_id % 64 as int))").alias("bit"),
        )
        .groupBy("week", "day", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    return (
        day_words.groupBy("week", "word_idx")
        .agg(F.bit_or("word").alias("wword"))
        .groupBy("week")
        .agg(F.sum(F.bit_count("wword")).alias("n_users"))
        .orderBy("week")
    )


PATH_TOP = 20


def q153_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining lite: the top-20 most common 3-step
    event-type paths WITHIN a session (q21's gaps-and-islands
    sessionization, 30-min gap) — the "what do users do next"
    statistic behind funnel design and next-action models. Three
    window passes share ONE hash partition by user (lag for session
    bounds, running-sum session ids, leads for the n-gram); paths
    aggregate map-side-combinably; the top-k is one TakeOrdered under
    a total order (count DESC, path ASC). Nothing re-sorts globally
    and nothing is sequence-explosive: each event emits at most one
    path."""
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(by_user))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (gap_us > SESSION_GAP_MINUTES * 60_000_000),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_seq", F.sum("new_session").over(by_user))
    )
    by_sess = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(by_sess),
        F.lead("event_type", 2).over(by_sess),
    )
    return (
        sess.withColumn("__e2", F.lead("event_type", 2).over(by_sess))
        .withColumn("path", path)
        .filter(F.col("__e2").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.desc("n_occ"), "path")
        .limit(PATH_TOP)
    )


def q154_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-negative running balance (inventory semantics: the balance
    absorbs signed deltas but can never go below zero). The recurrence
    b_i = max(b_{i-1} + x_i, 0) looks like it demands a stateful
    per-row scan (applyInPandas), but it has a CLOSED FORM in two
    windows: b_i = S_i − min(0, min_{j<=i} S_j) where S is the plain
    running sum — reflecting the walk at zero. That turns an
    unexpressible sequential fold into two whole-stage-codegen'd
    window passes sharing one partition-by-user shuffle; at 100 TB
    this closed-form-over-stateful-scan substitution IS the
    difference between a plan and a Python loop. Deltas are signed
    event values in exact decimal: purchase/signup credit, every
    other type debits — a mix that clamps often, so the reflection
    term is exercised on most users."""
    ev = load_table(spark, sf_dir, "events")
    acc = "decimal(28,6)"
    signed = (
        F.when(
            F.col("event_type").isin("purchase", "signup"), F.col("value")
        )
        .otherwise(-F.col("value"))
        .cast(acc)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    zero = F.lit(0).cast(acc)
    s = F.sum("__x").over(w)
    running_min = F.min(F.least(F.col("__s"), zero)).over(w)
    return (
        ev.select("user_id", "event_id", F.col("ts"), signed.alias("__x"))
        .withColumn("__s", s)
        .withColumn("balance", F.col("__s") - running_min)
        .select(
            "user_id",
            "event_id",
            F.round("__x", 2).cast("double").alias("delta"),
            F.round("balance", 2).cast("double").alias("balance"),
        )
        .orderBy("user_id", "event_id")
    )


MTA_WINDOW_S = 3600  # attribution lookback, seconds


def q146_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every click
    by the purchase's user within the lookback window earns credit —
    sole click 1.0; exactly two clicks 0.5 each (the standard
    position-based renormalization when there are no middles, so
    credit mass is conserved at 1.0); otherwise first and last 0.4
    each and the middles split 0.2 evenly. The single-touch as-of
    pick (q24) is the
    degenerate case; this is the marketing-standard generalization.
    Shape: one user-keyed interval join (operators/attribution.py::
    conversion_touch_frame, the quartet's shared journey builder —
    pair count bounded by clicks within the window per purchase,
    never corpus²), then position / count windows over per-purchase
    groups — tiny partitions. Credits are exact rational doubles
    (0.4, 0.2/(k-2)) from integer positions, bit-identical
    cross-engine."""
    from batchprocessingetl_spark.operators.attribution import conversion_touch_frame

    ev = load_table(spark, sf_dir, "events")
    joined = conversion_touch_frame(
        ev, ("click",), MTA_WINDOW_S, inclusive=True
    ).select(
        F.col("conversion_id").alias("purchase_id"),
        F.col("touch_id").alias("click_id"),
        F.col("touch_ts").alias("click_ts"),
    )
    w = Window.partitionBy("purchase_id").orderBy("click_ts", "click_id")
    wk = Window.partitionBy("purchase_id")
    pos = F.row_number().over(w)
    k = F.count(F.lit(1)).over(wk)
    credit = (
        F.when(k == 1, F.lit(1.0))
        .when(k == 2, F.lit(0.5))
        .when((pos == 1) | (pos == k), F.lit(0.4))
        .otherwise(F.lit(0.2) / (k - 2).cast("double"))
    )
    return (
        joined.select(
            "purchase_id",
            "click_id",
            pos.alias("touch_pos"),
            k.alias("n_touches"),
            F.round(credit, 6).alias("credit"),
        )
        .orderBy("purchase_id", "touch_pos")
    )


QUERIES = {
    "q123_active_users_hll": q123_active_users_hll,
    "q139_audience_overlap": q139_audience_overlap,
    "q143_interarrival_stats": q143_interarrival_stats,
    "q144_user_mix_entropy": q144_user_mix_entropy,
    "q145_bitmap_distinct_rollup": q145_bitmap_distinct_rollup,
    "q146_multitouch_attribution": q146_multitouch_attribution,
    "q153_top_event_paths": q153_top_event_paths,
    "q154_clamped_running_balance": q154_clamped_running_balance,
    "q155_gapfill_interpolate": q155_gapfill_interpolate,
    "q157_max_drawdown": q157_max_drawdown,
    "q28_session_window_stats": q28_session_window_stats,
    "q75_interval_join_concurrency": q75_interval_join_concurrency,
    "q94_skewed_user_rollup_aqe": q94_skewed_user_rollup_aqe,
    "q98_ewma_smoothing": q98_ewma_smoothing,
    "q102_cohort_retention": q102_cohort_retention,
    "q103_rate_anomalies": q103_rate_anomalies,
    "q106_event_transitions": q106_event_transitions,
    "q114_active_users": q114_active_users,
    "q121_heavy_hitters": q121_heavy_hitters,
    "q122_bootstrap_mean_ci": q122_bootstrap_mean_ci,
    "q99_funnel_conversion": q99_funnel_conversion,
    "q109_dp_daily_counts": q109_dp_daily_counts,
    "q20_hourly_event_rollup": q20_hourly_event_rollup,
    "q72_hypertable_rollup": q72_hypertable_rollup,
    "q21_sessionization": q21_sessionization,
    "q22_event_type_daily": q22_event_type_daily,
    "q23_json_props_extract": q23_json_props_extract,
    "q24_asof_attribution": q24_asof_attribution,
    "q25_value_band_rollup": q25_value_band_rollup,
    "q29_sliding_window_rollup": q29_sliding_window_rollup,
    "q81_skewed_user_rollup": q81_skewed_user_rollup,
    "q88_gapfill_locf": q88_gapfill_locf,
    "q91_rollup_increment": q91_rollup_increment,
}

# EWMA oracle terms: the same left-associated chain the Spark side
# builds, generated from the same constants.
_EWMA_NUM = " + ".join(
    f"COALESCE({'v' if k == 0 else f'lag(v, {k}) OVER w'} * {EWMA_ALPHA**k!r}, 0.0)"
    for k in range(EWMA_WINDOW)
)
_EWMA_DEN = " + ".join(
    f"CASE WHEN {'v' if k == 0 else f'lag(v, {k}) OVER w'} IS NOT NULL"
    f" THEN {EWMA_ALPHA**k!r} ELSE 0.0 END"
    for k in range(EWMA_WINDOW)
)

ORACLE = {
    "q99_funnel_conversion": f"""
        WITH t1 AS (
            SELECT user_id, MIN(ts) AS t1
            FROM events WHERE event_type = 'view' GROUP BY 1
        ), t2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2, MIN(t1.t1) AS t1
            FROM events e JOIN t1 ON e.user_id = t1.user_id
            WHERE e.event_type = 'click' AND e.ts > t1.t1
            GROUP BY 1
        ), t3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3, MIN(t2.t1) AS t1
            FROM events e JOIN t2 ON e.user_id = t2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > t2.t2
            GROUP BY 1
        )
        SELECT * FROM (
            SELECT '1_view' AS stage, COUNT(*) AS n_users,
                   {davg_sql('0.0')} AS avg_hours_from_entry
            FROM t1
            UNION ALL
            SELECT '2_click', COUNT(*), {davg_sql('h')}
            FROM (SELECT (epoch_us(t2) - epoch_us(t1)) / 3600000000.0 AS h FROM t2)
            UNION ALL
            SELECT '3_purchase', COUNT(*), {davg_sql('h')}
            FROM (SELECT (epoch_us(t3) - epoch_us(t1)) / 3600000000.0 AS h FROM t3)
        )
        ORDER BY stage
    """,
    "q98_ewma_smoothing": f"""
        WITH s AS (
            SELECT user_id, date_trunc('hour', ts) AS bucket,
                   {dsum_sql('value')} AS v
            FROM events GROUP BY 1, 2
        ), l AS (
            SELECT user_id, bucket, v,
                   {_EWMA_NUM} AS num,
                   {_EWMA_DEN} AS den
            FROM s WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
        )
        SELECT user_id, bucket AS bucket_start, v,
               CASE WHEN den > 0.0 THEN ROUND(num / den, 6) END AS ewma
        FROM l
        ORDER BY user_id, bucket_start
    """,
    "q91_rollup_increment": f"""
        SELECT date_trunc('hour', ts) AS bucket_ts,
               COUNT(*) AS n_events,
               {dsum_sql('value')} AS total_value
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    "q88_gapfill_locf": f"""
        WITH a AS (
            SELECT date_trunc('hour', ts) AS bucket_ts,
                   COUNT(*) AS n_events,
                   {dsum_sql('value')} AS total_value
            FROM events WHERE value > {GAPFILL_VALUE_MIN}
            GROUP BY 1
        ), sp AS (
            SELECT unnest(generate_series(
                (SELECT MIN(bucket_ts) FROM a),
                (SELECT MAX(bucket_ts) FROM a),
                INTERVAL 1 HOUR)) AS bucket_ts
        ), j AS (
            SELECT sp.bucket_ts, a.n_events, a.total_value
            FROM sp LEFT JOIN a USING (bucket_ts)
        )
        SELECT bucket_ts,
               COALESCE(n_events, 0) AS n_events,
               last_value(total_value IGNORE NULLS)
                   OVER (ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS total_value,
               n_events IS NULL AS is_filled
        FROM j
        ORDER BY bucket_ts
    """,
    # q81: the oracle is the PLAIN join + rollup — the salted plan must
    # be value-identical to an unsalted one.
    "q81_skewed_user_rollup": f"""
        WITH skewed AS (
            SELECT CASE WHEN event_id % 5 = 0 THEN 0 ELSE user_id END AS skew_user,
                   value
            FROM events
        ), dim AS (
            SELECT DISTINCT skew_user, skew_user % 7 AS tier FROM skewed
        )
        SELECT d.tier,
               COUNT(*) AS n_events,
               {dsum_sql('s.value')} AS total_value
        FROM skewed s JOIN dim d USING (skew_user)
        GROUP BY 1
        ORDER BY 1
    """,
    "q75_interval_join_concurrency": f"""
        WITH spans AS (
            SELECT user_id AS span_user, date_trunc('day', ts) AS day,
                   MIN(ts) AS lo, MAX(ts) AS hi
            FROM events
            GROUP BY 1, 2
            HAVING epoch_us(MAX(ts)) - epoch_us(MIN(ts))
                   >= {INTERVAL_SPAN_HOURS}::BIGINT * 3600 * 1000000
        )
        SELECT s.span_user, s.day,
               COUNT(*) AS n_concurrent_purchases,
               {dsum_sql('e.value')} AS concurrent_value
        FROM spans s
        JOIN events e
          ON e.event_type = 'purchase' AND e.ts BETWEEN s.lo AND s.hi
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "q72_hypertable_rollup": """
        WITH g AS (
            SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket_ts,
                   COUNT(*) AS n_events,
                   SUM(CAST(value AS DECIMAL(28,6))) AS t
            FROM events GROUP BY 1, 2
            UNION ALL
            SELECT 'day', date_trunc('day', ts), COUNT(*),
                   SUM(CAST(value AS DECIMAL(28,6)))
            FROM events GROUP BY 1, 2
            UNION ALL
            SELECT 'month', date_trunc('month', ts), COUNT(*),
                   SUM(CAST(value AS DECIMAL(28,6)))
            FROM events GROUP BY 1, 2
        )
        SELECT grain, bucket_ts, n_events,
               CAST(ROUND(t, 2) AS DOUBLE) AS total,
               ROUND(CAST(t AS DOUBLE) / n_events, 4) AS avg_value
        FROM g
        ORDER BY grain, bucket_ts
    """,
    "q29_sliding_window_rollup": """
        WITH offs(j) AS (VALUES (0), (1)),
        win AS (
            SELECT make_timestamp((epoch_us(ts) // 1800000000 - j) * 1800000000)
                       AS window_start,
                   event_type, value
            FROM events CROSS JOIN offs
        )
        SELECT window_start, event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS total_value
        FROM win
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "q20_hourly_event_rollup": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS total_value,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "q21_sessionization": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > {SESSION_GAP_MINUTES} * 60000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        ), per_session AS (
            SELECT user_id, session_seq,
                   COUNT(*) AS n_events,
                   (epoch_us(MAX(ts)) - epoch_us(MIN(ts)) + 50000) // 100000 AS duration_ds
            FROM sessioned
            GROUP BY user_id, session_seq
        )
        SELECT user_id,
               COUNT(*) AS n_sessions,
               MAX(n_events) AS max_session_events,
               CAST((2 * SUM(duration_ds) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 10
                   AS avg_session_sec
        FROM per_session
        GROUP BY user_id
        ORDER BY user_id
    """,
    "q22_event_type_daily": """
        SELECT date_trunc('day', ts) AS day,
               COUNT(*) AS n_events,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
               CAST(ROUND(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
                                   AS DECIMAL(28,6))), 2) AS DOUBLE) AS purchase_value
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    "q28_session_window_stats": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_MINUTES} * 60000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        )
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE AS session_end,
               user_id,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS total_value
        FROM sessioned
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_start
    """,
    "q24_asof_attribution": """
        SELECT p.event_id, p.user_id, c.click_id,
               ROUND((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 1) AS gap_sec
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT event_id AS click_id, user_id, ts FROM events
                        WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id
    """,
    "q25_value_band_rollup": """
        WITH bands(band, lo, hi) AS (
            VALUES ('p0_25', 0.0, 25.0), ('p25_50', 25.0, 50.0),
                   ('p50_75', 50.0, 75.0), ('p75_up', 75.0, 1e18)
        )
        SELECT band, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        FROM events LEFT JOIN bands ON value >= lo AND value < hi
        GROUP BY band
        ORDER BY band
    """,
    "q23_json_props_extract": """
        SELECT event_type,
               ROUND(AVG((props ->> 'k')::INT), 4) AS avg_k,
               MAX((props ->> 'k')::INT) AS max_k,
               COUNT(*) AS n_events
        FROM (SELECT event_type, props::JSON AS props FROM events)
        GROUP BY event_type
        ORDER BY event_type
    """,
}

# q94 is the plain-join AQE twin of q81 — value-identical by
# construction, so it shares q81's plain-join oracle verbatim
ORACLE["q94_skewed_user_rollup_aqe"] = ORACLE["q81_skewed_user_rollup"]

# Monday-start date_trunc('week') agrees between Spark and DuckDB; the
# day-difference of two week-truncated timestamps is an exact multiple
# of 7, so /7 hits an integer in both engines (DuckDB CAST rounds,
# Spark truncates — identical on exact integers).
ORACLE["q102_cohort_retention"] = """
    WITH cohorts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        FROM events
    ), per_cell AS (
        SELECT c.cohort_week,
               CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS INT)
                   AS week_offset,
               COUNT(*) AS n_users
        FROM active a JOIN cohorts c USING (user_id)
        GROUP BY 1, 2
    )
    SELECT p.cohort_week, p.week_offset, p.n_users,
           s.n_users AS cohort_size,
           ROUND(p.n_users / CAST(s.n_users AS DOUBLE), 6) AS retention
    FROM per_cell p
    JOIN (SELECT cohort_week, n_users FROM per_cell WHERE week_offset = 0) s
      USING (cohort_week)
    ORDER BY p.cohort_week, p.week_offset
"""

from batchprocessingetl_spark.operators.privacy import (
    dp_key_sql_duckdb as _dp_key,
    dp_noise_sql_duckdb as _dp_sql,
)

ORACLE["q109_dp_daily_counts"] = f"""
    WITH g AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day,
           ROUND(n + {_dp_sql(_dp_key(["event_type", "CAST(day AS TIMESTAMP)"]), DP_EPSILON, DP_SEED)},
                 6) AS noisy_count
    FROM g
    ORDER BY event_type, day
"""

from batchprocessingetl_spark.operators.sketches import cms_sql_duckdb as _cms_sql

ORACLE["q121_heavy_hitters"] = f"""
    WITH sketch AS ({_cms_sql("events", "user_id", CMS_DEPTH, CMS_WIDTH)}),
    exact AS (
        SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id
    ), top AS (
        SELECT user_id, true_n FROM exact
        ORDER BY true_n DESC, user_id LIMIT 20
    ), probes AS (
        SELECT user_id, true_n, r.row,
               ('0x' || substr(md5('cms:' || user_id::VARCHAR),
                               r.row * 8 + 1, 8))::BIGINT
                   % {CMS_WIDTH} AS bucket
        FROM top, (SELECT unnest(range(0, {CMS_DEPTH}))::INT AS row) r
    ), ests AS (
        SELECT p.user_id, p.true_n, MIN(s.c) AS est
        FROM probes p JOIN sketch s USING (row, bucket)
        GROUP BY 1, 2
    )
    SELECT e.user_id, e.true_n, e.est,
           e.est >= e.true_n
           AND e.est <= e.true_n + {CMS_EPS!r} * (SELECT COUNT(*) FROM events)
               AS est_ok
    FROM ests e
    ORDER BY true_n DESC, user_id
"""

ORACLE["q122_bootstrap_mean_ci"] = f"""
    WITH resamp AS (
        SELECT event_type, b.b,
               SUM(CAST(value AS DECIMAL(28,6))) AS s, COUNT(*) AS m
        FROM events, (SELECT unnest(range(0, 32))::INT AS b) b
        WHERE ('0x' || substr(md5('{BOOT_SEED}:' || b.b::VARCHAR || ':'
                                  || event_id::VARCHAR), 1, 15))::BIGINT
              / {float(16**15)!r} < 0.5
        GROUP BY 1, 2
    ), spread AS (
        SELECT event_type,
               STDDEV_SAMP(CAST(s AS DOUBLE) / m) / sqrt(2.0) AS se,
               COUNT(*) AS n_resamples
        FROM resamp GROUP BY 1
    ), fullm AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                   AS mean
        FROM events GROUP BY 1
    )
    SELECT f.event_type,
           ROUND(f.mean, 6) AS mean,
           ROUND(f.mean - 1.96 * s.se, 6) AS ci_lo,
           ROUND(f.mean + 1.96 * s.se, 6) AS ci_hi,
           s.n_resamples
    FROM fullm f JOIN spread s USING (event_type)
    ORDER BY event_type
"""

ORACLE["q114_active_users"] = """
    WITH du AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ), b AS (
        SELECT MIN(day) AS min_day, MAX(day) AS max_day FROM du
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(min_day, max_day,
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM b
    ),
    wau_cov AS (
        SELECT DISTINCT user_id, day + k * INTERVAL 1 DAY AS day
        FROM (SELECT user_id, day, unnest(range(0, 7))::INT AS k FROM du)
    ),
    mau_cov AS (
        SELECT DISTINCT user_id, day + k * INTERVAL 1 DAY AS day
        FROM (SELECT user_id, day, unnest(range(0, 28))::INT AS k FROM du)
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    wau AS (SELECT CAST(c.day AS DATE) AS day, COUNT(*) AS wau
            FROM wau_cov c, b WHERE c.day <= b.max_day GROUP BY 1),
    mau AS (SELECT CAST(c.day AS DATE) AS day, COUNT(*) AS mau
            FROM mau_cov c, b WHERE c.day <= b.max_day GROUP BY 1)
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           COALESCE(d.dau, 0) AS dau,
           COALESCE(w.wau, 0) AS wau,
           COALESCE(m.mau, 0) AS mau
    FROM spine s
    LEFT JOIN dau d USING (day)
    LEFT JOIN wau w USING (day)
    LEFT JOIN mau m USING (day)
    ORDER BY day
"""

# q123: the exact q114 oracle with every HLL error-bound flag pinned
# TRUE — the sketch estimates are engine-defined, the BOUND is the
# cross-engine fact (q57/q121 pattern).
ORACLE["q123_active_users_hll"] = ORACLE["q114_active_users"].replace(
    "COALESCE(m.mau, 0) AS mau\n",
    "COALESCE(m.mau, 0) AS mau,\n"
    "           TRUE AS dau_ok, TRUE AS wau_ok, TRUE AS mau_ok\n",
)
assert "dau_ok" in ORACLE["q123_active_users_hll"]  # replace anchored

ORACLE["q106_event_transitions"] = """
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ), pairs AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
               AS p
    FROM pairs
    ORDER BY from_type, to_type
"""

ORACLE["q103_rate_anomalies"] = f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), scored AS (
        SELECT event_type, bucket, n,
               COUNT(*) OVER w AS baseline_n,
               ROUND(AVG(CAST(n AS DOUBLE)) OVER w, 6) AS mu,
               ROUND(STDDEV_SAMP(CAST(n AS DOUBLE)) OVER w, 6) AS sd,
               CASE WHEN COUNT(*) OVER w >= {ANOMALY_MIN_BASELINE}
                     AND STDDEV_SAMP(CAST(n AS DOUBLE)) OVER w > 0
                    THEN ROUND((n - AVG(CAST(n AS DOUBLE)) OVER w)
                               / STDDEV_SAMP(CAST(n AS DOUBLE)) OVER w, 6)
               END AS z
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN {ANOMALY_BASELINE_BUCKETS} PRECEDING
                              AND 1 PRECEDING)
    )
    SELECT event_type, bucket, n, mu, sd, z
    FROM scored WHERE ABS(z) >= {ANOMALY_Z!r}
    ORDER BY event_type, bucket
"""

ORACLE["q139_audience_overlap"] = """
    WITH ut AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
        SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY 1
    ), both_t AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM ut a JOIN ut b ON a.user_id = b.user_id
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT bt.type_a, bt.type_b,
           sa.n_users AS n_a, sb.n_users AS n_b, bt.n_both,
           bt.n_both::DOUBLE / (sa.n_users + sb.n_users - bt.n_both)::DOUBLE
               AS overlap_jaccard
    FROM both_t bt
    JOIN sizes sa ON bt.type_a = sa.event_type
    JOIN sizes sb ON bt.type_b = sb.event_type
    ORDER BY bt.type_a, bt.type_b
"""

ORACLE["q143_interarrival_stats"] = """
    WITH gaps AS (
        -- floor() before ::BIGINT: DuckDB CAST rounds while Spark's
        -- unix_timestamp truncates, and events.ts carries sub-second
        -- precision
        SELECT event_type,
               floor(epoch(ts))::BIGINT
               - lag(floor(epoch(ts))::BIGINT) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS gap_s
        FROM events
    )
    SELECT event_type, COUNT(*) AS n_gaps,
           ROUND(quantile_cont(gap_s::DOUBLE, 0.5), 4) AS p50_gap_s,
           ROUND(quantile_cont(gap_s::DOUBLE, 0.9), 4) AS p90_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
"""

ORACLE["q144_user_mix_entropy"] = """
    WITH ut AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT user_id, SUM(n)::BIGINT AS n_events FROM ut GROUP BY 1
    )
    SELECT ut.user_id, tot.n_events, COUNT(*) AS n_types,
           ROUND(-SUM((ut.n::DOUBLE / tot.n_events::DOUBLE)
                      * ln(ut.n::DOUBLE / tot.n_events::DOUBLE)), 6)
               AS entropy_nats
    FROM ut JOIN tot USING (user_id)
    GROUP BY ut.user_id, tot.n_events
    ORDER BY ut.user_id
"""

ORACLE["q157_max_drawdown"] = """
    WITH x AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type IN ('purchase', 'signup')
                    THEN CAST(value AS DECIMAL(28,6))
                    ELSE -CAST(value AS DECIMAL(28,6)) END AS dx
        FROM events
    ), s1 AS (
        SELECT user_id, event_id, ts,
               SUM(dx) OVER w AS rs
        FROM x
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s2 AS (
        SELECT user_id,
               MAX(rs) OVER w - rs AS dd
        FROM s1
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(MAX(dd), 2) AS DOUBLE) AS max_drawdown
    FROM s2
    GROUP BY user_id
    ORDER BY user_id
"""

ORACLE["q155_gapfill_interpolate"] = f"""
    WITH a AS (
        SELECT date_trunc('hour', ts) AS bucket_ts,
               {dsum_sql('value')} AS total_value
        FROM events WHERE value > {GAPFILL_VALUE_MIN}
        GROUP BY 1
    ), sp AS (
        SELECT unnest(generate_series(
            (SELECT MIN(bucket_ts) FROM a),
            (SELECT MAX(bucket_ts) FROM a),
            INTERVAL 1 HOUR)) AS bucket_ts
    ), j AS (
        SELECT sp.bucket_ts, a.total_value
        FROM sp LEFT JOIN a USING (bucket_ts)
    ), w AS (
        SELECT bucket_ts, total_value,
               epoch_us(bucket_ts)::DOUBLE AS t,
               last_value(total_value IGNORE NULLS)
                   OVER (ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS pv,
               last_value(CASE WHEN total_value IS NOT NULL
                               THEN epoch_us(bucket_ts)::DOUBLE END IGNORE NULLS)
                   OVER (ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS pt,
               first_value(total_value IGNORE NULLS)
                   OVER (ORDER BY bucket_ts
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN total_value IS NOT NULL
                                THEN epoch_us(bucket_ts)::DOUBLE END IGNORE NULLS)
                   OVER (ORDER BY bucket_ts
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM j
    )
    SELECT bucket_ts,
           ROUND(CASE WHEN total_value IS NOT NULL THEN total_value
                      WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
                      THEN pv + (nv - pv) * (t - pt) / (nt - pt)
                      ELSE COALESCE(pv, nv) END, 6) AS total_value,
           total_value IS NULL AS is_filled
    FROM w
    ORDER BY bucket_ts
"""

ORACLE["q153_top_event_paths"] = f"""
    WITH s AS (
        SELECT user_id, event_id, ts, event_type,
               lag(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), marked AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                        OR (epoch_us(ts) - epoch_us(prev_ts))
                           > {SESSION_GAP_MINUTES} * 60000000
                       THEN 1 ELSE 0 END AS new_session
        FROM s
    ), sess AS (
        SELECT *, SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
        FROM marked
    ), paths AS (
        SELECT event_type
               || '>' || lead(event_type, 1) OVER w2
               || '>' || lead(event_type, 2) OVER w2 AS path,
               lead(event_type, 2) OVER w2 AS e2
        FROM sess
        WINDOW w2 AS (PARTITION BY user_id, session_seq
                      ORDER BY ts, event_id)
    )
    SELECT path, COUNT(*) AS n_occ
    FROM paths WHERE e2 IS NOT NULL
    GROUP BY path
    ORDER BY n_occ DESC, path
    LIMIT {PATH_TOP}
"""

# q154: the oracle uses the SAME closed form (running sum minus the
# clamped running min) — and the property test pins the closed form
# against the literal per-row fold.
ORACLE["q154_clamped_running_balance"] = """
    WITH x AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type IN ('purchase', 'signup')
                    THEN CAST(value AS DECIMAL(28,6))
                    ELSE -CAST(value AS DECIMAL(28,6)) END AS dx
        FROM events
    ), s1 AS (
        SELECT user_id, event_id, ts, dx,
               SUM(dx) OVER w AS rs
        FROM x
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s2 AS (
        SELECT user_id, event_id, dx, rs,
               MIN(least(rs, CAST(0 AS DECIMAL(28,6)))) OVER w AS rmin
        FROM s1
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(ROUND(dx, 2) AS DOUBLE) AS delta,
           CAST(ROUND(rs - rmin, 2) AS DOUBLE) AS balance
    FROM s2
    ORDER BY user_id, event_id
"""

ORACLE["q146_multitouch_attribution"] = f"""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), j AS (
        SELECT p.purchase_id, c.click_id,
               ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.click_ts, c.click_id) AS touch_pos,
               COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touches
        FROM p JOIN c
          ON c.c_user = p.user_id
         AND c.click_ts <= p.p_ts
         AND c.click_ts >= p.p_ts - INTERVAL {MTA_WINDOW_S} SECONDS
    )
    SELECT purchase_id, click_id, touch_pos, n_touches,
           ROUND(CASE WHEN n_touches = 1 THEN 1.0
                      WHEN n_touches = 2 THEN 0.5
                      WHEN touch_pos = 1 OR touch_pos = n_touches THEN 0.4
                      ELSE 0.2 / (n_touches - 2)::DOUBLE END, 6) AS credit
    FROM j
    ORDER BY purchase_id, touch_pos
"""

# q145: the oracle is the DIRECT weekly distinct count — any bitmap
# packing or merge bug flips the hash.
ORACLE["q145_bitmap_distinct_rollup"] = """
    SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY week
"""


MARKOV_SCALE = 10**6  # fixed-point probability scale
MARKOV_STEPS = 8


def q185_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the q106 event-transition chain via
    8 unrolled power-iteration steps — 'where does user attention
    settle' as a first-class statistic. All arithmetic is FIXED-POINT
    INTEGER (probabilities and the state vector scaled by 1e6, floor
    division at every step), so both engines compute bit-identical
    vectors with no float-summation order hazard and no decimal
    promotion rules in play — the q151/q182 replayability discipline
    applied to iterative linear algebra. Shape: ONE user-keyed window
    pass collapses the fact table to a |types|^2 transition frame;
    every iteration after that is a join+rollup on that tiny frame
    (broadcast at any corpus size), so cost is the single fact scan
    regardless of step count."""
    ev = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(seq))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_src = Window.partitionBy("from_type")
    p = pairs.select(
        "from_type",
        "to_type",
        F.expr(f"n * {MARKOV_SCALE} div sum(n) over (partition by from_type)").alias(
            "p_s"
        ),
    )
    # p is |types|^2 rows; pin it so 8 joins don't re-run the fact scan
    from batchprocessingetl_spark.operators.iteration import barrier

    p = barrier(p)
    states = p.select(F.col("from_type").alias("t")).distinct()
    n_states = states.count()
    v = states.select("t", F.lit(MARKOV_SCALE // n_states).alias("v_s"))
    for _ in range(MARKOV_STEPS):
        v = (
            p.join(v, p["from_type"] == v["t"])
            .groupBy(F.col("to_type").alias("t2"))
            .agg(F.expr(f"sum(p_s * v_s) div {MARKOV_SCALE}").alias("v_s"))
            .select(F.col("t2").alias("t"), "v_s")
        )
    return v.select(
        F.col("t").alias("event_type"),
        F.col("v_s").alias("stationary_scaled"),
        F.round(F.col("v_s") / F.lit(float(MARKOV_SCALE)), 6).alias("stationary"),
    ).orderBy("event_type")


def _q185_oracle_sql(k: int) -> str:
    """Unrolled k-step fixed-point power iteration (DuckDB twin)."""
    s = MARKOV_SCALE
    parts = [
        f"""
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ), pairs AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ), p AS (
        SELECT from_type, to_type,
               CAST(n * {s} // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                   AS p_s
        FROM pairs
    ), v_0 AS (
        SELECT from_type AS t,
               CAST({s} // (SELECT COUNT(DISTINCT from_type) FROM pairs)
                    AS BIGINT) AS v_s
        FROM (SELECT DISTINCT from_type FROM pairs)
    )"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""", v_{r} AS (
        SELECT p.to_type AS t,
               CAST(SUM(p.p_s * v.v_s) // {s} AS BIGINT) AS v_s
        FROM p JOIN v_{r - 1} v ON p.from_type = v.t
        GROUP BY 1
    )"""
        )
    parts.append(
        f"""
    SELECT t AS event_type, v_s AS stationary_scaled,
           ROUND(v_s / CAST({s} AS DOUBLE), 6) AS stationary
    FROM v_{k}
    ORDER BY event_type"""
    )
    return "".join(parts)


QUERIES["q185_markov_stationary"] = q185_markov_stationary
ORACLE["q185_markov_stationary"] = _q185_oracle_sql(MARKOV_STEPS)


def q197_audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra twin of q139's exact audience-overlap matrix:
    one HLL sketch per event type, pairwise INTERSECTION estimated by
    inclusion–exclusion (|A|+|B|−|A∪B|, the union merged from the two
    sketches) — the segment-overlap answer without ever joining on
    user_id. Like q123/q121, estimates are engine-defined, so the
    output carries the EXACT q139 counts plus a 7% deterministic-pass
    flag per pair (inclusion–exclusion differences roughly double the
    per-sketch rsd; lgK=14 → ~0.8%); the oracle recomputes the exact
    side and pins every flag TRUE. Shuffle is |types| sketch rows +
    the |types|² broadcast pair frame — user cardinality never moves."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk"),
        F.count_distinct("user_id").alias("n_exact"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n_exact").alias("n_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n_exact").alias("n_b"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.hll_sketch_estimate(F.col("sk_a")).alias("est_a"),
            F.hll_sketch_estimate(F.col("sk_b")).alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union("sk_a", "sk_b")
            ).alias("est_union"),
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_overlap"
            ),
        )
    )
    ut = ev.select("event_type", "user_id").distinct()
    xa = ut.select(F.col("event_type").alias("type_a"), "user_id")
    xb = ut.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        xa.join(xb, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    tol = F.lit(0.07) * F.greatest(F.col("n_both").cast("double"), F.lit(1.0))
    return (
        pairs.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (F.abs(F.col("est_overlap") - F.col("n_both")) <= tol).alias(
                "overlap_ok"
            ),
        )
        .orderBy("type_a", "type_b")
    )


ORACLE["q197_audience_overlap_hll"] = """
    WITH ut AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
        SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           sa.n AS n_a, sb.n AS n_b, p.n_both,
           TRUE AS overlap_ok
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    ORDER BY p.type_a, p.type_b
"""

QUERIES["q197_audience_overlap_hll"] = q197_audience_overlap_hll


KMV_K = 64
KMV_SCALE = float(1 << 60)


def q203_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type —
    the third mergeable cardinality estimator next to HLL (q123,
    engine-defined estimates) and exact bitmaps (q145): keep the k=64
    smallest md5 hash values of the distinct users; est = (k−1)/u_(k)
    with u_(k) the k-th minimum normalized to (0,1). Because the hash
    is md5 (not an engine-internal sketch), the ESTIMATE ITSELF is
    bit-replayable in DuckDB — full value parity with no tolerance
    flags, which neither DataSketches HLL nor approx_count_distinct
    can offer. Mergeable at scale: union the k-min sets, re-take the k
    smallest. One distinct aggregate + a per-type rank window on the
    (distinct users × type) frame; groups with ≤ k members report the
    exact count. At extreme per-type cardinality, prefilter h below a
    coarse hash threshold (any t with ≥ k survivors is lossless for
    the k-min set) before the rank window — the standard KMV pruning."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    ranked = du.select("event_type", "user_id", h).withColumn(
        "rk", F.row_number().over(w)
    )
    per_type = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("hk"),
    )
    est = F.when(
        F.col("hk").isNotNull(),
        F.round(F.lit(KMV_K - 1) / (F.col("hk") / F.lit(KMV_SCALE)), 4),
    ).otherwise(F.col("n_exact").cast("double"))
    return per_type.select(
        "event_type",
        "n_exact",
        est.alias("kmv_est"),
        F.round(
            F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    ).orderBy("event_type")


QUERIES["q203_kmv_distinct"] = q203_kmv_distinct
ORACLE["q203_kmv_distinct"] = f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), ranked AS (
        SELECT event_type, user_id,
               ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15))::BIGINT
                   AS h,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY ('0x' || substr(md5('kmv:' || user_id::VARCHAR),
                                            1, 15))::BIGINT, user_id) AS rk
        FROM du
    ), per_type AS (
        SELECT event_type, COUNT(*) AS n_exact,
               MAX(CASE WHEN rk = {KMV_K} THEN h END) AS hk
        FROM ranked GROUP BY 1
    )
    SELECT event_type, n_exact,
           CASE WHEN hk IS NOT NULL
                THEN ROUND(({KMV_K} - 1) / (hk / {KMV_SCALE}), 4)
                ELSE n_exact::DOUBLE END AS kmv_est,
           ROUND(ABS(CASE WHEN hk IS NOT NULL
                          THEN ROUND(({KMV_K} - 1) / (hk / {KMV_SCALE}), 4)
                          ELSE n_exact::DOUBLE END - n_exact)
                 / n_exact, 6) AS rel_err
    FROM per_type
    ORDER BY event_type
"""


def q204_kmv_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users via KMV MERGE — the mergeability
    demo q203 promises: each day keeps its k=64 smallest distinct-user
    hashes; a trailing window UNIONS the covered days' k-min sets and
    re-takes the k smallest (exactly how KMV merges), then estimates
    (k−1)/u_(k). Every step is md5 arithmetic, so unlike the HLL twin
    (q123, tolerance flags) the WHOLE rolling sketch — per-day sets,
    merge, estimate — value-matches the DuckDB replay bit-for-bit,
    alongside the exact trailing count for reference. Shuffle is
    days × k hash rows (the day→day+offset explode of q114/q123), not
    user-days."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "user_id"
    ).distinct()
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    wd = Window.partitionBy("day").orderBy("h", "user_id")
    daily = (
        du.select("day", "user_id", h)
        .withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") <= KMV_K)
        .select("day", "user_id", "h")
    )
    bounds = du.agg(F.max("day").alias("max_day"))
    covered = (
        daily.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k0"),
            "day",
            "user_id",
            "h",
        )
        .select(F.date_add(F.col("day"), F.col("k0")).alias("day"), "user_id", "h")
        .join(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("max_day"))
        .select("day", "user_id", "h")
        .distinct()
    )
    wm = Window.partitionBy("day").orderBy("h", "user_id")
    merged = covered.withColumn("rk", F.row_number().over(wm))
    per_day = merged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_in_union"),
        F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("hk"),
    )
    est = F.when(
        F.col("hk").isNotNull(),
        F.round(F.lit(KMV_K - 1) / (F.col("hk") / F.lit(KMV_SCALE)), 4),
    )
    exact = (
        du.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k0"), "day", "user_id"
        )
        .select(F.date_add(F.col("day"), F.col("k0")).alias("day"), "user_id")
        .join(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("max_day"))
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau_exact"))
    )
    return (
        per_day.join(exact, "day")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "wau_exact",
            F.coalesce(est, F.col("wau_exact").cast("double")).alias("wau_kmv"),
        )
        .orderBy("day")
    )


QUERIES["q204_kmv_rolling_wau"] = q204_kmv_rolling_wau
ORACLE["q204_kmv_rolling_wau"] = f"""
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ), hashed AS (
        SELECT day, user_id,
               ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15))::BIGINT
                   AS h
        FROM du
    ), daily AS (
        SELECT day, user_id, h FROM (
            SELECT day, user_id, h,
                   ROW_NUMBER() OVER (PARTITION BY day
                                      ORDER BY h, user_id) AS rk
            FROM hashed
        ) WHERE rk <= {KMV_K}
    ), bounds AS (
        SELECT MAX(day) AS max_day FROM du
    ), covered AS (
        SELECT DISTINCT day + k0::INTEGER AS day, user_id, h
        FROM daily, unnest(range(0, 7)) AS u(k0), bounds
        WHERE day + k0::INTEGER <= max_day
    ), merged AS (
        SELECT day, h,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY h, user_id) AS rk
        FROM covered
    ), per_day AS (
        SELECT day, MAX(CASE WHEN rk = {KMV_K} THEN h END) AS hk
        FROM merged GROUP BY 1
    ), exact AS (
        SELECT day, COUNT(*) AS wau_exact FROM (
            SELECT DISTINCT day + k0::INTEGER AS day, user_id
            FROM du, unnest(range(0, 7)) AS u(k0), bounds
            WHERE day + k0::INTEGER <= max_day
        ) GROUP BY 1
    )
    SELECT CAST(e.day AS TIMESTAMP) AS day, e.wau_exact,
           COALESCE(CASE WHEN p.hk IS NOT NULL
                    THEN ROUND(({KMV_K} - 1) / (p.hk / {KMV_SCALE}), 4) END,
                    e.wau_exact::DOUBLE) AS wau_kmv
    FROM exact e JOIN per_day p USING (day)
    ORDER BY day
"""


PERM_R = 32
PERM_SEED = "perm"


def q206_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the A/B mean difference — the
    nonparametric companion to q161's z-test and q122's bootstrap:
    the metric is each user's total purchase value; 32 md5-derived
    label permutations reassign arms and the p-value is the fraction
    of permuted |mean differences| at least as extreme as observed
    (+1/R+1 smoothing). Every draw is md5 arithmetic and every mean
    derives from DECIMAL-exact sums, so the whole null distribution —
    not just the verdict — replays bit-for-bit in the oracle. Shape:
    one fact collapse to per-user totals, then a users×32 explode into
    one hash aggregate — no resampling shuffle, the q122 discipline."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0.0)
            .cast("decimal(18,2)")
        ).alias("s")
    )

    def arm_means(df, arm_col):
        return (
            df.groupBy(arm_col.alias("arm"))
            .agg(
                F.sum("s").alias("t"),
                F.count(F.lit(1)).alias("n"),
            )
            .select("arm", (F.col("t").cast("double") / F.col("n")).alias("m"))
        )

    obs = arm_means(per_user, (F.col("user_id") % 2).cast("int"))
    obs_diff = (
        obs.groupBy()
        .pivot("arm", [0, 1])
        .agg(F.first("m"))
        .select((F.col("1") - F.col("0")).alias("obs_diff"))
    )
    perms = per_user.select(
        "s",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_R - 1))).alias("r"),
        "user_id",
    ).select(
        "s",
        "r",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(PERM_SEED + ":"),
                            F.col("r").cast("string"),
                            F.lit(":"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).cast("int").alias("arm"),
    )
    perm_means = (
        perms.groupBy("r", "arm")
        .agg(F.sum("s").alias("t"), F.count(F.lit(1)).alias("n"))
        .select("r", "arm", (F.col("t").cast("double") / F.col("n")).alias("m"))
    )
    perm_diff = (
        perm_means.groupBy("r")
        .pivot("arm", [0, 1])
        .agg(F.first("m"))
        .select("r", (F.col("1") - F.col("0")).alias("d"))
    )
    n_users = per_user.agg(F.count(F.lit(1)).alias("n_users"))
    extreme = (
        perm_diff.crossJoin(F.broadcast(obs_diff))
        .agg(
            F.sum(
                (F.abs(F.col("d")) >= F.abs(F.col("obs_diff"))).cast("long")
            ).alias("n_extreme")
        )
    )
    return (
        n_users.crossJoin(F.broadcast(obs_diff))
        .crossJoin(F.broadcast(extreme))
        .select(
            "n_users",
            F.round("obs_diff", 6).alias("obs_diff"),
            F.lit(PERM_R).alias("n_perms"),
            "n_extreme",
            F.round(
                (F.col("n_extreme") + 1) / F.lit(float(PERM_R + 1)), 6
            ).alias("p_value"),
        )
    )


QUERIES["q206_permutation_test"] = q206_permutation_test
ORACLE["q206_permutation_test"] = f"""
    WITH per_user AS (
        SELECT user_id,
               SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                             ELSE 0.0 END AS DECIMAL(18,2))) AS s
        FROM events GROUP BY 1
    ), obs AS (
        SELECT MAX(CASE WHEN arm = 1 THEN m END)
               - MAX(CASE WHEN arm = 0 THEN m END) AS obs_diff
        FROM (SELECT user_id % 2 AS arm,
                     CAST(SUM(s) AS DOUBLE) / COUNT(*) AS m
              FROM per_user GROUP BY 1)
    ), perm AS (
        SELECT r,
               MAX(CASE WHEN arm = 1 THEN m END)
               - MAX(CASE WHEN arm = 0 THEN m END) AS d
        FROM (
            SELECT r,
                   ('0x' || substr(md5('{PERM_SEED}:' || r::VARCHAR || ':'
                                       || user_id::VARCHAR), 1, 15))::BIGINT
                       % 2 AS arm,
                   CAST(SUM(s) AS DOUBLE) / COUNT(*) AS m
            FROM per_user, unnest(range(0, {PERM_R})) AS u(r)
            GROUP BY 1, 2
        ) GROUP BY r
    )
    SELECT (SELECT COUNT(*) FROM per_user) AS n_users,
           ROUND(o.obs_diff, 6) AS obs_diff,
           {PERM_R} AS n_perms,
           (SELECT SUM(CASE WHEN ABS(d) >= ABS(o.obs_diff)
                            THEN 1 ELSE 0 END)::BIGINT FROM perm) AS n_extreme,
           ROUND(((SELECT SUM(CASE WHEN ABS(d) >= ABS(o.obs_diff)
                                   THEN 1 ELSE 0 END) FROM perm) + 1)
                 / {float(PERM_R + 1)}, 6) AS p_value
    FROM obs o
"""


MKV_FOLDS = 5  # md5 user fold 0 is the held-out eval population


def q228_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model evaluation: train q106's first-order Markov
    next-event predictor on 80% of USERS (md5 fold split at the user
    grain, so no sequence straddles train and test) and score argmax
    next-event accuracy on the held-out users — the eval-harness step
    between fitting a transition matrix and trusting it for
    simulation. The model is |types|² rows; prediction is one
    broadcast join of the test transitions against the argmax table
    (ties broken lexicographically — count DESC, to_type ASC, a total
    order). Test transitions whose source state never occurs in
    training are excluded (no defined argmax), identically in both
    engines. Output is the per-state accuracy plus test support."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "fold",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mkv:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % MKV_FOLDS,
    )
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(seq))
        .filter(F.col("next_type").isNotNull())
        .select(
            "fold",
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
    )
    train = (
        pairs.filter(F.col("fold") != 0)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wm = Window.partitionBy("from_type").orderBy(F.desc("n"), F.col("to_type"))
    model = (
        train.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("from_type", F.col("to_type").alias("pred_type"))
    )
    test = pairs.filter(F.col("fold") == 0)
    return (
        test.join(F.broadcast(model), "from_type")
        .groupBy("from_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("to_type") == F.col("pred_type"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("to_type") == F.col("pred_type"), 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("from_type")
    )


ORACLE["q228_next_event_accuracy"] = f"""
    WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
               ('0x' || substr(md5('mkv:' || user_id::VARCHAR), 1, 15))::BIGINT
                   % {MKV_FOLDS} AS fold
        FROM events
    ), pairs AS (
        SELECT fold, event_type AS from_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM ev
    ), pp AS (
        SELECT * FROM pairs WHERE to_type IS NOT NULL
    ), train AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM pp WHERE fold <> 0 GROUP BY 1, 2
    ), model AS (
        SELECT from_type, to_type AS pred_type
        FROM (
            SELECT from_type, to_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY from_type ORDER BY n DESC, to_type
                   ) AS rk
            FROM train
        ) WHERE rk = 1
    )
    SELECT t.from_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.to_type = m.pred_type THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           ROUND(SUM(CASE WHEN t.to_type = m.pred_type THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
    FROM pp t JOIN model m USING (from_type)
    WHERE t.fold = 0
    GROUP BY 1
    ORDER BY 1
"""

QUERIES["q228_next_event_accuracy"] = q228_next_event_accuracy


SHAPLEY_CHANNELS = ("view", "click", "signup")  # bit 0, 1, 2


def _shapley_terms() -> list[tuple[int, int, int, int]]:
    """(channel_bit_index, S, S|{i}, weight×6) for the exact 3-player
    Shapley sum: phi(i) = sum over S ⊆ C\\{i} of
    |S|!(k-1-|S|)!/k! · [v(S∪{i}) − v(S)], k=3 → weights 2,1,1,2
    over |S| = 0,1,1,2 (times 1/6)."""
    import math

    k = len(SHAPLEY_CHANNELS)
    out = []
    for i in range(k):
        bit = 1 << i
        for s in range(1 << k):
            if s & bit:
                continue
            size = bin(s).count("1")
            w6 = math.factorial(size) * math.factorial(k - 1 - size)
            out.append((i, s, s | bit, w6))
    return out


def q242_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution (the game-theoretic
    multi-touch model next to q146's positional U-shape): each
    converting user contributes their pre-conversion touch SET
    (channels seen before the first purchase), the coalition value
    v(S) counts conversions reachable using only channels in S, and
    each channel's credit is its exact Shapley value — computed in
    CLOSED FORM over the 2^k = 8 coalition counts, so no sampling and
    no per-permutation pass. All arithmetic is integer until one final
    /6 (emitted both as the exact ×6 integer and a rounded double).
    Shape: one events scan -> per-user truncated journey
    (operators/attribution.py::first_conversion_journeys, the quartet's
    shared builder) -> channel-flag hash agg -> 8-row mask frame; the
    subset algebra runs on literal-joined 8×8 and 12-term coefficient
    frames. Conversions with an empty touch set form v(∅) (baseline,
    zero credit); the efficiency property sum phi = v(C) − v(∅) is
    pinned by test."""
    from batchprocessingetl_spark.operators.attribution import (
        first_conversion_journeys,
    )

    ev = load_table(spark, sf_dir, "events")
    journeys = first_conversion_journeys(ev).filter(F.col("fp_rn").isNotNull())
    flags = [
        F.max(
            (
                (F.col("event_type") == ch)
                & (F.col("ts") < F.col("first_conv_ts"))
            ).cast("int")
        ).alias(f"f{i}")
        for i, ch in enumerate(SHAPLEY_CHANNELS)
    ]
    masks = (
        journeys.groupBy("user_id")
        .agg(*flags)
        .select(
            (
                F.col("f0") + F.col("f1") * 2 + F.col("f2") * 4
            ).alias("mask")
        )
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    subsets = spark.range(1 << len(SHAPLEY_CHANNELS)).select(
        F.col("id").cast("int").alias("s")
    )
    v = (
        # complement within the 3-bit universe: ~s & 7 == 7 - s (s <= 7)
        subsets.join(masks, F.col("mask").bitwiseAND(F.lit(7) - F.col("s")) == 0, "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("v"))
    )
    terms = local_frame(
        spark,
        _shapley_terms(), "ch int, s int, s_i int, w6 long"
    )
    va = v.select(F.col("s").alias("s_i"), F.col("v").alias("v_with"))
    vb = v.select(F.col("s").alias("s"), F.col("v").alias("v_without"))
    phi = (
        terms.join(F.broadcast(va), "s_i")
        .join(F.broadcast(vb), "s")
        .groupBy("ch")
        .agg(
            F.sum(F.col("w6") * (F.col("v_with") - F.col("v_without"))).alias(
                "phi_x6"
            )
        )
    )
    names = local_frame(
        spark,
        [(i, ch) for i, ch in enumerate(SHAPLEY_CHANNELS)], "ch int, channel string"
    )
    return (
        phi.join(F.broadcast(names), "ch")
        .select(
            "channel",
            "phi_x6",
            F.round(F.col("phi_x6").cast("double") / 6.0, 6).alias("shapley"),
        )
        .orderBy("channel")
    )


_Q242_TERMS_VALUES = ", ".join(
    f"({i}, {s}, {si}, {w})" for i, s, si, w in _shapley_terms()
)
_Q242_CH_VALUES = ", ".join(
    f"({i}, '{ch}')" for i, ch in enumerate(SHAPLEY_CHANNELS)
)

ORACLE["q242_shapley_attribution"] = f"""
    WITH first_p AS (
        SELECT user_id, MIN(ts) AS first_ts FROM events
        WHERE event_type = 'purchase' GROUP BY 1
    ), masks AS (
        SELECT mask, COUNT(*) AS n FROM (
            SELECT e.user_id,
                   MAX(CASE WHEN e.event_type = 'view' AND e.ts < f.first_ts
                            THEN 1 ELSE 0 END)
                   + 2 * MAX(CASE WHEN e.event_type = 'click' AND e.ts < f.first_ts
                                  THEN 1 ELSE 0 END)
                   + 4 * MAX(CASE WHEN e.event_type = 'signup' AND e.ts < f.first_ts
                                  THEN 1 ELSE 0 END) AS mask
            FROM events e JOIN first_p f ON e.user_id = f.user_id
            GROUP BY 1
        ) GROUP BY 1
    ), subsets AS (
        SELECT unnest(range(0, 8))::INT AS s
    ), v AS (
        SELECT s.s, COALESCE(SUM(m.n), 0) AS v
        FROM subsets s LEFT JOIN masks m ON (m.mask & (7 - s.s)) = 0
        GROUP BY 1
    ), terms(ch, s, s_i, w6) AS (
        VALUES {_Q242_TERMS_VALUES}
    ), phi AS (
        SELECT t.ch, SUM(t.w6 * (va.v - vb.v)) AS phi_x6
        FROM terms t
        JOIN v va ON va.s = t.s_i
        JOIN v vb ON vb.s = t.s
        GROUP BY 1
    ), names(ch, channel) AS (
        VALUES {_Q242_CH_VALUES}
    )
    SELECT n.channel, CAST(p.phi_x6 AS BIGINT) AS phi_x6,
           ROUND(CAST(p.phi_x6 AS DOUBLE) / 6.0, 6) AS shapley
    FROM phi p JOIN names n ON n.ch = p.ch
    ORDER BY n.channel
"""

QUERIES["q242_shapley_attribution"] = q242_shapley_attribution


RE_SCALE = 10**6
RE_STEPS = 8
RE_CHANNELS = SHAPLEY_CHANNELS  # removable touch channels (q242 pairing)


def q250_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect channel attribution (Anderl et al. 2016)
    — the data-driven complement to q242's game-theoretic Shapley and
    q146's positional heuristic: model journeys as a first-order chain
    (START -> events ... -> PURCHASE | NULL, truncated at the first
    purchase), then credit each channel by how much the start->purchase
    absorption probability DROPS when that channel's state is removed
    (transitions into it redirect to NULL — paths through it die).
    All chain algebra is FIXED-POINT INTEGER: probabilities floor-
    scaled by 1e6, absorption computed by 8 unrolled value-iteration
    steps with floor division (the q185/q220 discipline), so the
    scaled conversion probabilities are bit-identical cross-engine;
    the only doubles are the final removal-effect ratios, rounded 6dp.
    Shape: ONE user-keyed window pass (operators/attribution.py::
    first_conversion_journeys, the quartet's shared builder) collapses
    the fact table to the <= (|types|+2)^2 transition frame; the
    4 chains x 8 steps run on that broadcast-sized frame behind one
    barrier."""
    from batchprocessingetl_spark.operators.attribution import (
        first_conversion_journeys,
    )
    from batchprocessingetl_spark.operators.iteration import barrier

    ev = load_table(spark, sf_dir, "events")
    kept = first_conversion_journeys(ev)
    kseq = Window.partitionBy("user_id").orderBy("rn")
    mid = (
        kept.withColumn("next_type", F.lead("event_type").over(kseq))
        .filter(F.col("next_type").isNotNull())
        .select(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
    )
    start = kept.filter(F.col("rn") == 1).select(
        F.lit("__start").alias("from_type"), F.col("event_type").alias("to_type")
    )
    last = Window.partitionBy("user_id").orderBy(F.desc("rn"))
    end = (
        kept.filter(F.col("fp_rn").isNull())
        .withColumn("__r", F.row_number().over(last))
        .filter(F.col("__r") == 1)
        .select(
            F.col("event_type").alias("from_type"),
            F.lit("__null").alias("to_type"),
        )
    )
    pairs = (
        mid.unionByName(start)
        .unionByName(end)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p_full = barrier(
        pairs.select(
            "from_type",
            "to_type",
            F.expr(
                f"n * {RE_SCALE} div sum(n) over (partition by from_type)"
            ).alias("p_s"),
        )
    )
    states = barrier(
        p_full.select(F.col("from_type").alias("t"))
        .unionByName(p_full.select(F.col("to_type").alias("t")))
        .distinct()
    )

    def absorb(p: DataFrame) -> DataFrame:
        """v_k(__start): P(absorbed at purchase within k steps), scaled."""
        v = states.select(
            "t",
            F.when(F.col("t") == "purchase", F.lit(RE_SCALE))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("v_s"),
        )
        for _ in range(RE_STEPS):
            stepped = (
                p.join(v, p["to_type"] == v["t"])
                .groupBy(F.col("from_type").alias("t2"))
                .agg(F.expr(f"sum(p_s * v_s) div {RE_SCALE}").alias("nv"))
            )
            v = states.join(
                stepped, states["t"] == stepped["t2"], "left"
            ).select(
                "t",
                F.when(F.col("t") == "purchase", F.lit(RE_SCALE))
                .otherwise(F.coalesce("nv", F.lit(0)))
                .cast("long")
                .alias("v_s"),
            )
        return v.filter(F.col("t") == "__start").select(
            F.col("v_s").alias("conv_scaled")
        )

    full = absorb(p_full).select(
        F.lit("__full").alias("channel"), "conv_scaled"
    )
    out = full
    for ch in RE_CHANNELS:
        p_c = (
            p_full.filter(F.col("from_type") != ch)
            .select(
                "from_type",
                F.when(F.col("to_type") == ch, F.lit("__null"))
                .otherwise(F.col("to_type"))
                .alias("to_type"),
                "p_s",
            )
            .groupBy("from_type", "to_type")
            .agg(F.sum("p_s").alias("p_s"))
        )
        out = out.unionByName(
            absorb(p_c).select(F.lit(ch).alias("channel"), "conv_scaled")
        )
    base = full.select(F.col("conv_scaled").alias("base"))
    return (
        out.crossJoin(F.broadcast(base))
        .select(
            "channel",
            "conv_scaled",
            F.when(
                F.col("channel") == "__full", F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.lit(1.0)
                    - F.col("conv_scaled").cast("double") / F.col("base"),
                    6,
                )
            )
            .alias("removal_effect"),
        )
        .orderBy("channel")
    )


def _q250_oracle_sql(k: int) -> str:
    s = RE_SCALE
    head = f"""
    WITH rn AS MATERIALIZED (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), fp AS MATERIALIZED (
        SELECT user_id, MIN(rn) AS fp_rn FROM rn
        WHERE event_type = 'purchase' GROUP BY 1
    ), kept AS MATERIALIZED (
        SELECT r.user_id, r.event_type, r.rn, f.fp_rn
        FROM rn r LEFT JOIN fp f ON r.user_id = f.user_id
        WHERE f.fp_rn IS NULL OR r.rn <= f.fp_rn
    ), pairs AS MATERIALIZED (
        SELECT from_type, to_type, COUNT(*) AS n FROM (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY rn) AS to_type
            FROM kept
            UNION ALL
            SELECT '__start', event_type FROM kept WHERE rn = 1
            UNION ALL
            SELECT event_type, '__null' FROM (
                SELECT event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY rn DESC) AS r
                FROM kept WHERE fp_rn IS NULL
            ) WHERE r = 1
        ) WHERE to_type IS NOT NULL
        GROUP BY 1, 2
    ), p_full AS MATERIALIZED (
        SELECT from_type, to_type,
               CAST(n * {s} // SUM(n) OVER (PARTITION BY from_type)
                    AS BIGINT) AS p_s
        FROM pairs
    ), states AS MATERIALIZED (
        SELECT from_type AS t FROM p_full
        UNION SELECT to_type FROM p_full
    )"""
    variants = [("__full", "p_full")]
    chains = []
    for ch in RE_CHANNELS:
        pname = f"p_no_{ch}"
        chains.append(
            f""", {pname} AS MATERIALIZED (
        SELECT from_type,
               CASE WHEN to_type = '{ch}' THEN '__null' ELSE to_type END
                   AS to_type2, SUM(p_s) AS p_s
        FROM p_full WHERE from_type <> '{ch}'
        GROUP BY 1, 2
    )"""
        )
        variants.append((ch, pname))
    for tag, pname in variants:
        to_col = "to_type" if pname == "p_full" else "to_type2"
        chains.append(
            f""", v_{tag}_0 AS MATERIALIZED (
        SELECT t, CASE WHEN t = 'purchase' THEN {s} ELSE 0 END::BIGINT AS v_s
        FROM states
    )"""
        )
        for r in range(1, k + 1):
            chains.append(
                f""", v_{tag}_{r} AS MATERIALIZED (
        SELECT st.t,
               CASE WHEN st.t = 'purchase' THEN {s}
                    ELSE COALESCE(x.nv, 0) END::BIGINT AS v_s
        FROM states st LEFT JOIN (
            SELECT p.from_type AS t2,
                   CAST(SUM(p.p_s * v.v_s) // {s} AS BIGINT) AS nv
            FROM {pname} p JOIN v_{tag}_{r - 1} v ON p.{to_col} = v.t
            GROUP BY 1
        ) x ON st.t = x.t2
    )"""
            )
    selects = []
    for tag, _ in variants:
        name = "'__full'" if tag == "__full" else f"'{tag}'"
        eff = (
            "0.0"
            if tag == "__full"
            else (
                f"ROUND(1.0 - CAST(v.v_s AS DOUBLE) / "
                f"(SELECT v_s FROM v___full_{k} WHERE t = '__start'), 6)"
            )
        )
        selects.append(
            f"""
    SELECT {name} AS channel, CAST(v.v_s AS BIGINT) AS conv_scaled,
           {eff} AS removal_effect
    FROM v_{tag}_{k} v WHERE v.t = '__start'"""
        )
    return head + "".join(chains) + "\n    UNION ALL".join(selects) + "\n    ORDER BY channel"


QUERIES["q250_markov_removal_attribution"] = q250_markov_removal_attribution
ORACLE["q250_markov_removal_attribution"] = _q250_oracle_sql(RE_STEPS)


CRC_W1 = (1, 10)   # capture window 1: days 1-10
CRC_W2 = (11, 20)  # capture window 2: days 11-20
CRC_Z = 1.96


def q260_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture–recapture estimate of the TOTAL user population
    from two observation windows — the ecology estimator product
    analytics reuses to ask "how many users exist that we never see":
    capture 1 = users active in days 1-10, capture 2 = days 11-20,
    N̂ = (n1+1)(n2+1)/(m+1) − 1 with the standard variance and a 95%
    Wald interval. Everything is exact integer counts off one events
    scan (two conditional distinct aggregates + an intersection
    semi-count); the estimator arithmetic is a fixed double expression
    of those integers, rounded 4dp. Also reports the users actually
    observed in either window — the estimate's lower bound."""
    ev = load_table(spark, sf_dir, "events")
    d = F.dayofmonth("ts")
    tagged = ev.select(
        "user_id",
        ((d >= CRC_W1[0]) & (d <= CRC_W1[1])).cast("int").alias("w1"),
        ((d >= CRC_W2[0]) & (d <= CRC_W2[1])).cast("int").alias("w2"),
    ).groupBy("user_id").agg(
        F.max("w1").alias("w1"), F.max("w2").alias("w2")
    )
    cells = tagged.agg(
        F.sum("w1").alias("n1"),
        F.sum("w2").alias("n2"),
        F.sum(F.col("w1") * F.col("w2")).alias("m"),
        F.sum(
            F.when((F.col("w1") == 1) | (F.col("w2") == 1), 1).otherwise(0)
        ).alias("observed"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m = F.col("m").cast("double")
    est = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    var = (
        (n1 + 1)
        * (n2 + 1)
        * (n1 - m)
        * (n2 - m)
        / ((m + 1) * (m + 1) * (m + 2))
    )
    return cells.select(
        F.col("n1").cast("long").alias("n_capture1"),
        F.col("n2").cast("long").alias("n_capture2"),
        F.col("m").cast("long").alias("n_recaptured"),
        F.col("observed").cast("long").alias("n_observed"),
        F.round(est, 4).alias("chapman_estimate"),
        F.round(est - F.lit(CRC_Z) * F.sqrt(var), 4).alias("ci_lo"),
        F.round(est + F.lit(CRC_Z) * F.sqrt(var), 4).alias("ci_hi"),
    )


ORACLE["q260_capture_recapture"] = f"""
    WITH tagged AS (
        SELECT user_id,
               MAX(CASE WHEN EXTRACT(day FROM ts) BETWEEN {CRC_W1[0]} AND {CRC_W1[1]}
                        THEN 1 ELSE 0 END) AS w1,
               MAX(CASE WHEN EXTRACT(day FROM ts) BETWEEN {CRC_W2[0]} AND {CRC_W2[1]}
                        THEN 1 ELSE 0 END) AS w2
        FROM events GROUP BY 1
    ), cells AS (
        SELECT CAST(SUM(w1) AS BIGINT) AS n1, CAST(SUM(w2) AS BIGINT) AS n2,
               CAST(SUM(w1 * w2) AS BIGINT) AS m,
               CAST(SUM(CASE WHEN w1 = 1 OR w2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS observed
        FROM tagged
    )
    SELECT n1 AS n_capture1, n2 AS n_capture2, m AS n_recaptured,
           observed AS n_observed,
           ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1, 4) AS chapman_estimate,
           ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1
                 - {CRC_Z} * SQRT((n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
                                  / ((m + 1.0) * (m + 1.0) * (m + 2.0))), 4)
               AS ci_lo,
           ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1
                 + {CRC_Z} * SQRT((n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
                                  / ((m + 1.0) * (m + 1.0) * (m + 2.0))), 4)
               AS ci_hi
    FROM cells
"""

QUERIES["q260_capture_recapture"] = q260_capture_recapture


TD_WINDOW_H = 168  # attribution lookback (hours)
TD_HALF_LIFE_H = 24.0


def q267_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — credit ∝ 2^(−Δt/halflife)
    for every touch (view/click/signup) within 7 days before a
    purchase, normalized per conversion — completing the attribution
    QUARTET: positional U-shape (q146), game-theoretic Shapley (q242),
    Markov removal effect (q250), and recency-weighted time decay
    (industry default in ad platforms). Shape: one user-keyed interval
    join (operators/attribution.py::conversion_touch_frame — the SAME
    shared builder as q146, strict upper bound), per-conversion weight
    sums joined back for the normalization, one final channel rollup.
    Exactness: Δt is exact integer microseconds; each weight rounds
    9dp into DECIMAL, each per-conversion share is one double division
    re-rounded 9dp, and channel totals sum DECIMALs — deterministic
    cross-engine (ln/exp at 9dp, the q160 precedent)."""
    from batchprocessingetl_spark.operators.attribution import conversion_touch_frame

    ev = load_table(spark, sf_dir, "events")
    joined = conversion_touch_frame(
        ev, SHAPLEY_CHANNELS, TD_WINDOW_H * 3600, inclusive=False
    ).select(
        F.col("conversion_id").alias("pid"),
        "channel",
        F.round(
            F.pow(
                F.lit(2.0),
                -(
                    (
                        F.unix_micros("conv_ts") - F.unix_micros("touch_ts")
                    ).cast("double")
                    / F.lit(3600.0 * 1e6)
                )
                / F.lit(TD_HALF_LIFE_H),
            ),
            9,
        )
        .cast("decimal(28,10)")
        .alias("w"),
    )
    per_conv = joined.groupBy("pid").agg(F.sum("w").alias("wsum"))
    shares = joined.join(per_conv, "pid").select(
        "channel",
        F.round(
            F.col("w").cast("double") / F.col("wsum").cast("double"), 9
        )
        .cast("decimal(28,10)")
        .alias("share"),
    )
    return (
        shares.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("share").cast("double"), 6).alias("total_credit"),
        )
        .orderBy("channel")
    )


_Q267_CH_IN = ", ".join(f"'{c}'" for c in SHAPLEY_CHANNELS)

ORACLE["q267_time_decay_attribution"] = f"""
    WITH p AS (
        SELECT event_id AS pid, user_id AS pu, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ), t AS (
        SELECT user_id AS tu, event_type AS channel, ts AS tts
        FROM events WHERE event_type IN ({_Q267_CH_IN})
    ), joined AS (
        SELECT p.pid, t.channel,
               CAST(ROUND(POW(2.0,
                   -(CAST(EPOCH_US(p.pts) - EPOCH_US(t.tts) AS DOUBLE)
                     / (3600.0 * 1e6)) / {TD_HALF_LIFE_H}), 9)
                    AS DECIMAL(28,10)) AS w
        FROM p JOIN t
          ON p.pu = t.tu
         AND t.tts < p.pts
         AND t.tts >= p.pts - INTERVAL {TD_WINDOW_H} HOURS
    ), per_conv AS (
        SELECT pid, SUM(w) AS wsum FROM joined GROUP BY 1
    ), shares AS (
        SELECT j.channel,
               CAST(ROUND(CAST(j.w AS DOUBLE) / CAST(c.wsum AS DOUBLE), 9)
                    AS DECIMAL(28,10)) AS share
        FROM joined j JOIN per_conv c USING (pid)
    )
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(CAST(SUM(share) AS DOUBLE), 6) AS total_credit
    FROM shares GROUP BY 1 ORDER BY 1
"""

QUERIES["q267_time_decay_attribution"] = q267_time_decay_attribution


def q268_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA — the estimator read that makes KMV
    (q203/q204) strictly more useful than HLL at the same size: for
    every unordered pair of event types, estimate |A ∪ B| from the
    MERGED k-min set (union the two sketches, re-take the k smallest —
    the mergeability contract) and |A ∩ B| via the standard KMV
    Jaccard estimator (the fraction of the union's k minima present in
    BOTH input sketches), with the EXACT union/intersection computed
    alongside as the audit. Because the hash is md5, every estimate is
    bit-replayable in DuckDB — full value parity, no tolerance flags.
    Shape: one distinct (type, user) aggregate; sketches are k rows per
    type, so all pair algebra runs on <= |types|·k collapsed rows."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    hashed = du.select("event_type", "user_id", h)
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    sketch = (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KMV_K)
        .select("event_type", "user_id", "h")
    )
    types = du.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    # exact union / intersection from the distinct frame (the audit)
    mem = hashed.select("event_type", "user_id")
    exact_a = mem.select(F.col("event_type").alias("type_a"), "user_id")
    exact_b = mem.select(F.col("event_type").alias("type_b"), "user_id")
    exact_counts = (
        pairs.join(exact_a, "type_a")
        .join(
            exact_b.withColumnRenamed("user_id", "ub"),
            "type_b",
        )
        .filter(F.col("user_id") == F.col("ub"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter_exact"))
    )
    sizes = hashed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    exact_full = (
        pairs.join(
            sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na")),
            "type_a",
        )
        .join(
            sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb")),
            "type_b",
        )
        .join(exact_counts, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            (F.col("na") + F.col("nb") - F.coalesce("n_inter_exact", F.lit(0))).alias(
                "n_union_exact"
            ),
            F.coalesce("n_inter_exact", F.lit(0)).alias("n_inter_exact"),
        )
    )
    # merged sketch per pair: union of the two k-min sets, re-ranked
    sk_a = sketch.select(
        F.col("event_type").alias("type_a"), "user_id", "h"
    )
    sk_b = sketch.select(
        F.col("event_type").alias("type_b"), "user_id", "h"
    )
    merged = (
        pairs.join(sk_a, "type_a")
        .select("type_a", "type_b", "user_id", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(sk_b, "type_b").select(
                "type_a", "type_b", "user_id", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("type_a", "type_b", "user_id", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wm = Window.partitionBy("type_a", "type_b").orderBy("h", "user_id")
    mk = merged.withColumn("rk", F.row_number().over(wm)).filter(
        F.col("rk") <= KMV_K
    )
    stats = mk.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("hk"),
        F.sum((F.col("in_a") * F.col("in_b"))).alias("n_both"),
    )
    union_est = F.when(
        F.col("hk").isNotNull(),
        F.round(F.lit(KMV_K - 1) / (F.col("hk") / F.lit(KMV_SCALE)), 4),
    ).otherwise(F.col("k_used").cast("double"))
    jacc = F.round(F.col("n_both") / F.col("k_used").cast("double"), 6)
    return (
        exact_full.join(stats, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_union_exact",
            "n_inter_exact",
            union_est.alias("kmv_union_est"),
            jacc.alias("kmv_jaccard"),
            F.round(jacc * union_est, 4).alias("kmv_inter_est"),
        )
        .orderBy("type_a", "type_b")
    )


_Q268_H = "('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15))::BIGINT"

ORACLE["q268_kmv_set_ops"] = f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), hashed AS (
        SELECT event_type, user_id, {_Q268_H} AS h FROM du
    ), sketch AS (
        SELECT event_type, user_id, h FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY event_type ORDER BY h, user_id) AS rk
            FROM hashed
        ) WHERE rk <= {KMV_K}
    ), types AS (
        SELECT DISTINCT event_type FROM du
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM types a JOIN types b ON a.event_type < b.event_type
    ), sizes AS (
        SELECT event_type, COUNT(*) AS n FROM hashed GROUP BY 1
    ), inter AS (
        SELECT p.type_a, p.type_b, COUNT(*) AS n_inter_exact
        FROM pairs p
        JOIN hashed a ON a.event_type = p.type_a
        JOIN hashed b ON b.event_type = p.type_b AND b.user_id = a.user_id
        GROUP BY 1, 2
    ), exact_full AS (
        SELECT p.type_a, p.type_b,
               sa.n + sb.n - COALESCE(i.n_inter_exact, 0) AS n_union_exact,
               COALESCE(i.n_inter_exact, 0) AS n_inter_exact
        FROM pairs p
        JOIN sizes sa ON sa.event_type = p.type_a
        JOIN sizes sb ON sb.event_type = p.type_b
        LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
    ), merged AS (
        SELECT type_a, type_b, user_id, h,
               MAX(in_a) AS in_a, MAX(in_b) AS in_b
        FROM (
            SELECT p.type_a, p.type_b, s.user_id, s.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN sketch s ON s.event_type = p.type_a
            UNION ALL
            SELECT p.type_a, p.type_b, s.user_id, s.h, 0 AS in_a, 1 AS in_b
            FROM pairs p JOIN sketch s ON s.event_type = p.type_b
        ) GROUP BY 1, 2, 3, 4
    ), mk AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY type_a, type_b ORDER BY h, user_id) AS rk
            FROM merged
        ) WHERE rk <= {KMV_K}
    ), stats AS (
        SELECT type_a, type_b,
               CAST(COUNT(*) AS BIGINT) AS k_used,
               MAX(CASE WHEN rk = {KMV_K} THEN h END) AS hk,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
        FROM mk GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b,
           CAST(e.n_union_exact AS BIGINT) AS n_union_exact,
           CAST(e.n_inter_exact AS BIGINT) AS n_inter_exact,
           CASE WHEN s.hk IS NOT NULL
                THEN ROUND(({KMV_K} - 1) / (s.hk / {KMV_SCALE}), 4)
                ELSE s.k_used::DOUBLE END AS kmv_union_est,
           ROUND(s.n_both / CAST(s.k_used AS DOUBLE), 6) AS kmv_jaccard,
           ROUND(ROUND(s.n_both / CAST(s.k_used AS DOUBLE), 6)
                 * CASE WHEN s.hk IS NOT NULL
                        THEN ROUND(({KMV_K} - 1) / (s.hk / {KMV_SCALE}), 4)
                        ELSE s.k_used::DOUBLE END, 4) AS kmv_inter_est
    FROM exact_full e
    JOIN stats s ON s.type_a = e.type_a AND s.type_b = e.type_b
    ORDER BY e.type_a, e.type_b
"""

QUERIES["q268_kmv_set_ops"] = q268_kmv_set_ops


def q318_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the q106/q185 event-transition chain —
    H = -sum_i pi_i sum_j P_ij log2 P_ij, 'how predictable is the next
    user action', the information-theoretic read that composes the
    transition matrix (q106), the stationary distribution (q185), and
    the repo's entropy discipline (q301): both the transition
    probabilities P_ij and the stationary vector pi come from q185's
    bit-exact FIXED-POINT integer machinery (scale 1e6, floor
    division, 8 unrolled power steps — no float anywhere in the
    iteration), and every transcendental term
    (p/S)*log2(p/S) / pi*(p/S)*log2(p/S) is ONE double chain on those
    exact integers rounded 9dp into DECIMAL(28,9), so the per-state
    sums and the total are exact and order-free. One user-keyed window
    pass is the only data-proportional work; the chain algebra runs on
    the |types|^2 frame. Output: one row per state (stationary mass,
    row entropy H_i, weighted contribution) plus the '__total__'
    entropy-rate row."""
    ev = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(seq))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = pairs.select(
        "from_type",
        "to_type",
        F.expr(
            f"n * {MARKOV_SCALE} div sum(n) over (partition by from_type)"
        ).alias("p_s"),
    )
    from batchprocessingetl_spark.operators.iteration import barrier

    p = barrier(p)
    states = p.select(F.col("from_type").alias("t")).distinct()
    n_states = states.count()
    v = states.select("t", F.lit(MARKOV_SCALE // n_states).alias("v_s"))
    for _ in range(MARKOV_STEPS):
        v = (
            p.join(v, p["from_type"] == v["t"])
            .groupBy(F.col("to_type").alias("t2"))
            .agg(F.expr(f"sum(p_s * v_s) div {MARKOV_SCALE}").alias("v_s"))
            .select(F.col("t2").alias("t"), "v_s")
        )
    s = float(MARKOV_SCALE)
    pd_ = F.col("p_s").cast("double") / F.lit(s)
    h_term = F.when(
        F.col("p_s") > 0, F.round(-(pd_ * F.log2(pd_)), 9)
    ).otherwise(F.lit(0.0)).cast("decimal(28,9)")
    c_term = F.when(
        F.col("p_s") > 0,
        F.round(
            -(F.col("v_s").cast("double") / F.lit(s)) * (pd_ * F.log2(pd_)), 9
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(28,9)")
    rows = (
        p.join(v, p["from_type"] == v["t"])
        .select("from_type", "v_s", h_term.alias("h"), c_term.alias("c"))
        .groupBy("from_type")
        .agg(
            F.max("v_s").alias("v_s"),
            F.sum("h").alias("h_row"),
            F.sum("c").alias("contribution"),
        )
        .select(
            "from_type",
            F.round(F.col("v_s") / F.lit(s), 6).alias("stationary"),
            F.col("h_row").cast("double").alias("h_row"),
            F.col("contribution").cast("double").alias("contribution"),
        )
    )
    total = rows.agg(
        F.lit("__total__").alias("from_type"),
        F.round(F.sum(F.col("stationary")), 6).alias("stationary"),
        F.round(F.sum(F.col("h_row").cast("decimal(28,9)")).cast("double"), 9).alias("h_row"),
        F.round(
            F.sum(F.col("contribution").cast("decimal(28,9)")).cast("double"), 9
        ).alias("contribution"),
    )
    return rows.unionByName(total).orderBy("from_type")


def _q318_oracle_sql(k: int) -> str:
    s = MARKOV_SCALE
    parts = [
        f"""
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ), pairs AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ), p AS (
        SELECT from_type, to_type,
               CAST(n * {s} // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                   AS p_s
        FROM pairs
    ), v_0 AS (
        SELECT from_type AS t,
               CAST({s} // (SELECT COUNT(DISTINCT from_type) FROM pairs)
                    AS BIGINT) AS v_s
        FROM (SELECT DISTINCT from_type FROM pairs)
    )"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""", v_{r} AS (
        SELECT p.to_type AS t,
               CAST(SUM(p.p_s * v.v_s) // {s} AS BIGINT) AS v_s
        FROM p JOIN v_{r - 1} v ON p.from_type = v.t
        GROUP BY 1
    )"""
        )
    parts.append(
        f""", terms AS (
        SELECT p.from_type, v.v_s,
               CAST(CASE WHEN p.p_s > 0 THEN ROUND(
                    -(p.p_s / {s}.0) * LOG2(p.p_s / {s}.0), 9)
                    ELSE 0.0 END AS DECIMAL(28,9)) AS h,
               CAST(CASE WHEN p.p_s > 0 THEN ROUND(
                    -(v.v_s / {s}.0) * ((p.p_s / {s}.0)
                                        * LOG2(p.p_s / {s}.0)), 9)
                    ELSE 0.0 END AS DECIMAL(28,9)) AS c
        FROM p JOIN v_{k} v ON p.from_type = v.t
    ), rows_ AS (
        SELECT from_type,
               ROUND(MAX(v_s) / {s}.0, 6) AS stationary,
               CAST(SUM(h) AS DOUBLE) AS h_row,
               CAST(SUM(c) AS DOUBLE) AS contribution
        FROM terms GROUP BY 1
    ), tot AS (
        SELECT '__total__' AS from_type,
               ROUND(SUM(stationary), 6) AS stationary,
               ROUND(CAST(SUM(CAST(h_row AS DECIMAL(28,9))) AS DOUBLE), 9)
                   AS h_row,
               ROUND(CAST(SUM(CAST(contribution AS DECIMAL(28,9))) AS DOUBLE),
                     9) AS contribution
        FROM rows_
    )
    SELECT * FROM rows_ UNION ALL SELECT * FROM tot ORDER BY from_type"""
    )
    return "".join(parts)


QUERIES["q318_markov_entropy_rate"] = q318_markov_entropy_rate
ORACLE["q318_markov_entropy_rate"] = _q318_oracle_sql(MARKOV_STEPS)
