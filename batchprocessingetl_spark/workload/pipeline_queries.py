"""Pipeline-operator queries: the reference's medallion-layer composites
bound to the test tables, each with a full DuckDB oracle.

- ``q40_staging_clean`` re-expresses the staging cleaner chain
  (``/root/reference/src/staging/staging_layer.py:55-84``): dedup ->
  null filter -> casts -> fillna -> derived columns.
- ``q41_scd2_demo`` drives the corrected SCD2 merge
  (operators/scd2.py) on a deterministic synthetic change batch built
  from ``customer``, covering all four reference bug classes B1-B4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.operators.scd2 import apply_scd2

SCD2_EXISTING_TS = "2020-01-01 00:00:00"
SCD2_BATCH_TS = "2024-01-01 00:00:00"


def q40_staging_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging cleaner on lineitem: dropDuplicates (pk grain) -> filter
    nulls -> cast -> fillna -> two derived columns (profit-margin /
    restock-flag analogues of staging_layer.py:76-84). Entirely
    narrow transformations except the dedup shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    redelivered = li.union(li)  # simulate overlapping re-extraction (raw_layer.py:124-126)
    # the price product has <= 4 decimal digits: capture it exactly as
    # DECIMAL before rounding so .xx5 ties round identically everywhere
    revenue = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"), 2).cast(
        "double"
    )
    return (
        # full-row dedup, as the reference's dropDuplicates() (staging_layer.py:56)
        redelivered.dropDuplicates()
        .filter(F.col("l_shipdate").isNotNull())
        .withColumn("quantity", F.col("l_quantity").cast("int"))
        .fillna({"l_discount": 0.0, "l_tax": 0.0})
        .withColumn("revenue", revenue)
        .withColumn(
            "is_high_value",
            F.when(revenue > 40000, F.lit("Yes")).otherwise(F.lit("No")),
        )
        .select("l_orderkey", "l_linenumber", "quantity", "revenue", "is_high_value")
        .orderBy("l_orderkey", "l_linenumber")
    )


def _scd2_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic existing-dimension + change-batch pair from customer.

    Change batch exercises: attribute change (segment), value->NULL and
    NULL->value transitions (acctbal, B3), brand-new keys (B2), dropped
    keys (customers missing from the batch pass through), and unchanged
    rows (B1)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        # existing snapshot: acctbal NULL for custkey % 11 == 0 (NULL->value case)
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.round("c_acctbal", 2))
        .alias("acctbal"),
    )
    existing = cust.select(
        "c_custkey",
        "segment",
        "acctbal",
        F.lit(SCD2_EXISTING_TS).cast("timestamp").alias("start_date"),
        F.lit(None).cast("timestamp").alias("end_date"),
        F.lit(True).alias("is_current"),
    )
    base = load_table(spark, sf_dir, "customer")
    batch = base.filter(F.col("c_custkey") % 3 != 0).select(  # %3==0 keys absent from batch
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("double"))  # value->NULL
        .when(F.col("c_custkey") % 11 == 0, F.round(F.col("c_acctbal") + 50.0, 2))  # NULL->value
        .otherwise(F.round("c_acctbal", 2))
        .alias("acctbal"),
    )
    new_keys = base.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    return batch.unionByName(new_keys), existing


def q41_scd2_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrected SCD2 merge; output every version row with its validity
    interval. See operators/scd2.py for semantics and plan shape."""
    new_data, existing = _scd2_inputs(spark, sf_dir)
    out = apply_scd2(
        new_data,
        existing,
        primary_key=["c_custkey"],
        update_columns=["segment", "acctbal"],
        batch_ts=SCD2_BATCH_TS,
    )
    return out.select(
        "c_custkey", "segment", "acctbal", "start_date", "end_date", "is_current"
    ).orderBy("c_custkey", "start_date", "is_current")


def q42_scd2_initial_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 initial-load branch (existing is None -> all rows current,
    reference curated_layer.py:73-77)."""
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal")
    )
    out = apply_scd2(
        supplier,
        None,
        primary_key=["s_suppkey"],
        update_columns=["s_name", "s_acctbal"],
        batch_ts=SCD2_BATCH_TS,
    )
    return out.orderBy("s_suppkey")


def q43_salted_supplier_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py) — must be
    bit-identical to a plain GROUP BY; the oracle is exactly that."""
    from batchprocessingetl_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_suppkey"],
        {
            "sum_qty": ("sum", "l_quantity"),
            "n_lines": ("count", "l_orderkey"),
            "max_qty": ("max", "l_quantity"),
        },
        salt_buckets=16,
    )
    return out.select(
        "l_suppkey", F.round("sum_qty", 2).alias("sum_qty"), "n_lines", F.round("max_qty", 2).alias("max_qty")
    ).orderBy("l_suppkey")


def q44_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median / p90)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", 0.5), 2).alias("median_price"),
            F.round(F.percentile("o_totalprice", 0.9), 2).alias("p90_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def q74_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch companion to q44 (the q57 HLL pattern applied to
    percentiles): exact interpolated percentiles are oracle-pinned, and
    the approx_percentile sketch (Greenwald-Khanna, accuracy=1000 ->
    rank error <= 0.1%) is checked against its ACTUAL guarantee — rank
    tolerance: the sketch value must lie between the exact p±0.05
    percentiles (a value-error bound is wrong for rank sketches: on
    small groups nearest-rank vs interpolated differ by a whole data
    gap). At 100 TB the sketch is the viable path — mergeable partial
    state, one pass, no per-group sort — and this query records the
    evidence that the rank guarantee holds."""
    orders = load_table(spark, sf_dir, "orders")
    ex50 = F.percentile("o_totalprice", 0.5)
    ex90 = F.percentile("o_totalprice", 0.9)
    ap50 = F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(1000))
    ap90 = F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(1000))
    ok = (
        ap50.between(F.percentile("o_totalprice", 0.45), F.percentile("o_totalprice", 0.55))
        & ap90.between(F.percentile("o_totalprice", 0.85), F.percentile("o_totalprice", 0.95))
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(ex50, 2).alias("median_exact"),
            F.round(ex90, 2).alias("p90_exact"),
            F.count(F.lit(1)).alias("n_orders"),
            ok.alias("sketch_within_1pct"),
        )
        .orderBy("o_orderpriority")
    )


def q92_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators/diff.py::snapshot_diff): customer
    v1 vs a v2 with changed segments (custkey % 10 == 0), dropped keys
    (% 13 == 0), added keys (+1M for % 17 == 0), and a value->NULL
    transition (% 7 == 0) — every diff_kind and the null-safe compare
    exercised. One full-outer join; the oracle replicates it."""
    from batchprocessingetl_spark.operators.diff import snapshot_diff

    cust = load_table(spark, sf_dir, "customer")
    old = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    new = cust.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.round("c_acctbal", 2))
        .alias("acctbal"),
    )
    added = cust.filter(F.col("c_custkey") % 17 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    return snapshot_diff(
        old, new.unionByName(added), ["c_custkey"], ["segment", "acctbal"]
    ).orderBy("c_custkey")


def q90_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative quality gate over lineitem
    (operators/quality.py::check_constraints): five rules — pk
    uniqueness, not-null keys, discount/quantity ranges, returnflag
    domain — evaluated in ONE aggregate pass; the quantity range is
    deliberately violated so the report exercises both outcomes. The
    oracle recomputes every count with scalar SQL aggregates."""
    from batchprocessingetl_spark.operators.quality import check_constraints

    li = load_table(spark, sf_dir, "lineitem")
    return check_constraints(
        li,
        not_null=("l_orderkey", "l_shipdate"),
        unique=(("l_orderkey", "l_linenumber"),),
        ranges={"l_discount": (0.0, 0.1), "l_quantity": (1.0, 40.0)},
        accepted={"l_returnflag": ("A", "N", "R")},
    ).orderBy("rule", "target")


def q85_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 1 merge (operators/scd2.py::apply_scd1) on the q41
    fixture pair: the merged snapshot is the batch row wherever the
    batch has the key, the existing row otherwise — one anti-join +
    union, no history columns. The oracle is that set expression
    verbatim."""
    from batchprocessingetl_spark.operators.scd2 import apply_scd1

    new_data, existing = _scd2_inputs(spark, sf_dir)
    out = apply_scd1(
        new_data, existing.select("c_custkey", "segment", "acctbal"), ["c_custkey"]
    )
    return out.select("c_custkey", "segment", "acctbal").orderBy("c_custkey")


def q93_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE upsert onto a parquet snapshot
    (operators/merge.py::merge_into): target = customers with
    c_custkey % 3 != 0 staged on disk; source = customers with
    c_custkey % 2 == 0, acctbal raised 100 — matched keys take the
    source row, unmatched source keys insert, the rest carry. The
    returned frame is the POST-SWAP snapshot read back from the target
    path, so the oracle pins the durable MERGE result (DuckDB 1.0 has
    no MERGE INTO; the oracle states the equivalent source-wins set
    expression). The crash-mid-swap recovery path is pytest-pinned in
    tests/test_merge.py."""
    import os

    from batchprocessingetl_spark.operators.merge import merge_into
    from batchprocessingetl_spark.session import work_dir
    from batchprocessingetl_spark.sources.readers import fs_delete

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )
    work = work_dir(spark, "merge")
    fs_delete(spark, work)
    target_path = os.path.join(work, "target")
    cust.filter(F.col("c_custkey") % 3 != 0).write.parquet(target_path)
    source = cust.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "acctbal", F.round(F.col("acctbal") + 100, 2)
    )
    merge_into(spark, target_path, source, on=["c_custkey"])
    return (
        spark.read.parquet(target_path)
        .select("c_custkey", "c_name", "acctbal")
        .orderBy("c_custkey")
    )


def q79_medallion_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full medallion pipeline as ONE composed plan (VERDICT r2 #8):
    raw re-delivered ingest -> staging clean (dedup, null filter,
    decimal-exact derived revenue; staging_layer.py:55-84 analogue) ->
    SCD2 customer dimension merge (curated_layer.py:102-126 analogue,
    corrected semantics) -> star join (fact x current dim rows) ->
    dashboard Q1 rollup (revenue by segment x order month,
    dashboard.py:29-42 shape).

    The whole lineage is ONE Catalyst plan — no intermediate
    materialization, so the optimizer prunes staging columns the final
    rollup never touches and pushes the shipdate null-filter into the
    duplicated scans. The SCD2 merge runs inside the plan and the fact
    joins only ``is_current`` dimension rows, exactly how a curated-
    layer consumer reads the dim. Individual stages are pinned by
    q40/q41; this registers the COMPOSITION itself with an oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    # staging: re-delivered raw -> full-row dedup -> null filter -> derived
    revenue = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"), 2
    ).cast("double")
    staging = (
        li.union(li)
        .dropDuplicates()
        .filter(F.col("l_shipdate").isNotNull())
        .withColumn("revenue", revenue)
        .select("l_orderkey", "revenue")
    )

    # curated: SCD2 customer dim (same change batch as q41), current rows
    new_data, existing = _scd2_inputs(spark, sf_dir)
    dim_customer = apply_scd2(
        new_data,
        existing,
        primary_key=["c_custkey"],
        update_columns=["segment", "acctbal"],
        batch_ts=SCD2_BATCH_TS,
    )
    current = dim_customer.filter(F.col("is_current")).select("c_custkey", "segment")

    # star: fact lines keyed to the order's customer and month
    fact = staging.join(orders, staging.l_orderkey == orders.o_orderkey).select(
        "o_custkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        "revenue",
    )

    # dashboard Q1: revenue by (current) segment x month
    from batchprocessingetl_spark.workload.parity import dsum

    return (
        fact.join(current, fact.o_custkey == current.c_custkey)
        .groupBy("segment", "o_year", "o_month")
        .agg(
            dsum(F.col("revenue")).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("segment", "o_year", "o_month")
    )


def q101_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (operators/cdc.py::apply_changelog):
    a deterministic I/U/U/D operation log derived from ``orders`` —
    every key inserts at v1, keys %7 update at v2, keys %5 update
    again at v3 (out-of-order delivery is irrelevant: the compaction
    is a commutative struct-max aggregate), keys %13 delete at v4.
    ONE hash aggregation on the key, no window sort, no join — the
    cheapest latest-version-wins shape at 100 TB. The oracle states
    the same log with a row_number-per-key window."""
    from batchprocessingetl_spark.operators.cdc import apply_changelog

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.lit(1).alias("version"),
        F.lit("I").alias("op"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    upd2 = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
        F.lit("X").alias("status"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("totalprice"),
    )
    upd3 = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit(3).alias("version"),
        F.lit("U").alias("op"),
        F.col("o_orderpriority").alias("status"),
        (F.col("o_totalprice") + F.lit(25.0)).alias("totalprice"),
    )
    dels = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit(4).alias("version"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("totalprice"),
    )
    # union order deliberately scrambled: deletes and late updates first
    changelog = dels.unionByName(upd3).unionByName(base).unionByName(upd2)
    snap = apply_changelog(changelog, ["o_orderkey"], "version", "op")
    return snap.orderBy("o_orderkey")


TRAVEL_T_BEFORE = "2022-06-15 00:00:00"  # between the two SCD2 batch stamps
TRAVEL_T_AFTER = "2024-06-01 00:00:00"


def q115_dim_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel reads over the q41 SCD2 dimension
    (operators/scd2.py::as_of): reconstruct the dimension as of a
    timestamp BEFORE the change batch (original attribute values;
    batch-born keys absent) and AFTER it (current values), labeled and
    unioned. Both slices are narrow filters over one dim build — no
    per-day snapshot materialization. The oracle applies the same
    interval predicate to the replayed merged dimension."""
    from batchprocessingetl_spark.operators.scd2 import as_of

    new_data, existing = _scd2_inputs(spark, sf_dir)
    dim = apply_scd2(
        new_data,
        existing,
        primary_key=["c_custkey"],
        update_columns=["segment", "acctbal"],
        batch_ts=SCD2_BATCH_TS,
    )
    out = None
    for label, ts in (("before", TRAVEL_T_BEFORE), ("after", TRAVEL_T_AFTER)):
        sl = as_of(dim, ts).select(
            F.lit(label).alias("snapshot"), "c_custkey", "segment", "acctbal"
        )
        out = sl if out is None else out.unionByName(sl)
    return out.orderBy("snapshot", "c_custkey")


HIST_BINS = 16


def q112_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth 16-bin histogram of order value (operators/stats.py::
    equi_depth_histogram): exact interpolated percentile cutpoints in
    one distributed aggregate, bin assignment as a broadcast-fold
    projection — no ntile(), no single-partition global sort. The
    oracle recomputes the identical cutpoints (quantile_cont) and the
    identical strictly-greater fold."""
    from batchprocessingetl_spark.operators.stats import equi_depth_histogram

    o = load_table(spark, sf_dir, "orders")
    return equi_depth_histogram(o, "o_totalprice", HIST_BINS)


PROFILE_NUMERIC = ("l_quantity", "l_extendedprice", "l_discount")
PROFILE_STRING = ("l_returnflag", "l_linestatus")


def q108_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiling (operators/quality.py::
    profile_columns): per-column null counts, exact distinct counts,
    min/max/avg for three numeric and two string columns of lineitem —
    all from ONE aggregate over ONE scan, then an in-plan unpivot to
    one row per column. The oracle recomputes every metric with scalar
    SQL aggregates per column."""
    from batchprocessingetl_spark.operators.quality import profile_columns

    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(li, PROFILE_NUMERIC, PROFILE_STRING).orderBy("column")


QUERIES = {
    "q40_staging_clean": q40_staging_clean,
    "q41_scd2_demo": q41_scd2_demo,
    "q93_merge_upsert": q93_merge_upsert,
    "q79_medallion_e2e": q79_medallion_e2e,
    "q101_cdc_snapshot": q101_cdc_snapshot,
    "q108_table_profile": q108_table_profile,
    "q112_price_histogram": q112_price_histogram,
    "q115_dim_time_travel": q115_dim_time_travel,
    "q74_approx_percentile_sketch": q74_approx_percentile_sketch,
    "q85_scd1_upsert": q85_scd1_upsert,
    "q90_constraint_report": q90_constraint_report,
    "q92_snapshot_diff": q92_snapshot_diff,
    "q42_scd2_initial_load": q42_scd2_initial_load,
    "q43_salted_supplier_agg": q43_salted_supplier_agg,
    "q44_price_percentiles": q44_price_percentiles,
}


def _profile_oracle_col(col: str, kind: str) -> str:
    from batchprocessingetl_spark.workload.parity import davg_sql

    v = f"CAST({col} AS DOUBLE)" if kind == "numeric" else f"CAST(LENGTH({col}) AS DOUBLE)"
    # Mirror profile_columns exactly: numerics count distinct over the
    # DOUBLE cast (two high-precision decimals that collide as doubles
    # must collide in the oracle too), strings over the raw value.
    dist = f"CAST({col} AS DOUBLE)" if kind == "numeric" else col
    return f"""        SELECT '{col}' AS "column", '{kind}' AS kind,
               COUNT(*) AS n_rows,
               COUNT(CASE WHEN {col} IS NULL THEN 1 END) AS n_nulls,
               COUNT(DISTINCT {dist}) AS n_distinct,
               MIN({v}) AS min_v, MAX({v}) AS max_v,
               {davg_sql(v, 6)} AS avg_v
        FROM lineitem"""

_SCD2_COMMON = f"""
        WITH existing AS (
            SELECT c_custkey,
                   c_mktsegment AS segment,
                   CASE WHEN c_custkey % 11 = 0 THEN NULL
                        ELSE ROUND(c_acctbal, 2) END AS acctbal,
                   TIMESTAMP '{SCD2_EXISTING_TS}' AS start_date,
                   NULL::TIMESTAMP AS end_date,
                   TRUE AS is_current
            FROM customer
        ), batch AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED'
                        ELSE c_mktsegment END AS segment,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        WHEN c_custkey % 11 = 0 THEN ROUND(c_acctbal + 50.0, 2)
                        ELSE ROUND(c_acctbal, 2) END AS acctbal
            FROM customer
            WHERE c_custkey % 3 <> 0
            UNION ALL
            SELECT c_custkey + 1000000 AS c_custkey,
                   c_mktsegment AS segment,
                   ROUND(c_acctbal, 2) AS acctbal
            FROM customer
            WHERE c_custkey % 13 = 0
        ), joined AS (
            SELECT b.c_custkey,
                   b.segment AS new_segment, b.acctbal AS new_acctbal,
                   e.segment AS old_segment, e.acctbal AS old_acctbal,
                   e.c_custkey IS NULL AS is_new_key
            FROM batch b
            LEFT JOIN existing e USING (c_custkey)
        ), changes AS (
            SELECT c_custkey, new_segment AS segment, new_acctbal AS acctbal
            FROM joined
            WHERE is_new_key
               OR new_segment IS DISTINCT FROM old_segment
               OR new_acctbal IS DISTINCT FROM old_acctbal
        )
"""

ORACLE = {
    "q92_snapshot_diff": """
        WITH old AS (
            SELECT c_custkey, c_mktsegment AS segment,
                   ROUND(c_acctbal, 2) AS acctbal
            FROM customer
        ), new AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED'
                        ELSE c_mktsegment END AS segment,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE ROUND(c_acctbal, 2) END AS acctbal
            FROM customer WHERE c_custkey % 13 <> 0
            UNION ALL
            SELECT c_custkey + 1000000, c_mktsegment, ROUND(c_acctbal, 2)
            FROM customer WHERE c_custkey % 17 = 0
        )
        SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
               CASE WHEN o.c_custkey IS NULL THEN 'added'
                    WHEN n.c_custkey IS NULL THEN 'removed'
                    WHEN o.segment IS DISTINCT FROM n.segment
                      OR o.acctbal IS DISTINCT FROM n.acctbal THEN 'changed'
                    ELSE 'unchanged' END AS diff_kind,
               o.segment AS segment_old, n.segment AS segment_new,
               o.acctbal AS acctbal_old, n.acctbal AS acctbal_new
        FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
        ORDER BY c_custkey
    """,
    # MERGE upsert = source row for every source key, target row
    # otherwise (update+insert whole-row semantics; DuckDB 1.0 has no
    # MERGE INTO, so the oracle states the set expression directly)
    "q93_merge_upsert": """
        WITH tgt AS (
            SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
            FROM customer WHERE c_custkey % 3 <> 0
        ), src AS (
            SELECT c_custkey, c_name,
                   ROUND(ROUND(c_acctbal, 2) + 100, 2) AS acctbal
            FROM customer WHERE c_custkey % 2 = 0
        )
        SELECT c_custkey, c_name, acctbal FROM src
        UNION ALL
        SELECT t.c_custkey, t.c_name, t.acctbal FROM tgt t
        WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = t.c_custkey)
        ORDER BY c_custkey
    """,
    "q112_price_histogram": f"""
        WITH cuts AS (
            SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
                                 [{", ".join(str(k / HIST_BINS) for k in range(1, HIST_BINS))}])
                       AS c
            FROM orders WHERE o_totalprice IS NOT NULL
        ), binned AS (
            SELECT CAST(o_totalprice AS DOUBLE) AS v,
                   len(list_filter(c, x -> CAST(o_totalprice AS DOUBLE) > x))::INT
                       AS bin
            FROM orders, cuts WHERE o_totalprice IS NOT NULL
        )
        SELECT bin, COUNT(*) AS n_rows,
               ROUND(MIN(v), 2) AS min_v, ROUND(MAX(v), 2) AS max_v
        FROM binned GROUP BY bin ORDER BY bin
    """,
    "q108_table_profile": "\n        UNION ALL\n".join(
        [_profile_oracle_col(c, "numeric") for c in PROFILE_NUMERIC]
        + [_profile_oracle_col(c, "string") for c in PROFILE_STRING]
    )
    + '\n        ORDER BY "column"',
    # CDC compaction: latest version per key wins, winning delete
    # erases the key. Versions are unique per key by construction, so
    # the window tie-break never fires and the oracle's row_number
    # equals the Spark side's struct-max.
    "q101_cdc_snapshot": """
        WITH changelog AS (
            SELECT o_orderkey, 4 AS version, 'D' AS op,
                   NULL::VARCHAR AS status, NULL::DOUBLE AS totalprice
            FROM orders WHERE o_orderkey % 13 = 0
            UNION ALL
            SELECT o_orderkey, 3, 'U', o_orderpriority, o_totalprice + 25.0
            FROM orders WHERE o_orderkey % 5 = 0
            UNION ALL
            SELECT o_orderkey, 1, 'I', o_orderstatus, o_totalprice
            FROM orders
            UNION ALL
            SELECT o_orderkey, 2, 'U', 'X', o_totalprice + 10.0
            FROM orders WHERE o_orderkey % 7 = 0
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_orderkey ORDER BY version DESC) AS rn
            FROM changelog
        )
        SELECT o_orderkey, status, totalprice
        FROM ranked WHERE rn = 1 AND op <> 'D'
        ORDER BY o_orderkey
    """,
    "q90_constraint_report": """
        WITH v(rule, target, n_violations) AS (
            SELECT 'not_null', 'l_orderkey',
                   (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
            UNION ALL
            SELECT 'not_null', 'l_shipdate',
                   (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL)
            UNION ALL
            -- PK semantics, explicitly null-aware (ADVICE r3): Spark's
            -- countDistinct drops tuples containing a null, so a
            -- null-key row counts as a uniqueness violation; DuckDB's
            -- COUNT(DISTINCT (a, b)) would count a ROW with a null
            -- field as its own distinct value. The CASE keeps the two
            -- aligned on nullable keys, not just on lineitem's
            -- null-free PK.
            SELECT 'unique', 'l_orderkey,l_linenumber',
                   (SELECT COUNT(*) - COUNT(DISTINCT
                        CASE WHEN l_orderkey IS NOT NULL
                              AND l_linenumber IS NOT NULL
                             THEN (l_orderkey, l_linenumber) END)
                    FROM lineitem)
            UNION ALL
            SELECT 'range', 'l_discount',
                   (SELECT COUNT(*) FROM lineitem
                    WHERE l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.1))
            UNION ALL
            SELECT 'range', 'l_quantity',
                   (SELECT COUNT(*) FROM lineitem
                    WHERE l_quantity IS NOT NULL
                      AND (l_quantity < 1.0 OR l_quantity > 40.0))
            UNION ALL
            SELECT 'accepted', 'l_returnflag',
                   (SELECT COUNT(*) FROM lineitem
                    WHERE l_returnflag IS NOT NULL
                      AND l_returnflag NOT IN ('A', 'N', 'R'))
        )
        SELECT rule, target, n_violations::BIGINT AS n_violations,
               n_violations = 0 AS passed
        FROM v
        ORDER BY rule, target
    """,
    # q85: SCD1 = batch rows for batch keys, existing rows otherwise
    # (reuses q41's existing/batch CTE pair).
    "q85_scd1_upsert": _SCD2_COMMON
    + """
        SELECT c_custkey, segment, acctbal FROM batch
        UNION ALL
        SELECT e.c_custkey, e.segment, e.acctbal
        FROM existing e
        WHERE e.c_custkey NOT IN (SELECT c_custkey FROM batch)
        ORDER BY c_custkey
    """,
    # q79: the full medallion composition — staging dedup/filter/derive,
    # the SCD2 merge (reusing q41's merge CTEs), current-row dim join,
    # dashboard Q1 rollup. Decimal-exact revenue accumulation mirrors
    # workload/parity.py.
    "q79_medallion_e2e": _SCD2_COMMON
    + """
        , current_dim AS (
            SELECT e.c_custkey, e.segment FROM existing e
            WHERE e.c_custkey NOT IN (SELECT c_custkey FROM changes)
            UNION ALL
            SELECT c.c_custkey, c.segment FROM changes c
        ), staging AS (
            SELECT l_orderkey,
                   CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue
            FROM (
                SELECT DISTINCT *
                FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
            )
            WHERE l_shipdate IS NOT NULL
        ), fact AS (
            SELECT o.o_custkey,
                   EXTRACT(year FROM o.o_orderdate)::INT AS o_year,
                   EXTRACT(month FROM o.o_orderdate)::INT AS o_month,
                   s.revenue
            FROM staging s JOIN orders o ON s.l_orderkey = o.o_orderkey
        )
        SELECT d.segment, f.o_year, f.o_month,
               CAST(ROUND(SUM(CAST(f.revenue AS DECIMAL(28,6))), 2) AS DOUBLE) AS total_revenue,
               COUNT(*) AS n_lines
        FROM fact f JOIN current_dim d ON f.o_custkey = d.c_custkey
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    # q74: exact percentiles + counts are oracle facts; the rank-
    # tolerance flag is pinned TRUE (the checked claim: the GK sketch
    # value sits within the exact p±0.05 percentile envelope).
    "q74_approx_percentile_sketch": """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_exact,
               ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90_exact,
               COUNT(*) AS n_orders,
               TRUE AS sketch_within_1pct
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q43_salted_supplier_agg": """
        SELECT l_suppkey,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(l_orderkey) AS n_lines,
               ROUND(MAX(l_quantity), 2) AS max_qty
        FROM lineitem
        GROUP BY l_suppkey
        ORDER BY l_suppkey
    """,
    "q44_price_percentiles": """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
               ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q40_staging_clean": """
        SELECT l_orderkey, l_linenumber,
               l_quantity::INT AS quantity,
               CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue,
               CASE WHEN CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)), 2) AS DOUBLE) > 40000
                    THEN 'Yes' ELSE 'No' END AS is_high_value
        FROM (
            SELECT DISTINCT *
            FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
        )
        WHERE l_shipdate IS NOT NULL
        ORDER BY l_orderkey, l_linenumber
    """,
    "q41_scd2_demo": _SCD2_COMMON
    + f"""
        SELECT e.c_custkey, e.segment, e.acctbal, e.start_date,
               TIMESTAMP '{SCD2_BATCH_TS}' AS end_date, FALSE AS is_current
        FROM existing e
        WHERE e.c_custkey IN (SELECT c_custkey FROM changes)
        UNION ALL
        SELECT e.c_custkey, e.segment, e.acctbal, e.start_date, e.end_date, e.is_current
        FROM existing e
        WHERE e.c_custkey NOT IN (SELECT c_custkey FROM changes)
        UNION ALL
        SELECT c.c_custkey, c.segment, c.acctbal,
               TIMESTAMP '{SCD2_BATCH_TS}' AS start_date,
               NULL::TIMESTAMP AS end_date, TRUE AS is_current
        FROM changes c
        ORDER BY c_custkey, start_date, is_current
    """,
    "q115_dim_time_travel": _SCD2_COMMON
    + f"""
        , dim AS (
            SELECT e.c_custkey, e.segment, e.acctbal, e.start_date,
                   TIMESTAMP '{SCD2_BATCH_TS}' AS end_date
            FROM existing e
            WHERE e.c_custkey IN (SELECT c_custkey FROM changes)
            UNION ALL
            SELECT e.c_custkey, e.segment, e.acctbal, e.start_date, e.end_date
            FROM existing e
            WHERE e.c_custkey NOT IN (SELECT c_custkey FROM changes)
            UNION ALL
            SELECT c.c_custkey, c.segment, c.acctbal,
                   TIMESTAMP '{SCD2_BATCH_TS}' AS start_date,
                   NULL::TIMESTAMP AS end_date
            FROM changes c
        )
        SELECT 'before' AS snapshot, c_custkey, segment, acctbal FROM dim
        WHERE start_date <= TIMESTAMP '{TRAVEL_T_BEFORE}'
          AND (end_date IS NULL OR end_date > TIMESTAMP '{TRAVEL_T_BEFORE}')
        UNION ALL
        SELECT 'after', c_custkey, segment, acctbal FROM dim
        WHERE start_date <= TIMESTAMP '{TRAVEL_T_AFTER}'
          AND (end_date IS NULL OR end_date > TIMESTAMP '{TRAVEL_T_AFTER}')
        ORDER BY snapshot, c_custkey
    """,
    "q42_scd2_initial_load": f"""
        SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS s_acctbal,
               TIMESTAMP '{SCD2_BATCH_TS}' AS start_date,
               NULL::TIMESTAMP AS end_date,
               TRUE AS is_current
        FROM supplier
        ORDER BY s_suppkey
    """,
}


MERKLE_BUCKETS = 64


def q191_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy diff — the network-efficient variant
    of q92: rows hash into 64 buckets; each side publishes one
    (sum-of-row-hashes, count) digest per bucket; ONLY buckets whose
    digests diverge are re-read row-level and full-outer diffed. At
    100 TB the digest exchange is KBs instead of shipping both tables,
    and the row-level pass touches the divergent slice only — the
    replica-reconciliation pattern (Dynamo/Cassandra repair) as a
    batch operator. The oracle is the DIRECT keyed diff with no
    bucketing at all, so a pruning bug (a divergent bucket wrongly
    skipped) flips the value hash. Digest collisions (two edits whose
    52-bit hash terms cancel in the sum AND preserve the count) are
    the honest Merkle trade; the paired count makes them vanishingly
    unlikely and the oracle run proves none occur on this data.
    Same old/new construction as q92: changed segments (% 10), dropped
    keys (% 13), added keys (% 17 + 1M), value->NULL (% 7)."""
    from batchprocessingetl_spark.operators.diff import snapshot_diff

    cust = load_table(spark, sf_dir, "customer")
    acct = F.round("c_acctbal", 2)
    old = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        acct.alias("acctbal"),
    )
    new = (
        cust.filter(F.col("c_custkey") % 13 != 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("double"))
            .otherwise(acct)
            .alias("acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 17 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                F.col("c_mktsegment").alias("segment"),
                acct.alias("acctbal"),
            )
        )
    )

    def h52(col):
        return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")

    key_s = F.col("c_custkey").cast("string")
    bucket = (h52(F.concat(F.lit("b:"), key_s)) % MERKLE_BUCKETS).alias("bucket")
    # decimal rendering pins the hashed string cross-engine (always
    # 2 digits of scale); NULL -> '~'
    acct_s = F.coalesce(
        F.col("acctbal").cast("decimal(12,2)").cast("string"), F.lit("~")
    )
    rowh = h52(
        F.concat(
            F.lit("r:"), key_s, F.lit("|"),
            F.coalesce(F.col("segment"), F.lit("~")), F.lit("|"), acct_s,
        )
    )

    def digests(df):
        return (
            df.select(bucket, rowh.alias("rh"))
            .groupBy("bucket")
            .agg(F.sum("rh").alias("dig"), F.count(F.lit(1)).alias("n"))
        )

    do, dn = digests(old).alias("o"), digests(new).alias("n")
    dirty = (
        do.join(dn, F.col("o.bucket") == F.col("n.bucket"), "full_outer")
        .filter(
            ~(
                F.col("o.dig").eqNullSafe(F.col("n.dig"))
                & F.col("o.n").eqNullSafe(F.col("n.n"))
            )
        )
        .select(F.coalesce(F.col("o.bucket"), F.col("n.bucket")).alias("bucket"))
    )
    old_d = old.withColumn("bucket", bucket).join(F.broadcast(dirty), "bucket", "left_semi")
    new_d = new.withColumn("bucket", bucket).join(F.broadcast(dirty), "bucket", "left_semi")
    return (
        snapshot_diff(
            old_d.drop("bucket"), new_d.drop("bucket"), ["c_custkey"],
            ["segment", "acctbal"],
        )
        .filter(F.col("diff_kind") != "unchanged")
        .orderBy("c_custkey")
    )


QUERIES["q191_merkle_diff"] = q191_merkle_diff
ORACLE["q191_merkle_diff"] = """
    WITH old AS (
        SELECT c_custkey, c_mktsegment AS segment,
               ROUND(c_acctbal, 2) AS acctbal
        FROM customer
    ), new AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED'
                    ELSE c_mktsegment END AS segment,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE ROUND(c_acctbal, 2) END AS acctbal
        FROM customer WHERE c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, c_mktsegment, ROUND(c_acctbal, 2)
        FROM customer WHERE c_custkey % 17 = 0
    )
    SELECT * FROM (
        SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
               CASE WHEN o.c_custkey IS NULL THEN 'added'
                    WHEN n.c_custkey IS NULL THEN 'removed'
                    WHEN o.segment IS DISTINCT FROM n.segment
                      OR o.acctbal IS DISTINCT FROM n.acctbal THEN 'changed'
                    ELSE 'unchanged' END AS diff_kind,
               o.segment AS segment_old, n.segment AS segment_new,
               o.acctbal AS acctbal_old, n.acctbal AS acctbal_new
        FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    ) WHERE diff_kind <> 'unchanged'
    ORDER BY c_custkey
"""


FK_EDGES = [
    # (edge label, child table, child key, parent table, parent key)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def q230_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit over every FK edge of
    the star schema — the multi-table companion to q90's single-table
    constraint gate, and the first validation a warehouse load runs
    after ingest: per edge, the distinct child keys, how many have no
    parent (orphans), and the orphan fraction. Each edge collapses the
    child to its DISTINCT key frame before the left-anti probe, so the
    join carries keys, not fact rows — at 100 TB the orphan check on
    lineitem→orders shuffles |distinct orderkeys|, never 6 B line
    items, and dimension parents broadcast. Output is one row per
    edge, a fixed 6-row report."""
    parts = []
    for label, child, ckey, parent, pkey in FK_EDGES:
        ck = (
            load_table(spark, sf_dir, child)
            .select(F.col(ckey).alias("k"))
            .filter(F.col("k").isNotNull())
            .distinct()
        )
        pk = load_table(spark, sf_dir, parent).select(F.col(pkey).alias("k"))
        orphan = ck.join(pk, "k", "left_anti")
        parts.append(
            ck.agg(F.count(F.lit(1)).alias("n_keys"))
            .crossJoin(orphan.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(label).alias("edge"),
                F.col("n_keys").cast("long").alias("n_child_keys"),
                F.col("n_orphans").cast("long").alias("n_orphan_keys"),
                F.round(F.col("n_orphans") / F.col("n_keys").cast("double"), 6).alias(
                    "orphan_frac"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("edge")


def _q230_oracle_sql() -> str:
    selects = []
    for label, child, ckey, parent, pkey in FK_EDGES:
        selects.append(
            f"""
    SELECT '{label}' AS edge,
           CAST(COUNT(*) AS BIGINT) AS n_child_keys,
           CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphan_keys,
           ROUND(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS orphan_frac
    FROM (SELECT DISTINCT {ckey} AS k FROM {child} WHERE {ckey} IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT {pkey} AS k FROM {parent}) p USING (k)"""
        )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY edge"


ORACLE["q230_fk_integrity"] = _q230_oracle_sql()

QUERIES["q230_fk_integrity"] = q230_fk_integrity


FD_CANDIDATES = (
    # (name, table, determinant, dependent)
    ("order_to_cust", "orders", "o_orderkey", "o_custkey"),
    ("cust_to_nation", "customer", "c_custkey", "c_nationkey"),
    ("cust_to_segment", "customer", "c_custkey", "c_mktsegment"),
    ("nation_to_region", "nation", "n_nationkey", "n_regionkey"),
    ("priority_to_status", "orders", "o_orderpriority", "o_orderstatus"),
    ("nation_to_segment", "customer", "c_nationkey", "c_mktsegment"),
)


def q262_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — for each candidate FD A→B,
    does every determinant value map to exactly one dependent value?
    The schema-discovery statistic profilers and normalization tools
    compute (complementing q108's single-column profile and q230's FK
    integrity): per candidate, groups violated = determinant values
    with >1 distinct dependent, rows in violation = rows beyond the
    majority mapping... here the EXACT definition used is g1-style:
    violations = Σ_A (distinct_B(A) − 1) and strength = 1 −
    violations / distinct_A — all integers off one (A, B) distinct
    aggregate per candidate, one division at the end. Key-determined
    FDs (orderkey→custkey) must hold exactly; categorical→categorical
    candidates (priority→status, nation→segment) measure association
    strength instead. Each candidate is one independent aggregate —
    a union of six tiny frames, trivially parallel."""
    out = None
    for name, table, det, dep in FD_CANDIDATES:
        t = load_table(spark, sf_dir, table)
        per_a = (
            t.select(F.col(det).alias("a"), F.col(dep).alias("b"))
            .distinct()
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("n_b"))
        )
        row = per_a.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("n_determinants"),
            F.sum(F.col("n_b") - 1).alias("violations"),
            (F.sum(F.col("n_b") - 1) == 0).alias("holds"),
            F.round(
                F.lit(1.0)
                - F.sum(F.col("n_b") - 1) / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("strength"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fd")


_Q262_SELECTS = []
for _name, _table, _det, _dep in FD_CANDIDATES:
    _Q262_SELECTS.append(
        f"""
    SELECT '{_name}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_determinants,
           CAST(SUM(n_b - 1) AS BIGINT) AS violations,
           SUM(n_b - 1) = 0 AS holds,
           ROUND(1.0 - SUM(n_b - 1) / CAST(COUNT(*) AS DOUBLE), 6) AS strength
    FROM (
        SELECT a, COUNT(*) AS n_b FROM (
            SELECT DISTINCT {_det} AS a, {_dep} AS b FROM {_table}
        ) GROUP BY 1
    )"""
    )

ORACLE["q262_fd_discovery"] = (
    "\n    UNION ALL".join(_Q262_SELECTS) + "\n    ORDER BY fd"
)

QUERIES["q262_fd_discovery"] = q262_fd_discovery


SKEW_PARTS = 32
SKEW_SALT_RATIO = 2.0


def q264_shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew audit for a join/aggregation key — the diagnostic
    an engine (or its operator author) runs BEFORE choosing between a
    plain shuffle, AQE skew splitting, and an explicit salted plan
    (the q81/q94 bake-off made a first-class query): per-key row
    counts for lineitem.l_suppkey, the top-1/top-10 key shares, and a
    SIMULATED hash partitioning into 32 buckets (md5 of the key — the
    engine-replayable stand-in for the engine's hash) yielding max
    and average partition loads; the recommendation flag trips when
    max/avg exceeds 2. Everything is exact integer counts off one
    fact aggregate plus a 32-row bucket rollup; the shares and the
    load ratio are the only divisions, rounded 6dp."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("c"))
    buckets = (
        per_key.select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("sk:"), F.col("l_suppkey").cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % SKEW_PARTS
            ).alias("b"),
            "c",
        )
        .groupBy("b")
        .agg(F.sum("c").alias("load"))
    )
    from pyspark.sql.window import Window as W

    topshare = per_key.select(
        F.col("c"),
        F.row_number()
        .over(W.orderBy(F.desc("c"), "l_suppkey"))
        .alias("rk"),
    )
    agg = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("c").alias("n_rows")
    )
    tops = topshare.agg(
        F.sum(F.when(F.col("rk") == 1, F.col("c")).otherwise(0)).alias("top1"),
        F.sum(F.when(F.col("rk") <= 10, F.col("c")).otherwise(0)).alias("top10"),
    )
    loads = buckets.agg(
        F.max("load").alias("max_load"),
        F.sum("load").alias("total"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    return (
        agg.crossJoin(F.broadcast(tops))
        .crossJoin(F.broadcast(loads))
        .select(
            "n_keys",
            "n_rows",
            F.round(F.col("top1") / F.col("n_rows").cast("double"), 6).alias(
                "top1_share"
            ),
            F.round(F.col("top10") / F.col("n_rows").cast("double"), 6).alias(
                "top10_share"
            ),
            "max_load",
            F.round(
                F.col("max_load")
                * F.col("n_buckets")
                / F.col("total").cast("double"),
                6,
            ).alias("max_over_avg"),
            (
                F.col("max_load") * F.col("n_buckets")
                > F.lit(SKEW_SALT_RATIO) * F.col("total")
            ).alias("recommend_salting"),
        )
    )


ORACLE["q264_shuffle_skew_audit"] = f"""
    WITH per_key AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1
    ), buckets AS (
        SELECT ('0x' || substr(md5('sk:' || l_suppkey::VARCHAR), 1, 15))::BIGINT
                   % {SKEW_PARTS} AS b,
               CAST(SUM(c) AS BIGINT) AS load
        FROM per_key GROUP BY 1
    ), ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, l_suppkey) AS rk
        FROM per_key
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_rows
        FROM per_key
    ), tops AS (
        SELECT CAST(SUM(CASE WHEN rk = 1 THEN c ELSE 0 END) AS BIGINT) AS top1,
               CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT) AS top10
        FROM ranked
    ), loads AS (
        SELECT CAST(MAX(load) AS BIGINT) AS max_load,
               CAST(SUM(load) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_buckets
        FROM buckets
    )
    SELECT a.n_keys, a.n_rows,
           ROUND(t.top1 / CAST(a.n_rows AS DOUBLE), 6) AS top1_share,
           ROUND(t.top10 / CAST(a.n_rows AS DOUBLE), 6) AS top10_share,
           l.max_load,
           ROUND(l.max_load * l.n_buckets / CAST(l.total AS DOUBLE), 6)
               AS max_over_avg,
           l.max_load * l.n_buckets > {SKEW_SALT_RATIO} * l.total
               AS recommend_salting
    FROM agg a CROSS JOIN tops t CROSS JOIN loads l
"""

QUERIES["q264_shuffle_skew_audit"] = q264_shuffle_skew_audit


MERKLE_SHARDS = 16


def q272_merkle_shard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style content-integrity audit of the documents corpus —
    the fingerprint tree a 100 TB lake computes to verify replicas /
    detect silent corruption without moving data: each leaf is
    md5('doc:'||doc_id||':'||md5(text)), each of 16 shards (doc_id mod
    16) hashes the doc-id-ordered concatenation of its leaves, and a
    final root row (shard = -1) hashes the shard-ordered fingerprints,
    so two lakes compare ONE row first and descend only into shards
    that differ. Per-shard state is the sorted leaf list — bounded by
    shard size, and at scale the shard count is raised so each
    collect_list stays executor-sized (the tree just gets one level
    deeper, same audit). Everything is exact string hashing: full
    cross-engine value parity."""
    docs = load_table(spark, sf_dir, "documents")
    leaves = docs.select(
        (F.col("doc_id") % MERKLE_SHARDS).alias("shard"),
        "doc_id",
        F.col("n_chars"),
        F.md5(
            F.concat(
                F.lit("doc:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.md5("text"),
            )
        ).alias("leaf"),
    )
    shards = leaves.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "leaf"))
                    ),
                    lambda s: s["leaf"],
                ),
                "",
            )
        ).alias("fingerprint"),
    )
    root = shards.agg(
        F.lit(-1).cast("long").alias("shard"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("shard", "fingerprint"))
                    ),
                    lambda s: s["fingerprint"],
                ),
                "",
            )
        ).alias("fingerprint"),
    )
    return (
        shards.select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "n_chars",
            "fingerprint",
        )
        .unionByName(root)
        .orderBy("shard")
    )


ORACLE["q272_merkle_shard_audit"] = f"""
    WITH leaves AS (
        SELECT doc_id % {MERKLE_SHARDS} AS shard, doc_id, n_chars,
               md5('doc:' || doc_id::VARCHAR || ':' || md5(text)) AS leaf
        FROM documents
    ), shards AS (
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               md5(string_agg(leaf, '' ORDER BY doc_id)) AS fingerprint
        FROM leaves GROUP BY 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_chars, fingerprint
    FROM shards
    UNION ALL
    SELECT -1, CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_chars) AS BIGINT),
           md5(string_agg(fingerprint, '' ORDER BY shard))
    FROM shards
    ORDER BY shard
"""

QUERIES["q272_merkle_shard_audit"] = q272_merkle_shard_audit


MERKLE_CORRUPT_MOD = 97  # deterministic ~1% corruption in the twin


def q277_merkle_diff_localization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle DESCENT — the read path q272's fingerprint tree exists
    for: given two corpus versions (here version B is the corpus with
    a deterministic md5-chosen ~1% of documents corrupted by an
    appended byte, the standard replica-drift fixture), compare shard
    fingerprints first and descend ONLY into differing shards to name
    the corrupted doc_ids. Emits one row per differing shard with its
    two fingerprints and the count + min/max of mismatched leaves, so
    a 100 TB anti-entropy repair moves |corrupt| rows after comparing
    16 fingerprint pairs instead of diffing whole replicas. Both
    versions derive from ONE scan (the corruption is an in-plan
    expression), and the leaf diff is a per-shard join of the two leaf
    frames — never a corpus x corpus compare."""
    docs = load_table(spark, sf_dir, "documents")
    corrupt = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rot:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % MERKLE_CORRUPT_MOD
        == 0
    )
    both = docs.select(
        (F.col("doc_id") % MERKLE_SHARDS).alias("shard"),
        "doc_id",
        F.md5(
            F.concat(
                F.lit("doc:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.md5("text"),
            )
        ).alias("leaf_a"),
        F.md5(
            F.concat(
                F.lit("doc:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.md5(
                    F.when(corrupt, F.concat(F.col("text"), F.lit("\x01")))
                    .otherwise(F.col("text"))
                ),
            )
        ).alias("leaf_b"),
    )
    shards = both.groupBy("shard").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "leaf_a"))),
                    lambda s: s["leaf_a"],
                ),
                "",
            )
        ).alias("fp_a"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "leaf_b"))),
                    lambda s: s["leaf_b"],
                ),
                "",
            )
        ).alias("fp_b"),
        F.sum((F.col("leaf_a") != F.col("leaf_b")).cast("long")).alias(
            "n_corrupt"
        ),
        F.min(
            F.when(F.col("leaf_a") != F.col("leaf_b"), F.col("doc_id"))
        ).alias("first_corrupt_id"),
        F.max(
            F.when(F.col("leaf_a") != F.col("leaf_b"), F.col("doc_id"))
        ).alias("last_corrupt_id"),
    )
    return (
        shards.filter(F.col("fp_a") != F.col("fp_b"))
        .select(
            F.col("shard").cast("long").alias("shard"),
            "fp_a",
            "fp_b",
            "n_corrupt",
            "first_corrupt_id",
            "last_corrupt_id",
        )
        .orderBy("shard")
    )


ORACLE["q277_merkle_diff_localization"] = f"""
    WITH both_v AS (
        SELECT doc_id % {MERKLE_SHARDS} AS shard, doc_id,
               md5('doc:' || doc_id::VARCHAR || ':' || md5(text)) AS leaf_a,
               md5('doc:' || doc_id::VARCHAR || ':' ||
                   md5(CASE WHEN ('0x' || substr(md5('rot:' || doc_id::VARCHAR),
                                                 1, 15))::BIGINT
                                 % {MERKLE_CORRUPT_MOD} = 0
                            THEN text || chr(1) ELSE text END)) AS leaf_b
        FROM documents
    ), shards AS (
        SELECT shard,
               md5(string_agg(leaf_a, '' ORDER BY doc_id)) AS fp_a,
               md5(string_agg(leaf_b, '' ORDER BY doc_id)) AS fp_b,
               CAST(SUM(CASE WHEN leaf_a <> leaf_b THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_corrupt,
               MIN(CASE WHEN leaf_a <> leaf_b THEN doc_id END)
                   AS first_corrupt_id,
               MAX(CASE WHEN leaf_a <> leaf_b THEN doc_id END)
                   AS last_corrupt_id
        FROM both_v GROUP BY 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, fp_a, fp_b, n_corrupt,
           first_corrupt_id, last_corrupt_id
    FROM shards WHERE fp_a <> fp_b
    ORDER BY shard
"""

QUERIES["q277_merkle_diff_localization"] = q277_merkle_diff_localization


def q279_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity scorecard across the star's FK edges —
    the data-quality gate a warehouse load runs before publishing:
    for each child->parent edge (lineitem->orders, lineitem->part,
    lineitem->supplier, orders->customer, customer->nation), count
    child rows, DISTINCT child keys, orphaned rows (no matching
    parent, null-safe: NULL keys count as orphans and are also broken
    out), and the orphan rate. Each edge is ONE left-anti-join-shaped
    aggregate (a left join against the parent's distinct key set with
    a miss flag, so the count and the rate come from the same pass);
    parents' key sets are broadcast-sized dims here and hash-shuffled
    at scale. Exact integers + one rounded division per edge."""
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    outs = []
    for child, ck, parent, pk in edges:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        joined = c.join(p, "k", "left")
        outs.append(
            joined.agg(
                F.lit(f"{child}.{ck}->{parent}.{pk}").alias("edge"),
                F.count(F.lit(1)).alias("n_child"),
                F.count_distinct(F.col("k")).alias("n_child_keys"),
                F.sum(
                    (F.col("__hit").isNull() | F.col("k").isNull()).cast("long")
                ).alias("n_orphans"),
                F.sum(F.col("k").isNull().cast("long")).alias("n_null_keys"),
            ).select(
                "edge",
                "n_child",
                "n_child_keys",
                "n_orphans",
                "n_null_keys",
                F.round(
                    F.col("n_orphans") / F.col("n_child").cast("double"), 6
                ).alias("orphan_rate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("edge")


def _q279_oracle() -> str:
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    sels = []
    for child, ck, parent, pk in edges:
        sels.append(
            f"""SELECT '{child}.{ck}->{parent}.{pk}' AS edge,
               CAST(COUNT(*) AS BIGINT) AS n_child,
               CAST(COUNT(DISTINCT c.k) AS BIGINT) AS n_child_keys,
               CAST(SUM(CASE WHEN p.k IS NULL OR c.k IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
               CAST(SUM(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null_keys,
               ROUND(SUM(CASE WHEN p.k IS NULL OR c.k IS NULL
                              THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS orphan_rate
        FROM (SELECT {ck} AS k FROM {child}) c
        LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent}) p USING (k)"""
        )
    return "\n    " + "\n    UNION ALL ".join(sels) + "\n    ORDER BY edge"


ORACLE["q279_fk_integrity_audit"] = _q279_oracle()
QUERIES["q279_fk_integrity_audit"] = q279_fk_integrity_audit


PROFILE_COLS = (
    "o_orderstatus",
    "o_orderpriority",
    "o_custkey",
    "o_totalprice",
)


def q280_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling scorecard over orders — the table-stats pass a
    catalog/datacard layer runs on ingest (pairing with q262's FD
    discovery and q90's constraint gate): per column, row count, null
    count, exact distinct count, the modal value with its count
    (ties -> lexicographically smallest value) and the Shannon entropy
    of the value distribution in bits. Profiling C columns costs ONE
    widened scan: an in-plan unpivot (explode of C structs) feeds a
    single (column, value) hash aggregate; the modal pick is a
    row_number window over the collapsed value-count frame (bounded by
    distinct values, partitioned by column). Entropy terms c·log2(c)
    round 9dp into DECIMAL before summing (the q160 discipline), so
    the sum is order-independent and engine-identical; money values
    group through the cents cast."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    pairs = []
    for c in PROFILE_COLS:
        if c == "o_totalprice":
            v = F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").cast("string")
        else:
            v = F.col(c).cast("string")
        pairs.append(F.struct(F.lit(c).alias("col"), v.alias("val")))
    long_f = orders.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")
    vc = long_f.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    nn = vc.filter(F.col("val").isNotNull())
    stats = vc.groupBy("col").agg(
        F.sum("c").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("c"))), F.lit(0)
        ).alias("n_nulls"),
        F.count(F.when(F.col("val").isNotNull(), F.lit(1))).alias("n_distinct"),
    )
    ent = nn.groupBy("col").agg(
        F.sum("c").alias("n_nn"),
        F.sum(
            F.round(
                F.col("c").cast("double") * F.log2(F.col("c").cast("double")), 9
            ).cast("decimal(28,10)")
        ).alias("hsum"),
    )
    w = Window.partitionBy("col").orderBy(F.desc("c"), "val")
    modal = (
        nn.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("col", F.col("val").alias("modal_value"), F.col("c").alias("modal_count"))
    )
    return (
        stats.join(modal, "col")
        .join(ent, "col")
        .select(
            F.col("col").alias("column"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "modal_value",
            "modal_count",
            F.round(
                F.log2(F.col("n_nn").cast("double"))
                - F.col("hsum").cast("double") / F.col("n_nn").cast("double"),
                6,
            ).alias("entropy_bits"),
        )
        .orderBy("column")
    )


def _q280_oracle() -> str:
    branches = []
    for c in PROFILE_COLS:
        v = (
            "CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)"
            if c == "o_totalprice"
            else f"CAST({c} AS VARCHAR)"
        )
        branches.append(f"SELECT '{c}' AS col, {v} AS val FROM orders")
    return f"""
    WITH long_f AS (
        {" UNION ALL ".join(branches)}
    ), vc AS (
        SELECT col, val, CAST(COUNT(*) AS BIGINT) AS c
        FROM long_f GROUP BY 1, 2
    ), nn AS (
        SELECT * FROM vc WHERE val IS NOT NULL
    ), stats AS (
        SELECT col, CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(CASE WHEN val IS NULL THEN c END), 0)
                    AS BIGINT) AS n_nulls,
               CAST(COUNT(CASE WHEN val IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_distinct
        FROM vc GROUP BY 1
    ), ent AS (
        SELECT col, CAST(SUM(c) AS BIGINT) AS n_nn,
               SUM(CAST(ROUND(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)), 9)
                        AS DECIMAL(28,10))) AS hsum
        FROM nn GROUP BY 1
    ), modal AS (
        SELECT col, val AS modal_value, c AS modal_count
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY col ORDER BY c DESC, val) AS rk FROM nn)
        WHERE rk = 1
    )
    SELECT s.col AS "column", s.n_rows, s.n_nulls, s.n_distinct,
           m.modal_value, m.modal_count,
           ROUND(log2(CAST(e.n_nn AS DOUBLE))
                 - CAST(e.hsum AS DOUBLE) / CAST(e.n_nn AS DOUBLE), 6)
               AS entropy_bits
    FROM stats s JOIN modal m ON m.col = s.col JOIN ent e ON e.col = s.col
    ORDER BY "column"
"""


ORACLE["q280_column_profile"] = _q280_oracle()
QUERIES["q280_column_profile"] = q280_column_profile
