"""Distributed statistical-test workload.

Hypothesis tests and distribution-drift diagnostics formulated as
pure aggregate/window plans — the monitoring layer a 100 TB training-
data pipeline runs next to its ETL: does a score discriminate a label
(AUC), are two categoricals independent (chi-square), did a feature
distribution drift between periods (PSI), do two cohorts follow the
same distribution (Kolmogorov–Smirnov)?

Cross-engine discipline (see workload/parity.py and q162's Gini): each
statistic is algebraically rearranged so everything up to the LAST
operation is integer or exact-decimal arithmetic — rank sums become
integer `2*cum + cnt + 1` doubles-free forms, KS distances compare
integer cross-products `|cum_a*n_b - cum_b*n_a|` — and the single
final division/log happens in IEEE double identically on both engines,
then rounds for display. No statistic here needs a global sort of raw
rows: every window runs over a distinct-value or group-grain frame
that an upstream hash aggregate has already collapsed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.sources.readers import local_frame
from batchprocessingetl_spark.workload.parity import year_equals

AUC_POS_PRIORITY = "1-URGENT"


def q169_priority_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of order price as a classifier for urgent priority, per
    market segment — the Mann–Whitney rank-sum identity AUC =
    (R⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻) with midrank tie correction, computed
    WITHOUT sorting raw rows: scores collapse to a distinct-value
    frame first (hash aggregate; ~|distinct scores| rows), then one
    cumulative-count window per segment assigns midranks. The midrank
    is carried as the INTEGER 2·rank (2·cum_below + cnt + 1), so the
    rank sum stays exact and AUC = (2R⁺ − 2·n⁺(n⁺+1)/2) / (2n⁺n⁻)
    is a single double division at the end — bit-identical across
    engines. This is the scalable AUC: the only per-row work is one
    map + hash agg; windows never see the fact table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    labeled = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        "c_mktsegment",
        F.col("o_totalprice").alias("score"),
        (F.col("o_orderpriority") == AUC_POS_PRIORITY).cast("long").alias("pos"),
    )
    per_score = labeled.groupBy("c_mktsegment", "score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("pos_cnt")
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = per_score.withColumn(
        "rank2",  # 2x the midrank of this score's tie group: exact int
        2 * (F.sum("cnt").over(w) - F.col("cnt")) + F.col("cnt") + 1,
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.sum("pos_cnt").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos_cnt")).alias("n_neg"),
        F.sum(F.col("pos_cnt") * F.col("rank2")).alias("__r2"),
    )
    auc = (
        (F.col("__r2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
        / (2.0 * F.col("n_pos") * F.col("n_neg")).cast("double")
    )
    return agg.select(
        "c_mktsegment", "n_pos", "n_neg", F.round(auc, 6).alias("auc")
    ).orderBy("c_mktsegment")


def q170_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence for market segment x
    order priority: X² = Σ (O−E)²/E with E = row_total·col_total/N.
    The contingency table is ONE hash aggregate over the joined fact —
    the ONLY pass that touches fact rows. Row/column marginals and the
    grand total come from windows over the tiny R·C cell frame (a
    separate groupBy-per-marginal would make Catalyst recompute the
    fact join three more times; the window form keeps the plan at one
    fact scan). O and the marginals are exact integers; E and each
    cell's contribution are formed with the identical double
    expression on both engines, summed over a fixed 25-cell frame via
    decimal accumulation of 9dp-rounded terms."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    framed = cells.select(
        "c_mktsegment",
        "o_orderpriority",
        "obs",
        F.sum("obs").over(Window.partitionBy("c_mktsegment")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("o_orderpriority")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    e = (
        (F.col("row_tot") * F.col("col_tot")).cast("double")
        / F.col("n").cast("double")
    )
    term = F.round(
        (F.col("obs").cast("double") - e) * (F.col("obs").cast("double") - e) / e,
        9,
    )
    return framed.agg(
        F.first("n").alias("n"),
        (
            (F.countDistinct("c_mktsegment") - 1)
            * (F.countDistinct("o_orderpriority") - 1)
        ).alias("dof"),
        F.round(F.sum(term.cast("decimal(28,9)")), 4).cast("double").alias("chi2"),
    )


PSI_BASE_YEAR = 1997
PSI_TARGET_YEAR = 1998
PSI_BIN_WIDTH = 50_000
PSI_MAX_BIN = 9
PSI_EPS = 1e-6


def q171_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two years of the order-price
    distribution — the standard drift gate in front of a model retrain:
    PSI = Σ_bins (p−q)·ln(p/q) over FIXED bins (floor(price/50k),
    capped), epsilon-floored so empty bins contribute finitely. Fixed
    edges (not quantile edges) keep the statistic mergeable and
    history-stable: each period is one filter + hash agg over its scan,
    the bin spine is a 10-row generated frame (so bins empty in BOTH
    periods still appear at PSI term 0), and the output is per-bin
    terms plus exact counts — the total is their sum, but per-bin
    terms are what a drift dashboard plots. Proportions divide exact
    integers in double; ln runs on the identical quotient in both
    engines, rounded 9dp."""
    o = load_table(spark, sf_dir, "orders")

    def year_counts(year: int, alias: str) -> DataFrame:
        bin_ = F.least(
            F.floor(F.col("o_totalprice") / PSI_BIN_WIDTH), F.lit(PSI_MAX_BIN)
        ).cast("int")
        return (
            # sargable range (parity.year_equals) so the year predicate
            # reaches the orders scan (r14, guide §6)
            o.filter(year_equals(F.col("o_orderdate"), year))
            .groupBy(bin_.alias("bin"))
            .agg(F.count(F.lit(1)).alias(alias))
        )
    spine = spark.range(0, PSI_MAX_BIN + 1).select(F.col("id").cast("int").alias("bin"))
    base = year_counts(PSI_BASE_YEAR, "n_base")
    targ = year_counts(PSI_TARGET_YEAR, "n_target")
    joined = (
        spine.join(F.broadcast(base), "bin", "left")
        .join(F.broadcast(targ), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_target", F.lit(0)).alias("n_target"),
        )
    )
    tots = joined.agg(
        F.sum("n_base").alias("__tb"), F.sum("n_target").alias("__tt")
    )
    p = F.greatest(
        F.col("n_base").cast("double") / F.col("__tb").cast("double"),
        F.lit(PSI_EPS),
    )
    q = F.greatest(
        F.col("n_target").cast("double") / F.col("__tt").cast("double"),
        F.lit(PSI_EPS),
    )
    return (
        joined.crossJoin(F.broadcast(tots))
        .select(
            "bin",
            "n_base",
            "n_target",
            F.round((p - q) * F.log(p / q), 9).alias("psi_term"),
        )
        .orderBy("bin")
    )


KS_GROUP_A = "BUILDING"
KS_GROUP_B = "AUTOMOBILE"


def q172_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the order-price
    distributions of two customer segments: D = sup_x |F_a(x)−F_b(x)|.
    Scalable formulation: collapse to per-distinct-score counts per
    group (hash agg), one cumulative window over the MERGED distinct-
    score frame (both groups' step functions advance on the union of
    jump points — required for correctness when a group's ECDF jumps
    where the other is flat), then D as the max of the INTEGER
    cross-product |cum_a·n_b − cum_b·n_a| divided once by n_a·n_b.
    Integer max is order-independent and exact; the argmax score is
    reported as the MIN score achieving the max (deterministic under
    ties). The window runs over distinct scores, never raw rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    labeled = (
        o.join(
            F.broadcast(
                c.filter(F.col("c_mktsegment").isin(KS_GROUP_A, KS_GROUP_B)).select(
                    "c_custkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("o_totalprice").alias("score"),
            (F.col("c_mktsegment") == KS_GROUP_A).cast("long").alias("is_a"),
        )
    )
    per_score = labeled.groupBy("score").agg(
        F.sum("is_a").alias("ca"), (F.count(F.lit(1)) - F.sum("is_a")).alias("cb")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    stepped = per_score.select(
        "score",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = per_score.agg(F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"))
    gaps = stepped.crossJoin(F.broadcast(tot)).select(
        "score",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("__gap"),
    )
    best = gaps.agg(F.max("__gap").alias("__best"))
    return (
        gaps.crossJoin(F.broadcast(best))
        .filter(F.col("__gap") == F.col("__best"))
        .groupBy("n_a", "n_b")
        .agg(
            F.min("score").alias("ks_at"),
            F.round(
                F.first(F.col("__best")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("ks_stat"),
        )
        .select("n_a", "n_b", "ks_at", "ks_stat")
    )


CAL_BINS = 10


def q180_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram + Expected Calibration Error
    for a probability-like score: normalized order price (price /
    global max, a [0,1] "predicted probability") as a predictor of
    urgent priority. Rows land in 10 equal-width probability bins;
    each bin reports its size, mean predicted probability
    (confidence) and observed positive rate (accuracy); ECE =
    Σ n_b/N · |acc_b − conf_b| rides along on every row. The global
    max comes from an AGGREGATE broadcast onto the scan (never a
    global window over raw rows); confidences accumulate as
    9dp-rounded DECIMALs (order-independent); the ECE sum runs as a
    window over the collapsed <=10-bin frame, so nothing after the
    first hash aggregate sees fact rows."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_totalprice").alias("__mx"))
    scored = o.crossJoin(F.broadcast(mx)).select(
        (F.col("o_totalprice") / F.col("__mx")).alias("p"),
        (F.col("o_orderpriority") == AUC_POS_PRIORITY).cast("long").alias("y"),
    )
    per_bin = (
        scored.withColumn(
            "bin",
            F.least(F.floor(F.col("p") * CAL_BINS), F.lit(CAL_BINS - 1)).cast(
                "int"
            ),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("p"), 9).cast("decimal(28,12)")).alias("__sp"),
            F.sum("y").alias("__ny"),
        )
        .select(
            "bin",
            "n",
            F.round(F.col("__sp").cast("double") / F.col("n"), 6).alias(
                "confidence"
            ),
            F.round(F.col("__ny").cast("double") / F.col("n"), 6).alias(
                "accuracy"
            ),
        )
    )
    w_all = Window.partitionBy()  # <=10 bin rows — collapsed frame
    contrib = F.round(
        F.abs(F.col("accuracy") - F.col("confidence")) * F.col("n"), 9
    ).cast("decimal(28,12)")
    return (
        per_bin.withColumn(
            "ece",
            F.round(
                F.sum(contrib).over(w_all).cast("double")
                / F.sum("n").over(w_all).cast("double"),
                6,
            ),
        )
        .orderBy("bin")
    )


QUERIES = {
    "q180_score_calibration": q180_score_calibration,
    "q169_priority_auc": q169_priority_auc,
    "q170_chisq_independence": q170_chisq_independence,
    "q171_psi_price_drift": q171_psi_price_drift,
    "q172_ks_two_sample": q172_ks_two_sample,
}

ORACLE: dict[str, str] = {}

ORACLE["q169_priority_auc"] = f"""
    WITH labeled AS (
        SELECT c.c_mktsegment, o.o_totalprice AS score,
               CASE WHEN o.o_orderpriority = '{AUC_POS_PRIORITY}'
                    THEN 1 ELSE 0 END AS pos
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per_score AS (
        SELECT c_mktsegment, score, COUNT(*) AS cnt, SUM(pos) AS pos_cnt
        FROM labeled GROUP BY 1, 2
    ), ranked AS (
        SELECT c_mktsegment, cnt, pos_cnt,
               2 * (SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY score
                                   ROWS UNBOUNDED PRECEDING) - cnt)
                   + cnt + 1 AS rank2
        FROM per_score
    ), agg AS (
        SELECT c_mktsegment, CAST(SUM(pos_cnt) AS BIGINT) AS n_pos,
               CAST(SUM(cnt) - SUM(pos_cnt) AS BIGINT) AS n_neg,
               SUM(pos_cnt * rank2) AS r2
        FROM ranked GROUP BY 1
    )
    SELECT c_mktsegment, n_pos, n_neg,
           ROUND((r2 - n_pos * (n_pos + 1))::DOUBLE
                 / (2.0 * n_pos * n_neg)::DOUBLE, 6) AS auc
    FROM agg ORDER BY c_mktsegment
"""

ORACLE["q170_chisq_independence"] = """
    WITH cells AS (
        SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS obs
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), rows_ AS (
        SELECT c_mktsegment, SUM(obs) AS row_tot FROM cells GROUP BY 1
    ), cols_ AS (
        SELECT o_orderpriority, SUM(obs) AS col_tot FROM cells GROUP BY 1
    ), tot AS (
        SELECT SUM(obs) AS n,
               COUNT(DISTINCT c_mktsegment) AS r,
               COUNT(DISTINCT o_orderpriority) AS c
        FROM cells
    )
    SELECT CAST(MAX(tot.n) AS BIGINT) AS n,
           CAST(MAX((tot.r - 1) * (tot.c - 1)) AS BIGINT) AS dof,
           CAST(ROUND(SUM(CAST(ROUND(
               (cells.obs::DOUBLE - (rows_.row_tot * cols_.col_tot)::DOUBLE / tot.n::DOUBLE)
               * (cells.obs::DOUBLE - (rows_.row_tot * cols_.col_tot)::DOUBLE / tot.n::DOUBLE)
               / ((rows_.row_tot * cols_.col_tot)::DOUBLE / tot.n::DOUBLE), 9)
               AS DECIMAL(28,9))), 4) AS DOUBLE) AS chi2
    FROM cells
    JOIN rows_ USING (c_mktsegment)
    JOIN cols_ USING (o_orderpriority)
    CROSS JOIN tot
"""

ORACLE["q171_psi_price_drift"] = f"""
    WITH spine AS (
        SELECT UNNEST(RANGE(0, {PSI_MAX_BIN + 1}))::INT AS bin
    ), base AS (
        SELECT LEAST(FLOOR(o_totalprice / {PSI_BIN_WIDTH}), {PSI_MAX_BIN})::INT
                   AS bin,
               COUNT(*) AS n_base
        FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = {PSI_BASE_YEAR}
        GROUP BY 1
    ), targ AS (
        SELECT LEAST(FLOOR(o_totalprice / {PSI_BIN_WIDTH}), {PSI_MAX_BIN})::INT
                   AS bin,
               COUNT(*) AS n_target
        FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = {PSI_TARGET_YEAR}
        GROUP BY 1
    ), joined AS (
        SELECT s.bin, COALESCE(b.n_base, 0) AS n_base,
               COALESCE(t.n_target, 0) AS n_target
        FROM spine s LEFT JOIN base b USING (bin) LEFT JOIN targ t USING (bin)
    ), tots AS (
        SELECT SUM(n_base) AS tb, SUM(n_target) AS tt FROM joined
    )
    SELECT bin, n_base, n_target,
           ROUND((GREATEST(n_base::DOUBLE / tb::DOUBLE, {PSI_EPS})
                  - GREATEST(n_target::DOUBLE / tt::DOUBLE, {PSI_EPS}))
                 * LN(GREATEST(n_base::DOUBLE / tb::DOUBLE, {PSI_EPS})
                      / GREATEST(n_target::DOUBLE / tt::DOUBLE, {PSI_EPS})), 9)
               AS psi_term
    FROM joined CROSS JOIN tots
    ORDER BY bin
"""

ORACLE["q172_ks_two_sample"] = f"""
    WITH labeled AS (
        SELECT o.o_totalprice AS score,
               CASE WHEN c.c_mktsegment = '{KS_GROUP_A}' THEN 1 ELSE 0 END AS is_a
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('{KS_GROUP_A}', '{KS_GROUP_B}')
    ), per_score AS (
        SELECT score, SUM(is_a) AS ca, COUNT(*) - SUM(is_a) AS cb
        FROM labeled GROUP BY 1
    ), stepped AS (
        SELECT score,
               SUM(ca) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_a,
               SUM(cb) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_b
        FROM per_score
    ), tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b
        FROM per_score
    ), gaps AS (
        SELECT score, n_a, n_b,
               ABS(cum_a * n_b - cum_b * n_a) AS gap
        FROM stepped CROSS JOIN tot
    ), best AS (
        SELECT MAX(gap) AS best FROM gaps
    )
    SELECT n_a, n_b, MIN(score) AS ks_at,
           ROUND(MAX(gap)::DOUBLE / (n_a * n_b)::DOUBLE, 6) AS ks_stat
    FROM gaps CROSS JOIN best
    WHERE gap = best
    GROUP BY n_a, n_b
"""

ORACLE["q180_score_calibration"] = f"""
    WITH scored AS (
        SELECT o.o_totalprice / mx.m AS p,
               CASE WHEN o.o_orderpriority = '{AUC_POS_PRIORITY}'
                    THEN 1 ELSE 0 END AS y
        FROM orders o
        CROSS JOIN (SELECT MAX(o_totalprice) AS m FROM orders) mx
    ), per_bin AS (
        SELECT CAST(LEAST(FLOOR(p * {CAL_BINS}), {CAL_BINS - 1}) AS INT) AS bin,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(ROUND(p, 9) AS DECIMAL(28,12))) AS DOUBLE)
                     / COUNT(*), 6) AS confidence,
               ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS accuracy
        FROM scored
        GROUP BY 1
    )
    SELECT bin, n, confidence, accuracy,
           ROUND(
               CAST(SUM(CAST(ROUND(ABS(accuracy - confidence) * n, 9)
                             AS DECIMAL(28,12))) OVER () AS DOUBLE)
               / CAST(SUM(n) OVER () AS DOUBLE), 6) AS ece
    FROM per_bin
    ORDER BY bin
"""


TS_EPOCH = "1992-01-01"


def q193_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the median of all
    pairwise slopes (y_j−y_i)/(x_j−x_i) over the per-day revenue
    series, plus the companion intercept median(y − m·x) — the
    outlier-resistant alternative to q107's OLS (a single wild day
    moves OLS, not the slope median). Shape discipline: the fact table
    collapses to ONE row per day (decimal-exact revenue sums) before
    the O(days²) pair join — days, not orders, bound the quadratic
    term, and days don't grow with fact blow-up. Each slope rounds to
    6dp; medians are interpolated percentiles of identical doubles, so
    both engines agree exactly."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
        .select(
            F.datediff("d", F.lit(TS_EPOCH).cast("date")).alias("x"), "y"
        )
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            F.round(
                (F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa")), 6
            ).alias("m")
        )
    )
    stats = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile("m", F.lit(0.5)).alias("m_med"),
    )
    m = F.round(F.col("m_med"), 6)
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "n_pairs",
            m.alias("sen_slope"),
            F.round(F.col("y") - m * F.col("x"), 6).alias("b0"),
        )
        .groupBy("n_pairs", "sen_slope")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.percentile("b0", F.lit(0.5)), 4).alias("sen_intercept"),
        )
        .select("n_days", "n_pairs", "sen_slope", "sen_intercept")
    )


ORACLE["q193_theil_sen_trend"] = f"""
    WITH daily AS (
        SELECT datediff('day', DATE '{TS_EPOCH}',
                        CAST(date_trunc('day', o_orderdate) AS DATE)) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
        FROM orders
        GROUP BY 1
    ), slopes AS (
        SELECT ROUND((b.y - a.y) / (b.x - a.x), 6) AS m
        FROM daily a JOIN daily b ON a.x < b.x
    ), stats AS (
        SELECT COUNT(*) AS n_pairs,
               ROUND(quantile_cont(m, 0.5), 6) AS sen_slope
        FROM slopes
    )
    SELECT (SELECT COUNT(*) FROM daily) AS n_days,
           s.n_pairs, s.sen_slope,
           ROUND(quantile_cont(ROUND(d.y - s.sen_slope * d.x, 6), 0.5), 4)
               AS sen_intercept
    FROM daily d, stats s
    GROUP BY s.n_pairs, s.sen_slope
"""

QUERIES["q193_theil_sen_trend"] = q193_theil_sen_trend


MAD_K = 1.4826  # consistency constant for normal data
MAD_CUT = 3.5


def q196_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection via the median absolute
    deviation: an event is anomalous when |x − median| / (1.4826·MAD)
    exceeds 3.5 (the Iglewicz–Hoaglin rule) — unlike z-scores, one
    wild value cannot drag the threshold. Two grouped interpolated-
    percentile aggregates (rows = |groups|) broadcast back; the robust
    score is a narrow projection. Output is the per-group summary plus
    flagged-event count, so the value hash pins median, MAD, and every
    flag decision."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    med = ev.groupBy("event_type").agg(F.percentile(v, F.lit(0.5)).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(v - F.col("med")).alias("adev"), v.alias("x")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "med",
        "mad",
        (F.abs(F.col("x") - F.col("med")) > F.lit(MAD_CUT * MAD_K) * F.col("mad"))
        .alias("is_outlier"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("med"), 6).alias("median"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


ORACLE["q196_mad_outliers"] = f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value::DOUBLE, 0.5) AS med
        FROM events GROUP BY 1
    ), mad AS (
        SELECT e.event_type,
               quantile_cont(abs(e.value::DOUBLE - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY 1
    )
    SELECT e.event_type, COUNT(*) AS n,
           ROUND(ANY_VALUE(m.med), 6) AS median,
           ROUND(ANY_VALUE(d.mad), 6) AS mad,
           SUM(CASE WHEN abs(e.value::DOUBLE - m.med)
                        > {MAD_CUT * MAD_K} * d.mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
    GROUP BY 1
    ORDER BY 1
"""

QUERIES["q196_mad_outliers"] = q196_mad_outliers


ACF_MAX_LAG = 7


def q208_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags
    1..7 — the seasonality probe a pipeline runs before picking a
    forecasting window: acf(k) = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)².
    Shape discipline: the fact table collapses to ONE row per day
    (decimal-exact sums) before any window or join, so the lag join is
    days × 7, never orders × 7, and stays flat under fact blow-up.
    Cross-engine: μ comes from the EXACT decimal total (never a
    re-sum of doubles, which is order-dependent); every centered
    product rounds to 9dp and accumulates in DECIMAL(38,9), so both
    numerator and denominator are order-independent and the single
    final division is IEEE-identical on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("xd")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("t"),
        F.col("xd").cast("double").alias("x"),
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("xd").cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    den = (
        idx.crossJoin(F.broadcast(stats))
        .agg(
            F.sum(
                F.round((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu")), 9)
                .cast("decimal(38,9)")
            )
            .cast("double")
            .alias("den")
        )
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = idx.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b = idx.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(den))
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(
                    F.round(
                        (F.col("xa") - F.col("mu")) * (F.col("xb") - F.col("mu")), 9
                    ).cast("decimal(38,9)")
                ).cast("double")
                / F.first("den"),
                6,
            ).alias("acf"),
        )
        .orderBy("lag")
    )


ORACLE["q208_acf_daily_revenue"] = f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS xd
        FROM orders GROUP BY 1
    ), idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS t, CAST(xd AS DOUBLE) AS x
        FROM daily
    ), stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS mu
        FROM daily
    ), den AS (
        SELECT CAST(SUM(CAST(ROUND((i.x - s.mu) * (i.x - s.mu), 9)
                             AS DECIMAL(38,9))) AS DOUBLE) AS den
        FROM idx i CROSS JOIN stats s
    ), lags AS (
        SELECT UNNEST(RANGE(1, {ACF_MAX_LAG + 1}))::INT AS lag
    )
    SELECT l.lag, COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(CAST(ROUND((a.x - s.mu) * (b.x - s.mu), 9)
                                AS DECIMAL(38,9))) AS DOUBLE) / MAX(d.den), 6)
               AS acf
    FROM lags l
    JOIN idx a ON TRUE
    JOIN idx b ON b.t = a.t + l.lag
    CROSS JOIN stats s CROSS JOIN den d
    GROUP BY l.lag
    ORDER BY l.lag
"""

QUERIES["q208_acf_daily_revenue"] = q208_acf_daily_revenue


def q209_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily event-count series: the
    level-shift statistic g_t = n·C_t − t·S (C_t = cumulative count,
    S = total, n = #days) is the cumulative deviation from the global
    mean SCALED BY n so it stays pure-integer — the classic CUSUM
    argmax |Σ(x_i − μ)| changepoint estimator with zero float drift.
    The day spine is generated min..max so silent zero-activity days
    can't shift t (driver-spine rule), and every window runs on the
    day-grain frame, never the fact table. Output pins the whole
    integer CUSUM path, the normalized magnitude, and the argmax
    flag."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
        ).alias("day")
    )
    full = spine.join(daily, "day", "left").select(
        "day", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    w = Window.orderBy("day")
    c = full.select(
        "day",
        "cnt",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).alias("t"),
    )
    tot = c.agg(
        F.max("t").cast("long").alias("n"), F.sum("cnt").cast("long").alias("s")
    )
    g = c.crossJoin(F.broadcast(tot)).select(
        "day",
        "cnt",
        "n",
        "s",
        (F.col("n") * F.col("cum") - F.col("t") * F.col("s")).alias("gstat"),
    )
    mx = g.agg(F.max(F.abs(F.col("gstat"))).alias("gmax"))
    return (
        g.crossJoin(F.broadcast(mx))
        .select(
            "day",
            "cnt",
            F.col("gstat").alias("cusum_scaled"),
            F.round(
                F.col("gstat").cast("double")
                / (F.col("n") * F.col("s")).cast("double"),
                6,
            ).alias("rel"),
            (F.abs(F.col("gstat")) == F.col("gmax")).alias("is_peak"),
        )
        .orderBy("day")
    )


ORACLE["q209_cusum_changepoint"] = """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS cnt
        FROM events GROUP BY 1
    ), spine AS (
        SELECT UNNEST(generate_series(
            (SELECT MIN(day) FROM daily),
            (SELECT MAX(day) FROM daily),
            INTERVAL 1 DAY)) AS day
    ), full_ AS (
        SELECT s.day, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt
        FROM spine s LEFT JOIN daily d USING (day)
    ), c AS (
        SELECT day, cnt,
               CAST(SUM(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
        FROM full_
    ), tot AS (
        SELECT CAST(MAX(t) AS BIGINT) AS n, CAST(SUM(cnt) AS BIGINT) AS s
        FROM c
    ), g AS (
        SELECT c.day, c.cnt, tot.n, tot.s,
               tot.n * c.cum - c.t * tot.s AS gstat
        FROM c CROSS JOIN tot
    ), mx AS (
        SELECT MAX(ABS(gstat)) AS gmax FROM g
    )
    SELECT day, cnt, CAST(gstat AS BIGINT) AS cusum_scaled,
           ROUND(gstat::DOUBLE / (n * s)::DOUBLE, 6) AS rel,
           ABS(gstat) = mx.gmax AS is_peak
    FROM g CROSS JOIN mx
    ORDER BY day
"""

QUERIES["q209_cusum_changepoint"] = q209_cusum_changepoint


TE_SMOOTH_M = 50  # m-estimate pseudo-observations


def q210_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of part brand against the return-rate
    label — the m-estimate encoder enc = (Σy + m·prior)/(n + m) every
    feature pipeline ships before a GBM: rare brands shrink toward the
    global return rate, frequent brands keep their own. Computed as
    ONE cross-multiplied integer form enc = (Σy·N + m·Sy)/(N·(n+m)) so
    the only float op is the final division (identical IEEE on both
    engines). One fact-scan hash aggregate after a broadcast dim join;
    the encoder table is |brands| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    labeled = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select("p_brand", (F.col("l_returnflag") == "R").cast("long").alias("y"))
    cells = labeled.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("big_n"), F.sum("pos").cast("long").alias("sy")
    )
    enc = (
        (F.col("pos") * F.col("big_n") + F.lit(TE_SMOOTH_M) * F.col("sy")).cast(
            "double"
        )
        / (F.col("big_n") * (F.col("n") + F.lit(TE_SMOOTH_M))).cast("double")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select("p_brand", "n", "pos", F.round(enc, 6).alias("enc"))
        .orderBy("p_brand")
    )


ORACLE["q210_target_encoding"] = f"""
    WITH labeled AS (
        SELECT p.p_brand,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), cells AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM labeled GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS big_n, CAST(SUM(pos) AS BIGINT) AS sy
        FROM cells
    )
    SELECT p_brand, n, pos,
           ROUND((pos * big_n + {TE_SMOOTH_M} * sy)::DOUBLE
                 / (big_n * (n + {TE_SMOOTH_M}))::DOUBLE, 6) AS enc
    FROM cells CROSS JOIN tot
    ORDER BY p_brand
"""

QUERIES["q210_target_encoding"] = q210_target_encoding


WOE_BIN_WIDTH = 50_000
WOE_MAX_BIN = 9
WOE_PC = 0.5  # Laplace pseudo-count per bin


def q211_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of binned order
    price against urgent priority — the classic credit-scoring feature
    filter: WOE_b = ln(p_good/p_bad) with 0.5 Laplace pseudo-counts
    (so empty bins stay finite AND proportions still sum to 1), IV =
    Σ(p_good − p_bad)·WOE. Fixed-width bins (PSI rule: mergeable,
    drift-free edges) driven from a generated 0..9 spine so empty bins
    appear. One fact-scan hash aggregate; windows run over the 10-row
    bin frame; each IV term rounds to 9dp and accumulates in DECIMAL
    so the sum is order-independent cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / WOE_BIN_WIDTH), F.lit(WOE_MAX_BIN)
        )
        .cast("int")
        .alias("bin"),
        (F.col("o_orderpriority") == AUC_POS_PRIORITY).cast("long").alias("g"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("g").alias("n_good"),
        (F.count(F.lit(1)) - F.sum("g")).alias("n_bad"),
    )
    spine = spark.range(0, WOE_MAX_BIN + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    full = spine.join(cells, "bin", "left").select(
        "bin",
        F.coalesce("n_good", F.lit(0)).alias("n_good"),
        F.coalesce("n_bad", F.lit(0)).alias("n_bad"),
    )
    wall = Window.partitionBy()
    n_bins = F.lit(WOE_MAX_BIN + 1)
    pg = (F.col("n_good") + F.lit(WOE_PC)).cast("double") / (
        F.sum("n_good").over(wall) + F.lit(WOE_PC) * n_bins
    ).cast("double")
    pb = (F.col("n_bad") + F.lit(WOE_PC)).cast("double") / (
        F.sum("n_bad").over(wall) + F.lit(WOE_PC) * n_bins
    ).cast("double")
    woe = F.log(pg / pb)
    term = F.round((pg - pb) * woe, 9).cast("decimal(28,9)")
    return (
        full.select(
            "bin",
            "n_good",
            "n_bad",
            F.round(woe, 6).alias("woe"),
            F.round(F.sum(term).over(wall).cast("double"), 6).alias("iv"),
        )
        .orderBy("bin")
    )


ORACLE["q211_woe_iv"] = f"""
    WITH binned AS (
        SELECT LEAST(FLOOR(o_totalprice / {WOE_BIN_WIDTH}), {WOE_MAX_BIN})::INT
                   AS bin,
               CASE WHEN o_orderpriority = '{AUC_POS_PRIORITY}'
                    THEN 1 ELSE 0 END AS g
        FROM orders
    ), cells AS (
        SELECT bin, CAST(SUM(g) AS BIGINT) AS n_good,
               CAST(COUNT(*) - SUM(g) AS BIGINT) AS n_bad
        FROM binned GROUP BY 1
    ), spine AS (
        SELECT UNNEST(RANGE(0, {WOE_MAX_BIN + 1}))::INT AS bin
    ), full_ AS (
        SELECT s.bin, CAST(COALESCE(c.n_good, 0) AS BIGINT) AS n_good,
               CAST(COALESCE(c.n_bad, 0) AS BIGINT) AS n_bad
        FROM spine s LEFT JOIN cells c USING (bin)
    ), scored AS (
        SELECT bin, n_good, n_bad,
               (n_good + {WOE_PC})::DOUBLE
                   / (SUM(n_good) OVER () + {WOE_PC} * {WOE_MAX_BIN + 1})::DOUBLE
                   AS pg,
               (n_bad + {WOE_PC})::DOUBLE
                   / (SUM(n_bad) OVER () + {WOE_PC} * {WOE_MAX_BIN + 1})::DOUBLE
                   AS pb
        FROM full_
    )
    SELECT bin, n_good, n_bad,
           ROUND(LN(pg / pb), 6) AS woe,
           ROUND(CAST(SUM(CAST(ROUND((pg - pb) * LN(pg / pb), 9)
                               AS DECIMAL(28,9))) OVER () AS DOUBLE), 6) AS iv
    FROM scored
    ORDER BY bin
"""

QUERIES["q211_woe_iv"] = q211_woe_iv


def q212_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision–recall curve, the
    step-interpolation estimator) of order price as a ranker for
    urgent priority, per market segment — the companion to q169's AUC
    for imbalanced labels: AP = Σ_k ΔR_k·P_k over score-descending
    steps, with tied scores collapsed to one step whose precision is
    taken at the END of the tie group (the standard merged-ties form).
    Same scale shape as the AUC: one fact map + hash aggregate to the
    distinct-score grain, one cumulative window per segment; each step
    term is the integer cross-product (pos_k·cumpos_k)/(cumtot_k·P)
    rounded to 12dp and DECIMAL-accumulated, so the sum is
    order-independent and cross-engine exact."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    labeled = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        "c_mktsegment",
        F.col("o_totalprice").alias("score"),
        (F.col("o_orderpriority") == AUC_POS_PRIORITY).cast("long").alias("pos"),
    )
    per_score = labeled.groupBy("c_mktsegment", "score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("pos_cnt")
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stepped = per_score.select(
        "c_mktsegment",
        "pos_cnt",
        F.sum("pos_cnt").over(w).alias("cum_pos"),
        F.sum("cnt").over(w).alias("cum_tot"),
        F.sum("pos_cnt")
        .over(Window.partitionBy("c_mktsegment"))
        .alias("p_tot"),
        F.sum("cnt").over(Window.partitionBy("c_mktsegment")).alias("n_tot"),
    )
    term = F.round(
        (F.col("pos_cnt") * F.col("cum_pos")).cast("double")
        / (F.col("cum_tot") * F.col("p_tot")).cast("double"),
        12,
    ).cast("decimal(28,12)")
    return (
        stepped.groupBy("c_mktsegment")
        .agg(
            F.first("p_tot").alias("n_pos"),
            F.first("n_tot").alias("n"),
            F.round(F.sum(term).cast("double"), 6).alias("ap"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE["q212_average_precision"] = f"""
    WITH labeled AS (
        SELECT c.c_mktsegment, o.o_totalprice AS score,
               CASE WHEN o.o_orderpriority = '{AUC_POS_PRIORITY}'
                    THEN 1 ELSE 0 END AS pos
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per_score AS (
        SELECT c_mktsegment, score, COUNT(*) AS cnt, SUM(pos) AS pos_cnt
        FROM labeled GROUP BY 1, 2
    ), stepped AS (
        SELECT c_mktsegment, pos_cnt,
               SUM(pos_cnt) OVER (PARTITION BY c_mktsegment ORDER BY score DESC
                                  ROWS UNBOUNDED PRECEDING) AS cum_pos,
               SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY score DESC
                              ROWS UNBOUNDED PRECEDING) AS cum_tot,
               SUM(pos_cnt) OVER (PARTITION BY c_mktsegment) AS p_tot,
               SUM(cnt) OVER (PARTITION BY c_mktsegment) AS n_tot
        FROM per_score
    )
    SELECT c_mktsegment,
           CAST(ANY_VALUE(p_tot) AS BIGINT) AS n_pos,
           CAST(ANY_VALUE(n_tot) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(
               (pos_cnt * cum_pos)::DOUBLE / (cum_tot * p_tot)::DOUBLE, 12)
               AS DECIMAL(28,12))) AS DOUBLE), 6) AS ap
    FROM stepped
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""

QUERIES["q212_average_precision"] = q212_average_precision


STUMP_BIN = 1_000  # candidate thresholds at $1000 granularity


def q213_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-split decision stump on order price for the urgent-
    priority label: the exact greedy first node a distributed GBM/CART
    builds — candidate thresholds at fixed $1000 granularity, split
    quality = weighted Gini impurity N·G = 2·(posL·negL/nL +
    posR·negR/nR) scanned via ONE cumulative window over the bin-grain
    frame. All counts are exact integers; every candidate's score is
    the same IEEE expression on both engines, so the argmin (ties →
    lowest threshold) is deterministic. One fact-scan hash aggregate;
    the candidate scan touches |bins| rows, never facts."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.select(
            F.floor(F.col("o_totalprice") / STUMP_BIN).cast("long").alias("bin"),
            (F.col("o_orderpriority") == AUC_POS_PRIORITY)
            .cast("long")
            .alias("pos"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("posc"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    scanned = cells.select(
        "bin",
        F.sum("cnt").over(w).alias("n_l"),
        F.sum("posc").over(w).alias("pos_l"),
        F.sum("cnt").over(wall).alias("n_tot"),
        F.sum("posc").over(wall).alias("pos_tot"),
        F.max("bin").over(wall).alias("max_bin"),
    ).filter(F.col("bin") < F.col("max_bin"))
    n_r = F.col("n_tot") - F.col("n_l")
    pos_r = F.col("pos_tot") - F.col("pos_l")
    neg_l = F.col("n_l") - F.col("pos_l")
    neg_r = n_r - pos_r
    score = 2.0 * (
        (F.col("pos_l") * neg_l).cast("double") / F.col("n_l").cast("double")
        + (pos_r * neg_r).cast("double") / n_r.cast("double")
    ) / F.col("n_tot").cast("double")
    ranked = scanned.select(
        ((F.col("bin") + 1) * STUMP_BIN).alias("threshold"),
        F.col("n_l").alias("n_left"),
        F.col("pos_l").alias("pos_left"),
        n_r.alias("n_right"),
        pos_r.alias("pos_right"),
        score.alias("g"),
    ).withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("g").asc(), F.col("threshold").asc())),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "threshold",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        F.round(F.col("g"), 6).alias("gini"),
    )


ORACLE["q213_decision_stump"] = f"""
    WITH cells AS (
        SELECT FLOOR(o_totalprice / {STUMP_BIN})::BIGINT AS bin,
               COUNT(*) AS cnt,
               SUM(CASE WHEN o_orderpriority = '{AUC_POS_PRIORITY}'
                        THEN 1 ELSE 0 END) AS posc
        FROM orders GROUP BY 1
    ), scanned AS (
        SELECT bin,
               SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS n_l,
               SUM(posc) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS pos_l,
               SUM(cnt) OVER () AS n_tot,
               SUM(posc) OVER () AS pos_tot,
               MAX(bin) OVER () AS max_bin
        FROM cells
    ), cand AS (
        SELECT (bin + 1) * {STUMP_BIN} AS threshold,
               CAST(n_l AS BIGINT) AS n_left,
               CAST(pos_l AS BIGINT) AS pos_left,
               CAST(n_tot - n_l AS BIGINT) AS n_right,
               CAST(pos_tot - pos_l AS BIGINT) AS pos_right,
               2.0 * ((pos_l * (n_l - pos_l))::DOUBLE / n_l::DOUBLE
                      + ((pos_tot - pos_l) * ((n_tot - n_l) - (pos_tot - pos_l)))::DOUBLE
                        / (n_tot - n_l)::DOUBLE) / n_tot::DOUBLE AS g
        FROM scanned
        WHERE bin < max_bin
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           n_left, pos_left, n_right, pos_right,
           ROUND(g, 6) AS gini
    FROM cand
    ORDER BY g ASC, threshold ASC
    LIMIT 1
"""

QUERIES["q213_decision_stump"] = q213_decision_stump


OOF_FOLDS = 5
OOF_SEED = "oofenc"


def q218_oof_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — q210's m-estimate encoder made
    leakage-safe for training: rows are dealt into 5 folds by an
    md5 hash of the ORDER key (whole orders stay in one fold, the
    group-consistent deal), and the encoding a fold sees is computed
    from the OTHER folds only: enc(b,f) = ((pos_b − pos_bf)·N_¬f +
    m·(Sy − y_f)) / (N_¬f·((n_b − n_bf) + m)). One fact-scan hash
    aggregate to the |brands|×|folds| cell frame; brand, fold, and
    global totals are windows over that tiny frame; the encoder is a
    single cross-multiplied integer division per cell."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(OOF_SEED + ":"),
                        F.col("l_orderkey").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % OOF_FOLDS
    ).cast("int")
    labeled = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "p_brand",
        fold.alias("fold"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    cells = labeled.groupBy("p_brand", "fold").agg(
        F.count(F.lit(1)).alias("n_bf"), F.sum("y").alias("pos_bf")
    )
    wb = Window.partitionBy("p_brand")
    wf = Window.partitionBy("fold")
    wall = Window.partitionBy()
    framed = cells.select(
        "p_brand",
        "fold",
        "n_bf",
        F.sum("n_bf").over(wb).alias("n_b"),
        F.sum("pos_bf").over(wb).alias("pos_b"),
        F.col("pos_bf").alias("pos_bf_"),
        F.sum("n_bf").over(wf).alias("n_f"),
        F.sum("pos_bf").over(wf).alias("y_f"),
        F.sum("n_bf").over(wall).alias("big_n"),
        F.sum("pos_bf").over(wall).alias("sy"),
    )
    n_nf = F.col("big_n") - F.col("n_f")
    enc = (
        (
            (F.col("pos_b") - F.col("pos_bf_")) * n_nf
            + F.lit(TE_SMOOTH_M) * (F.col("sy") - F.col("y_f"))
        ).cast("double")
        / (n_nf * ((F.col("n_b") - F.col("n_bf")) + F.lit(TE_SMOOTH_M))).cast(
            "double"
        )
    )
    return framed.select(
        "p_brand",
        "fold",
        F.col("n_bf").alias("n"),
        F.round(enc, 6).alias("enc_oof"),
    ).orderBy("p_brand", "fold")


ORACLE["q218_oof_target_encoding"] = f"""
    WITH labeled AS (
        SELECT p.p_brand,
               CAST(('0x' || substr(md5('{OOF_SEED}:' || l.l_orderkey::VARCHAR),
                                    1, 15))::BIGINT % {OOF_FOLDS} AS INT) AS fold,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), cells AS (
        SELECT p_brand, fold, CAST(COUNT(*) AS BIGINT) AS n_bf,
               CAST(SUM(y) AS BIGINT) AS pos_bf
        FROM labeled GROUP BY 1, 2
    ), framed AS (
        SELECT p_brand, fold, n_bf, pos_bf,
               SUM(n_bf) OVER (PARTITION BY p_brand) AS n_b,
               SUM(pos_bf) OVER (PARTITION BY p_brand) AS pos_b,
               SUM(n_bf) OVER (PARTITION BY fold) AS n_f,
               SUM(pos_bf) OVER (PARTITION BY fold) AS y_f,
               SUM(n_bf) OVER () AS big_n,
               SUM(pos_bf) OVER () AS sy
        FROM cells
    )
    SELECT p_brand, fold, n_bf AS n,
           ROUND(((pos_b - pos_bf) * (big_n - n_f)
                  + {TE_SMOOTH_M} * (sy - y_f))::DOUBLE
                 / ((big_n - n_f) * ((n_b - n_bf) + {TE_SMOOTH_M}))::DOUBLE,
                 6) AS enc_oof
    FROM framed
    ORDER BY p_brand, fold
"""

QUERIES["q218_oof_target_encoding"] = q218_oof_target_encoding


MOM_SCALE = 1_000_000  # price scaled to ~[0, 0.6] before power sums


def q219_group_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-segment skewness and excess kurtosis of order price
    from raw power sums — the one-pass mergeable moment pipeline
    (Σz, Σz², Σz³, Σz⁴ with z = price/1e6 so z⁴ stays O(0.1) and the
    12dp-rounded terms accumulate exactly in DECIMAL): central moments
    come from the standard raw→central identities, and m2^1.5 is
    written m2·sqrt(m2) because IEEE sqrt is correctly rounded on both
    engines (pow(x,1.5) is not). One fact-scan hash aggregate; no
    windows, no second pass."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    z = (F.col("o_totalprice").cast("double") / F.lit(float(MOM_SCALE))).alias(
        "z"
    )
    base = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("c_mktsegment", z)
    dec = lambda col: F.round(col, 12).cast("decimal(28,12)")  # noqa: E731
    zc = F.col("z")
    sums = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(zc)).cast("double").alias("s1"),
        F.sum(dec(zc * zc)).cast("double").alias("s2"),
        F.sum(dec(zc * zc * zc)).cast("double").alias("s3"),
        F.sum(dec(zc * zc * zc * zc)).cast("double").alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - F.lit(3.0) * mu * F.col("s2") / n + F.lit(2.0) * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * mu * F.col("s3") / n
        + F.lit(6.0) * mu * mu * F.col("s2") / n
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return sums.select(
        "c_mktsegment",
        "n",
        F.round(mu * F.lit(float(MOM_SCALE)), 4).alias("mean_price"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis"),
    ).orderBy("c_mktsegment")


ORACLE["q219_group_moments"] = f"""
    WITH base AS (
        SELECT c.c_mktsegment,
               o.o_totalprice::DOUBLE / {MOM_SCALE} AS z
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), sums AS (
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(z, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(ROUND(z*z, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(ROUND(z*z*z, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s3,
               CAST(SUM(CAST(ROUND(z*z*z*z, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s4
        FROM base GROUP BY 1
    )
    SELECT c_mktsegment, n,
           ROUND((s1 / n) * {MOM_SCALE}, 4) AS mean_price,
           ROUND((s3/n - 3.0*(s1/n)*s2/n + 2.0*(s1/n)*(s1/n)*(s1/n))
                 / ((s2/n - (s1/n)*(s1/n))
                    * SQRT(s2/n - (s1/n)*(s1/n))), 6) AS skewness,
           ROUND((s4/n - 4.0*(s1/n)*s3/n + 6.0*(s1/n)*(s1/n)*s2/n
                  - 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                 / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0,
                 6) AS kurtosis
    FROM sums
    ORDER BY c_mktsegment
"""

QUERIES["q219_group_moments"] = q219_group_moments


CONF_FOLDS = 5  # fold 0 calibrates, folds 1..4 are the held-out test
CONF_ALPHA_NUM, CONF_ALPHA_DEN = 9, 10  # 1 - alpha = 9/10 target coverage
CONF_BUCKET = 100_000  # $1000 score buckets for the distributed exact rank


def q223_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction audit: calibrate a nonconformity
    threshold on a deterministic 20% split and measure empirical
    coverage of the resulting prediction band on the other 80% — the
    distribution-free guarantee check a model-serving pipeline runs
    before shipping score bands. Everything stays in INTEGER CENTS so
    both engines agree bit-for-bit: the per-priority "model" is the
    floor-div mean of calibration totalprice, nonconformity is
    |price - pred|, the threshold is the exact k-th smallest
    calibration score with k = ceil((n+1)·9/10) (the finite-sample
    conformal rank), and the k-th order statistic is found with the
    q215 decomposition — fixed-range buckets, prefix-summed offsets on
    the bucket-grain frame, and a row_number PARTITIONED by the one
    target bucket — so no task ever sorts more than one value-range
    bucket of the fact table."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("conf:"), F.col("o_orderkey").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % CONF_FOLDS
        ).alias("fold"),
    )
    calib = orders.filter(F.col("fold") == 0)
    test = orders.filter(F.col("fold") != 0)
    model = calib.groupBy("o_orderpriority").agg(
        F.expr("sum(cents) div count(1)").cast("long").alias("pred")
    )
    c_sc = calib.join(F.broadcast(model), "o_orderpriority").select(
        F.abs(F.col("cents") - F.col("pred")).alias("score")
    )
    t_sc = test.join(F.broadcast(model), "o_orderpriority").select(
        F.abs(F.col("cents") - F.col("pred")).alias("score")
    )
    n_calib = c_sc.agg(F.count(F.lit(1)).cast("long").alias("n_calib"))
    kk = n_calib.select(
        "n_calib",
        F.expr(
            f"(( (n_calib + 1) * {CONF_ALPHA_NUM} ) + {CONF_ALPHA_DEN} - 1)"
            f" div {CONF_ALPHA_DEN}"
        ).alias("k"),
    )
    bucketed = c_sc.withColumn("b", F.expr(f"score div {CONF_BUCKET}"))
    bcnt = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("bn"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = bcnt.select("b", F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("off"))
    target = (
        offs.crossJoin(F.broadcast(kk))
        .filter((F.col("off") < F.col("k")))
        .join(bcnt, "b")
        .filter(F.col("k") <= F.col("off") + F.col("bn"))
        .select("b", "off", "k", "n_calib")
    )
    wr = Window.partitionBy("b").orderBy("score")
    qhat = (
        bucketed.join(F.broadcast(target.select("b", "off", "k")), "b")
        .withColumn("rk", F.row_number().over(wr) + F.col("off"))
        .filter(F.col("rk") == F.col("k"))
        .select(F.col("score").alias("qhat"))
    )
    cov = t_sc.crossJoin(F.broadcast(qhat)).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.when(F.col("score") <= F.col("qhat"), 1).otherwise(0))
        .cast("long")
        .alias("covered"),
        F.max("qhat").alias("qhat_cents"),
    )
    return cov.crossJoin(F.broadcast(kk)).select(
        "n_calib",
        F.col("k").alias("conformal_rank"),
        "qhat_cents",
        "n_test",
        "covered",
        F.round(F.col("covered") / F.col("n_test").cast("double"), 6).alias(
            "coverage"
        ),
    )


ORACLE["q223_conformal_coverage"] = f"""
    WITH o AS (
        SELECT o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               ('0x' || substr(md5('conf:' || o_orderkey::VARCHAR), 1, 15))::BIGINT
                   % {CONF_FOLDS} AS fold
        FROM orders
    ), model AS (
        SELECT o_orderpriority, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred
        FROM o WHERE fold = 0 GROUP BY 1
    ), c_sc AS (
        SELECT ABS(o.cents - m.pred) AS score
        FROM o JOIN model m USING (o_orderpriority) WHERE o.fold = 0
    ), t_sc AS (
        SELECT ABS(o.cents - m.pred) AS score
        FROM o JOIN model m USING (o_orderpriority) WHERE o.fold <> 0
    ), kk AS (
        SELECT COUNT(*) AS n_calib,
               ((COUNT(*) + 1) * {CONF_ALPHA_NUM} + {CONF_ALPHA_DEN} - 1)
                   // {CONF_ALPHA_DEN} AS k
        FROM c_sc
    ), ranked AS (
        SELECT score, ROW_NUMBER() OVER (ORDER BY score) AS rn FROM c_sc
    ), qhat AS (
        SELECT r.score AS qhat FROM ranked r JOIN kk ON r.rn = kk.k
    )
    SELECT CAST(kk.n_calib AS BIGINT) AS n_calib,
           CAST(kk.k AS BIGINT) AS conformal_rank,
           CAST(q.qhat AS BIGINT) AS qhat_cents,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.score <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
               AS covered,
           ROUND(SUM(CASE WHEN t.score <= q.qhat THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
    FROM t_sc t, qhat q, kk
    GROUP BY kk.n_calib, kk.k, q.qhat
"""

QUERIES["q223_conformal_coverage"] = q223_conformal_coverage


BENFORD_SCALE = 10**9  # fixed-point scale for the expected-frequency table


def q226_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totalprice — the
    data-quality / fraud screen run over financial fact columns:
    compare the observed leading-digit distribution against
    log10(1 + 1/d) and report the chi-square distance. The leading
    digit comes from string math (first char of the integer cents
    magnitude) so both engines agree exactly; expected frequencies are
    fixed-point constants computed once in Python (identical literals
    in both plans, no cross-engine log divergence). One hash aggregate
    over the facts, then a 9-row join against the broadcast constant
    table."""
    import math

    exp_rows = [
        (d, int(round(math.log10(1.0 + 1.0 / d) * BENFORD_SCALE)))
        for d in range(1, 10)
    ]
    exp_df = local_frame(spark, exp_rows, "digit int, exp_s long").select(
        "digit", (F.col("exp_s") / BENFORD_SCALE).alias("expected")
    )
    orders = load_table(spark, sf_dir, "orders")
    obs = (
        orders.select(
            F.substring(
                F.abs(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = obs.agg(F.sum("n").cast("long").alias("n_tot"))
    scored = (
        exp_df.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            "expected",
            "n_tot",
        )
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("n_tot").cast("double"), 6).alias("observed"),
            F.round("expected", 6).alias("expected"),
            F.round(
                F.pow(F.col("n") - F.col("expected") * F.col("n_tot"), 2)
                / (F.col("expected") * F.col("n_tot")),
                6,
            ).alias("chi2_term"),
        )
    )
    return scored.orderBy("digit")


ORACLE["q226_benford_audit"] = None  # set below with Python-computed constants


def _q226_oracle_sql() -> str:
    import math

    vals = ", ".join(
        f"({d}, {int(round(math.log10(1.0 + 1.0 / d) * BENFORD_SCALE))})"
        for d in range(1, 10)
    )
    return f"""
    WITH expct (digit, exp_s) AS (VALUES {vals}),
    obs AS (
        SELECT CAST(substr(CAST(ABS(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS VARCHAR),
                           1, 1) AS INTEGER) AS digit,
               COUNT(*) AS n
        FROM orders
        GROUP BY 1
        HAVING CAST(substr(CAST(ABS(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS VARCHAR),
                           1, 1) AS INTEGER) >= 1
    ), tot AS (
        SELECT SUM(n) AS n_tot FROM obs
    )
    SELECT e.digit AS digit,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
           ROUND(COALESCE(o.n, 0) / CAST(t.n_tot AS DOUBLE), 6) AS observed,
           ROUND(e.exp_s / CAST({BENFORD_SCALE} AS DOUBLE), 6) AS expected,
           ROUND(POW(COALESCE(o.n, 0)
                     - (e.exp_s / CAST({BENFORD_SCALE} AS DOUBLE)) * t.n_tot, 2)
                 / ((e.exp_s / CAST({BENFORD_SCALE} AS DOUBLE)) * t.n_tot), 6)
               AS chi2_term
    FROM expct e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
    ORDER BY digit
"""


ORACLE["q226_benford_audit"] = _q226_oracle_sql()

QUERIES["q226_benford_audit"] = q226_benford_audit


MI_PRICE_BAND = 50_000  # totalprice band width (dollars) for the banded feature


def q229_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking against the order-status
    label — the model-agnostic feature-selection sweep next to q211's
    WOE/IV (binary, per-band) and q184's PMI (token pairs): for each
    candidate categorical feature, MI = Σ_xy (n_xy/N)·ln(N·n_xy /
    (n_x·n_y)), each term rounded to 9dp and summed in DECIMAL(28,9)
    in one fixed grouping (the q184 discipline), so the ranking is
    deterministic cross-engine. Features unpivot into (feature, value)
    rows — a narrow 4× Expand of the order scan, no joins beyond the
    customer dimension broadcast — and every count is a hash
    aggregate; the joint frame is (feature × values × 3 labels),
    bounded by cardinality, never by facts."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("o_orderstatus").alias("label"),
            F.col("o_orderpriority").alias("f_priority"),
            F.col("c_mktsegment").alias("f_segment"),
            F.col("n_name").alias("f_nation"),
            F.concat(
                F.lit("band_"),
                F.expr(f"cast(floor(o_totalprice + 0.5) as bigint) div {MI_PRICE_BAND}").cast(
                    "string"
                ),
            ).alias("f_priceband"),
        )
    )
    long = base.select(
        "label",
        F.expr(
            "stack(4, 'priority', f_priority, 'segment', f_segment,"
            " 'nation', f_nation, 'priceband', f_priceband)"
        ).alias("feature", "val"),
    )
    joint = long.groupBy("feature", "val", "label").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    margx = joint.groupBy("feature", "val").agg(F.sum("n_xy").alias("n_x"))
    margy = joint.groupBy("feature", "label").agg(F.sum("n_xy").alias("n_y"))
    tot = joint.groupBy("feature").agg(F.sum("n_xy").alias("n_all"))
    term = F.round(
        (F.col("n_xy") / F.col("n_all").cast("double"))
        * F.log(
            (F.col("n_all") * F.col("n_xy"))
            / (F.col("n_x").cast("double") * F.col("n_y"))
        ),
        9,
    ).cast("decimal(28,9)")
    return (
        joint.join(margx, ["feature", "val"])
        .join(margy, ["feature", "label"])
        .join(F.broadcast(tot), "feature")
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.round(F.sum(term).cast("double"), 6).alias("mi"),
        )
        .orderBy(F.desc("mi"), "feature")
    )


ORACLE["q229_mutual_information"] = f"""
    WITH base AS (
        SELECT o.o_orderstatus AS label,
               o.o_orderpriority AS f_priority,
               c.c_mktsegment AS f_segment,
               n.n_name AS f_nation,
               'band_' || (CAST(FLOOR(o.o_totalprice + 0.5) AS BIGINT) // {MI_PRICE_BAND})::VARCHAR
                   AS f_priceband
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), long AS (
        SELECT label, 'priority' AS feature, f_priority AS val FROM base
        UNION ALL
        SELECT label, 'segment', f_segment FROM base
        UNION ALL
        SELECT label, 'nation', f_nation FROM base
        UNION ALL
        SELECT label, 'priceband', f_priceband FROM base
    ), joint AS (
        SELECT feature, val, label, COUNT(*) AS n_xy
        FROM long GROUP BY 1, 2, 3
    ), margx AS (
        SELECT feature, val, SUM(n_xy) AS n_x FROM joint GROUP BY 1, 2
    ), margy AS (
        SELECT feature, label, SUM(n_xy) AS n_y FROM joint GROUP BY 1, 2
    ), tot AS (
        SELECT feature, SUM(n_xy) AS n_all FROM joint GROUP BY 1
    )
    SELECT j.feature AS feature,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(
               ROUND((j.n_xy / t.n_all::DOUBLE)
                     * LN((t.n_all * j.n_xy)
                          / (x.n_x::DOUBLE * y.n_y)), 9)::DECIMAL(28,9)
           ) AS DOUBLE), 6) AS mi
    FROM joint j
    JOIN margx x ON x.feature = j.feature AND x.val = j.val
    JOIN margy y ON y.feature = j.feature AND y.label = j.label
    JOIN tot t ON t.feature = j.feature
    GROUP BY j.feature
    ORDER BY mi DESC, j.feature
"""

QUERIES["q229_mutual_information"] = q229_mutual_information


def q232_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a user's activity volume and
    monetary mass — the monotone-association screen next to Pearson
    OLS (q107) and Theil–Sen (q193), robust to the heavy-tailed value
    distribution. Ties are handled exactly: average ranks come from
    the DISTINCT-VALUE frame (cum-count-before + (cnt+1)/2), doubled
    into integers so every moment accumulates in DECIMAL(38,0) with no
    float-sum-order hazard; rho is Pearson on the doubled ranks, one
    double division at the end. The global windows run on the two
    collapsed distinct-value frames (the q169 discipline), never on
    per-user rows; per-event values quantize to cents with
    floor(x·100+0.5) (Spark cast truncates, DuckDB rounds — floor+0.5
    agrees everywhere)."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("y"),
    )

    def doubled_ranks(col: str) -> DataFrame:
        dv = users.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return dv.select(
            col,
            (
                F.lit(2) * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias(f"r2_{col}"),
        )

    ranked = users.join(F.broadcast(doubled_ranks("x")), "x").join(
        F.broadcast(doubled_ranks("y")), "y"
    )
    d38 = "decimal(38,0)"
    sums = ranked.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("r2_x").cast(d38)).alias("sx"),
        F.sum(F.col("r2_y").cast(d38)).alias("sy"),
        F.sum((F.col("r2_x") * F.col("r2_y")).cast(d38)).alias("sxy"),
        F.sum((F.col("r2_x") * F.col("r2_x")).cast(d38)).alias("sxx"),
        F.sum((F.col("r2_y") * F.col("r2_y")).cast(d38)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return sums.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(num / F.sqrt(dx * dy), 6).alias("spearman_rho"),
    )


ORACLE["q232_spearman_corr"] = """
    WITH users AS (
        SELECT user_id, COUNT(*) AS x,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y
        FROM events GROUP BY 1
    ), dx AS (
        SELECT x, COUNT(*) AS cnt FROM users GROUP BY 1
    ), rx AS (
        SELECT x,
               2 * COALESCE(SUM(cnt) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS r2_x
        FROM dx
    ), dy AS (
        SELECT y, COUNT(*) AS cnt FROM users GROUP BY 1
    ), ry AS (
        SELECT y,
               2 * COALESCE(SUM(cnt) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS r2_y
        FROM dy
    ), ranked AS (
        SELECT u.user_id, rx.r2_x, ry.r2_y
        FROM users u JOIN rx ON u.x = rx.x JOIN ry ON u.y = ry.y
    ), sums AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(CAST(r2_x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(r2_y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(r2_x AS DECIMAL(38,0)) * r2_y) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(r2_x AS DECIMAL(38,0)) * r2_x) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(r2_y AS DECIMAL(38,0)) * r2_y) AS DECIMAL(38,0)) AS syy
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
    FROM sums
"""

QUERIES["q232_spearman_corr"] = q232_spearman_corr


def q233_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank test: does order totalprice differ across
    market segments? — the k-group nonparametric ANOVA completing the
    rank-test shelf (AUC/Mann-Whitney q169, KS q172, Spearman q232).
    Reuses q232's ties discipline: average ranks come from the
    DISTINCT-VALUE frame, doubled into integers, so the per-group rank
    sums R2_g, the tie-correction Σ(t³−t), and every other moment
    accumulate exactly in DECIMAL(38,0); H (tie-corrected) is
    assembled from those integers in one final double expression.
    Shapes: one cents hash-agg per (group, value), a prefix-sum window
    on the collapsed value frame only, and a 5-row group rollup."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(
        F.col("c_mktsegment").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    dv = base.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranks = dv.select(
        "v",
        "cnt",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("r2"),
    )
    d38 = "decimal(38,0)"
    per_grp = (
        base.join(F.broadcast(ranks.select("v", "r2")), "v")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n_g"),
            F.sum(F.col("r2").cast(d38)).alias("r2_g"),
        )
    )
    ties = ranks.agg(
        F.sum(
            (F.col("cnt").cast(d38) * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        ).alias("tie_sum")
    )
    tot = per_grp.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
    )
    # H = [ 12 * Σ (R_g²/n_g) / (N(N+1)) − 3(N+1) ] / (1 − Σ(t³−t)/(N³−N));
    # R_g = R2_g/2 → R_g² = R2_g²/4, all numerators exact until the end
    sums = (
        per_grp.select(
            (F.col("r2_g") * F.col("r2_g")).cast("double").alias("r2sq"),
            F.col("n_g").cast("double").alias("ng"),
        )
        .agg(F.sum(F.col("r2sq") / F.col("ng")).alias("sum_rsq_over_n"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
    )
    n = F.col("n").cast("double")
    h_raw = (
        F.lit(12.0) * (F.col("sum_rsq_over_n") / F.lit(4.0)) / (n * (n + 1))
        - F.lit(3.0) * (n + 1)
    )
    corr = F.lit(1.0) - F.col("tie_sum").cast("double") / (n * n * n - n)
    return sums.select(
        F.col("n").cast("long").alias("n_orders"),
        "k_groups",
        F.round(h_raw / corr, 6).alias("h_statistic"),
    )


ORACLE["q233_kruskal_wallis"] = """
    WITH base AS (
        SELECT c.c_mktsegment AS grp,
               CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), dv AS (
        SELECT v, COUNT(*) AS cnt FROM base GROUP BY 1
    ), ranks AS (
        SELECT v, cnt,
               2 * COALESCE(SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS r2
        FROM dv
    ), per_grp AS (
        SELECT b.grp,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS n_g,
               CAST(SUM(CAST(r.r2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS r2_g
        FROM base b JOIN ranks r ON b.v = r.v
        GROUP BY 1
    ), ties AS (
        SELECT CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)
                    AS DECIMAL(38,0)) AS tie_sum
        FROM ranks
    ), tot AS (
        SELECT CAST(SUM(n_g) AS DECIMAL(38,0)) AS n,
               CAST(COUNT(*) AS BIGINT) AS k_groups
        FROM per_grp
    ), sums AS (
        SELECT SUM(CAST(r2_g * r2_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                   AS sum_rsq_over_n
        FROM per_grp
    )
    SELECT CAST(tot.n AS BIGINT) AS n_orders,
           tot.k_groups,
           ROUND(
             (12.0 * (sums.sum_rsq_over_n / 4.0)
                / (CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) + 1))
              - 3.0 * (CAST(tot.n AS DOUBLE) + 1))
             / (1.0 - CAST(ties.tie_sum AS DOUBLE)
                / (POW(CAST(tot.n AS DOUBLE), 3) - CAST(tot.n AS DOUBLE))),
             6) AS h_statistic
    FROM sums, tot, ties
"""

QUERIES["q233_kruskal_wallis"] = q233_kruskal_wallis


CUPED_SPLIT_DAY = 16  # days 1-15 pre-period, 16+ experiment period


def q234_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout — the experiment-
    platform operator next to the z-test (q172-family) and uplift
    composition: per user, pre-period spend X (days 1-15) and
    experiment-period spend Y (day 16+) in exact cents, a deterministic
    md5 coin for treatment, θ = cov(X,Y)/var(X) from pooled moments,
    and the adjusted effect (Ȳt−Ȳc) − θ(X̄t−X̄c) assembled ENTIRELY
    from group moments — no per-row adjusted column, no second scan.
    All power sums accumulate in DECIMAL(38,0); θ, ρ² (the variance-
    reduction fraction), and the two effect estimates take one double
    step at the end. Shape: one user-grain hash-agg, one 2-row group
    rollup, one 1-row output."""
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.select(
            "user_id",
            F.when(
                F.dayofmonth("ts") < CUPED_SPLIT_DAY,
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("x_c"),
            F.when(
                F.dayofmonth("ts") >= CUPED_SPLIT_DAY,
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("y_c"),
        )
        .groupBy("user_id")
        .agg(F.sum("x_c").alias("x"), F.sum("y_c").alias("y"))
        .select(
            "x",
            "y",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("t"),
        )
    )
    d38 = "decimal(38,0)"
    pooled = users.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
    )
    grp = users.groupBy("t").agg(
        F.count(F.lit(1)).cast(d38).alias("n_g"),
        F.sum(F.col("x").cast(d38)).alias("sx_g"),
        F.sum(F.col("y").cast(d38)).alias("sy_g"),
    )
    wide = (
        grp.groupBy()
        .pivot("t", [0, 1])
        .agg(
            F.first("n_g").alias("n"),
            F.first("sx_g").alias("sx"),
            F.first("sy_g").alias("sy"),
        )
        .crossJoin(F.broadcast(pooled))
    )
    n = F.col("n").cast("double")
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    theta = cov / varx
    ybar_t = F.col("1_sy").cast("double") / F.col("1_n").cast("double")
    ybar_c = F.col("0_sy").cast("double") / F.col("0_n").cast("double")
    xbar_t = F.col("1_sx").cast("double") / F.col("1_n").cast("double")
    xbar_c = F.col("0_sx").cast("double") / F.col("0_n").cast("double")
    return wide.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("1_n").cast("long").alias("n_treat"),
        F.col("0_n").cast("long").alias("n_control"),
        F.round(theta, 6).alias("theta"),
        F.round((cov * cov) / (varx * vary), 6).alias("rho_sq"),
        F.round((ybar_t - ybar_c) / 100, 6).alias("raw_effect_dollars"),
        F.round(
            ((ybar_t - ybar_c) - theta * (xbar_t - xbar_c)) / 100, 6
        ).alias("cuped_effect_dollars"),
    )


ORACLE["q234_cuped_adjustment"] = f"""
    WITH users AS (
        SELECT user_id,
               SUM(CASE WHEN EXTRACT(day FROM ts) < {CUPED_SPLIT_DAY}
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS x,
               SUM(CASE WHEN EXTRACT(day FROM ts) >= {CUPED_SPLIT_DAY}
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS y,
               ('0x' || substr(md5('cuped:' || user_id::VARCHAR), 1, 15))::BIGINT
                   % 2 AS t
        FROM events GROUP BY user_id
    ), pooled AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
        FROM users
    ), grp AS (
        SELECT t, CAST(COUNT(*) AS DECIMAL(38,0)) AS n_g,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx_g,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy_g
        FROM users GROUP BY t
    ), wide AS (
        SELECT MAX(CASE WHEN t = 1 THEN n_g END) AS n1,
               MAX(CASE WHEN t = 1 THEN sx_g END) AS sx1,
               MAX(CASE WHEN t = 1 THEN sy_g END) AS sy1,
               MAX(CASE WHEN t = 0 THEN n_g END) AS n0,
               MAX(CASE WHEN t = 0 THEN sx_g END) AS sx0,
               MAX(CASE WHEN t = 0 THEN sy_g END) AS sy0
        FROM grp
    )
    SELECT CAST(p.n AS BIGINT) AS n_users,
           CAST(w.n1 AS BIGINT) AS n_treat,
           CAST(w.n0 AS BIGINT) AS n_control,
           ROUND(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                 / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE), 6) AS theta,
           ROUND(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                 * CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                 / (CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)
                    * CAST(p.n * p.syy - p.sy * p.sy AS DOUBLE)), 6) AS rho_sq,
           ROUND((CAST(w.sy1 AS DOUBLE) / CAST(w.n1 AS DOUBLE)
                  - CAST(w.sy0 AS DOUBLE) / CAST(w.n0 AS DOUBLE)) / 100, 6)
               AS raw_effect_dollars,
           ROUND(((CAST(w.sy1 AS DOUBLE) / CAST(w.n1 AS DOUBLE)
                   - CAST(w.sy0 AS DOUBLE) / CAST(w.n0 AS DOUBLE))
                  - (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                     / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE))
                    * (CAST(w.sx1 AS DOUBLE) / CAST(w.n1 AS DOUBLE)
                       - CAST(w.sx0 AS DOUBLE) / CAST(w.n0 AS DOUBLE))) / 100,
                 6) AS cuped_effect_dollars
    FROM pooled p, wide w
"""

QUERIES["q234_cuped_adjustment"] = q234_cuped_adjustment


def q235_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: the 2×2 (treatment ×
    pre/post) mean-outcome table and the interaction effect — the
    parallel-trends causal estimate next to q234's CUPED (same md5
    coin, same day-16 split, so the two reports reconcile). Outcomes
    stay in integer cents until the four means; the whole query is one
    hash aggregate to the 4-cell frame plus a 1-row assembly."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("t"),
            F.when(F.dayofmonth("ts") >= CUPED_SPLIT_DAY, F.lit(1))
            .otherwise(F.lit(0))
            .alias("post"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("t", "post")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        )
    )
    wide = cells.groupBy().pivot("t", [0, 1]).agg(
        F.max(F.when(F.col("post") == 0, F.col("s"))).alias("s_pre"),
        F.max(F.when(F.col("post") == 0, F.col("n"))).alias("n_pre"),
        F.max(F.when(F.col("post") == 1, F.col("s"))).alias("s_post"),
        F.max(F.when(F.col("post") == 1, F.col("n"))).alias("n_post"),
    )

    def mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double") / 100

    m_c_pre, m_c_post = mean("0_s_pre", "0_n_pre"), mean("0_s_post", "0_n_post")
    m_t_pre, m_t_post = mean("1_s_pre", "1_n_pre"), mean("1_s_post", "1_n_post")
    return wide.select(
        F.round(m_c_pre, 6).alias("control_pre"),
        F.round(m_c_post, 6).alias("control_post"),
        F.round(m_t_pre, 6).alias("treat_pre"),
        F.round(m_t_post, 6).alias("treat_post"),
        F.round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6).alias("did_effect"),
    )


ORACLE["q235_diff_in_diff"] = f"""
    WITH cells AS (
        SELECT ('0x' || substr(md5('cuped:' || user_id::VARCHAR), 1, 15))::BIGINT
                   % 2 AS t,
               CASE WHEN EXTRACT(day FROM ts) >= {CUPED_SPLIT_DAY}
                    THEN 1 ELSE 0 END AS post,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s
        FROM events GROUP BY 1, 2
    ), wide AS (
        SELECT
          MAX(CASE WHEN t=0 AND post=0 THEN CAST(s AS DOUBLE)/n/100 END) AS m_c_pre,
          MAX(CASE WHEN t=0 AND post=1 THEN CAST(s AS DOUBLE)/n/100 END) AS m_c_post,
          MAX(CASE WHEN t=1 AND post=0 THEN CAST(s AS DOUBLE)/n/100 END) AS m_t_pre,
          MAX(CASE WHEN t=1 AND post=1 THEN CAST(s AS DOUBLE)/n/100 END) AS m_t_post
        FROM cells
    )
    SELECT ROUND(m_c_pre, 6) AS control_pre,
           ROUND(m_c_post, 6) AS control_post,
           ROUND(m_t_pre, 6) AS treat_pre,
           ROUND(m_t_post, 6) AS treat_post,
           ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did_effect
    FROM wide
"""

QUERIES["q235_diff_in_diff"] = q235_diff_in_diff


TRIM_DEN = 10  # 10% trimmed from each tail
TRIM_BUCKET = 100_000  # $1000 value-range buckets for the rank decomposition


def q236_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT 10% trimmed and winsorized means of order
    totalprice — the robust-location estimators next to the MAD
    outlier gate (q196), computed WITHOUT a global sort: cents bucket
    by fixed $1000 ranges, the bucket-grain frame prefix-sums counts
    AND sums, buckets strictly inside the trim ranks contribute their
    precomputed sums wholesale, and only the (at most two) boundary
    buckets get a row_number — each PARTITIONED by its bucket, so no
    task ever sorts more than one value range (the q215/q223
    decomposition, extended from rank LOOKUP to rank-range
    AGGREGATION). Everything stays in integer cents / DECIMAL(38,0)
    until the two final divisions; sums over rank ranges are
    tie-invariant, so the arbitrary order among equal values cannot
    change the answer."""
    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("v")
    )
    d38 = "decimal(38,0)"
    bucketed = vals.withColumn("b", F.expr(f"v div {TRIM_BUCKET}"))
    bstat = bucketed.groupBy("b").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("v").cast(d38)).alias("bsum"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = bstat.select(
        "b",
        "cnt",
        "bsum",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("off"),
    )
    kk = vals.agg(F.count(F.lit(1)).alias("n")).select(
        "n",
        F.expr(f"n div {TRIM_DEN}").alias("trim"),
        (F.expr(f"n div {TRIM_DEN}") + 1).alias("k_lo"),
        (F.col("n") - F.expr(f"n div {TRIM_DEN}")).alias("k_hi"),
    )
    marked = offs.crossJoin(F.broadcast(kk)).withColumn(
        "kind",
        F.when(
            (F.col("off") + 1 >= F.col("k_lo"))
            & (F.col("off") + F.col("cnt") <= F.col("k_hi")),
            F.lit("full"),
        )
        .when(
            (F.col("off") + F.col("cnt") >= F.col("k_lo"))
            & (F.col("off") + 1 <= F.col("k_hi")),
            F.lit("partial"),
        )
        .otherwise(F.lit("outside")),
    )
    full_sum = marked.filter(F.col("kind") == "full").agg(
        F.coalesce(F.sum("bsum"), F.lit(0).cast(d38)).alias("s_full")
    )
    part = marked.filter(F.col("kind") == "partial").select(
        "b", "off", "k_lo", "k_hi"
    )
    wr = Window.partitionBy("b").orderBy("v")
    pranked = (
        bucketed.join(F.broadcast(part), "b")
        .withColumn("rk", F.row_number().over(wr) + F.col("off"))
    )
    part_agg = pranked.agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("rk") >= F.col("k_lo")) & (F.col("rk") <= F.col("k_hi")),
                    F.col("v").cast(d38),
                )
            ),
            F.lit(0).cast(d38),
        ).alias("s_part"),
        F.max(F.when(F.col("rk") == F.col("k_lo"), F.col("v"))).alias("v_lo"),
        F.max(F.when(F.col("rk") == F.col("k_hi"), F.col("v"))).alias("v_hi"),
    )
    out = full_sum.crossJoin(F.broadcast(part_agg)).crossJoin(F.broadcast(kk))
    core = (F.col("s_full") + F.col("s_part")).cast("double")
    n_core = (F.col("k_hi") - F.col("k_lo") + 1).cast("double")
    wins = (
        F.col("s_full").cast("double")
        + F.col("s_part").cast("double")
        + F.col("trim").cast("double") * (F.col("v_lo") + F.col("v_hi"))
    )
    return out.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("v_lo").cast("long").alias("lo_cut_cents"),
        F.col("v_hi").cast("long").alias("hi_cut_cents"),
        F.round(core / n_core / 100, 6).alias("trimmed_mean_dollars"),
        F.round(wins / F.col("n").cast("double") / 100, 6).alias(
            "winsorized_mean_dollars"
        ),
    )


ORACLE["q236_trimmed_mean"] = f"""
    WITH vals AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v FROM orders
    ), kk AS (
        SELECT COUNT(*) AS n,
               COUNT(*) // {TRIM_DEN} AS trim,
               COUNT(*) // {TRIM_DEN} + 1 AS k_lo,
               COUNT(*) - COUNT(*) // {TRIM_DEN} AS k_hi
        FROM vals
    ), ranked AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rk FROM vals
    ), core AS (
        SELECT CAST(SUM(CAST(r.v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_core,
               MIN(CASE WHEN r.rk = kk.k_lo THEN r.v END) AS v_lo,
               MAX(CASE WHEN r.rk = kk.k_hi THEN r.v END) AS v_hi
        FROM ranked r, kk
        WHERE r.rk BETWEEN kk.k_lo AND kk.k_hi
    )
    SELECT CAST(kk.n AS BIGINT) AS n_orders,
           CAST(core.v_lo AS BIGINT) AS lo_cut_cents,
           CAST(core.v_hi AS BIGINT) AS hi_cut_cents,
           ROUND(CAST(core.s_core AS DOUBLE)
                 / (kk.k_hi - kk.k_lo + 1) / 100, 6) AS trimmed_mean_dollars,
           ROUND((CAST(core.s_core AS DOUBLE)
                  + kk.trim * (core.v_lo + core.v_hi))
                 / kk.n / 100, 6) AS winsorized_mean_dollars
    FROM core, kk
"""

QUERIES["q236_trimmed_mean"] = q236_trimmed_mean


MDE_Z_ALPHA = 1.959964  # two-sided alpha = 0.05
MDE_Z_POWER = 0.841621  # power = 0.80


def q237_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis: the minimum detectable effect of the q234
    experiment design at alpha=0.05 / power=0.80 — the planning
    readout an experimentation platform prints NEXT TO the measured
    effect (q234) and the realized significance (the z-test family):
    MDE = (z_a + z_b)·sqrt(s²·(1/n_t + 1/n_c)) with s² the pooled
    user-level variance of experiment-period spend. The z constants
    are fixed-point literals (identical in both plans — no cross-
    engine erf/quantile call), all power sums accumulate in
    DECIMAL(38,0) off ONE user-grain hash aggregate, and the output
    reports absolute-dollar and relative-to-control-mean MDE."""
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.filter(F.dayofmonth("ts") >= CUPED_SPLIT_DAY)
        .select(
            "user_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("cents").alias("y"))
        .select(
            "y",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("t"),
        )
    )
    d38 = "decimal(38,0)"
    pooled = users.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast(d38).alias("n_t"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast(d38).alias("n_c"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(F.lit(0)).cast(d38)).alias(
            "sy_c"
        ),
    )
    n = F.col("n").cast("double")
    var = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double") / (
        n * (n - 1)
    )
    z_sum = F.lit((MDE_Z_ALPHA + MDE_Z_POWER))
    mde_cents = z_sum * F.sqrt(
        var
        * (
            F.lit(1.0) / F.col("n_t").cast("double")
            + F.lit(1.0) / F.col("n_c").cast("double")
        )
    )
    mean_c = F.col("sy_c").cast("double") / F.col("n_c").cast("double")
    return pooled.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("n_t").cast("long").alias("n_treat"),
        F.col("n_c").cast("long").alias("n_control"),
        F.round(F.sqrt(var) / 100, 6).alias("sd_dollars"),
        F.round(mde_cents / 100, 6).alias("mde_dollars"),
        F.round(mde_cents / mean_c, 6).alias("mde_relative"),
    )


ORACLE["q237_ab_power_mde"] = f"""
    WITH users AS (
        SELECT user_id,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y,
               ('0x' || substr(md5('cuped:' || user_id::VARCHAR), 1, 15))::BIGINT
                   % 2 AS t
        FROM events
        WHERE EXTRACT(day FROM ts) >= {CUPED_SPLIT_DAY}
        GROUP BY user_id
    ), pooled AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS n_t,
               CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS n_c,
               CAST(SUM(CASE WHEN t = 0 THEN CAST(y AS DECIMAL(38,0))
                             ELSE 0 END) AS DECIMAL(38,0)) AS sy_c
        FROM users
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(n_t AS BIGINT) AS n_treat,
           CAST(n_c AS BIGINT) AS n_control,
           ROUND(SQRT(CAST(n * syy - sy * sy AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100, 6)
               AS sd_dollars,
           ROUND({MDE_Z_ALPHA + MDE_Z_POWER}
                 * SQRT(CAST(n * syy - sy * sy AS DOUBLE)
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
                        * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE)))
                 / 100, 6) AS mde_dollars,
           ROUND({MDE_Z_ALPHA + MDE_Z_POWER}
                 * SQRT(CAST(n * syy - sy * sy AS DOUBLE)
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
                        * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE)))
                 / (CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE)), 6) AS mde_relative
    FROM pooled
"""

QUERIES["q237_ab_power_mde"] = q237_ab_power_mde


def q238_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test across matched blocks: do market segments rank
    consistently in per-nation average spend? — the repeated-measures
    companion to q233's Kruskal–Wallis (KW asks "do groups differ";
    Friedman asks "do treatments differ WITHIN each block", here
    blocking out nation-level wealth). Cell means are IEEE doubles of
    exact integer sums (bit-identical cross-engine), within-block
    ranks are row_number over (mean, segment) — a total order, so tie
    handling is deterministic rather than averaged (ties on mean cents
    are measure-zero; the docstring records the convention) — and the
    χ² statistic assembles from integer rank sums. Frames: the 125-
    cell block×treatment grid and a k-row rollup; the only fact-scale
    work is one hash aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("block"),
            F.col("c_mktsegment").alias("treat"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "block",
            "treat",
            (F.col("s").cast("double") / F.col("cnt").cast("double")).alias("avg"),
        )
    )
    wb = Window.partitionBy("block").orderBy("avg", "treat")
    ranked = cells.withColumn("rk", F.row_number().over(wb))
    per_treat = ranked.groupBy("treat").agg(
        F.sum("rk").cast("long").alias("r_j"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    agg = per_treat.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n_blocks").alias("n"),
        F.min("n_blocks").alias("n_min"),
        F.sum(F.col("r_j") * F.col("r_j")).cast("double").alias("sum_rj_sq"),
    )
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    chi2 = (F.lit(12.0) / (n * k * (k + 1))) * F.col("sum_rj_sq") - F.lit(
        3.0
    ) * n * (k + 1)
    return agg.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.round(chi2, 6).alias("friedman_chi2"),
    )


ORACLE["q238_friedman_test"] = """
    WITH cells AS (
        SELECT c.c_nationkey AS block, c.c_mktsegment AS treat,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE)
               / COUNT(*) AS avg
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT block, treat,
               ROW_NUMBER() OVER (PARTITION BY block ORDER BY avg, treat) AS rk
        FROM cells
    ), per_treat AS (
        SELECT treat, SUM(rk) AS r_j, COUNT(*) AS n_blocks
        FROM ranked GROUP BY 1
    ), agg AS (
        SELECT COUNT(*) AS k, MAX(n_blocks) AS n,
               CAST(SUM(r_j * r_j) AS DOUBLE) AS sum_rj_sq
        FROM per_treat
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           CAST(k AS BIGINT) AS k_treatments,
           ROUND((12.0 / (CAST(n AS DOUBLE) * k * (k + 1))) * sum_rj_sq
                 - 3.0 * CAST(n AS DOUBLE) * (k + 1), 6) AS friedman_chi2
    FROM agg
"""

QUERIES["q238_friedman_test"] = q238_friedman_test


def q239_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the fraction of fulfilled
    orders trend MONOTONICALLY across the ordered priority levels? —
    the ordered-exposure categorical test the chi-square independence
    check (q170) cannot express (chi-square ignores the ordering).
    Scores are the priority's leading digit (1-URGENT … 5-LOW), the
    binary outcome is o_orderstatus = 'F', and the Z² statistic
    assembles from SIX integer sums (n, R, Σw·n_i, Σw·r_i, Σw²·n_i)
    off one 5-row contingency frame — everything exact until the one
    double division, so both engines agree to the rounded digit. One
    fact hash-agg; the trend algebra runs on 5 rows."""
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("w"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_i"), F.sum("y").alias("r_i"))
    )
    d38 = "decimal(38,0)"
    sums = cells.agg(
        F.sum(F.col("n_i").cast(d38)).alias("n"),
        F.sum(F.col("r_i").cast(d38)).alias("r"),
        F.sum((F.col("w") * F.col("n_i")).cast(d38)).alias("swn"),
        F.sum((F.col("w") * F.col("r_i")).cast(d38)).alias("swr"),
        F.sum((F.col("w") * F.col("w") * F.col("n_i")).cast(d38)).alias("swwn"),
        F.count(F.lit(1)).cast("long").alias("k_levels"),
    )
    num = (F.col("n") * F.col("swr") - F.col("r") * F.col("swn")).cast("double")
    den = (
        F.col("r").cast("double")
        * (F.col("n") - F.col("r")).cast("double")
        * (F.col("n") * F.col("swwn") - F.col("swn") * F.col("swn")).cast("double")
        / F.col("n").cast("double")
    )
    return sums.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("r").cast("long").alias("n_fulfilled"),
        "k_levels",
        F.round((num * num) / den, 6).alias("trend_z_sq"),
    )


ORACLE["q239_cochran_armitage"] = """
    WITH cells AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
               COUNT(*) AS n_i,
               SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS r_i
        FROM orders GROUP BY 1
    ), sums AS (
        SELECT CAST(SUM(CAST(n_i AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS n,
               CAST(SUM(CAST(r_i AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS r,
               CAST(SUM(CAST(w * n_i AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS swn,
               CAST(SUM(CAST(w * r_i AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS swr,
               CAST(SUM(CAST(w * w * n_i AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS swwn,
               CAST(COUNT(*) AS BIGINT) AS k_levels
        FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST(r AS BIGINT) AS n_fulfilled,
           k_levels,
           ROUND(CAST(n * swr - r * swn AS DOUBLE)
                 * CAST(n * swr - r * swn AS DOUBLE)
                 / (CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE)
                    * CAST(n * swwn - swn * swn AS DOUBLE)
                    / CAST(n AS DOUBLE)), 6) AS trend_z_sq
    FROM sums
"""

QUERIES["q239_cochran_armitage"] = q239_cochran_armitage


BH_ALPHA = 0.10
BH_CONV_PRIORITY = "1-URGENT"
# Abramowitz & Stegun 7.1.26 erf approximation constants — literal in
# BOTH plans, so the normal tail needs no cross-engine erf/quantile
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _normal_two_sided_p(z_abs):
    """2·(1−Φ(|z|)) = erfc(|z|/√2) via the A&S 7.1.26 polynomial —
    a fixed closed-form double expression (max abs error 1.5e-7),
    identical in Spark and the oracle, rounded before any ranking."""
    x = z_abs / F.lit(2.0) ** F.lit(0.5)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        F.lit(_AS_A[0]) * t
        + F.lit(_AS_A[1]) * t * t
        + F.lit(_AS_A[2]) * t * t * t
        + F.lit(_AS_A[3]) * t * t * t * t
        + F.lit(_AS_A[4]) * t * t * t * t * t
    )
    return poly * F.exp(-x * x)


def _normal_two_sided_p_sql(z_abs: str) -> str:
    x = f"({z_abs} / SQRT(2.0))"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = (
        f"({_AS_A[0]} * {t} + {_AS_A[1]} * {t} * {t}"
        f" + {_AS_A[2]} * {t} * {t} * {t}"
        f" + {_AS_A[3]} * {t} * {t} * {t} * {t}"
        f" + {_AS_A[4]} * {t} * {t} * {t} * {t} * {t})"
    )
    return f"({poly} * EXP(-{x} * {x}))"


def q244_bh_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a FAMILY of hypothesis
    tests — the multiple-testing layer every experimentation platform
    needs on top of the single-test shelf (q161/q206/q234-q240): one
    two-proportion z-test per nation (variant = md5 parity of custkey,
    outcome = customer ever places an urgent-priority order), then the
    step-up procedure marks the largest rank k with p_(k) <= α·k/m and
    rejects ranks 1..k. The normal tail uses the A&S 7.1.26 polynomial
    with LITERAL constants (no cross-engine erf), p rounds to 6dp
    before ranking (ties broken by nation key), and every count is an
    exact integer off one customer-grain aggregate — so ranks,
    thresholds and reject flags match bit-for-bit. Shape: one fact
    semi-aggregate + 25-row test frame; windows run on 25 rows."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    conv = (
        orders.filter(F.col("o_orderpriority") == BH_CONV_PRIORITY)
        .select("o_custkey")
        .distinct()
        .withColumn("conv", F.lit(1))
    )
    per_cust = (
        customer.join(conv, customer["c_custkey"] == conv["o_custkey"], "left")
        .select(
            "c_nationkey",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("bh:"), F.col("c_custkey").cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("variant"),
            F.coalesce("conv", F.lit(0)).alias("conv"),
        )
    )
    cells = per_cust.groupBy("c_nationkey").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).alias("x_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    # degenerate cells are untestable: an empty variant arm or a
    # zero/saturated pooled rate has no defined z — exclude them with
    # the identical predicate in both engines
    cells = cells.filter(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("x_a") + F.col("x_b") > 0)
        & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b"))
    )
    tests = (
        cells.join(nation, cells["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            "n_a",
            "x_a",
            "n_b",
            "x_b",
            F.round((pa - pb) / se, 4).alias("z"),
            F.round(_normal_two_sided_p(F.abs((pa - pb) / se)), 6).alias("p"),
        )
    )
    w = W.orderBy("p", "nation")
    ranked = tests.withColumn("bh_rank", F.row_number().over(w)).crossJoin(
        F.broadcast(tests.agg(F.count(F.lit(1)).alias("m")))
    )
    ranked = ranked.withColumn(
        "bh_threshold",
        F.round(F.lit(BH_ALPHA) * F.col("bh_rank") / F.col("m"), 6),
    )
    kmax = ranked.filter(F.col("p") <= F.col("bh_threshold")).agg(
        F.coalesce(F.max("bh_rank"), F.lit(0)).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "nation",
            "n_a",
            "x_a",
            "n_b",
            "x_b",
            "z",
            "p",
            "bh_rank",
            "bh_threshold",
            (F.col("bh_rank") <= F.col("k")).alias("rejected"),
        )
        .orderBy("bh_rank")
    )


ORACLE["q244_bh_fdr_screen"] = f"""
    WITH conv AS (
        SELECT DISTINCT o_custkey, 1 AS conv FROM orders
        WHERE o_orderpriority = '{BH_CONV_PRIORITY}'
    ), per_cust AS (
        SELECT c.c_nationkey,
               ('0x' || substr(md5('bh:' || c.c_custkey::VARCHAR), 1, 15))::BIGINT
                   % 2 AS variant,
               COALESCE(v.conv, 0) AS conv
        FROM customer c LEFT JOIN conv v ON c.c_custkey = v.o_custkey
    ), cells AS (
        SELECT c_nationkey,
               CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
        FROM per_cust GROUP BY 1
    ), cells_ok AS (
        SELECT * FROM cells
        WHERE n_a > 0 AND n_b > 0
          AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
    ), tests AS (
        SELECT n.n_name AS nation, n_a, x_a, n_b, x_b,
               ROUND(zval, 4) AS z,
               ROUND({_normal_two_sided_p_sql("ABS(zval)")}, 6) AS p
        FROM (
            SELECT c_nationkey, n_a, x_a, n_b, x_b,
                   (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                   / SQRT((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b)) AS zval
            FROM cells_ok
        ) c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), ranked AS (
        SELECT t.*, ROW_NUMBER() OVER (ORDER BY p, nation) AS bh_rank,
               (SELECT COUNT(*) FROM tests) AS m
        FROM tests t
    ), thr AS (
        SELECT *, ROUND({BH_ALPHA} * bh_rank / m, 6) AS bh_threshold
        FROM ranked
    ), kmax AS (
        SELECT COALESCE(MAX(bh_rank), 0) AS k FROM thr
        WHERE p <= bh_threshold
    )
    SELECT nation, n_a, x_a, n_b, x_b, z, p,
           CAST(bh_rank AS INTEGER) AS bh_rank, bh_threshold,
           bh_rank <= (SELECT k FROM kmax) AS rejected
    FROM thr ORDER BY bh_rank
"""

QUERIES["q244_bh_fdr_screen"] = q244_bh_fdr_screen


IPW_BAL_SPLIT = 4500.0  # treatment = affluent account (confounded by segment)


def q245_stratified_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confounder-adjusted treatment-effect estimate by direct
    standardization (the stratum-weighted estimator that equals
    inverse-propensity weighting when the propensity is fit saturated
    per stratum) — the OBSERVATIONAL companion to the randomized
    shelf (q161/q234/q235): treatment is non-random (an affluent-
    account flag), the market segment confounds, and the adjusted
    effect reweights per-segment arm means by the segment's population
    share. All inputs are exact: spend in integer cents at the
    customer grain, per-stratum sums in DECIMAL, each stratum mean one
    double division rounded 4dp, and the standardized blend
    re-accumulates rounded means in DECIMAL weighted by integer
    stratum sizes — no float-sum-order hazard anywhere. Output: one
    row per segment plus RAW (unadjusted) and ADJUSTED rows whose gap
    is the confounding bias."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("y"))
    )
    base = (
        customer.join(spend, customer["c_custkey"] == spend["o_custkey"], "left")
        .select(
            F.col("c_mktsegment").alias("stratum"),
            (F.col("c_acctbal") >= IPW_BAL_SPLIT).cast("int").alias("t"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    cells = base.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("n_t"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).alias("y_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).alias("y_c"),
    )
    m_t = F.round(F.col("y_t").cast("double") / F.col("n_t"), 4)
    m_c = F.round(F.col("y_c").cast("double") / (F.col("n") - F.col("n_t")), 4)
    strata = cells.select(
        "stratum",
        "n",
        "n_t",
        m_t.alias("mean_t_cents"),
        m_c.alias("mean_c_cents"),
        F.round(m_t - m_c, 4).alias("diff_cents"),
    )
    d = "decimal(28,6)"
    overall = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("n_t"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).alias("y_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).alias("y_c"),
    )
    raw = overall.select(
        F.lit("__RAW").alias("stratum"),
        "n",
        "n_t",
        F.round(F.col("y_t").cast("double") / F.col("n_t"), 4).alias("mean_t_cents"),
        F.round(F.col("y_c").cast("double") / (F.col("n") - F.col("n_t")), 4).alias(
            "mean_c_cents"
        ),
        F.round(
            F.col("y_t").cast("double") / F.col("n_t")
            - F.col("y_c").cast("double") / (F.col("n") - F.col("n_t")),
            4,
        ).alias("diff_cents"),
    )
    # standardized: decimal-exact Σ n_X · rounded-mean, one division by N
    std = cells.select(
        "n",
        "n_t",
        (m_t.cast(d) * F.col("n")).alias("wt"),
        (m_c.cast(d) * F.col("n")).alias("wc"),
    ).agg(
        F.sum("n").alias("n"),
        F.sum("n_t").alias("n_t"),
        F.sum("wt").alias("swt"),
        F.sum("wc").alias("swc"),
    )
    adj = std.select(
        F.lit("__ADJUSTED").alias("stratum"),
        "n",
        "n_t",
        F.round(F.col("swt").cast("double") / F.col("n"), 4).alias("mean_t_cents"),
        F.round(F.col("swc").cast("double") / F.col("n"), 4).alias("mean_c_cents"),
        F.round(
            (F.col("swt") - F.col("swc")).cast("double") / F.col("n"), 4
        ).alias("diff_cents"),
    )
    return strata.unionByName(raw).unionByName(adj).orderBy("stratum")


ORACLE["q245_stratified_effect"] = f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), base AS (
        SELECT c.c_mktsegment AS stratum,
               CASE WHEN c.c_acctbal >= {IPW_BAL_SPLIT} THEN 1 ELSE 0 END AS t,
               COALESCE(s.y, 0) AS y
        FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
    ), cells AS (
        SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS n_t,
               CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS y_t,
               CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS y_c
        FROM base GROUP BY 1
    ), strata AS (
        SELECT stratum, n, n_t,
               ROUND(CAST(y_t AS DOUBLE) / n_t, 4) AS mean_t_cents,
               ROUND(CAST(y_c AS DOUBLE) / (n - n_t), 4) AS mean_c_cents,
               ROUND(ROUND(CAST(y_t AS DOUBLE) / n_t, 4)
                     - ROUND(CAST(y_c AS DOUBLE) / (n - n_t), 4), 4) AS diff_cents
        FROM cells
    ), raw AS (
        SELECT '__RAW' AS stratum, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS n_t,
               ROUND(CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS DOUBLE)
                     / SUM(t), 4) AS mean_t_cents,
               ROUND(CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS DOUBLE)
                     / (COUNT(*) - SUM(t)), 4) AS mean_c_cents,
               ROUND(CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS DOUBLE)
                     / SUM(t)
                     - CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS DOUBLE)
                     / (COUNT(*) - SUM(t)), 4) AS diff_cents
        FROM base
    ), std AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(n_t) AS BIGINT) AS n_t,
               SUM(CAST(ROUND(CAST(y_t AS DOUBLE) / n_t, 4) AS DECIMAL(28,6)) * n) AS swt,
               SUM(CAST(ROUND(CAST(y_c AS DOUBLE) / (n - n_t), 4) AS DECIMAL(28,6)) * n) AS swc
        FROM cells
    ), adj AS (
        SELECT '__ADJUSTED' AS stratum, n, n_t,
               ROUND(CAST(swt AS DOUBLE) / n, 4) AS mean_t_cents,
               ROUND(CAST(swc AS DOUBLE) / n, 4) AS mean_c_cents,
               ROUND(CAST(swt - swc AS DOUBLE) / n, 4) AS diff_cents
        FROM std
    )
    SELECT * FROM strata
    UNION ALL SELECT * FROM raw
    UNION ALL SELECT * FROM adj
    ORDER BY stratum
"""

QUERIES["q245_stratified_effect"] = q245_stratified_effect


def q248_seasonality_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality indices by ratio-to-moving-average (the
    classical multiplicative decomposition step): daily event revenue
    in exact cents on a GAPLESS day spine (zero-activity days count —
    the q88 spine discipline, an inner aggregate would silently skip
    them), each interior day's ratio to its centered 7-day total
    (expressed as 7·day/window-sum so the only division happens once,
    rounded 6dp), then the per-weekday index as the decimal-exact mean
    of rounded ratios. Edge days without a full window are excluded,
    not zero-padded (a partial window would bias the index). Windows
    run on the collapsed day frame; the fact table is touched by one
    hash aggregate."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.date_trunc("day", "ts").alias("d"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("cents"))
    )
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    filled = spine.join(daily, "d", "left").select(
        "d", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    w7 = W.orderBy("d").rowsBetween(-3, 3)
    ratios = (
        filled.withColumn("sum7", F.sum("cents").over(w7))
        .withColumn("n7", F.count(F.lit(1)).over(w7))
        .filter((F.col("n7") == 7) & (F.col("sum7") > 0))
        .select(
            F.dayofweek("d").alias("dow"),
            F.round(
                F.lit(7.0) * F.col("cents").cast("double") / F.col("sum7"), 6
            )
            .cast("decimal(28,10)")
            .alias("ratio"),
        )
    )
    return (
        ratios.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                (F.sum("ratio") / F.count(F.lit(1))).cast("double"), 6
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


ORACLE["q248_seasonality_indices"] = """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1
    ), spine AS (
        SELECT unnest(generate_series((SELECT MIN(d) FROM daily),
                                      (SELECT MAX(d) FROM daily),
                                      INTERVAL 1 DAY)) AS d
    ), filled AS (
        SELECT s.d, COALESCE(dl.cents, 0) AS cents
        FROM spine s LEFT JOIN daily dl ON s.d = dl.d
    ), win AS (
        SELECT d, cents,
               SUM(cents) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                                AND 3 FOLLOWING) AS sum7,
               COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING) AS n7
        FROM filled
    ), ratios AS (
        SELECT EXTRACT(dow FROM d) + 1 AS dow,
               CAST(ROUND(7.0 * CAST(cents AS DOUBLE) / sum7, 6)
                    AS DECIMAL(28,10)) AS ratio
        FROM win WHERE n7 = 7 AND sum7 > 0
    )
    SELECT CAST(dow AS INTEGER) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(ratio) / COUNT(*) AS DOUBLE), 6) AS seasonal_index
    FROM ratios GROUP BY dow ORDER BY dow
"""

QUERIES["q248_seasonality_indices"] = q248_seasonality_indices


CVM_G1, CVM_G2 = "1-URGENT", "5-LOW"


def q258_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic for distribution equality
    of order values between the urgent and low priority classes — the
    INTEGRATED-difference companion to the KS max-difference (q172):
    ω² = nm/N² · Σ over combined order statistics of (F1−F2)², which
    on the collapsed distinct-value frame becomes Σ c_v·num_v² /
    (N²·n·m) with num_v = cum1_v·m − cum2_v·n an EXACT INTEGER (the
    q232 doubled-rank discipline applied to ECDFs): every cumulative
    count is an integer window on the distinct-cents frame, num² sums
    in DECIMAL(38,0), and the single double division happens at the
    end — bit-stable cross-engine, no per-row rank anywhere, no
    global window over fact rows."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderpriority").isin(CVM_G1, CVM_G2)
    ).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("v"),
        (F.col("o_orderpriority") == CVM_G1).cast("long").alias("g1"),
    )
    per_v = base.groupBy("v").agg(
        F.sum("g1").alias("c1"),
        F.sum(F.lit(1) - F.col("g1")).alias("c2"),
    )
    tot = base.agg(
        F.sum("g1").alias("n"), F.sum(F.lit(1) - F.col("g1")).alias("m")
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    d38 = "decimal(38,0)"
    staged = (
        per_v.withColumn("cum1", F.sum("c1").over(w))
        .withColumn("cum2", F.sum("c2").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("c1") + F.col("c2")).cast(d38).alias("c_v"),
            (
                F.col("cum1").cast(d38) * F.col("m")
                - F.col("cum2").cast(d38) * F.col("n")
            ).alias("num"),
            "n",
            "m",
        )
    )
    sums = staged.agg(
        F.sum(F.col("c_v") * F.col("num") * F.col("num")).alias("s"),
        F.max("n").alias("n"),
        F.max("m").alias("m"),
    )
    nn = F.col("n").cast("double")
    mm = F.col("m").cast("double")
    big_n = nn + mm
    return sums.select(
        F.col("n").cast("long").alias("n_urgent"),
        F.col("m").cast("long").alias("n_low"),
        F.round(
            F.col("s").cast("double") / (big_n * big_n * nn * mm), 9
        ).alias("cvm_omega_sq"),
    )


ORACLE["q258_cvm_two_sample"] = f"""
    WITH base AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               CASE WHEN o_orderpriority = '{CVM_G1}' THEN 1 ELSE 0 END AS g1
        FROM orders
        WHERE o_orderpriority IN ('{CVM_G1}', '{CVM_G2}')
    ), per_v AS (
        SELECT v, CAST(SUM(g1) AS BIGINT) AS c1,
               CAST(SUM(1 - g1) AS BIGINT) AS c2
        FROM base GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(g1) AS BIGINT) AS n,
               CAST(SUM(1 - g1) AS BIGINT) AS m
        FROM base
    ), staged AS (
        SELECT CAST(c1 + c2 AS DECIMAL(38,0)) AS c_v,
               CAST(SUM(c1) OVER (ORDER BY v) AS DECIMAL(38,0)) * t.m
               - CAST(SUM(c2) OVER (ORDER BY v) AS DECIMAL(38,0)) * t.n AS num,
               t.n, t.m
        FROM per_v CROSS JOIN tot t
    ), sums AS (
        SELECT SUM(c_v * num * num) AS s, MAX(n) AS n, MAX(m) AS m
        FROM staged
    )
    SELECT CAST(n AS BIGINT) AS n_urgent, CAST(m AS BIGINT) AS n_low,
           ROUND(CAST(s AS DOUBLE)
                 / (CAST(n + m AS DOUBLE) * CAST(n + m AS DOUBLE)
                    * CAST(n AS DOUBLE) * CAST(m AS DOUBLE)), 9)
               AS cvm_omega_sq
    FROM sums
"""

QUERIES["q258_cvm_two_sample"] = q258_cvm_two_sample


FE_Y0, FE_Y1 = 1995, 1998  # panel window (inclusive)
FE_SCALE = 10**4  # fixed-point scale for the within-transform means


def q263_fixed_effects_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects panel regression — revenue on order count
    over the (pseudo-nation × month) panel with unit AND time effects
    swept out by the within transformation (ẏ = y − ȳ_unit − ȳ_time +
    ȳ), the workhorse spec between pooled OLS (q107) and
    diff-in-diff (q235): β identifies off within-cell variation only,
    immune to any additive unit level or common time shock.

    Exactness: rounded-double means FAIL here — cents magnitudes
    (~1e8) leave no double headroom below 4dp, and a 1-ULP rounding
    divergence in a mean perturbs β at 1e-7 (measured). So every mean
    is FIXED-POINT INTEGER: floor(S·10⁴ div C) (Spark `div` == DuckDB
    `//` on non-negative sums — the q185/q220 idiom), demeaned values
    are exact BIGINTs at 1e4 scale, cross products accumulate in
    DECIMAL(38,0), and β/R² take the only double divisions at the
    end — bit-stable cross-engine. Shape: one fact aggregate to the
    panel grain, three broadcast mean frames, one cross-product
    aggregate; windows never touch fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    panel = (
        orders.filter(
            (F.year("o_orderdate") >= FE_Y0) & (F.year("o_orderdate") <= FE_Y1)
        )
        .groupBy(
            (F.col("o_custkey") % 25).alias("nat"),
            F.date_trunc("month", "o_orderdate").alias("mon"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("y"),
            F.count(F.lit(1)).alias("x"),
        )
    )
    s = FE_SCALE

    def means(df, keys, tag):
        return df.groupBy(*keys).agg(
            F.expr(f"CAST((sum(y) * {s}L) div count(1) AS BIGINT)").alias(
                f"ybar_{tag}"
            ),
            F.expr(f"CAST((sum(x) * {s}L) div count(1) AS BIGINT)").alias(
                f"xbar_{tag}"
            ),
        )

    m_nat = means(panel, ["nat"], "n")
    m_mon = means(panel, ["mon"], "m")
    m_all = means(panel, [], "g")
    d38 = "decimal(38,0)"
    demeaned = (
        panel.join(F.broadcast(m_nat), "nat")
        .join(F.broadcast(m_mon), "mon")
        .crossJoin(F.broadcast(m_all))
        .select(
            (
                F.col("y") * s - F.col("ybar_n") - F.col("ybar_m") + F.col("ybar_g")
            )
            .cast(d38)
            .alias("yd"),
            (
                F.col("x") * s - F.col("xbar_n") - F.col("xbar_m") + F.col("xbar_g")
            )
            .cast(d38)
            .alias("xd"),
        )
    )
    sums = demeaned.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
        F.sum(F.col("xd") * F.col("yd")).alias("sxy"),
        F.sum(F.col("yd") * F.col("yd")).alias("syy"),
    )
    beta = F.col("sxy").cast("double") / F.col("sxx").cast("double")
    r2 = (
        F.col("sxy").cast("double")
        * F.col("sxy").cast("double")
        / (F.col("sxx").cast("double") * F.col("syy").cast("double"))
    )
    return sums.select(
        "n_cells",
        F.round(beta, 4).alias("beta_cents_per_order"),
        F.round(r2, 6).alias("within_r2"),
    )


ORACLE["q263_fixed_effects_ols"] = f"""
    WITH panel AS (
        SELECT o_custkey % 25 AS nat,
               date_trunc('month', o_orderdate) AS mon,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) BETWEEN {FE_Y0} AND {FE_Y1}
        GROUP BY 1, 2
    ), m_nat AS (
        SELECT nat, CAST((SUM(y) * {FE_SCALE}) // COUNT(*) AS BIGINT) AS ybar_n,
               CAST((SUM(x) * {FE_SCALE}) // COUNT(*) AS BIGINT) AS xbar_n
        FROM panel GROUP BY 1
    ), m_mon AS (
        SELECT mon, CAST((SUM(y) * {FE_SCALE}) // COUNT(*) AS BIGINT) AS ybar_m,
               CAST((SUM(x) * {FE_SCALE}) // COUNT(*) AS BIGINT) AS xbar_m
        FROM panel GROUP BY 1
    ), m_all AS (
        SELECT CAST((SUM(y) * {FE_SCALE}) // COUNT(*) AS BIGINT) AS ybar_g,
               CAST((SUM(x) * {FE_SCALE}) // COUNT(*) AS BIGINT) AS xbar_g
        FROM panel
    ), demeaned AS (
        SELECT CAST(p.y * {FE_SCALE} - n.ybar_n - m.ybar_m + a.ybar_g
                    AS DECIMAL(38,0)) AS yd,
               CAST(p.x * {FE_SCALE} - n.xbar_n - m.xbar_m + a.xbar_g
                    AS DECIMAL(38,0)) AS xd
        FROM panel p
        JOIN m_nat n USING (nat)
        JOIN m_mon m USING (mon)
        CROSS JOIN m_all a
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               SUM(xd * xd) AS sxx, SUM(xd * yd) AS sxy, SUM(yd * yd) AS syy
        FROM demeaned
    )
    SELECT n_cells,
           ROUND(CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE), 4)
               AS beta_cents_per_order,
           ROUND(CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)
                 / (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS within_r2
    FROM sums
"""

QUERIES["q263_fixed_effects_ols"] = q263_fixed_effects_ols


GAINS_BIN = 100  # cents-grain score bins for the decile cut


def q265_gains_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains and lift table — the campaign-targeting readout
    next to AUC (q169), AP (q212) and calibration (q180): rank orders
    by value (the targeting score), cut the ranked population into
    deciles, and report each decile's capture of all urgent-priority
    positives plus the cumulative gain and lift. Deciles are assigned
    at the BIN grain (exact cents bins; a bin belongs wholly to the
    decile of its first ranked row — decile = 10·cum_before div N,
    integer floor division both engines), so no per-row rank ever
    touches fact rows and the assignment is deterministic under ties;
    the lumpy-boundary convention is documented rather than
    pro-rated. All counts exact; shares/lift are final divisions
    rounded 6dp."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.select(
            F.floor(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) / GAINS_BIN
            )
            .cast("long")
            .alias("bin"),
            (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("pos"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("posc"))
    )
    w = W.orderBy(F.desc("bin")).rowsBetween(W.unboundedPreceding, -1)
    wall = W.partitionBy()
    assigned = cells.select(
        "cnt",
        "posc",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(wall).alias("n_tot"),
        F.sum("posc").over(wall).alias("pos_tot"),
    ).select(
        F.expr("CAST((cum_before * 10) div n_tot AS INT) + 1").alias("decile"),
        "cnt",
        "posc",
        "n_tot",
        "pos_tot",
    )
    per_d = assigned.groupBy("decile").agg(
        F.sum("cnt").alias("n"),
        F.sum("posc").alias("n_pos"),
        F.max("n_tot").alias("n_tot"),
        F.max("pos_tot").alias("pos_tot"),
    )
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_d.withColumn("cum_n", F.sum("n").over(w_cum))
        .withColumn("cum_pos", F.sum("n_pos").over(w_cum))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(
                F.col("cum_pos") / F.col("pos_tot").cast("double"), 6
            ).alias("cum_gain"),
            F.round(
                (F.col("cum_pos") / F.col("pos_tot").cast("double"))
                / (F.col("cum_n") / F.col("n_tot").cast("double")),
                6,
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


ORACLE["q265_gains_lift_curve"] = """
    WITH cells AS (
        SELECT CAST(FLOOR(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                          / 100) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS posc
        FROM orders GROUP BY 1
    ), assigned AS (
        SELECT CAST((COALESCE(SUM(cnt) OVER (ORDER BY bin DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     * 10) // SUM(cnt) OVER () AS INT) + 1 AS decile,
               cnt, posc,
               SUM(cnt) OVER () AS n_tot, SUM(posc) OVER () AS pos_tot
        FROM cells
    ), per_d AS (
        SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(posc) AS BIGINT) AS n_pos,
               CAST(MAX(n_tot) AS BIGINT) AS n_tot,
               CAST(MAX(pos_tot) AS BIGINT) AS pos_tot
        FROM assigned GROUP BY 1
    )
    SELECT decile, n, n_pos,
           ROUND(SUM(n_pos) OVER (ORDER BY decile)
                 / CAST(pos_tot AS DOUBLE), 6) AS cum_gain,
           ROUND((SUM(n_pos) OVER (ORDER BY decile) / CAST(pos_tot AS DOUBLE))
                 / (SUM(n) OVER (ORDER BY decile) / CAST(n_tot AS DOUBLE)), 6)
               AS cum_lift
    FROM per_d ORDER BY decile
"""

QUERIES["q265_gains_lift_curve"] = q265_gains_lift_curve


RANSAC_CANDS = 16
RANSAC_TOL = 5000.0  # absolute residual tolerance (price units)
RANSAC_POOL_MOD = 64  # deterministic draw-pool slice (1 pool hash per row)


def q269_ransac_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC robust line fit of extendedprice on quantity — the
    outlier-immune regression used to fit trends on data where OLS
    (q263's family) is dragged by heavy tails: draw RANSAC_CANDS
    candidate lines through DETERMINISTIC md5-sampled point pairs,
    count inliers within an absolute residual tolerance, rank by
    consensus. The draws are min(struct(md5(seed:key), x, y))
    aggregates — 32 hash columns on ONE scan, no per-candidate pass;
    the struct min breaks hash-key ties on (x, y) so the draw is
    deterministic even though (orderkey, linenumber) is not unique in
    this fixture — and the
    inlier count is ONE un-replicated scan: the <=16 surviving
    candidate lines pivot into a single broadcast row and each
    candidate becomes a conditional-sum aggregate, so every fact row
    is tested against all 16 lines inside one whole-stage-codegen
    pass (round 8 replicated the scan 16x through a broadcast
    crossJoin; folding the candidates into columns removed the 16x
    row blow-up — VERDICT r8 #5). The fact table is still read
    exactly twice at any scale. The 32 struct-min buffers only ever see a
    DETERMINISTIC 1-in-64 hash slice of the rows (one pool md5 per
    row instead of 32; a uniform subsample of a uniform draw is the
    same draw distribution, and both engines slice identically — a
    measured 10x probe cut the draw pass ~5x). Slopes/intercepts
    round 9dp before the inlier test so both engines threshold
    identical IEEE doubles; degenerate draws (equal x) are filtered
    identically."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
    )
    base = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
        key.alias("k"),
    )
    pool = base.filter(
        F.conv(F.substring(F.md5(F.concat(F.lit("pool:"), F.col("k"))), 1, 15), 16, 10)
        .cast("long")
        % RANSAC_POOL_MOD
        == 0
    )
    aggs = []
    for c in range(RANSAC_CANDS):
        for j in (0, 1):
            hcol = F.md5(F.concat(F.lit(f"ransac:{c}:{j}:"), F.col("k")))
            aggs.append(
                F.min(
                    F.struct(
                        hcol.alias("h"),
                        F.col("x").alias("x"),
                        F.col("y").alias("y"),
                    )
                ).alias(f"d{c}_{j}")
            )
    drawn = pool.agg(*aggs)
    cand_cols = [
        F.struct(
            F.lit(c).alias("cand"),
            F.col(f"d{c}_0.x").alias("x1"),
            F.col(f"d{c}_0.y").alias("y1"),
            F.col(f"d{c}_1.x").alias("x2"),
            F.col(f"d{c}_1.y").alias("y2"),
        )
        for c in range(RANSAC_CANDS)
    ]
    cands = (
        drawn.select(F.explode(F.array(*cand_cols)).alias("s"))
        .select("s.*")
        .filter(F.col("x1") != F.col("x2"))
        .withColumn(
            "slope",
            F.round(
                (F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1")), 9
            ),
        )
        .withColumn(
            "intercept", F.round(F.col("y1") - F.col("slope") * F.col("x1"), 9)
        )
        .select("cand", "slope", "intercept")
    )
    # round-10 A/B (same host, sf0.1 + 10x, best-of-3 interleaved,
    # /tmp/q269_ab.log): the replicated crossJoin-filter shape below
    # beat round 9's fused-conditional-sums fold at BOTH scales
    # (base 2.30s vs 3.92s, 10x 8.28s vs 11.21s) — the 16x row
    # replication dies inside one whole-stage-codegen filter before
    # the map-side combine, while the fold's 16 struct sums defeat
    # codegen fusion. Keep the measured winner (VERDICT r9 #4).
    counted = (
        base.crossJoin(F.broadcast(cands))
        .filter(
            F.abs(
                F.col("y") - (F.col("slope") * F.col("x") + F.col("intercept"))
            )
            <= F.lit(RANSAC_TOL)
        )
        .groupBy("cand", "slope", "intercept")
        .agg(F.count(F.lit(1)).alias("n_inliers"))
    )
    tot = base.agg(F.count(F.lit(1)).alias("n_total"))
    counted = counted.crossJoin(F.broadcast(tot))
    wbest = Window.orderBy(F.desc("n_inliers"), F.asc("cand"))
    return (
        counted.withColumn("rk", F.row_number().over(wbest))
        .select(
            "cand",
            "slope",
            "intercept",
            "n_inliers",
            F.round(F.col("n_inliers") / F.col("n_total").cast("double"), 6).alias(
                "inlier_frac"
            ),
            (F.col("rk") == 1).alias("is_best"),
        )
        .orderBy("cand")
    )


def _q269_oracle() -> str:
    draw_cols = ", ".join(
        f"min(struct_pack(h := md5('ransac:{c}:{j}:' || k),"
        f" x := x, y := y)) AS d{c}_{j}"
        for c in range(RANSAC_CANDS)
        for j in (0, 1)
    )
    cand_rows = " UNION ALL ".join(
        f"SELECT {c} AS cand, (d{c}_0).x AS x1, (d{c}_0).y AS y1,"
        f" (d{c}_1).x AS x2, (d{c}_1).y AS y2 FROM drawn"
        for c in range(RANSAC_CANDS)
    )
    return f"""
    WITH base AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y,
               l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR AS k
        FROM lineitem
    ), pool AS (
        SELECT * FROM base
        WHERE ('0x' || substr(md5('pool:' || k), 1, 15))::BIGINT
              % {RANSAC_POOL_MOD} = 0
    ), drawn AS (
        SELECT {draw_cols} FROM pool
    ), cand_raw AS (
        {cand_rows}
    ), cands AS (
        SELECT cand,
               ROUND((y2 - y1) / (x2 - x1), 9) AS slope,
               ROUND(y1 - ROUND((y2 - y1) / (x2 - x1), 9) * x1, 9)
                   AS intercept
        FROM cand_raw WHERE x1 <> x2
    ), counted AS (
        SELECT c.cand, c.slope, c.intercept,
               CAST(COUNT(*) AS BIGINT) AS n_inliers
        FROM base b JOIN cands c
          ON ABS(b.y - (c.slope * b.x + c.intercept)) <= {RANSAC_TOL}
        GROUP BY 1, 2, 3
    ), tot AS (SELECT COUNT(*)::DOUBLE AS n_total FROM base)
    SELECT cand, slope, intercept, n_inliers,
           ROUND(n_inliers / t.n_total, 6) AS inlier_frac,
           ROW_NUMBER() OVER (ORDER BY n_inliers DESC, cand ASC) = 1
               AS is_best
    FROM counted CROSS JOIN tot t
    ORDER BY cand
    """


ORACLE["q269_ransac_line"] = _q269_oracle()
QUERIES["q269_ransac_line"] = q269_ransac_line


THEILSEN_CORESET = 256  # fixed-size deterministic point coreset


def q282_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation of quantity vs discount per
    return flag — computed WITHOUT any pairwise pass over rows: both
    variables live on small integer domains (quantity 1-50, discount
    0-10 hundredths), so the fact table collapses to a <=550-cell
    contingency grid per group (one hash aggregate) and the
    concordant/discordant pair counts come from the CELL-grid
    self-join, Sum(n_a*n_b) over cell pairs — domain-size x
    domain-size work that is CONSTANT in the row count. Tie
    corrections n1/n2 fall out of the grid margins; everything up to
    the final tau division is exact BIGINT (the q169 discipline), so
    both engines agree bit-for-bit. At 100 TB the only
    data-proportional work is the first aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("int").alias("x"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5))
            .cast("int")
            .alias("y"),
        )
        .groupBy("g", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    pair = (
        a.join(b, F.col("a.g") == F.col("b.g"))
        .groupBy(F.col("a.g").alias("g"))
        .agg(
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x")) & (F.col("b.y") > F.col("a.y")),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(F.lit(0))
            ).alias("c_pairs"),
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x")) & (F.col("b.y") < F.col("a.y")),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(F.lit(0))
            ).alias("d_pairs"),
        )
    )
    margins = cells.groupBy("g").agg(
        F.sum("n").alias("n_rows"),
    )
    tx = (
        cells.groupBy("g", "x")
        .agg(F.sum("n").alias("r"))
        .groupBy("g")
        .agg(F.sum(F.expr("r * (r - 1) DIV 2")).alias("ties_x"))
    )
    ty = (
        cells.groupBy("g", "y")
        .agg(F.sum("n").alias("r"))
        .groupBy("g")
        .agg(F.sum(F.expr("r * (r - 1) DIV 2")).alias("ties_y"))
    )
    # r*(r-1) is always even, so integer division is exact — Spark DIV
    # and DuckDB // agree on non-negative operands, keeping the whole
    # pipeline in BIGINT as documented (no double-division detour).
    n0 = F.expr("n_rows * (n_rows - 1) DIV 2")
    return (
        pair.join(margins, "g")
        .join(tx, "g")
        .join(ty, "g")
        .select(
            "g",
            "n_rows",
            "c_pairs",
            "d_pairs",
            "ties_x",
            "ties_y",
            F.round(
                (F.col("c_pairs") - F.col("d_pairs")).cast("double")
                / F.sqrt(
                    ((n0 - F.col("ties_x")).cast("double"))
                    * ((n0 - F.col("ties_y")).cast("double"))
                ),
                9,
            ).alias("tau_b"),
        )
        .orderBy("g")
    )


ORACLE["q282_kendall_tau"] = """
    WITH cells AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS INT) AS x,
               CAST(FLOOR(l_discount * 100 + 0.5) AS INT) AS y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2, 3
    ), pair AS (
        SELECT a.g,
               CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                             THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c_pairs,
               CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                             THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d_pairs
        FROM cells a JOIN cells b ON a.g = b.g GROUP BY 1
    ), margins AS (
        SELECT g, CAST(SUM(n) AS BIGINT) AS n_rows FROM cells GROUP BY 1
    ), tx AS (
        SELECT g, CAST(SUM(r * (r - 1) // 2) AS BIGINT) AS ties_x
        FROM (SELECT g, x, SUM(n) AS r FROM cells GROUP BY 1, 2) GROUP BY 1
    ), ty AS (
        SELECT g, CAST(SUM(r * (r - 1) // 2) AS BIGINT) AS ties_y
        FROM (SELECT g, y, SUM(n) AS r FROM cells GROUP BY 1, 2) GROUP BY 1
    )
    SELECT p.g, m.n_rows, p.c_pairs, p.d_pairs, t1.ties_x, t2.ties_y,
           ROUND(CAST(p.c_pairs - p.d_pairs AS DOUBLE)
                 / SQRT(CAST(m.n_rows * (m.n_rows - 1) // 2 - t1.ties_x AS DOUBLE)
                        * CAST(m.n_rows * (m.n_rows - 1) // 2 - t2.ties_y AS DOUBLE)),
                 9) AS tau_b
    FROM pair p
    JOIN margins m USING (g) JOIN tx t1 USING (g) JOIN ty t2 USING (g)
    ORDER BY g
"""
QUERIES["q282_kendall_tau"] = q282_kendall_tau


def q287_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope of extendedprice on quantity — the
    median-of-pairwise-slopes estimator (29% breakdown point), the
    rank-based sibling of q269's RANSAC. The quadratic pair space is
    tamed the scale-correct way: a FIXED-SIZE deterministic coreset —
    the THEILSEN_CORESET rows with the smallest md5 draw order
    (TakeOrderedAndProject; ties broken on (x, y) so duplicate
    (orderkey, linenumber) keys cannot reorder it) — so the pair
    frame is CONSTANT (256^2/2) at any data scale and the only
    data-proportional work is the top-k scan. Slopes round 9dp before
    ranking; the median is the lower median by (slope, h_a, h_b)
    order, intercept is the median residual y - m*x over the coreset.
    Both engines replay the identical draw, order and index
    arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    k = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
    )
    pts = (
        li.select(
            F.md5(F.concat(F.lit("ts:"), k)).alias("h"),
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
        .orderBy("h", "x", "y")
        .limit(THEILSEN_CORESET)
    )
    a, b = pts.alias("a"), pts.alias("b")
    pairs = (
        a.join(b, F.col("a.h") < F.col("b.h"))
        .filter(F.col("a.x") != F.col("b.x"))
        .select(
            F.col("a.h").alias("ha"),
            F.col("b.h").alias("hb"),
            F.round(
                (F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x")), 9
            ).alias("slope"),
        )
    )
    w = Window.orderBy("slope", "ha", "hb")
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    med = (
        pairs.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(n_pairs))
        .filter(F.col("rk") == F.expr("(n_pairs + 1) DIV 2"))
        .select("slope", "n_pairs")
    )
    resid = pts.crossJoin(F.broadcast(med)).select(
        "slope",
        "n_pairs",
        F.round(F.col("y") - F.col("slope") * F.col("x"), 9).alias("r"),
        "h",
    )
    n_pts = pts.agg(F.count(F.lit(1)).alias("n_points"))
    wr = Window.orderBy("r", "h")
    return (
        resid.withColumn("rrk", F.row_number().over(wr))
        .crossJoin(F.broadcast(n_pts))
        .filter(F.col("rrk") == F.expr("(n_points + 1) DIV 2"))
        .select(
            "n_points",
            "n_pairs",
            F.col("slope").alias("median_slope"),
            F.col("r").alias("median_intercept"),
        )
    )


def _q287_oracle() -> str:
    return f"""
    WITH pts AS MATERIALIZED (
        SELECT md5('ts:' || l_orderkey::VARCHAR || ':'
                   || l_linenumber::VARCHAR) AS h,
               CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem ORDER BY h, x, y LIMIT {THEILSEN_CORESET}
    ), pairs AS MATERIALIZED (
        SELECT a.h AS ha, b.h AS hb,
               ROUND((b.y - a.y) / (b.x - a.x), 9) AS slope
        FROM pts a JOIN pts b ON a.h < b.h WHERE a.x <> b.x
    ), np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
    med AS (
        SELECT slope, n_pairs FROM (
            SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, ha, hb) AS rk
            FROM pairs) CROSS JOIN np
        WHERE rk = (n_pairs + 1) // 2
    ), resid AS (
        SELECT m.slope, m.n_pairs, ROUND(p.y - m.slope * p.x, 9) AS r, p.h
        FROM pts p CROSS JOIN med m
    ), npt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points FROM pts)
    SELECT n_points, n_pairs, slope AS median_slope, r AS median_intercept
    FROM (SELECT slope, n_pairs, r,
                 ROW_NUMBER() OVER (ORDER BY r, h) AS rrk FROM resid)
    CROSS JOIN npt
    WHERE rrk = (n_points + 1) // 2
    """


ORACLE["q287_theil_sen"] = _q287_oracle()
QUERIES["q287_theil_sen"] = q287_theil_sen


def q290_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Mahalanobis outlier audit of (quantity, price cents)
    per return flag — the multivariate generalization of z-score
    screens (q196's MAD family): d^2 = (C*u^2 - 2B*u*v + A*v^2)/det
    with u = n*x - Sx, v = n*y - Sy and A/B/C/det the integer-scaled
    covariance entries (A = n*Sxx - Sx^2 ...). All moments accumulate
    EXACTLY — DECIMAL(38,0) here, HUGEINT in the oracle (cents
    squared overflow BIGINT at sf>=0.03) — and only the final d^2
    expression drops to IEEE doubles with a fixed evaluation order,
    so both engines agree on every rounded distance. Two scans at any
    scale: one map-side-combined moment aggregate, one rescan joined
    against the 3 broadcast moment rows (no window ever touches fact
    grain)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("decimal(38,0)").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    m = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    mm = m.select(
        "g",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("a"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("b"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("c"),
    ).withColumn("det", F.col("a") * F.col("c") - F.col("b") * F.col("b"))
    u = (F.col("n") * F.col("x") - F.col("sx")).cast("double")
    v = (F.col("n") * F.col("y") - F.col("sy")).cast("double")
    d2 = F.round(
        (F.col("c") * u * u - 2 * F.col("b") * u * v + F.col("a") * v * v)
        / F.col("det"),
        6,
    )
    return (
        base.join(F.broadcast(mm), "g")
        .select("g", F.col("n").cast("long").alias("n_rows"), d2.alias("d2"))
        .groupBy("g", "n_rows")
        .agg(
            F.sum(F.when(F.col("d2") > 9.0, 1).otherwise(0)).alias("n_outliers"),
            F.max("d2").alias("max_d2"),
        )
        .select(
            "g",
            "n_rows",
            "n_outliers",
            "max_d2",
            F.round(F.col("n_outliers") / F.col("n_rows").cast("double"), 9).alias(
                "outlier_frac"
            ),
        )
        .orderBy("g")
    )


ORACLE["q290_mahalanobis_outliers"] = """
    WITH base AS (
        SELECT l_returnflag AS g,
               CAST(l_quantity AS HUGEINT) AS x,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS HUGEINT) AS y
        FROM lineitem
    ), m AS (
        SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM base GROUP BY 1
    ), mm AS (
        SELECT g, n, sx, sy,
               CAST(n * sxx - sx * sx AS DOUBLE) AS a,
               CAST(n * sxy - sx * sy AS DOUBLE) AS b,
               CAST(n * syy - sy * sy AS DOUBLE) AS c
        FROM m
    ), scored AS (
        SELECT base.g, CAST(mm.n AS BIGINT) AS n_rows,
               ROUND((mm.c * CAST(mm.n * base.x - mm.sx AS DOUBLE)
                           * CAST(mm.n * base.x - mm.sx AS DOUBLE)
                      - 2 * mm.b * CAST(mm.n * base.x - mm.sx AS DOUBLE)
                            * CAST(mm.n * base.y - mm.sy AS DOUBLE)
                      + mm.a * CAST(mm.n * base.y - mm.sy AS DOUBLE)
                            * CAST(mm.n * base.y - mm.sy AS DOUBLE))
                     / (mm.a * mm.c - mm.b * mm.b), 6) AS d2
        FROM base JOIN mm ON mm.g = base.g
    )
    SELECT g, n_rows,
           CAST(SUM(CASE WHEN d2 > 9.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           MAX(d2) AS max_d2,
           ROUND(SUM(CASE WHEN d2 > 9.0 THEN 1 ELSE 0 END)
                 / CAST(n_rows AS DOUBLE), 9) AS outlier_frac
    FROM scored GROUP BY 1, 2 ORDER BY g
"""
QUERIES["q290_mahalanobis_outliers"] = q290_mahalanobis_outliers


def q284_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs discount per return
    flag — the monotone-association twin of q282's Kendall tau-b,
    computed the same scale-correct way: NO per-row ranking window
    ever touches fact grain. Both variables live on small integer
    domains (quantity 1-50, discount 0-10 hundredths), so one hash
    aggregate collapses the fact table to the contingency grid, and
    the tie-adjusted MIDRANKS fall out of the per-value margins via
    the file's doubled-rank form 2R(v) = 2*cum_below + cnt + 1 (exact
    integers, the q-AUC machinery). Spearman rho is then Pearson on
    the doubled midranks, accumulated as weighted cell moments in
    DECIMAL(38,0) (HUGEINT in the oracle — fourth-order rank moments
    pass 2^63 beyond sf~1), with the single double division + sqrt
    last (fixed evaluation order, round 9dp). Everything
    data-proportional is the first aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    cells = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("int").alias("x"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5))
            .cast("int")
            .alias("y"),
        )
        .groupBy("g", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def doubled_midranks(key: str) -> DataFrame:
        w = (
            Window.partitionBy("g")
            .orderBy(key)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            cells.groupBy("g", key)
            .agg(F.sum("n").alias("cnt"))
            .withColumn(
                f"r2{key}",
                2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + 1,
            )
            .select("g", key, f"r2{key}")
        )

    scored = (
        cells.join(F.broadcast(doubled_midranks("x")), ["g", "x"])
        .join(F.broadcast(doubled_midranks("y")), ["g", "y"])
        .select(
            "g",
            F.col("n").cast(d38).alias("n"),
            F.col("r2x").cast(d38).alias("rx"),
            F.col("r2y").cast(d38).alias("ry"),
        )
    )
    m = scored.groupBy("g").agg(
        F.sum("n").alias("nn"),
        F.sum(F.col("n") * F.col("rx")).alias("sx"),
        F.sum(F.col("n") * F.col("ry")).alias("sy"),
        F.sum(F.col("n") * F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("n") * F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("n") * F.col("rx") * F.col("ry")).alias("sxy"),
    )
    num = (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = (F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    dy = (F.col("nn") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        "g",
        F.col("nn").cast("long").alias("n_rows"),
        F.round(num / F.sqrt(dx * dy), 9).alias("rho_s"),
    ).orderBy("g")


ORACLE["q284_spearman_rho"] = """
    WITH cells AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS INT) AS x,
               CAST(FLOOR(l_discount * 100 + 0.5) AS INT) AS y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2, 3
    ), rx AS (
        SELECT g, x,
               2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS r2x
        FROM (SELECT g, x, SUM(n) AS cnt FROM cells GROUP BY 1, 2)
    ), ry AS (
        SELECT g, y,
               2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS r2y
        FROM (SELECT g, y, SUM(n) AS cnt FROM cells GROUP BY 1, 2)
    ), scored AS (
        SELECT c.g, CAST(c.n AS HUGEINT) AS n,
               CAST(rx.r2x AS HUGEINT) AS rx, CAST(ry.r2y AS HUGEINT) AS ry
        FROM cells c
        JOIN rx ON rx.g = c.g AND rx.x = c.x
        JOIN ry ON ry.g = c.g AND ry.y = c.y
    ), m AS (
        SELECT g, SUM(n) AS nn,
               SUM(n * rx) AS sx, SUM(n * ry) AS sy,
               SUM(n * rx * rx) AS sxx, SUM(n * ry * ry) AS syy,
               SUM(n * rx * ry) AS sxy
        FROM scored GROUP BY 1
    )
    SELECT g, CAST(nn AS BIGINT) AS n_rows,
           ROUND(CAST(nn * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(nn * sxx - sx * sx AS DOUBLE)
                        * CAST(nn * syy - sy * sy AS DOUBLE)), 9) AS rho_s
    FROM m ORDER BY g
"""
QUERIES["q284_spearman_rho"] = q284_spearman_rho


def q285_isotonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone nondecreasing) regression of mean line price
    on quantity — the shape-constrained calibration fit (the PAV curve
    ML pipelines use to calibrate scores), computed WITHOUT the
    sequential pool-adjacent-violators loop: on a D-level domain the
    PAV solution has the closed minimax form
    fit(k) = max_{i<=k} min_{j>=k} avg(i..j) (interval averages of the
    level means). One hash aggregate collapses the fact table to the
    D<=50 quantity levels; prefix sums over that domain frame (a
    global window ABOVE the aggregate — guarded) give all O(D^2)
    interval sums, and the minimax is two domain-sized group-bys over
    the (k, i, j) incidence — constant work in the row count. Interval
    averages are compared as EXACT micro-cent fixed points
    floor(S*10^6 / C) (DECIMAL(38,0) DIV here, HUGEINT // in the
    oracle — identical floor division on non-negative operands), so
    both engines pick identical minimax winners; only the display
    dollars column divides in doubles. The fit is nondecreasing in
    quantity by construction (pinned by the property test)."""
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    lv = (
        li.select(
            F.col("l_quantity").cast("int").alias("q"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast(d38)
            .alias("cents"),
        )
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("c"),
            F.sum("cents").alias("s"),
        )
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    pre = lv.select(
        "q",
        "c",
        "s",
        F.sum("c").over(w).alias("pc"),
        F.sum("s").over(w).alias("ps"),
    )
    a = pre.select(
        F.col("q").alias("i"),
        (F.col("ps") - F.col("s")).alias("ps0"),
        (F.col("pc") - F.col("c")).alias("pc0"),
    )
    b = pre.select(F.col("q").alias("j"), "ps", "pc")
    iv = a.join(b, F.col("i") <= F.col("j")).select(
        "i",
        "j",
        F.expr("CAST((ps - ps0) * 1000000 AS DECIMAL(38,0)) DIV (pc - pc0)")
        .cast("long")
        .alias("afp"),
    )
    spine = pre.select(
        F.col("q").alias("k"),
        F.col("c").cast("long").alias("n_rows"),
        F.expr("CAST(s * 1000000 AS DECIMAL(38,0)) DIV c")
        .cast("long")
        .alias("avg_fp"),
    )
    return (
        spine.join(iv, (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j")))
        .groupBy("k", "n_rows", "avg_fp", "i")
        .agg(F.min("afp").alias("mn"))
        .groupBy("k", "n_rows", "avg_fp")
        .agg(F.max("mn").alias("fit_fp"))
        .select(
            F.col("k").alias("quantity"),
            "n_rows",
            "avg_fp",
            "fit_fp",
            F.round(F.col("fit_fp") / 1e8, 6).alias("fit_dollars"),
        )
        .orderBy("quantity")
    )


ORACLE["q285_isotonic_regression"] = """
    WITH lv AS (
        SELECT CAST(l_quantity AS INT) AS q,
               CAST(COUNT(*) AS HUGEINT) AS c,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS HUGEINT)) AS s
        FROM lineitem GROUP BY 1
    ), pre AS (
        SELECT q, c, s,
               SUM(c) OVER (ORDER BY q) AS pc,
               SUM(s) OVER (ORDER BY q) AS ps
        FROM lv
    ), iv AS (
        SELECT a.q AS i, b.q AS j,
               CAST(((b.ps - (a.ps - a.s)) * 1000000)
                    // (b.pc - (a.pc - a.c)) AS BIGINT) AS afp
        FROM pre a JOIN pre b ON a.q <= b.q
    ), spine AS (
        SELECT q AS k, CAST(c AS BIGINT) AS n_rows,
               CAST((s * 1000000) // c AS BIGINT) AS avg_fp
        FROM pre
    ), mn AS (
        SELECT spine.k, spine.n_rows, spine.avg_fp, iv.i,
               MIN(iv.afp) AS mn
        FROM spine JOIN iv ON iv.i <= spine.k AND spine.k <= iv.j
        GROUP BY 1, 2, 3, 4
    )
    SELECT k AS quantity, n_rows, avg_fp, MAX(mn) AS fit_fp,
           ROUND(MAX(mn) / 1e8, 6) AS fit_dollars
    FROM mn GROUP BY 1, 2, 3 ORDER BY quantity
"""
QUERIES["q285_isotonic_regression"] = q285_isotonic_regression


def q288_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test per line status: do
    returned lines (l_returnflag = 'R') draw their quantities from the
    same distribution as non-returned ones? The two-sample
    nonparametric screen, computed on the contingency margins like
    every rank statistic in this file: one hash aggregate collapses
    the facts to the <=50 quantity values with per-sample counts
    (ca, cb), doubled midranks 2R(v) = 2*cum_below + t + 1 come from a
    domain-grain window, and the rank sum / tie-corrected variance are
    exact DECIMAL(38,0) (HUGEINT in the oracle: the tie term sums t^3
    and the variance numerator is ~n^5). The z statistic's single
    double division + sqrt happens last in a fixed evaluation order,
    rounded 9dp — identical cross-engine. All data-proportional work
    is the first aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    cells = (
        li.select(
            F.col("l_linestatus").alias("g"),
            F.col("l_quantity").cast("int").alias("v"),
            (F.col("l_returnflag") == "R").alias("isa"),
        )
        .groupBy("g", "v")
        .agg(
            F.sum(F.when(F.col("isa"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("isa"), 0).otherwise(1)).alias("cb"),
        )
        .withColumn("t", F.col("ca") + F.col("cb"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cells.withColumn(
        "r2", 2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1
    ).select(
        "g",
        F.col("ca").cast(d38).alias("ca"),
        F.col("cb").cast(d38).alias("cb"),
        F.col("t").cast(d38).alias("t"),
        F.col("r2").cast(d38).alias("r2"),
    )
    m = ranked.groupBy("g").agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.sum(F.col("ca") * F.col("r2")).alias("r2a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("ties"),
    )
    n = F.col("na") + F.col("nb")
    u2 = F.col("r2a") - F.col("na") * (F.col("na") + 1)
    sig2num = (
        F.col("na")
        * F.col("nb")
        * ((n + 1) * n * (n - 1) - F.col("ties"))
    )
    z = F.round(
        (u2 - F.col("na") * F.col("nb")).cast("double")
        / (
            2.0
            * F.sqrt(
                sig2num.cast("double") / (12 * n * (n - 1)).cast("double")
            )
        ),
        9,
    )
    return m.select(
        "g",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        u2.cast("long").alias("u2_a"),
        z.alias("z"),
    ).orderBy("g")


ORACLE["q288_mann_whitney_u"] = """
    WITH cells AS (
        SELECT l_linestatus AS g, CAST(l_quantity AS INT) AS v,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
                    AS BIGINT) AS cb
        FROM lineitem GROUP BY 1, 2
    ), ranked AS (
        SELECT g, CAST(ca AS HUGEINT) AS ca, CAST(cb AS HUGEINT) AS cb,
               CAST(ca + cb AS HUGEINT) AS t,
               CAST(2 * COALESCE(SUM(ca + cb) OVER (PARTITION BY g ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + (ca + cb) + 1 AS HUGEINT) AS r2
        FROM cells
    ), m AS (
        SELECT g, SUM(ca) AS na, SUM(cb) AS nb,
               SUM(ca * r2) AS r2a, SUM(t * t * t - t) AS ties
        FROM ranked GROUP BY 1
    )
    SELECT g, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
           ROUND(CAST(r2a - na * (na + 1) - na * nb AS DOUBLE)
                 / (2.0 * SQRT(CAST(na * nb * ((na + nb + 1) * (na + nb)
                                    * (na + nb - 1) - ties) AS DOUBLE)
                               / CAST(12 * (na + nb) * (na + nb - 1)
                                      AS DOUBLE))), 9) AS z
    FROM m ORDER BY g
"""
QUERIES["q288_mann_whitney_u"] = q288_mann_whitney_u


def q289_cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix over three categorical pairs —
    (returnflag, linestatus) on lineitem, (orderstatus, orderpriority)
    on orders, and the cross-table (returnflag, orderpriority) through
    the orderkey join — the screening matrix a feature-selection pass
    runs to find redundant categoricals. All three contingency tables
    are stacked into ONE (pair, a, b) hash aggregate (the join pair
    rides the standard orderkey equi-join), margins and totals are
    domain-sized, and the chi-square term for every cell of the FULL
    r x c grid — including unobserved cells, which contribute their
    expected mass via the margin cross-join + left-join spine (the
    q283 discipline) — is the exact-integer form
    (n*o - rt*ct)^2 / (n*rt*ct), DECIMAL(38,0) / HUGEINT up to the one
    double division, rounded 9dp IN THE DECIMAL DOMAIN before the
    per-pair sum. V = sqrt(chi2 / (n * min(r-1, c-1)))."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    p1 = li.select(
        F.lit("rf:ls").alias("pair"),
        F.col("l_returnflag").alias("a"),
        F.col("l_linestatus").alias("b"),
    )
    p2 = od.select(
        F.lit("os:op").alias("pair"),
        F.col("o_orderstatus").alias("a"),
        F.col("o_orderpriority").alias("b"),
    )
    p3 = (
        li.select("l_orderkey", F.col("l_returnflag").alias("a"))
        .join(
            od.select("o_orderkey", F.col("o_orderpriority").alias("b")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.lit("rf:op").alias("pair"), "a", "b")
    )
    cells = (
        p1.unionByName(p2)
        .unionByName(p3)
        .groupBy("pair", "a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rt = cells.groupBy("pair", "a").agg(F.sum("n").alias("rt"))
    ct = cells.groupBy("pair", "b").agg(F.sum("n").alias("ct"))
    tot = cells.groupBy("pair").agg(
        F.sum("n").alias("n_tot"),
        F.countDistinct("a").alias("r_levels"),
        F.countDistinct("b").alias("c_levels"),
    )
    grid = (
        rt.join(ct, "pair")
        .join(F.broadcast(tot), "pair")
        .join(cells, ["pair", "a", "b"], "left")
        .select(
            "pair",
            "n_tot",
            "r_levels",
            "c_levels",
            F.col("rt").cast(d38).alias("rtd"),
            F.col("ct").cast(d38).alias("ctd"),
            F.col("n_tot").cast(d38).alias("nd"),
            F.coalesce(F.col("n"), F.lit(0)).cast(d38).alias("o"),
        )
    )
    num = F.col("nd") * F.col("o") - F.col("rtd") * F.col("ctd")
    contrib = F.round(
        (num * num).cast("double")
        / (F.col("nd") * F.col("rtd") * F.col("ctd")).cast("double"),
        9,
    )
    return (
        grid.withColumn("contrib", contrib)
        .groupBy("pair", "n_tot", "r_levels", "c_levels")
        .agg(
            F.sum(F.col("contrib").cast("decimal(28,9)"))
            .cast("double")
            .alias("chi2")
        )
        .select(
            "pair",
            "n_tot",
            "r_levels",
            "c_levels",
            "chi2",
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n_tot")
                        * F.least(F.col("r_levels") - 1, F.col("c_levels") - 1)
                    ).cast("double")
                ),
                9,
            ).alias("cramers_v"),
        )
        .orderBy("pair")
    )


ORACLE["q289_cramers_v_matrix"] = """
    WITH stacked AS (
        SELECT 'rf:ls' AS pair, l_returnflag AS a, l_linestatus AS b
        FROM lineitem
        UNION ALL
        SELECT 'os:op', o_orderstatus, o_orderpriority FROM orders
        UNION ALL
        SELECT 'rf:op', l_returnflag, o_orderpriority
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), cells AS (
        SELECT pair, a, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM stacked GROUP BY 1, 2, 3
    ), rt AS (
        SELECT pair, a, CAST(SUM(n) AS BIGINT) AS rt FROM cells GROUP BY 1, 2
    ), ct AS (
        SELECT pair, b, CAST(SUM(n) AS BIGINT) AS ct FROM cells GROUP BY 1, 2
    ), tot AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(COUNT(DISTINCT a) AS BIGINT) AS r_levels,
               CAST(COUNT(DISTINCT b) AS BIGINT) AS c_levels
        FROM cells GROUP BY 1
    ), grid AS (
        SELECT rt.pair, tot.n_tot, tot.r_levels, tot.c_levels,
               CAST(rt.rt AS HUGEINT) AS rtd, CAST(ct.ct AS HUGEINT) AS ctd,
               CAST(tot.n_tot AS HUGEINT) AS nd,
               CAST(COALESCE(c.n, 0) AS HUGEINT) AS o
        FROM rt
        JOIN ct ON ct.pair = rt.pair
        JOIN tot ON tot.pair = rt.pair
        LEFT JOIN cells c
          ON c.pair = rt.pair AND c.a = rt.a AND c.b = ct.b
    ), scored AS (
        SELECT pair, n_tot, r_levels, c_levels,
               ROUND(CAST((nd * o - rtd * ctd) * (nd * o - rtd * ctd)
                          AS DOUBLE)
                     / CAST(nd * rtd * ctd AS DOUBLE), 9) AS contrib
        FROM grid
    ), agg AS (
        SELECT pair, n_tot, r_levels, c_levels,
               CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE) AS chi2
        FROM scored GROUP BY 1, 2, 3, 4
    )
    SELECT pair, n_tot, r_levels, c_levels, chi2,
           ROUND(SQRT(chi2 / CAST(n_tot * LEAST(r_levels - 1, c_levels - 1)
                                  AS DOUBLE)), 9) AS cramers_v
    FROM agg ORDER BY pair
"""
QUERIES["q289_cramers_v_matrix"] = q289_cramers_v_matrix


def q291_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the line-return rate trend
    monotonically across order priority (ordinal scores 1-5 parsed
    from the priority label)? The dose-response screen for ordered
    categories — chi-square (q170) ignores the ordering, this
    statistic spends its single degree of freedom on it. Everything
    reduces to the 5-row (score, n, r) table from one fact aggregate
    over the orderkey equi-join; the z numerator N*Σsr - R*Σsn and
    variance core R(N-R)(N*Σs²n - (Σsn)²) are exact DECIMAL(38,0)
    (HUGEINT in the oracle — the variance core is ~N³), and the one
    double division + sqrt happens last in a fixed order, rounded
    9dp. Output keeps the per-priority table with the shared z."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    cells = (
        li.select("l_orderkey", (F.col("l_returnflag") == "R").alias("ret"))
        .join(
            od.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("ret"), 1).otherwise(0)).alias("r"),
        )
        .withColumn(
            "s", F.substring("priority", 1, 1).cast("int")
        )
    )
    m = cells.select(
        F.col("n").cast(d38).alias("n"),
        F.col("r").cast(d38).alias("r"),
        F.col("s").cast(d38).alias("s"),
    ).agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(F.col("s") * F.col("r")).alias("sr"),
        F.sum(F.col("s") * F.col("n")).alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).alias("ssn"),
    )
    a = F.col("nn") * F.col("sr") - F.col("rr") * F.col("sn")
    b = (
        F.col("rr")
        * (F.col("nn") - F.col("rr"))
        * (F.col("nn") * F.col("ssn") - F.col("sn") * F.col("sn"))
    )
    stat = m.select(
        F.col("nn").cast("long").alias("n_total"),
        F.col("rr").cast("long").alias("r_total"),
        F.round(
            a.cast("double")
            / F.sqrt(b.cast("double") / F.col("nn").cast("double")),
            9,
        ).alias("z_trend"),
    )
    return (
        cells.select(
            "priority",
            "s",
            "n",
            "r",
            F.round(F.col("r") / F.col("n").cast("double"), 9).alias("rate"),
        )
        .crossJoin(F.broadcast(stat))
        .orderBy("priority")
    )


ORACLE["q291_cochran_armitage"] = """
    WITH cells AS (
        SELECT o_orderpriority AS priority,
               CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ), m AS (
        SELECT CAST(SUM(n) AS HUGEINT) AS nn, CAST(SUM(r) AS HUGEINT) AS rr,
               CAST(SUM(CAST(s AS HUGEINT) * r) AS HUGEINT) AS sr,
               CAST(SUM(CAST(s AS HUGEINT) * n) AS HUGEINT) AS sn,
               CAST(SUM(CAST(s AS HUGEINT) * s * n) AS HUGEINT) AS ssn
        FROM cells
    ), stat AS (
        SELECT CAST(nn AS BIGINT) AS n_total, CAST(rr AS BIGINT) AS r_total,
               ROUND(CAST(nn * sr - rr * sn AS DOUBLE)
                     / SQRT(CAST(rr * (nn - rr) * (nn * ssn - sn * sn)
                                 AS DOUBLE)
                            / CAST(nn AS DOUBLE)), 9) AS z_trend
        FROM m
    )
    SELECT c.priority, c.s, c.n, c.r,
           ROUND(c.r / CAST(c.n AS DOUBLE), 9) AS rate,
           s2.n_total, s2.r_total, s2.z_trend
    FROM cells c CROSS JOIN stat s2
    ORDER BY c.priority
"""
QUERIES["q291_cochran_armitage"] = q291_cochran_armitage


def q292_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (median-based Levene)
    of quantity across return flags — the robust "are the spreads
    equal" screen that complements the location tests (q288) before
    pooling cohorts. Runs entirely on the quantity contingency grid:
    the per-group LOWER median (min v with 2*cum >= n_g — stays on
    the integer domain, no midpoint average) comes from a domain-grain
    cumulative window, absolute deviations z = |v - med_g| are exact
    integers on that grid, and the between/within sums of squares are
    assembled from exact DECIMAL(38,0)/HUGEINT moments: the group
    contribution (N*Zg - Z*ng)^2 / ng and Szz_g - Zg^2/ng each drop to
    doubles in ONE division, round 9dp in the decimal domain, and sum
    deterministically. W = (N-k)/(k-1) * SSB/SSW with the fixed
    evaluation order written identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    cells = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("int").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.withColumn("cum", F.sum("n").over(wcum))
    ngs = cells.groupBy("g").agg(F.sum("n").alias("ng"))
    med = (
        cum.join(F.broadcast(ngs), "g")
        .filter(2 * F.col("cum") >= F.col("ng"))
        .groupBy("g")
        .agg(F.min("v").alias("med_v"))
    )
    zc = cells.join(F.broadcast(med), "g").select(
        "g",
        F.col("n").cast(d38).alias("n"),
        F.abs(F.col("v") - F.col("med_v")).cast(d38).alias("z"),
        "med_v",
    )
    gsum = zc.groupBy("g", "med_v").agg(
        F.sum("n").alias("ng"),
        F.sum(F.col("n") * F.col("z")).alias("zg"),
        F.sum(F.col("n") * F.col("z") * F.col("z")).alias("szz"),
    )
    glob = gsum.agg(
        F.sum("ng").alias("nn"),
        F.sum("zg").alias("zz"),
        F.count(F.lit(1)).cast(d38).alias("k"),
    )
    per = gsum.crossJoin(F.broadcast(glob)).withColumn(
        "num_g",
        F.round(
            (
                (F.col("nn") * F.col("zg") - F.col("zz") * F.col("ng"))
                * (F.col("nn") * F.col("zg") - F.col("zz") * F.col("ng"))
            ).cast("double")
            / F.col("ng").cast("double"),
            9,
        ),
    ).withColumn(
        "den_g",
        F.round(
            F.col("szz").cast("double")
            - (F.col("zg") * F.col("zg")).cast("double")
            / F.col("ng").cast("double"),
            9,
        ),
    )
    stat = per.groupBy("nn", "k").agg(
        F.sum(F.col("num_g").cast("decimal(38,9)")).alias("ssb_s"),
        F.sum(F.col("den_g").cast("decimal(38,9)")).alias("ssw"),
    ).select(
        F.round(
            (F.col("nn") - F.col("k")).cast("double")
            * F.col("ssb_s").cast("double")
            / (
                (F.col("k") - 1).cast("double")
                * F.col("nn").cast("double")
                * F.col("nn").cast("double")
                * F.col("ssw").cast("double")
            ),
            9,
        ).alias("w_bf")
    )
    return (
        per.select(
            "g",
            F.col("ng").cast("long").alias("n_g"),
            "med_v",
            F.round(
                F.col("zg").cast("double") / F.col("ng").cast("double"), 9
            ).alias("zbar"),
        )
        .crossJoin(F.broadcast(stat))
        .orderBy("g")
    )


ORACLE["q292_brown_forsythe"] = """
    WITH cells AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS INT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT g, v, n,
               SUM(n) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM cells
    ), ngs AS (
        SELECT g, CAST(SUM(n) AS BIGINT) AS ng FROM cells GROUP BY 1
    ), med AS (
        SELECT c.g, MIN(c.v) AS med_v
        FROM cum c JOIN ngs ON ngs.g = c.g
        WHERE 2 * c.cum >= ngs.ng GROUP BY 1
    ), gsum AS (
        SELECT c.g, m.med_v,
               CAST(SUM(c.n) AS HUGEINT) AS ng,
               CAST(SUM(CAST(c.n AS HUGEINT) * ABS(c.v - m.med_v))
                    AS HUGEINT) AS zg,
               CAST(SUM(CAST(c.n AS HUGEINT) * ABS(c.v - m.med_v)
                        * ABS(c.v - m.med_v)) AS HUGEINT) AS szz
        FROM cells c JOIN med m ON m.g = c.g GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(ng) AS HUGEINT) AS nn,
               CAST(SUM(zg) AS HUGEINT) AS zz,
               CAST(COUNT(*) AS HUGEINT) AS k
        FROM gsum
    ), per AS (
        SELECT g.g, g.ng, g.med_v, g.zg, gl.nn, gl.k,
               ROUND(CAST((gl.nn * g.zg - gl.zz * g.ng)
                          * (gl.nn * g.zg - gl.zz * g.ng) AS DOUBLE)
                     / CAST(g.ng AS DOUBLE), 9) AS num_g,
               ROUND(CAST(g.szz AS DOUBLE)
                     - CAST(g.zg * g.zg AS DOUBLE)
                       / CAST(g.ng AS DOUBLE), 9) AS den_g
        FROM gsum g CROSS JOIN tot gl
    ), stat AS (
        SELECT ROUND(CAST(nn - k AS DOUBLE)
                     * CAST(SUM(CAST(num_g AS DECIMAL(38,9))) AS DOUBLE)
                     / (CAST(k - 1 AS DOUBLE) * CAST(nn AS DOUBLE)
                        * CAST(nn AS DOUBLE)
                        * CAST(SUM(CAST(den_g AS DECIMAL(38,9)))
                               AS DOUBLE)), 9) AS w_bf
        FROM per GROUP BY nn, k
    )
    SELECT p.g, CAST(p.ng AS BIGINT) AS n_g, p.med_v,
           ROUND(CAST(p.zg AS DOUBLE) / CAST(p.ng AS DOUBLE), 9) AS zbar,
           s.w_bf
    FROM per p CROSS JOIN stat s
    ORDER BY p.g
"""
QUERIES["q292_brown_forsythe"] = q292_brown_forsythe


def q293_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve of days-to-ship, with
    returned lines (l_returnflag = 'R') treated as right-censored —
    the product-limit estimator completing the survival shelf next to
    q257's log-rank (the displaced q247 Nelson-Aalen is its
    cumulative-hazard twin). Durations live on an integer-day domain
    bounded by the fixture's date span (~4.7k distinct values here —
    the synthetic ship/order dates are uncorrelated, so offsets can be
    negative; the estimator only needs an ordered domain), so one
    fact aggregate yields (t, d events, c censored);
    the at-risk count n_t is a domain-grain suffix sum, and the
    product Π(1 - d/n) is taken in LOG SPACE with the engine-parity
    discipline: each term ln((n-d)/n) is one double op chain on exact
    integers rounded 9dp into DECIMAL(28,9), the cumulative sum runs
    over the collapsed domain frame, and a single exp + 6dp round
    produces the curve — transcendental 1-ULP engine differences die
    under the per-term rounding. Only event rows (d > 0) emit."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    base = li.select(
        "l_orderkey",
        "l_shipdate",
        (F.col("l_returnflag") != "R").alias("event"),
    ).join(
        od.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    cells = (
        base.select(
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).alias("t"),
            "event",
        )
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("event"), 1).otherwise(0)).alias("d"),
            F.sum(F.when(F.col("event"), 0).otherwise(1)).alias("c"),
        )
    )
    wrisk = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = cells.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(wrisk)
    )
    # n_risk == d at the final event time exhausts the risk set: the
    # survival drops to exactly 0. A -99 log-space sentinel keeps both
    # engines total (DuckDB LN(0) raises, Spark log(0) is NULL) and
    # exp(<= -99) rounds to 0.000000 at 6dp.
    term = F.when(
        F.col("n_risk") == F.col("d"), F.lit(-99.0)
    ).otherwise(
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            ),
            9,
        )
    ).cast("decimal(28,9)")
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.filter(F.col("d") > 0)
        .withColumn("logterm", term)
        .withColumn("logsum", F.sum("logterm").over(wcum))
        .select(
            "t",
            "d",
            "c",
            "n_risk",
            F.round(F.exp(F.col("logsum").cast("double")), 6).alias("s_km"),
        )
        .orderBy("t")
    )


ORACLE["q293_kaplan_meier"] = """
    WITH cells AS (
        SELECT DATE_DIFF('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) AS t,
               CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS d,
               CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 0 ELSE 1 END)
                    AS BIGINT) AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    ), risk AS (
        SELECT t, d, c,
               SUM(d + c) OVER (ORDER BY t DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS n_risk
        FROM cells
    ), terms AS (
        SELECT t, d, c, n_risk,
               CAST(CASE WHEN n_risk = d THEN -99.0
                         ELSE ROUND(LN(CAST(n_risk - d AS DOUBLE)
                                       / CAST(n_risk AS DOUBLE)), 9)
                    END AS DECIMAL(28,9)) AS logterm
        FROM risk WHERE d > 0
    )
    SELECT t, d, c, CAST(n_risk AS BIGINT) AS n_risk,
           ROUND(EXP(CAST(SUM(logterm) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS DOUBLE)), 6) AS s_km
    FROM terms ORDER BY t
"""
QUERIES["q293_kaplan_meier"] = q293_kaplan_meier


def q294_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily revenue
    series: is the sequence of above/below-median days random, or does
    it cluster (trend / regime persistence)? The monitoring screen a
    pipeline runs on its own throughput series. Day-grain everything:
    one fact aggregate collapses lineitem to ~2.4k daily cent totals
    (exact BIGINT), the LOWER MEDIAN day-revenue comes from a
    domain-grain cumulative count (min value with 2*cum >= n — stays
    on the cents grid, no midpoint), signs are exact comparisons, the
    run count is 1 + Σ sign-changes via a lag window over the day
    frame, and the z statistic's mean/variance 2*n1*n2*(2*n1*n2-n)
    use exact DECIMAL(38,0)/HUGEINT (~n^4) with the single double
    division + sqrt last, rounded 9dp. Days with revenue exactly AT
    the median count as 'below' (<=) identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias(
                "cents"
            ),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    wcum = Window.orderBy("rev").rowsBetween(Window.unboundedPreceding, 0)
    cnt = daily.agg(F.count(F.lit(1)).alias("n_days"))
    med = (
        daily.withColumn("cum", F.count(F.lit(1)).over(wcum))
        .crossJoin(F.broadcast(cnt))
        .filter(2 * F.col("cum") >= F.col("n_days"))
        .agg(F.min("rev").alias("med_rev"))
    )
    signed = daily.crossJoin(F.broadcast(med)).select(
        "day", (F.col("rev") > F.col("med_rev")).cast("int").alias("s")
    )
    wlag = Window.orderBy("day")
    runs = signed.withColumn("prev", F.lag("s").over(wlag)).agg(
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1
            ).otherwise(0)
        ).alias("n_runs"),
        F.sum("s").cast(d38).alias("n1"),
        F.sum(1 - F.col("s")).cast(d38).alias("n2"),
    )
    n = F.col("n1") + F.col("n2")
    two = F.lit(2).cast(d38)
    mu_num = two * F.col("n1") * F.col("n2")  # mean = mu_num/n + 1
    var_num = (
        two
        * F.col("n1")
        * F.col("n2")
        * (two * F.col("n1") * F.col("n2") - n)
    )  # variance = var_num / (n^2 (n-1))
    z = F.round(
        (
            F.col("n_runs").cast("double")
            - (
                mu_num.cast("double") / n.cast("double")
                + F.lit(1.0)
            )
        )
        / F.sqrt(
            var_num.cast("double")
            / (n * n * (n - 1)).cast("double")
        ),
        9,
    )
    return runs.select(
        F.col("n_runs").cast("long").alias("n_runs"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        z.alias("z"),
    )


ORACLE["q294_runs_test"] = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY 1
    ), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    med AS (
        SELECT MIN(rev) AS med_rev
        FROM (SELECT rev, COUNT(*) OVER (ORDER BY rev
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum
              FROM daily) d CROSS JOIN cnt
        WHERE 2 * d.cum >= cnt.n_days
    ), signed AS (
        SELECT day, CAST(rev > med.med_rev AS INT) AS s
        FROM daily CROSS JOIN med
    ), runs AS (
        SELECT CAST(SUM(CASE WHEN prev IS NULL OR s <> prev
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
               CAST(SUM(s) AS HUGEINT) AS n1,
               CAST(SUM(1 - s) AS HUGEINT) AS n2
        FROM (SELECT s, LAG(s) OVER (ORDER BY day) AS prev FROM signed)
    )
    SELECT CAST(n_runs AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           ROUND((CAST(n_runs AS DOUBLE)
                  - (CAST(2 * n1 * n2 AS DOUBLE)
                     / CAST(n1 + n2 AS DOUBLE) + 1.0))
                 / SQRT(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2))
                             AS DOUBLE)
                        / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)
                               AS DOUBLE)), 9) AS z
    FROM runs
"""
QUERIES["q294_runs_test"] = q294_runs_test


def q295_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test: does line quantity
    shift monotonically across order priority (ordinal 1-5)? The
    ordered-groups counterpart of q291's binary trend — the JT
    statistic is the sum of Mann-Whitney U counts over all group
    pairs i < j, and on the 50-value quantity domain every pairwise U
    comes from the (group, value) contingency grid: the grid
    self-join is (5*50)^2 cells of work, CONSTANT in the row count.
    Doubled for tie-midpoints (ties between groups contribute 1/2 —
    kept as exact integers via 2U), mean and variance use the
    no-tie closed forms on exact DECIMAL(38,0)/HUGEINT (~n^3), one
    double division + sqrt last, rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    cells = (
        li.select("l_orderkey", F.col("l_quantity").cast("int").alias("v"))
        .join(
            od.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
            "v",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    # 2*JT = sum over group pairs ga < gb of [2*#(vb > va) + #(vb = va)]
    jt2 = (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.v") > F.col("a.v"),
                    2 * F.col("a.n").cast(d38) * F.col("b.n").cast(d38),
                )
                .when(
                    F.col("b.v") == F.col("a.v"),
                    F.col("a.n").cast(d38) * F.col("b.n").cast(d38),
                )
                .otherwise(F.lit(0).cast(d38))
            ).alias("jt2")
        )
    )
    gm = cells.groupBy("g").agg(F.sum("n").alias("ng"))
    m = gm.select(F.col("ng").cast(d38).alias("ng")).agg(
        F.sum("ng").alias("nn"),
        F.sum(F.col("ng") * F.col("ng")).alias("sq"),
        F.sum(
            F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3)
        ).alias("cubeterm"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
    )
    # mean = (n^2 - sq)/4  -> 2*mean = (n^2 - sq)/2 exact (both even
    # or both odd never occurs: n^2 - sq = sum_{i!=j} ni*nj is even)
    mu2 = (F.col("nn") * F.col("nn") - F.col("sq")) / 2
    var = (
        F.col("nn") * F.col("nn") * (2 * F.col("nn") + 3) - F.col("cubeterm")
    )  # variance = var/72
    z = F.round(
        (F.col("jt2").cast("double") - mu2.cast("double"))
        / (2.0 * F.sqrt(var.cast("double") / F.lit(72.0))),
        9,
    )
    return (
        jt2.crossJoin(F.broadcast(m))
        .select(
            F.col("nn").cast("long").alias("n_total"),
            "k_groups",
            F.col("jt2").cast("long").alias("jt2"),
            z.alias("z"),
        )
    )


ORACLE["q295_jonckheere_terpstra"] = """
    WITH cells AS (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS g,
               CAST(l_quantity AS INT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ), jt AS (
        SELECT CAST(SUM(CASE WHEN b.v > a.v
                             THEN 2 * CAST(a.n AS HUGEINT) * b.n
                             WHEN b.v = a.v
                             THEN CAST(a.n AS HUGEINT) * b.n
                             ELSE 0 END) AS HUGEINT) AS jt2
        FROM cells a JOIN cells b ON a.g < b.g
    ), gm AS (
        SELECT g, CAST(SUM(n) AS HUGEINT) AS ng FROM cells GROUP BY 1
    ), m AS (
        SELECT CAST(SUM(ng) AS HUGEINT) AS nn,
               CAST(SUM(ng * ng) AS HUGEINT) AS sq,
               CAST(SUM(ng * ng * (2 * ng + 3)) AS HUGEINT) AS cubeterm,
               CAST(COUNT(*) AS BIGINT) AS k_groups
        FROM gm
    )
    SELECT CAST(m.nn AS BIGINT) AS n_total, m.k_groups,
           CAST(jt.jt2 AS BIGINT) AS jt2,
           ROUND((CAST(jt.jt2 AS DOUBLE)
                  - CAST((m.nn * m.nn - m.sq) // 2 AS DOUBLE))
                 / (2.0 * SQRT(CAST(m.nn * m.nn * (2 * m.nn + 3)
                                    - m.cubeterm AS DOUBLE) / 72.0)), 9)
               AS z
    FROM jt CROSS JOIN m
"""
QUERIES["q295_jonckheere_terpstra"] = q295_jonckheere_terpstra


def q296_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the five order priorities keep the same
    revenue ordering across order months, or does some priority
    systematically out-earn within-month? The repeated-measures
    (blocked) counterpart of q298/q288's independent-sample tests:
    blocks are the ~84 order months, treatments the 5 priorities, the
    response the EXACT per-(month, priority) cent total. Ranks are
    doubled midranks within each block (2R = 2*cum_below + t + 1 on
    the 5-row block frame — exact integers even under cent-total
    ties), so R_j^2 sums stay in DECIMAL(38,0)/HUGEINT and the
    chi-square 3*Σ(2R_j)²/(b*k*(k+1)) - 3*b*(k+1) evaluates in a
    fixed double order, rounded 9dp. Everything after the one fact
    aggregate is a ≤(blocks*k)-row frame."""
    od = load_table(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    cells = (
        od.select(
            F.date_trunc("month", "o_orderdate").alias("blk"),
            F.col("o_orderpriority").alias("trt"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("blk", "trt")
        .agg(F.sum("cents").alias("m"))
    )
    # Friedman requires COMPLETE blocks: keep only months where all k
    # treatments appear (incomplete blocks would bias the rank sums)
    kframe = cells.agg(F.countDistinct("trt").alias("k0"))
    complete = (
        cells.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(kframe))
        .filter(F.col("cnt") == F.col("k0"))
        .select("blk")
    )
    cells = cells.join(F.broadcast(complete), "blk")
    # strictly-smaller count via rank()-1 (a rows-preceding count
    # would include arbitrary-order tie peers — nondeterministic)
    wblk = Window.partitionBy("blk").orderBy("m")
    wtie = Window.partitionBy("blk", "m")
    ranked = (
        cells.withColumn("below", F.rank().over(wblk) - 1)
        .withColumn("t", F.count("*").over(wtie))
        .withColumn("r2", 2 * F.col("below") + F.col("t") + 1)
    )
    rsum = ranked.groupBy("trt").agg(
        F.sum(F.col("r2").cast(d38)).alias("rj2"),
        F.count(F.lit(1)).alias("b_blocks"),
    )
    tot = rsum.agg(
        F.sum(F.col("rj2") * F.col("rj2")).alias("s2"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("b_blocks").alias("b"),
    )
    chi = F.round(
        F.lit(3.0)
        * F.col("s2").cast("double")
        / (
            F.col("b").cast("double")
            * F.col("k").cast("double")
            * (F.col("k") + 1).cast("double")
        )
        - 3.0 * F.col("b").cast("double") * (F.col("k") + 1).cast("double"),
        9,
    )
    return (
        rsum.crossJoin(F.broadcast(tot.withColumn("chi2_f", chi)))
        .select(
            F.col("trt").alias("priority"),
            F.col("rj2").cast("long").alias("rank_sum2"),
            F.col("b").alias("n_blocks"),
            "k",
            "chi2_f",
        )
        .orderBy("priority")
    )


ORACLE["q296_friedman_test"] = """
    WITH cells0 AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS blk,
               o_orderpriority AS trt,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS m
        FROM orders GROUP BY 1, 2
    ), kf AS (SELECT COUNT(DISTINCT trt) AS k0 FROM cells0),
    complete AS (
        SELECT blk FROM cells0 CROSS JOIN kf
        GROUP BY blk, k0 HAVING COUNT(*) = ANY_VALUE(k0)
    ), cells AS (
        SELECT c.* FROM cells0 c JOIN complete USING (blk)
    ), ranked AS (
        SELECT trt,
               2 * (RANK() OVER (PARTITION BY blk ORDER BY m) - 1)
               + COUNT(*) OVER (PARTITION BY blk, m) + 1 AS r2
        FROM cells
    ), rsum AS (
        SELECT trt, CAST(SUM(CAST(r2 AS HUGEINT)) AS HUGEINT) AS rj2,
               CAST(COUNT(*) AS BIGINT) AS b_blocks
        FROM ranked GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(rj2 * rj2) AS HUGEINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(b_blocks) AS BIGINT) AS b
        FROM rsum
    )
    SELECT r.trt AS priority, CAST(r.rj2 AS BIGINT) AS rank_sum2,
           t.b AS n_blocks, t.k,
           ROUND(3.0 * CAST(t.s2 AS DOUBLE)
                 / (CAST(t.b AS DOUBLE) * CAST(t.k AS DOUBLE)
                    * CAST(t.k + 1 AS DOUBLE))
                 - 3.0 * CAST(t.b AS DOUBLE) * CAST(t.k + 1 AS DOUBLE), 9)
               AS chi2_f
    FROM rsum r CROSS JOIN tot t
    ORDER BY priority
"""
QUERIES["q296_friedman_test"] = q296_friedman_test


def q297_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of return (l_returnflag='R')
    vs finished status (l_linestatus='F') across order-priority
    strata — the stratified-association estimator that answers "does
    the 2x2 association survive controlling for priority?"
    (Simpson's-paradox guard; completes q245's stratified-effect
    family on the categorical side). One aggregate over the orderkey
    join yields the five 2x2 tables; each stratum's ad/n and bc/n
    terms are ONE double division on exact BIGINTs, rounded 9dp into
    DECIMAL(28,9) before the cross-stratum sums (the q280/q283
    discipline), and OR_MH is their ratio, rounded 9dp. Per-stratum
    odds ratios ride along for the paradox check."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cells = (
        li.select(
            "l_orderkey",
            (F.col("l_returnflag") == "R").alias("x"),
            (F.col("l_linestatus") == "F").alias("y"),
        )
        .join(
            od.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_orderpriority").alias("stratum"))
        .agg(
            F.sum(F.when(F.col("x") & F.col("y"), 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("x") & ~F.col("y"), 1).otherwise(0)).alias("b"),
            F.sum(F.when(~F.col("x") & F.col("y"), 1).otherwise(0)).alias("c"),
            F.sum(F.when(~F.col("x") & ~F.col("y"), 1).otherwise(0)).alias(
                "d"
            ),
        )
    )
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    terms = cells.withColumn(
        "ad_n",
        F.round((F.col("a") * F.col("d")).cast("double") / n, 9),
    ).withColumn(
        "bc_n",
        F.round((F.col("b") * F.col("c")).cast("double") / n, 9),
    )
    pooled = terms.agg(
        F.round(
            F.sum(F.col("ad_n").cast("decimal(28,9)")).cast("double")
            / F.sum(F.col("bc_n").cast("decimal(28,9)")).cast("double"),
            9,
        ).alias("or_mh")
    )
    return (
        terms.select(
            "stratum",
            "a",
            "b",
            "c",
            "d",
            F.round(
                (F.col("a") * F.col("d")).cast("double")
                / (F.col("b") * F.col("c")).cast("double"),
                9,
            ).alias("or_stratum"),
        )
        .crossJoin(F.broadcast(pooled))
        .orderBy("stratum")
    )


ORACLE["q297_mantel_haenszel"] = """
    WITH cells AS (
        SELECT o_orderpriority AS stratum,
               CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus <> 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_linestatus = 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_linestatus <> 'F'
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    ), terms AS (
        SELECT stratum, a, b, c, d,
               ROUND(CAST(a * d AS DOUBLE)
                     / CAST(a + b + c + d AS DOUBLE), 9) AS ad_n,
               ROUND(CAST(b * c AS DOUBLE)
                     / CAST(a + b + c + d AS DOUBLE), 9) AS bc_n
        FROM cells
    ), pooled AS (
        SELECT ROUND(CAST(SUM(CAST(ad_n AS DECIMAL(28,9))) AS DOUBLE)
                     / CAST(SUM(CAST(bc_n AS DECIMAL(28,9))) AS DOUBLE), 9)
                   AS or_mh
        FROM terms
    )
    SELECT t.stratum, t.a, t.b, t.c, t.d,
           ROUND(CAST(t.a * t.d AS DOUBLE)
                 / CAST(t.b * t.c AS DOUBLE), 9) AS or_stratum,
           p.or_mh
    FROM terms t CROSS JOIN pooled p
    ORDER BY t.stratum
"""
QUERIES["q297_mantel_haenszel"] = q297_mantel_haenszel


def q298_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the three return flags draw quantity
    from one distribution? The k-group extension of q288's two-sample
    Mann-Whitney, same contingency-margin machinery: global doubled
    midranks 2R(v) = 2*(strictly-below count) + t + 1 come from one
    domain-grain window over the 50-value grid, per-group doubled
    rank sums S_g = Σ c_g(v)*2R(v) stay exact
    (DECIMAL(38,0)/HUGEINT), each S_g²/n_g drops to doubles in ONE
    division rounded 9dp (decimal-summed across the 3 groups), and
    the tie-corrected H = [3*Σ(S_g²/n_g)/(N(N+1)) - 3(N+1)] *
    (N³-N)/((N³-N) - Σ(t³-t)) evaluates in a fixed double order,
    rounded 9dp. One fact scan at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    cells = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("int").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vm = cells.groupBy("v").agg(F.sum("n").alias("t"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranks = vm.withColumn(
        "r2", 2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1
    )
    gsum = (
        cells.join(F.broadcast(ranks.select("v", "r2")), "v")
        .groupBy("g")
        .agg(
            F.sum("n").cast(d38).alias("ng"),
            F.sum(F.col("n").cast(d38) * F.col("r2").cast(d38)).alias("sg2"),
        )
        .withColumn(
            "term",
            F.round(
                (F.col("sg2") * F.col("sg2")).cast("double")
                / F.col("ng").cast("double"),
                9,
            ),
        )
    )
    ties = vm.agg(
        F.sum(
            F.col("t").cast(d38) * F.col("t").cast(d38) * F.col("t").cast(d38)
            - F.col("t").cast(d38)
        ).alias("tt")
    )
    tot = gsum.agg(
        F.sum("ng").alias("nn"),
        F.sum(F.col("term").cast("decimal(38,9)")).alias("s4"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
    ).crossJoin(F.broadcast(ties))
    n3n = F.col("nn") * F.col("nn") * F.col("nn") - F.col("nn")
    # S_g sums are DOUBLED ranks: Σ(S_g²/n_g) = 4·Σ n_g·R̄_g², and
    # 12/(N(N+1))·(s4/4) folds to 3·s4/(N(N+1))
    h = F.round(
        (
            3.0 * F.col("s4").cast("double")
            / (F.col("nn").cast("double") * (F.col("nn") + 1).cast("double"))
            - 3.0 * (F.col("nn") + 1).cast("double")
        )
        * n3n.cast("double")
        / (n3n - F.col("tt")).cast("double"),
        9,
    )
    return tot.select(
        F.col("nn").cast("long").alias("n_total"),
        "k_groups",
        h.alias("h_stat"),
    )


ORACLE["q298_kruskal_wallis"] = """
    WITH cells AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS INT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ), vm AS (
        SELECT v, CAST(SUM(n) AS BIGINT) AS t FROM cells GROUP BY 1
    ), ranks AS (
        SELECT v,
               2 * COALESCE(SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS r2
        FROM vm
    ), gsum AS (
        SELECT c.g, CAST(SUM(c.n) AS HUGEINT) AS ng,
               CAST(SUM(CAST(c.n AS HUGEINT) * r.r2) AS HUGEINT) AS sg2
        FROM cells c JOIN ranks r ON r.v = c.v GROUP BY 1
    ), terms AS (
        SELECT ng,
               ROUND(CAST(sg2 * sg2 AS DOUBLE) / CAST(ng AS DOUBLE), 9)
                   AS term
        FROM gsum
    ), ties AS (
        SELECT CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tt
        FROM vm
    ), tot AS (
        SELECT CAST(SUM(ng) AS HUGEINT) AS nn,
               SUM(CAST(term AS DECIMAL(38,9))) AS s4,
               CAST(COUNT(*) AS BIGINT) AS k_groups
        FROM terms
    )
    SELECT CAST(t.nn AS BIGINT) AS n_total, t.k_groups,
           ROUND((3.0 * CAST(t.s4 AS DOUBLE)
                  / (CAST(t.nn AS DOUBLE) * CAST(t.nn + 1 AS DOUBLE))
                  - 3.0 * CAST(t.nn + 1 AS DOUBLE))
                 * CAST(t.nn * t.nn * t.nn - t.nn AS DOUBLE)
                 / CAST(t.nn * t.nn * t.nn - t.nn - ti.tt AS DOUBLE), 9)
               AS h_stat
    FROM tot t CROSS JOIN ties ti
"""
QUERIES["q298_kruskal_wallis"] = q298_kruskal_wallis


def q299_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two binary labelers — here the
    return flag (R vs not) and the open line status (O vs not), per
    order priority stratum — the chance-corrected agreement statistic
    label-quality audits run when two annotation pipelines disagree
    (companion to q240's McNemar, which tests DISAGREEMENT asymmetry).
    One aggregate over the orderkey join yields each stratum's 2x2;
    kappa = (po - pe)/(1 - pe) is cleared of its inner divisions by
    multiplying through by n²: with pe_num = (a+b)(a+c) + (c+d)(b+d),
    kappa = (n*(a+d) - pe_num) / (n² - pe_num) — numerator and
    denominator are EXACT DECIMAL(38,0)/HUGEINT integers, so the one
    double division happens last, identical order both engines,
    rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    cells = (
        li.select(
            "l_orderkey",
            (F.col("l_returnflag") == "R").alias("x"),
            (F.col("l_linestatus") == "O").alias("y"),
        )
        .join(
            od.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_orderpriority").alias("stratum"))
        .agg(
            F.sum(F.when(F.col("x") & F.col("y"), 1).otherwise(0))
            .cast(d38)
            .alias("a"),
            F.sum(F.when(F.col("x") & ~F.col("y"), 1).otherwise(0))
            .cast(d38)
            .alias("b"),
            F.sum(F.when(~F.col("x") & F.col("y"), 1).otherwise(0))
            .cast(d38)
            .alias("c"),
            F.sum(F.when(~F.col("x") & ~F.col("y"), 1).otherwise(0))
            .cast(d38)
            .alias("d"),
        )
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    pe_num = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    kappa = F.round(
        (
            (n * (F.col("a") + F.col("d"))).cast("double")
            - pe_num.cast("double")
        )
        / ((n * n).cast("double") - pe_num.cast("double")),
        9,
    )
    po = F.round(
        (F.col("a") + F.col("d")).cast("double") / n.cast("double"), 9
    )
    return cells.select(
        "stratum",
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
        po.alias("p_observed"),
        kappa.alias("kappa"),
    ).orderBy("stratum")


ORACLE["q299_cohens_kappa"] = """
    WITH cells AS (
        SELECT o_orderpriority AS stratum,
               CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'O'
                             THEN 1 ELSE 0 END) AS HUGEINT) AS a,
               CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus <> 'O'
                             THEN 1 ELSE 0 END) AS HUGEINT) AS b,
               CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_linestatus = 'O'
                             THEN 1 ELSE 0 END) AS HUGEINT) AS c,
               CAST(SUM(CASE WHEN l_returnflag <> 'R' AND l_linestatus <> 'O'
                             THEN 1 ELSE 0 END) AS HUGEINT) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    )
    SELECT stratum,
           CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           ROUND(CAST(a + d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE), 9)
               AS p_observed,
           ROUND((CAST((a + b + c + d) * (a + d) AS DOUBLE)
                  - CAST((a + b) * (a + c) + (c + d) * (b + d) AS DOUBLE))
                 / (CAST((a + b + c + d) * (a + b + c + d) AS DOUBLE)
                    - CAST((a + b) * (a + c) + (c + d) * (b + d)
                           AS DOUBLE)), 9) AS kappa
    FROM cells ORDER BY stratum
"""
QUERIES["q299_cohens_kappa"] = q299_cohens_kappa


def q300_pages_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test — the ORDERED-alternative refinement of
    q296's Friedman: with priorities scored 1..5, does within-month
    revenue rank increase monotonically with priority? (q295 is the
    independent-samples analogue; this is the blocked one.) Same
    complete-block month x priority frame and doubled midranks as
    q296; L = Σ_j s_j R_j is kept doubled (L2 = Σ s_j * 2R sums —
    exact DECIMAL(38,0)/HUGEINT), the null mean 2E[L] =
    b*k*(k+1)²/2 is an exact even-integer division, the variance
    b*k²*(k+1)*(k²-1)/144 stays an exact integer ratio, and
    z = (L2 - 2E)/(2*sqrt(var)) evaluates in one fixed double chain,
    rounded 9dp."""
    od = load_table(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    cells = (
        od.select(
            F.date_trunc("month", "o_orderdate").alias("blk"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("s"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("blk", "s")
        .agg(F.sum("cents").alias("m"))
    )
    kframe = cells.agg(F.countDistinct("s").alias("k0"))
    complete = (
        cells.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(kframe))
        .filter(F.col("cnt") == F.col("k0"))
        .select("blk")
    )
    cells = cells.join(F.broadcast(complete), "blk")
    wblk = Window.partitionBy("blk").orderBy("m")
    wtie = Window.partitionBy("blk", "m")
    ranked = (
        cells.withColumn("below", F.rank().over(wblk) - 1)
        .withColumn("t", F.count("*").over(wtie))
        .withColumn("r2", 2 * F.col("below") + F.col("t") + 1)
    )
    m = ranked.agg(
        F.sum(F.col("s").cast(d38) * F.col("r2").cast(d38)).alias("l2"),
        F.countDistinct("blk").cast(d38).alias("b"),
        F.countDistinct("s").cast(d38).alias("k"),
    )
    e2 = F.expr("CAST(b * k * (k + 1) * (k + 1) AS DECIMAL(38,0)) DIV 2")
    var_num = (
        F.col("b")
        * F.col("k")
        * F.col("k")
        * (F.col("k") + 1)
        * (F.col("k") * F.col("k") - 1)
    )
    z = F.round(
        (F.col("l2").cast("double") - F.col("e2_v").cast("double"))
        / (2.0 * F.sqrt(var_num.cast("double") / F.lit(144.0))),
        9,
    )
    return (
        m.withColumn("e2_v", e2)
        .select(
            F.col("b").cast("long").alias("n_blocks"),
            F.col("k").cast("long").alias("k_groups"),
            F.col("l2").cast("long").alias("l2"),
            z.alias("z"),
        )
    )


ORACLE["q300_pages_trend"] = """
    WITH cells0 AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS blk,
               CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS s,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS m
        FROM orders GROUP BY 1, 2
    ), kf AS (SELECT COUNT(DISTINCT s) AS k0 FROM cells0),
    complete AS (
        SELECT blk FROM cells0 CROSS JOIN kf
        GROUP BY blk, k0 HAVING COUNT(*) = ANY_VALUE(k0)
    ), cells AS (
        SELECT c.* FROM cells0 c JOIN complete USING (blk)
    ), ranked AS (
        SELECT s,
               2 * (RANK() OVER (PARTITION BY blk ORDER BY m) - 1)
               + COUNT(*) OVER (PARTITION BY blk, m) + 1 AS r2,
               blk
        FROM cells
    ), agg AS (
        SELECT CAST(SUM(CAST(s AS HUGEINT) * r2) AS HUGEINT) AS l2,
               CAST(COUNT(DISTINCT blk) AS HUGEINT) AS b,
               CAST(COUNT(DISTINCT s) AS HUGEINT) AS k
        FROM ranked
    )
    SELECT CAST(b AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_groups,
           CAST(l2 AS BIGINT) AS l2,
           ROUND((CAST(l2 AS DOUBLE)
                  - CAST((b * k * (k + 1) * (k + 1)) // 2 AS DOUBLE))
                 / (2.0 * SQRT(CAST(b * k * k * (k + 1) * (k * k - 1)
                                    AS DOUBLE) / 144.0)), 9) AS z
    FROM agg
"""
QUERIES["q300_pages_trend"] = q300_pages_trend


def q301_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(Y|X) = I(X;Y)/H(Y) for the
    same three categorical pairs as q289's Cramér's V — the
    ASYMMETRIC, information-theoretic association measure feature
    audits prefer when direction matters (how much of Y's entropy
    does knowing X remove?). Same stacked one-aggregate contingency;
    every entropy term is the q280 discipline — (n/N)*ln(rx/n) and
    (cy/N)*ln(N/cy) are single fixed double chains on exact integer
    counts, rounded 9dp into DECIMAL(28,9) BEFORE summation (0*log 0
    cells are simply absent, contributing their correct zero), and
    U = (H(Y) - H(Y|X))/H(Y) divides once at the end, rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    p1 = li.select(
        F.lit("rf:ls").alias("pair"),
        F.col("l_returnflag").alias("x"),
        F.col("l_linestatus").alias("y"),
    )
    p2 = od.select(
        F.lit("os:op").alias("pair"),
        F.col("o_orderstatus").alias("x"),
        F.col("o_orderpriority").alias("y"),
    )
    p3 = (
        li.select("l_orderkey", F.col("l_returnflag").alias("x"))
        .join(
            od.select("o_orderkey", F.col("o_orderpriority").alias("y")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.lit("rf:op").alias("pair"), "x", "y")
    )
    cells = (
        p1.unionByName(p2)
        .unionByName(p3)
        .groupBy("pair", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rx = cells.groupBy("pair", "x").agg(F.sum("n").alias("rx"))
    cy = cells.groupBy("pair", "y").agg(F.sum("n").alias("cy"))
    tot = cells.groupBy("pair").agg(F.sum("n").alias("n_tot"))
    d289 = "decimal(28,9)"
    hyx = (
        cells.join(rx, ["pair", "x"])
        .join(F.broadcast(tot), "pair")
        .withColumn(
            "term",
            F.round(
                F.col("n").cast("double")
                / F.col("n_tot").cast("double")
                * F.log(
                    F.col("rx").cast("double") / F.col("n").cast("double")
                ),
                9,
            ),
        )
        .groupBy("pair", "n_tot")
        .agg(F.sum(F.col("term").cast(d289)).cast("double").alias("h_y_given_x"))
    )
    hy = (
        cy.join(F.broadcast(tot), "pair")
        .withColumn(
            "term",
            F.round(
                F.col("cy").cast("double")
                / F.col("n_tot").cast("double")
                * F.log(
                    F.col("n_tot").cast("double") / F.col("cy").cast("double")
                ),
                9,
            ),
        )
        .groupBy("pair")
        .agg(F.sum(F.col("term").cast(d289)).cast("double").alias("h_y"))
    )
    return (
        hyx.join(hy, "pair")
        .select(
            "pair",
            "n_tot",
            F.round("h_y", 9).alias("h_y"),
            F.round("h_y_given_x", 9).alias("h_y_given_x"),
            F.round(
                (F.col("h_y") - F.col("h_y_given_x")) / F.col("h_y"), 9
            ).alias("u_yx"),
        )
        .orderBy("pair")
    )


ORACLE["q301_theils_u"] = """
    WITH stacked AS (
        SELECT 'rf:ls' AS pair, l_returnflag AS x, l_linestatus AS y
        FROM lineitem
        UNION ALL
        SELECT 'os:op', o_orderstatus, o_orderpriority FROM orders
        UNION ALL
        SELECT 'rf:op', l_returnflag, o_orderpriority
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), cells AS (
        SELECT pair, x, y, CAST(COUNT(*) AS BIGINT) AS n
        FROM stacked GROUP BY 1, 2, 3
    ), rx AS (
        SELECT pair, x, CAST(SUM(n) AS BIGINT) AS rx FROM cells GROUP BY 1, 2
    ), cy AS (
        SELECT pair, y, CAST(SUM(n) AS BIGINT) AS cy FROM cells GROUP BY 1, 2
    ), tot AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS n_tot FROM cells GROUP BY 1
    ), hyx AS (
        SELECT c.pair, t.n_tot,
               CAST(SUM(CAST(ROUND(CAST(c.n AS DOUBLE)
                                   / CAST(t.n_tot AS DOUBLE)
                                   * LN(CAST(r.rx AS DOUBLE)
                                        / CAST(c.n AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS h_y_given_x
        FROM cells c
        JOIN rx r ON r.pair = c.pair AND r.x = c.x
        JOIN tot t ON t.pair = c.pair
        GROUP BY 1, 2
    ), hy AS (
        SELECT cy.pair,
               CAST(SUM(CAST(ROUND(CAST(cy.cy AS DOUBLE)
                                   / CAST(t.n_tot AS DOUBLE)
                                   * LN(CAST(t.n_tot AS DOUBLE)
                                        / CAST(cy.cy AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS h_y
        FROM cy JOIN tot t ON t.pair = cy.pair
        GROUP BY 1
    )
    SELECT hyx.pair, hyx.n_tot,
           ROUND(hy.h_y, 9) AS h_y,
           ROUND(hyx.h_y_given_x, 9) AS h_y_given_x,
           ROUND((hy.h_y - hyx.h_y_given_x) / hy.h_y, 9) AS u_yx
    FROM hyx JOIN hy ON hy.pair = hyx.pair
    ORDER BY hyx.pair
"""
QUERIES["q301_theils_u"] = q301_theils_u
