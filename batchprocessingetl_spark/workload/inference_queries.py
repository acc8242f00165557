"""Round-10 statistical-inference shelf (q302+).

Survival comparison (log-rank), ordinal association (gamma / Somers' D
/ Stuart tau-c), distribution distance (1-D Wasserstein), serial
correlation (Durbin-Watson / lag-1), one-way ANOVA, paired
nonparametrics (Wilcoxon signed-rank, Cochran's Q), robust location
(Hodges-Lehmann), partial correlation, and structural-break (Chow) —
the remaining classical monitoring statistics a 100 TB training-data
pipeline runs next to its ETL, formulated with the repo's established
cross-engine discipline (see stats_queries.py): facts collapse to
bounded domain/contingency grids in ONE hash aggregate, every window
runs over the collapsed frame, the arithmetic core stays exact
integer/DECIMAL(38,0), and the single final double chain is written in
the identical operation order on both engines, rounded for display.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batchprocessingetl_spark.catalog import load_table

QUERIES: dict = {}
ORACLE: dict = {}

_D38 = "decimal(38,0)"

LOGRANK_HIGH = ("1-URGENT", "2-HIGH")


def q302_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test: do high-priority orders (1-URGENT /
    2-HIGH) ship on a different survival curve than the rest? The
    hypothesis-test companion to q293's Kaplan-Meier curve (same
    duration framing: t = days from order to ship, returned lines
    right-censored). One fact aggregate collapses to the integer-day
    domain grid (t -> d1/c1/d0/c0); at-risk counts are suffix sums
    over that ~2.5k-row frame; at each event time the expected group-1
    events E1 = d*n1/n and the hypergeometric variance
    d*n1*(n-n1)*(n-d) / (n^2*(n-1)) are each ONE double chain on
    exactly-cast integers (factor-by-factor, identical order both
    engines — no DECIMAL(38,0) n^4 product, so no overflow at any
    scale), rounded 9dp into DECIMAL(28,9) so the cross-time sums are
    exact and order-free. z = (O1-E1)/sqrt(V) and chi2 = z^2 are the
    final double ops. Only the first aggregate is data-proportional."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    base = li.select(
        "l_orderkey",
        "l_shipdate",
        (F.col("l_returnflag") != "R").alias("event"),
    ).join(
        od.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    cells = (
        base.select(
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).alias("t"),
            "event",
            F.col("o_orderpriority").isin(*LOGRANK_HIGH).alias("hi"),
        )
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("hi") & F.col("event"), 1).otherwise(0)).alias("d1"),
            F.sum(F.when(F.col("hi") & ~F.col("event"), 1).otherwise(0)).alias("c1"),
            F.sum(F.when(~F.col("hi") & F.col("event"), 1).otherwise(0)).alias("d0"),
            F.sum(F.when(~F.col("hi") & ~F.col("event"), 1).otherwise(0)).alias("c0"),
        )
    )
    wrisk = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = (
        cells.withColumn("n1", F.sum(F.col("d1") + F.col("c1")).over(wrisk))
        .withColumn("n0", F.sum(F.col("d0") + F.col("c0")).over(wrisk))
        .withColumn("n", F.col("n1") + F.col("n0"))
        .withColumn("d", F.col("d1") + F.col("d0"))
        .filter(F.col("d") > 0)
    )
    dd = F.col("d").cast("double")
    n1d = F.col("n1").cast("double")
    nd = F.col("n").cast("double")
    e1 = F.round(dd * n1d / nd, 9).cast("decimal(28,9)")
    var = F.when(F.col("n") > 1, F.round(
        dd
        * n1d
        * (F.col("n") - F.col("n1")).cast("double")
        * (F.col("n") - F.col("d")).cast("double")
        / (nd * nd * (F.col("n") - 1).cast("double")),
        9,
    )).otherwise(F.lit(0.0)).cast("decimal(28,9)")
    agg = risk.select(
        F.col("d1").cast("decimal(28,9)").alias("o1t"),
        e1.alias("e1t"),
        var.alias("vt"),
        "d1",
        "d0",
    ).agg(
        F.sum("o1t").alias("o1"),
        F.sum("e1t").alias("e1"),
        F.sum("vt").alias("v"),
        F.sum("d1").cast("long").alias("events_hi"),
        F.sum("d0").cast("long").alias("events_lo"),
    )
    z = F.col("o1").cast("double") - F.col("e1").cast("double")
    return agg.select(
        "events_hi",
        "events_lo",
        F.round(F.col("e1").cast("double"), 6).alias("expected_hi"),
        F.round(z / F.sqrt(F.col("v").cast("double")), 6).alias("z"),
        F.round(
            z * z / F.col("v").cast("double"), 6
        ).alias("chi2"),
    )


ORACLE["q302_logrank_test"] = """
    WITH cells AS (
        SELECT DATE_DIFF('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) AS t,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS d1,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS d0,
               SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS c0
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    ), risk AS (
        SELECT t, d1, d0,
               SUM(d1 + c1) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
               SUM(d0 + c0) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n0
        FROM cells
    ), ev AS (
        SELECT t, d1, d0, n1, n0, n1 + n0 AS n, d1 + d0 AS d
        FROM risk WHERE d1 + d0 > 0
    ), terms AS (
        SELECT d1, d0,
               CAST(ROUND(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
                          / CAST(n AS DOUBLE), 9) AS DECIMAL(28,9)) AS e1t,
               CAST(CASE WHEN n > 1 THEN ROUND(
                        CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
                        * CAST(n - n1 AS DOUBLE) * CAST(n - d AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * CAST(n - 1 AS DOUBLE)), 9)
                    ELSE 0.0 END AS DECIMAL(28,9)) AS vt
        FROM ev
    )
    SELECT CAST(SUM(d1) AS BIGINT) AS events_hi,
           CAST(SUM(d0) AS BIGINT) AS events_lo,
           ROUND(CAST(SUM(e1t) AS DOUBLE), 6) AS expected_hi,
           ROUND((CAST(SUM(CAST(d1 AS DECIMAL(28,9))) AS DOUBLE)
                  - CAST(SUM(e1t) AS DOUBLE))
                 / SQRT(CAST(SUM(vt) AS DOUBLE)), 6) AS z,
           ROUND((CAST(SUM(CAST(d1 AS DECIMAL(28,9))) AS DOUBLE)
                  - CAST(SUM(e1t) AS DOUBLE))
                 * (CAST(SUM(CAST(d1 AS DECIMAL(28,9))) AS DOUBLE)
                    - CAST(SUM(e1t) AS DOUBLE))
                 / CAST(SUM(vt) AS DOUBLE), 6) AS chi2
    FROM terms
"""
QUERIES["q302_logrank_test"] = q302_logrank_test


def q303_ordinal_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma, both Somers' D directions, and Stuart's
    tau-c for quantity vs discount per return flag — the full ordinal-
    association family sharing q282's machinery (tau-b is there): ONE
    hash aggregate collapses the fact table to the <=550-cell
    contingency grid per group, concordant/discordant pair counts come
    from the grid self-join (domain x domain, constant in row count),
    tie corrections from the margins, and every statistic is exact
    BIGINT up to its own single final double division, rounded 9dp.
    gamma ignores ties; D_yx / D_xy each exclude one tie direction;
    tau-c = 2m(C-D)/(n^2(m-1)) corrects for the m = min(rows, cols)
    rectangular grid."""
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
        F.countDistinct("x").alias("mx"),
        F.countDistinct("y").alias("my"),
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
    n0 = F.expr("n_rows * (n_rows - 1) DIV 2")
    s = (F.col("c_pairs") - F.col("d_pairs")).cast("double")
    m = F.least(F.col("mx"), F.col("my"))
    return (
        pair.join(margins, "g")
        .join(tx, "g")
        .join(ty, "g")
        .select(
            "g",
            "n_rows",
            "c_pairs",
            "d_pairs",
            F.round(
                s / (F.col("c_pairs") + F.col("d_pairs")).cast("double"), 9
            ).alias("gamma"),
            F.round(
                s / (n0 - F.col("ties_x")).cast("double"), 9
            ).alias("somers_d_yx"),
            F.round(
                s / (n0 - F.col("ties_y")).cast("double"), 9
            ).alias("somers_d_xy"),
            F.round(
                F.lit(2.0)
                * m.cast("double")
                * s
                / (
                    F.col("n_rows").cast("double")
                    * F.col("n_rows").cast("double")
                    * (m - 1).cast("double")
                ),
                9,
            ).alias("tau_c"),
        )
        .orderBy("g")
    )


ORACLE["q303_ordinal_association"] = """
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
        SELECT g, CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT x) AS BIGINT) AS mx,
               CAST(COUNT(DISTINCT y) AS BIGINT) AS my
        FROM cells GROUP BY 1
    ), tx AS (
        SELECT g, CAST(SUM(r * (r - 1) // 2) AS BIGINT) AS ties_x
        FROM (SELECT g, x, SUM(n) AS r FROM cells GROUP BY 1, 2) GROUP BY 1
    ), ty AS (
        SELECT g, CAST(SUM(r * (r - 1) // 2) AS BIGINT) AS ties_y
        FROM (SELECT g, y, SUM(n) AS r FROM cells GROUP BY 1, 2) GROUP BY 1
    )
    SELECT p.g, m.n_rows, p.c_pairs, p.d_pairs,
           ROUND(CAST(p.c_pairs - p.d_pairs AS DOUBLE)
                 / CAST(p.c_pairs + p.d_pairs AS DOUBLE), 9) AS gamma,
           ROUND(CAST(p.c_pairs - p.d_pairs AS DOUBLE)
                 / CAST(m.n_rows * (m.n_rows - 1) // 2 - t1.ties_x AS DOUBLE),
                 9) AS somers_d_yx,
           ROUND(CAST(p.c_pairs - p.d_pairs AS DOUBLE)
                 / CAST(m.n_rows * (m.n_rows - 1) // 2 - t2.ties_y AS DOUBLE),
                 9) AS somers_d_xy,
           ROUND(2.0 * CAST(LEAST(m.mx, m.my) AS DOUBLE)
                 * CAST(p.c_pairs - p.d_pairs AS DOUBLE)
                 / (CAST(m.n_rows AS DOUBLE) * CAST(m.n_rows AS DOUBLE)
                    * CAST(LEAST(m.mx, m.my) - 1 AS DOUBLE)), 9) AS tau_c
    FROM pair p
    JOIN margins m USING (g) JOIN tx t1 USING (g) JOIN ty t2 USING (g)
    ORDER BY p.g
"""
QUERIES["q303_ordinal_association"] = q303_ordinal_association


def q304_wasserstein_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth mover's) distance between the 1995 and
    1996 daily-revenue distributions — the drift metric that, unlike
    q172's KS (sup norm) or q171's PSI (binned), integrates the FULL
    CDF gap: W1 = integral |F_a - F_b| dx. Day-grain discipline: one
    fact aggregate collapses to ~730 daily cent totals, the merged
    value grid carries per-year day counts, and on the value-sorted
    frame W1 = sum |cum_a*n_b - cum_b*n_a| * gap / (n_a*n_b) where
    every summand is an exact BIGINT cross-product (the q172 KS
    identity) times an exact cents gap, summed in DECIMAL(38,0) —
    fully exact until ONE final double division. The same frame also
    yields the KS sup for free, cross-checking q172's machinery."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .filter(F.year("day").isin(1995, 1996))
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    grid = (
        daily.select(
            "rev",
            F.when(F.year("day") == 1995, 1).otherwise(0).alias("a"),
            F.when(F.year("day") == 1996, 1).otherwise(0).alias("b"),
        )
        .groupBy("rev")
        .agg(F.sum("a").alias("ca"), F.sum("b").alias("cb"))
    )
    wcum = Window.orderBy("rev").rowsBetween(Window.unboundedPreceding, 0)
    wlead = Window.orderBy("rev")
    tot = grid.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    stepped = (
        grid.withColumn("cum_a", F.sum("ca").over(wcum))
        .withColumn("cum_b", F.sum("cb").over(wcum))
        .withColumn("gap", F.lead("rev").over(wlead) - F.col("rev"))
        .crossJoin(F.broadcast(tot))
    )
    cross = F.abs(
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    )
    agg = stepped.agg(
        F.sum(
            F.when(
                F.col("gap").isNotNull(),
                (cross * F.col("gap")).cast(_D38),
            ).otherwise(F.lit(0).cast(_D38))
        ).alias("w1_num"),
        F.max(cross).alias("ks_num"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    nn = F.col("n_a").cast("double") * F.col("n_b").cast("double")
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("w1_num").cast("double") / nn / F.lit(100.0), 6).alias(
            "w1_dollars"
        ),
        F.round(F.col("ks_num").cast("double") / nn, 9).alias("ks_stat"),
    )


ORACLE["q304_wasserstein_daily_revenue"] = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem
        WHERE YEAR(CAST(l_shipdate AS DATE)) IN (1995, 1996)
        GROUP BY 1
    ), grid AS (
        SELECT rev,
               SUM(CASE WHEN YEAR(day) = 1995 THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN YEAR(day) = 1996 THEN 1 ELSE 0 END) AS cb
        FROM daily GROUP BY 1
    ), tot AS (
        SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM grid
    ), stepped AS (
        SELECT rev,
               SUM(ca) OVER (ORDER BY rev
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
               SUM(cb) OVER (ORDER BY rev
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
               LEAD(rev) OVER (ORDER BY rev) - rev AS gap
        FROM grid
    )
    SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
           ROUND(CAST(SUM(CASE WHEN s.gap IS NOT NULL
                    THEN CAST(ABS(s.cum_a * t.n_b - s.cum_b * t.n_a)
                              * s.gap AS HUGEINT)
                    ELSE 0 END) AS DOUBLE)
                 / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE))
                 / 100.0, 6) AS w1_dollars,
           ROUND(CAST(MAX(ABS(s.cum_a * t.n_b - s.cum_b * t.n_a)) AS DOUBLE)
                 / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)), 9)
               AS ks_stat
    FROM stepped s CROSS JOIN tot t
    GROUP BY t.n_a, t.n_b
"""
QUERIES["q304_wasserstein_daily_revenue"] = q304_wasserstein_daily_revenue


def q305_serial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic and lag-1 autocorrelation of the
    mean-detrended daily revenue series — the residual-independence
    screen next to q294's runs test and q208's ACF, here with a FULLY
    EXACT integer core: on the ~2.4k-day frame the demeaned value is
    cleared of its rational mean as E_t = n*y_t - S (exact
    DECIMAL(38,0); the n cancels in every ratio), so
    DW = sum (E_t - E_{t-1})^2 / sum E_t^2 and
    r1 = sum E_t*E_{t-1} / sum E_t^2 are exact integer ratios with ONE
    final double division each, rounded 9dp. Squares stay ~ (n_days *
    daily_cents)^2 * n_days — inside DECIMAL(38,0) through sf1000;
    beyond that the cents grid coarsens to dollars. Only the daily
    aggregate is data-proportional; the lag window runs on the
    collapsed day frame."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("rev").alias("s")
    )
    wlag = Window.orderBy("day")
    e = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_days",
            (
                F.col("n_days").cast(_D38) * F.col("rev").cast(_D38)
                - F.col("s").cast(_D38)
            ).alias("e"),
        )
        .withColumn("e_prev", F.lag("e").over(wlag))
    )
    agg = e.agg(
        F.max("n_days").alias("n_days"),
        F.sum(F.col("e") * F.col("e")).alias("ss"),
        F.sum(
            F.when(
                F.col("e_prev").isNotNull(),
                (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev")),
            ).otherwise(F.lit(0).cast(_D38))
        ).alias("dss"),
        F.sum(
            F.when(
                F.col("e_prev").isNotNull(), F.col("e") * F.col("e_prev")
            ).otherwise(F.lit(0).cast(_D38))
        ).alias("xss"),
    )
    return agg.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round(
            F.col("dss").cast("double") / F.col("ss").cast("double"), 9
        ).alias("durbin_watson"),
        F.round(
            F.col("xss").cast("double") / F.col("ss").cast("double"), 9
        ).alias("lag1_autocorr"),
    )


ORACLE["q305_serial_correlation"] = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n_days, SUM(rev) AS s FROM daily
    ), e AS (
        SELECT d.day, t.n_days,
               CAST(t.n_days AS HUGEINT) * CAST(d.rev AS HUGEINT)
                   - CAST(t.s AS HUGEINT) AS e,
               LAG(CAST(t.n_days AS HUGEINT) * CAST(d.rev AS HUGEINT)
                   - CAST(t.s AS HUGEINT)) OVER (ORDER BY d.day) AS e_prev
        FROM daily d CROSS JOIN tot t
    )
    SELECT CAST(MAX(n_days) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(CASE WHEN e_prev IS NOT NULL
                    THEN (e - e_prev) * (e - e_prev) ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(e * e) AS DOUBLE), 9) AS durbin_watson,
           ROUND(CAST(SUM(CASE WHEN e_prev IS NOT NULL
                    THEN e * e_prev ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(e * e) AS DOUBLE), 9) AS lag1_autocorr
    FROM e
"""
QUERIES["q305_serial_correlation"] = q305_serial_correlation


def q306_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of line quantity across the five order
    priorities — the parametric sibling of q298's Kruskal-Wallis
    (which ranks; this takes means). Sufficient statistics only: ONE
    hash aggregate per group yields (n_g, S_g = sum x, Q_g = sum x^2),
    all exact BIGINTs. The between-group term sum S_g^2/n_g follows
    the q299 discipline — each group's term is one double chain on
    exactly-cast integers rounded 9dp into DECIMAL(28,9), so the
    5-term sum is exact and order-free; SSW = Q - sum-terms and
    SSB = sum-terms - S^2/N stay in the decimal domain, and
    F = (SSB*(N-k)) / (SSW*(k-1)) plus eta^2 = SSB/(SSB+SSW) are the
    final double chains, rounded 9dp. Nothing after the first
    aggregate is data-proportional."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    groups = (
        li.select("l_orderkey", F.col("l_quantity").cast("long").alias("x"))
        .join(
            od.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_orderpriority").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("q"),
        )
    )
    term = F.round(
        (F.col("s").cast("double") * F.col("s").cast("double"))
        / F.col("n").cast("double"),
        9,
    ).cast("decimal(28,9)")
    agg = groups.select("n", "s", "q", term.alias("t")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum("q").alias("q_tot"),
        F.sum("t").alias("t_sum"),
    )
    grand = F.round(
        (F.col("s_tot").cast("double") * F.col("s_tot").cast("double"))
        / F.col("n_tot").cast("double"),
        9,
    ).cast("decimal(28,9)")
    ssb = (F.col("t_sum") - grand).cast("double")
    ssw = (F.col("q_tot").cast("decimal(28,9)") - F.col("t_sum")).cast("double")
    return agg.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n_tot").cast("long").alias("n_rows"),
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(
            ssb
            * (F.col("n_tot") - F.col("k")).cast("double")
            / (ssw * (F.col("k") - 1).cast("double")),
            9,
        ).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 9).alias("eta_sq"),
    )


ORACLE["q306_anova_oneway"] = """
    WITH groups AS (
        SELECT o_orderpriority AS g, COUNT(*) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS s,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS q
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    ), terms AS (
        SELECT n, s, q,
               CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE), 9) AS DECIMAL(28,9)) AS t
        FROM groups
    ), agg AS (
        SELECT COUNT(*) AS k, SUM(n) AS n_tot, SUM(s) AS s_tot,
               SUM(q) AS q_tot, SUM(t) AS t_sum
        FROM terms
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(n_tot AS BIGINT) AS n_rows,
           ROUND(CAST(t_sum - CAST(ROUND(CAST(s_tot AS DOUBLE)
                          * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 9)
                      AS DECIMAL(28,9)) AS DOUBLE), 6) AS ss_between,
           ROUND(CAST(CAST(q_tot AS DECIMAL(28,9)) - t_sum AS DOUBLE), 6)
               AS ss_within,
           ROUND(CAST(t_sum - CAST(ROUND(CAST(s_tot AS DOUBLE)
                          * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 9)
                      AS DECIMAL(28,9)) AS DOUBLE)
                 * CAST(n_tot - k AS DOUBLE)
                 / (CAST(CAST(q_tot AS DECIMAL(28,9)) - t_sum AS DOUBLE)
                    * CAST(k - 1 AS DOUBLE)), 9) AS f_stat,
           ROUND(CAST(t_sum - CAST(ROUND(CAST(s_tot AS DOUBLE)
                          * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 9)
                      AS DECIMAL(28,9)) AS DOUBLE)
                 / (CAST(t_sum - CAST(ROUND(CAST(s_tot AS DOUBLE)
                          * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 9)
                      AS DECIMAL(28,9)) AS DOUBLE)
                    + CAST(CAST(q_tot AS DECIMAL(28,9)) - t_sum AS DOUBLE)),
                 9) AS eta_sq
    FROM agg
"""
QUERIES["q306_anova_oneway"] = q306_anova_oneway


def q307_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED samples — did per-(nation,
    month-of-year) revenue shift between 1995 and 1996? The paired
    sibling of q288's independent-samples Mann-Whitney: pairing by
    (nation, calendar month) removes seasonal + regional variance
    before testing. One fact aggregate collapses to <=300 pair cells
    (exact cent sums, both years present), differences are exact
    BIGINTs, zero differences drop (Wilcoxon convention), |d| midranks
    use the repo's doubled-rank identity 2R = 2*below + t + 1 over the
    pair frame, and the doubled positive-rank sum W2 = 2W+ with its
    exact null moments (E[W2] = n(n+1)/2, 12*Var[W2] =
    2n(n+1)(2n+1) - sum(t^3 - t)) keep everything integer until the
    final z division, rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    pairs = (
        li.select(
            "l_orderkey",
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .filter(F.year("day").isin(1995, 1996))
        .join(
            od.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cu.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(na.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.month("day").alias("mth"))
        .agg(
            F.sum(F.when(F.year("day") == 1995, F.col("cents")).otherwise(0)).alias("v1"),
            F.sum(F.when(F.year("day") == 1996, F.col("cents")).otherwise(0)).alias("v2"),
            F.sum(F.when(F.year("day") == 1995, 1).otherwise(0)).alias("k1"),
            F.sum(F.when(F.year("day") == 1996, 1).otherwise(0)).alias("k2"),
        )
        .filter((F.col("k1") > 0) & (F.col("k2") > 0))
        .select((F.col("v2") - F.col("v1")).alias("d"))
        .filter(F.col("d") != 0)
        .select("d", F.abs(F.col("d")).alias("ad"))
    )
    wrank = Window.orderBy("ad")
    wtie = Window.partitionBy("ad")
    ranked = (
        pairs.withColumn("below", F.rank().over(wrank) - 1)
        .withColumn("t", F.count("*").over(wtie))
        .withColumn("r2", 2 * F.col("below") + F.col("t") + 1)
    )
    ties = (
        ranked.groupBy("ad")
        .agg(F.max("t").alias("t"))
        .agg(
            F.sum(
                F.col("t").cast(_D38) * F.col("t").cast(_D38) * F.col("t").cast(_D38)
                - F.col("t").cast(_D38)
            ).alias("tie_cube")
        )
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r2")).otherwise(0))
        .cast(_D38)
        .alias("w2"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).cast("long").alias("n_neg"),
    ).crossJoin(F.broadcast(ties))
    e2 = F.expr("CAST(n * (n + 1) AS DECIMAL(38,0)) DIV 2")
    vn = (
        F.lit(2).cast(_D38) * F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1)
        - F.col("tie_cube")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_pairs"),
        "n_pos",
        "n_neg",
        F.col("w2").cast("long").alias("w_plus_x2"),
        F.round(
            (F.col("w2") - e2).cast("double")
            / F.sqrt(vn.cast("double") / F.lit(12.0)),
            9,
        ).alias("z"),
    )


ORACLE["q307_wilcoxon_signed_rank"] = """
    WITH pairs AS (
        SELECT n.n_name AS nation, MONTH(CAST(l.l_shipdate AS DATE)) AS mth,
               SUM(CASE WHEN YEAR(CAST(l.l_shipdate AS DATE)) = 1995
                        THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS v1,
               SUM(CASE WHEN YEAR(CAST(l.l_shipdate AS DATE)) = 1996
                        THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS v2,
               SUM(CASE WHEN YEAR(CAST(l.l_shipdate AS DATE)) = 1995
                        THEN 1 ELSE 0 END) AS k1,
               SUM(CASE WHEN YEAR(CAST(l.l_shipdate AS DATE)) = 1996
                        THEN 1 ELSE 0 END) AS k2
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE YEAR(CAST(l.l_shipdate AS DATE)) IN (1995, 1996)
        GROUP BY 1, 2
        HAVING SUM(CASE WHEN YEAR(CAST(l.l_shipdate AS DATE)) = 1995
                        THEN 1 ELSE 0 END) > 0
           AND SUM(CASE WHEN YEAR(CAST(l.l_shipdate AS DATE)) = 1996
                        THEN 1 ELSE 0 END) > 0
    ), diffs AS (
        SELECT v2 - v1 AS d, ABS(v2 - v1) AS ad
        FROM pairs WHERE v2 - v1 <> 0
    ), ranked AS (
        SELECT d, ad,
               RANK() OVER (ORDER BY ad) - 1 AS below,
               COUNT(*) OVER (PARTITION BY ad) AS t
        FROM diffs
    ), ties AS (
        SELECT SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
                   - CAST(t AS HUGEINT)) AS tie_cube
        FROM (SELECT ad, MAX(t) AS t FROM ranked GROUP BY ad)
    ), agg AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CASE WHEN d > 0 THEN 2 * below + t + 1 ELSE 0 END)
                    AS HUGEINT) AS w2,
               SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS n_pos,
               SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS n_neg
        FROM ranked
    )
    SELECT CAST(a.n AS BIGINT) AS n_pairs,
           CAST(a.n_pos AS BIGINT) AS n_pos,
           CAST(a.n_neg AS BIGINT) AS n_neg,
           CAST(a.w2 AS BIGINT) AS w_plus_x2,
           ROUND(CAST(a.w2 - (a.n * (a.n + 1) // 2) AS DOUBLE)
                 / SQRT(CAST(2 * a.n * (a.n + 1) * (2 * a.n + 1) - t.tie_cube
                             AS DOUBLE) / 12.0), 9) AS z
    FROM agg a CROSS JOIN ties t
"""
QUERIES["q307_wilcoxon_signed_rank"] = q307_wilcoxon_signed_rank


def q308_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann robust location estimate of line quantity per
    return flag — the median of all Walsh averages (x_i + x_j)/2,
    i <= j, the estimator dual to q307's signed-rank test (and the
    location sibling of q287's Theil-Sen slope). Pair space is tamed
    the q282 way: quantity lives on a <=50-value domain, so ONE hash
    aggregate yields the per-group value grid and the Walsh-average
    multiset is the grid SELF-JOIN with integer multiplicities
    (n_a*n_b for v_a < v_b, n(n+1)/2 on the diagonal — self-pairs
    included per the classical definition), collapsed to <=2.5k
    (group, doubled-sum) cells — constant in row count. The weighted
    LOWER median (q294 convention: min s with 2*cum >= W) stays on
    the integer doubled-sum grid; the only division is the final /2
    for display."""
    li = load_table(spark, sf_dir, "lineitem")
    grid = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a, b = grid.alias("a"), grid.alias("b")
    walsh = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("a.v") <= F.col("b.v")),
        )
        .select(
            F.col("a.g").alias("g"),
            (F.col("a.v") + F.col("b.v")).alias("s"),
            F.when(
                F.col("a.v") < F.col("b.v"), F.col("a.n") * F.col("b.n")
            )
            .otherwise(F.expr("`a`.n * (`a`.n + 1) DIV 2"))
            .alias("w"),
        )
        .groupBy("g", "s")
        .agg(F.sum("w").alias("w"))
    )
    wcum = Window.partitionBy("g").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = walsh.groupBy("g").agg(F.sum("w").alias("w_tot"))
    med = (
        walsh.withColumn("cum", F.sum("w").over(wcum))
        .join(F.broadcast(tot), "g")
        .filter(2 * F.col("cum") >= F.col("w_tot"))
        .groupBy("g")
        .agg(F.min("s").alias("hl_x2"))
    )
    counts = grid.groupBy("g").agg(F.sum("n").alias("n_rows"))
    return (
        med.join(tot, "g")
        .join(counts, "g")
        .select(
            "g",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("w_tot").cast("long").alias("n_walsh"),
            F.col("hl_x2").cast("long").alias("hl_x2"),
            (F.col("hl_x2").cast("double") / F.lit(2.0)).alias("hl_estimate"),
        )
        .orderBy("g")
    )


ORACLE["q308_hodges_lehmann"] = """
    WITH grid AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ), walsh AS (
        SELECT a.g, a.v + b.v AS s,
               SUM(CASE WHEN a.v < b.v THEN a.n * b.n
                        ELSE a.n * (a.n + 1) // 2 END) AS w
        FROM grid a JOIN grid b ON a.g = b.g AND a.v <= b.v
        GROUP BY 1, 2
    ), tot AS (
        SELECT g, SUM(w) AS w_tot FROM walsh GROUP BY 1
    ), med AS (
        SELECT c.g, MIN(c.s) AS hl_x2
        FROM (
            SELECT g, s, SUM(w) OVER (PARTITION BY g ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM walsh
        ) c JOIN tot t ON c.g = t.g
        WHERE 2 * c.cum >= t.w_tot
        GROUP BY 1
    ), counts AS (
        SELECT g, SUM(n) AS n_rows FROM grid GROUP BY 1
    )
    SELECT m.g, CAST(c.n_rows AS BIGINT) AS n_rows,
           CAST(t.w_tot AS BIGINT) AS n_walsh,
           CAST(m.hl_x2 AS BIGINT) AS hl_x2,
           CAST(m.hl_x2 AS DOUBLE) / 2.0 AS hl_estimate
    FROM med m JOIN tot t ON m.g = t.g JOIN counts c ON m.g = c.g
    ORDER BY m.g
"""
QUERIES["q308_hodges_lehmann"] = q308_hodges_lehmann


def q309_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test across k=3 related binary order 'checks' — any
    returned line, any deep-discount (>= 6%) line, any slow-ship
    (> 20 days) line — the k-treatment generalization of q240's
    McNemar (k=2) and the binary analogue of q296's Friedman: do the
    three quality flags fire at the same rate on the same orders? ONE
    per-order aggregate produces the 3-bit row, a second collapses to
    the sufficient statistics (column totals C_j, sum R_i, sum R_i^2),
    and Q = (k-1)(k*sum C_j^2 - T^2) / (k*T - sum R_i^2) is exact
    BIGINT until its single final division, rounded 9dp. Orders with
    all-zero or all-one rows contribute nothing to Q (they cancel
    algebraically) but stay in the frame — the classical form."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    rows = (
        li.select(
            "l_orderkey",
            "l_shipdate",
            (F.col("l_returnflag") == "R").alias("ret"),
            (F.col("l_discount") >= 0.06).alias("disc"),
        )
        .join(
            od.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.max(F.col("ret").cast("int")).alias("x1"),
            F.max(F.col("disc").cast("int")).alias("x2"),
            F.max(
                (
                    F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
                    > 20
                ).cast("int")
            ).alias("x3"),
        )
    )
    r = F.col("x1") + F.col("x2") + F.col("x3")
    agg = rows.agg(
        F.count(F.lit(1)).cast(_D38).alias("n_orders"),
        F.sum("x1").cast(_D38).alias("c1"),
        F.sum("x2").cast(_D38).alias("c2"),
        F.sum("x3").cast(_D38).alias("c3"),
        F.sum(r).cast(_D38).alias("t"),
        F.sum(r * r).cast(_D38).alias("rr"),
    )
    k = F.lit(3).cast(_D38)
    qnum = (k - 1) * (
        k * (F.col("c1") * F.col("c1") + F.col("c2") * F.col("c2") + F.col("c3") * F.col("c3"))
        - F.col("t") * F.col("t")
    )
    qden = k * F.col("t") - F.col("rr")
    return agg.select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("c1").cast("long").alias("n_returned"),
        F.col("c2").cast("long").alias("n_deep_discount"),
        F.col("c3").cast("long").alias("n_slow_ship"),
        F.round(qnum.cast("double") / qden.cast("double"), 9).alias("cochran_q"),
    )


ORACLE["q309_cochran_q"] = """
    WITH rows_ AS (
        SELECT l.l_orderkey,
               MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS x1,
               MAX(CASE WHEN l.l_discount >= 0.06 THEN 1 ELSE 0 END) AS x2,
               MAX(CASE WHEN DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                                       CAST(l.l_shipdate AS DATE)) > 20
                        THEN 1 ELSE 0 END) AS x3
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n_orders,
               CAST(SUM(x1) AS HUGEINT) AS c1,
               CAST(SUM(x2) AS HUGEINT) AS c2,
               CAST(SUM(x3) AS HUGEINT) AS c3,
               CAST(SUM(x1 + x2 + x3) AS HUGEINT) AS t,
               CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS HUGEINT) AS rr
        FROM rows_
    )
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(c1 AS BIGINT) AS n_returned,
           CAST(c2 AS BIGINT) AS n_deep_discount,
           CAST(c3 AS BIGINT) AS n_slow_ship,
           ROUND(CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t)
                      AS DOUBLE)
                 / CAST(3 * t - rr AS DOUBLE), 9) AS cochran_q
    FROM agg
"""
QUERIES["q309_cochran_q"] = q309_cochran_q


def q310_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of quantity and line revenue
    CONTROLLING for discount — does the quantity-revenue relationship
    survive once the confounder is partialled out? (q232's Spearman
    and q282's tau measure the raw association; this is the
    causal-adjustment read, the 3-variable step toward q263's fixed
    effects.) ONE sufficient-statistics hash aggregate yields the ten
    exact moments (n, three sums, three squares, three cross-products
    — cents and hundredths grids, DECIMAL(38,0)/HUGEINT); each
    pairwise Pearson r is one double chain on the exactly-cast
    integer-cleared covariances (n*Sxy - Sx*Sy etc.), rounded 9dp,
    and the partial r_xy.z = (r_xy - r_xz*r_yz) /
    sqrt((1-r_xz^2)(1-r_yz^2)) recombines the three ROUNDED doubles —
    a fixed arithmetic chain both engines replay identically. Nothing
    after the single aggregate is data-proportional."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("y"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("z"),
    )
    # products are cast to DECIMAL(38,0) BEFORE the sum: y*y is ~1e14
    # per row, so a long accumulator overflows around sf0.1
    xd, yd, zd = (F.col(c).cast(_D38) for c in ("x", "y", "z"))
    m = base.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("x").cast(_D38).alias("sx"),
        F.sum("y").cast(_D38).alias("sy"),
        F.sum("z").cast(_D38).alias("sz"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(zd * zd).alias("szz"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * zd).alias("sxz"),
        F.sum(yd * zd).alias("syz"),
    )

    def _r(sab, sa, sb, saa, sbb):
        num = (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
        da = (F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
        db = (F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
        return F.round(num / F.sqrt(da * db), 9)

    r = m.select(
        F.col("n").cast("long").alias("n_rows"),
        _r("sxy", "sx", "sy", "sxx", "syy").alias("r_xy"),
        _r("sxz", "sx", "sz", "sxx", "szz").alias("r_xz"),
        _r("syz", "sy", "sz", "syy", "szz").alias("r_yz"),
    )
    part = (F.col("r_xy") - F.col("r_xz") * F.col("r_yz")) / F.sqrt(
        (F.lit(1.0) - F.col("r_xz") * F.col("r_xz"))
        * (F.lit(1.0) - F.col("r_yz") * F.col("r_yz"))
    )
    return r.select(
        "n_rows", "r_xy", "r_xz", "r_yz", F.round(part, 9).alias("r_xy_given_z")
    )


ORACLE["q310_partial_correlation"] = """
    WITH m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sx,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS sy,
               CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS sz,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                        * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS syy,
               CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                        * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS szz,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS sxy,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS sxz,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                        * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS syz
        FROM lineitem
    ), r AS (
        SELECT CAST(n AS BIGINT) AS n_rows,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 9) AS r_xy,
               ROUND(CAST(n * sxz - sx * sz AS DOUBLE)
                     / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * szz - sz * sz AS DOUBLE)), 9) AS r_xz,
               ROUND(CAST(n * syz - sy * sz AS DOUBLE)
                     / SQRT(CAST(n * syy - sy * sy AS DOUBLE)
                            * CAST(n * szz - sz * sz AS DOUBLE)), 9) AS r_yz
        FROM m
    )
    SELECT n_rows, r_xy, r_xz, r_yz,
           ROUND((r_xy - r_xz * r_yz)
                 / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 9)
               AS r_xy_given_z
    FROM r
"""
QUERIES["q310_partial_correlation"] = q310_partial_correlation


CHOW_SPLIT_DATE = "1998-07-01"


def q311_chow_break_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test of the daily-revenue linear trend at
    a fixed split date — did the revenue/time regression change regime
    mid-series? (q209's CUSUM localizes a mean shift; this F-tests a
    SLOPE+INTERCEPT break at a hypothesized date, the q107 OLS
    machinery run three times.) Day-grain discipline: one fact
    aggregate collapses to ~2.4k (day, cents) rows; each segment's
    sufficient statistics (n, St, Sy, Stt, Sty, Syy — exact
    DECIMAL(38,0)/HUGEINT on the integer day/cents grids) aggregate
    per segment, the POOLED moments are the segment sums (no second
    scan), each SSR = (Syy' - Sxy'^2/Sxx')/n (n-scaled centered sums,
    ONE double chain on exactly-cast integers, rounded 6dp into the
    decimal domain), and F = ((SSR_p - SSR_a - SSR_b)/2) /
    ((SSR_a + SSR_b)/(n - 4)) is the final chain, rounded 6dp."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
        .select(
            F.datediff(F.col("day"), F.lit(CHOW_SPLIT_DATE).cast("date")).alias("t"),
            "rev",
            (F.col("day") < F.lit(CHOW_SPLIT_DATE).cast("date")).alias("pre"),
        )
    )
    seg = daily.groupBy("pre").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("t").cast(_D38).alias("st"),
        F.sum("rev").cast(_D38).alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast(_D38).alias("stt"),
        F.sum(F.col("t").cast(_D38) * F.col("rev").cast(_D38)).alias("sty"),
        F.sum(F.col("rev").cast(_D38) * F.col("rev").cast(_D38)).alias("syy"),
    )

    def _ssr(n, st, sy, stt, sty, syy):
        sxx = (n * stt - st * st).cast("double")
        sxy = (n * sty - st * sy).cast("double")
        syy_c = (n * syy - sy * sy).cast("double")
        return F.round((syy_c - sxy * sxy / sxx) / n.cast("double"), 6)

    both = seg.agg(
        F.sum("n").alias("n_all"),
        F.sum("st").alias("st_all"),
        F.sum("sy").alias("sy_all"),
        F.sum("stt").alias("stt_all"),
        F.sum("sty").alias("sty_all"),
        F.sum("syy").alias("syy_all"),
        F.sum(F.when(F.col("pre"), F.col("n")).otherwise(F.lit(0).cast(_D38))).alias("n_a"),
        F.max(
            F.when(
                F.col("pre"),
                _ssr(
                    F.col("n"), F.col("st"), F.col("sy"),
                    F.col("stt"), F.col("sty"), F.col("syy"),
                ),
            )
        ).alias("ssr_a"),
        F.max(
            F.when(
                ~F.col("pre"),
                _ssr(
                    F.col("n"), F.col("st"), F.col("sy"),
                    F.col("stt"), F.col("sty"), F.col("syy"),
                ),
            )
        ).alias("ssr_b"),
    )
    ssr_p = _ssr(
        F.col("n_all"), F.col("st_all"), F.col("sy_all"),
        F.col("stt_all"), F.col("sty_all"), F.col("syy_all"),
    )
    fstat = (
        (F.col("ssr_p") - F.col("ssr_a") - F.col("ssr_b")) / F.lit(2.0)
    ) / ((F.col("ssr_a") + F.col("ssr_b")) / (F.col("n_days") - F.lit(4.0)))
    return (
        both.select(
            F.col("n_all").cast("long").alias("n_days_l"),
            F.col("n_a").cast("long").alias("n_pre"),
            ssr_p.alias("ssr_p"),
            "ssr_a",
            "ssr_b",
        )
        .select(
            F.col("n_days_l").cast("double").alias("n_days"),
            F.col("n_pre").cast("long").alias("n_pre"),
            F.round(F.col("ssr_p") / F.lit(1.0e12), 6).alias("ssr_pooled_e12"),
            F.round(F.col("ssr_a") / F.lit(1.0e12), 6).alias("ssr_pre_e12"),
            F.round(F.col("ssr_b") / F.lit(1.0e12), 6).alias("ssr_post_e12"),
            F.round(fstat, 6).alias("chow_f"),
        )
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            "n_pre",
            "ssr_pooled_e12",
            "ssr_pre_e12",
            "ssr_post_e12",
            "chow_f",
        )
    )


ORACLE["q311_chow_break_test"] = f"""
    WITH daily AS (
        SELECT DATE_DIFF('day', DATE '{CHOW_SPLIT_DATE}',
                         CAST(l_shipdate AS DATE)) AS t,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev,
               (CAST(l_shipdate AS DATE) < DATE '{CHOW_SPLIT_DATE}') AS pre
        FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
    ), seg AS (
        SELECT pre, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(t) AS HUGEINT) AS st,
               CAST(SUM(rev) AS HUGEINT) AS sy,
               CAST(SUM(CAST(t AS BIGINT) * CAST(t AS BIGINT)) AS HUGEINT)
                   AS stt,
               SUM(CAST(t AS HUGEINT) * CAST(rev AS HUGEINT)) AS sty,
               SUM(CAST(rev AS HUGEINT) * CAST(rev AS HUGEINT)) AS syy
        FROM daily GROUP BY 1
    ), ssr AS (
        SELECT pre, n,
               ROUND((CAST(n * syy - sy * sy AS DOUBLE)
                      - CAST(n * sty - st * sy AS DOUBLE)
                        * CAST(n * sty - st * sy AS DOUBLE)
                        / CAST(n * stt - st * st AS DOUBLE))
                     / CAST(n AS DOUBLE), 6) AS ssr_seg
        FROM seg
    ), pooled AS (
        SELECT CAST(SUM(n) AS HUGEINT) AS n, CAST(SUM(st) AS HUGEINT) AS st,
               CAST(SUM(sy) AS HUGEINT) AS sy,
               CAST(SUM(stt) AS HUGEINT) AS stt,
               CAST(SUM(sty) AS HUGEINT) AS sty,
               CAST(SUM(syy) AS HUGEINT) AS syy
        FROM seg
    ), pssr AS (
        SELECT CAST(n AS BIGINT) AS n_days,
               ROUND((CAST(n * syy - sy * sy AS DOUBLE)
                      - CAST(n * sty - st * sy AS DOUBLE)
                        * CAST(n * sty - st * sy AS DOUBLE)
                        / CAST(n * stt - st * st AS DOUBLE))
                     / CAST(n AS DOUBLE), 6) AS ssr_p
        FROM pooled
    )
    SELECT p.n_days,
           CAST((SELECT n FROM ssr WHERE pre) AS BIGINT) AS n_pre,
           ROUND(p.ssr_p / 1.0e12, 6) AS ssr_pooled_e12,
           ROUND((SELECT ssr_seg FROM ssr WHERE pre) / 1.0e12, 6)
               AS ssr_pre_e12,
           ROUND((SELECT ssr_seg FROM ssr WHERE NOT pre) / 1.0e12, 6)
               AS ssr_post_e12,
           ROUND(((p.ssr_p - (SELECT ssr_seg FROM ssr WHERE pre)
                   - (SELECT ssr_seg FROM ssr WHERE NOT pre)) / 2.0)
                 / (((SELECT ssr_seg FROM ssr WHERE pre)
                     + (SELECT ssr_seg FROM ssr WHERE NOT pre))
                    / (CAST(p.n_days AS DOUBLE) - 4.0)), 6) AS chow_f
    FROM pssr p
"""
QUERIES["q311_chow_break_test"] = q311_chow_break_test


LJUNG_BOX_LAGS = 7


def q314_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the demeaned daily-revenue series
    — the multi-lag generalization of q305 (which reads lag 1 only):
    Q_LB = n(n+2) * sum_{k=1..7} r_k^2/(n-k), the standard residual-
    whiteness screen. Same exact integer core as q305: E_t = n*y_t - S
    on the ~2.4k-day frame (DECIMAL(38,0)); each lag's cross-sum
    comes from ONE lag window per k over the collapsed frame, so
    r_k = sum E_t E_{t-k} / sum E_t^2 is an exact integer ratio with
    one double division, rounded 9dp; the portmanteau accumulates the
    seven rounded terms in the decimal domain (order-free) before the
    final n(n+2) scaling. Day-grain after one fact aggregate — the
    lag stack costs nothing at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n_days"), F.sum("rev").alias("s"))
    wlag = Window.orderBy("day")
    e = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_days",
        (
            F.col("n_days").cast(_D38) * F.col("rev").cast(_D38)
            - F.col("s").cast(_D38)
        ).alias("e"),
    )
    lagged = e
    for k in range(1, LJUNG_BOX_LAGS + 1):
        lagged = lagged.withColumn(f"e_{k}", F.lag("e", k).over(wlag))
    aggs = [
        F.max("n_days").alias("n_days"),
        F.sum(F.col("e") * F.col("e")).alias("ss"),
    ]
    for k in range(1, LJUNG_BOX_LAGS + 1):
        aggs.append(
            F.sum(
                F.when(
                    F.col(f"e_{k}").isNotNull(), F.col("e") * F.col(f"e_{k}")
                ).otherwise(F.lit(0).cast(_D38))
            ).alias(f"x_{k}")
        )
    m = lagged.agg(*aggs)
    rk = [
        F.round(
            F.col(f"x_{k}").cast("double") / F.col("ss").cast("double"), 9
        ).cast("decimal(28,9)")
        for k in range(1, LJUNG_BOX_LAGS + 1)
    ]
    nd = F.col("n_days").cast("double")
    term_sum = None
    for k, r in enumerate(rk, start=1):
        t = F.round(
            (r.cast("double") * r.cast("double"))
            / (nd - F.lit(float(k))),
            12,
        ).cast("decimal(28,12)")
        term_sum = t if term_sum is None else term_sum + t
    qlb = nd * (nd + 2.0) * F.col("term_sum").cast("double")
    return (
        m.withColumn("term_sum", term_sum)
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.lit(LJUNG_BOX_LAGS).cast("int").alias("n_lags"),
            rk[0].cast("double").alias("r1"),
            rk[1].cast("double").alias("r2"),
            rk[2].cast("double").alias("r3"),
            F.round(qlb, 6).alias("q_lb"),
        )
    )


def _lb_oracle() -> str:
    lags = ", ".join(
        f"LAG(e, {k}) OVER (ORDER BY day) AS e_{k}"
        for k in range(1, LJUNG_BOX_LAGS + 1)
    )
    xs = ", ".join(
        f"SUM(CASE WHEN e_{k} IS NOT NULL THEN e * e_{k} ELSE 0 END) AS x_{k}"
        for k in range(1, LJUNG_BOX_LAGS + 1)
    )
    rks = ", ".join(
        f"CAST(ROUND(CAST(x_{k} AS DOUBLE) / CAST(ss AS DOUBLE), 9)"
        f" AS DECIMAL(28,9)) AS r_{k}"
        for k in range(1, LJUNG_BOX_LAGS + 1)
    )
    terms = " + ".join(
        f"CAST(ROUND((CAST(r_{k} AS DOUBLE) * CAST(r_{k} AS DOUBLE))"
        f" / (CAST(n_days AS DOUBLE) - {k}.0), 12) AS DECIMAL(28,12))"
        for k in range(1, LJUNG_BOX_LAGS + 1)
    )
    return f"""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n_days, SUM(rev) AS s FROM daily
    ), e AS (
        SELECT d.day, t.n_days,
               CAST(t.n_days AS HUGEINT) * CAST(d.rev AS HUGEINT)
                   - CAST(t.s AS HUGEINT) AS e
        FROM daily d CROSS JOIN tot t
    ), lagged AS (
        SELECT day, n_days, e, {lags} FROM e
    ), m AS (
        SELECT MAX(n_days) AS n_days, SUM(e * e) AS ss, {xs} FROM lagged
    ), rk AS (
        SELECT n_days, {rks} FROM m
    )
    SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST({LJUNG_BOX_LAGS} AS INT) AS n_lags,
           CAST(r_1 AS DOUBLE) AS r1,
           CAST(r_2 AS DOUBLE) AS r2,
           CAST(r_3 AS DOUBLE) AS r3,
           ROUND(CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)
                 * CAST({terms} AS DOUBLE), 6) AS q_lb
    FROM rk
"""


ORACLE["q314_ljung_box"] = _lb_oracle()
QUERIES["q314_ljung_box"] = q314_ljung_box


def q315_agreement_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chance-correction family of inter-rater agreement on q299's
    per-priority 2x2 cells (returnflag-R vs linestatus-O as the two
    'annotators'): observed agreement, Cohen's kappa (rater-specific
    marginals), Scott's pi (pooled marginals), and Gwet's AC1 (the
    prevalence-robust coefficient label-ops teams prefer when one
    class dominates — kappa's known paradox). One aggregate to the
    5x4 cell frame; every numerator/denominator is cleared to exact
    DECIMAL(38,0)/HUGEINT integer form (kappa via n(a+d) - pe_num as
    q299; pi via 4n(a+d) - s_pool with s_pool = ((a+b)+(a+c))^2 +
    ((c+d)+(b+d))^2; AC1 via its q-form 2*(2q(n-q))-clearing where
    q = (a+b)+(a+c) is the pooled positive mass), so each statistic
    is ONE final double division, rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
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
            F.sum(F.when(F.col("x") & F.col("y"), 1).otherwise(0)).cast(_D38).alias("a"),
            F.sum(F.when(F.col("x") & ~F.col("y"), 1).otherwise(0)).cast(_D38).alias("b"),
            F.sum(F.when(~F.col("x") & F.col("y"), 1).otherwise(0)).cast(_D38).alias("c"),
            F.sum(F.when(~F.col("x") & ~F.col("y"), 1).otherwise(0)).cast(_D38).alias("d"),
        )
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    n = a + b + c + d
    agree = a + d
    # kappa: pe_num = (a+b)(a+c) + (c+d)(b+d), scaled by n^2
    pe_num = (a + b) * (a + c) + (c + d) * (b + d)
    kappa = (n * agree - pe_num).cast("double") / (n * n - pe_num).cast("double")
    # Scott's pi: pooled marginal p = ((a+b)+(a+c)) / 2n; pe_pi =
    # p^2 + (1-p)^2; cleared by 4n^2: s_pool = q^2 + (2n-q)^2
    qq = (a + b) + (a + c)
    s_pool = qq * qq + (2 * n - qq) * (2 * n - qq)
    pi = (F.lit(4).cast(_D38) * n * agree - s_pool).cast("double") / (
        F.lit(4).cast(_D38) * n * n - s_pool
    ).cast("double")
    # Gwet AC1: pe_g = 2*p*(1-p) with the same pooled p; cleared by
    # 4n^2: g_pool = 2*q*(2n - q)
    g_pool = F.lit(2).cast(_D38) * qq * (2 * n - qq)
    ac1 = (F.lit(4).cast(_D38) * n * agree - g_pool).cast("double") / (
        F.lit(4).cast(_D38) * n * n - g_pool
    ).cast("double")
    return cells.select(
        "stratum",
        n.cast("long").alias("n"),
        F.round(agree.cast("double") / n.cast("double"), 9).alias("p_observed"),
        F.round(kappa, 9).alias("kappa"),
        F.round(pi, 9).alias("scotts_pi"),
        F.round(ac1, 9).alias("gwet_ac1"),
    ).orderBy("stratum")


ORACLE["q315_agreement_family"] = """
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
    ), f AS (
        SELECT stratum, a, b, c, d,
               a + b + c + d AS n, a + d AS agree,
               (a + b) * (a + c) + (c + d) * (b + d) AS pe_num,
               (a + b) + (a + c) AS q
        FROM cells
    )
    SELECT stratum,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p_observed,
           ROUND(CAST(n * agree - pe_num AS DOUBLE)
                 / CAST(n * n - pe_num AS DOUBLE), 9) AS kappa,
           ROUND(CAST(4 * n * agree - (q * q + (2 * n - q) * (2 * n - q))
                      AS DOUBLE)
                 / CAST(4 * n * n - (q * q + (2 * n - q) * (2 * n - q))
                        AS DOUBLE), 9) AS scotts_pi,
           ROUND(CAST(4 * n * agree - 2 * q * (2 * n - q) AS DOUBLE)
                 / CAST(4 * n * n - 2 * q * (2 * n - q) AS DOUBLE), 9)
               AS gwet_ac1
    FROM f ORDER BY stratum
"""
QUERIES["q315_agreement_family"] = q315_agreement_family


CCF_MAX_LAG = 3


def q316_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the daily REVENUE and daily
    LINE-COUNT series at lags -3..+3 — does volume lead value, or the
    reverse? The bivariate companion of q305/q314's univariate serial
    correlation, and the lead-lag screen a pipeline runs between its
    own throughput metrics. Both series demean exactly on the shared
    ~2.4k-day frame (E_t = n·y_t − S, F_t = n·c_t − C — the common n
    cancels in r), one lag/lead window stack per offset, and every
    r_k = sum E_t F_{t-k} / sqrt(sum E² · sum F²) is an exact-integer
    ratio with one double chain, rounded 9dp. Positive lag = revenue
    trails counts by k days. One row per lag for a 7-row result."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"), F.count(F.lit(1)).alias("cnt"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rev").alias("s"),
        F.sum("cnt").alias("c"),
    )
    wlag = Window.orderBy("day")
    e = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_days",
        (
            F.col("n_days").cast(_D38) * F.col("rev").cast(_D38)
            - F.col("s").cast(_D38)
        ).alias("e"),
        (
            F.col("n_days").cast(_D38) * F.col("cnt").cast(_D38)
            - F.col("c").cast(_D38)
        ).alias("f"),
    )
    for k in range(1, CCF_MAX_LAG + 1):
        e = e.withColumn(f"f_m{k}", F.lag("f", k).over(wlag))
        e = e.withColumn(f"f_p{k}", F.lead("f", k).over(wlag))
    aggs = [
        F.max("n_days").alias("n_days"),
        F.sum(F.col("e") * F.col("e")).alias("see"),
        F.sum(F.col("f") * F.col("f")).alias("sff"),
        F.sum(F.col("e") * F.col("f")).alias("x_0"),
    ]
    for k in range(1, CCF_MAX_LAG + 1):
        for sgn, nm in ((f"f_m{k}", f"x_m{k}"), (f"f_p{k}", f"x_p{k}")):
            aggs.append(
                F.sum(
                    F.when(F.col(sgn).isNotNull(), F.col("e") * F.col(sgn))
                    .otherwise(F.lit(0).cast(_D38))
                ).alias(nm)
            )
    m = e.agg(*aggs)
    den = F.sqrt(F.col("see").cast("double") * F.col("sff").cast("double"))
    lag_cols = []
    for k in range(CCF_MAX_LAG, 0, -1):
        lag_cols.append((-k, F.col(f"x_m{k}")))
    lag_cols.append((0, F.col("x_0")))
    for k in range(1, CCF_MAX_LAG + 1):
        lag_cols.append((k, F.col(f"x_p{k}")))
    rows = [
        F.struct(
            F.lit(k).cast("int").alias("lag"),
            F.round(x.cast("double") / den, 9).alias("ccf"),
        )
        for k, x in lag_cols
    ]
    return (
        m.select(
            F.col("n_days").cast("long").alias("n_days"),
            F.explode(F.array(*rows)).alias("r"),
        )
        .select("n_days", F.col("r.lag").alias("lag"), F.col("r.ccf").alias("ccf"))
        .orderBy("lag")
    )


def _ccf_oracle() -> str:
    shifts = []
    for k in range(1, CCF_MAX_LAG + 1):
        shifts.append(f"LAG(f, {k}) OVER (ORDER BY day) AS f_m{k}")
        shifts.append(f"LEAD(f, {k}) OVER (ORDER BY day) AS f_p{k}")
    xs = ["SUM(e * f) AS x_0"]
    for k in range(1, CCF_MAX_LAG + 1):
        xs.append(
            f"SUM(CASE WHEN f_m{k} IS NOT NULL THEN e * f_m{k} ELSE 0 END)"
            f" AS x_m{k}"
        )
        xs.append(
            f"SUM(CASE WHEN f_p{k} IS NOT NULL THEN e * f_p{k} ELSE 0 END)"
            f" AS x_p{k}"
        )
    sel = []
    for k in range(CCF_MAX_LAG, 0, -1):
        sel.append(f"({-k}, x_m{k})")
    sel.append("(0, x_0)")
    for k in range(1, CCF_MAX_LAG + 1):
        sel.append(f"({k}, x_p{k})")
    unions = " UNION ALL ".join(
        f"SELECT CAST(n_days AS BIGINT) AS n_days, CAST({lag} AS INT) AS lag,"
        f" ROUND(CAST({x} AS DOUBLE)"
        f" / SQRT(CAST(see AS DOUBLE) * CAST(sff AS DOUBLE)), 9) AS ccf"
        f" FROM m"
        for lag, x in (s.strip("()").split(", ") for s in sel)
    )
    return f"""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n_days, SUM(rev) AS s, SUM(cnt) AS c FROM daily
    ), ef AS (
        SELECT d.day, t.n_days,
               CAST(t.n_days AS HUGEINT) * CAST(d.rev AS HUGEINT)
                   - CAST(t.s AS HUGEINT) AS e,
               CAST(t.n_days AS HUGEINT) * CAST(d.cnt AS HUGEINT)
                   - CAST(t.c AS HUGEINT) AS f
        FROM daily d CROSS JOIN tot t
    ), shifted AS (
        SELECT day, n_days, e, f, {", ".join(shifts)} FROM ef
    ), m AS (
        SELECT MAX(n_days) AS n_days, SUM(e * e) AS see, SUM(f * f) AS sff,
               {", ".join(xs)}
        FROM shifted
    )
    SELECT * FROM ({unions}) ORDER BY lag
"""


ORACLE["q316_cross_correlation"] = _ccf_oracle()
QUERIES["q316_cross_correlation"] = q316_cross_correlation


def q317_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily revenue series at lags
    1..3 via the closed Durbin-Levinson forms — the AR-order
    diagnostic read next to q314's Ljung-Box (ACF says WHETHER
    structure exists; PACF says what AR order explains it). The
    autocorrelations r1..r3 come from q305/q314's exact integer core
    (one lag-window stack on the collapsed ~2.4k-day frame, each r_k
    one double division rounded 9dp); the Levinson recursion then runs
    as a FIXED double chain on the three rounded r's: phi11 = r1,
    phi22 = (r2 − r1²)/(1 − r1²), phi33 from the order-2 solve —
    identical operation order on both engines, rounded 9dp. Constant
    work after the day aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n_days"), F.sum("rev").alias("s"))
    wlag = Window.orderBy("day")
    e = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_days",
        (
            F.col("n_days").cast(_D38) * F.col("rev").cast(_D38)
            - F.col("s").cast(_D38)
        ).alias("e"),
    )
    for k in (1, 2, 3):
        e = e.withColumn(f"e_{k}", F.lag("e", k).over(wlag))
    m = e.agg(
        F.max("n_days").alias("n_days"),
        F.sum(F.col("e") * F.col("e")).alias("ss"),
        *[
            F.sum(
                F.when(F.col(f"e_{k}").isNotNull(), F.col("e") * F.col(f"e_{k}"))
                .otherwise(F.lit(0).cast(_D38))
            ).alias(f"x_{k}")
            for k in (1, 2, 3)
        ],
    )
    r = {
        k: F.round(
            F.col(f"x_{k}").cast("double") / F.col("ss").cast("double"), 9
        )
        for k in (1, 2, 3)
    }
    rr = m.select(
        F.col("n_days").cast("long").alias("n_days"),
        r[1].alias("r1"),
        r[2].alias("r2"),
        r[3].alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi11 = r1
    phi22 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    # order-2 AR coefficients, then the order-3 reflection coefficient
    a21 = r1 * (F.lit(1.0) - r2) / (F.lit(1.0) - r1 * r1)
    a22 = phi22
    phi33 = (r3 - a21 * r2 - a22 * r1) / (F.lit(1.0) - a21 * r1 - a22 * r2)
    return rr.select(
        "n_days",
        "r1",
        "r2",
        "r3",
        F.round(phi11, 9).alias("pacf1"),
        F.round(phi22, 9).alias("pacf2"),
        F.round(phi33, 9).alias("pacf3"),
    )


ORACLE["q317_pacf"] = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n_days, SUM(rev) AS s FROM daily
    ), e AS (
        SELECT d.day, t.n_days,
               CAST(t.n_days AS HUGEINT) * CAST(d.rev AS HUGEINT)
                   - CAST(t.s AS HUGEINT) AS e
        FROM daily d CROSS JOIN tot t
    ), lagged AS (
        SELECT day, n_days, e,
               LAG(e, 1) OVER (ORDER BY day) AS e_1,
               LAG(e, 2) OVER (ORDER BY day) AS e_2,
               LAG(e, 3) OVER (ORDER BY day) AS e_3
        FROM e
    ), m AS (
        SELECT MAX(n_days) AS n_days, SUM(e * e) AS ss,
               SUM(CASE WHEN e_1 IS NOT NULL THEN e * e_1 ELSE 0 END) AS x_1,
               SUM(CASE WHEN e_2 IS NOT NULL THEN e * e_2 ELSE 0 END) AS x_2,
               SUM(CASE WHEN e_3 IS NOT NULL THEN e * e_3 ELSE 0 END) AS x_3
        FROM lagged
    ), r AS (
        SELECT CAST(n_days AS BIGINT) AS n_days,
               ROUND(CAST(x_1 AS DOUBLE) / CAST(ss AS DOUBLE), 9) AS r1,
               ROUND(CAST(x_2 AS DOUBLE) / CAST(ss AS DOUBLE), 9) AS r2,
               ROUND(CAST(x_3 AS DOUBLE) / CAST(ss AS DOUBLE), 9) AS r3
        FROM m
    )
    SELECT n_days, r1, r2, r3,
           ROUND(r1, 9) AS pacf1,
           ROUND((r2 - r1 * r1) / (1.0 - r1 * r1), 9) AS pacf2,
           ROUND((r3 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r2
                  - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1)
                 / (1.0 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
                    - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2), 9) AS pacf3
    FROM r
"""
QUERIES["q317_pacf"] = q317_pacf


def q320_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of line quantity per return flag —
    the skewness/kurtosis moment screen (JB = n/6 * (S^2 + K^2/4),
    K = excess kurtosis) completing the shape shelf next to q196's
    MAD and q149's winsorization. Quantity lives on the 1-50 integer
    domain, so ALL four raw power sums (x, x^2, x^3, x^4) are exact
    BIGINT/DECIMAL(38,0) from ONE hash aggregate (x^4 <= 6.25e6 per
    row — no overflow through extreme scale); the central moments
    clear to the standard closed forms m2 = (n*s2 - s1^2)/n^2 etc.,
    each evaluated as one double chain on the exactly-cast integer
    cores in identical order, skew/kurtosis/JB rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("x"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("n"),
            F.sum("x").cast(_D38).alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast(_D38).alias("s2"),
            F.sum(F.col("x") * F.col("x") * F.col("x")).cast(_D38).alias("s3"),
            F.sum(
                F.col("x").cast(_D38)
                * F.col("x").cast(_D38)
                * F.col("x").cast(_D38)
                * F.col("x").cast(_D38)
            ).alias("s4"),
        )
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu
    m4 = (
        s4 / n
        - 4.0 * mu * (s3 / n)
        + 6.0 * mu * mu * (s2 / n)
        - 3.0 * mu * mu * mu * mu
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew * skew + kurt * kurt / 4.0)
    return g.select(
        "g",
        F.col("n").cast("long").alias("n_rows"),
        F.round(skew, 9).alias("skewness"),
        F.round(kurt, 9).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jarque_bera"),
    ).orderBy("g")


ORACLE["q320_jarque_bera"] = """
    WITH g AS (
        SELECT l_returnflag AS g,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s1,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                    AS HUGEINT) AS s2,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s3,
               CAST(SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)
                        * CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT))
                    AS HUGEINT) AS s4
        FROM lineitem GROUP BY 1
    ), mom AS (
        -- the double chains mirror the Spark expressions term-for-term:
        -- no POW/transcendentals, only * / + - on exactly-cast integers
        SELECT g, n,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
               CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
               CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        FROM g
    ), cm AS (
        SELECT g, n, mu,
               r2 - mu * mu AS m2,
               r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
               r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                  - 3.0 * mu * mu * mu * mu AS m4
        FROM mom
    ), sk AS (
        SELECT g, n,
               m3 / SQRT(m2 * m2 * m2) AS skew,
               m4 / (m2 * m2) - 3.0 AS kurt
        FROM cm
    )
    SELECT g, CAST(n AS BIGINT) AS n_rows,
           ROUND(skew, 9) AS skewness,
           ROUND(kurt, 9) AS excess_kurtosis,
           ROUND(CAST(n AS DOUBLE) / 6.0
                 * (skew * skew + kurt * kurt / 4.0), 6) AS jarque_bera
    FROM sk ORDER BY g
"""
QUERIES["q320_jarque_bera"] = q320_jarque_bera


def q321_bhattacharyya(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bhattacharyya coefficient and Hellinger distance between the
    1995 and 1996 order-priority mixes — the geometric-overlap drift
    metric completing the divergence shelf (q171 PSI, q214 JS, q304
    W1): BC = sum_i sqrt(p_i q_i), H = sqrt(1 - BC). One aggregate to
    the <=5-cell grid; each cell's term sqrt(n1_i * n2_i) /
    sqrt(N1 * N2) is one double chain on exact BIGINTs rounded 9dp
    into DECIMAL(28,9) (no pow, no log — sqrt only), summed
    order-free; H is the single final chain. Rows: one per priority
    (both mix shares + the BC term) plus the '__total__' row carrying
    BC and Hellinger."""
    od = load_table(spark, sf_dir, "orders")
    cells = (
        od.select(
            "o_orderpriority",
            F.year(F.to_date("o_orderdate")).alias("yr"),
        )
        .filter(F.col("yr").isin(1995, 1996))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.sum(F.when(F.col("yr") == 1995, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("n2"),
        )
    )
    tot = cells.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    term = F.round(
        F.sqrt((F.col("n1") * F.col("n2")).cast("double"))
        / F.sqrt((F.col("t1") * F.col("t2")).cast("double")),
        9,
    ).cast("decimal(28,9)")
    rows = cells.crossJoin(F.broadcast(tot)).select(
        "priority",
        F.round(F.col("n1").cast("double") / F.col("t1").cast("double"), 9).alias(
            "p_1995"
        ),
        F.round(F.col("n2").cast("double") / F.col("t2").cast("double"), 9).alias(
            "p_1996"
        ),
        term.alias("bc_term_d"),
    )
    total = rows.agg(
        F.lit("__total__").alias("priority"),
        F.round(F.sum(F.col("p_1995").cast("decimal(28,9)")).cast("double"), 6).alias("p_1995"),
        F.round(F.sum(F.col("p_1996").cast("decimal(28,9)")).cast("double"), 6).alias("p_1996"),
        F.sum("bc_term_d").alias("bc_term_d"),
    )
    out = rows.unionByName(total).select(
        "priority",
        "p_1995",
        "p_1996",
        F.col("bc_term_d").cast("double").alias("bc_term"),
        F.when(
            F.col("priority") == "__total__",
            F.round(
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        F.lit(1.0) - F.col("bc_term_d").cast("double"),
                    )
                ),
                9,
            ),
        ).alias("hellinger"),
    )
    return out.orderBy("priority")


ORACLE["q321_bhattacharyya"] = """
    WITH cells AS (
        SELECT o_orderpriority AS priority,
               SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1995
                        THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1996
                        THEN 1 ELSE 0 END) AS n2
        FROM orders
        WHERE YEAR(CAST(o_orderdate AS DATE)) IN (1995, 1996)
        GROUP BY 1
    ), tot AS (
        SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM cells
    ), rows_ AS (
        SELECT c.priority,
               ROUND(CAST(c.n1 AS DOUBLE) / CAST(t.t1 AS DOUBLE), 9) AS p_1995,
               ROUND(CAST(c.n2 AS DOUBLE) / CAST(t.t2 AS DOUBLE), 9) AS p_1996,
               CAST(ROUND(SQRT(CAST(c.n1 * c.n2 AS DOUBLE))
                          / SQRT(CAST(t.t1 * t.t2 AS DOUBLE)), 9)
                    AS DECIMAL(28,9)) AS bc_term_d
        FROM cells c CROSS JOIN tot t
    ), total AS (
        SELECT '__total__' AS priority,
               ROUND(CAST(SUM(CAST(p_1995 AS DECIMAL(28,9))) AS DOUBLE), 6)
                   AS p_1995,
               ROUND(CAST(SUM(CAST(p_1996 AS DECIMAL(28,9))) AS DOUBLE), 6)
                   AS p_1996,
               SUM(bc_term_d) AS bc_term_d
        FROM rows_
    )
    SELECT priority, p_1995, p_1996,
           CAST(bc_term_d AS DOUBLE) AS bc_term,
           CASE WHEN priority = '__total__'
                THEN ROUND(SQRT(GREATEST(0.0,
                         1.0 - CAST(bc_term_d AS DOUBLE))), 9)
                ELSE NULL END AS hellinger
    FROM (SELECT * FROM rows_ UNION ALL SELECT * FROM total)
    ORDER BY priority
"""
QUERIES["q321_bhattacharyya"] = q321_bhattacharyya


def q322_anderson_darling_2s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling (Scholz-Stephens A2akN, k=2, the
    midrank ties form) on the 1995-vs-1996 daily-revenue samples —
    the TAIL-WEIGHTED drift test completing the EDF trio (q172 KS =
    sup norm, q258 CvM = L2, this = L2 with 1/(F(1-F)) tail
    emphasis). Everything stays exact integers on the q304 merged
    value grid: with doubled midrank cumulatives 2B_j = 2*cum - l_j
    and 2M_ij per sample, each cell term is
    l_j * (N*2M_ij - n_i*2B_j)^2 / (N * ((2B_j)(2N - 2B_j) - N*l_j))
    — integer numerator and denominator, ONE double division rounded
    9dp into DECIMAL(28,9), summed order-free per sample; A2 =
    (N-1)/N * sum_i T_i/n_i is the final chain. Day-grain after one
    fact aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .filter(F.year("day").isin(1995, 1996))
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    grid = (
        daily.select(
            "rev",
            F.when(F.year("day") == 1995, 1).otherwise(0).alias("a"),
            F.when(F.year("day") == 1996, 1).otherwise(0).alias("b"),
        )
        .groupBy("rev")
        .agg(F.sum("a").alias("ca"), F.sum("b").alias("cb"))
    )
    wcum = Window.orderBy("rev").rowsBetween(Window.unboundedPreceding, 0)
    tot = grid.agg(F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"))
    st = (
        grid.withColumn("l", F.col("ca") + F.col("cb"))
        .withColumn("cum_a", F.sum("ca").over(wcum))
        .withColumn("cum_b", F.sum("cb").over(wcum))
        .crossJoin(F.broadcast(tot))
        .withColumn("n", F.col("n_a") + F.col("n_b"))
        .withColumn("b2", 2 * (F.col("cum_a") + F.col("cum_b")) - F.col("l"))
        .withColumn("ma2", 2 * F.col("cum_a") - F.col("ca"))
        .withColumn("mb2", 2 * F.col("cum_b") - F.col("cb"))
    )
    den = F.col("n") * (
        F.col("b2") * (2 * F.col("n") - F.col("b2")) - F.col("n") * F.col("l")
    )
    term = lambda m2, ni: F.when(  # noqa: E731
        den > 0,
        F.round(
            (
                F.col("l")
                * (F.col("n") * F.col(m2) - F.col(ni) * F.col("b2"))
                * (F.col("n") * F.col(m2) - F.col(ni) * F.col("b2"))
            ).cast("double")
            / den.cast("double"),
            9,
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(28,9)")
    agg = st.select(
        term("ma2", "n_a").alias("ta"),
        term("mb2", "n_b").alias("tb"),
        "n_a",
        "n_b",
        "n",
    ).agg(
        F.sum("ta").alias("ta"),
        F.sum("tb").alias("tb"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("n").alias("n"),
    )
    nd = F.col("n").cast("double")
    a2 = (
        (nd - 1.0)
        / nd
        * (
            F.col("ta").cast("double") / F.col("n_a").cast("double")
            + F.col("tb").cast("double") / F.col("n_b").cast("double")
        )
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(a2, 9).alias("ad_a2"),
    )


ORACLE["q322_anderson_darling_2s"] = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem
        WHERE YEAR(CAST(l_shipdate AS DATE)) IN (1995, 1996)
        GROUP BY 1
    ), grid AS (
        SELECT rev,
               SUM(CASE WHEN YEAR(day) = 1995 THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN YEAR(day) = 1996 THEN 1 ELSE 0 END) AS cb
        FROM daily GROUP BY 1
    ), tot AS (
        SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM grid
    ), st AS (
        SELECT g.rev, g.ca + g.cb AS l,
               SUM(g.ca) OVER (ORDER BY g.rev
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
               SUM(g.cb) OVER (ORDER BY g.rev
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
               g.ca, g.cb, t.n_a, t.n_b, t.n_a + t.n_b AS n
        FROM grid g CROSS JOIN tot t
    ), cells AS (
        SELECT l, n_a, n_b, n,
               2 * (cum_a + cum_b) - l AS b2,
               2 * cum_a - ca AS ma2,
               2 * cum_b - cb AS mb2
        FROM st
    ), terms AS (
        SELECT n_a, n_b, n,
               CAST(CASE WHEN n * (b2 * (2 * n - b2) - n * l) > 0
                    THEN ROUND(CAST(l * (n * ma2 - n_a * b2)
                                      * (n * ma2 - n_a * b2) AS DOUBLE)
                               / CAST(n * (b2 * (2 * n - b2) - n * l)
                                      AS DOUBLE), 9)
                    ELSE 0.0 END AS DECIMAL(28,9)) AS ta,
               CAST(CASE WHEN n * (b2 * (2 * n - b2) - n * l) > 0
                    THEN ROUND(CAST(l * (n * mb2 - n_b * b2)
                                      * (n * mb2 - n_b * b2) AS DOUBLE)
                               / CAST(n * (b2 * (2 * n - b2) - n * l)
                                      AS DOUBLE), 9)
                    ELSE 0.0 END AS DECIMAL(28,9)) AS tb
        FROM cells
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           ROUND((CAST(MAX(n) AS DOUBLE) - 1.0) / CAST(MAX(n) AS DOUBLE)
                 * (CAST(SUM(ta) AS DOUBLE) / CAST(MAX(n_a) AS DOUBLE)
                    + CAST(SUM(tb) AS DOUBLE) / CAST(MAX(n_b) AS DOUBLE)),
                 9) AS ad_a2
    FROM terms
"""
QUERIES["q322_anderson_darling_2s"] = q322_anderson_darling_2s


def q323_mood_scale_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's rank test for SCALE (dispersion) differences — do
    returned lines spread over quantities differently than kept ones?
    The dispersion sibling of q288's location test. T = sum over group
    A of (r_i - (N+1)/2)^2 with midranks; on the 50-value grid the
    doubled form (2r - (N+1))^2 = 4T keeps every weight an exact
    BIGINT. Significance uses the EXACT finite-population sampling
    moments (n_a draws without replacement from the weight multiset
    {w_v}): E[T4] = n_a * S1 / N and Var[T4] = n_a*n_b/(N(N-1)) *
    (S2 - S1^2/N), with S1 = sum l_v w_v, S2 = sum l_v w_v^2 exact
    integers — so the tie correction is not an approximation, it IS
    the permutation variance. One double chain each for E/Var/z,
    rounded 9dp. w_v^2 ~ N^4: DECIMAL(38,0) holds through ~1e8 rows
    per group grid; beyond, the cents grid coarsens first."""
    li = load_table(spark, sf_dir, "lineitem")
    grid = (
        li.select(
            (F.col("l_returnflag") == "R").alias("in_a"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("cb"),
        )
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = grid.agg(
        F.sum("ca").cast(_D38).alias("n_a"),
        F.sum("cb").cast(_D38).alias("n_b"),
    )
    st = (
        grid.withColumn("l", F.col("ca") + F.col("cb"))
        .withColumn("cum", F.sum(F.col("ca") + F.col("cb")).over(wcum))
        .crossJoin(F.broadcast(tot))
        .withColumn("n", (F.col("n_a") + F.col("n_b")).cast(_D38))
        .withColumn(
            "w",
            (
                (2 * F.col("cum") - F.col("l")).cast(_D38)
                - (F.col("n") + 1)
            ),
        )
        .withColumn("w2", F.col("w") * F.col("w"))
    )
    agg = st.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("n").alias("n"),
        F.sum(F.col("ca").cast(_D38) * F.col("w2")).alias("t4"),
        F.sum(F.col("l").cast(_D38) * F.col("w2")).alias("s1"),
        F.sum(F.col("l").cast(_D38) * F.col("w2") * F.col("w2")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    e = F.col("n_a").cast("double") * F.col("s1").cast("double") / nd
    var = (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / (nd * (nd - 1.0))
        * (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / nd
        )
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("t4").cast("double").alias("t4"),
        F.round(e, 6).alias("e_t4"),
        F.round(
            (F.col("t4").cast("double") - e) / F.sqrt(var), 9
        ).alias("z"),
    )


ORACLE["q323_mood_scale_test"] = """
    WITH grid AS (
        SELECT CAST(l_quantity AS BIGINT) AS v,
               SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS cb
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(ca) AS HUGEINT) AS n_a,
               CAST(SUM(cb) AS HUGEINT) AS n_b
        FROM grid
    ), st AS (
        SELECT g.ca, g.cb, g.ca + g.cb AS l, t.n_a, t.n_b,
               t.n_a + t.n_b AS n,
               CAST(2 * SUM(g.ca + g.cb) OVER (ORDER BY g.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - (g.ca + g.cb) AS HUGEINT)
                   - (t.n_a + t.n_b + 1) AS w
        FROM grid g CROSS JOIN tot t
    ), agg AS (
        SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b, MAX(n) AS n,
               SUM(CAST(ca AS HUGEINT) * w * w) AS t4,
               SUM(CAST(l AS HUGEINT) * w * w) AS s1,
               SUM(CAST(l AS HUGEINT) * w * w * w * w) AS s2
        FROM st
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(t4 AS DOUBLE) AS t4,
           ROUND(CAST(n_a AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS e_t4,
           ROUND((CAST(t4 AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                        * (CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(n AS DOUBLE))), 9) AS z
    FROM agg
"""
QUERIES["q323_mood_scale_test"] = q323_mood_scale_test


def q324_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's MEDIAN test across the five order priorities on order
    value — the coarsest, most outlier-proof k-sample location test
    (only 'above pooled median or not' enters): dichotomize every
    order at the POOLED lower median (q294's convention — min cents
    with 2*cum >= N on the value-grain cumulative frame, no midpoint
    float), form the 2x5 contingency, and compute the chi-square
    against margin-product expecteds the q283 way: each cell's
    (n*O - R*C)^2 / (n*R*C) is an exact-integer-cored double chain
    rounded 9dp, summed in the decimal domain. Also reports each
    group's above-median share."""
    od = load_table(spark, sf_dir, "orders")
    vals = od.select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents"),
    )
    gridw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cnt = vals.agg(F.count(F.lit(1)).alias("n_all"))
    med = (
        vals.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cum", F.sum("c").over(gridw))
        .crossJoin(F.broadcast(cnt))
        .filter(2 * F.col("cum") >= F.col("n_all"))
        .agg(F.min("cents").alias("med_cents"))
    )
    cells = (
        vals.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(
                F.when(F.col("cents") > F.col("med_cents"), 1).otherwise(0)
            ).alias("above"),
            F.count(F.lit(1)).alias("n_g"),
        )
    )
    tots = cells.agg(
        F.sum("above").cast(_D38).alias("r1"),
        F.sum(F.col("n_g") - F.col("above")).cast(_D38).alias("r0"),
        F.sum("n_g").cast(_D38).alias("n"),
    )
    j = cells.crossJoin(F.broadcast(tots))
    n = F.col("n")
    cg = F.col("n_g").cast(_D38)
    term = lambda o, r: F.round(  # noqa: E731
        (
            (n * F.col(o).cast(_D38) - F.col(r) * cg)
            * (n * F.col(o).cast(_D38) - F.col(r) * cg)
        ).cast("double")
        / (n * F.col(r) * cg).cast("double"),
        9,
    ).cast("decimal(28,9)")
    rows = j.select(
        "g",
        "n_g",
        "above",
        F.round(F.col("above").cast("double") / F.col("n_g").cast("double"), 9).alias(
            "above_share"
        ),
        (
            term("above", "r1")
            + F.when(
                F.lit(True),
                F.round(
                    (
                        (n * (cg - F.col("above").cast(_D38)) - F.col("r0") * cg)
                        * (n * (cg - F.col("above").cast(_D38)) - F.col("r0") * cg)
                    ).cast("double")
                    / (n * F.col("r0") * cg).cast("double"),
                    9,
                ).cast("decimal(28,9)"),
            ).otherwise(F.lit(0).cast("decimal(28,9)"))
        ).alias("chi2_part_d"),
    )
    total = rows.agg(
        F.lit("__total__").alias("g"),
        F.sum("n_g").alias("n_g"),
        F.sum("above").alias("above"),
        F.lit(None).cast("double").alias("above_share"),
        F.sum("chi2_part_d").alias("chi2_part_d"),
    )
    return (
        rows.unionByName(total)
        .select(
            "g",
            F.col("n_g").cast("long").alias("n_g"),
            F.col("above").cast("long").alias("above"),
            "above_share",
            F.col("chi2_part_d").cast("double").alias("chi2_part"),
        )
        .orderBy("g")
    )


ORACLE["q324_median_test"] = """
    WITH vals AS (
        SELECT o_orderpriority AS g,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), cnt AS (
        SELECT COUNT(*) AS n_all FROM vals
    ), med AS (
        SELECT MIN(cents) AS med_cents FROM (
            SELECT cents, SUM(c) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM (SELECT cents, COUNT(*) AS c FROM vals GROUP BY 1)
        ) x CROSS JOIN cnt WHERE 2 * x.cum >= cnt.n_all
    ), cells AS (
        SELECT v.g,
               SUM(CASE WHEN v.cents > m.med_cents THEN 1 ELSE 0 END) AS above,
               COUNT(*) AS n_g
        FROM vals v CROSS JOIN med m
        GROUP BY 1
    ), tots AS (
        SELECT CAST(SUM(above) AS HUGEINT) AS r1,
               CAST(SUM(n_g - above) AS HUGEINT) AS r0,
               CAST(SUM(n_g) AS HUGEINT) AS n
        FROM cells
    ), rows_ AS (
        SELECT c.g, c.n_g, c.above,
               ROUND(CAST(c.above AS DOUBLE) / CAST(c.n_g AS DOUBLE), 9)
                   AS above_share,
               CAST(ROUND(CAST((t.n * CAST(c.above AS HUGEINT)
                                - t.r1 * CAST(c.n_g AS HUGEINT))
                               * (t.n * CAST(c.above AS HUGEINT)
                                  - t.r1 * CAST(c.n_g AS HUGEINT)) AS DOUBLE)
                          / CAST(t.n * t.r1 * CAST(c.n_g AS HUGEINT)
                                 AS DOUBLE), 9) AS DECIMAL(28,9))
               + CAST(ROUND(CAST((t.n * CAST(c.n_g - c.above AS HUGEINT)
                                  - t.r0 * CAST(c.n_g AS HUGEINT))
                                 * (t.n * CAST(c.n_g - c.above AS HUGEINT)
                                    - t.r0 * CAST(c.n_g AS HUGEINT)) AS DOUBLE)
                            / CAST(t.n * t.r0 * CAST(c.n_g AS HUGEINT)
                                   AS DOUBLE), 9) AS DECIMAL(28,9))
                   AS chi2_part_d
        FROM cells c CROSS JOIN tots t
    ), total AS (
        SELECT '__total__' AS g, SUM(n_g) AS n_g, SUM(above) AS above,
               CAST(NULL AS DOUBLE) AS above_share,
               SUM(chi2_part_d) AS chi2_part_d
        FROM rows_
    )
    SELECT g, CAST(n_g AS BIGINT) AS n_g, CAST(above AS BIGINT) AS above,
           above_share, CAST(chi2_part_d AS DOUBLE) AS chi2_part
    FROM (SELECT * FROM rows_ UNION ALL SELECT * FROM total)
    ORDER BY g
"""
QUERIES["q324_median_test"] = q324_median_test


COOKS_TOP = 10
OLS_ANCHOR = "1995-01-01"


def q325_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance of each day in the daily-revenue OLS trend —
    which days single-handedly bend the regression line (the influence
    diagnostic that pairs with q311's break test and q305's residual
    screens). The OLS solution is cleared to exact integers by
    Cramer: D = n*Stt - St^2, B_num = n*Sty - St*Sy, A_num =
    Sy*Stt - St*Sty, so each day's SCALED residual R_t = y_t*D -
    A_num - B_num*t is an exact DECIMAL(38,0); the true residual
    e_t = R_t/D, the leverage h_t = 1/n + (n*t - St)^2/(n*D), the
    pooled s^2 = SSR/(n-2) from the q311 closed form, and Cook's
    D_t = e_t^2 h_t / (2 s^2 (1-h_t)^2) are each ONE double chain on
    those exact cores in identical order, rounded 9dp BEFORE the
    top-10 window (ties broken by day) — so the influence ranking
    itself is oracle-pinned. Day-grain after one fact aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
        .select(
            "day",
            F.datediff(F.col("day"), F.lit(OLS_ANCHOR).cast("date"))
            .cast(_D38)
            .alias("t"),
            F.col("rev").cast(_D38).alias("y"),
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    j = daily.crossJoin(F.broadcast(m))
    d = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    b_num = F.col("n") * F.col("sty") - F.col("st") * F.col("sy")
    a_num = F.col("sy") * F.col("stt") - F.col("st") * F.col("sty")
    r_scaled = F.col("y") * d - a_num - b_num * F.col("t")
    e = r_scaled.cast("double") / d.cast("double")
    lev_num = F.col("n") * F.col("t") - F.col("st")
    h = (
        F.lit(1.0) / F.col("n").cast("double")
        + (lev_num * lev_num).cast("double") / (F.col("n") * d).cast("double")
    )
    syy_c = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    ssr = (
        syy_c - b_num.cast("double") * b_num.cast("double") / d.cast("double")
    ) / F.col("n").cast("double")
    s2 = ssr / (F.col("n").cast("double") - 2.0)
    cooks = F.round(
        e * e * h / (F.lit(2.0) * s2 * (F.lit(1.0) - h) * (F.lit(1.0) - h)), 9
    )
    w = Window.orderBy(F.desc("cooks_d"), "day")
    return (
        j.select(
            F.col("day").cast("string").alias("day"),
            F.round(e / F.lit(100.0), 2).alias("residual_dollars"),
            F.round(h, 9).alias("leverage"),
            cooks.alias("cooks_d"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= COOKS_TOP)
        .orderBy("rank")
    )


ORACLE["q325_cooks_distance"] = f"""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(DATE_DIFF('day', DATE '{OLS_ANCHOR}',
                              CAST(l_shipdate AS DATE)) AS HUGEINT) AS t,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS y
        FROM lineitem GROUP BY 1, 2
    ), m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(t) AS st, SUM(y) AS sy,
               SUM(t * t) AS stt, SUM(t * y) AS sty, SUM(y * y) AS syy
        FROM daily
    ), sc AS (
        SELECT d.day, d.t, d.y, m.n, m.st, m.sy, m.stt, m.sty, m.syy,
               m.n * m.stt - m.st * m.st AS dd,
               m.n * m.sty - m.st * m.sy AS b_num,
               m.sy * m.stt - m.st * m.sty AS a_num
        FROM daily d CROSS JOIN m
    ), ch AS (
        SELECT day,
               CAST(y * dd - a_num - b_num * t AS DOUBLE)
                   / CAST(dd AS DOUBLE) AS e,
               1.0 / CAST(n AS DOUBLE)
                   + CAST((n * t - st) * (n * t - st) AS DOUBLE)
                     / CAST(n * dd AS DOUBLE) AS h,
               (CAST(n * syy - sy * sy AS DOUBLE)
                - CAST(b_num AS DOUBLE) * CAST(b_num AS DOUBLE)
                  / CAST(dd AS DOUBLE)) / CAST(n AS DOUBLE)
                   / (CAST(n AS DOUBLE) - 2.0) AS s2
        FROM sc
    ), scored AS (
        SELECT CAST(day AS VARCHAR) AS day,
               ROUND(e / 100.0, 2) AS residual_dollars,
               ROUND(h, 9) AS leverage,
               ROUND(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 9)
                   AS cooks_d
        FROM ch
    )
    SELECT day, residual_dollars, leverage, cooks_d,
           CAST(ROW_NUMBER() OVER (ORDER BY cooks_d DESC, day) AS INT) AS rank
    FROM scored
    QUALIFY ROW_NUMBER() OVER (ORDER BY cooks_d DESC, day) <= {COOKS_TOP}
    ORDER BY rank
"""
QUERIES["q325_cooks_distance"] = q325_cooks_distance


def q326_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test on the daily-revenue
    trend: do the OLS residuals fan out over time? (q305/q314 test
    residual CORRELATION; this tests variance drift — the other
    Gauss-Markov break.) LM = n * R^2 of the auxiliary regression of
    e^2 on t. The residual e_t = R_t/D comes from q325's exact
    integer clearing; e^2 rounds 6dp into DECIMAL(38,6) so the three
    auxiliary moments (sum e2, sum t*e2, sum e2^2 — each term one
    double chain on the ROUNDED value, re-rounded 6dp) accumulate in
    the decimal domain, exact and order-free at any scale; R^2 and
    LM are the final chains, rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
        .select(
            F.datediff(F.col("day"), F.lit(OLS_ANCHOR).cast("date"))
            .cast(_D38)
            .alias("t"),
            F.col("rev").cast(_D38).alias("y"),
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    j = daily.crossJoin(F.broadcast(m))
    d = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    b_num = F.col("n") * F.col("sty") - F.col("st") * F.col("sy")
    a_num = F.col("sy") * F.col("stt") - F.col("st") * F.col("sty")
    e = (F.col("y") * d - a_num - b_num * F.col("t")).cast("double") / d.cast(
        "double"
    )
    # scale to MILLION-dollar units before squaring so the 6dp-rounded
    # decimal terms keep ~12 significant digits at any corpus scale
    e2 = F.round((e / F.lit(1.0e8)) * (e / F.lit(1.0e8)), 6).cast(
        "decimal(38,6)"
    )
    aux = j.select(
        "t",
        "n",
        "st",
        "stt",
        e2.alias("u"),
    ).agg(
        F.max("n").alias("n"),
        F.max("st").alias("st"),
        F.max("stt").alias("stt"),
        F.sum("u").alias("su"),
        F.sum(
            F.round(F.col("t").cast("double") * F.col("u").cast("double"), 6).cast(
                "decimal(38,6)"
            )
        ).alias("stu"),
        F.sum(
            F.round(F.col("u").cast("double") * F.col("u").cast("double"), 6).cast(
                "decimal(38,6)"
            )
        ).alias("suu"),
    )
    nd = F.col("n").cast("double")
    sxx = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    sxy = nd * F.col("stu").cast("double") - F.col("st").cast("double") * F.col(
        "su"
    ).cast("double")
    syy = nd * F.col("suu").cast("double") - F.col("su").cast("double") * F.col(
        "su"
    ).cast("double")
    r2 = sxy * sxy / (sxx * syy)
    return aux.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(r2, 9).alias("aux_r2"),
        F.round(nd * r2, 6).alias("bp_lm"),
    )


ORACLE["q326_breusch_pagan"] = f"""
    WITH daily AS (
        SELECT CAST(DATE_DIFF('day', DATE '{OLS_ANCHOR}',
                              CAST(l_shipdate AS DATE)) AS HUGEINT) AS t,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS y
        FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
    ), m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(t) AS st, SUM(y) AS sy,
               SUM(t * t) AS stt, SUM(t * y) AS sty
        FROM daily
    ), sc AS (
        SELECT d.t, m.n, m.st, m.stt,
               CAST(d.y * (m.n * m.stt - m.st * m.st)
                    - (m.sy * m.stt - m.st * m.sty)
                    - (m.n * m.sty - m.st * m.sy) * d.t AS DOUBLE)
                   / CAST(m.n * m.stt - m.st * m.st AS DOUBLE) AS e
        FROM daily d CROSS JOIN m
    ), terms AS (
        SELECT t, n, st, stt,
               CAST(ROUND((e / 1.0e8) * (e / 1.0e8), 6) AS DECIMAL(38,6)) AS u
        FROM sc
    ), aux AS (
        SELECT MAX(n) AS n, MAX(st) AS st, MAX(stt) AS stt,
               SUM(u) AS su,
               SUM(CAST(ROUND(CAST(t AS DOUBLE) * CAST(u AS DOUBLE), 6)
                        AS DECIMAL(38,6))) AS stu,
               SUM(CAST(ROUND(CAST(u AS DOUBLE) * CAST(u AS DOUBLE), 6)
                        AS DECIMAL(38,6))) AS suu
        FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND((CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
                 / (CAST(n * stt - st * st AS DOUBLE)
                    * (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                       - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))), 9)
               AS aux_r2,
           ROUND(CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
                 / (CAST(n * stt - st * st AS DOUBLE)
                    * (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                       - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))), 6)
               AS bp_lm
    FROM aux
"""
QUERIES["q326_breusch_pagan"] = q326_breusch_pagan


def q327_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for the urgent-vs-low quantity
    contrast — Cohen's d (pooled SD), Hedges' g (small-sample
    bias-corrected), and Glass's delta (control-group SD): the
    practical-significance companion q161's z-test and q306's F omit
    (a tiny p-value at 100 TB row counts says nothing about effect
    magnitude — these do). One sufficient-statistics aggregate per
    group (exact BIGINT sums of x and x^2); every estimate is one
    double chain on the exactly-cast cores, rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    g = (
        li.select("l_orderkey", F.col("l_quantity").cast("long").alias("x"))
        .join(
            od.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy((F.col("o_orderpriority") == "1-URGENT").alias("is_t"))
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("n"),
            F.sum("x").cast(_D38).alias("s"),
            F.sum(F.col("x") * F.col("x")).cast(_D38).alias("q"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("is_t"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("is_t"), F.col("s"))).alias("s1"),
        F.max(F.when(F.col("is_t"), F.col("q"))).alias("q1"),
        F.max(F.when(~F.col("is_t"), F.col("n"))).alias("n2"),
        F.max(F.when(~F.col("is_t"), F.col("s"))).alias("s2"),
        F.max(F.when(~F.col("is_t"), F.col("q"))).alias("q2"),
    )
    n1, s1, q1 = (F.col(c).cast("double") for c in ("n1", "s1", "q1"))
    n2, s2, q2 = (F.col(c).cast("double") for c in ("n2", "s2", "q2"))
    m1, m2 = s1 / n1, s2 / n2
    v1 = (q1 - s1 * s1 / n1) / (n1 - 1.0)
    v2 = (q2 - s2 * s2 / n2) / (n2 - 1.0)
    sp = F.sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0))
    dd = (m1 - m2) / sp
    gg = dd * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (n1 + n2) - 9.0))
    return w.select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_low"),
        F.round(m1 - m2, 9).alias("mean_diff"),
        F.round(dd, 9).alias("cohens_d"),
        F.round(gg, 9).alias("hedges_g"),
        F.round((m1 - m2) / F.sqrt(v2), 9).alias("glass_delta"),
    )


ORACLE["q327_effect_sizes"] = """
    WITH g AS (
        SELECT (o.o_orderpriority = '1-URGENT') AS is_t,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS HUGEINT) AS s,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)
                        * CAST(l.l_quantity AS BIGINT)) AS HUGEINT) AS q
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
        GROUP BY 1
    ), w AS (
        SELECT MAX(CASE WHEN is_t THEN n END) AS n1,
               MAX(CASE WHEN is_t THEN s END) AS s1,
               MAX(CASE WHEN is_t THEN q END) AS q1,
               MAX(CASE WHEN NOT is_t THEN n END) AS n2,
               MAX(CASE WHEN NOT is_t THEN s END) AS s2,
               MAX(CASE WHEN NOT is_t THEN q END) AS q2
        FROM g
    ), c AS (
        SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_low,
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
               CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
               (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
               (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS v2,
               CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
        FROM w
    )
    SELECT n_urgent, n_low,
           ROUND(m1 - m2, 9) AS mean_diff,
           ROUND((m1 - m2) / SQRT(((n1d - 1.0) * v1 + (n2d - 1.0) * v2)
                                  / (n1d + n2d - 2.0)), 9) AS cohens_d,
           ROUND((m1 - m2) / SQRT(((n1d - 1.0) * v1 + (n2d - 1.0) * v2)
                                  / (n1d + n2d - 2.0))
                 * (1.0 - 3.0 / (4.0 * (n1d + n2d) - 9.0)), 9) AS hedges_g,
           ROUND((m1 - m2) / SQRT(v2), 9) AS glass_delta
    FROM c
"""
QUERIES["q327_effect_sizes"] = q327_effect_sizes


PH_DELTA_CENTS = 0
PH_REF_YEAR = 1995


def q328_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector on daily revenue — the sequential
    change-point monitor (the streaming-monitoring sibling of q209's
    retrospective CUSUM): with the reference mean fixed from the 1995
    burn-in (mu0 = S0/n0, kept exact by clearing every statistic by
    n0), the detector tracks M_t = n0*sum(x_i) - t*S0 over the
    post-burn-in days and PH_t = M_t - min_{i<=t} M_i — an
    upward-drift alarm when PH exceeds its threshold. The standard
    delta slack (drift magnitude the detector should ignore) enters
    the cleared recurrence as M_t = n0*sum(x) - t*(S0 + n0*delta);
    PH_DELTA_CENTS = 0 keeps the detector maximally sensitive, the
    conventional setting when lambda alone gates the alarm. Every quantity
    is an exact DECIMAL(38,0) integer (cumulative-sum + running-min
    windows on the collapsed day frame); the output reports the
    detector's maximum excursion, the day it peaks, and the first
    alarm day at the lambda = 30 * mu0 threshold (cleared: PH >
    30 * S0), if any. Day-grain after one fact aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    burn = daily.filter(F.year("day") == PH_REF_YEAR).agg(
        F.count(F.lit(1)).cast(_D38).alias("n0"),
        F.sum("rev").cast(_D38).alias("s0"),
    )
    post = daily.filter(F.year("day") > PH_REF_YEAR)
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    m = (
        post.crossJoin(F.broadcast(burn))
        .withColumn("t", F.count(F.lit(1)).over(wcum).cast(_D38))
        .withColumn("cumx", F.sum("rev").over(wcum).cast(_D38))
        .withColumn(
            "m",
            F.col("n0") * F.col("cumx")
            - F.col("t") * (F.col("s0") + F.col("n0") * F.lit(PH_DELTA_CENTS)),
        )
        .withColumn("runmin", F.min("m").over(wcum))
        .withColumn("ph", F.col("m") - F.col("runmin"))
    )
    phmax = m.agg(F.max("ph").alias("ph_max"))
    agg = m.crossJoin(F.broadcast(phmax)).agg(
        F.count(F.lit(1)).cast("long").alias("n_post_days"),
        F.max("ph").alias("ph_top"),
        F.min(
            F.when(F.col("ph") == F.col("ph_max"), F.col("day"))
        ).alias("peak_day_raw"),
        F.min(
            F.when(F.col("ph") > 30 * F.col("s0"), F.col("day"))
        ).alias("alarm_day_raw"),
        F.max("n0").alias("n0"),
    )
    return agg.select(
        "n_post_days",
        F.round(
            F.col("ph_top").cast("double")
            / (F.col("n0").cast("double") * 100.0),
            2,
        ).alias("ph_max_dollars"),
        F.col("peak_day_raw").cast("string").alias("peak_day"),
        F.col("alarm_day_raw").cast("string").alias("alarm_day"),
    )


ORACLE["q328_page_hinkley"] = f"""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ), burn AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n0, CAST(SUM(rev) AS HUGEINT) AS s0
        FROM daily WHERE YEAR(day) = {PH_REF_YEAR}
    ), post AS (
        SELECT d.day, d.rev, b.n0, b.s0,
               CAST(ROW_NUMBER() OVER (ORDER BY d.day) AS HUGEINT) AS t,
               CAST(SUM(d.rev) OVER (ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS HUGEINT) AS cumx
        FROM daily d CROSS JOIN burn b
        WHERE YEAR(d.day) > {PH_REF_YEAR}
    ), ph AS (
        SELECT day, n0, s0,
               n0 * cumx - t * (s0 + n0 * {PH_DELTA_CENTS}) AS m,
               n0 * cumx - t * (s0 + n0 * {PH_DELTA_CENTS})
                   - MIN(n0 * cumx - t * (s0 + n0 * {PH_DELTA_CENTS}))
                       OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM post
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_post_days,
           ROUND(CAST(MAX(p) AS DOUBLE)
                 / (CAST(MAX(n0) AS DOUBLE) * 100.0), 2) AS ph_max_dollars,
           CAST(MIN(CASE WHEN p = (SELECT MAX(p) FROM ph) THEN day END)
                AS VARCHAR) AS peak_day,
           CAST(MIN(CASE WHEN p > 30 * s0 THEN day END) AS VARCHAR)
               AS alarm_day
    FROM ph
"""
QUERIES["q328_page_hinkley"] = q328_page_hinkley


def q329_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root regression on daily revenue (no lag
    terms, with intercept): delta_y_t = a + gamma * y_{t-1} + e_t —
    gamma near 0 means a random-walk (unit root), strongly negative
    means mean reversion; the stationarity read that tells you whether
    q305/q314's correlation structure sits on a stationary series at
    all (q331 KPSS is the complementary null). One lag window pairs
    (y_{t-1}, delta_y) on the day frame; the OLS slope and its
    t-statistic come from exact DECIMAL(38,0) sufficient statistics
    (q107 discipline): gamma = Sxy/Sxx with Sxy = n*sum(xy) -
    sum(x)sum(y), the residual variance from the closed SSR form, and
    se^2 = s2 * n / Sxx — each ONE double chain, rounded 9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    wlag = Window.orderBy("day")
    pairs = (
        daily.withColumn("prev", F.lag("rev").over(wlag))
        .filter(F.col("prev").isNotNull())
        .select(
            F.col("prev").cast(_D38).alias("x"),
            (F.col("rev") - F.col("prev")).cast(_D38).alias("y"),
        )
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxx_c = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    sxy_c = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    syy_c = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    gamma = sxy_c / sxx_c
    ssr = (syy_c - sxy_c * sxy_c / sxx_c) / nd
    s2 = ssr / (nd - 2.0)
    se = F.sqrt(s2 * nd / sxx_c)
    return m.select(
        F.col("n").cast("long").alias("n_diffs"),
        F.round(gamma, 9).alias("gamma"),
        F.round(gamma / se, 6).alias("df_stat"),
    )


ORACLE["q329_dickey_fuller"] = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ), pairs AS (
        SELECT CAST(prev AS HUGEINT) AS x,
               CAST(rev - prev AS HUGEINT) AS y
        FROM (
            SELECT rev, LAG(rev) OVER (ORDER BY day) AS prev FROM daily
        ) WHERE prev IS NOT NULL
    ), m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_diffs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS gamma,
           ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE))
                 / SQRT(((CAST(n * syy - sy * sy AS DOUBLE)
                          - CAST(n * sxy - sx * sy AS DOUBLE)
                            * CAST(n * sxy - sx * sy AS DOUBLE)
                            / CAST(n * sxx - sx * sx AS DOUBLE))
                         / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0))
                        * CAST(n AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS df_stat
    FROM m
"""
QUERIES["q329_dickey_fuller"] = q329_dickey_fuller


def q330_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points test for randomness of the daily revenue series
    — count strict local maxima + minima among interior days; for an
    i.i.d. series E[T] = 2(n-2)/3 and Var[T] = (16n - 29)/90, so too
    FEW turning points flags trend/persistence (the complement of
    q294's runs test, which dichotomizes at the median; this reads
    the full ordering). One lag + one lead window on the day frame;
    the count and both null moments are exact integers/rationals
    cleared to integer numerators (T*3 - 2(n-2) over sqrt((16n-29)/90))
    with one double chain at the end, rounded 9dp. Equal-neighbor days
    (impossible on this cents grid in practice, but defined anyway)
    count as non-turning, identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    w = Window.orderBy("day")
    t = (
        daily.withColumn("prev", F.lag("rev").over(w))
        .withColumn("nxt", F.lead("rev").over(w))
        .filter(F.col("prev").isNotNull() & F.col("nxt").isNotNull())
        .select(
            F.when(
                (
                    (F.col("rev") > F.col("prev")) & (F.col("rev") > F.col("nxt"))
                )
                | (
                    (F.col("rev") < F.col("prev")) & (F.col("rev") < F.col("nxt"))
                ),
                1,
            )
            .otherwise(0)
            .alias("tp")
        )
    )
    agg = t.agg(
        (F.count(F.lit(1)) + 2).cast(_D38).alias("n"),
        F.sum("tp").cast(_D38).alias("t"),
    )
    nd = F.col("n").cast("double")
    td = F.col("t").cast("double")
    e = 2.0 * (nd - 2.0) / 3.0
    var = (16.0 * nd - 29.0) / 90.0
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("t").cast("long").alias("turning_points"),
        F.round(e, 6).alias("expected"),
        F.round((td - e) / F.sqrt(var), 9).alias("z"),
    )


ORACLE["q330_turning_points"] = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ), t AS (
        SELECT CASE WHEN (rev > prev AND rev > nxt)
                      OR (rev < prev AND rev < nxt) THEN 1 ELSE 0 END AS tp
        FROM (
            SELECT rev, LAG(rev) OVER (ORDER BY day) AS prev,
                   LEAD(rev) OVER (ORDER BY day) AS nxt
            FROM daily
        ) WHERE prev IS NOT NULL AND nxt IS NOT NULL
    ), agg AS (
        SELECT CAST(COUNT(*) + 2 AS HUGEINT) AS n,
               CAST(SUM(tp) AS HUGEINT) AS t
        FROM t
    )
    SELECT CAST(n AS BIGINT) AS n_days, CAST(t AS BIGINT) AS turning_points,
           ROUND(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0, 6) AS expected,
           ROUND((CAST(t AS DOUBLE)
                  - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
                 / SQRT((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 9) AS z
    FROM agg
"""
QUERIES["q330_turning_points"] = q330_turning_points


def q331_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic on daily revenue — the
    complementary null to q329's Dickey-Fuller (DF assumes a unit
    root and tries to reject it; KPSS assumes stationarity): eta =
    sum_t S_t^2 / (n^2 * sigma2) with S_t the partial sums of the
    demeaned series and sigma2 the (lag-0) variance. Exact to the
    last division: with E_t = n*y_t - S (the q305 clearing), the
    partial sums P_t = sum_{i<=t} E_i are exact DECIMAL(38,0)
    cumulative-window integers, and eta = sum P_t^2 / (n * sum
    E_t^2) (the n-scaling leaves one factor of n — the algebra is
    pinned in tests) — both numerator and denominator exact integers (P_t^2
    fits DECIMAL(38,0) through ~sf10's cents grid; beyond, the grid
    coarsens as documented for q305), ONE double division, rounded
    9dp."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n_days"), F.sum("rev").alias("s"))
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    e = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_days",
            (
                F.col("n_days").cast(_D38) * F.col("rev").cast(_D38)
                - F.col("s").cast(_D38)
            ).alias("e"),
        )
        .withColumn("p", F.sum("e").over(wcum))
    )
    agg = e.agg(
        F.max("n_days").cast(_D38).alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("ss"),
        F.sum(F.col("p") * F.col("p")).alias("pp"),
    )
    # with the n-scaled E_t = n*e_t, P_t = n*p_t:
    # eta = sum p^2 / (n^2 * sigma2) with sigma2 = sum e^2 / n
    #     = n * sum(p^2) / (n^2 * sum(e^2)) = sum(P^2) / (n * sum(E^2))
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(
            F.col("pp").cast("double")
            / (F.col("n").cast("double") * F.col("ss").cast("double")),
            9,
        ).alias("kpss_eta"),
    )


ORACLE["q331_kpss"] = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n_days, SUM(rev) AS s FROM daily
    ), e AS (
        SELECT d.day, t.n_days,
               CAST(t.n_days AS HUGEINT) * CAST(d.rev AS HUGEINT)
                   - CAST(t.s AS HUGEINT) AS e
        FROM daily d CROSS JOIN tot t
    ), p AS (
        SELECT n_days, e,
               SUM(e) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM e
    )
    SELECT CAST(MAX(n_days) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(p * p) AS DOUBLE)
                 / (CAST(MAX(n_days) AS DOUBLE)
                    * CAST(SUM(e * e) AS DOUBLE)), 9) AS kpss_eta
    FROM p
"""
QUERIES["q331_kpss"] = q331_kpss


SEAS_P_MIN, SEAS_P_MAX = 2, 60
_TWO_PI = "6.283185307179586"  # repr(2*math.pi): one shared literal, both engines


def q339_seasonality_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram band scan + Fisher-g-style peak share on daily
    revenue: for every candidate period p in [2, 60] days, the
    spectral power I_p = A_p^2 + B_p^2 with A_p = sum_t z_t
    cos(2*pi*t/p), B_p the sine sum, over the mean-cleared RELATIVE
    series z_t = (n*rev_t - S)/S — the seasonality detector that says
    WHICH cycle (weekly, monthly, ...) structures the series q305/
    q314/q317 only test for serial dependence. Reports the top-3
    periods by power and the Fisher-g-like peak share max I / sum I
    over the scanned band.

    Scale: the band is FIXED (59 periods), so the trig pass is
    59 x n_days rows off the collapsed day frame — linear, collapsing
    map-side into 59 partial (A, B) pairs. Parity: z_t is O(1) (exact
    decimal numerator over one double division), each term rounds to
    12 dp before the DECIMAL(28,18) sum, so a last-ulp libm cos/sin
    disagreement flips at most the 1e-12 quantum — four orders below
    the 6 dp output. The 2*pi literal is shared verbatim."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n_days"), F.sum("rev").alias("s"))
    z = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "t", (F.row_number().over(Window.orderBy("day")) - F.lit(1)).cast("long")
        )
        .select(
            "t",
            (
                (
                    F.col("n_days").cast(_D38) * F.col("rev").cast(_D38)
                    - F.col("s").cast(_D38)
                ).cast("double")
                / F.col("s").cast("double")
            ).alias("z"),
        )
    )
    periods = spark.range(SEAS_P_MIN, SEAS_P_MAX + 1).select(
        F.col("id").cast("int").alias("p")
    )
    terms = z.crossJoin(F.broadcast(periods)).select(
        "p",
        F.round(
            F.col("z") * F.cos(F.expr(f"{_TWO_PI} * t / p")), 12
        ).cast("decimal(28,18)").alias("tc"),
        F.round(
            F.col("z") * F.sin(F.expr(f"{_TWO_PI} * t / p")), 12
        ).cast("decimal(28,18)").alias("ts"),
    )
    ab = terms.groupBy("p").agg(F.sum("tc").alias("a"), F.sum("ts").alias("b"))
    power = ab.select(
        "p",
        (
            F.col("a").cast("double") * F.col("a").cast("double")
            + F.col("b").cast("double") * F.col("b").cast("double")
        ).alias("i"),
    )
    band = power.agg(F.sum(F.col("i").cast("decimal(28,12)")).alias("itot"))
    ranked = (
        power.crossJoin(F.broadcast(band))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("i"), F.asc("p"))).cast("int"),
        )
        .filter(F.col("rank") <= 3)
    )
    return ranked.select(
        "rank",
        F.col("p").alias("period_days"),
        F.round("i", 6).alias("power"),
        F.round(F.col("i") / F.col("itot").cast("double"), 6).alias("power_share"),
    ).orderBy("rank")


ORACLE["q339_seasonality_scan"] = f"""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n_days, CAST(SUM(rev) AS HUGEINT) AS s
        FROM daily
    ), z AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS t,
               CAST(n_days * rev - s AS DOUBLE) / CAST(s AS DOUBLE) AS z
        FROM daily CROSS JOIN tot
    ), ab AS (
        SELECT p,
               SUM(CAST(ROUND(z * cos({_TWO_PI} * t / p), 12) AS DECIMAL(28,18))) AS a,
               SUM(CAST(ROUND(z * sin({_TWO_PI} * t / p), 12) AS DECIMAL(28,18))) AS b
        FROM z CROSS JOIN (SELECT CAST(r.range AS INT) AS p
                           FROM range({SEAS_P_MIN}, {SEAS_P_MAX + 1}) r) pr
        GROUP BY p
    ), power AS (
        SELECT p, CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
                  + CAST(b AS DOUBLE) * CAST(b AS DOUBLE) AS i
        FROM ab
    ), band AS (
        SELECT SUM(CAST(i AS DECIMAL(28,12))) AS itot FROM power
    ), ranked AS (
        SELECT p, i, CAST(ROW_NUMBER() OVER (ORDER BY i DESC, p ASC) AS INT) AS rank
        FROM power
    )
    SELECT rank, p AS period_days, ROUND(i, 6) AS power,
           ROUND(i / CAST(itot AS DOUBLE), 6) AS power_share
    FROM ranked CROSS JOIN band
    WHERE rank <= 3
    ORDER BY rank
"""
QUERIES["q339_seasonality_scan"] = q339_seasonality_scan


HURST_WINDOWS = (16, 32, 64, 128)


def q341_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of daily
    revenue — the long-memory probe that classifies the series
    (H≈0.5 random walk increments, H>0.5 persistent, H<0.5 mean-
    reverting), complementing q329/q331's unit-root tests. For each
    window size w in {16,32,64,128} days the series splits into
    complete index blocks; within a block the w-CLEARED cumulative
    deviations C_t = sum_{i<=t} (w*x_i - S_blk) are exact
    DECIMAL(38,0), and the classical ratio collapses to
    R/S = (max C - min C) / sqrt(w*sum(x^2) - S^2) — numerator and
    the variance radicand both exact integers (the w factors cancel),
    ONE sqrt + ONE division per block, rounded 12 dp before the
    per-window decimal mean. H is the OLS slope of log2(R/S) on
    log2(w) over the four points. Day-frame work only: the single
    data-proportional pass is the daily aggregate; each window pass
    is one hash shuffle of the ~n_days-row frame."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("day"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
    )
    idx = daily.withColumn(
        "t", (F.row_number().over(Window.orderBy("day")) - F.lit(1)).cast("long")
    ).select("t", F.col("rev").cast(_D38).alias("x"))
    windows = spark.range(0, len(HURST_WINDOWS)).select(
        F.element_at(
            F.array(*[F.lit(w) for w in HURST_WINDOWS]), (F.col("id") + 1).cast("int")
        ).alias("w")
    )
    blocks = (
        idx.crossJoin(F.broadcast(windows))
        .withColumn("blk", F.expr("t div w"))
        .withColumn("pos", F.expr("t % w"))
    )
    stats = blocks.groupBy("w", "blk").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sblk"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    wcum = (
        Window.partitionBy("w", "blk")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        blocks.join(stats, ["w", "blk"])
        .filter(F.col("m") == F.col("w"))
        .withColumn(
            "c",
            F.sum(
                F.col("w").cast(_D38) * F.col("x") - F.col("sblk")
            ).over(wcum),
        )
    )
    per_block = cum.groupBy("w", "blk").agg(
        (F.max("c") - F.min("c")).alias("r"),
        F.max(
            F.col("w").cast(_D38) * F.col("sxx") - F.col("sblk") * F.col("sblk")
        ).alias("v"),
    )
    rs = (
        per_block.filter(F.col("v") > 0)
        .select(
            "w",
            F.round(
                F.col("r").cast("double") / F.sqrt(F.col("v").cast("double")), 12
            ).alias("rs"),
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            (
                F.sum(F.col("rs").cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1))
            ).alias("rs_avg"),
        )
    )
    pts = rs.select(
        "w",
        "rs_avg",
        F.round(F.log2("w"), 12).alias("u"),
        F.round(F.log2("rs_avg"), 12).alias("v"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        *[
            F.max(F.when(F.col("w") == w, F.round(F.col("rs_avg"), 6))).alias(
                f"rs_{w}"
            )
            for w in HURST_WINDOWS
        ],
    )
    return agg.select(
        *[F.col(f"rs_{w}") for w in HURST_WINDOWS],
        F.round(
            (F.col("k") * F.col("suv") - F.col("su") * F.col("sv"))
            / (F.col("k") * F.col("suu") - F.col("su") * F.col("su")),
            6,
        ).alias("hurst"),
    )


ORACLE["q341_hurst_rs"] = f"""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
        FROM daily_src GROUP BY 1
    ), idx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS t,
               CAST(rev AS HUGEINT) AS x
        FROM daily
    ), blocks AS (
        SELECT w, t // w AS blk, t % w AS pos, x
        FROM idx CROSS JOIN (VALUES {", ".join(f"({w})" for w in HURST_WINDOWS)}) ws(w)
    ), stats AS (
        SELECT w, blk, COUNT(*) AS m, SUM(x) AS sblk, SUM(x * x) AS sxx
        FROM blocks GROUP BY 1, 2
    ), cum AS (
        SELECT b.w, b.blk,
               SUM(b.w * b.x - s.sblk) OVER (
                   PARTITION BY b.w, b.blk ORDER BY b.pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               s.sxx, s.sblk
        FROM blocks b JOIN stats s ON b.w = s.w AND b.blk = s.blk AND s.m = b.w
    ), per_block AS (
        SELECT w, blk, MAX(c) - MIN(c) AS r,
               MAX(w * sxx - sblk * sblk) AS v
        FROM cum GROUP BY 1, 2
    ), rs AS (
        SELECT w, COUNT(*) AS n_blocks,
               CAST(SUM(CAST(ROUND(CAST(r AS DOUBLE) / sqrt(CAST(v AS DOUBLE)), 12)
                    AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS rs_avg
        FROM per_block WHERE v > 0 GROUP BY 1
    ), pts AS (
        SELECT w, rs_avg, ROUND(log2(w), 12) AS u, ROUND(log2(rs_avg), 12) AS v
        FROM rs
    )
    SELECT {", ".join(f"ROUND(MAX(CASE WHEN w = {w} THEN rs_avg END), 6) AS rs_{w}" for w in HURST_WINDOWS)},
           ROUND((COUNT(*) * SUM(u * v) - SUM(u) * SUM(v))
                 / (COUNT(*) * SUM(u * u) - SUM(u) * SUM(u)), 6) AS hurst
    FROM pts
""".replace("daily_src", "lineitem")
QUERIES["q341_hurst_rs"] = q341_hurst_rs


def q344_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion screen on daily ORDER counts: the
    dispersion index D = s^2/ybar and the constant-mean Cameron-
    Trivedi statistic z = sum((y - ybar)^2 - y) / (ybar * sqrt(2n)) —
    the "is a Poisson rate model even admissible?" gate that belongs
    in front of any count-based anomaly threshold on event streams
    (q20/q61's rollups assume a stable rate; this measures how far
    reality is from it). Exact integer core via the standard
    clearing: n*sum(y^2) - S^2 and the CT numerator
    n*(n*sum(y^2) - S^2) - n^2*S... kept as ONE exact DECIMAL(38,0)
    expression each, with single double divisions at the end (9 dp).
    Day-grain after one count aggregate on orders."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast(_D38).alias("y")
    )
    agg = daily.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, s, syy = (
        F.col("n").cast("double"),
        F.col("s").cast("double"),
        F.col("syy").cast("double"),
    )
    # sum((y - ybar)^2) = (n*syy - s^2)/n ; D = that/(n-1) / (s/n)
    css = (F.col("n") * F.col("syy") - F.col("s") * F.col("s")).cast("double")
    disp = css / (n - F.lit(1.0)) / s
    ct_z = (css / n - s) / ((s / n) * F.sqrt(F.lit(2.0) * n))
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(s / n, 6).alias("mean_daily_orders"),
        F.round(disp, 9).alias("dispersion_index"),
        F.round(ct_z, 6).alias("ct_z"),
        (ct_z > F.lit(1.645)).alias("overdispersed"),
    )


ORACLE["q344_overdispersion"] = """
    WITH daily AS (
        SELECT o_orderdate AS day, CAST(COUNT(*) AS HUGEINT) AS y
        FROM orders GROUP BY 1
    ), a AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(y) AS s, SUM(y * y) AS syy
        FROM daily
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily_orders,
           ROUND(CAST(n * syy - s * s AS DOUBLE)
                 / (CAST(n AS DOUBLE) - 1.0) / CAST(s AS DOUBLE), 9)
               AS dispersion_index,
           ROUND((CAST(n * syy - s * s AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(s AS DOUBLE))
                 / ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * sqrt(2.0 * CAST(n AS DOUBLE))), 6) AS ct_z,
           (CAST(n * syy - s * s AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(s AS DOUBLE))
                 / ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * sqrt(2.0 * CAST(n AS DOUBLE))) > 1.645 AS overdispersed
    FROM a
"""
QUERIES["q344_overdispersion"] = q344_overdispersion
