"""Round-13 additions (q369-q374).

q369 closes VERDICT r12 #4: the streaming AMS F2 *read path*
(streaming/jobs.py::ams_f2_estimate) was pytest-pinned against the
batch sketch but had no DuckDB oracle of its own. This module replays
the epoch-partitioned state shape in a pure batch plan — per-epoch
signed partial sums folded with the exact algebra
``ams_f2_rollup_stream`` writes, then fed to the SHARED reader
``ams_f2_estimate_from_partials`` — so the cross-epoch-sum → square →
median pipeline the stream reader executes is value-checked
end-to-end by a plain SQL oracle.

q370-q373 are the round-13 net-new shelf: exact weighted isotonic
regression (PAV, the calibration FIT next to q180's calibration
DIAGNOSIS — genuinely new), Gini/Lorenz revenue concentration with
the distributed exact-rank decomposition (no single-task sort —
new), a Johnson-Lindenstrauss random-projection distortion audit
(the dimensionality-budget check next to q338's intrinsic-dimension
estimate — new), and a Count-Min audit on the Zipf term domain via
the EXISTING shared operator (operators/sketches.py, already
q121-audited on user_ids — q373 extends its coverage to the
power-law regime where collisions land on heavy hitters, and
replaced an earlier inline duplicate of the hashing the round-13
self-review caught).

q374 is q369's pattern applied to the round-13 streaming CMS rollup:
the epoch-sharded build (``cms_build`` with ``shard_col`` — one
pass) collapsed through the literal stream reader
(``cms_cells_collapse``), point-estimated for the top-20 users, with
an UNSHARDED-sketch oracle so cross-engine equality IS the linearity
claim the stream's replay discipline rests on.

House parity discipline throughout (workload/parity.py): exact
integer arithmetic to the last op, md5-derived pseudo-randomness
only, deterministic tie-breaks.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batchprocessingetl_spark.catalog import load_table

AMS_ESTIMATORS = 16  # must match streaming/jobs.py + q345
AMS_EPOCHS = 4


def _event_epoch() -> F.Column:
    """Deterministic md5 epoch for an event row — the stand-in for the
    stream's per-micro-batch ``epoch=N`` partitions in the q369/q374
    batch replays (any partition of the input works, by linearity)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("epoch:"), F.col("event_id").cast("string"))), 1, 1
            ),
            16,
            10,
        ).cast("int")
        % AMS_EPOCHS
    )


def q369_ams_stream_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the streaming AMS F2 state + read path. Events
    are assigned to 4 deterministic md5 epochs (the stand-in for the
    stream's per-micro-batch ``epoch=N`` partitions — any partition of
    the input works, by linearity); each epoch's 16 signed partial
    sums are computed with the exact fold ``ams_f2_rollup_stream``
    writes (per-key counts x md5-parity signs), and the (epoch x i)
    partial frame goes through ``ams_f2_estimate_from_partials`` —
    the literal function the stream reader calls. Output adds the
    exact F2 so the estimate is judged against ground truth, same as
    q345.

    100 TB posture: identical to q345's — one corpus-sized hash
    aggregate to per-(epoch,key) counts, a 16-way explode of the KEY
    frame, then constant-size frames (64 partial rows, 16 estimator
    rows). The epoch column only widens the first aggregate's key; no
    extra shuffle."""
    from batchprocessingetl_spark.operators.sketches import ams_sign
    from batchprocessingetl_spark.streaming.jobs import ams_f2_estimate_from_partials

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    counts = (
        ev.select(_event_epoch().alias("epoch"), "user_id")
        .groupBy("epoch", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    est = counts.select(
        "epoch",
        "user_id",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(AMS_ESTIMATORS - 1))).alias("i"),
    )
    partials = (
        est.select(
            "epoch",
            "i",
            (ams_sign(F.col("i"), F.col("user_id")) * F.col("c")).alias("sc"),
        )
        .groupBy("epoch", "i")
        .agg(F.sum("sc").alias("s"))
    )
    med = ams_f2_estimate_from_partials(partials, AMS_ESTIMATORS)
    exact = (
        counts.groupBy("user_id")
        .agg(F.sum("c").alias("ct"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            # DECIMAL(38,0) accumulation, BIGINT output — ct^2 can reach
            # N^2 and a LongType sum would wrap where the oracle's
            # HUGEINT stays exact (round-13 self-review, q345's fix)
            F.sum(
                (F.col("ct").cast("decimal(19,0)") * F.col("ct").cast("decimal(19,0)"))
                .cast("decimal(38,0)")
            )
            .cast("long")
            .alias("f2_exact"),
        )
    )
    return exact.crossJoin(F.broadcast(med)).select(
        F.lit(AMS_EPOCHS).alias("n_epochs"),
        "n_keys",
        "f2_exact",
        F.round("f2_estimate", 1).alias("f2_estimate"),
    )


# ---------------------------------------------------------------------------
# q370: exact weighted isotonic regression (pool-adjacent-violators)
# ---------------------------------------------------------------------------

ISO_BINS = 100


def q370_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted isotonic regression (PAV) of positive rate on a
    probability-like score — the calibration FIT next to q180's
    calibration DIAGNOSIS (same score/label framing: normalized order
    price vs urgent priority). Rows collapse to ISO_BINS=100
    equal-width score bins (the only corpus-sized pass); the isotonic
    solution on the bounded bin frame uses the minimax identity
    g_i = max_{j<=i} min_{k>=i} avg(y over bins j..k)
    (Robertson-Wright-Dykstra, Ch.1), which both engines evaluate as
    plain joins over interval prefix-sums — no sequential
    pool-merging loop, no UDF. Interval averages are IEEE double
    ratios of exact integer prefix sums, so min/max agree bit-for-bit
    across engines.

    100 TB posture: everything after the first hash aggregate is
    data-independent — <=B cumulative rows, <=B(B+1)/2 interval rows,
    and a sum_i(#intervals containing i) ~ B^3/6 ~ 1.7e5-row join,
    all broadcast-sized constants. The output is the reliability
    curve with its monotone fit: bin, n, raw accuracy, iso_fit."""
    from batchprocessingetl_spark.workload.stats_queries import AUC_POS_PRIORITY

    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_totalprice").alias("__mx"))
    scored = o.crossJoin(F.broadcast(mx)).select(
        (F.col("o_totalprice") / F.col("__mx")).alias("p"),
        (F.col("o_orderpriority") == AUC_POS_PRIORITY).cast("long").alias("y"),
    )
    per_bin = (
        scored.withColumn(
            "bin",
            F.least(F.floor(F.col("p") * ISO_BINS), F.lit(ISO_BINS - 1)).cast("int"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("ny"))
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_bin.select(
        "bin",
        "n",
        "ny",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("ny").over(wcum).alias("cy"),
    )
    lo = cum.select(
        F.col("bin").alias("j"),
        (F.col("cn") - F.col("n")).alias("cn_jm1"),
        (F.col("cy") - F.col("ny")).alias("cy_jm1"),
    )
    hi = cum.select(
        F.col("bin").alias("k"), F.col("cn").alias("cn_k"), F.col("cy").alias("cy_k")
    )
    intervals = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cy_k") - F.col("cy_jm1")).cast("double")
            / (F.col("cn_k") - F.col("cn_jm1")).cast("double")
        ).alias("avg_jk"),
    )
    bins_i = per_bin.select(
        F.col("bin").alias("i"),
        "n",
        (F.col("ny").cast("double") / F.col("n").cast("double")).alias("acc"),
    )
    fit = (
        bins_i.join(intervals, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "n", "acc", "j")
        .agg(F.min("avg_jk").alias("mn"))
        .groupBy("i", "n", "acc")
        .agg(F.max("mn").alias("fit"))
    )
    return fit.select(
        F.col("i").alias("bin"),
        "n",
        F.round("acc", 6).alias("accuracy"),
        F.round("fit", 6).alias("iso_fit"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# q371: Gini coefficient / Lorenz concentration of customer revenue
# ---------------------------------------------------------------------------


def q371_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration across customers: exact Gini coefficient
    G = (2*sum(r_i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i)) over
    ascending-ranked per-customer cent totals, plus the Lorenz
    top-1% / top-10% revenue shares — the corpus-skew summary that
    decides salting and partition budgets before a 100 TB campaign.

    Global ranks use the house distributed exact-rank decomposition
    (q215, q332): amounts bucket by (decimal-digit count, first two
    digits) — a data-independent <=900-cell grid that orders by value
    — per-bucket counts prefix-sum on the grid frame, and row_number
    runs PARTITIONED by bucket plus the offset, so no task ever sorts
    the whole customer frame. Ties in amount rank by custkey; Gini is
    tie-order-invariant (equal x contribute x*sum(ranks) either way),
    so the tiebreak only pins engine agreement. sum(r*x) accumulates
    as DECIMAL(38,0) (exact; ~1e27 at a 1e10-customer, 1e7-cent
    scale, 11 orders below the ceiling), with ONE final double
    division."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "amt"
        )
    )
    amt_str = F.col("amt").cast("string")
    # the (length, first-two-digits) bucket is only order-compatible
    # for amt > 0 — a negative or zero cent total would bucket by the
    # '-' substring and silently corrupt ranks with no engine
    # disagreement to catch it (ADVICE r13). Fail loudly instead:
    # assert_true raises mid-scan on refund-bearing data.
    amt_positive = F.assert_true(
        F.col("amt") > 0, F.lit("q371: non-positive per-customer cent total")
    )
    bucketed = per_cust.select(
        "o_custkey",
        "amt",
        F.when(
            amt_positive.isNull(),
            F.length(amt_str) * 100 + F.substring(amt_str, 1, 2).cast("int"),
        ).alias("b"),
    )
    bcnt = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("bn"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = bcnt.select("b", F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("off"))
    wr = Window.partitionBy("b").orderBy("amt", "o_custkey")
    ranked = bucketed.join(offs, "b").select(
        "amt", (F.row_number().over(wr) + F.col("off")).cast("long").alias("r")
    )
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("amt").cast("decimal(38,0)")).alias("s"),
        F.sum(
            (F.col("r").cast("decimal(19,0)") * F.col("amt").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
        ).alias("srx"),
    )
    shares = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n").alias("n"),
            F.first("s").alias("s"),
            F.first("srx").alias("srx"),
            F.sum(
                F.when(
                    F.col("r") > F.col("n") - F.expr("n div 10"),
                    F.col("amt").cast("decimal(38,0)"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("top10"),
            F.sum(
                F.when(
                    F.col("r") > F.col("n") - F.expr("n div 100"),
                    F.col("amt").cast("decimal(38,0)"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("top1"),
        )
    )
    sd = F.col("s").cast("double")
    return shares.select(
        F.col("n").alias("n_customers"),
        F.col("s").cast("long").alias("total_cents"),
        F.round(
            (F.lit(2.0) * F.col("srx").cast("double") - (F.col("n") + 1).cast("double") * sd)
            / (F.col("n").cast("double") * sd),
            6,
        ).alias("gini"),
        F.round(F.col("top1").cast("double") / sd, 6).alias("top1_share"),
        F.round(F.col("top10").cast("double") / sd, 6).alias("top10_share"),
    )


# ---------------------------------------------------------------------------
# q372: Johnson-Lindenstrauss random-projection distortion audit
# ---------------------------------------------------------------------------

JL_K = 16
JL_DIM = 64
JL_SAMPLE = 128


def _jl_sign(k: int, d: int) -> int:
    """Deterministic +-1 from md5 parity of 'jl{k}:{d}' — computed at
    plan-build time (constant inputs) and inlined as literals in BOTH
    the Spark plan and the SQL oracle, so the projection matrix is
    engine-independent by construction."""
    h = hashlib.md5(f"jl{k}:{d}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


_JL_SIGNS = [[_jl_sign(k, d) for d in range(JL_DIM)] for k in range(JL_K)]


def q372_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project the 64-dim
    embeddings to JL_K=16 dims with a +-1/sqrt(k) sign matrix
    (Achlioptas 2003) and measure, over all pairs of a bounded
    deterministic md5 subsample (q338's discipline, JL_SAMPLE=128 ->
    8128 pairs), the ratio (||y_a-y_b||^2/k) / ||x_a-x_b||^2. This is
    the dimensionality-budget check that decides whether a cheaper
    16-dim coarse pass (q312's Matryoshka funnel, q335's LSH cells)
    preserves geometry on THIS corpus — the empirical complement to
    q338's intrinsic-dimension estimate.

    Parity: squared distances are in-plan ordered folds rounded to
    6 dp before the ratio (q338's quantize-then-compare discipline);
    the ratio rounds to 6 dp; the mean accumulates the quantized
    ratios as DECIMAL(28,12). Pairs identical at 6 dp (d_orig2 = 0)
    are excluded and counted. 100 TB posture: one TakeOrdered over
    md5 picks the sample; the pair frame is a 128x128 broadcast
    self-join — constant size at any corpus."""
    from batchprocessingetl_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    sample = (
        emb.select(
            "vec_id",
            S.as_double(F.col("embedding")).alias("x"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(JL_SAMPLE)
        .select("vec_id", "x")
    )
    ys = [
        F.aggregate(
            F.zip_with(
                F.col("x"),
                F.array(*[F.lit(float(s)) for s in _JL_SIGNS[k]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias(f"y{k}")
        for k in range(JL_K)
    ]
    proj = sample.select("vec_id", "x", F.array(*ys).alias("y"))
    a = proj.select(
        F.col("vec_id").alias("id_a"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = proj.select(
        F.col("vec_id").alias("id_b"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    d2 = lambda u, v: F.round(  # noqa: E731 — local expression builder
        F.aggregate(
            F.zip_with(F.col(u), F.col(v), lambda p, q: (p - q) * (p - q)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(d2("xa", "xb").alias("do2"), d2("ya", "yb").alias("dp2"))
    )
    rated = pairs.select(
        "do2",
        F.when(
            F.col("do2") > 0,
            F.round(F.col("dp2") / F.lit(float(JL_K)) / F.col("do2"), 6),
        ).alias("ratio"),
    )
    return rated.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("do2") <= 0, 1).otherwise(0)).alias("n_degenerate"),
        F.round(
            F.sum(F.col("ratio").cast("decimal(28,12)")).cast("double")
            / F.count("ratio"),
            6,
        ).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        F.round(
            F.sum(
                F.when((F.col("ratio") >= 0.75) & (F.col("ratio") <= 1.25), 1).otherwise(0)
            ).cast("double")
            / F.count("ratio"),
            6,
        ).alias("frac_within_25pct"),
    )


# ---------------------------------------------------------------------------
# q373: Count-Min frequency sketch vs exact term counts
# ---------------------------------------------------------------------------

CMS_D = 4
CMS_W = 1024
CMS_PROBES = 20
CMS_EPS = 2.718281828459045 / CMS_W  # e / w — the CM error bound


def q373_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min audit on the Zipf TERM domain, through the SHARED
    sketch operator (operators/sketches.py::cms_build /
    cms_point_estimates — the exact operator q121 audits on user_ids):
    term frequencies are power-law (q342 pins s~1), which is the
    regime where CMS is actually interesting — a heavy hitter
    colliding into a probe's counter dominates the overestimate,
    where q121's near-uniform user domain only ever adds small
    cross-terms. Exact top-20 terms are re-estimated from the 4x1024
    sketch; the CM guarantee is CHECKED per term (true <= est <=
    true + eps*N, eps = e/w), and `overestimate >= 0` is structural.

    Plan: ONE corpus-sized explode feeds both the exact counts and
    the sketch build (d*w counters regardless of corpus size,
    mergeable across shards/streams by plain addition, like the AMS
    state); the probe is a broadcast join of 20 terms against the
    <=4096-cell frame. The oracle replays the identical sketch via
    ``cms_sql_duckdb``."""
    from batchprocessingetl_spark.operators.sketches import (
        cms_build,
        cms_point_estimates,
    )
    from batchprocessingetl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    exact = terms.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(CMS_PROBES)
    sketch = cms_build(terms, F.col("term"), CMS_D, CMS_W)
    est = cms_point_estimates(sketch, probes, "term", CMS_D, CMS_W)
    n_total = terms.agg(F.count(F.lit(1)).alias("__n"))
    return (
        probes.join(est, "term")
        .crossJoin(F.broadcast(n_total))
        .select(
            "term",
            "exact_cnt",
            F.col("est").alias("cms_est"),
            (F.col("est") - F.col("exact_cnt")).alias("overestimate"),
            (
                (F.col("est") >= F.col("exact_cnt"))
                & (F.col("est") <= F.col("exact_cnt") + F.lit(CMS_EPS) * F.col("__n"))
            ).alias("est_ok"),
        )
        .orderBy(F.desc("exact_cnt"), "term")
    )


# ---------------------------------------------------------------------------
# q374: streaming Count-Min state + read path, batch replay
# ---------------------------------------------------------------------------


def q374_cms_stream_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the streaming Count-Min state + read path (the
    q369 pattern applied to the round-13 `cms_rollup_stream`): events
    are assigned to 4 deterministic md5 epochs; the per-epoch d x w
    partial grids are built in ONE pass by the shared operator
    (``cms_build`` with ``shard_col`` — the function the stream fold
    calls per micro-batch); the stacked partials go through the
    SHARED reader ``cms_cells_collapse`` (the literal function
    ``cms_state_sketch`` runs); and the top-20 users by exact count
    are point-estimated off the folded sketch with the e/w guarantee
    checked per user. The oracle computes the UNSHARDED sketch
    directly — equality is exactly the linearity claim the stream's
    replay discipline rests on.

    100 TB posture: q373's — one corpus-sized pass (the epoch column
    only widens the partial-grid key, <= epochs*d*w cells), constant
    frames after. The user domain complements q373's Zipf terms and
    q121's batch path."""
    from batchprocessingetl_spark.operators.sketches import (
        cms_build,
        cms_point_estimates,
    )
    from batchprocessingetl_spark.streaming.jobs import cms_cells_collapse

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    partials = cms_build(ev, F.col("user_id"), CMS_D, CMS_W, shard_col=_event_epoch())
    sketch = cms_cells_collapse(partials)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), F.asc("user_id")).limit(CMS_PROBES)
    est = cms_point_estimates(sketch, probes, "user_id", CMS_D, CMS_W)
    n_total = ev.agg(F.count(F.lit(1)).alias("__n"))
    return (
        probes.join(
            est.select(F.col("user_id").cast("long").alias("user_id"), "est"),
            "user_id",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            F.lit(AMS_EPOCHS).alias("n_epochs"),
            "user_id",
            "exact_cnt",
            F.col("est").alias("cms_est"),
            (F.col("est") - F.col("exact_cnt")).alias("overestimate"),
            (
                (F.col("est") >= F.col("exact_cnt"))
                & (F.col("est") <= F.col("exact_cnt") + F.lit(CMS_EPS) * F.col("__n"))
            ).alias("est_ok"),
        )
        .orderBy(F.desc("exact_cnt"), "user_id")
    )


QUERIES = {
    "q369_ams_stream_estimate": q369_ams_stream_estimate,
    "q370_isotonic_calibration": q370_isotonic_calibration,
    "q371_gini_concentration": q371_gini_concentration,
    "q372_jl_distortion": q372_jl_distortion,
    "q373_count_min_sketch": q373_count_min_sketch,
    "q374_cms_stream_estimate": q374_cms_stream_estimate,
}

_JL_SIGNS_SQL = ", ".join(
    "list_value(" + ", ".join(f"{s}.0" for s in row) + ")" for row in _JL_SIGNS
)

from batchprocessingetl_spark.operators.text import TOKENS_SQL_DUCKDB as _TOKENS_TPL

_TOKENS_SQL = _TOKENS_TPL.format(col="text")

ORACLE = {
    "q370_isotonic_calibration": f"""
    WITH mx AS (SELECT MAX(o_totalprice) AS mx FROM orders),
    scored AS (
        SELECT o_totalprice / mx AS p,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        FROM orders, mx
    ), per_bin AS (
        SELECT LEAST(FLOOR(p * {ISO_BINS}), {ISO_BINS - 1})::INT AS bin,
               COUNT(*) AS n, SUM(y) AS ny
        FROM scored GROUP BY 1
    ), cum AS (
        SELECT bin, n, ny,
               SUM(n) OVER w AS cn, SUM(ny) OVER w AS cy
        FROM per_bin WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)
    ), lo AS (
        SELECT bin AS j, cn - n AS cn_jm1, cy - ny AS cy_jm1 FROM cum
    ), hi AS (
        SELECT bin AS k, cn AS cn_k, cy AS cy_k FROM cum
    ), iv AS (
        SELECT j, k,
               (cy_k - cy_jm1)::DOUBLE / (cn_k - cn_jm1)::DOUBLE AS avg_jk
        FROM lo JOIN hi ON j <= k
    ), bi AS (
        SELECT bin AS i, n, ny::DOUBLE / n::DOUBLE AS acc FROM per_bin
    ), inner1 AS (
        SELECT i, n, acc, j, MIN(avg_jk) AS mn
        FROM bi JOIN iv ON j <= i AND k >= i
        GROUP BY 1, 2, 3, 4
    )
    SELECT i AS bin, CAST(n AS BIGINT) AS n,
           ROUND(acc, 6) AS accuracy, ROUND(MAX(mn), 6) AS iso_fit
    FROM inner1 GROUP BY i, n, acc ORDER BY bin
""",
    "q371_gini_concentration": """
    WITH pc AS (
        SELECT o_custkey,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS amt
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT amt,
               CAST(ROW_NUMBER() OVER (ORDER BY amt, o_custkey) AS BIGINT) AS r
        FROM pc
    ), tot AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(amt::HUGEINT) AS s,
               SUM(r::HUGEINT * amt::HUGEINT) AS srx
        FROM ranked
    ), shares AS (
        SELECT SUM(CASE WHEN r > n - n // 10 THEN amt::HUGEINT
                        ELSE 0::HUGEINT END) AS top10,
               SUM(CASE WHEN r > n - n // 100 THEN amt::HUGEINT
                        ELSE 0::HUGEINT END) AS top1
        FROM ranked, tot GROUP BY ALL
    )
    SELECT n AS n_customers, CAST(s AS BIGINT) AS total_cents,
           ROUND((2.0 * srx::DOUBLE - (n + 1)::DOUBLE * s::DOUBLE)
                 / (n::DOUBLE * s::DOUBLE), 6) AS gini,
           ROUND(top1::DOUBLE / s::DOUBLE, 6) AS top1_share,
           ROUND(top10::DOUBLE / s::DOUBLE, 6) AS top10_share
    FROM tot, shares
""",
    "q372_jl_distortion": f"""
    WITH signs AS (
        SELECT list_value({_JL_SIGNS_SQL}) AS sm
    ), sample AS (
        SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS x
        FROM embeddings
        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {JL_SAMPLE}
    ), proj AS (
        SELECT vec_id, x,
               list_transform(range(1, {JL_K} + 1),
                   k -> list_sum(list_transform(range(1, {JL_DIM} + 1),
                                 d -> x[d] * sm[k][d]))) AS y
        FROM sample, signs
    ), pairs AS (
        SELECT ROUND(list_sum(list_transform(range(1, {JL_DIM} + 1),
                     d -> (a.x[d] - b.x[d]) * (a.x[d] - b.x[d]))), 6) AS do2,
               ROUND(list_sum(list_transform(range(1, {JL_K} + 1),
                     k -> (a.y[k] - b.y[k]) * (a.y[k] - b.y[k]))), 6) AS dp2
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    ), rated AS (
        SELECT do2,
               CASE WHEN do2 > 0
                    THEN ROUND(dp2 / {JL_K}.0 / do2, 6) END AS ratio
        FROM pairs
    )
    SELECT COUNT(*)::BIGINT AS n_pairs,
           CAST(SUM(CASE WHEN do2 <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_degenerate,
           ROUND(SUM(ratio::DECIMAL(28,12))::DOUBLE / COUNT(ratio), 6)
               AS mean_ratio,
           ROUND(MIN(ratio), 6) AS min_ratio,
           ROUND(MAX(ratio), 6) AS max_ratio,
           ROUND(SUM(CASE WHEN ratio BETWEEN 0.75 AND 1.25
                          THEN 1 ELSE 0 END)::DOUBLE / COUNT(ratio), 6)
               AS frac_within_25pct
    FROM rated
""",
    "q373_count_min_sketch": None,  # built below (needs cms_sql_duckdb)
    "q369_ams_stream_estimate": f"""
    WITH ev AS (
        SELECT ('0x' || substr(md5('epoch:' || event_id), 1, 1))::INT % {AMS_EPOCHS}
                   AS epoch,
               user_id
        FROM events WHERE user_id IS NOT NULL
    ), counts AS (
        SELECT epoch, user_id, COUNT(*) AS c FROM ev GROUP BY 1, 2
    ), partials AS (
        SELECT epoch, i.i,
               SUM(CASE WHEN ('0x' || substr(
                        md5('ams' || i.i || ':' || user_id), 1, 1))::INT % 2 = 0
                    THEN c ELSE -c END) AS s
        FROM counts CROSS JOIN (SELECT unnest(range(0, {AMS_ESTIMATORS})) AS i) i
        GROUP BY 1, 2
    ), sums AS (
        SELECT i, SUM(s) AS s FROM partials GROUP BY 1
    ), ests AS (
        SELECT i, s * s AS est,
               ROW_NUMBER() OVER (ORDER BY s * s ASC, i ASC) AS rn
        FROM sums
    ), med AS (
        SELECT SUM(est) / 2.0 AS f2_estimate FROM ests
        WHERE rn IN ({AMS_ESTIMATORS // 2}, {AMS_ESTIMATORS // 2 + 1})
    ), exact AS (
        SELECT COUNT(*) AS n_keys,
               -- cast BEFORE multiplying: the per-key square would
               -- overflow BIGINT long before the HUGEINT sum promotes
               -- (ADVICE r13), matching the Spark side's
               -- DECIMAL(19,0)*DECIMAL(19,0) discipline
               CAST(SUM(ct::HUGEINT * ct::HUGEINT) AS BIGINT) AS f2_exact
        FROM (SELECT user_id, SUM(c) AS ct FROM counts GROUP BY 1)
    )
    SELECT {AMS_EPOCHS} AS n_epochs, n_keys, f2_exact,
           ROUND(f2_estimate, 1) AS f2_estimate
    FROM exact, med
""",
}

from batchprocessingetl_spark.operators.sketches import cms_sql_duckdb as _cms_sql

ORACLE["q373_count_min_sketch"] = f"""
    WITH terms AS (
        SELECT unnest({_TOKENS_SQL}) AS term FROM documents
    ), exact AS (
        SELECT term, COUNT(*) AS exact_cnt FROM terms GROUP BY 1
    ), probes AS (
        SELECT term, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, term ASC LIMIT {CMS_PROBES}
    ), sketch AS (
        {_cms_sql("terms", "term", CMS_D, CMS_W)}
    ), pr AS (
        SELECT p.term, p.exact_cnt, r.r AS row,
               ('0x' || substr(md5('cms:' || p.term), r.r * 8 + 1, 8))::BIGINT
                   % {CMS_W} AS bucket
        FROM probes p
        CROSS JOIN (SELECT unnest(range(0, {CMS_D}))::INT AS r) r
    ), est AS (
        SELECT term, exact_cnt, MIN(COALESCE(c, 0)) AS cms_est
        FROM pr LEFT JOIN sketch USING (row, bucket)
        GROUP BY 1, 2
    ), tot AS (
        SELECT COUNT(*)::BIGINT AS n FROM terms
    )
    SELECT term, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS overestimate,
           (cms_est >= exact_cnt
            AND cms_est <= exact_cnt + {CMS_EPS!r} * n) AS est_ok
    FROM est, tot ORDER BY exact_cnt DESC, term
"""

ORACLE["q374_cms_stream_estimate"] = f"""
    WITH exact AS (
        SELECT user_id, COUNT(*) AS exact_cnt FROM events
        WHERE user_id IS NOT NULL GROUP BY 1
    ), probes AS (
        SELECT user_id, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, user_id ASC LIMIT {CMS_PROBES}
    ), sketch AS (
        {_cms_sql("events", "user_id", CMS_D, CMS_W)}
    ), pr AS (
        SELECT p.user_id, p.exact_cnt, r.r AS row,
               ('0x' || substr(md5('cms:' || p.user_id), r.r * 8 + 1, 8))::BIGINT
                   % {CMS_W} AS bucket
        FROM probes p
        CROSS JOIN (SELECT unnest(range(0, {CMS_D}))::INT AS r) r
    ), est AS (
        SELECT user_id, exact_cnt, MIN(COALESCE(c, 0)) AS cms_est
        FROM pr LEFT JOIN sketch USING (row, bucket)
        GROUP BY 1, 2
    ), tot AS (
        SELECT COUNT(*)::BIGINT AS n FROM events WHERE user_id IS NOT NULL
    )
    SELECT {AMS_EPOCHS} AS n_epochs, user_id,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS overestimate,
           (cms_est >= exact_cnt
            AND cms_est <= exact_cnt + {CMS_EPS!r} * n) AS est_ok
    FROM est, tot ORDER BY exact_cnt DESC, user_id
"""
