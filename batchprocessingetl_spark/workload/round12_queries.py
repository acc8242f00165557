"""Round-12 pipeline-health shelf (q345-q352): the audits an engine
runs over ITS OWN scale machinery and corpus before a 100 TB campaign
— sketch-accuracy, ANN recall, index health, sampling design, group
fairness, context-budget planning, per-dimension drift, and
per-source style divergence.

Every query follows the house parity discipline (workload/parity.py):
hash-aggregate collapse first, exact integer/decimal arithmetic up to
one final double op (sqrt is IEEE-exact; ln rounds to 12 dp before
any decimal sum), md5-derived pseudo-randomness only (engine-
independent), and deterministic tie-breaks — so every plan, including
the approximate ones, is pinned by a plain DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.operators import similarity as S
from batchprocessingetl_spark.operators.text import TOKENS_SQL_DUCKDB, tokens

def _cents(col: str):
    """The house exact-money discipline: half-up cents as BIGINT."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# q345: AMS (Tug-of-War) second-frequency-moment sketch vs exact F2
# ---------------------------------------------------------------------------

AMS_ESTIMATORS = 16


def q345_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS / Tug-of-War sketch of the second frequency moment of user
    activity (Alon-Matias-Szegedy, STOC'96): F2 = sum_k c_k^2 measures
    workload/self-join skew; the sketch estimates it in O(estimators)
    space. Estimator i is (sum_k sign_i(k) * c_k)^2 with 4-wise-ish
    signs derived from md5("ams{i}:" + key) parity — engine-
    independent, so the WHOLE sketch (not just the exact twin) is
    oracle-pinned. The estimate is the median of 16 estimators
    (median of 16 = mean of order stats 8 and 9, computed explicitly
    so both engines agree at any tie).

    Plan: one hash aggregate to per-key counts (the only corpus-sized
    pass), a 16-way explode of the KEY frame (not the fact table),
    and a 16-row aggregate — the sketch side's shuffle carries
    estimators, not rows. Exact F2 rides the same count frame. At
    100 TB only the first aggregate sees data; everything after is
    constant-size. Sum of signed counts is bounded by total rows
    (|sum| <= N), so the squared estimator fits a BIGINT at any
    realistic scale (N < 3e9 per key-domain shard)."""
    from batchprocessingetl_spark.operators.sketches import ams_sign

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    est = counts.select(
        "user_id", "c", F.explode(F.sequence(F.lit(0), F.lit(AMS_ESTIMATORS - 1))).alias("i")
    )
    signed = est.select(
        "i",
        (ams_sign(F.col("i"), F.col("user_id")) * F.col("c")).alias("sc"),
    )
    ests = (
        signed.groupBy("i")
        .agg(F.sum("sc").alias("s"))
        .select("i", (F.col("s") * F.col("s")).alias("est"))
    )
    w = Window.orderBy(F.asc("est"), F.asc("i"))  # 16 rows — bounded
    med = (
        ests.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").isin(AMS_ESTIMATORS // 2, AMS_ESTIMATORS // 2 + 1))
        .agg((F.sum("est") / F.lit(2.0)).alias("f2_estimate"))
    )
    exact = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        # exact DECIMAL(38,0) accumulation: per-key c^2 can reach N^2,
        # and a LongType sum would wrap silently where the oracle's
        # HUGEINT stays exact (round-13 self-review); the final BIGINT
        # cast matches the declared output type
        F.sum(
            (F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
        )
        .cast("long")
        .alias("f2_exact"),
    )
    return exact.crossJoin(F.broadcast(med)).select(
        "n_keys",
        "f2_exact",
        F.round("f2_estimate", 1).alias("f2_estimate"),
        F.round(
            (F.col("f2_estimate") - F.col("f2_exact"))
            / F.col("f2_exact").cast("double")
            * 100.0,
            4,
        ).alias("rel_error_pct"),
    )


# ---------------------------------------------------------------------------
# q346: ANN recall audit — sign-LSH cell path vs exact ground truth
# ---------------------------------------------------------------------------

RECALL_K = 10


def q346_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the q335/q66 sign-LSH cell candidate path against
    the exact cosine top-10, per test query — the in-engine version of
    the round-4 ANN recall probe (docs/SCALE.md): before trusting
    cell-local ANN at 100 TB, measure what the cells actually recall on
    THIS corpus. Query set is the bounded KS_TEST_IDS panel (q332's);
    cells use q335's adaptive plane count, so this audit tracks exactly
    the shipped candidate generator.

    Both arms are deterministic (6dp-rounded cosine, id tie-break,
    md5-free data-derived planes), so recall itself is oracle-pinned —
    an approximate index whose QUALITY metric is exactly reproducible.
    Exact arm cost is Q-bounded (8 queries x corpus scan with
    WindowGroupLimit partial top-k); cell arm is one equi-join.

    Reading the number: on THIS synthetic corpus (iid near-uniform
    unit vectors) single-cell recall is structurally low (~0.1 at
    sf0.1) — uniform random directions have no locality for ANY
    space-partitioning index to exploit (the q54 oracle documents the
    same data property for IVF). That is the point of shipping the
    audit: it is the measurement that tells an operator whether the
    cheap cell path is admissible for THEIR embedding distribution
    (real text/image embeddings are strongly clustered and recall
    rises with cluster structure), and if not, which multiprobe or
    rerank budget (q52's Hamming-1 probing, q56/q125's int8 shortlist)
    to pay for. The q335 audit semantics are unaffected: its rates
    are DEFINED over the LSH neighborhood, oracle-pinned as such."""
    from batchprocessingetl_spark.workload.vectors import (
        KS_TEST_IDS,
        _noise_planes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = _noise_planes(emb)
    corp = emb.select("vec_id", S.as_double(F.col("embedding")).alias("v"))
    tests = emb.filter(F.col("vec_id").isin(*KS_TEST_IDS)).select(
        F.col("vec_id").alias("qid"), S.as_double(F.col("embedding")).alias("qv")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    exact = (
        corp.crossJoin(F.broadcast(tests))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(S.cosine(F.col("v"), F.col("qv")), 6).alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= RECALL_K)
        .select("qid", "vec_id")
    )
    cells = corp.withColumn("cell", S.lsh_bucket(F.col("v"), planes))
    qcells = tests.withColumn("cell", S.lsh_bucket(F.col("qv"), planes))
    cand = (
        qcells.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(S.cosine(F.col("v"), F.col("qv")), 6).alias("cos"))
    )
    # r15 rework (guide §2.4, VERDICT r14 #5): the r14 shape consumed
    # ``cand`` twice (count aggregate + top-k window) and then joined
    # exact AGAINST the top-k — the LSH join and candidate cosines ran
    # twice per query. Fused single pass: ONE window shuffle on qid
    # ranks the candidates, a broadcast left join marks which candidate
    # rows are exact-top-10 members, and one qid aggregate emits both
    # n_candidates (all rows) and n_hits (rank<=K AND marked).
    # |top-k(approx) JOIN exact| == |exact LEFT JOIN top-k| hits, so
    # rows are identical; ``exact`` is Q*K rows (bounded) — broadcast.
    marked = (
        cand.withColumn("rnk", F.row_number().over(w))
        .join(
            F.broadcast(exact.withColumn("__hit", F.lit(1))),
            ["qid", "vec_id"],
            "left",
        )
    )
    per_qid = marked.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            F.when(
                (F.col("rnk") <= RECALL_K) & F.col("__hit").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_hits"),
    )
    base = tests.select("qid")
    return (
        base.join(per_qid, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(float(RECALL_K)), 6
            ).alias("recall_at_10"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# q347: group-fairness audit over market segments
# ---------------------------------------------------------------------------

FAIR_THRESHOLD_CENTS = 25_000_000  # decision: order value > $250k
FAIR_POS = ("1-URGENT", "2-HIGH")  # outcome: expedited priority


def q347_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of a deterministic decision rule across
    customer market segments: D = (order value > $250k), outcome
    Y = (priority urgent/high). Per segment: selection rate P(D)
    (demographic-parity component), TPR P(D|Y=1) and FPR P(D|Y=0)
    (equalized-odds components) — the standard pre-deployment audit
    for any selection/filtering rule a pipeline applies to grouped
    data (Hardt et al., NeurIPS'16 framing). Everything is four
    exact-integer contingency counts per segment from ONE hash
    aggregate over the fact table (broadcast dim join); the three
    rates are final double divisions. At 100 TB: one map + one
    aggregate, shuffle carries |segments| rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = _cents("o_totalprice")
    labeled = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        "c_mktsegment",
        (cents > FAIR_THRESHOLD_CENTS).cast("long").alias("d"),
        F.col("o_orderpriority").isin(*FAIR_POS).cast("long").alias("y"),
    )
    return (
        labeled.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("d").alias("n_selected"),
            F.sum("y").alias("n_pos"),
            F.sum(F.col("d") * F.col("y")).alias("n_tp"),
            F.sum(F.col("d") * (1 - F.col("y"))).alias("n_fp"),
        )
        .select(
            "c_mktsegment",
            "n",
            "n_selected",
            F.round(F.col("n_selected") / F.col("n").cast("double"), 6).alias(
                "selection_rate"
            ),
            F.round(F.col("n_tp") / F.col("n_pos").cast("double"), 6).alias("tpr"),
            F.round(
                F.col("n_fp") / (F.col("n") - F.col("n_pos")).cast("double"), 6
            ).alias("fpr"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q348: Neyman allocation for stratified corpus sampling
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000


def q348_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation over order
    priority strata: n_h proportional to N_h * S_h minimizes the
    variance of the stratified mean at fixed budget (the textbook
    design for sampling a 100 TB corpus for human eval — allocate
    review capacity where mass x dispersion is). Per-stratum
    population sd comes from the exact-integer identity
    N*Sxx - Sx^2 over cents (DECIMAL(38,0) sums — cents^2 overflows
    BIGINT at sf0.1 scale), one IEEE sqrt (exact, not libm) per
    stratum, allocation shares over a 6dp-rounded DECIMAL(28,6)
    denominator so the 5-term sum is order-independent. One hash
    aggregate total; the allocation algebra runs on |strata| rows."""
    o = load_table(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    per = (
        o.select(F.col("o_orderpriority").alias("priority"), cents.alias("x"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        )
    )
    var_pop = (
        (
            F.col("n_rows").cast("decimal(38,0)") * F.col("sxx")
            - F.col("sx") * F.col("sx")
        ).cast("double")
        / (F.col("n_rows").cast("double") * F.col("n_rows").cast("double"))
    )
    sized = per.select(
        "priority", "n_rows", F.sqrt(var_pop).alias("sd_cents")
    ).withColumn(
        "term", F.round(F.col("n_rows") * F.col("sd_cents"), 6).cast("decimal(28,6)")
    )
    denom = sized.agg(
        F.sum("term").alias("den"), F.sum("n_rows").alias("n_total")
    )
    return (
        sized.crossJoin(F.broadcast(denom))
        .select(
            "priority",
            "n_rows",
            F.round("sd_cents", 6).alias("sd_cents"),
            F.round(
                F.col("term").cast("double") / F.col("den").cast("double"), 6
            ).alias("neyman_share"),
            F.floor(
                F.lit(NEYMAN_BUDGET)
                * F.col("term").cast("double")
                / F.col("den").cast("double")
            )
            .cast("long")
            .alias("neyman_n"),
            F.floor(
                F.lit(NEYMAN_BUDGET) * F.col("n_rows") / F.col("n_total").cast("double")
            )
            .cast("long")
            .alias("proportional_n"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q349: per-dimension embedding drift (Cohen's d grid)
# ---------------------------------------------------------------------------

DRIFT_LABEL_A = 0
DRIFT_LABEL_B = 1
DRIFT_TOP = 10


def q349_embedding_dim_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension drift between two label populations of the
    embedding table: Cohen's d = (m_a - m_b) / s_pooled for each of
    the 64 dimensions, top-10 by |d| — the coordinate-level
    complement to q333/q334's whole-distribution tests (WHICH
    dimensions moved, not just whether the distributions differ;
    feeds quantization/rotation decisions). Moments accumulate in
    DECIMAL(28,18) over a posexplode (exact, order-free); the d
    computation is one double expression per dimension on identical
    inputs; ranking rounds d to 6dp first so both engines order the
    same values. Shuffle carries dims x 2 partial rows — corpus-size
    independent."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isin(DRIFT_LABEL_A, DRIFT_LABEL_B)
    )
    dims = emb.select(
        "label", F.posexplode(S.as_double(F.col("embedding"))).alias("i", "x")
    )
    mom = dims.groupBy("i", "label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(28,18)")).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,18)")).alias("sxx"),
    )
    a = mom.filter(F.col("label") == DRIFT_LABEL_A).select(
        "i",
        F.col("n").alias("na"),
        F.col("sx").cast("double").alias("sxa"),
        F.col("sxx").cast("double").alias("sxxa"),
    )
    bb = mom.filter(F.col("label") == DRIFT_LABEL_B).select(
        "i",
        F.col("n").alias("nb"),
        F.col("sx").cast("double").alias("sxb"),
        F.col("sxx").cast("double").alias("sxxb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma, mb = F.col("sxa") / na, F.col("sxb") / nb
    ssa = F.col("sxxa") - F.col("sxa") * F.col("sxa") / na
    ssb = F.col("sxxb") - F.col("sxb") * F.col("sxb") / nb
    pooled = F.sqrt((ssa + ssb) / (na + nb - 2.0))
    d = F.round((ma - mb) / pooled, 6)
    ranked = a.join(bb, "i").select(
        "i",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        d.alias("cohens_d"),
    )
    w = Window.orderBy(F.desc(F.abs(F.col("cohens_d"))), F.asc("i"))
    return (
        ranked.withColumn("drift_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("drift_rank") <= DRIFT_TOP)
        .orderBy("drift_rank")
    )


# ---------------------------------------------------------------------------
# q350: context-length budget curve
# ---------------------------------------------------------------------------

CTX_SIZES = (128, 256, 512, 1024)


def q350_context_length_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning curve: for each candidate training
    context size, the exact padding loss (tokens of dead space when
    every document is chunked to ceil(t/ctx) windows) and truncation
    loss (tokens beyond the first window under a truncate-to-one-
    window policy) over the whole corpus — the two ends of the
    packing spectrum that bound any real packer (q71 sits between).
    Pure integer arithmetic per document (whitespace token counts,
    the corpus-wide token discipline), a 4-way explode of the DOC
    frame, one hash aggregate; two final divisions for the
    percentage columns. Linear at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.size(tokens(F.col("text")))
    base = docs.select(t.alias("t")).withColumn(
        "ctx", F.explode(F.array(*[F.lit(c) for c in CTX_SIZES]))
    )
    chunks = F.ceil(F.col("t") / F.col("ctx")).cast("long")
    per = base.select(
        "ctx",
        "t",
        chunks.alias("chunks"),
        (chunks * F.col("ctx") - F.col("t")).alias("pad"),
        F.greatest(F.col("t") - F.col("ctx"), F.lit(0)).alias("trunc"),
    )
    return (
        per.groupBy("ctx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("total_tokens"),
            F.sum("chunks").alias("total_chunks"),
            F.sum("pad").alias("pad_tokens"),
            F.sum("trunc").alias("trunc_tokens"),
        )
        .select(
            "ctx",
            "n_docs",
            "total_tokens",
            "total_chunks",
            "pad_tokens",
            F.round(
                F.col("pad_tokens")
                / (F.col("total_chunks") * F.col("ctx")).cast("double"),
                6,
            ).alias("pad_frac"),
            "trunc_tokens",
            F.round(
                F.col("trunc_tokens") / F.col("total_tokens").cast("double"), 6
            ).alias("trunc_frac"),
        )
        .orderBy("ctx")
    )


# ---------------------------------------------------------------------------
# q351: LSH blocking-index health (bucket-size audit)
# ---------------------------------------------------------------------------

LSH_BANDS, LSH_WIDTH = 4, 15  # q47/q225's 60-bit SimHash band split


def q351_lsh_bucket_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity audit of the SimHash blocking index (q47/q225's
    4 x 15-bit bands): per band — bucket count, the largest bucket,
    and the exact candidate-pair mass sum c*(c-1)/2 with its fraction
    of the O(n^2) pair space. THE pre-flight check before running a
    banded dedup at 100 TB: a single hot bucket turns the band
    equi-join into an accidental cross join, and this query is how
    you see it coming (the skew twin of q225's recall-side audit).
    Signatures are the engine-independent md5 SimHash, so every
    number is oracle-pinned. One signature pass, one explode to 4
    band rows/doc, two nested hash aggregates; shuffle carries
    bucket-grain rows."""
    from batchprocessingetl_spark.operators.dedup import simhash60_md5

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash60_md5(docs, "doc_id", "text")
    mask = (1 << LSH_WIDTH) - 1
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash"), i * LSH_WIDTH)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(LSH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band_idx", "b.band_val")
    buckets = banded.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("c").alias("n_docs"),
            F.max("c").alias("max_bucket"),
            F.sum(F.expr("c * (c - 1) div 2")).alias("candidate_pairs"),
        )
        .select(
            "band_idx",
            "n_buckets",
            "n_docs",
            "max_bucket",
            "candidate_pairs",
            F.round(
                F.col("candidate_pairs")
                / F.expr("n_docs * (n_docs - 1) div 2").cast("double"),
                6,
            ).alias("pair_frac"),
        )
        .orderBy("band_idx")
    )


# ---------------------------------------------------------------------------
# q352: per-source character-trigram KL divergence to the corpus
# ---------------------------------------------------------------------------


def q352_source_trigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source style divergence: KL(source trigram distribution ||
    corpus trigram distribution) over character trigrams — the
    cheap, tokenizer-free "which source writes differently" screen
    run before mixing sources into a training corpus (a source with
    near-zero KL adds no stylistic diversity; an extreme one needs a
    quality pass). Each source's support is a subset of the corpus
    support, so the KL is finite and exact: every term is
    c_st * ln((c_st * C) / (C_s * c_t)) with the log of an exact
    BIGINT-product ratio rounded to 12 dp, summed in DECIMAL(28,18),
    one division by C_s at the end. Trigram frames collapse map-side
    (hash aggregates on (source, trigram) then (trigram)); nothing
    quadratic, nothing engine-specific.

    Plan notes (measured at the 10x probe): trigrams come from a
    per-row CHAR ARRAY (split once, element_at is O(1)) rather than
    substring(text, i, 3) per index — substring seeks from the string
    head, making the naive form O(len^2) per document (2x wall). The
    doc frame repartitions to defaultParallelism before the explode
    (band_signatures' discipline): the explode is the expensive pass,
    and a single-file scan otherwise runs it on one core (20x wall at
    the probe; at 100 TB the many-file scan parallelizes naturally
    and the repartition is a no-op-sized shuffle of narrow rows)."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    chars = docs.repartition(par).select(
        "source", F.split(F.col("text"), "").alias("cs")
    )
    tris = chars.select(
        "source",
        F.explode(
            F.expr(
                """
                CASE WHEN size(cs) >= 3 THEN
                    transform(sequence(0, size(cs) - 3),
                              i -> concat(element_at(cs, i + 1),
                                          element_at(cs, i + 2),
                                          element_at(cs, i + 3)))
                ELSE array() END
                """
            )
        ).alias("tri"),
    )
    st = tris.groupBy("source", "tri").agg(F.count(F.lit(1)).alias("c_st"))
    src_tot = st.groupBy("source").agg(F.sum("c_st").alias("c_s"))
    tri_tot = st.groupBy("tri").agg(F.sum("c_st").alias("c_t"))
    corpus_tot = st.agg(F.sum("c_st").alias("c_all"))
    # ln-argument factors cast to double BEFORE multiplying: the
    # BIGINT products c_st*c_all / c_s*c_t overflow at 100 TB trigram
    # masses, and the value feeds ln() so product exactness is moot
    term = (
        F.col("c_st")
        * F.round(
            F.log(
                (F.col("c_st").cast("double") * F.col("c_all").cast("double"))
                / (F.col("c_s").cast("double") * F.col("c_t").cast("double"))
            ),
            12,
        )
    ).cast("decimal(28,18)")
    return (
        st.join(tri_tot, "tri")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_trigram_types"),
            F.max("c_s").alias("total_trigrams"),
            F.round(
                F.sum(term).cast("double") / F.max("c_s").cast("double"), 9
            ).alias("kl_nats"),
        )
        .orderBy("source")
    )


QUERIES = {
    "q345_ams_f2_sketch": q345_ams_f2_sketch,
    "q346_ann_recall_audit": q346_ann_recall_audit,
    "q347_fairness_audit": q347_fairness_audit,
    "q348_neyman_allocation": q348_neyman_allocation,
    "q349_embedding_dim_drift": q349_embedding_dim_drift,
    "q350_context_length_curve": q350_context_length_curve,
    "q351_lsh_bucket_health": q351_lsh_bucket_health,
    "q352_source_trigram_kl": q352_source_trigram_kl,
}

_TOKENS = TOKENS_SQL_DUCKDB.format(col="text")

_Q346_COS = """ROUND(
    list_dot_product(c.v, q.qv)
    / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))),
    6)"""


def _q346_oracle() -> str:
    from batchprocessingetl_spark.workload.vectors import KS_TEST_IDS

    ids = ", ".join(str(i) for i in KS_TEST_IDS)
    return f"""
    WITH nn AS (
        SELECT COUNT(*) AS n FROM embeddings
    ), bsel AS (
        SELECT COALESCE(MIN(b), 16) AS b FROM range(2, 17) t(b), nn
        WHERE (1::BIGINT << b) * 128 >= nn.n
    ), p AS (
        SELECT vec_id AS pid, list_transform(embedding, x -> x::DOUBLE) AS pv
        FROM embeddings, bsel WHERE vec_id >= 1 AND vec_id <= bsel.b
    ), e AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ), cell AS (
        SELECT e.vec_id, e.v,
               CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) > 0
                        THEN (1::BIGINT << (p.pid - 1)) ELSE 0 END) AS BIGINT) AS cell
        FROM e CROSS JOIN p GROUP BY e.vec_id, e.v
    ), q AS (
        SELECT vec_id AS qid, v AS qv, cell FROM cell WHERE vec_id IN ({ids})
    ), exact AS (
        SELECT q.qid, c.vec_id
        FROM q JOIN e c ON c.vec_id <> q.qid
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.qid ORDER BY {_Q346_COS} DESC, c.vec_id ASC
        ) <= {RECALL_K}
    ), cand AS (
        SELECT q.qid, c.vec_id, {_Q346_COS} AS cos
        FROM q JOIN cell c ON q.cell = c.cell AND c.vec_id <> q.qid
    ), ncand AS (
        SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY 1
    ), approx AS (
        SELECT qid, vec_id FROM cand
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY cos DESC, vec_id ASC
        ) <= {RECALL_K}
    ), hits AS (
        SELECT x.qid, COUNT(a.vec_id) AS n_hits
        FROM exact x LEFT JOIN approx a USING (qid, vec_id)
        GROUP BY 1
    )
    SELECT q.qid, COALESCE(n_candidates, 0) AS n_candidates,
           COALESCE(n_hits, 0) AS n_hits,
           ROUND(COALESCE(n_hits, 0) / {float(RECALL_K)}, 6) AS recall_at_10
    FROM q LEFT JOIN ncand USING (qid) LEFT JOIN hits USING (qid)
    ORDER BY qid
"""


def _q351_oracle() -> str:
    from batchprocessingetl_spark.workload.textops import _SIMHASH_SIG_CTES

    mask = (1 << LSH_WIDTH) - 1
    return f"""
    WITH {_SIMHASH_SIG_CTES},
    bands AS (
        SELECT s.doc_id, i.i AS band_idx,
               (s.simhash >> (i.i * {LSH_WIDTH})) & {mask} AS band_val
        FROM sig s CROSS JOIN (SELECT unnest(range(0, {LSH_BANDS})) AS i) i
    ), buckets AS (
        SELECT band_idx, band_val, COUNT(*) AS c FROM bands GROUP BY 1, 2
    )
    SELECT band_idx, COUNT(*) AS n_buckets, CAST(SUM(c) AS BIGINT) AS n_docs,
           MAX(c) AS max_bucket,
           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs,
           ROUND(SUM(c * (c - 1) // 2)
                 / CAST(SUM(c) * (SUM(c) - 1) // 2 AS DOUBLE), 6) AS pair_frac
    FROM buckets GROUP BY 1 ORDER BY 1
"""


ORACLE = {
    "q345_ams_f2_sketch": f"""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS c FROM events
        WHERE user_id IS NOT NULL GROUP BY 1
    ), signed AS (
        SELECT i.i,
               SUM(CASE WHEN ('0x' || substr(
                        md5('ams' || i.i || ':' || user_id), 1, 1))::INT % 2 = 0
                    THEN c ELSE -c END) AS s
        FROM counts CROSS JOIN (SELECT unnest(range(0, {AMS_ESTIMATORS})) AS i) i
        GROUP BY 1
    ), ests AS (
        SELECT i, s * s AS est,
               ROW_NUMBER() OVER (ORDER BY s * s ASC, i ASC) AS rn
        FROM signed
    ), med AS (
        SELECT SUM(est) / 2.0 AS f2_estimate FROM ests
        WHERE rn IN ({AMS_ESTIMATORS // 2}, {AMS_ESTIMATORS // 2 + 1})
    ), exact AS (
        -- c::HUGEINT before the square: the per-key product overflows
        -- BIGINT before the sum promotes (ADVICE r13)
        SELECT COUNT(*) AS n_keys,
               CAST(SUM(c::HUGEINT * c::HUGEINT) AS BIGINT) AS f2_exact FROM counts
    )
    SELECT n_keys, f2_exact, ROUND(f2_estimate, 1) AS f2_estimate,
           ROUND((f2_estimate - f2_exact) / CAST(f2_exact AS DOUBLE) * 100.0, 4)
               AS rel_error_pct
    FROM exact, med
""",
    "q347_fairness_audit": f"""
    WITH labeled AS (
        SELECT c.c_mktsegment,
               CASE WHEN CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
                        > {FAIR_THRESHOLD_CENTS} THEN 1 ELSE 0 END AS d,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(d) AS BIGINT) AS n_selected,
           ROUND(SUM(d) / CAST(COUNT(*) AS DOUBLE), 6) AS selection_rate,
           ROUND(SUM(d * y) / CAST(SUM(y) AS DOUBLE), 6) AS tpr,
           ROUND(SUM(d * (1 - y)) / CAST(COUNT(*) - SUM(y) AS DOUBLE), 6) AS fpr
    FROM labeled GROUP BY 1 ORDER BY 1
""",
    "q348_neyman_allocation": f"""
    WITH per AS (
        SELECT o_orderpriority AS priority, COUNT(*) AS n_rows,
               SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        AS DECIMAL(38,0))) AS sx,
               SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        * CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        AS DECIMAL(38,0))) AS sxx
        FROM orders GROUP BY 1
    ), sized AS (
        SELECT priority, n_rows,
               sqrt(CAST(CAST(n_rows AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
                    / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)))
                   AS sd_cents,
               CAST(ROUND(n_rows * sqrt(
                    CAST(CAST(n_rows AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
                    / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))), 6)
                    AS DECIMAL(28,6)) AS term
        FROM per
    ), den AS (
        SELECT SUM(term) AS den, SUM(n_rows) AS n_total FROM sized
    )
    SELECT priority, n_rows, ROUND(sd_cents, 6) AS sd_cents,
           ROUND(CAST(term AS DOUBLE) / CAST(den AS DOUBLE), 6) AS neyman_share,
           CAST(FLOOR({NEYMAN_BUDGET} * CAST(term AS DOUBLE) / CAST(den AS DOUBLE))
                AS BIGINT) AS neyman_n,
           CAST(FLOOR({NEYMAN_BUDGET} * n_rows / CAST(n_total AS DOUBLE))
                AS BIGINT) AS proportional_n
    FROM sized, den ORDER BY priority
""",
    "q349_embedding_dim_drift": f"""
    WITH dims AS (
        SELECT label, i, CAST(embedding[i + 1] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i) r
        WHERE label IN ({DRIFT_LABEL_A}, {DRIFT_LABEL_B})
    ), mom AS (
        SELECT i, label, COUNT(*) AS n,
               SUM(CAST(x AS DECIMAL(28,18))) AS sx,
               SUM(CAST(x * x AS DECIMAL(28,18))) AS sxx
        FROM dims GROUP BY 1, 2
    ), ab AS (
        SELECT a.i,
               a.n AS na, CAST(a.sx AS DOUBLE) AS sxa, CAST(a.sxx AS DOUBLE) AS sxxa,
               b.n AS nb, CAST(b.sx AS DOUBLE) AS sxb, CAST(b.sxx AS DOUBLE) AS sxxb
        FROM mom a JOIN mom b ON a.i = b.i
        WHERE a.label = {DRIFT_LABEL_A} AND b.label = {DRIFT_LABEL_B}
    ), dd AS (
        SELECT i,
               ROUND(sxa / na, 6) AS mean_a,
               ROUND(sxb / nb, 6) AS mean_b,
               ROUND((sxa / na - sxb / nb)
                     / sqrt(((sxxa - sxa * sxa / na) + (sxxb - sxb * sxb / nb))
                            / (na + nb - 2.0)), 6) AS cohens_d
        FROM ab
    )
    SELECT i, mean_a, mean_b, cohens_d,
           CAST(ROW_NUMBER() OVER (ORDER BY ABS(cohens_d) DESC, i ASC) AS INT)
               AS drift_rank
    FROM dd
    QUALIFY drift_rank <= {DRIFT_TOP}
    ORDER BY drift_rank
""",
    "q350_context_length_curve": f"""
    WITH toks AS (
        SELECT len({_TOKENS}) AS t FROM documents
    ), per AS (
        SELECT ctx.ctx, t,
               CAST(CEIL(t / CAST(ctx.ctx AS DOUBLE)) AS BIGINT) AS chunks,
               GREATEST(t - ctx.ctx, 0) AS trunc
        FROM toks CROSS JOIN (
            SELECT unnest([{", ".join(str(c) for c in CTX_SIZES)}]) AS ctx
        ) ctx
    )
    SELECT ctx, COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS total_tokens,
           CAST(SUM(chunks) AS BIGINT) AS total_chunks,
           CAST(SUM(chunks * ctx - t) AS BIGINT) AS pad_tokens,
           ROUND(SUM(chunks * ctx - t)
                 / CAST(SUM(chunks) * ctx AS DOUBLE), 6) AS pad_frac,
           CAST(SUM(trunc) AS BIGINT) AS trunc_tokens,
           ROUND(SUM(trunc) / CAST(SUM(t) AS DOUBLE), 6) AS trunc_frac
    FROM per GROUP BY ctx ORDER BY ctx
""",
    "q352_source_trigram_kl": """
    WITH tris AS (
        SELECT d.source, substr(d.text, r.i, 3) AS tri
        FROM documents d
        JOIN LATERAL (
            SELECT unnest(range(1, GREATEST(len(d.text) - 1, 1))) AS i
        ) r ON TRUE
        WHERE len(d.text) >= 3
    ), st AS (
        SELECT source, tri, COUNT(*) AS c_st FROM tris GROUP BY 1, 2
    ), src_tot AS (
        SELECT source, SUM(c_st) AS c_s FROM st GROUP BY 1
    ), tri_tot AS (
        SELECT tri, SUM(c_st) AS c_t FROM st GROUP BY 1
    ), corpus AS (
        SELECT SUM(c_st) AS c_all FROM st
    )
    SELECT st.source, COUNT(*) AS n_trigram_types,
           CAST(MAX(c_s) AS BIGINT) AS total_trigrams,
           ROUND(CAST(SUM(CAST(c_st * ROUND(ln(
                     (CAST(c_st AS DOUBLE) * CAST(c_all AS DOUBLE))
                     / (CAST(c_s AS DOUBLE) * CAST(c_t AS DOUBLE))), 12)
                 AS DECIMAL(28,18))) AS DOUBLE) / CAST(MAX(c_s) AS DOUBLE), 9)
               AS kl_nats
    FROM st
    JOIN tri_tot USING (tri)
    JOIN src_tot USING (source)
    CROSS JOIN corpus
    GROUP BY st.source ORDER BY st.source
""",
}

ORACLE["q346_ann_recall_audit"] = _q346_oracle()
ORACLE["q351_lsh_bucket_health"] = _q351_oracle()


# ---------------------------------------------------------------------------
# Second wave (q353-q360): regression diagnostics, variance structure,
# event dispersion, readability, survival summary, dedup economics.
# ---------------------------------------------------------------------------


def q353_vif_collinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-inflation factors for the lineitem predictor triple
    (quantity, discount, tax) — the collinearity pre-flight before any
    regression on the fact table (q325/q326's shelf). With three
    predictors, each VIF_j = 1/(1 - R2_j) has the closed form
    R2_1 = (r12^2 + r13^2 - 2 r12 r13 r23)/(1 - r23^2) over pairwise
    correlations, so the whole audit is ONE aggregate of nine exact
    sums (quantity is integral; discount/tax live on an exact 1e-2
    grid, scaled x100 to integers) followed by constant-size double
    algebra. Shuffle carries one partial row per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("long")
    x2 = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    x3 = F.floor(F.col("l_tax") * 100 + F.lit(0.5)).cast("long")
    base = li.select(x1.alias("x1"), x2.alias("x2"), x3.alias("x3"))
    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum((F.col("x1") * F.col("x1")).cast("decimal(38,0)")).alias("s11"),
        F.sum((F.col("x2") * F.col("x2")).cast("decimal(38,0)")).alias("s22"),
        F.sum((F.col("x3") * F.col("x3")).cast("decimal(38,0)")).alias("s33"),
        F.sum((F.col("x1") * F.col("x2")).cast("decimal(38,0)")).alias("s12"),
        F.sum((F.col("x1") * F.col("x3")).cast("decimal(38,0)")).alias("s13"),
        F.sum((F.col("x2") * F.col("x3")).cast("decimal(38,0)")).alias("s23"),
    )
    n = F.col("n").cast("double")

    def cov(sab, sa, sb):
        # first-moment cross product in decimal: BIGINT*BIGINT s_a*s_b
        # overflows at sf >= ~45 (the second moments were already
        # decimal-protected; this is the same identity)
        return (
            F.col(sab).cast("double")
            - (
                F.col(sa).cast("decimal(38,0)") * F.col(sb).cast("decimal(38,0)")
            ).cast("double")
            / n
        )

    def corr(sab, sa, sb, saa, sbb):
        return cov(sab, sa, sb) / F.sqrt(
            cov(saa, sa, sa) * cov(sbb, sb, sb)
        )

    r12 = corr("s12", "s1", "s2", "s11", "s22")
    r13 = corr("s13", "s1", "s3", "s11", "s33")
    r23 = corr("s23", "s2", "s3", "s22", "s33")

    def r2_of(ra, rb, rc):
        # R2 of the target on the other two; rc = corr between the two
        return (ra * ra + rb * rb - 2 * ra * rb * rc) / (1 - rc * rc)

    wide = m.select(
        F.round(r2_of(r12, r13, r23), 9).alias("r2_x1"),
        F.round(r2_of(r12, r23, r13), 9).alias("r2_x2"),
        F.round(r2_of(r13, r23, r12), 9).alias("r2_x3"),
    )
    rows = wide.select(
        F.explode(
            F.array(
                F.struct(F.lit("l_quantity").alias("predictor"), F.col("r2_x1").alias("r2_on_others")),
                F.struct(F.lit("l_discount").alias("predictor"), F.col("r2_x2").alias("r2_on_others")),
                F.struct(F.lit("l_tax").alias("predictor"), F.col("r2_x3").alias("r2_on_others")),
            )
        ).alias("s")
    ).select("s.predictor", "s.r2_on_others")
    return rows.select(
        "predictor",
        "r2_on_others",
        F.round(1.0 / (1.0 - F.col("r2_on_others")), 6).alias("vif"),
    ).orderBy("predictor")


def q354_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across order-priority
    strata — the parametric twin of q292's Brown-Forsythe (that one is
    robust/median-based; Bartlett is the classical likelihood-ratio
    form the design-effect math of q348 assumes). Per-group sample
    variances come from exact DECIMAL(38,0) cents moments; each
    ln(s2) rounds to 12 dp before the DECIMAL(28,18) combination
    (q293's transcendental-parity discipline), and the chi-square
    statistic is constant-size algebra on the |strata|-row frame."""
    o = load_table(spark, sf_dir, "orders")
    per = (
        o.select(F.col("o_orderpriority").alias("g"), _cents("o_totalprice").alias("x"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("ni"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        )
    )
    s2 = (
        (F.col("ni").cast("decimal(38,0)") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        / (F.col("ni").cast("double") * (F.col("ni").cast("double") - 1.0))
    )
    # every per-group double rounds into a decimal BEFORE the k-row
    # combination, so the combination sums are order-independent:
    # ln(s2) at 12 dp, the within-group SS at 6 dp (absolute scale
    # ~1e15 cents^2 — the integer part is what matters and
    # DECIMAL(28,6) holds it exactly), 1/(ni-1) at 18 dp
    ssw = (
        (F.col("ni").cast("decimal(38,0)") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        / F.col("ni").cast("double")
    )
    grp = per.select(
        "g",
        "ni",
        # weighted log term in DOUBLE then one 9dp round into a fixed-
        # scale decimal: a decimal (ni-1)*ln_s2 multiply would let
        # Spark downgrade the product to decimal(38,7) while DuckDB
        # keeps scale 18 (verified divergence up to 5e-8/group) —
        # rounding a double product is identical in both engines
        F.round(
            (F.col("ni") - 1).cast("double") * F.round(F.log(s2), 12), 9
        ).cast("decimal(28,9)").alias("w_ln"),
        F.round(ssw, 6).cast("decimal(28,6)").alias("ssw"),
        F.round(1.0 / (F.col("ni").cast("double") - 1.0), 18)
        .cast("decimal(28,18)")
        .alias("inv"),
    )
    agg = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ni").alias("n"),
        F.sum("w_ln").alias("sum_w_ln"),
        F.sum("ssw").alias("sum_ssw"),
        F.sum("inv").alias("sum_inv"),
    )
    k = F.col("k").cast("double")
    nn = F.col("n").cast("double")
    sp2 = F.col("sum_ssw").cast("double") / (nn - k)
    stat = ((nn - k) * F.log(sp2) - F.col("sum_w_ln").cast("double")) / (
        1.0 + (F.col("sum_inv").cast("double") - 1.0 / (nn - k)) / (3.0 * (k - 1.0))
    )
    return agg.select(
        "k",
        "n",
        F.round(sp2, 6).alias("pooled_var_cents2"),
        F.round(stat, 6).alias("bartlett_chi2"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


def q355_cusum_of_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-of-squares variance-changepoint scan (Brown-Durbin-Evans)
    on daily revenue: C_k = sum_{t<=k} E_t^2 / sum E_t^2 against the
    uniform ramp k/n, statistic max|C_k - k/n| and its argmax day —
    the VARIANCE-shift detector next to q209's mean-shift CUSUM and
    q328's Page-Hinkley. Fully exact integer core: E_t = n*y_t - S
    (mean clearing, DECIMAL(38,0); the n^2 cancels in the ratio), so
    C_k - k/n = (n*cum_k - k*T) / (n*T) with T = sum E^2 — one double
    division per day AFTER an exact integer numerator, and the max is
    over exactly-computed values (ties break by earliest day). Only
    the daily aggregate is data-proportional; windows run on the
    collapsed day frame."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(F.to_date("l_shipdate").alias("day"), _cents("l_extendedprice").alias("c"))
        .groupBy("day")
        .agg(F.sum("c").alias("y"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    e = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        (
            (F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s"))
        ).alias("e"),
    )
    e2 = e.select(
        "day", "n", (F.col("e") * F.col("e")).cast("decimal(38,0)").alias("e2")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wk = Window.orderBy("day")
    cum = (
        e2.withColumn("cum", F.sum("e2").over(w))
        .withColumn("k", F.row_number().over(wk).cast("long"))
    )
    tsum = cum.agg(F.max("cum").alias("t_total"))
    scored = cum.crossJoin(F.broadcast(tsum)).select(
        "day",
        "k",
        "n",
        (
            F.abs(
                F.col("n").cast("decimal(38,0)") * F.col("cum")
                - F.col("k").cast("decimal(38,0)") * F.col("t_total")
            ).cast("double")
            / (F.col("n").cast("double") * F.col("t_total").cast("double"))
        ).alias("dev"),
    )
    wtop = Window.orderBy(F.desc("dev"), F.asc("day"))
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            F.col("n").alias("n_days"),
            F.col("day").cast("timestamp").alias("argmax_day"),
            F.col("k").alias("argmax_k"),
            F.round("dev", 9).alias("max_abs_dev"),
        )
    )


FANO_TYPES_MIN = 1


def q356_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (windowed count dispersion) of the event stream,
    per event type: variance/mean of per-hour event counts — the
    point-process burstiness gauge next to q344's daily-order
    overdispersion (different table, different grain, per-type). A
    Poisson stream has F = 1; F >> 1 flags bursty types that need
    rate-limit-aware ingestion sizing. Hour buckets come from
    date_trunc; counts are exact integers, the variance uses the
    n*Sxx - Sx^2 clearing (counts are small — BIGINT suffices), and
    mean/variance emit with one double division each. Two hash
    aggregates, both map-collapsing; no windows over raw events."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    n = F.col("n_hours").cast("double")
    mean = F.col("n_events").cast("double") / n
    var = (
        F.col("n_hours").cast("double") * F.col("scc").cast("double")
        - F.col("n_events").cast("double") * F.col("n_events").cast("double")
    ) / (n * (n - 1.0))
    return (
        per.filter(F.col("n_hours") > FANO_TYPES_MIN)
        .select(
            "event_type",
            "n_hours",
            "n_events",
            F.round(mean, 6).alias("mean_per_hour"),
            F.round(var, 6).alias("var_per_hour"),
            F.round(var / mean, 6).alias("fano_factor"),
        )
        .orderBy("event_type")
    )


def q357_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source: 206.835 - 1.015*(words/
    sentences) - 84.6*(syllables/words), with the three counts exact
    integers — words are the corpus token discipline, sentences are
    [.!?]+ runs (min 1 per doc so fragments don't divide by zero),
    syllables the standard vowel-group proxy ([aeiouy]+ runs,
    lowercased). The tokenizer-free quality screen next to q352's
    style KL: a source whose reading ease collapses is boilerplate or
    markup, not prose. One regex pass per doc (both engines' regex
    dialects agree on these two character-class patterns), one hash
    aggregate, one final double expression."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(tokens(F.col("text")))
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    sylls = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
    )
    per = (
        docs.select(
            "source",
            words.alias("w"),
            sents.alias("s"),
            sylls.alias("y"),
        )
        .filter(F.col("w") > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("words"),
            F.sum("s").alias("sentences"),
            F.sum("y").alias("syllables"),
        )
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("words") / F.col("sentences").cast("double")
        - F.lit(84.6) * F.col("syllables") / F.col("words").cast("double")
    )
    return per.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.round(score, 6).alias("flesch_score"),
    ).orderBy("source")


RMST_TAU = 60  # restrict the survival integral to 60 days


def q358_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time over q293's Kaplan-Meier curve:
    RMST(tau) = integral of S(t) from the earliest observed duration
    to tau = 60 days — the single-number survival summary (expected
    days-to-ship within the window) that log-rank/KM shelves feed to
    planners. The step integral is sum over event times t_i < tau of
    S(t_i) * (min(t_{i+1}, tau) - t_i), plus the full-survival ramp
    from the earliest at-risk time to the first event. S comes from
    the SAME log-space product-limit construction as q293 (per-term
    12dp-rounded ln summed in decimal — the transcendental-parity
    discipline), segment widths are exact integer day gaps, and the
    products S*width round to 9dp into DECIMAL(28,9) so the final sum
    is order-independent. All windows run on the collapsed
    duration-domain frame."""
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
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("t"),
            "event",
        )
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("event"), 1).otherwise(0)).alias("d"),
            F.sum(F.when(F.col("event"), 0).otherwise(1)).alias("c"),
        )
    )
    wrisk = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    risk = cells.withColumn("n_risk", F.sum(F.col("d") + F.col("c")).over(wrisk))
    t_start = cells.agg(F.min("t").alias("t0"))
    term = (
        F.when(F.col("n_risk") == F.col("d"), F.lit(-99.0))
        .otherwise(
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk").cast("double")
                ),
                9,
            )
        )
        .cast("decimal(28,9)")
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wlead = Window.orderBy("t")
    km = (
        risk.filter(F.col("d") > 0)
        .withColumn("logterm", term)
        .withColumn("logsum", F.sum("logterm").over(wcum))
        .withColumn("s_km", F.round(F.exp(F.col("logsum").cast("double")), 6))
        .withColumn("t_next", F.lead("t").over(wlead))
    )
    seg = km.filter(F.col("t") < RMST_TAU).select(
        "t",
        "s_km",
        (
            F.least(F.coalesce(F.col("t_next"), F.lit(RMST_TAU)), F.lit(RMST_TAU))
            - F.col("t")
        ).alias("width"),
    )
    first_event = km.agg(F.min("t").alias("t1"))
    area = seg.agg(
        F.sum(
            F.round(F.col("s_km") * F.col("width"), 9).cast("decimal(28,9)")
        ).alias("area_events"),
        F.count(F.lit(1)).alias("n_segments"),
    )
    return (
        area.crossJoin(F.broadcast(t_start))
        .crossJoin(F.broadcast(first_event))
        .select(
            F.lit(RMST_TAU).cast("long").alias("tau"),
            F.col("t0").cast("long").alias("t_start"),
            "n_segments",
            F.round(
                F.col("area_events").cast("double")
                + (F.least(F.col("t1"), F.lit(RMST_TAU)) - F.col("t0")).cast(
                    "double"
                ),
                6,
            ).alias("rmst_days"),
        )
    )


def q359_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-studentized-deviate statistic on daily revenue:
    G = max|y_t - mean| / sd, with the flagged day — the single-
    outlier screen next to q196's MAD rule and q290's Mahalanobis
    (those shortlist; Grubbs is the classical test statistic form).
    Exact clearing: the deviation is |n*y_t - S| (DECIMAL(38,0),
    mean cleared without division), sd comes from the n*Sxx - Sx^2
    identity, and G = max|E_t| / (n * sd) evaluates as one double
    division over an exactly-ranked integer max (ties by earliest
    day). The daily aggregate is the only data-proportional pass."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(F.to_date("l_shipdate").alias("day"), _cents("l_extendedprice").alias("c"))
        .groupBy("day")
        .agg(F.sum("c").alias("y"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")).alias("syy"),
    )
    e = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        "s",
        "syy",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s")
        ).alias("absdev"),
    )
    wtop = Window.orderBy(F.desc("absdev"), F.asc("day"))
    top = e.withColumn("rn", F.row_number().over(wtop)).filter(F.col("rn") == 1)
    n = F.col("n").cast("double")
    sd = F.sqrt(
        (F.col("n").cast("decimal(38,0)") * F.col("syy") - F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)"))
        .cast("double")
        / (n * (n - 1.0))
    )
    return top.select(
        F.col("n").alias("n_days"),
        F.col("day").cast("timestamp").alias("flagged_day"),
        F.round(F.col("absdev").cast("double") / (n * sd), 6).alias("grubbs_g"),
    )


def q360_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup economics per source: exactly how many tokens a
    keep-first exact dedup saves — duplicate groups by full-text
    content (q33's discipline), every row beyond each group's lowest
    doc_id is dropped mass. THE number that justifies (or kills) a
    dedup stage in a training-data budget review: tokens_saved /
    tokens_total per source, exact integers end-to-end. One
    (source, text)-grain hash aggregate (map-collapsing; the shuffle
    carries group rows, with the text column only as the grouping
    key), one source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.size(tokens(F.col("text")))
    groups = (
        docs.select("source", "text", F.col("doc_id"), t.alias("tok"))
        .groupBy("source", "text")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.max("tok").alias("tok"),
        )
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n_copies").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(F.col("n_copies") * F.col("tok")).alias("tokens_total"),
            F.sum((F.col("n_copies") - 1) * F.col("tok")).alias("tokens_saved"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            "tokens_total",
            "tokens_saved",
            F.round(
                F.col("tokens_saved") / F.col("tokens_total").cast("double"), 6
            ).alias("savings_frac"),
        )
        .orderBy("source")
    )


QUERIES.update(
    {
        "q353_vif_collinearity": q353_vif_collinearity,
        "q354_bartlett_test": q354_bartlett_test,
        "q355_cusum_of_squares": q355_cusum_of_squares,
        "q356_fano_factor": q356_fano_factor,
        "q357_flesch_reading_ease": q357_flesch_reading_ease,
        "q358_rmst": q358_rmst,
        "q359_grubbs_test": q359_grubbs_test,
        "q360_dedup_token_savings": q360_dedup_token_savings,
    }
)


ORACLE.update(
    {
        "q353_vif_collinearity": """
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x2,
               CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT) AS x3
        FROM lineitem
    ), m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(x3) AS BIGINT) AS s3,
               SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS s11,
               SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS s22,
               SUM(CAST(x3 * x3 AS DECIMAL(38,0))) AS s33,
               SUM(CAST(x1 * x2 AS DECIMAL(38,0))) AS s12,
               SUM(CAST(x1 * x3 AS DECIMAL(38,0))) AS s13,
               SUM(CAST(x2 * x3 AS DECIMAL(38,0))) AS s23
        FROM base
    ), r AS (
        SELECT
          (CAST(s12 AS DOUBLE) - CAST(CAST(s1 AS DECIMAL(38,0)) * s2 AS DOUBLE) / CAST(n AS DOUBLE))
            / sqrt((CAST(s11 AS DOUBLE) - CAST(CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s22 AS DOUBLE) - CAST(CAST(s2 AS DECIMAL(38,0)) * s2 AS DOUBLE) / CAST(n AS DOUBLE))) AS r12,
          (CAST(s13 AS DOUBLE) - CAST(CAST(s1 AS DECIMAL(38,0)) * s3 AS DOUBLE) / CAST(n AS DOUBLE))
            / sqrt((CAST(s11 AS DOUBLE) - CAST(CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s33 AS DOUBLE) - CAST(CAST(s3 AS DECIMAL(38,0)) * s3 AS DOUBLE) / CAST(n AS DOUBLE))) AS r13,
          (CAST(s23 AS DOUBLE) - CAST(CAST(s2 AS DECIMAL(38,0)) * s3 AS DOUBLE) / CAST(n AS DOUBLE))
            / sqrt((CAST(s22 AS DOUBLE) - CAST(CAST(s2 AS DECIMAL(38,0)) * s2 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s33 AS DOUBLE) - CAST(CAST(s3 AS DECIMAL(38,0)) * s3 AS DOUBLE) / CAST(n AS DOUBLE))) AS r23
        FROM m
    ), rows_ AS (
        SELECT 'l_quantity' AS predictor,
               ROUND((r12*r12 + r13*r13 - 2*r12*r13*r23) / (1 - r23*r23), 9)
                   AS r2_on_others FROM r
        UNION ALL
        SELECT 'l_discount',
               ROUND((r12*r12 + r23*r23 - 2*r12*r23*r13) / (1 - r13*r13), 9)
        FROM r
        UNION ALL
        SELECT 'l_tax',
               ROUND((r13*r13 + r23*r23 - 2*r13*r23*r12) / (1 - r12*r12), 9)
        FROM r
    )
    SELECT predictor, r2_on_others,
           ROUND(1.0 / (1.0 - r2_on_others), 6) AS vif
    FROM rows_ ORDER BY predictor
""",
        "q354_bartlett_test": """
    WITH per AS (
        SELECT o_orderpriority AS g, COUNT(*) AS ni,
               SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        AS DECIMAL(38,0))) AS sx,
               SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        * CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        AS DECIMAL(38,0))) AS sxx
        FROM orders GROUP BY 1
    ), grp AS (
        SELECT g, ni,
               CAST(ROUND(CAST(ni - 1 AS DOUBLE)
                          * ROUND(ln(CAST(CAST(ni AS DECIMAL(38,0)) * sxx
                                          - sx * sx AS DOUBLE)
                                     / (CAST(ni AS DOUBLE) * (ni - 1.0))), 12),
                          9) AS DECIMAL(28,9)) AS w_ln,
               CAST(ROUND(CAST(CAST(ni AS DECIMAL(38,0)) * sxx - sx * sx
                               AS DOUBLE) / CAST(ni AS DOUBLE), 6)
                    AS DECIMAL(28,6)) AS ssw,
               CAST(ROUND(1.0 / (ni - 1.0), 18) AS DECIMAL(28,18)) AS inv
        FROM per
    ), agg AS (
        SELECT COUNT(*) AS k, CAST(SUM(ni) AS BIGINT) AS n,
               SUM(w_ln) AS sum_w_ln,
               SUM(ssw) AS sum_ssw, SUM(inv) AS sum_inv
        FROM grp
    )
    SELECT k, n,
           ROUND(CAST(sum_ssw AS DOUBLE) / (n - k), 6) AS pooled_var_cents2,
           ROUND(((n - k) * ln(CAST(sum_ssw AS DOUBLE) / (n - k))
                  - CAST(sum_w_ln AS DOUBLE))
                 / (1.0 + (CAST(sum_inv AS DOUBLE) - 1.0 / (n - k))
                          / (3.0 * (k - 1.0))), 6) AS bartlett_chi2,
           CAST(k - 1 AS BIGINT) AS df
    FROM agg
""",
        "q355_cusum_of_squares": """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS y
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n, SUM(y) AS s FROM daily
    ), e2 AS (
        SELECT day, n,
               CAST((CAST(n AS DECIMAL(38,0)) * y - s)
                    * (CAST(n AS DECIMAL(38,0)) * y - s) AS DECIMAL(38,0)) AS e2
        FROM daily, tot
    ), cum AS (
        SELECT day, n,
               SUM(e2) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k
        FROM e2
    ), tsum AS (
        SELECT MAX(cum) AS t_total FROM cum
    ), scored AS (
        SELECT day, k, n,
               CAST(ABS(CAST(n AS DECIMAL(38,0)) * cum
                        - CAST(k AS DECIMAL(38,0)) * t_total) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(t_total AS DOUBLE)) AS dev
        FROM cum, tsum
    )
    SELECT CAST(n AS BIGINT) AS n_days, CAST(day AS TIMESTAMP) AS argmax_day,
           k AS argmax_k,
           ROUND(dev, 9) AS max_abs_dev
    FROM scored
    QUALIFY ROW_NUMBER() OVER (ORDER BY dev DESC, day ASC) = 1
""",
        "q356_fano_factor": """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ), per AS (
        SELECT event_type, COUNT(*) AS n_hours,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(SUM(c * c) AS BIGINT) AS scc
        FROM hourly GROUP BY 1
    )
    SELECT event_type, n_hours, n_events,
           ROUND(n_events / CAST(n_hours AS DOUBLE), 6) AS mean_per_hour,
           ROUND((CAST(n_hours AS DOUBLE) * scc
                  - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
                 / (CAST(n_hours AS DOUBLE) * (n_hours - 1.0)), 6)
               AS var_per_hour,
           ROUND(((CAST(n_hours AS DOUBLE) * scc
                   - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
                  / (CAST(n_hours AS DOUBLE) * (n_hours - 1.0)))
                 / (n_events / CAST(n_hours AS DOUBLE)), 6) AS fano_factor
    FROM per WHERE n_hours > 1 ORDER BY event_type
""",
        "q357_flesch_reading_ease": f"""
    WITH per AS (
        SELECT source,
               len({_TOKENS}) AS w,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
        FROM documents
    ), agg AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(w) AS BIGINT) AS words,
               CAST(SUM(s) AS BIGINT) AS sentences,
               CAST(SUM(y) AS BIGINT) AS syllables
        FROM per WHERE w > 0 GROUP BY 1
    )
    SELECT source, n_docs, words, sentences, syllables,
           ROUND(206.835 - 1.015 * words / CAST(sentences AS DOUBLE)
                 - 84.6 * syllables / CAST(words AS DOUBLE), 6) AS flesch_score
    FROM agg ORDER BY source
""",
        "q358_rmst": f"""
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
    ), km AS (
        SELECT t, d, c, n_risk,
               ROUND(EXP(CAST(SUM(
                   CAST(CASE WHEN n_risk = d THEN -99.0
                        ELSE ROUND(LN(CAST(n_risk - d AS DOUBLE)
                                      / CAST(n_risk AS DOUBLE)), 9)
                        END AS DECIMAL(28,9))
               ) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS DOUBLE)), 6) AS s_km,
               LEAD(t) OVER (ORDER BY t) AS t_next
        FROM risk WHERE d > 0
    ), seg AS (
        SELECT SUM(CAST(ROUND(
                   s_km * (LEAST(COALESCE(t_next, {RMST_TAU}), {RMST_TAU}) - t),
                   9) AS DECIMAL(28,9))) AS area_events,
               COUNT(*) AS n_segments
        FROM km WHERE t < {RMST_TAU}
    ), t0 AS (
        SELECT MIN(t) AS t0 FROM cells
    ), t1 AS (
        SELECT MIN(t) AS t1 FROM km
    )
    SELECT CAST({RMST_TAU} AS BIGINT) AS tau, CAST(t0 AS BIGINT) AS t_start,
           n_segments,
           ROUND(CAST(area_events AS DOUBLE)
                 + CAST(LEAST(t1, {RMST_TAU}) - t0 AS DOUBLE), 6) AS rmst_days
    FROM seg, t0, t1
""",
        "q359_grubbs_test": """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS y
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n, SUM(y) AS s,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
        FROM daily
    ), e AS (
        SELECT day, n, s, syy,
               ABS(CAST(n AS DECIMAL(38,0)) * y - s) AS absdev
        FROM daily, tot
    )
    SELECT CAST(n AS BIGINT) AS n_days, CAST(day AS TIMESTAMP) AS flagged_day,
           ROUND(CAST(absdev AS DOUBLE)
                 / (CAST(n AS DOUBLE)
                    * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)) AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (n - 1.0)))), 6) AS grubbs_g
    FROM e
    QUALIFY ROW_NUMBER() OVER (ORDER BY absdev DESC, day ASC) = 1
""",
        "q360_dedup_token_savings": f"""
    WITH groups AS (
        SELECT source, text, COUNT(*) AS n_copies,
               MAX(len({_TOKENS})) AS tok
        FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           COUNT(*) AS n_unique,
           CAST(SUM(n_copies * tok) AS BIGINT) AS tokens_total,
           CAST(SUM((n_copies - 1) * tok) AS BIGINT) AS tokens_saved,
           ROUND(SUM((n_copies - 1) * tok)
                 / CAST(SUM(n_copies * tok) AS DOUBLE), 6) AS savings_frac
    FROM groups GROUP BY 1 ORDER BY 1
""",
    }
)


# ---------------------------------------------------------------------------
# Third wave (q361-q366): corpus provenance, corpus linguistics,
# revenue-path risk, exact 1-D clustering, distributional effects,
# readability (fog).
# ---------------------------------------------------------------------------


def q361_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every unordered source
    pair, how many distinct texts appear verbatim in BOTH — the
    provenance audit run before treating sources as independent
    mixture components (a source that mirrors another adds dup mass,
    not diversity; q360 prices within-source dups, this finds the
    cross-source ones). Texts collapse to one row each (hash
    aggregate); each multi-source text explodes to its sorted source
    pairs (a tiny combinatorial transform on the per-text source SET,
    never on rows); the full |sources|^2/2 grid left-joins the counts
    so quiet pairs report 0 — the matrix shape is data-independent.
    Exact integers end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    per_text = docs.groupBy("text").agg(
        F.sort_array(F.collect_set("source")).alias("srcs"),
        F.max(F.size(tokens(F.col("text")))).alias("tok"),
    )
    pairs = per_text.filter(F.size("srcs") >= 2).select(
        F.explode(
            F.expr(
                """
                flatten(transform(srcs, (a, i) ->
                    transform(slice(srcs, i + 2, size(srcs) - i - 1),
                              b -> struct(a AS src_a, b AS src_b))))
                """
            )
        ).alias("p"),
        "tok",
    )
    shared = pairs.groupBy("p.src_a", "p.src_b").agg(
        F.count(F.lit(1)).alias("n_shared_texts"),
        F.sum("tok").alias("shared_tokens"),
    )
    srcs = docs.select("source").distinct()
    a = srcs.select(F.col("source").alias("src_a"))
    b = srcs.select(F.col("source").alias("src_b"))
    grid = a.join(b, F.col("src_a") < F.col("src_b"))
    return (
        grid.join(shared, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce("n_shared_texts", F.lit(0)).alias("n_shared_texts"),
            F.coalesce("shared_tokens", F.lit(0)).alias("shared_tokens"),
        )
        .orderBy("src_a", "src_b")
    )


KEYNESS_TOP = 2


def q362_keyness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness (G2): for each source, the
    KEYNESS_TOP tokens most over-represented against the rest of the
    corpus — the classic corpus-linguistics answer to "what is this
    source actually about", sharper than raw TF-IDF because it scores
    a 2x2 contingency (token in/out x source/rest) by likelihood
    ratio. G2 = 2*(a*ln(a*N/(Na*t)) + b*ln(b*N/(Nb*t))) with a/b the
    in/out counts, t = a+b, Na/Nb the source/rest token masses; the
    b = 0 cell contributes 0 by the x*ln(x) -> 0 convention. Every ln
    argument is a ratio of exact BIGINT products rounded to 12 dp
    (the transcendental-parity discipline); one token hash aggregate
    is the only corpus-sized pass, and the per-source top-K is a
    window over the (source, token) frame with (G2 DESC, token ASC)
    tie-breaks."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("a"))
    src_tot = st.groupBy("source").agg(F.sum("a").alias("na"))
    tok_tot = st.groupBy("token").agg(F.sum("a").alias("t_all"))
    corpus = st.agg(F.sum("a").alias("nn"))
    base = (
        st.join(tok_tot, "token")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "token",
            "a",
            (F.col("t_all") - F.col("a")).alias("b"),
            "na",
            (F.col("nn") - F.col("na")).alias("nb"),
            "nn",
            F.col("t_all").alias("t"),
        )
    )
    # same overflow class as q352: ln-argument factors to double first
    term_a = F.col("a") * F.round(
        F.log(
            (F.col("a").cast("double") * F.col("nn").cast("double"))
            / (F.col("na").cast("double") * F.col("t").cast("double"))
        ),
        12,
    )
    term_b = F.when(F.col("b") == 0, F.lit(0.0)).otherwise(
        F.col("b")
        * F.round(
            F.log(
                (F.col("b").cast("double") * F.col("nn").cast("double"))
                / (F.col("nb").cast("double") * F.col("t").cast("double"))
            ),
            12,
        )
    )
    scored = base.select(
        "source",
        "token",
        "a",
        "b",
        F.round(2.0 * (term_a + term_b), 9).alias("g2"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("g2"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= KEYNESS_TOP)
        .orderBy("source", "rank")
    )


def q363_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily-revenue path: the
    largest peak-to-trough fall of C_t = cumulative cents — the
    worst-case-window risk summary finance runs on equity curves and
    a pipeline runs on cumulative throughput (how far behind plan did
    ingestion fall, at its worst?). Exact integers end-to-end: C_t
    and its running max M_t are BIGINT window sums over the collapsed
    day frame, the drawdown M_t - C_t is exact, the argmax breaks
    ties by earliest day, and the single division (drawdown over its
    peak) is the only double. No raw-row windows."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(F.to_date("l_shipdate").alias("day"), _cents("l_extendedprice").alias("c"))
        .groupBy("day")
        .agg(F.sum("c").alias("y"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    path = (
        daily.withColumn("cum", F.sum("y").over(w))
        .withColumn("peak", F.max("cum").over(w))
        .withColumn("dd", F.col("peak") - F.col("cum"))
    )
    wtop = Window.orderBy(F.desc("dd"), F.asc("day"))
    return (
        path.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day").cast("timestamp").alias("trough_day"),
            F.col("peak").alias("peak_cents"),
            F.col("cum").alias("trough_cents"),
            F.col("dd").alias("max_drawdown_cents"),
            F.round(F.col("dd") / F.col("peak").cast("double"), 9).alias(
                "drawdown_frac"
            ),
        )
    )


def q364_optimal_split_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D two-means: the variance-minimizing binary split of
    the daily-revenue distribution (the k=2 case of natural-breaks /
    1-D k-means, solved EXACTLY — in one dimension the optimal
    2-clustering is a threshold, so scanning the n-1 split points of
    the sorted value frame with prefix sums finds the global optimum;
    no Lloyd iterations, no seeds). The per-split SSE combines the
    two sides' n*Sxx - Sx^2 identities over exact DECIMAL(38,0)
    prefix sums; each SSE is one double expression on exact integers
    (identical in both engines), rounded to 3 dp before the argmin
    (ties by lower split value). Windows run on the sorted DISTINCT-
    day value frame, collapsed by the daily aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.select(F.to_date("l_shipdate").alias("day"), _cents("l_extendedprice").alias("c"))
        .groupBy("day")
        .agg(F.sum("c").alias("y"))
    )
    w = Window.orderBy("y", "day").rowsBetween(Window.unboundedPreceding, 0)
    wk = Window.orderBy("y", "day")
    pre = (
        daily.withColumn("k", F.row_number().over(wk).cast("long"))
        .withColumn("sx", F.sum(F.col("y").cast("decimal(38,0)")).over(w))
        .withColumn(
            "sxx",
            F.sum(
                F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")
            ).over(w),
        )
    )
    tot = pre.agg(
        F.max("k").alias("n"), F.max("sx").alias("tsx"), F.max("sxx").alias("tsxx")
    )
    k = F.col("k").cast("double")
    n = F.col("n").cast("double")
    sse_l = (
        F.col("k").cast("decimal(38,0)") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double") / k
    sse_r = (
        (F.col("n") - F.col("k")).cast("decimal(38,0)")
        * (F.col("tsxx") - F.col("sxx"))
        - (F.col("tsx") - F.col("sx")) * (F.col("tsx") - F.col("sx"))
    ).cast("double") / (n - k)
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("k") < F.col("n"))
        .select(
            "k",
            F.col("y").alias("split_value_cents"),
            F.round(sse_l + sse_r, 3).alias("sse"),
        )
    )
    wtop = Window.orderBy(F.asc("sse"), F.asc("split_value_cents"), F.asc("k"))
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("n_low_cluster"),
            "split_value_cents",
            F.col("sse").alias("min_sse"),
        )
    )


QTE_HI = "1-URGENT"
QTE_LO = "5-LOW"


def q365_decile_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional effect audit: the gap between the URGENT and LOW
    order-value distributions at every decile — quantile "treatment
    effects" rather than the mean gap (q327's effect sizes), because
    a difference that lives only in the tail is invisible to means.
    Quantiles are EXPLICIT exact order statistics (value grid with
    cumulative counts; the d-th decile is the value at 1-based index
    floor((n-1)*d/10) + 1 — the definition is spelled out so both
    engines compute the identical rank, no engine quantile function
    involved). One hash aggregate per group to the cents value grid,
    one cumulative window each, a 9-row output."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderpriority").isin(QTE_HI, QTE_LO)).select(
        (F.col("o_orderpriority") == QTE_HI).alias("hi"),
        _cents("o_totalprice").alias("x"),
    )
    grid = base.groupBy("hi", "x").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("hi").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.withColumn("cumc", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("hi"))
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    idx = cum.crossJoin(F.broadcast(deciles)).withColumn(
        "target", F.floor((F.col("n") - 1) * F.col("d") / 10) + 1
    )
    hit = idx.filter(
        (F.col("cumc") >= F.col("target"))
        & (F.col("cumc") - F.col("cnt") < F.col("target"))
    ).select("hi", "d", F.col("x").alias("q"))
    hi_q = hit.filter(F.col("hi")).select("d", F.col("q").alias("q_urgent"))
    lo_q = hit.filter(~F.col("hi")).select("d", F.col("q").alias("q_low"))
    return (
        hi_q.join(lo_q, "d")
        .select(
            "d",
            "q_urgent",
            "q_low",
            (F.col("q_urgent") - F.col("q_low")).alias("gap_cents"),
        )
        .orderBy("d")
    )


def q366_gunning_fog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gunning fog index per source: 0.4 * (words/sentences +
    100 * complex_words/words), where a complex word has >= 3 vowel
    groups (the same syllable proxy as q357's Flesch — fog weights
    the TAIL of the syllable distribution where Flesch weights its
    mean, so the two disagree exactly on jargon-dense sources). The
    complex-word count needs a per-token regex, so the token explode
    is the one corpus-sized pass (hash-aggregate collapse straight
    after); sentence counts ride the q357 pattern. All counts exact
    integers; one final double expression."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.col("doc_id"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    per_doc_tok = toks.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(
            (
                F.size(
                    F.regexp_extract_all(
                        F.lower(F.col("token")), F.lit(r"[aeiouy]+"), 0
                    )
                )
                >= 3
            ).cast("long")
        ).alias("cw"),
    )
    sents = docs.select(
        "source",
        "doc_id",
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
            F.lit(1),
        ).alias("s"),
    )
    per = per_doc_tok.join(sents, ["source", "doc_id"])
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("words"),
        F.sum("s").alias("sentences"),
        F.sum("cw").alias("complex_words"),
    )
    fog = F.lit(0.4) * (
        F.col("words") / F.col("sentences").cast("double")
        + F.lit(100.0) * F.col("complex_words") / F.col("words").cast("double")
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "complex_words",
        F.round(fog, 6).alias("fog_index"),
    ).orderBy("source")


QUERIES.update(
    {
        "q361_cross_source_dup_matrix": q361_cross_source_dup_matrix,
        "q362_keyness_g2": q362_keyness_g2,
        "q363_max_drawdown": q363_max_drawdown,
        "q364_optimal_split_1d": q364_optimal_split_1d,
        "q365_decile_gap": q365_decile_gap,
        "q366_gunning_fog": q366_gunning_fog,
    }
)


ORACLE.update(
    {
        "q361_cross_source_dup_matrix": f"""
    WITH per_text AS (
        SELECT text, list_sort(list(DISTINCT source)) AS srcs,
               MAX(len({_TOKENS})) AS tok
        FROM documents GROUP BY text
    ), pairs AS (
        SELECT srcs[i.i] AS src_a, srcs[j.j] AS src_b, tok
        FROM per_text,
             LATERAL (SELECT unnest(range(1, len(srcs) + 1)) AS i) i,
             LATERAL (SELECT unnest(range(1, len(srcs) + 1)) AS j) j
        WHERE len(srcs) >= 2 AND i.i < j.j
    ), shared AS (
        SELECT src_a, src_b, COUNT(*) AS n_shared_texts,
               CAST(SUM(tok) AS BIGINT) AS shared_tokens
        FROM pairs GROUP BY 1, 2
    ), srcs AS (
        SELECT DISTINCT source FROM documents
    ), grid AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    )
    SELECT g.src_a, g.src_b,
           COALESCE(s.n_shared_texts, 0) AS n_shared_texts,
           COALESCE(s.shared_tokens, 0) AS shared_tokens
    FROM grid g LEFT JOIN shared s USING (src_a, src_b)
    ORDER BY src_a, src_b
""",
        "q362_keyness_g2": f"""
    WITH tok AS (
        SELECT source, unnest({_TOKENS}) AS token FROM documents
    ), st AS (
        SELECT source, token, COUNT(*) AS a FROM tok GROUP BY 1, 2
    ), src_tot AS (
        SELECT source, CAST(SUM(a) AS BIGINT) AS na FROM st GROUP BY 1
    ), tok_tot AS (
        SELECT token, CAST(SUM(a) AS BIGINT) AS t_all FROM st GROUP BY 1
    ), corpus AS (
        SELECT CAST(SUM(a) AS BIGINT) AS nn FROM st
    ), base AS (
        SELECT st.source, st.token, st.a, t_all - st.a AS b,
               na, nn - na AS nb, nn, t_all AS t
        FROM st JOIN tok_tot USING (token)
        JOIN src_tot USING (source) CROSS JOIN corpus
    ), scored AS (
        SELECT source, token, a, b,
               ROUND(2.0 * (
                   a * ROUND(ln((CAST(a AS DOUBLE) * CAST(nn AS DOUBLE))
                                / (CAST(na AS DOUBLE) * CAST(t AS DOUBLE))), 12)
                   + CASE WHEN b = 0 THEN 0.0
                          ELSE b * ROUND(ln((CAST(b AS DOUBLE) * CAST(nn AS DOUBLE))
                                            / (CAST(nb AS DOUBLE) * CAST(t AS DOUBLE))), 12)
                     END), 9) AS g2
        FROM base
    )
    SELECT source, token, a, b, g2,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY g2 DESC, token ASC
           ) AS INT) AS rank
    FROM scored
    QUALIFY rank <= {KEYNESS_TOP}
    ORDER BY source, rank
""",
        "q363_max_drawdown": """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS y
        FROM lineitem GROUP BY 1
    ), path AS (
        SELECT day,
               SUM(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM daily
    ), dd AS (
        SELECT day, cum,
               MAX(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak
        FROM path
    )
    SELECT CAST(day AS TIMESTAMP) AS trough_day,
           CAST(peak AS BIGINT) AS peak_cents,
           CAST(cum AS BIGINT) AS trough_cents,
           CAST(peak - cum AS BIGINT) AS max_drawdown_cents,
           ROUND((peak - cum) / CAST(peak AS DOUBLE), 9) AS drawdown_frac
    FROM dd
    QUALIFY ROW_NUMBER() OVER (ORDER BY peak - cum DESC, day ASC) = 1
""",
        "q364_optimal_split_1d": """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS y
        FROM lineitem GROUP BY 1
    ), pre AS (
        SELECT y,
               CAST(ROW_NUMBER() OVER (ORDER BY y, day) AS BIGINT) AS k,
               SUM(CAST(y AS DECIMAL(38,0)))
                   OVER (ORDER BY y, day ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS sx,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   OVER (ORDER BY y, day ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS sxx
        FROM daily
    ), tot AS (
        SELECT MAX(k) AS n, MAX(sx) AS tsx, MAX(sxx) AS tsxx FROM pre
    ), scored AS (
        SELECT k, CAST(y AS BIGINT) AS split_value_cents,
               ROUND(
                   CAST(CAST(k AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
                       / k
                   + CAST(CAST(n - k AS DECIMAL(38,0)) * (tsxx - sxx)
                          - (tsx - sx) * (tsx - sx) AS DOUBLE) / (n - k),
                   3) AS sse
        FROM pre, tot WHERE k < n
    )
    SELECT k AS n_low_cluster, split_value_cents, sse AS min_sse
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY sse ASC, split_value_cents ASC, k ASC) = 1
""",
        "q365_decile_gap": f"""
    WITH base AS (
        SELECT o_orderpriority = '{QTE_HI}' AS hi,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x
        FROM orders WHERE o_orderpriority IN ('{QTE_HI}', '{QTE_LO}')
    ), grid AS (
        SELECT hi, x, COUNT(*) AS cnt FROM base GROUP BY 1, 2
    ), cum AS (
        SELECT hi, x, cnt,
               SUM(cnt) OVER (PARTITION BY hi ORDER BY x
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cumc,
               SUM(cnt) OVER (PARTITION BY hi) AS n
        FROM grid
    ), idx AS (
        SELECT c.*, d.d, CAST(FLOOR((n - 1) * d / 10) + 1 AS BIGINT) AS target
        FROM cum c CROSS JOIN (SELECT unnest(range(1, 10)) AS d) d
    ), hit AS (
        SELECT hi, CAST(d AS INT) AS d, x AS q FROM idx
        WHERE cumc >= target AND cumc - cnt < target
    )
    SELECT h.d, h.q AS q_urgent, l.q AS q_low,
           h.q - l.q AS gap_cents
    FROM hit h JOIN hit l ON h.d = l.d AND h.hi AND NOT l.hi
    ORDER BY h.d
""",
        "q366_gunning_fog": f"""
    WITH toks AS (
        SELECT source, doc_id, unnest({_TOKENS}) AS token FROM documents
    ), per_doc_tok AS (
        SELECT source, doc_id, COUNT(*) AS w,
               SUM(CASE WHEN len(regexp_extract_all(lower(token),
                        '[aeiouy]+')) >= 3 THEN 1 ELSE 0 END) AS cw
        FROM toks GROUP BY 1, 2
    ), sents AS (
        SELECT source, doc_id,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s
        FROM documents
    ), agg AS (
        SELECT p.source, COUNT(*) AS n_docs,
               CAST(SUM(w) AS BIGINT) AS words,
               CAST(SUM(s) AS BIGINT) AS sentences,
               CAST(SUM(cw) AS BIGINT) AS complex_words
        FROM per_doc_tok p JOIN sents USING (source, doc_id)
        GROUP BY 1
    )
    SELECT source, n_docs, words, sentences, complex_words,
           ROUND(0.4 * (words / CAST(sentences AS DOUBLE)
                 + 100.0 * complex_words / CAST(words AS DOUBLE)), 6)
               AS fog_index
    FROM agg ORDER BY source
""",
    }
)


# ---------------------------------------------------------------------------
# Final pair (q367-q368): growth accounting and flow-conservation audit
# ---------------------------------------------------------------------------


def q367_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting of the active-user base: new /
    retained / resurrected / churned — the canonical four-way
    decomposition (every active user today is exactly one of
    new|retained|resurrected; churn balances yesterday's actives)
    that product analytics runs over any activity log. Identities the
    construction enforces by algebra, and the test pins:
    active_d = new_d + retained_d + resurrected_d, and
    churned_d = active_{d-1} - retained_d.

    Plan: ONE distinct (user, day) frame (hash aggregate over the fact
    table — the only corpus-sized pass), per-user lag/min windows on
    that user-day grain (bounded by activity, not events), a day-spine
    left join so silent days still report their churn (q209's
    driver-spine rule), and one lag on the |days| frame. All exact
    integer counts."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ud = (
        ev.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("day")
    flags = (
        ud.withColumn("first_day", F.min("day").over(Window.partitionBy("user_id")))
        .withColumn("prev_day", F.lag("day").over(wu))
        .select(
            "day",
            (F.col("day") == F.col("first_day")).cast("long").alias("is_new"),
            (F.col("prev_day") == F.date_sub(F.col("day"), 1))
            .cast("long")
            .alias("is_retained"),
            (
                (F.col("day") != F.col("first_day"))
                & (
                    F.col("prev_day").isNull()
                    | (F.col("prev_day") < F.date_sub(F.col("day"), 1))
                )
            )
            .cast("long")
            .alias("is_resurrected"),
        )
    )
    per_day = flags.groupBy("day").agg(
        F.count(F.lit(1)).alias("active"),
        F.sum("is_new").alias("new_users"),
        F.sum("is_retained").alias("retained"),
        F.sum("is_resurrected").alias("resurrected"),
    )
    bounds = per_day.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    full = spine.join(per_day, "day", "left").select(
        "day",
        *[
            F.coalesce(c, F.lit(0)).alias(c)
            for c in ("active", "new_users", "retained", "resurrected")
        ],
    )
    wd = Window.orderBy("day")
    return (
        full.withColumn(
            "churned",
            F.coalesce(F.lag("active").over(wd), F.lit(0)) - F.col("retained"),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "active",
            "new_users",
            "retained",
            "resurrected",
            "churned",
        )
        .orderBy("day")
    )


def q368_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law flow audit of the order pipeline: time-averaged
    work-in-progress computed TWO independent ways — the per-order
    direct sum of durations, and a distributed +1/-1 event sweep over
    the day spine — must agree EXACTLY (both are the same integral of
    the open-order step function, in exact integer order-days), and
    L = lambda * W then holds by algebra. This is the conservation
    check a 100 TB ingestion pipeline runs on its own backlog
    accounting: a disagreement means intervals are being dropped or
    double-counted somewhere. An order opens at o_orderdate and
    closes at its LAST lineitem ship date, clamped to open >= close
    (the synthetic fixture has ship dates before order dates — q293's
    documented negative-offset quirk; clamping keeps every interval
    well-formed and the identity exact). The sweep is one hash
    aggregate to (day, +/-delta) plus a cumulative window on the day
    spine — the same machinery at any scale."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    comp = (
        li.groupBy("l_orderkey").agg(F.max(F.to_date("l_shipdate")).alias("ship"))
    )
    # r15 rework (guide §2.4, VERDICT r14 #5): the r14 shape computed
    # the interval frame FOUR times (direct agg + spine-via-direct +
    # both branches of the deltas union), i.e. four lineitem aggregates
    # per run (16 scans / 26 exchanges in the plan; a localCheckpoint
    # was measured slower in r14). Restructured to TWO interval
    # computations, the minimum two genuinely independent arms need:
    # (1) each interval emits its two sweep events (+1 at arrive, -1 at
    #     close) via ONE explode instead of a two-branch union of the
    #     interval frame, and the direct statistics are re-derived from
    #     the per-day event aggregate —
    #       n_orders   = sum of per-day arrival counts,
    #       wip_direct = sum(close - arrive) = sum over events of
    #                    -d * datediff(day, epoch)  (telescoping),
    #       lo         = min event day (= min arrive, close >= arrive),
    #       hi         = max event day (= max close),
    #     all exact integers, so results are bit-identical;
    # (2) the direct stats ride THROUGH the spine rows (constant
    #     columns on the exploded day spine) and the final row comes
    #     from ONE aggregate over the swept spine, instead of a third
    #     interval pass for the final crossJoin. (Catalyst copies a
    #     subtree per consumer and per-copy pruning defeats
    #     ReuseExchange, so consumer count IS the pass count.)
    # The sweep arm itself is untouched: day spine, left join of
    # per-day deltas, cumulative window — an independent mechanism
    # whose agreement with the direct sum is the audit.
    iv = (
        o.select("o_orderkey", F.to_date("o_orderdate").alias("arrive"))
        .join(comp, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "arrive",
            F.greatest(F.col("ship"), F.col("arrive")).alias("close"),
        )
    )
    epoch = F.lit("1970-01-01").cast("date")
    events = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("arrive").alias("day"), F.lit(1).alias("d")),
                F.struct(F.col("close").alias("day"), F.lit(-1).alias("d")),
            )
        ).alias("ev")
    ).select(F.col("ev.day").alias("day"), F.col("ev.d").alias("d"))
    per_day = events.groupBy("day").agg(
        F.sum("d").alias("delta"),
        F.count(F.when(F.col("d") == 1, 1)).alias("arrivals"),
        F.sum(-F.col("d") * F.datediff(F.col("day"), epoch)).alias("wip_part"),
    )
    direct = per_day.agg(
        F.coalesce(F.sum("arrivals"), F.lit(0).cast("long")).alias("n_orders"),
        F.sum("wip_part").alias("wip_direct"),
        F.min("day").alias("lo"),
        F.max("day").alias("hi"),
    )
    spine = direct.select(
        "n_orders",
        "wip_direct",
        "lo",
        "hi",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    open_days = (
        spine.join(per_day.select("day", "delta"), "day", "left")
        .select(
            "n_orders",
            "wip_direct",
            "lo",
            "hi",
            "day",
            F.coalesce("delta", F.lit(0)).alias("delta"),
        )
        .withColumn("open", F.sum("delta").over(wd))
    )
    final = open_days.agg(
        F.coalesce(F.max("n_orders"), F.lit(0).cast("long")).alias("n_orders"),
        F.max("wip_direct").alias("wip_direct"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum("open").alias("wip_sweep"),
    )
    n = F.col("n_orders").cast("double")
    horizon = F.datediff("hi", "lo")
    return final.select(
        "n_orders",
        horizon.cast("long").alias("horizon_days"),
        "wip_direct",
        "wip_sweep",
        (F.col("wip_direct") == F.col("wip_sweep")).alias("identity_ok"),
        F.round(n / horizon.cast("double"), 6).alias("lambda_per_day"),
        F.round(F.col("wip_direct") / n, 6).alias("w_days"),
        F.round(
            F.col("wip_direct") / horizon.cast("double"), 6
        ).alias("wip_timeavg"),
    )


QUERIES.update(
    {
        "q367_growth_accounting": q367_growth_accounting,
        "q368_littles_law_audit": q368_littles_law_audit,
    }
)

ORACLE.update(
    {
        "q367_growth_accounting": """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events WHERE user_id IS NOT NULL
    ), flags AS (
        SELECT day,
               CASE WHEN day = MIN(day) OVER (PARTITION BY user_id)
                    THEN 1 ELSE 0 END AS is_new,
               CASE WHEN LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                         = day - INTERVAL 1 DAY THEN 1 ELSE 0 END AS is_retained,
               CASE WHEN day <> MIN(day) OVER (PARTITION BY user_id)
                     AND (LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                              IS NULL
                          OR LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                              < day - INTERVAL 1 DAY)
                    THEN 1 ELSE 0 END AS is_resurrected
        FROM ud
    ), per_day AS (
        SELECT day, COUNT(*) AS active,
               CAST(SUM(is_new) AS BIGINT) AS new_users,
               CAST(SUM(is_retained) AS BIGINT) AS retained,
               CAST(SUM(is_resurrected) AS BIGINT) AS resurrected
        FROM flags GROUP BY 1
    ), spine AS (
        SELECT unnest(generate_series(MIN(day), MAX(day),
                                      INTERVAL 1 DAY))::DATE AS day
        FROM per_day
    ), full_ AS (
        SELECT s.day,
               COALESCE(active, 0) AS active,
               COALESCE(new_users, 0) AS new_users,
               COALESCE(retained, 0) AS retained,
               COALESCE(resurrected, 0) AS resurrected
        FROM spine s LEFT JOIN per_day p ON s.day = p.day
    )
    SELECT CAST(day AS TIMESTAMP) AS day, active, new_users, retained,
           resurrected,
           COALESCE(LAG(active) OVER (ORDER BY day), 0) - retained AS churned
    FROM full_ ORDER BY day
""",
        "q368_littles_law_audit": """
    WITH comp AS (
        SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS ship
        FROM lineitem GROUP BY 1
    ), iv AS (
        SELECT CAST(o_orderdate AS DATE) AS arrive,
               GREATEST(ship, CAST(o_orderdate AS DATE)) AS close
        FROM orders JOIN comp ON o_orderkey = l_orderkey
    ), direct AS (
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(DATE_DIFF('day', arrive, close)) AS BIGINT)
                   AS wip_direct,
               MIN(arrive) AS lo, MAX(close) AS hi
        FROM iv
    ), deltas AS (
        SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
            SELECT arrive AS day, 1 AS d FROM iv
            UNION ALL
            SELECT close AS day, -1 AS d FROM iv
        ) GROUP BY 1
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM direct
    ), open_days AS (
        SELECT s.day,
               SUM(COALESCE(delta, 0)) OVER (ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        FROM spine s LEFT JOIN deltas d ON s.day = d.day
    ), sweep AS (
        SELECT CAST(SUM(open) AS BIGINT) AS wip_sweep FROM open_days
    )
    SELECT n_orders, DATE_DIFF('day', lo, hi) AS horizon_days,
           wip_direct, wip_sweep,
           wip_direct = wip_sweep AS identity_ok,
           ROUND(n_orders / CAST(DATE_DIFF('day', lo, hi) AS DOUBLE), 6)
               AS lambda_per_day,
           ROUND(wip_direct / CAST(n_orders AS DOUBLE), 6) AS w_days,
           ROUND(wip_direct / CAST(DATE_DIFF('day', lo, hi) AS DOUBLE), 6)
               AS wip_timeavg
    FROM direct, sweep
""",
    }
)
