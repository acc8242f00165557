"""Text-analysis workload over the ``documents`` table.

Large-scale training-data-pipeline text operators (SURVEY.md §7.2 step
5): tokenization/term stats, quality scoring, language ID, exact
deduplication, and document fingerprinting. Everything is built-in
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen) — no Python
UDFs in any hot path, so each query is a single scan + hash aggregate
at any scale.

The underlying composable operators live in
``batchprocessingetl_spark.operators.text``; these entries bind them to
the test tables with DuckDB-parity SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.session import WORK_CODEC, work_dir
from batchprocessingetl_spark.sources.readers import fs_delete, local_frame
from batchprocessingetl_spark.operators import text as T_ops


def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (whitespace tokenization)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        T_ops.with_token_stats(docs, "text")
        .select("doc_id", "n_tokens", "n_distinct_tokens", "avg_token_len")
        .orderBy("doc_id")
    )


def q31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: length, alpha ratio, whitespace ratio,
    stopword ratio — the standard pre-training corpus filters."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        T_ops.with_quality_signals(docs, "text")
        .select("doc_id", "n_chars_m", "alpha_ratio", "space_ratio", "stopword_ratio")
        .orderBy("doc_id")
    )


def q32_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: tokenize -> explode -> count. The
    explode fans out rows map-side; the aggregate shuffles only (term,
    partial-count) pairs, so this is the scalable word-count plan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T_ops.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 100)
        .orderBy(F.desc("n_occurrences"), "term")
    )


def q33_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup under re-delivery: documents unioned with itself
    (simulating the raw layer's overlapping re-extraction,
    raw_layer.py:124-126), dedup-ed by content hash keeping the min
    doc_id. Output proves |result| == |distinct content|."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    redelivered = docs.union(docs)
    return (
        T_ops.exact_dedup(redelivered, key_cols=["text"], keep_col="doc_id")
        .select("doc_id", F.md5(F.col("text")).alias("content_hash"))
        .orderBy("doc_id")
    )


def q34_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language scoring aggregated per labeled lang.
    (The synthetic corpus is English-vocab word salad, so the signal
    is uniform — the check pins the *operator semantics*.)"""
    docs = load_table(spark, sf_dir, "documents")
    return (
        T_ops.with_quality_signals(docs, "text")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # per-row ratios are pre-rounded to 6dp; decimal accumulation
            # keeps the cross-row mean order-independent (parity.py)
            F.round(
                F.sum(F.col("stopword_ratio").cast("decimal(28,8)")).cast("double")
                / F.count("stopword_ratio"),
                6,
            ).alias("avg_stopword_ratio"),
            F.round(F.avg("n_chars_m"), 2).alias("avg_chars"),
        )
        .orderBy("lang")
    )


def q35_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit content fingerprint (15-hex-char md5 prefix of the
    normalized text, as a signed long — the house engine-independent
    hash discipline, same as simhash60_md5) + 8-gram shingle count —
    the building block for MinHash/SimHash. md5 instead of xxhash64
    makes every fingerprint value-checkable by the DuckDB oracle
    (VERDICT r12 #3); the plan is identical either way: one narrow,
    codegen'd projection, no shuffle before the final order."""
    docs = load_table(spark, sf_dir, "documents")
    norm = T_ops.normalize(F.col("text"))
    return docs.select(
        "doc_id",
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long").alias("fingerprint"),
        F.greatest(F.length(norm) - F.lit(7), F.lit(0)).alias("n_shingles"),
    ).orderBy("doc_id")


def q39_language_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language ID (stopword-profile voting + CJK check,
    operators/text.py:with_language_id) with per-language vote counts.
    The synthetic corpus is English-vocab word salad, so predictions
    skew 'en' regardless of label — the oracle pins the operator's
    exact semantics, not corpus accuracy."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        T_ops.with_language_id(docs, "text")
        .withColumn("n_subtokens", T_ops.subtoken_count(F.col("text")))
        .select("doc_id", "lang", "predicted_lang", "n_en", "n_de", "n_es", "n_fr", "n_subtokens")
        .orderBy("doc_id")
    )


def q46_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (document, term): explode tokens -> tf per (doc,term)
    -> document frequency per term -> smooth idf. Two hash aggregates
    plus a term-keyed join; the classic corpus-weighting plan that
    scales linearly (partial aggregation everywhere, shuffle keys are
    (doc,term) then term)."""
    docs = load_table(spark, sf_dir, "documents")
    # the idf constant stays IN the plan (1-row agg broadcast into a
    # cross join) — no driver-side count action, one fewer job at scale
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    terms = docs.select("doc_id", F.explode(T_ops.tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
        .filter(F.col("tf") >= 3)
        .orderBy("doc_id", "term")
    )


def q45_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=8, w=4) per document — see
    operators/fingerprint.py. Engine-independent hashing (md5 prefix)
    makes every selected (position, hash) pair oracle-checkable."""
    from batchprocessingetl_spark.operators.fingerprint import winnow

    docs = load_table(spark, sf_dir, "documents")
    return (
        winnow(docs, "doc_id", "text", k=8, w=4)
        .select(F.col("id").alias("doc_id"), "pos", "fp")
        .orderBy("doc_id", "pos")
    )


def q36_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard similar pairs via the inverted-index
    join plan (operators/dedup.py:jaccard_pairs) — no cross join; cost
    is bounded by shingle document frequency."""
    from batchprocessingetl_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2).orderBy("id_a", "id_b")


BM25_TERMS = ("dup", "vector", "scan")
BM25_TOPK = 50


def q77_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by BM25 against a fixed 3-term probe query
    (operators/retrieval.py::bm25_term_scores). Per-term partial scores
    are combined with a FIXED-order sum (coalesce(s_dup,0) +
    coalesce(s_vector,0) + coalesce(s_scan,0)) rather than a float SUM
    aggregate, so the total is bit-stable across engines and partition
    orders; the oracle replicates idf, saturation, and the exact
    summation order."""
    from batchprocessingetl_spark.operators.retrieval import bm25_term_scores

    docs = load_table(spark, sf_dir, "documents")
    ts = bm25_term_scores(docs, "doc_id", "text", BM25_TERMS)
    per_term = [
        F.max(F.when(F.col("term") == t, F.col("score"))).alias(f"__s{i}")
        for i, t in enumerate(BM25_TERMS)
    ]
    agg = ts.groupBy("id").agg(*per_term, F.count(F.lit(1)).alias("n_terms_matched"))
    total = F.coalesce(F.col("__s0"), F.lit(0.0))
    for i in range(1, len(BM25_TERMS)):
        total = total + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    return (
        agg.select(
            F.col("id").alias("doc_id"),
            F.round(total, 6).alias("bm25"),
            "n_terms_matched",
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


BM25_QUERY_SET = (
    (1, ("dup", "vector")),
    (2, ("scan", "filter")),
    (3, ("join", "merge", "hash")),
    (4, ("customer",)),
)
BM25_JOIN_K = 10


def q80_bm25_query_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 retrieval (operators/retrieval.py::
    bm25_topk_join): a 4-row query batch, each query's top-10 documents
    with per-query ranks. One corpus scan serves every query; per-term
    scores accumulate in DECIMAL so the oracle can replicate the exact
    totals (order-independent), ties break by doc_id."""
    from batchprocessingetl_spark.operators.retrieval import bm25_topk_join

    docs = load_table(spark, sf_dir, "documents")
    queries = local_frame(
        spark,
        [(qid, list(terms)) for qid, terms in BM25_QUERY_SET],
        "qid int, terms array<string>",
    )
    return bm25_topk_join(docs, queries, BM25_JOIN_K).orderBy("qid", "rank")


HYBRID_QUERY_SET = (
    (0, ("dup", "vector")),
    (100, ("scan", "filter")),
    (200, ("join", "merge", "hash")),
    (300, ("customer",)),
    (400, ("dup", "filter")),
)
HYBRID_K = 10
RRF_C = 60  # the standard reciprocal-rank-fusion damping constant


def q147_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — BM25 lexical ranking fused with exact-cosine
    vector ranking by Reciprocal Rank Fusion: rrf(d) = Σ 1/(60 + rank)
    over the rankers that returned d (Cormack et al., SIGIR'09) — the
    standard first-stage of a modern RAG/search stack. Reuses both
    production rankers unchanged (operators/retrieval.py::
    bm25_topk_join, one corpus scan for the whole query batch;
    operators/similarity.py::knn_join, tiled block GEMM + skinny
    global top-k), full-outer-joins the two per-query top-10 lists on
    (qid, doc) and fuses on INTEGER ranks — so the fusion arithmetic
    is bit-identical cross-engine regardless of score-scale
    differences, which is exactly why RRF is used in practice."""
    from batchprocessingetl_spark.operators import similarity as S_ops
    from batchprocessingetl_spark.operators.retrieval import bm25_topk_join

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 != 0)
    queries = local_frame(
        spark,
        [(qid, list(terms)) for qid, terms in HYBRID_QUERY_SET],
        "qid int, terms array<string>",
    )
    lex = bm25_topk_join(docs, queries, HYBRID_K).select(
        "qid", "doc_id", F.col("rank").alias("lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vq = emb.filter(
        F.col("vec_id").isin([qid for qid, _ in HYBRID_QUERY_SET])
    ).select(
        F.col("vec_id").cast("int").alias("qid"),
        S_ops.as_double(F.col("embedding")).alias("qvec"),
    )
    corpus = emb.filter(F.col("vec_id") % 100 != 0)
    vec = S_ops.knn_join(corpus, vq, HYBRID_K).select(
        "qid", F.col("vec_id").alias("doc_id"), F.col("rank").alias("vec_rank")
    )
    from pyspark.sql.window import Window

    fused = lex.join(vec, ["qid", "doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.col("lex_rank") + RRF_C), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.col("vec_rank") + RRF_C), F.lit(0.0))
    w = Window.partitionBy("qid").orderBy(F.desc("__rrf"), "doc_id")
    return (
        fused.withColumn("__rrf", rrf)
        .select(
            "qid",
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round("__rrf", 6).alias("rrf"),
            F.row_number().over(w).alias("hybrid_rank"),
        )
        .orderBy("qid", "hybrid_rank")
    )


def q158_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between two categorical corpus
    dimensions (language × source) — the feature-association statistic
    behind 'which sources are language-skewed' audits and categorical
    feature selection. Three hash aggregates (cell, two marginals) and
    one global count, joined cell-to-marginals with the tiny marginal
    frames broadcast; PMI and the MI contribution are IEEE doubles
    from exact integer counts, rounded 6dp against libm ln jitter."""
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_xy"))
    mx = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("__nx"))
    my = docs.groupBy("source").agg(F.count(F.lit(1)).alias("__ny"))
    tot = docs.agg(F.count(F.lit(1)).alias("__n"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pmi = F.log(d("n_xy") * d("__n") / (d("__nx") * d("__ny")))
    return (
        cell.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_xy",
            F.round(pmi, 6).alias("pmi"),
            F.round((d("n_xy") / d("__n")) * pmi, 6).alias("mi_term"),
        )
        .orderBy("lang", "source")
    )


FUZZY_MAX_DIST = 1
FUZZY_PREFIX = 2


def q89_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy matching on part names
    (operators/dedup.py::fuzzy_name_pairs): prefix-blocked candidates
    verified by Levenshtein <= 1. The oracle replicates the blocking
    and the edit-distance verify exactly."""
    from batchprocessingetl_spark.operators.dedup import fuzzy_name_pairs

    part = load_table(spark, sf_dir, "part")
    return fuzzy_name_pairs(
        part, "p_partkey", "p_name", max_dist=FUZZY_MAX_DIST, prefix_len=FUZZY_PREFIX
    ).orderBy("id_a", "id_b")


def q113_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: the q89 fuzzy-match pair graph
    (composite-blocked candidates, Levenshtein <= 1 verify) resolved
    into entity clusters by min-label connected components
    (operators/dedup.py::connected_components) — match THEN cluster,
    the full ER loop a dedup pipeline runs. Per-cluster summary keeps
    the output narrow: one row per multi-member entity with its
    canonical (min) key and size. The oracle replays the pair graph
    and a recursive transitive closure — the fixture takes a
    deterministic 10% key slice because that closure materializes
    sum(|component|^2) rows, which explodes on the FULL dense name
    space at sf0.1 (true pairs are quadratic there, docs/SCALE.md on
    q89); the Spark side's min-label iterations don't have that
    problem, so the slice bounds ORACLE cost, not operator cost."""
    from batchprocessingetl_spark.operators.dedup import (
        connected_components,
        fuzzy_name_pairs,
    )

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    pairs = fuzzy_name_pairs(
        part, "p_partkey", "p_name", max_dist=FUZZY_MAX_DIST, prefix_len=FUZZY_PREFIX
    )
    vertices = part.select(F.col("p_partkey").alias("id"))
    # max_iter must cover the worst component DIAMETER (a chain of
    # edit-distance-1 names propagates its min one hop per round); the
    # convergence probe stops early on real data
    cc = connected_components(pairs.select("id_a", "id_b"), vertices, max_iter=64)
    return (
        cc.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )


SPLIT_SEED = "split-r4"
SPLIT_TRAIN_FRAC = 0.8


def q118_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/holdout split: documents are clustered by
    SimHash near-duplication (the q63 machinery) and the md5-uniform
    split draw is keyed on the CLUSTER id, not the doc id — so a
    near-duplicate pair can never straddle train and holdout (the
    eval-set leakage a doc-keyed split allows). One extra narrow
    projection on top of connected components; the oracle replays the
    closure and the identical draw, pinning the no-leakage property
    itself cross-engine."""
    from batchprocessingetl_spark.operators.dedup import (
        connected_components,
        simhash60_md5,
        simhash_near_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash60_md5(docs, "doc_id", "text")
    pairs = simhash_near_pairs(sigs, max_hamming=3, bands=4)
    verts = docs.select(F.col("doc_id").alias("id"))
    cc = connected_components(pairs, verts)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(SPLIT_SEED + ":"), F.col("cluster_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**15))
    )
    return (
        cc.select(
            F.col("id").alias("doc_id"),
            "cluster_id",
            F.when(u < SPLIT_TRAIN_FRAC, "train").otherwise(F.lit("holdout")).alias("split"),
        )
        .orderBy("doc_id")
    )


VOCAB_MIN_COUNT = 100
COOC_WINDOW = 2
COOC_MIN = 60


def q124_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup against a PERSISTED LSH band store
    (operators/dedup.py::band_signatures + incremental_lsh_pairs) —
    the production shape for a growing corpus. The standing corpus
    (doc_id % 10 != 0) has its band rows written to a parquet store
    ONCE; the new batch (doc_id % 10 == 0) computes only its own
    signatures and joins its band rows against the store plus itself.
    Candidate pairs touching the batch are then exact-Jaccard-verified
    at q37's threshold. The corpus's signatures are never recomputed —
    per-batch candidate cost is O(batch) + O(candidates); verification
    here re-derives candidate docs' shingles from the doc table (at
    production scale: point look-ups of candidate ids only).

    Oracle: the full-recompute exact-Jaccard pair set restricted to
    pairs with >= 1 batch member — pinning the incremental protocol's
    defining invariant (incremental == full recompute on the batch's
    slice) AND the band join's recall, same as q37."""
    from batchprocessingetl_spark.operators.dedup import (
        band_signatures,
        incremental_lsh_pairs,
        minhash_signatures,
        shingle_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    store_docs = docs.filter(F.col("doc_id") % 10 != 0)
    batch_docs = docs.filter(F.col("doc_id") % 10 == 0)

    work = work_dir(spark, "lshstore")
    fs_delete(spark, work)
    band_signatures(
        minhash_signatures(store_docs, "doc_id", "text", n_hashes=32, n=3), bands=16
    ).write.option("compression", WORK_CODEC).parquet(work)
    store_bands = spark.read.parquet(work)

    batch_bands = band_signatures(
        minhash_signatures(batch_docs, "doc_id", "text", n_hashes=32, n=3), bands=16
    )
    cands = incremental_lsh_pairs(batch_bands, store_bands)

    sh = shingle_frame(docs, "doc_id", "text", 3)
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
        .orderBy("id_a", "id_b")
    )


def q126_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join with PREFIX FILTERING
    (operators/dedup.py::setsim_join_prefix, the AllPairs/PPJoin
    candidate rule): the complete 3-shingle Jaccard >= 0.2 pair set —
    same answer as the q36 inverted-index plan — from a posting table
    pruned to each doc's rarest |s| - ceil(t|s|) + 1 shingles. The cut
    is provably lossless, so the oracle is the full exact pair set:
    any over-pruning fails the oracle, any under-pruning shows up in
    the SCALE.md candidate-count probe.

    Round 8 (VERDICT r7 #5): the corpus is scoped to the deterministic
    doc_id % 3 = 0 key-slice on BOTH engines — the ORACLE is a
    quadratic cross self-join (O(n^2) list_intersect pairs; 415 s of
    the sf0.1 sweep), so the fixture bounds it 9x, exactly the q89
    precedent. The Spark plan under test is unchanged and the
    losslessness claim is corpus-independent (property-tested in
    tests/test_dedup_text.py)."""
    from batchprocessingetl_spark.operators.dedup import setsim_join_prefix

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return setsim_join_prefix(docs, "doc_id", "text", n=3, threshold=0.2).orderBy(
        "id_a", "id_b"
    )


CONTAIN_T = 0.4


def q135_containment_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional set-CONTAINMENT join (operators/dedup.py::
    containment_join_prefix): all ordered pairs where >= 40% of doc a's
    3-shingles appear in doc b — the quote/substring/truncated-crawl
    detector that Jaccard joins miss (a small doc inside a big one has
    high containment but low Jaccard). The probe-side prefix cut is
    provably lossless, so the oracle is the FULL exact containment pair
    set: over-pruning fails the oracle.

    Round 8 (VERDICT r7 #5): corpus scoped to the deterministic
    doc_id % 3 = 0 key-slice on BOTH engines (the oracle's directional
    pair set is quadratic — 739 s of the sf0.1 sweep before the
    slice); Spark plan under test unchanged, q89 precedent."""
    from batchprocessingetl_spark.operators.dedup import containment_join_prefix

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return containment_join_prefix(
        docs, "doc_id", "text", n=3, threshold=CONTAIN_T
    ).orderBy("id_a", "id_b")


KEYNESS_MIN = 30
KEYNESS_PRIOR = 0.01


def q137_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve (operators/text.py::
    vocab_growth): vocabulary size + cumulative doc/token counts at 8
    evenly-spaced doc-id thresholds. One min-per-token aggregate serves
    every checkpoint (a token counts from its FIRST occurrence), so
    there is no per-checkpoint rescan and no global rank window."""
    from batchprocessingetl_spark.operators.text import vocab_growth

    docs = load_table(spark, sf_dir, "documents")
    return vocab_growth(docs, "doc_id", "text", n_checkpoints=8).orderBy("k")


def q138_keyness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive-term extraction per source (operators/text.py::
    keyness_by_group): Dirichlet-prior log-odds z-scores ('Fightin'
    Words') of every term with >= 30 in-group occurrences vs the rest
    of the corpus — the 'what makes this source different' statistic
    used for domain tagging and contamination triage. Row set fixed by
    the integer support filter; double math rounded 4dp."""
    from batchprocessingetl_spark.operators.text import keyness_by_group

    docs = load_table(spark, sf_dir, "documents")
    return (
        keyness_by_group(
            docs, "source", "text", min_count=KEYNESS_MIN, prior=KEYNESS_PRIOR
        )
        .withColumnRenamed("grp", "source")
        .orderBy("source", "term")
    )


def q86_vocab_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary (operators/text.py::build_vocab):
    dense term ids by (count DESC, term ASC) over terms with >= 100
    occurrences — the numericalization dictionary. The oracle
    recomputes ids with ROW_NUMBER under the identical total order."""
    from batchprocessingetl_spark.operators.text import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, "text", min_count=VOCAB_MIN_COUNT).orderBy("term_id")


def q87_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts within a 2-token forward window
    (operators/text.py::cooccurrence_counts), kept where count >= 60 —
    the word2vec/GloVe input statistic. Cost is window * tokens (pairs
    meet on the (doc, pos) equi-key); nothing corpus-quadratic."""
    from batchprocessingetl_spark.operators.text import cooccurrence_counts

    docs = load_table(spark, sf_dir, "documents")
    return (
        cooccurrence_counts(docs, "doc_id", "text", window=COOC_WINDOW)
        .filter(F.col("n_cooc") >= COOC_MIN)
        .orderBy("a", "b")
    )


def q95_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring (operators/text.py::
    lm_quality_scores): an add-0.5-smoothed bigram LM trained on the
    corpus scores every document by average bigram negative
    log-likelihood — the CCNet-style model-based filter that runs after
    the cheap heuristics (q31). Bigrams extract narrowly (zip_with, no
    positional self-join); LM counts and the per-document fold are hash
    aggregates on fixed-width keys; V stays in-plan as a broadcast 1-row
    aggregate."""
    from batchprocessingetl_spark.operators.text import lm_quality_scores

    docs = load_table(spark, sf_dir, "documents")
    return lm_quality_scores(docs, "doc_id", "text", alpha=0.5).orderBy("doc_id")


def q96_shard_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard contamination audit (operators/dedup.py::
    shard_overlap_minhash): 3-gram-shingle Jaccard between every pair of
    document sources, estimated from mergeable per-shard MinHash
    signatures (one linear pass, 256 hashes) and verified against the
    exact inverted-index Jaccard. The oracle pins the exact overlap and
    the estimator's error bound (q57 pattern): ``est_ok`` asserts
    |estimate - exact| <= 0.08 for every pair."""
    from batchprocessingetl_spark.operators.dedup import shard_overlap_minhash

    docs = load_table(spark, sf_dir, "documents")
    return shard_overlap_minhash(docs, "source", "text").orderBy("group_a", "group_b")


PHRASES: dict[str, tuple[str, ...]] = {
    "table table": ("table", "table"),
    "fast table": ("fast", "table"),
    "value table part": ("value", "table", "part"),
}


def q105_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch phrase matching (operators/text.py::phrase_hits): count
    exact consecutive-token occurrences of three probe phrases across
    the corpus in ONE scan — the phrase counter is a higher-order
    array expression (filter over start positions), so there is no
    postings explode, no positional self-join, and no shuffle until
    the final per-phrase ordering. The oracle recomputes each phrase
    with the identical list_filter expression."""
    from batchprocessingetl_spark.operators.text import phrase_hits

    docs = load_table(spark, sf_dir, "documents")
    return (
        phrase_hits(docs, "doc_id", "text", PHRASES)
        .withColumnRenamed("id", "doc_id")
        .orderBy("phrase", "doc_id")
    )


def q37_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pipeline (scale path): candidates
    from band-bucket equi-join only, then exact-Jaccard verification of
    candidates. Oracle = the exact q36 pair set: 32 hashes x 16 bands
    gives deterministic full recall at threshold 0.2 on this corpus, so
    the oracle pins the candidate generator's recall end-to-end."""
    from batchprocessingetl_spark.operators.dedup import minhash_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", n_hashes=32, bands=16, n=3, threshold=0.2
    ).orderBy("id_a", "id_b")


def q38_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document (simhash60_md5 — the
    engine-independent md5-prefix token hash), fully value-checked by
    the DuckDB oracle. Until round 13 this shipped the xxhash64-based
    simhash64 variant and was rows-only; switching to the house md5
    discipline (VERDICT r12 #3) gives it a bit-for-bit value oracle
    before its first driver CORRECTNESS row. The xxhash64 variant
    stays in operators/dedup.py (pytest-pinned) for callers that want
    the cheaper JVM hash and don't need cross-engine checkability."""
    from batchprocessingetl_spark.operators.dedup import simhash60_md5

    docs = load_table(spark, sf_dir, "documents")
    return simhash60_md5(docs, "doc_id", "text").orderBy("id")


def q47_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate *pairs* (complements q38's signatures):
    60-bit md5-based SimHash (engine-independent -> value-checked
    oracle) + banded self-join, exact for hamming <= 3 by pigeonhole.
    The oracle brute-forces the O(n^2) pair space, which is feasible at
    oracle scale only — the banded plan is the one that scales."""
    from batchprocessingetl_spark.operators.dedup import simhash60_md5, simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash60_md5(docs, "doc_id", "text")
    return (
        simhash_near_pairs(sigs, max_hamming=3, bands=4)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    )


def q63_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup decisions: connected components over the
    q47 SimHash pair graph; every document gets a cluster_id (= min
    reachable doc id) and a canonical flag. This is the step a corpus
    pipeline actually acts on (keep one doc per cluster). Iterative
    min-label propagation in Spark; recursive-CTE reachability oracle."""
    from batchprocessingetl_spark.operators.dedup import (
        connected_components,
        simhash60_md5,
        simhash_near_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash60_md5(docs, "doc_id", "text")
    pairs = simhash_near_pairs(sigs, max_hamming=3, bands=4)
    verts = docs.select(F.col("doc_id").alias("id"))
    cc = connected_components(pairs, verts)
    return cc.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    ).orderBy("doc_id")


def q64_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation composite a pre-training pipeline
    runs: quality gate (length + stopword-ratio heuristics, q31) ->
    near-dup clustering (SimHash + connected components, q63) -> keep
    ONE canonical (min-id) quality-passing doc per cluster -> per-source
    attrition report. Every stage is the already-oracle-checked
    operator; this query pins their composition."""
    from pyspark.sql.window import Window

    from batchprocessingetl_spark.operators.dedup import (
        connected_components,
        simhash60_md5,
        simhash_near_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    qual = T_ops.with_quality_signals(docs, "text")
    ok = F.coalesce(
        (F.col("n_chars_m") >= 100) & (F.col("stopword_ratio") >= 0.02), F.lit(False)
    )
    sigs = simhash60_md5(docs, "doc_id", "text")
    cc = connected_components(
        simhash_near_pairs(sigs, max_hamming=3, bands=4),
        docs.select(F.col("doc_id").alias("id")),
    ).withColumnRenamed("id", "doc_id")
    j = qual.select("doc_id", "source", ok.alias("quality_ok")).join(cc, "doc_id")
    min_ok = F.min(F.when(F.col("quality_ok"), F.col("doc_id"))).over(
        Window.partitionBy("cluster_id")
    )
    kept = F.col("quality_ok") & (F.col("doc_id") == min_ok)
    return (
        j.withColumn("kept", kept)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(~F.col("quality_ok"), 1).otherwise(0)).alias("n_quality_fail"),
            F.sum(F.when(F.col("quality_ok") & ~F.col("kept"), 1).otherwise(0)).alias(
                "n_dup_removed"
            ),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


NDCG_K = 10
LN2 = 0.6931471805599453


def q179_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation — nDCG@10 of the BM25 ranker
    against graded relevance, per query. Relevance is the number of
    distinct query terms present in the document (0..|terms| — a label
    the ranker does NOT optimize directly, since BM25 weights idf and
    length), so the metric genuinely measures ranking quality. DCG =
    sum (2^rel - 1)/log2(rank+1) over the retrieved list; IDCG comes
    from the corpus-wide ideal ordering (top-10 by relevance,
    deterministic doc_id tie-break — zero-relevance docs contribute
    zero gain, so only the matched-doc frame feeds it). Each DCG term
    is rounded to 9dp and accumulated in DECIMAL (order-independent,
    the BM25-oracle discipline); log2 is expressed as ln/ln2 with the
    ln(2) constant folded into a multiply, since ln is the
    cross-engine-proven transcendental here. One corpus scan serves
    the ranker (bm25_topk_join) and one the relevance frame; both
    collapse to per-(qid, doc) grains before any window."""
    from batchprocessingetl_spark.operators.retrieval import bm25_topk_join
    from batchprocessingetl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    queries = local_frame(
        spark,
        [(qid, list(terms)) for qid, terms in BM25_QUERY_SET],
        "qid int, terms array<string>",
    )
    q_terms = queries.select("qid", F.explode("terms").alias("term"))
    doc_terms = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    )
    rel = (
        doc_terms.join(F.broadcast(q_terms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("rel"))
    )

    def dcg_term(rel_col, rank_col):
        return F.round(
            (F.pow(F.lit(2.0), rel_col) - 1.0)
            * F.lit(LN2)
            / F.log(rank_col + F.lit(1.0)),
            9,
        ).cast("decimal(28,10)")

    retrieved = bm25_topk_join(docs, queries, NDCG_K).select(
        "qid", "doc_id", "rank"
    )
    got = retrieved.join(rel, ["qid", "doc_id"], "left").withColumn(
        "rel", F.coalesce(F.col("rel"), F.lit(0))
    )
    from pyspark.sql.window import Window

    dcg = got.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_retrieved"),
        F.round(F.sum(dcg_term(F.col("rel"), F.col("rank"))), 6)
        .cast("double")
        .alias("dcg"),
    )
    w_ideal = Window.partitionBy("qid").orderBy(F.desc("rel"), "doc_id")
    ideal = rel.withColumn("irank", F.row_number().over(w_ideal)).filter(
        F.col("irank") <= NDCG_K
    )
    idcg = ideal.groupBy("qid").agg(
        F.round(F.sum(dcg_term(F.col("rel"), F.col("irank"))), 6)
        .cast("double")
        .alias("idcg")
    )
    return (
        dcg.join(idcg, "qid")
        .select(
            "qid",
            "n_retrieved",
            "dcg",
            "idcg",
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
        .orderBy("qid")
    )


QUERIES = {
    "q124_incremental_near_dups": q124_incremental_near_dups,
    "q126_setsim_prefix_join": q126_setsim_prefix_join,
    "q135_containment_near_dups": q135_containment_near_dups,
    "q137_vocab_growth": q137_vocab_growth,
    "q138_keyness_by_source": q138_keyness_by_source,
    "q147_hybrid_retrieval_rrf": q147_hybrid_retrieval_rrf,
    "q158_lang_source_mi": q158_lang_source_mi,
    "q113_entity_clusters": q113_entity_clusters,
    "q118_leakage_free_split": q118_leakage_free_split,
    "q45_winnowing_fingerprints": q45_winnowing_fingerprints,
    "q46_tfidf": q46_tfidf,
    "q37_minhash_near_dups": q37_minhash_near_dups,
    "q95_lm_quality_score": q95_lm_quality_score,
    "q96_shard_overlap": q96_shard_overlap,
    "q105_phrase_search": q105_phrase_search,
    "q80_bm25_query_join": q80_bm25_query_join,
    "q89_fuzzy_name_pairs": q89_fuzzy_name_pairs,
    "q179_retrieval_ndcg": q179_retrieval_ndcg,
    "q47_simhash_near_dups": q47_simhash_near_dups,
    "q63_dedup_clusters": q63_dedup_clusters,
    "q31_quality_score": q31_quality_score,
    "q33_exact_dedup": q33_exact_dedup,
    "q86_vocab_table": q86_vocab_table,
    "q87_cooccurrence": q87_cooccurrence,
    "q30_token_stats": q30_token_stats,
    "q34_language_id": q34_language_id,
    "q36_jaccard_near_dups": q36_jaccard_near_dups,
    "q32_term_frequencies": q32_term_frequencies,
    "q35_fingerprint": q35_fingerprint,
    "q38_simhash_signatures": q38_simhash_signatures,
    "q39_language_prediction": q39_language_prediction,
    "q64_curated_corpus": q64_curated_corpus,
    "q77_bm25_topk": q77_bm25_topk,
}

_SHINGLES_SQL = (
    "CASE WHEN len({toks}) >= 3 THEN list_distinct(list_transform("
    "range(1, len({toks}) - 1), i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))"
    " ELSE [] END"
)

_TOKENS_SQL = T_ops.TOKENS_SQL_DUCKDB.format(col="text")
_NORM_SQL = T_ops.NORMALIZE_SQL_DUCKDB.format(col="text")

# 60-bit md5-prefix SimHash signatures, shared by q47/q63 oracles
_SIMHASH_SIG_CTES = f"""tok AS (
            SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS tok
            FROM documents
        ), th AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
        ), bits AS (
            SELECT doc_id, k,
                   SUM(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS k)
            GROUP BY doc_id, k
        ), sig AS (
            SELECT doc_id,
                   SUM(CASE WHEN v > 0 THEN (1::BIGINT << k) ELSE 0 END)::BIGINT AS simhash
            FROM bits GROUP BY doc_id
        )"""

ORACLE = {
    "q35_fingerprint": f"""
        SELECT doc_id,
               ('0x' || substr(md5({_NORM_SQL}), 1, 15))::BIGINT AS fingerprint,
               GREATEST(length({_NORM_SQL}) - 7, 0)::INT AS n_shingles
        FROM documents
        ORDER BY doc_id
    """,
    "q38_simhash_signatures": f"""
        WITH {_SIMHASH_SIG_CTES}
        SELECT doc_id AS id, simhash FROM sig ORDER BY id
    """,
    "q47_simhash_near_dups": f"""
        WITH {_SIMHASH_SIG_CTES}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY id_a, id_b
    """,
    "q64_curated_corpus": f"""
        WITH RECURSIVE {_SIMHASH_SIG_CTES},
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        ),
        clusters AS (
            SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
        ),
        qual AS (
            SELECT doc_id, source,
                   COALESCE(
                       length(text) >= 100
                       AND ROUND(len(list_filter({_TOKENS_SQL}, t -> list_contains({{stop}}, t)))
                             / NULLIF(len({_TOKENS_SQL}), 0)::DOUBLE, 6) >= 0.02,
                       FALSE) AS quality_ok
            FROM documents
        ),
        m AS (
            SELECT q.doc_id, q.source, q.quality_ok, c.cluster_id,
                   MIN(CASE WHEN q.quality_ok THEN q.doc_id END)
                       OVER (PARTITION BY c.cluster_id) AS min_ok
            FROM qual q JOIN clusters c USING (doc_id)
        )
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END)::BIGINT AS n_quality_fail,
               SUM(CASE WHEN quality_ok AND doc_id <> min_ok THEN 1 ELSE 0 END)::BIGINT AS n_dup_removed,
               SUM(CASE WHEN quality_ok AND doc_id = min_ok THEN 1 ELSE 0 END)::BIGINT AS n_kept
        FROM m
        GROUP BY source
        ORDER BY source
    """.replace("{stop}", T_ops.STOPWORDS_SQL_DUCKDB),
    "q63_dedup_clusters": f"""
        WITH RECURSIVE {_SIMHASH_SIG_CTES},
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        )
        SELECT a AS doc_id, MIN(b) AS cluster_id, (MIN(b) = a) AS is_canonical
        FROM reach
        GROUP BY a
        ORDER BY doc_id
    """,
    "q30_token_stats": f"""
        SELECT doc_id,
               len({_TOKENS_SQL})::INT AS n_tokens,
               len(list_distinct({_TOKENS_SQL}))::INT AS n_distinct_tokens,
               ROUND(list_avg(list_transform({_TOKENS_SQL}, t -> length(t)::DOUBLE)), 4) AS avg_token_len
        FROM documents
        ORDER BY doc_id
    """,
    "q31_quality_score": f"""
        SELECT doc_id,
               length(text)::INT AS n_chars_m,
               ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     / NULLIF(length(text), 0)::DOUBLE, 6) AS alpha_ratio,
               ROUND(length(regexp_replace(text, '[^ \\t\\n]', '', 'g'))
                     / NULLIF(length(text), 0)::DOUBLE, 6) AS space_ratio,
               ROUND(len(list_filter({_TOKENS_SQL}, t -> list_contains({{stop}}, t)))
                     / NULLIF(len({_TOKENS_SQL}), 0)::DOUBLE, 6) AS stopword_ratio
        FROM documents
        ORDER BY doc_id
    """.replace("{stop}", T_ops.STOPWORDS_SQL_DUCKDB),
    "q32_term_frequencies": f"""
        SELECT term, COUNT(*) AS n_occurrences
        FROM (SELECT unnest({_TOKENS_SQL}) AS term FROM documents)
        GROUP BY term
        HAVING COUNT(*) >= 100
        ORDER BY n_occurrences DESC, term
    """,
    "q33_exact_dedup": """
        SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash
        FROM (SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id, text FROM documents)
        GROUP BY text
        ORDER BY doc_id
    """,
    "q34_language_id": f"""
        WITH sig AS (
            SELECT lang,
                   length(text)::INT AS n_chars_m,
                   ROUND(len(list_filter({_TOKENS_SQL}, t -> list_contains({{stop}}, t)))
                       / NULLIF(len({_TOKENS_SQL}), 0)::DOUBLE, 6) AS stopword_ratio
            FROM documents
        )
        SELECT lang, COUNT(*) AS n_docs,
               ROUND(CAST(SUM(CAST(stopword_ratio AS DECIMAL(28,8))) AS DOUBLE)
                     / COUNT(stopword_ratio), 6) AS avg_stopword_ratio,
               ROUND(AVG(n_chars_m), 2) AS avg_chars
        FROM sig
        GROUP BY lang
        ORDER BY lang
    """.replace("{stop}", T_ops.STOPWORDS_SQL_DUCKDB),
    # q35 fingerprint: xxhash64 seed/variant differs between engines; the
    # shingle count is SQL-checkable but the hash itself is engine-defined,
    # so this query gets the weaker rows-only check.
    "q39_language_prediction": (
        lambda profiles=T_ops.LANG_PROFILES: f"""
        WITH t AS (
            SELECT doc_id, lang, text,
                   list_distinct(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS toks
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, text,
                   {", ".join(
                       "len(list_intersect(toks, ["
                       + ", ".join(f"'{w}'" for w in words)
                       + f"]))::INT AS n_{lang}"
                       for lang, words in profiles.items()
                   )}
            FROM t
        )
        SELECT doc_id, lang,
               CASE WHEN length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) < length(text)
                    THEN 'zh'
                    {" ".join(
                        "WHEN "
                        + " AND ".join(f"n_{lang} >= n_{o}" for o in profiles if o != lang)
                        + f" AND n_{lang} > 0 THEN '{lang}'"
                        for lang in profiles
                    )}
                    ELSE 'und' END AS predicted_lang,
               n_en, n_de, n_es, n_fr,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INT AS n_subtokens
        FROM scored
        ORDER BY doc_id
    """
    )(),
    "q36_jaccard_near_dups": f"""
        WITH sh AS (
            SELECT doc_id AS id, {_SHINGLES_SQL.format(toks=_TOKENS_SQL)} AS sh
            FROM documents
        )
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE,
                     6) AS jaccard
        FROM sh a, sh b
        WHERE a.id < b.id
          AND len(list_intersect(a.sh, b.sh)) > 0
          AND len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE >= 0.2
        ORDER BY id_a, id_b
    """,
    # q37: the MinHash-LSH candidate pass is approximate, but the final
    # output is exact-Jaccard-verified candidates at the same threshold
    # as q36 — so the exact pair set IS the correct answer whenever LSH
    # recall is 1, which 32 hashes x 16 bands achieves deterministically
    # (xxhash64 signatures, no RNG) on this corpus. A banding recall
    # miss would fail this oracle — that's the point: it pins the
    # candidate generator's recall, not just the verifier.
    "q37_minhash_near_dups": f"""
        WITH sh AS (
            SELECT doc_id AS id, {_SHINGLES_SQL.format(toks=_TOKENS_SQL)} AS sh
            FROM documents
        )
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE,
                     6) AS jaccard
        FROM sh a, sh b
        WHERE a.id < b.id
          AND len(list_intersect(a.sh, b.sh)) > 0
          AND len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE >= 0.2
        ORDER BY id_a, id_b
    """,
    # q126: prefix filtering is lossless, so the oracle is the SAME
    # full exact pair set as q36/q37 — the candidate rule's
    # completeness is the checked fact.
    "q126_setsim_prefix_join": f"""
        WITH sh AS (
            SELECT doc_id AS id, {_SHINGLES_SQL.format(toks=_TOKENS_SQL)} AS sh
            FROM documents
            WHERE doc_id % 3 = 0
        )
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE,
                     6) AS jaccard
        FROM sh a, sh b
        WHERE a.id < b.id
          AND len(list_intersect(a.sh, b.sh)) > 0
          AND len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE >= 0.2
        ORDER BY id_a, id_b
    """,
    # q124: the q37 full-recompute exact pair set, restricted to pairs
    # with >= 1 new-batch member (doc_id % 10 = 0) — the incremental
    # protocol must produce exactly the full-recompute answer on its
    # slice, with no recall loss from the persisted band store.
    "q124_incremental_near_dups": f"""
        WITH sh AS (
            SELECT doc_id AS id, {_SHINGLES_SQL.format(toks=_TOKENS_SQL)} AS sh
            FROM documents
        )
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(len(list_intersect(a.sh, b.sh))
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE,
                     6) AS jaccard
        FROM sh a, sh b
        WHERE a.id < b.id
          AND (a.id % 10 = 0 OR b.id % 10 = 0)
          AND len(list_intersect(a.sh, b.sh)) > 0
          AND len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE >= 0.2
        ORDER BY id_a, id_b
    """,
    "q46_tfidf": f"""
        WITH terms AS (
            SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
        ), df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term
        ), n AS (
            SELECT COUNT(*)::DOUBLE AS n_docs FROM documents
        )
        SELECT doc_id, term, tf, df,
               ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN df USING (term), n
        WHERE tf >= 3
        ORDER BY doc_id, term
    """,
    "q45_winnowing_fingerprints": """
        WITH positions AS (
            SELECT doc_id AS id, text, unnest(range(1, length(text) - 6)) AS pos
            FROM documents
            WHERE length(text) >= 8
        ), grams AS (
            SELECT id, pos,
                   ('0x' || substring(md5(substring(text, pos::INT, 8)), 1, 15))::BIGINT AS h
            FROM positions
        ), stats AS (
            SELECT id, MAX(pos) AS n FROM grams GROUP BY id
        ), windows AS (
            SELECT id, pos AS s,
                   MIN(h) OVER (PARTITION BY id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
            FROM grams
        ), valid AS (
            SELECT w.id, w.s, w.wmin
            FROM windows w JOIN stats st USING (id)
            WHERE w.s <= st.n - 3
        ), resolved AS (
            SELECT v.id, v.s, MIN(p.pos) AS pos, MIN(v.wmin) AS fp
            FROM valid v
            JOIN grams p ON p.id = v.id AND p.h = v.wmin
                         AND p.pos BETWEEN v.s AND v.s + 3
            GROUP BY v.id, v.s
        )
        SELECT DISTINCT id AS doc_id, pos::INT AS pos, fp
        FROM resolved
        ORDER BY doc_id, pos
    """,
}


from batchprocessingetl_spark.operators.retrieval import BM25_B, BM25_K1

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
_BM25_FIXED_SUM = " + ".join(
    f"COALESCE(MAX(CASE WHEN term = '{t}' THEN score END), 0.0)" for t in BM25_TERMS
)

_BM25_QUERY_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in BM25_QUERY_SET for t in terms
)

_PHRASE_HITS_SQL = "\n        UNION ALL\n".join(
    f"""        SELECT doc_id, '{label}' AS phrase,
               {T_ops.phrase_count_sql_duckdb('toks', terms)} AS n_occ
        FROM t"""
    for label, terms in PHRASES.items()
)

ORACLE.update({
    "q118_leakage_free_split": f"""
        WITH RECURSIVE {_SIMHASH_SIG_CTES},
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        ),
        labels AS (
            SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
        )
        SELECT doc_id, cluster_id,
               CASE WHEN ('0x' || substr(md5('{SPLIT_SEED}:' || cluster_id::VARCHAR), 1, 15))::BIGINT
                         / {float(16**15)!r} < {SPLIT_TRAIN_FRAC}
                    THEN 'train' ELSE 'holdout' END AS split
        FROM labels
        ORDER BY doc_id
    """,
    "q113_entity_clusters": f"""
        WITH RECURSIVE p AS (
            SELECT p_partkey, p_name,
                   substr(p_name, 1, {FUZZY_PREFIX}) AS pfx,
                   len(p_name) AS l
            FROM part WHERE p_partkey % 10 = 0
        ), pairs AS (
            SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
            FROM p a JOIN p b
              ON a.pfx = b.pfx
             AND abs(a.l - b.l) <= {FUZZY_MAX_DIST}
             AND a.p_partkey < b.p_partkey
             AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ), reach(a, b) AS (
            SELECT p_partkey, p_partkey FROM part WHERE p_partkey % 10 = 0
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        ), labels AS (
            SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a
        )
        SELECT cluster_id, COUNT(*) AS n_members
        FROM labels GROUP BY cluster_id
        HAVING COUNT(*) >= 2
        ORDER BY cluster_id
    """,
    "q105_phrase_search": f"""
        WITH t AS (
            SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
        ), hits AS (
{_PHRASE_HITS_SQL}
        )
        SELECT doc_id, phrase, n_occ
        FROM hits WHERE n_occ > 0
        ORDER BY phrase, doc_id
    """,
    "q89_fuzzy_name_pairs": f"""
        WITH p AS (
            SELECT p_partkey, p_name,
                   substr(p_name, 1, {FUZZY_PREFIX}) AS pfx,
                   len(p_name) AS l
            FROM part
        )
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
               levenshtein(a.p_name, b.p_name)::INT AS dist
        FROM p a JOIN p b
          ON a.pfx = b.pfx
         AND abs(a.l - b.l) <= {FUZZY_MAX_DIST}
         AND a.p_partkey < b.p_partkey
         AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
        ORDER BY id_a, id_b
    """,
    "q86_vocab_table": f"""
        WITH c AS (
            SELECT term, COUNT(*) AS n_occurrences
            FROM (SELECT unnest({_TOKENS_SQL}) AS term FROM documents)
            GROUP BY 1
            HAVING COUNT(*) >= {VOCAB_MIN_COUNT}
        )
        SELECT term,
               (ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term) - 1)::INT AS term_id,
               n_occurrences
        FROM c
        ORDER BY term_id
    """,
    "q87_cooccurrence": f"""
        WITH t AS (
            SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
        ), tp AS (
            SELECT doc_id, unnest(range(1, len(toks) + 1))::INT - 1 AS apos,
                   unnest(toks) AS a
            FROM t WHERE len(toks) > 0
        ), rt AS (
            SELECT doc_id, apos - k AS apos, b
            FROM (SELECT doc_id, apos, a AS b,
                         unnest(range(1, {COOC_WINDOW} + 1))::INT AS k
                  FROM tp) s
        )
        SELECT tp.a, rt.b, COUNT(*) AS n_cooc
        FROM tp JOIN rt ON tp.doc_id = rt.doc_id AND tp.apos = rt.apos
        GROUP BY 1, 2
        HAVING COUNT(*) >= {COOC_MIN}
        ORDER BY 1, 2
    """,
    "q80_bm25_query_join": f"""
        WITH q(qid, term) AS (VALUES {_BM25_QUERY_VALUES}),
        base AS (
            SELECT doc_id, len({_TOKENS_SQL})::DOUBLE AS dl, {_TOKENS_SQL} AS toks
            FROM documents
        ), stats AS (
            SELECT COUNT(*)::DOUBLE AS n_docs, SUM(dl) AS sum_dl FROM base
        ), tf AS (
            SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf
            FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
            WHERE term IN (SELECT DISTINCT term FROM q)
            GROUP BY 1, 2, 3
        ), dft AS (
            SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1
        ), sc AS (
            SELECT t.doc_id, t.term,
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * (t.tf * ({BM25_K1} + 1.0))
                   / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * t.dl / (s.sum_dl / s.n_docs)))
                       AS score
            FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
        ), pp AS (
            SELECT q.qid, sc.doc_id,
                   CAST(ROUND(SUM(CAST(ROUND(sc.score, 7) AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25,
                   COUNT(*) AS n_terms_matched
            FROM sc JOIN q USING (term)
            GROUP BY 1, 2
        ), rk AS (
            SELECT qid, doc_id, bm25, n_terms_matched,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rnk
            FROM pp
        )
        SELECT qid, doc_id, bm25, n_terms_matched, rnk::INT AS rank
        FROM rk WHERE rnk <= {BM25_JOIN_K}
        ORDER BY qid, rank
    """,
    "q77_bm25_topk": f"""
        WITH base AS (
            SELECT doc_id, len({_TOKENS_SQL})::DOUBLE AS dl, {_TOKENS_SQL} AS toks
            FROM documents
        ), stats AS (
            SELECT COUNT(*)::DOUBLE AS n_docs, SUM(dl) AS sum_dl FROM base
        ), tf AS (
            SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf
            FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
            WHERE term IN ({_BM25_TERMS_SQL})
            GROUP BY 1, 2, 3
        ), dft AS (
            SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1
        ), sc AS (
            SELECT t.doc_id, t.term,
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * (t.tf * ({BM25_K1} + 1.0))
                   / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * t.dl / (s.sum_dl / s.n_docs)))
                       AS score
            FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
        )
        SELECT doc_id,
               ROUND({_BM25_FIXED_SUM}, 6) AS bm25,
               COUNT(*) AS n_terms_matched
        FROM sc
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOPK}
    """,
    "q95_lm_quality_score": f"""
        WITH t AS (
            SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
        ), bg AS (
            SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks)))::INT AS i
                  FROM t WHERE len(toks) > 1)
        ), lm AS (
            SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b
        ), ctx AS (
            SELECT a, SUM(c_ab) AS c_a FROM lm GROUP BY a
        ), v AS (
            SELECT COUNT(DISTINCT tok) AS vsz
            FROM (SELECT unnest(toks) AS tok FROM t)
        ), scored AS (
            SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                   ROUND(CAST(SUM(CAST(ROUND(
                       -ln((c_ab + 0.5) / (c_a + 0.5 * vsz)), 7)
                       AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS avg_nll
            FROM bg JOIN lm USING (a, b) JOIN ctx USING (a) CROSS JOIN v
            GROUP BY bg.doc_id
        )
        SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.avg_nll
        FROM documents d LEFT JOIN scored s USING (doc_id)
        ORDER BY doc_id
    """,
    "q96_shard_overlap": f"""
        WITH sh AS (
            SELECT source, {_SHINGLES_SQL.format(toks=_TOKENS_SQL)} AS sh
            FROM documents
        ), st AS (
            SELECT DISTINCT source, s
            FROM (SELECT source, unnest(sh) AS s FROM sh)
        ), cnt AS (
            SELECT source, COUNT(*) AS n FROM st GROUP BY source
        ), inter AS (
            SELECT a.source AS ga, b.source AS gb, COUNT(*) AS n_common
            FROM st a JOIN st b ON a.s = b.s AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT ca.source AS group_a, cb.source AS group_b,
               COALESCE(i.n_common, 0) AS n_common,
               ROUND(COALESCE(i.n_common, 0)
                     / (ca.n + cb.n - COALESCE(i.n_common, 0))::DOUBLE, 6)
                   AS jaccard_exact,
               TRUE AS est_ok
        FROM cnt ca JOIN cnt cb ON ca.source < cb.source
        LEFT JOIN inter i ON i.ga = ca.source AND i.gb = cb.source
        ORDER BY group_a, group_b
    """,
})

# q135: the probe-side prefix cut is lossless for containment
# (overlap >= ceil(t|a|) forces a match inside a's first
# |a| - ceil(t|a|) + 1 ranked shingles), so the oracle is the full
# exact DIRECTIONAL pair set.
ORACLE["q135_containment_near_dups"] = f"""
    WITH sh AS (
        SELECT doc_id AS id, {_SHINGLES_SQL.format(toks=_TOKENS_SQL)} AS sh
        FROM documents
        WHERE doc_id % 3 = 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) / len(a.sh)::DOUBLE, 6)
               AS containment
    FROM sh a, sh b
    WHERE a.id <> b.id
      AND len(list_intersect(a.sh, b.sh)) > 0
      AND ROUND(len(list_intersect(a.sh, b.sh)) / len(a.sh)::DOUBLE, 6)
          >= {CONTAIN_T}
    ORDER BY id_a, id_b
"""

ORACLE["q137_vocab_growth"] = f"""
    WITH d AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), mx AS (
        SELECT MAX(doc_id) AS mx FROM documents
    ), cps AS (
        SELECT k.k::INT AS k,
               CAST(floor(((mx.mx + 1) * k.k) / 8.0) AS BIGINT) AS cp
        FROM mx, (SELECT unnest(range(1, 9)) AS k) k
    ), firsts AS (
        SELECT tok, MIN(doc_id) AS first_id
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
        GROUP BY tok
    ), docstats AS (
        SELECT c.k, c.cp,
               COUNT(CASE WHEN d.doc_id < c.cp THEN 1 END) AS n_docs,
               COALESCE(SUM(CASE WHEN d.doc_id < c.cp THEN len(d.toks) END), 0)::BIGINT
                   AS n_tokens_cum
        FROM d CROSS JOIN cps c GROUP BY c.k, c.cp
    ), vocab AS (
        SELECT c.k, COUNT(CASE WHEN f.first_id < c.cp THEN 1 END) AS vocab
        FROM firsts f CROSS JOIN cps c GROUP BY c.k
    )
    SELECT ds.k, ds.cp, ds.n_docs, ds.n_tokens_cum, v.vocab
    FROM docstats ds JOIN vocab v USING (k)
    ORDER BY k
"""

# q138: counts are integer-exact; the double-domain log-odds math is
# written as the IDENTICAL expression tree so both engines divide /
# ln / sqrt the same IEEE inputs (round-4 swallows libm 1-ulp jitter).
ORACLE["q138_keyness_by_source"] = f"""
    WITH tok AS (
        SELECT source AS grp, unnest({_TOKENS_SQL}) AS term FROM documents
    ), y AS (
        SELECT grp, term, COUNT(*) AS y FROM tok GROUP BY 1, 2
    ), cw AS (
        SELECT term, COUNT(*) AS cw FROM tok GROUP BY 1
    ), ni AS (
        SELECT grp, COUNT(*) AS n FROM tok GROUP BY 1
    ), c0 AS (
        SELECT COUNT(*) AS c0 FROM tok
    ), m AS (
        SELECT y.grp, y.term, y.y,
               y.y::DOUBLE AS dy, cw.cw::DOUBLE AS dcw,
               ni.n::DOUBLE AS dn, c0.c0::DOUBLE AS dc0
        FROM y JOIN cw USING (term) JOIN ni USING (grp), c0
        WHERE y.y >= {KEYNESS_MIN}
    )
    SELECT grp AS source, term, y,
           ROUND(
               ln((dy + {KEYNESS_PRIOR} * dcw)
                  / (dn + {KEYNESS_PRIOR} * dc0 - dy - {KEYNESS_PRIOR} * dcw))
             - ln(((dcw - dy) + {KEYNESS_PRIOR} * dcw)
                  / ((dc0 - dn) + {KEYNESS_PRIOR} * dc0
                     - (dcw - dy) - {KEYNESS_PRIOR} * dcw)), 4) AS log_odds,
           ROUND(
               (ln((dy + {KEYNESS_PRIOR} * dcw)
                   / (dn + {KEYNESS_PRIOR} * dc0 - dy - {KEYNESS_PRIOR} * dcw))
              - ln(((dcw - dy) + {KEYNESS_PRIOR} * dcw)
                   / ((dc0 - dn) + {KEYNESS_PRIOR} * dc0
                      - (dcw - dy) - {KEYNESS_PRIOR} * dcw)))
               / sqrt(1.0 / (dy + {KEYNESS_PRIOR} * dcw)
                      + 1.0 / ((dcw - dy) + {KEYNESS_PRIOR} * dcw)), 4) AS z
    FROM m
    ORDER BY source, term
"""

ORACLE["q158_lang_source_mi"] = """
    WITH cell AS (
        SELECT lang, source, COUNT(*) AS n_xy FROM documents GROUP BY 1, 2
    ), mx AS (
        SELECT lang, COUNT(*) AS nx FROM documents GROUP BY 1
    ), my AS (
        SELECT source, COUNT(*) AS ny FROM documents GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS n FROM documents
    )
    SELECT c.lang, c.source, c.n_xy,
           ROUND(ln(c.n_xy::DOUBLE * t.n::DOUBLE
                    / (mx.nx::DOUBLE * my.ny::DOUBLE)), 6) AS pmi,
           ROUND((c.n_xy::DOUBLE / t.n::DOUBLE)
                 * ln(c.n_xy::DOUBLE * t.n::DOUBLE
                      / (mx.nx::DOUBLE * my.ny::DOUBLE)), 6) AS mi_term
    FROM cell c JOIN mx USING (lang) JOIN my USING (source), tot t
    ORDER BY c.lang, c.source
"""

_HYBRID_QUERY_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in HYBRID_QUERY_SET for t in terms
)
_HYBRID_QIDS = ", ".join(str(qid) for qid, _ in HYBRID_QUERY_SET)
_RRF_SQL = (
    f"COALESCE(1.0 / (lex_rank + {RRF_C}), 0.0)"
    f" + COALESCE(1.0 / (vec_rank + {RRF_C}), 0.0)"
)
# q147: both rankers replicated exactly (the q80 BM25 pipeline over the
# filtered corpus; the q65 cosine top-k), fused on integer ranks.
ORACLE["q147_hybrid_retrieval_rrf"] = f"""
    WITH q(qid, term) AS (VALUES {_HYBRID_QUERY_VALUES}),
    base AS (
        SELECT doc_id, len({_TOKENS_SQL})::DOUBLE AS dl, {_TOKENS_SQL} AS toks
        FROM documents WHERE doc_id % 100 <> 0
    ), stats AS (
        SELECT COUNT(*)::DOUBLE AS n_docs, SUM(dl) AS sum_dl FROM base
    ), tf AS (
        SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
        WHERE term IN (SELECT DISTINCT term FROM q)
        GROUP BY 1, 2, 3
    ), dft AS (
        SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1
    ), sc AS (
        SELECT t.doc_id, t.term,
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (t.tf * ({BM25_K1} + 1.0))
               / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * t.dl / (s.sum_dl / s.n_docs)))
                   AS score
        FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
    ), pp AS (
        SELECT q.qid, sc.doc_id,
               CAST(ROUND(SUM(CAST(ROUND(sc.score, 7) AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25
        FROM sc JOIN q USING (term)
        GROUP BY 1, 2
    ), lex AS (
        SELECT qid, doc_id, rnk::INT AS lex_rank FROM (
            SELECT qid, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY bm25 DESC, doc_id) AS rnk
            FROM pp
        ) WHERE rnk <= {HYBRID_K}
    ), vq AS (
        SELECT vec_id::INT AS qid,
               list_transform(embedding, x -> x::DOUBLE) AS qe
        FROM embeddings WHERE vec_id IN ({_HYBRID_QIDS})
    ), e AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ee
        FROM embeddings WHERE vec_id % 100 <> 0
    ), s2 AS (
        SELECT vq.qid, e.vec_id AS doc_id,
               ROUND(list_sum(list_transform(range(1, len(ee) + 1),
                                             i -> ee[i] * qe[i]))
                     / (sqrt(list_sum(list_transform(ee, x -> x * x)))
                        * sqrt(list_sum(list_transform(qe, x -> x * x)))), 6)
                   AS cosine
        FROM e CROSS JOIN vq
    ), vec AS (
        SELECT qid, doc_id, rnk::INT AS vec_rank FROM (
            SELECT qid, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cosine DESC, doc_id) AS rnk
            FROM s2
        ) WHERE rnk <= {HYBRID_K}
    ), f AS (
        SELECT COALESCE(l.qid, v.qid) AS qid,
               COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank, v.vec_rank
        FROM lex l FULL JOIN vec v
          ON l.qid = v.qid AND l.doc_id = v.doc_id
    )
    SELECT qid, doc_id, lex_rank, vec_rank,
           ROUND({_RRF_SQL}, 6) AS rrf,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY {_RRF_SQL} DESC, doc_id) AS INT)
               AS hybrid_rank
    FROM f
    ORDER BY qid, hybrid_rank
"""

# q179 replays q80's full BM25 ranking chain, then grades it: the DCG
# term rounds to 9dp before DECIMAL accumulation, and the log2
# discount is ln(rank+1) with the 1/ln(2) constant folded into a
# multiply (ln is the cross-engine-proven transcendental).
_NDCG_TERM = (
    "CAST(ROUND((POW(2.0, {rel}) - 1.0) * {ln2} / LN({rank} + 1.0), 9)"
    " AS DECIMAL(28,10))"
)
ORACLE["q179_retrieval_ndcg"] = f"""
    WITH q(qid, term) AS (VALUES {_BM25_QUERY_VALUES}),
    base AS (
        SELECT doc_id, len({_TOKENS_SQL})::DOUBLE AS dl, {_TOKENS_SQL} AS toks
        FROM documents
    ), stats AS (
        SELECT COUNT(*)::DOUBLE AS n_docs, SUM(dl) AS sum_dl FROM base
    ), tf AS (
        SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
        WHERE term IN (SELECT DISTINCT term FROM q)
        GROUP BY 1, 2, 3
    ), dft AS (
        SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1
    ), sc AS (
        SELECT t.doc_id, t.term,
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (t.tf * ({BM25_K1} + 1.0))
               / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * t.dl / (s.sum_dl / s.n_docs)))
                   AS score
        FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
    ), pp AS (
        SELECT q.qid, sc.doc_id,
               CAST(ROUND(SUM(CAST(ROUND(sc.score, 7) AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25
        FROM sc JOIN q USING (term)
        GROUP BY 1, 2
    ), retr AS (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
        FROM pp
        QUALIFY rank <= {NDCG_K}
    ), docterms AS (
        SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS term
        FROM documents
    ), rel AS (
        SELECT q.qid, dt.doc_id, COUNT(*) AS rel
        FROM docterms dt JOIN q USING (term)
        GROUP BY 1, 2
    ), dcg AS (
        SELECT r.qid, COUNT(*)::BIGINT AS n_retrieved,
               CAST(ROUND(SUM({_NDCG_TERM.format(rel="COALESCE(rel.rel, 0)", rank="r.rank", ln2=LN2)}), 6) AS DOUBLE) AS dcg
        FROM retr r
        LEFT JOIN rel ON r.qid = rel.qid AND r.doc_id = rel.doc_id
        GROUP BY 1
    ), ideal AS (
        SELECT qid, rel,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS irank
        FROM rel
        QUALIFY irank <= {NDCG_K}
    ), idcg AS (
        SELECT qid,
               CAST(ROUND(SUM({_NDCG_TERM.format(rel="rel", rank="irank", ln2=LN2)}), 6) AS DOUBLE) AS idcg
        FROM ideal
        GROUP BY 1
    )
    SELECT d.qid, d.n_retrieved, d.dcg, i.idcg,
           ROUND(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN idcg i USING (qid)
    ORDER BY d.qid
"""


PMI_MIN_COUNT = 10
PMI_TOP = 30


def q184_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-30 adjacent bigrams by pointwise mutual
    information, PMI = ln p(a,b) − ln p(a) − ln p(b) with p() over
    adjacent-position counts — the classic multiword-expression
    detector ("new york"-style units a tokenizer or phrase table wants
    as one symbol). Shape: one corpus scan feeds BOTH the bigram and
    unigram hash aggregates (the bigram array is two slices + zip_with
    of the token array — no positional self-join); totals ride in as
    broadcast one-row frames; the top-k is one TakeOrdered under the
    total order (pmi DESC rounded 6dp, t_a, t_b). PMI is a fixed
    left-to-right sum of six ln() terms of exact integers — identical
    IEEE doubles in both engines (the q179 discipline: ln is the
    cross-engine-proven transcendental)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T_ops.tokens(F.col("text"))
    uni = (
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    big = (
        T_ops.bigram_pairs(docs, "doc_id", "text")
        .select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
        .groupBy("t_a", "t_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    n_tok = uni.agg(F.sum("c_t").alias("n_tok"))
    n_big = docs.select(
        F.greatest(F.size(toks) - 1, F.lit(0)).alias("m")
    ).agg(F.sum("m").alias("n_big"))
    ua = uni.select(F.col("t").alias("t_a"), F.col("c_t").alias("c_a"))
    ub = uni.select(F.col("t").alias("t_b"), F.col("c_t").alias("c_b"))
    pmi = (
        F.log(F.col("c_ab").cast("double"))
        + F.log(F.col("n_tok").cast("double"))
        + F.log(F.col("n_tok").cast("double"))
        - F.log(F.col("n_big").cast("double"))
        - F.log(F.col("c_a").cast("double"))
        - F.log(F.col("c_b").cast("double"))
    )
    return (
        big.join(ua, "t_a")
        .join(ub, "t_b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select("t_a", "t_b", "c_ab", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "t_a", "t_b")
        .limit(PMI_TOP)
    )


ORACLE["q184_pmi_collocations"] = f"""
    WITH toks AS (
        SELECT {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS t FROM documents
    ), uni AS (
        SELECT u AS t, COUNT(*) AS c_t
        FROM (SELECT unnest(t) AS u FROM toks)
        GROUP BY 1
    ), big AS (
        SELECT t_a, t_b, COUNT(*) AS c_ab
        FROM (SELECT unnest(list_transform(range(1, len(t)),
                      i -> {{'t_a': t[i], 't_b': t[i + 1]}}), recursive := true)
              FROM toks)
        GROUP BY 1, 2
        HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ), n_tok AS (
        SELECT SUM(c_t) AS n_tok FROM uni
    ), n_big AS (
        SELECT SUM(GREATEST(len(t) - 1, 0)) AS n_big FROM toks
    )
    SELECT b.t_a, b.t_b, b.c_ab,
           ROUND(LN(CAST(b.c_ab AS DOUBLE))
                 + LN(CAST(n_tok.n_tok AS DOUBLE))
                 + LN(CAST(n_tok.n_tok AS DOUBLE))
                 - LN(CAST(n_big.n_big AS DOUBLE))
                 - LN(CAST(ua.c_t AS DOUBLE))
                 - LN(CAST(ub.c_t AS DOUBLE)), 6) AS pmi
    FROM big b
    JOIN uni ua ON ua.t = b.t_a
    JOIN uni ub ON ub.t = b.t_b
    CROSS JOIN n_tok CROSS JOIN n_big
    ORDER BY pmi DESC, b.t_a, b.t_b
    LIMIT {PMI_TOP}
"""

QUERIES["q184_pmi_collocations"] = q184_pmi_collocations


def q194_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — subtokens per whitespace word
    and per character, the budgeting statistic behind multilingual
    token pricing and context-length planning (fertility >> 1 means a
    language pays more tokens for the same text). One narrow scan
    computes both counts per document; one hash rollup per lang;
    ratios divide exact integer sums (identical doubles cross-engine).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(T_ops.tokens(F.col("text"))).cast("long").alias("n_words"),
        T_ops.subtoken_count(F.col("text")).cast("long").alias("n_sub"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_sub").alias("n_subtokens"),
            F.round(F.sum("n_sub") / F.sum("n_words"), 6).alias("fertility"),
            F.round(F.sum("n_sub") / F.sum("n_chars"), 6).alias(
                "subtokens_per_char"
            ),
        )
        .orderBy("lang")
    )


ORACLE["q194_tokenizer_fertility"] = f"""
    WITH per_doc AS (
        SELECT lang,
               len({T_ops.TOKENS_SQL_DUCKDB.format(col="text")})::BIGINT AS n_words,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_sub,
               length(text)::BIGINT AS n_chars
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           SUM(n_words)::BIGINT AS n_words,
           SUM(n_sub)::BIGINT AS n_subtokens,
           ROUND(CAST(SUM(n_sub) AS DOUBLE) / SUM(n_words), 6) AS fertility,
           ROUND(CAST(SUM(n_sub) AS DOUBLE) / SUM(n_chars), 6)
               AS subtokens_per_char
    FROM per_doc
    GROUP BY 1
    ORDER BY 1
"""

QUERIES["q194_tokenizer_fertility"] = q194_tokenizer_fertility


WJ_THRESHOLD = 0.3
WJ_MOD = 2


def q198_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard near-dup pairs: overlap on RARE shingles
    counts more than overlap on boilerplate ones — sim = Σw(A∩B) /
    (Σw(A) + Σw(B) − Σw(A∩B)) with w = ln(1 + N/df), the weighted-set
    refinement of q36's exact Jaccard (a pair of docs sharing one rare
    quote scores higher than a pair sharing three stock phrases).
    Shape: the inverted-index join on shingles bounds candidates by
    shared-shingle document frequency (never corpus²); weights round
    to 9dp and accumulate in DECIMAL so per-pair sums are
    order-independent and engine-exact; the final ratio is one double
    division rounded 6dp."""
    from batchprocessingetl_spark.operators.dedup import shingle_frame

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % WJ_MOD == 0
    )
    # inner-explode discipline: see operators/dedup.shingles_of_tokens
    sh = shingle_frame(docs, "doc_id", "text").select(
        "id", F.explode(F.array_distinct("sh")).alias("s")
    )
    n_docs = docs.count()
    w = F.round(
        F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df")), 9
    ).cast("decimal(28,10)")
    wt = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .select("s", w.alias("w"))
    )
    shw = sh.join(wt, "s")
    tot = shw.groupBy("id").agg(F.sum("w").alias("tw"))
    a = shw.select(F.col("id").alias("id_a"), "s", F.col("w").alias("wa"))
    b = shw.select(F.col("id").alias("id_b"), "s")
    inter = (
        a.join(b, ["s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum("wa").alias("iw"))
    )
    ta = tot.select(F.col("id").alias("id_a"), F.col("tw").alias("ta"))
    tb = tot.select(F.col("id").alias("id_b"), F.col("tw").alias("tb"))
    ratio = F.col("iw").cast("double") / (
        F.col("ta") + F.col("tb") - F.col("iw")
    ).cast("double")
    return (
        inter.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(ratio >= WJ_THRESHOLD)
        .select("id_a", "id_b", F.round(ratio, 6).alias("wjaccard"))
        .orderBy("id_a", "id_b")
    )


ORACLE["q198_weighted_jaccard_pairs"] = f"""
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE doc_id % {WJ_MOD} = 0
    ), sh AS (
        SELECT doc_id AS id,
               unnest({_SHINGLES_SQL.format(toks=_TOKENS_SQL)}) AS s
        FROM d
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM d
    ), wt AS (
        SELECT s, CAST(ROUND(LN(1.0 + (SELECT n_docs FROM n)::DOUBLE
                                      / COUNT(*)), 9)
                       AS DECIMAL(28,10)) AS w
        FROM sh GROUP BY s
    ), shw AS (
        SELECT sh.id, sh.s, wt.w FROM sh JOIN wt USING (s)
    ), tot AS (
        SELECT id, SUM(w) AS tw FROM shw GROUP BY 1
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, SUM(a.w) AS iw
        FROM shw a JOIN shw b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(i.iw AS DOUBLE)
                 / CAST(ta.tw + tb.tw - i.iw AS DOUBLE), 6) AS wjaccard
    FROM inter i
    JOIN tot ta ON ta.id = i.id_a
    JOIN tot tb ON tb.id = i.id_b
    WHERE CAST(i.iw AS DOUBLE) / CAST(ta.tw + tb.tw - i.iw AS DOUBLE)
          >= {WJ_THRESHOLD}
    ORDER BY i.id_a, i.id_b
"""

QUERIES["q198_weighted_jaccard_pairs"] = q198_weighted_jaccard_pairs


def q199_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus data card — the summary block of a dataset
    documentation page (Datasheets/Data Cards practice): volume
    (docs, tokens, vocabulary), exact-duplicate rate (md5 content
    groups), length distribution (interpolated p50/p95), and language
    balance (Shannon entropy of the lang mix, bits). Everything is a
    first-pass aggregate over one scan plus two tiny rollups
    (vocab = distinct tokens; dup groups = distinct hashes); entropy
    sums per-lang -p·log2(p) terms rounded 9dp in DECIMAL
    (order-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T_ops.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.col("text")).alias("h"),
    )
    vol = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.count_distinct("h").alias("n_unique_contents"),
        F.percentile(F.col("n_chars").cast("double"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("n_chars").cast("double"), F.lit(0.95)).alias("p95"),
    )
    vocab = (
        docs.select(F.explode(toks).alias("t"))
        .agg(F.count_distinct("t").alias("vocab_size"))
    )
    lang_n = base.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    lang_tot = lang_n.agg(F.sum("nl").alias("nt"))
    p = F.col("nl") / F.col("nt")
    ent = (
        lang_n.crossJoin(F.broadcast(lang_tot))
        .select(
            F.round(-p * F.log2(p), 9).cast("decimal(28,10)").alias("term")
        )
        .agg(F.round(F.sum("term"), 6).cast("double").alias("lang_entropy_bits"))
    )
    return (
        vol.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            F.round(
                (F.col("n_docs") - F.col("n_unique_contents"))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("exact_dup_rate"),
            F.round(F.col("p50"), 4).alias("chars_p50"),
            F.round(F.col("p95"), 4).alias("chars_p95"),
            "lang_entropy_bits",
        )
    )


ORACLE["q199_corpus_datacard"] = f"""
    WITH base AS (
        SELECT doc_id, lang,
               len({_TOKENS_SQL})::BIGINT AS n_tok,
               length(text)::BIGINT AS n_chars,
               md5(text) AS h
        FROM documents
    ), vol AS (
        SELECT COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
               COUNT(DISTINCT h) AS n_unique,
               quantile_cont(n_chars::DOUBLE, 0.5) AS p50,
               quantile_cont(n_chars::DOUBLE, 0.95) AS p95
        FROM base
    ), vocab AS (
        SELECT COUNT(DISTINCT t) AS vocab_size
        FROM (SELECT unnest({_TOKENS_SQL}) AS t FROM documents)
    ), lang_n AS (
        SELECT lang, COUNT(*) AS nl FROM base GROUP BY 1
    ), ent AS (
        SELECT CAST(ROUND(SUM(CAST(ROUND(
                   -(nl / nt::DOUBLE) * log2(nl / nt::DOUBLE), 9)
                   AS DECIMAL(28,10))), 6) AS DOUBLE) AS lang_entropy_bits
        FROM lang_n, (SELECT SUM(nl) AS nt FROM lang_n)
    )
    SELECT v.n_docs, v.n_tokens, vb.vocab_size,
           ROUND((v.n_docs - v.n_unique) / v.n_docs::DOUBLE, 6)
               AS exact_dup_rate,
           ROUND(v.p50, 4) AS chars_p50,
           ROUND(v.p95, 4) AS chars_p95,
           e.lang_entropy_bits
    FROM vol v, vocab vb, ent e
"""

QUERIES["q199_corpus_datacard"] = q199_corpus_datacard


def _langpred_cte() -> str:
    """(doc_id, lang, predicted_lang) CTE body — the q39 prediction
    replica, reusable by agreement-metric oracles."""
    profiles = T_ops.LANG_PROFILES
    scored_cols = ", ".join(
        "len(list_intersect(toks, ["
        + ", ".join(f"'{w}'" for w in words)
        + f"]))::INT AS n_{lang}"
        for lang, words in profiles.items()
    )
    pred_whens = " ".join(
        "WHEN "
        + " AND ".join(f"n_{lang} >= n_{o}" for o in profiles if o != lang)
        + f" AND n_{lang} > 0 THEN '{lang}'"
        for lang in profiles
    )
    return f"""t AS (
        SELECT doc_id, lang, text,
               list_distinct(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\\s+'),
                   x -> x <> '')) AS toks
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, text, {scored_cols} FROM t
    ), pred AS (
        SELECT doc_id, lang,
               CASE WHEN length(regexp_replace(text,
                        '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) < length(text)
                    THEN 'zh'
                    {pred_whens}
                    ELSE 'und' END AS predicted_lang
        FROM scored
    )"""


def q205_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement of the language-ID heuristic against the
    corpus labels — Cohen's kappa over the (lang, predicted_lang)
    confusion matrix: kappa = (p_o − p_e)/(1 − p_e) with chance
    agreement from the marginals. The eval-metric family member for
    categorical predictions, next to AUC (q169), ECE (q180), and
    nDCG (q179). One scan builds per-doc predictions (q39's exact
    operator); everything after is arithmetic on the |labels|²
    confusion frame, engine-exact from integer counts."""
    docs = load_table(spark, sf_dir, "documents")
    pred = T_ops.with_language_id(docs, "text").select("lang", "predicted_lang")
    cm = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_tot = cm.agg(F.sum("n").alias("nt"))
    diag = cm.filter(F.col("lang") == F.col("predicted_lang")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("agree")
    )
    rows = cm.groupBy("lang").agg(F.sum("n").alias("r"))
    cols = cm.groupBy("predicted_lang").agg(F.sum("n").alias("c"))
    chance = (
        rows.join(cols, rows["lang"] == cols["predicted_lang"])
        .agg(F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0)).alias("rc"))
    )
    po = F.col("agree") / F.col("nt")
    pe = F.col("rc") / (F.col("nt").cast("double") * F.col("nt"))
    return (
        diag.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(chance))
        .select(
            F.col("nt").alias("n_docs"),
            F.col("agree").alias("n_agree"),
            F.round(po, 6).alias("p_observed"),
            F.round(pe, 6).alias("p_chance"),
            F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        )
    )


ORACLE["q205_cohens_kappa"] = f"""
    WITH {_langpred_cte()}, cm AS (
        SELECT lang, predicted_lang, COUNT(*) AS n
        FROM pred GROUP BY 1, 2
    ), tot AS (
        SELECT SUM(n) AS nt FROM cm
    ), diag AS (
        SELECT COALESCE(SUM(n), 0) AS agree
        FROM cm WHERE lang = predicted_lang
    ), marg AS (
        SELECT COALESCE(SUM(r.r * c.c), 0) AS rc
        FROM (SELECT lang, SUM(n) AS r FROM cm GROUP BY 1) r
        JOIN (SELECT predicted_lang, SUM(n) AS c FROM cm GROUP BY 1) c
          ON r.lang = c.predicted_lang
    )
    SELECT CAST(t.nt AS BIGINT) AS n_docs,
           CAST(d.agree AS BIGINT) AS n_agree,
           ROUND(d.agree / t.nt::DOUBLE, 6) AS p_observed,
           ROUND(m.rc / (t.nt::DOUBLE * t.nt), 6) AS p_chance,
           ROUND((d.agree / t.nt::DOUBLE - m.rc / (t.nt::DOUBLE * t.nt))
                 / (1.0 - m.rc / (t.nt::DOUBLE * t.nt)), 6) AS kappa
    FROM diag d, tot t, marg m
"""

QUERIES["q205_cohens_kappa"] = q205_cohens_kappa


ZIPF_TOP = 500


def q216_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus term-frequency distribution: OLS
    of ln(freq) on ln(rank) over the top-500 terms — the sanity probe
    that a crawl slice is natural language (slope ≈ −1) rather than
    boilerplate spam (flat head) or key-value noise (cliff). The
    explode/hash-agg word count is the only fact pass; the rank window
    runs on the vocab-grain frame with a deterministic (freq DESC,
    term ASC) order. ln() points round to 9dp, every sufficient
    statistic (Sx, Sy, Sxx, Sxy, Syy) accumulates in DECIMAL from
    9dp-rounded terms, and slope/intercept/r² are closed-form doubles
    of those exact sums — order-independent, cross-engine identical."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(T_ops.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    top = tf.select("cnt", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= ZIPF_TOP
    )
    x = F.round(F.log(F.col("rank").cast("double")), 9)
    y = F.round(F.log(F.col("cnt").cast("double")), 9)
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    sums = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(x)).cast("double").alias("sx"),
        F.sum(dec(y)).cast("double").alias("sy"),
        F.sum(dec(x * x)).cast("double").alias("sxx"),
        F.sum(dec(x * y)).cast("double").alias("sxy"),
        F.sum(dec(y * y)).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return sums.select(
        "n",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


ORACLE["q216_zipf_slope"] = f"""
    WITH tf AS (
        SELECT t.term, COUNT(*) AS cnt
        FROM documents d,
             UNNEST({T_ops.TOKENS_SQL_DUCKDB.format(col='d.text')}) AS t(term)
        GROUP BY 1
    ), top AS (
        SELECT cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank
        FROM tf
        QUALIFY rank <= {ZIPF_TOP}
    ), pts AS (
        SELECT ROUND(LN(rank::DOUBLE), 9) AS x, ROUND(LN(cnt::DOUBLE), 9) AS y
        FROM top
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syy
        FROM pts
    )
    SELECT n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n::DOUBLE, 6) AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM sums
"""

QUERIES["q216_zipf_slope"] = q216_zipf_slope


FH_BITS = 12  # 2^12 = 4096 hash buckets


def q222_feature_hash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit: map every
    distinct corpus term to one of 2^FH_BITS buckets with an
    engine-independent md5 hash and report what the trick costs — how
    many terms collide, how much document-frequency mass lands in
    shared buckets, and the heaviest bucket's term count. This is the
    audit run before fixing a hashed-feature width for a linear model
    over a 100 TB corpus: everything is two hash aggregates (term df,
    then bucket rollup), no windows, no sort beyond the one-row
    output. The vocabulary frame the buckets aggregate is already
    sublinear in the corpus (Heaps' law), so the audit's cost is the
    tokenize scan."""
    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select(
            F.explode(T_ops.tokens(F.col("text"))).alias("tok"), "doc_id"
        )
        .groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    bucketed = terms.withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        % (2**FH_BITS),
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("df").alias("df_mass"),
    )
    return per_bucket.agg(
        F.sum("n_terms").cast("long").alias("n_terms"),
        F.count(F.lit(1)).cast("long").alias("buckets_used"),
        (F.sum("n_terms") - F.count(F.lit(1))).cast("long").alias("colliding_terms"),
        F.max("n_terms").cast("long").alias("max_bucket_terms"),
        F.sum("df_mass").cast("long").alias("df_mass_total"),
        F.sum(F.when(F.col("n_terms") >= 2, F.col("df_mass")).otherwise(F.lit(0)))
        .cast("long")
        .alias("df_mass_shared"),
        F.round(
            F.sum(F.when(F.col("n_terms") >= 2, F.col("df_mass")).otherwise(F.lit(0)))
            / F.sum("df_mass").cast("double"),
            6,
        ).alias("shared_mass_frac"),
    )


ORACLE["q222_feature_hash_audit"] = f"""
    WITH terms AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df
        FROM (
            SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
        )
        GROUP BY 1
    ), bucketed AS (
        SELECT tok, df,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % {2**FH_BITS} AS bucket
        FROM terms
    ), per_bucket AS (
        SELECT bucket, COUNT(*) AS n_terms, SUM(df) AS df_mass
        FROM bucketed GROUP BY 1
    )
    SELECT CAST(SUM(n_terms) AS BIGINT) AS n_terms,
           CAST(COUNT(*) AS BIGINT) AS buckets_used,
           CAST(SUM(n_terms) - COUNT(*) AS BIGINT) AS colliding_terms,
           CAST(MAX(n_terms) AS BIGINT) AS max_bucket_terms,
           CAST(SUM(df_mass) AS BIGINT) AS df_mass_total,
           CAST(SUM(CASE WHEN n_terms >= 2 THEN df_mass ELSE 0 END) AS BIGINT)
               AS df_mass_shared,
           ROUND(SUM(CASE WHEN n_terms >= 2 THEN df_mass ELSE 0 END)
                 / CAST(SUM(df_mass) AS DOUBLE), 6) AS shared_mass_frac
    FROM per_bucket
"""

QUERIES["q222_feature_hash_audit"] = q222_feature_hash_audit


BQ_BANDS, BQ_WIDTH = 4, 15  # 60-bit SimHash split into 4 x 15-bit blocking keys
BQ_JACCARD_T = 0.2  # ground-truth near-dup threshold (q37's)


def q225_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit: before trusting a banded-LSH dedup at
    100 TB, measure what the BLOCKING step alone buys and loses —
    pairs completeness (share of true near-duplicates whose members
    share at least one SimHash band bucket) and reduction ratio (share
    of the O(n²) pair space the blocker never generates). This is the
    standard entity-resolution evaluation (candidates from the 4×15-bit
    band join BEFORE any verify step; ground truth from the exact
    n-gram Jaccard pair set at q37's threshold). Only the one-row
    metric survives to the driver; the candidate set itself stays a
    band equi-join, never a cross join. The O(n²) ground truth is
    oracle-affordable only at test scale — at production scale the
    audit runs on a fixed-size sampled slice, same plan."""
    from batchprocessingetl_spark.operators.dedup import (
        jaccard_pairs,
        simhash60_md5,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash60_md5(docs, "doc_id", "text")
    mask = (1 << BQ_WIDTH) - 1
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash"), i * BQ_WIDTH)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(BQ_BANDS)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_val")
    a = banded.select(F.col("id").alias("id_a"), "band_idx", "band_val")
    b = banded.select(F.col("id").alias("id_b"), "band_idx", "band_val")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    truth = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=BQ_JACCARD_T
    ).select("id_a", "id_b")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    counts = (
        cand.withColumn("is_cand", F.lit(1))
        .join(truth.withColumn("is_true", F.lit(1)), ["id_a", "id_b"], "full_outer")
        .agg(
            F.sum("is_cand").cast("long").alias("n_candidates"),
            F.sum("is_true").cast("long").alias("n_truth"),
            F.sum(F.col("is_cand") * F.col("is_true")).cast("long").alias("n_hits"),
        )
    )
    return counts.crossJoin(F.broadcast(n_docs)).select(
        "n_docs",
        F.expr("n_docs * (n_docs - 1) div 2").cast("long").alias("n_possible"),
        "n_candidates",
        "n_truth",
        "n_hits",
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("n_hits") / F.col("n_truth").cast("double"), 6))
        .alias("completeness"),
        F.round(
            F.lit(1.0)
            - F.col("n_candidates")
            / F.expr("n_docs * (n_docs - 1) div 2").cast("double"),
            6,
        ).alias("reduction_ratio"),
    )


ORACLE["q225_blocking_quality"] = f"""
    WITH {_SIMHASH_SIG_CTES},
    bands AS (
        SELECT s.doc_id, i.i AS band_idx,
               (s.simhash >> (i.i * {BQ_WIDTH})) & {(1 << BQ_WIDTH) - 1} AS band_val
        FROM sig s CROSS JOIN (SELECT unnest(range(0, {BQ_BANDS})) AS i) i
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
    ), sh AS (
        SELECT doc_id AS id, {{shingles}} AS sh FROM documents
    ), truth AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM sh a, sh b
        WHERE a.id < b.id
          AND len(list_intersect(a.sh, b.sh)) > 0
          AND len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
              >= {BQ_JACCARD_T}
    ), joined AS (
        SELECT COALESCE(c.ic, 0) AS is_cand, COALESCE(t.it, 0) AS is_true
        FROM (SELECT id_a, id_b, 1 AS ic FROM cand) c
        FULL OUTER JOIN (SELECT id_a, id_b, 1 AS it FROM truth) t
          USING (id_a, id_b)
    ), counts AS (
        SELECT SUM(is_cand) AS n_candidates, SUM(is_true) AS n_truth,
               SUM(is_cand * is_true) AS n_hits
        FROM joined
    ), nd AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT CAST(nd.n_docs AS BIGINT) AS n_docs,
           CAST(nd.n_docs * (nd.n_docs - 1) // 2 AS BIGINT) AS n_possible,
           CAST(counts.n_candidates AS BIGINT) AS n_candidates,
           CAST(counts.n_truth AS BIGINT) AS n_truth,
           CAST(counts.n_hits AS BIGINT) AS n_hits,
           CASE WHEN counts.n_truth = 0 THEN 1.0
                ELSE ROUND(counts.n_hits / CAST(counts.n_truth AS DOUBLE), 6)
           END AS completeness,
           ROUND(1.0 - counts.n_candidates
                 / CAST(nd.n_docs * (nd.n_docs - 1) // 2 AS DOUBLE), 6)
               AS reduction_ratio
    FROM counts, nd
"""
ORACLE["q225_blocking_quality"] = ORACLE["q225_blocking_quality"].replace(
    "{shingles}", _SHINGLES_SQL.format(toks=_TOKENS_SQL)
)

QUERIES["q225_blocking_quality"] = q225_blocking_quality


NB_FOLDS = 5  # md5 fold 0 is the held-out test split


def _nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained AND scored
    entirely in-plan — the supervised twin of the heuristic lang-id:
    token likelihoods with Laplace smoothing from the 80% train split,
    log-scores for the held-out 20%, argmax prediction, and the
    confusion matrix as output. Every log term is rounded to 9dp and
    accumulated in DECIMAL(28,9) (the q217 discipline), so class
    scores are exact integers-of-1e-9 on both engines and the argmax
    (score DESC, class ASC — a total order) is deterministic
    cross-engine. Shapes: the likelihood table is (class × vocab) —
    vocab grows sublinearly (Heaps), classes are fixed — and scoring
    is one posting-grain join against it; no window ever sees more
    than one test document's five class rows. Test tokens outside the
    train vocabulary are dropped (standard NB practice), so a test doc
    with no in-vocab tokens is absent from the matrix on both engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("nb:"), F.col("doc_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % NB_FOLDS
        ).alias("fold"),
    )
    posting = docs.select(
        "doc_id", "lang", "fold", F.explode(T_ops.tokens(F.col("text"))).alias("tok")
    ).groupBy("doc_id", "lang", "fold", "tok").agg(F.count(F.lit(1)).alias("c"))
    train = posting.filter(F.col("fold") != 0)
    test = posting.filter(F.col("fold") == 0)

    tr_docs = docs.filter(F.col("fold") != 0)
    n_tot = tr_docs.agg(F.count(F.lit(1)).alias("n_all"))
    priors = (
        tr_docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_c"))
        .crossJoin(F.broadcast(n_tot))
        .select(
            F.col("lang").alias("cls"),
            F.round(F.log(F.col("n_c") / F.col("n_all").cast("double")), 9)
            .cast("decimal(28,9)")
            .alias("prior"),
        )
    )
    tokc = train.groupBy(F.col("lang").alias("cls"), "tok").agg(
        F.sum("c").alias("cnt")
    )
    totc = tokc.groupBy("cls").agg(F.sum("cnt").alias("tot"))
    vocab = train.select("tok").distinct()
    vv = vocab.agg(F.count(F.lit(1)).alias("v"))
    ll = (
        tokc.join(totc, "cls")
        .crossJoin(F.broadcast(vv))
        .select(
            "cls",
            "tok",
            F.round(
                F.log((F.col("cnt") + 1) / (F.col("tot") + F.col("v")).cast("double")),
                9,
            )
            .cast("decimal(28,9)")
            .alias("ll"),
        )
    )
    ll0 = (
        totc.crossJoin(F.broadcast(vv))
        .select(
            "cls",
            F.round(
                F.log(F.lit(1.0) / (F.col("tot") + F.col("v")).cast("double")), 9
            )
            .cast("decimal(28,9)")
            .alias("ll0"),
        )
    )
    t_iv = test.join(vocab, "tok").select(
        "doc_id", F.col("lang").alias("true_lang"), "tok", "c"
    )
    scored = (
        t_iv.crossJoin(F.broadcast(priors.select("cls")))
        .join(ll, ["cls", "tok"], "left")
        .join(F.broadcast(ll0), "cls")
        .select(
            "doc_id",
            "true_lang",
            "cls",
            (F.col("c") * F.coalesce(F.col("ll"), F.col("ll0"))).alias("term"),
        )
        .groupBy("doc_id", "true_lang", "cls")
        .agg(F.sum("term").alias("s"))
        .join(F.broadcast(priors), "cls")
        .select(
            "doc_id", "true_lang", "cls", (F.col("s") + F.col("prior")).alias("score")
        )
    )
    from pyspark.sql.window import Window as W

    wd = W.partitionBy("doc_id").orderBy(F.desc("score"), F.col("cls"))
    return (
        scored.withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") == 1)
        .select("doc_id", "true_lang", F.col("cls").alias("pred_lang"))
    )


def q227_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _nb_predictions(spark, sf_dir)
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


q227_naive_bayes_langid.__doc__ = _nb_predictions.__doc__


_NB_PRED_CTES = f"""
    WITH d AS (
        SELECT doc_id, lang, text,
               ('0x' || substr(md5('nb:' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % {NB_FOLDS} AS fold
        FROM documents
    ), posting AS (
        SELECT doc_id, lang, fold, tok, COUNT(*) AS c
        FROM (SELECT doc_id, lang, fold, unnest({_TOKENS_SQL}) AS tok FROM d)
        GROUP BY 1, 2, 3, 4
    ), train AS (SELECT * FROM posting WHERE fold <> 0),
    test AS (SELECT * FROM posting WHERE fold = 0),
    n_tot AS (SELECT COUNT(*) AS n_all FROM d WHERE fold <> 0),
    priors AS (
        SELECT lang AS cls,
               ROUND(LN(COUNT(*) / (SELECT n_all FROM n_tot)::DOUBLE), 9)
                   ::DECIMAL(28,9) AS prior
        FROM d WHERE fold <> 0 GROUP BY 1
    ), tokc AS (
        SELECT lang AS cls, tok, SUM(c) AS cnt FROM train GROUP BY 1, 2
    ), totc AS (
        SELECT cls, SUM(cnt) AS tot FROM tokc GROUP BY 1
    ), vocab AS (SELECT DISTINCT tok FROM train),
    vv AS (SELECT COUNT(*) AS v FROM vocab),
    ll AS (
        SELECT t.cls, t.tok,
               ROUND(LN((t.cnt + 1) / (tc.tot + vv.v)::DOUBLE), 9)
                   ::DECIMAL(28,9) AS ll
        FROM tokc t JOIN totc tc USING (cls), vv
    ), ll0 AS (
        SELECT tc.cls,
               ROUND(LN(1.0 / (tc.tot + vv.v)::DOUBLE), 9)::DECIMAL(28,9) AS ll0
        FROM totc tc, vv
    ), t_iv AS (
        SELECT t.doc_id, t.lang AS true_lang, t.tok, t.c
        FROM test t JOIN vocab v USING (tok)
    ), nb_scored AS (
        SELECT s.doc_id, s.true_lang, s.cls,
               SUM(s.c * COALESCE(l.ll, z.ll0)) + ANY_VALUE(p.prior) AS score
        FROM (SELECT ti.*, c2.cls FROM t_iv ti CROSS JOIN (SELECT cls FROM priors) c2) s
        LEFT JOIN ll l ON l.cls = s.cls AND l.tok = s.tok
        JOIN ll0 z ON z.cls = s.cls
        JOIN priors p ON p.cls = s.cls
        GROUP BY 1, 2, 3
    ), nb_pred AS (
        SELECT doc_id, true_lang, cls AS pred_lang,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, cls
               ) AS rk
        FROM nb_scored
    )"""

ORACLE["q227_naive_bayes_langid"] = (
    _NB_PRED_CTES
    + """
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM nb_pred WHERE rk = 1
    GROUP BY 1, 2
    ORDER BY 1, 2
"""
)

QUERIES["q227_naive_bayes_langid"] = q227_naive_bayes_langid


def q240_mcnemar_classifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test comparing the two language classifiers the
    repo ships — the stopword-profile heuristic (q34/q39) vs the
    trained Naive Bayes (q227) — on the SAME held-out documents: the
    χ² = (b−c)²/(b+c) statistic lives entirely on the discordant pairs
    (b = heuristic right / NB wrong, c = the reverse), which is the
    correct test when both models score identical items (the unpaired
    q170 chi-square would ignore the pairing). Spark side is the
    q227 prediction frame joined doc-for-doc with the with_language_id
    pass; the oracle composes the SAME two CTE blocks the q227 and
    q205 oracles use. One row out: the 2×2 agreement cells and the
    statistic (0 when no discordant pairs exist, both engines)."""
    nb = _nb_predictions(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    heur = T_ops.with_language_id(docs, "text").select(
        "doc_id", F.col("predicted_lang").alias("h_pred")
    )
    paired = nb.join(heur, "doc_id").select(
        (F.col("h_pred") == F.col("true_lang")).cast("int").alias("h_ok"),
        (F.col("pred_lang") == F.col("true_lang")).cast("int").alias("nb_ok"),
    )
    cells = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("h_ok") * F.col("nb_ok")).cast("long").alias("both_correct"),
        F.sum(F.col("h_ok") * (1 - F.col("nb_ok"))).cast("long").alias("b_heur_only"),
        F.sum((1 - F.col("h_ok")) * F.col("nb_ok")).cast("long").alias("c_nb_only"),
        F.sum((1 - F.col("h_ok")) * (1 - F.col("nb_ok")))
        .cast("long")
        .alias("neither"),
    )
    disc = F.col("b_heur_only") + F.col("c_nb_only")
    diff = F.col("b_heur_only") - F.col("c_nb_only")
    return cells.select(
        "n_docs",
        "both_correct",
        "b_heur_only",
        "c_nb_only",
        "neither",
        F.when(disc == 0, F.lit(0.0))
        .otherwise(
            F.round((diff * diff).cast("double") / disc.cast("double"), 6)
        )
        .alias("mcnemar_chi2"),
    )


ORACLE["q240_mcnemar_classifiers"] = (
    _NB_PRED_CTES
    + ", "
    + _langpred_cte()
    + """
    , paired AS (
        SELECT CASE WHEN hp.predicted_lang = np.true_lang THEN 1 ELSE 0 END AS h_ok,
               CASE WHEN np.pred_lang = np.true_lang THEN 1 ELSE 0 END AS nb_ok
        FROM (SELECT doc_id, true_lang, pred_lang
              FROM nb_pred WHERE rk = 1) np
        JOIN pred hp ON hp.doc_id = np.doc_id
    ), cells AS (
        SELECT COUNT(*) AS n_docs,
               SUM(h_ok * nb_ok) AS both_correct,
               SUM(h_ok * (1 - nb_ok)) AS b_heur_only,
               SUM((1 - h_ok) * nb_ok) AS c_nb_only,
               SUM((1 - h_ok) * (1 - nb_ok)) AS neither
        FROM paired
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(both_correct AS BIGINT) AS both_correct,
           CAST(b_heur_only AS BIGINT) AS b_heur_only,
           CAST(c_nb_only AS BIGINT) AS c_nb_only,
           CAST(neither AS BIGINT) AS neither,
           CASE WHEN b_heur_only + c_nb_only = 0 THEN 0.0
                ELSE ROUND(CAST((b_heur_only - c_nb_only)
                                * (b_heur_only - c_nb_only) AS DOUBLE)
                           / (b_heur_only + c_nb_only), 6)
           END AS mcnemar_chi2
    FROM cells
"""
)

QUERIES["q240_mcnemar_classifiers"] = q240_mcnemar_classifiers


MRR_K = NDCG_K
MRR_REL_MIN = 2  # a doc is "relevant" when it contains >= 2 query terms


def q249_mrr_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Reciprocal Rank of the BM25 ranker — the first-hit metric
    that completes the retrieval-eval trio next to AP (q212) and
    nDCG@10 (q179): per query, the reciprocal of the rank of the FIRST
    relevant result in the top-k list (0 when none lands), with
    relevance = the q179 graded labels thresholded at >= 2 matched
    terms. Reciprocals are single divisions of exact integer ranks
    rounded 6dp; the summary MRR row re-accumulates the rounded
    reciprocals in DECIMAL over the query grain — both engines agree
    to the digit. Same ranker scan as q80/q147/q179 (one corpus pass
    serves the whole query batch)."""
    from batchprocessingetl_spark.operators.retrieval import bm25_topk_join
    from batchprocessingetl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    queries = local_frame(
        spark,
        [(qid, list(terms)) for qid, terms in BM25_QUERY_SET],
        "qid int, terms array<string>",
    )
    q_terms = queries.select("qid", F.explode("terms").alias("term"))
    doc_terms = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    )
    rel = (
        doc_terms.join(F.broadcast(q_terms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("rel"))
        .filter(F.col("rel") >= MRR_REL_MIN)
    )
    retrieved = bm25_topk_join(docs, queries, MRR_K).select(
        "qid", "doc_id", "rank"
    )
    first_hit = (
        retrieved.join(rel, ["qid", "doc_id"], "left_semi")
        .groupBy("qid")
        .agg(F.min("rank").alias("first_rel_rank"))
    )
    per_q = (
        queries.select("qid")
        .join(first_hit, "qid", "left")
        .select(
            "qid",
            F.coalesce("first_rel_rank", F.lit(0)).alias("first_rel_rank"),
            F.when(
                F.col("first_rel_rank").isNotNull(),
                F.round(F.lit(1.0) / F.col("first_rel_rank"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("rr"),
        )
    )
    summary = per_q.agg(
        F.lit(-1).cast("int").alias("qid"),
        F.lit(0).cast("long").alias("first_rel_rank"),
        F.round(
            (
                F.sum(F.col("rr").cast("decimal(28,10)")) / F.count(F.lit(1))
            ).cast("double"),
            6,
        ).alias("rr"),
    )
    return per_q.unionByName(summary).orderBy("qid")


_Q249_RETR_CTES = f"""
    WITH q(qid, term) AS (VALUES {_BM25_QUERY_VALUES}),
    base AS (
        SELECT doc_id, len({_TOKENS_SQL})::DOUBLE AS dl, {_TOKENS_SQL} AS toks
        FROM documents
    ), stats AS (
        SELECT COUNT(*)::DOUBLE AS n_docs, SUM(dl) AS sum_dl FROM base
    ), tf AS (
        SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
        WHERE term IN (SELECT DISTINCT term FROM q)
        GROUP BY 1, 2, 3
    ), dft AS (
        SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1
    ), sc AS (
        SELECT t.doc_id, t.term,
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (t.tf * ({BM25_K1} + 1.0))
               / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * t.dl / (s.sum_dl / s.n_docs)))
                   AS score
        FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
    ), pp AS (
        SELECT q.qid, sc.doc_id,
               CAST(ROUND(SUM(CAST(ROUND(sc.score, 7) AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25
        FROM sc JOIN q USING (term)
        GROUP BY 1, 2
    ), retr AS (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
        FROM pp
        QUALIFY rank <= {MRR_K}
    )"""

ORACLE["q249_mrr_retrieval"] = f"""{_Q249_RETR_CTES}, docterms AS (
        SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS term
        FROM documents
    ), rel AS (
        SELECT q.qid, dt.doc_id
        FROM docterms dt JOIN q USING (term)
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MRR_REL_MIN}
    ), first_hit AS (
        SELECT r.qid, MIN(r.rank) AS first_rel_rank
        FROM retr r SEMI JOIN rel ON r.qid = rel.qid AND r.doc_id = rel.doc_id
        GROUP BY 1
    ), per_q AS (
        SELECT q.qid,
               CAST(COALESCE(f.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
               CASE WHEN f.first_rel_rank IS NOT NULL
                    THEN ROUND(1.0 / f.first_rel_rank, 6) ELSE 0.0 END AS rr
        FROM (SELECT DISTINCT qid FROM q) q
        LEFT JOIN first_hit f ON q.qid = f.qid
    )
    SELECT * FROM per_q
    UNION ALL
    SELECT -1 AS qid, 0 AS first_rel_rank,
           ROUND(CAST(SUM(CAST(rr AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE), 6) AS rr
    FROM per_q
    ORDER BY qid
"""

QUERIES["q249_mrr_retrieval"] = q249_mrr_retrieval


FS_LN2 = 0.6931471805599453
FS_BAND = 1000.0


def q252_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage weights — the
    statistical layer ABOVE the q89/q113 fuzzy matching: from a
    labeled candidate-pair sample, estimate each comparison field's
    m = P(agree | match) and u = P(agree | non-match) and emit its
    log2(m/u) match weight, the score a probabilistic linker sums per
    pair. The labeled sample is built deterministically in-query: a
    corrupted twin of every customer (one md5-chosen character dropped
    from the name's first half, segment corrupted for an md5-chosen
    20%, balance kept), candidate pairs from (nation, name-suffix)
    blocking — truth is same-custkey, and the block key survives the
    corruption so every true pair is in-block. Agreements: name
    Levenshtein <= 2, segment equality, balance-band equality. All
    counts are exact integers off one pair-grain aggregate; m and u
    use add-half smoothing (never log 0) and round before the one
    log2, so both engines agree to the digit. Blocking bounds the
    pair frame (the q89 discipline) — never customer² anywhere."""
    cust = load_table(spark, sf_dir, "customer")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("fs:"), F.col("c_custkey").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    hseg = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("fsseg:"), F.col("c_custkey").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    base = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / FS_BAND).cast("long").alias("band"),
        (h % 8 + 2).alias("p"),
        (hseg % 5 == 0).alias("corrupt_seg"),
    )
    twin = base.select(
        F.col("c_custkey").alias("t_custkey"),
        F.expr(
            "concat(substring(c_name, 1, cast(p - 1 as int)),"
            " substring(c_name, cast(p + 1 as int)))"
        ).alias("t_name"),
        F.col("c_nationkey").alias("t_nationkey"),
        F.when(F.col("corrupt_seg"), F.lit("CORRUPTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("t_segment"),
        F.col("band").alias("t_band"),
    )
    lhs = base.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        "band",
        F.expr("substring(c_name, length(c_name) - 1, 2)").alias("blk"),
    )
    rhs = twin.withColumn(
        "t_blk", F.expr("substring(t_name, length(t_name) - 1, 2)")
    )
    pairs = lhs.join(
        rhs,
        (F.col("c_nationkey") == F.col("t_nationkey"))
        & (F.col("blk") == F.col("t_blk")),
    ).select(
        (F.col("c_custkey") == F.col("t_custkey")).alias("is_match"),
        (F.levenshtein("c_name", "t_name") <= 2).alias("ag_name"),
        (F.col("c_mktsegment") == F.col("t_segment")).alias("ag_seg"),
        (F.col("band") == F.col("t_band")).alias("ag_band"),
    )
    cells = pairs.agg(
        F.sum(F.col("is_match").cast("long")).alias("n_m"),
        F.sum((~F.col("is_match")).cast("long")).alias("n_u"),
        *[
            F.sum((F.col(c) & F.col("is_match")).cast("long")).alias(f"{c}_m")
            for c in ("ag_name", "ag_seg", "ag_band")
        ],
        *[
            F.sum((F.col(c) & ~F.col("is_match")).cast("long")).alias(f"{c}_u")
            for c in ("ag_name", "ag_seg", "ag_band")
        ],
    )

    def field_row(tag, c):
        m = F.round(
            (F.col(f"{c}_m") + 0.5) / (F.col("n_m") + 1.0), 6
        )
        u = F.round(
            (F.col(f"{c}_u") + 0.5) / (F.col("n_u") + 1.0), 6
        )
        return cells.select(
            F.lit(tag).alias("field"),
            F.col("n_m").alias("n_match"),
            F.col("n_u").alias("n_nonmatch"),
            F.col(f"{c}_m").alias("n_agree_match"),
            F.col(f"{c}_u").alias("n_agree_nonmatch"),
            m.alias("m"),
            u.alias("u"),
            F.round(F.log(m / u) / F.lit(FS_LN2), 4).alias("weight_bits"),
        )

    return (
        field_row("band", "ag_band")
        .unionByName(field_row("name", "ag_name"))
        .unionByName(field_row("segment", "ag_seg"))
        .orderBy("field")
    )


ORACLE["q252_fellegi_sunter"] = f"""
    WITH base AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {FS_BAND}) AS BIGINT) AS band,
               ('0x' || substr(md5('fs:' || c_custkey::VARCHAR), 1, 15))::BIGINT
                   % 8 + 2 AS p,
               ('0x' || substr(md5('fsseg:' || c_custkey::VARCHAR), 1, 15))::BIGINT
                   % 5 = 0 AS corrupt_seg
        FROM customer
    ), twin AS (
        SELECT c_custkey AS t_custkey,
               substr(c_name, 1, CAST(p - 1 AS INT))
                   || substr(c_name, CAST(p + 1 AS INT)) AS t_name,
               c_nationkey AS t_nationkey,
               CASE WHEN corrupt_seg THEN 'CORRUPTED'
                    ELSE c_mktsegment END AS t_segment,
               band AS t_band
        FROM base
    ), pairs AS (
        SELECT l.c_custkey = r.t_custkey AS is_match,
               levenshtein(l.c_name, r.t_name) <= 2 AS ag_name,
               l.c_mktsegment = r.t_segment AS ag_seg,
               l.band = r.t_band AS ag_band
        FROM base l JOIN twin r
          ON l.c_nationkey = r.t_nationkey
         AND substr(l.c_name, len(l.c_name) - 1, 2)
             = substr(r.t_name, len(r.t_name) - 1, 2)
    ), cells AS (
        SELECT CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_m,
               CAST(SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS BIGINT) AS n_u,
               CAST(SUM(CASE WHEN ag_name AND is_match THEN 1 ELSE 0 END) AS BIGINT) AS ag_name_m,
               CAST(SUM(CASE WHEN ag_seg AND is_match THEN 1 ELSE 0 END) AS BIGINT) AS ag_seg_m,
               CAST(SUM(CASE WHEN ag_band AND is_match THEN 1 ELSE 0 END) AS BIGINT) AS ag_band_m,
               CAST(SUM(CASE WHEN ag_name AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS ag_name_u,
               CAST(SUM(CASE WHEN ag_seg AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS ag_seg_u,
               CAST(SUM(CASE WHEN ag_band AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS ag_band_u
        FROM pairs
    ), fields AS (
        SELECT 'name' AS field, n_m, n_u, ag_name_m AS a_m, ag_name_u AS a_u FROM cells
        UNION ALL
        SELECT 'segment', n_m, n_u, ag_seg_m, ag_seg_u FROM cells
        UNION ALL
        SELECT 'band', n_m, n_u, ag_band_m, ag_band_u FROM cells
    )
    SELECT field, n_m AS n_match, n_u AS n_nonmatch,
           a_m AS n_agree_match, a_u AS n_agree_nonmatch,
           ROUND((a_m + 0.5) / (n_m + 1.0), 6) AS m,
           ROUND((a_u + 0.5) / (n_u + 1.0), 6) AS u,
           ROUND(LN(ROUND((a_m + 0.5) / (n_m + 1.0), 6)
                    / ROUND((a_u + 0.5) / (n_u + 1.0), 6)) / {FS_LN2}, 4)
               AS weight_bits
    FROM fields ORDER BY field
"""

QUERIES["q252_fellegi_sunter"] = q252_fellegi_sunter


PPL_MOD, PPL_TRAIN_LT = 10, 8  # md5 doc split: 80% train / 20% held out
PPL_ALPHA = 0.5
PPL_LAMBDA = 0.5  # bigram/unigram interpolation weight


def q254_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model evaluation — train an interpolated
    add-α bigram/unigram LM on an md5-deterministic 80% document split
    and report per-source average NLL and perplexity on the UNSEEN
    20%: the eval-side companion to q95 (which scores the corpus with
    a model trained on itself) and the statistic an LM-data pipeline
    watches to compare corpus versions. Unseen eval contexts and OOV
    tokens are handled by the unigram leg (COALESCE-0 counts, add-α
    keeps every probability positive) with the IDENTICAL expression in
    both engines. Per-bigram NLL rounds to 7dp before DECIMAL
    accumulation (the q95/q179 discipline); the one exp() per source
    happens on a 6dp-rounded mean (the q160 ln/exp precedent). Shape:
    one train scan builds the two count tables, one eval scan joins
    them back on (a, b) and b — vocab-bounded join sides, fact-scale
    probes, AQE handles the heavy-hitter skew."""
    from batchprocessingetl_spark.operators.text import bigram_pairs

    docs = load_table(spark, sf_dir, "documents")
    split_h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ppl:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long") % PPL_MOD
    docs = docs.withColumn("__is_train", split_h < PPL_TRAIN_LT)
    train = docs.filter(F.col("__is_train"))
    test = docs.filter(~F.col("__is_train"))

    tr_bg = bigram_pairs(train, "doc_id", "text")
    lm_bg = tr_bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    lm_ctx = lm_bg.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    tr_uni = (
        train.select(F.explode(T_ops.tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    stats = tr_uni.agg(
        F.sum("c_t").alias("n_tok"), F.count(F.lit(1)).alias("vsz")
    )

    ev = bigram_pairs(test, "doc_id", "text").join(
        test.select("doc_id", "source"), "doc_id"
    )
    scored = (
        ev.join(lm_bg, ["a", "b"], "left")
        .join(lm_ctx, "a", "left")
        .join(
            tr_uni.select(F.col("t").alias("b"), F.col("c_t").alias("c_b")),
            "b",
            "left",
        )
        .crossJoin(F.broadcast(stats))
    )
    p_big = (F.coalesce("c_ab", F.lit(0)) + F.lit(PPL_ALPHA)) / (
        F.coalesce("c_a", F.lit(0)) + F.lit(PPL_ALPHA) * F.col("vsz")
    )
    p_uni = (F.coalesce("c_b", F.lit(0)) + F.lit(PPL_ALPHA)) / (
        F.col("n_tok") + F.lit(PPL_ALPHA) * F.col("vsz")
    )
    nll = F.round(
        -F.log(F.lit(PPL_LAMBDA) * p_big + F.lit(1.0 - PPL_LAMBDA) * p_uni), 7
    ).cast("decimal(28,10)")
    return (
        scored.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                (F.sum(nll) / F.count(F.lit(1))).cast("double"), 6
            ).alias("avg_nll"),
        )
        .withColumn("ppl", F.round(F.exp("avg_nll"), 4))
        .orderBy("source")
    )


ORACLE["q254_heldout_perplexity"] = f"""
    WITH d AS (
        SELECT doc_id, source, {_TOKENS_SQL} AS t,
               ('0x' || substr(md5('ppl:' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % {PPL_MOD} < {PPL_TRAIN_LT} AS is_train
        FROM documents
    ), tr_bg AS (
        SELECT doc_id, t[pos] AS a, t[pos + 1] AS b
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS pos
              FROM d WHERE is_train)
    ), lm_bg AS (
        SELECT a, b, COUNT(*) AS c_ab FROM tr_bg GROUP BY 1, 2
    ), lm_ctx AS (
        SELECT a, SUM(c_ab) AS c_a FROM lm_bg GROUP BY 1
    ), tr_uni AS (
        SELECT tok AS t, COUNT(*) AS c_t
        FROM (SELECT unnest(t) AS tok FROM d WHERE is_train) GROUP BY 1
    ), stats AS (
        SELECT SUM(c_t) AS n_tok, COUNT(*) AS vsz FROM tr_uni
    ), ev AS (
        SELECT doc_id, source, t[pos] AS a, t[pos + 1] AS b
        FROM (SELECT doc_id, source, t, unnest(range(1, len(t))) AS pos
              FROM d WHERE NOT is_train)
    ), scored AS (
        SELECT ev.doc_id, ev.source,
               CAST(ROUND(-LN(
                   {PPL_LAMBDA} * (COALESCE(g.c_ab, 0) + {PPL_ALPHA})
                       / (COALESCE(cx.c_a, 0) + {PPL_ALPHA} * s.vsz)
                   + {1.0 - PPL_LAMBDA} * (COALESCE(u.c_t, 0) + {PPL_ALPHA})
                       / (s.n_tok + {PPL_ALPHA} * s.vsz)
               ), 7) AS DECIMAL(28,10)) AS nll
        FROM ev
        LEFT JOIN lm_bg g ON ev.a = g.a AND ev.b = g.b
        LEFT JOIN lm_ctx cx ON ev.a = cx.a
        LEFT JOIN tr_uni u ON ev.b = u.t
        CROSS JOIN stats s
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(nll) / COUNT(*) AS DOUBLE), 6) AS avg_nll,
           ROUND(EXP(ROUND(CAST(SUM(nll) / COUNT(*) AS DOUBLE), 6)), 4) AS ppl
    FROM scored GROUP BY source ORDER BY source
"""

QUERIES["q254_heldout_perplexity"] = q254_heldout_perplexity


GT_MAX_R = 10


def q259_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing frequency-of-frequencies over corpus 5-gram TYPES —
    the smoothing/coverage statistic an LM-data pipeline reads to
    answer "how much probability mass belongs to UNSEEN sequences"
    (the singleton fraction N1/N) and how raw counts deflate (r* =
    (r+1)·N_{r+1}/N_r). The grain is 5-gram types, not unigrams: this
    corpus has a closed 31-word vocabulary where every token repeats
    hundreds of times (no GT tail at all), while its 5-gram frame is
    singleton-dominated — exactly the regime GT was built for. Two
    hash aggregates (gram counts, then counts-of-counts); everything
    is an exact integer until the two divisions per row, rounded 6dp.
    Rows r = 1..10 plus an r = 0 summary row carrying the unseen-mass
    estimate; r* is NULL when N_{r+1} is empty (the raw estimator is
    undefined there — emitting 0 would understate)."""
    from batchprocessingetl_spark.operators.curation import positional_ngrams

    docs = load_table(spark, sf_dir, "documents")
    # count on a 60-bit md5 gram key, not the gram string: the type
    # aggregate shuffles 8-byte longs instead of ~60-byte strings (the
    # q82/q181 trade — a collision would merge two types, so the oracle
    # replicates the identical key and both engines see the same N_r)
    counts = (
        positional_ngrams(docs, "doc_id", "text", 5)
        .select(
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("long")
            .alias("gkey")
        )
        .groupBy("gkey")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    fof = counts.groupBy("r").agg(F.count(F.lit(1)).alias("n_types"))
    tot = counts.agg(
        F.sum("r").alias("n_tokens"), F.count(F.lit(1)).alias("v")
    )
    nxt = fof.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("n_next"))
    rows = (
        fof.filter((F.col("r") >= 1) & (F.col("r") <= GT_MAX_R))
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("r"),
            "n_types",
            F.round(
                (F.col("r") + 1)
                * F.col("n_next").cast("double")
                / F.col("n_types"),
                6,
            ).alias("gt_adjusted_count"),
            F.round(
                F.col("r") * F.col("n_types") / F.col("n_tokens").cast("double"),
                6,
            ).alias("mass_share"),
        )
    )
    n1 = fof.agg(
        F.coalesce(
            F.max(F.when(F.col("r") == 1, F.col("n_types"))), F.lit(0)
        ).alias("n1")
    )
    unseen = (
        tot.crossJoin(F.broadcast(n1))
        .select(
            F.lit(0).cast("long").alias("r"),
            F.col("v").alias("n_types"),
            F.lit(None).cast("double").alias("gt_adjusted_count"),
            F.round(
                F.col("n1") / F.col("n_tokens").cast("double"), 6
            ).alias("mass_share"),
        )
    )
    return unseen.unionByName(rows).orderBy("r")


ORACLE["q259_good_turing"] = f"""
    WITH counts AS (
        SELECT ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gkey,
               COUNT(*) AS r
        FROM (
            SELECT unnest(list_transform(range(1, len(t) - 3),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            || ' ' || t[i+3] || ' ' || t[i+4])) AS gram
            FROM (SELECT {_TOKENS_SQL} AS t FROM documents)
        ) GROUP BY 1
    ), fof AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n_types
        FROM counts GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(r) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM counts
    )
    SELECT 0::BIGINT AS r, t.v AS n_types,
           CAST(NULL AS DOUBLE) AS gt_adjusted_count,
           ROUND(COALESCE((SELECT n_types FROM fof WHERE r = 1), 0)
                 / CAST(t.n_tokens AS DOUBLE), 6) AS mass_share
    FROM tot t
    UNION ALL
    SELECT CAST(f.r AS BIGINT), f.n_types,
           ROUND((f.r + 1) * CAST(nx.n_types AS DOUBLE) / f.n_types, 6),
           ROUND(f.r * f.n_types / CAST(t.n_tokens AS DOUBLE), 6)
    FROM fof f
    LEFT JOIN fof nx ON nx.r = f.r + 1
    CROSS JOIN tot t
    WHERE f.r BETWEEN 1 AND {GT_MAX_R}
    ORDER BY r
"""

QUERIES["q259_good_turing"] = q259_good_turing


BURST_MIN_DF = 5
BURST_TOP = 20


def q266_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness audit (Church & Gale): which terms CLUMP —
    appearing many times in few documents — versus spreading evenly?
    The statistic behind adaptive LM caching and topical-keyword
    detection, complementing the frequency views (vocab q86, Zipf
    q216, keyness q138): per term, the variance-to-mean ratio of its
    per-document count over ALL documents (zeros included — the power
    sums Σc and Σc² come from one (doc, term) aggregate, zeros
    contribute nothing, and the N-denominator reinstates them
    algebraically: VMR = (Σc² − (Σc)²/N) / Σc) plus the within-doc
    repeat rate Σc / df. Everything integer until two divisions per
    term, rounded 6dp; top 20 by VMR (ties → term). VMR = 1 is
    Poisson — values above mark bursty terms. Round 8 (VERDICT r7 #7):
    N comes from an in-plan broadcast aggregate instead of an eager
    .count() action, so the query is ONE lazy plan (the documents
    scan is no longer run twice)."""
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    per_dt = (
        docs.select("doc_id", F.explode(T_ops.tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_t = per_dt.groupBy("t").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
    )
    vmr = (
        F.col("sc2").cast("double")
        - F.col("sc").cast("double") * F.col("sc") / F.col("n_docs")
    ) / F.col("sc").cast("double")
    return (
        per_t.crossJoin(F.broadcast(nd))
        .filter(F.col("df") >= BURST_MIN_DF)
        .select(
            F.col("t").alias("term"),
            "df",
            F.col("sc").alias("total_count"),
            F.round(F.col("sc") / F.col("df").cast("double"), 6).alias(
                "repeat_rate"
            ),
            F.round(vmr, 6).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), "term")
        .limit(BURST_TOP)
    )


ORACLE["q266_term_burstiness"] = f"""
    WITH per_dt AS (
        SELECT doc_id, tok AS t, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents)
        GROUP BY 1, 2
    ), per_t AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(c * c) AS BIGINT) AS sc2
        FROM per_dt GROUP BY 1
    ), n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents)
    SELECT t AS term, df, sc AS total_count,
           ROUND(sc / CAST(df AS DOUBLE), 6) AS repeat_rate,
           ROUND((CAST(sc2 AS DOUBLE)
                  - CAST(sc AS DOUBLE) * sc / n.n_docs)
                 / CAST(sc AS DOUBLE), 6) AS vmr
    FROM per_t CROSS JOIN n
    WHERE df >= {BURST_MIN_DF}
    ORDER BY vmr DESC, term LIMIT {BURST_TOP}
"""

QUERIES["q266_term_burstiness"] = q266_term_burstiness


IPF_ITERS = 4
IPF_SCALE = 10**6


def q271_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of the corpus (lang ×
    source) mixture to UNIFORM marginals — the calibration-weighting
    step a training-data pipeline runs to rebalance an over-crawled
    source or language before sampling (survey statisticians' raking,
    Deming-Stephan 1940), joining the fixed-point iterative family
    (q185/q220/q250). The grid is the collapsed (lang, source) count
    frame, so all 2·IPF_ITERS alternating row/column scaling steps run
    on ~|langs|·|sources| rows; each step multiplies by
    target·SCALE div marginal-sum in DECIMAL(38,0) fixed point (floor
    division on non-negative operands — the engine-identical q263
    discipline), so weights are bit-identical cross-engine. One
    documents scan; everything after is broadcast-sized."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    consts = cells.agg(
        F.sum("n").alias("total"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    cur = (
        cells.crossJoin(F.broadcast(consts))
        .withColumn("t_row", F.expr(f"total * {IPF_SCALE}L div n_langs"))
        .withColumn("t_col", F.expr(f"total * {IPF_SCALE}L div n_sources"))
        .withColumn("w", F.expr(f"n * {IPF_SCALE}L"))
    )
    for _ in range(IPF_ITERS):
        cur = cur.withColumn(
            "rs", F.sum("w").over(Window.partitionBy("lang"))
        ).withColumn(
            "w",
            F.expr(
                "CAST(CAST(w AS DECIMAL(38,0)) * t_row DIV CAST(rs AS DECIMAL(38,0)) AS BIGINT)"
            ),
        ).drop("rs")
        cur = cur.withColumn(
            "cs", F.sum("w").over(Window.partitionBy("source"))
        ).withColumn(
            "w",
            F.expr(
                "CAST(CAST(w AS DECIMAL(38,0)) * t_col DIV CAST(cs AS DECIMAL(38,0)) AS BIGINT)"
            ),
        ).drop("cs")
    return cur.select(
        "lang",
        "source",
        "n",
        F.col("w").alias("w_scaled"),
        F.round(F.col("w") / F.lit(float(IPF_SCALE)), 6).alias("w_raked"),
    ).orderBy("lang", "source")


def _q271_oracle() -> str:
    steps = []
    prev = "w0"
    for i in range(IPF_ITERS):
        steps.append(
            f"""r{i} AS (
        SELECT lang, source, n, t_row, t_col,
               CAST(CAST(w AS HUGEINT) * t_row
                    // CAST(SUM(w) OVER (PARTITION BY lang) AS HUGEINT)
                    AS BIGINT) AS w
        FROM {prev}
    )"""
        )
        steps.append(
            f"""c{i} AS (
        SELECT lang, source, n, t_row, t_col,
               CAST(CAST(w AS HUGEINT) * t_col
                    // CAST(SUM(w) OVER (PARTITION BY source) AS HUGEINT)
                    AS BIGINT) AS w
        FROM r{i}
    )"""
        )
        prev = f"c{i}"
    joined = ", ".join(steps)
    return f"""
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ), consts AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM cells
    ), w0 AS (
        SELECT lang, source, n,
               (total * {IPF_SCALE}) // n_langs AS t_row,
               (total * {IPF_SCALE}) // n_sources AS t_col,
               n * {IPF_SCALE} AS w
        FROM cells CROSS JOIN consts
    ), {joined}
    SELECT lang, source, n, w AS w_scaled,
           ROUND(w / {float(IPF_SCALE)}, 6) AS w_raked
    FROM {prev}
    ORDER BY lang, source
    """


ORACLE["q271_ipf_raking"] = _q271_oracle()
QUERIES["q271_ipf_raking"] = q271_ipf_raking


def q274_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (discount D = 3/4)
    — the de-facto classical n-gram smoother, completing the LM shelf
    next to add-alpha scoring (q95), Good-Turing mass (q259) and
    held-out perplexity (q254). KN's insight is that backoff weight
    should follow CONTINUATION counts (how many distinct left contexts
    a word follows), not raw frequency; with D = 3/4 every probability
    is the exact rational [max(4·c(v,w) − 3, 0)·T + 3·N1+(v·)·N1+(·w)]
    / [4·c(v)·T] (T = distinct bigram types), emitted as exact integer
    numerator/denominator plus ONE rounded double division — bit-exact
    cross-engine, no floating-point smoothing arithmetic. Shape: one
    bigram_pairs pass (the round-7 posexplode+lead operator), then
    three hash aggregates on the collapsed bigram-type frame (bounded
    by vocab², tiny here; at web scale this frame is the standard
    count-of-counts grain)."""
    from batchprocessingetl_spark.operators.text import bigram_pairs

    docs = load_table(spark, sf_dir, "documents")
    bg = (
        bigram_pairs(docs, "doc_id", "text")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ctx = bg.groupBy("a").agg(
        F.sum("c").alias("c_a"), F.count(F.lit(1)).alias("n1_fwd")
    )
    cont = bg.groupBy("b").agg(F.count(F.lit(1)).alias("n1_bwd"))
    tot = bg.agg(F.count(F.lit(1)).alias("t_types"))
    num = (
        F.greatest(F.lit(0).cast("long"), F.col("c") * 4 - 3) * F.col("t_types")
        + F.lit(3) * F.col("n1_fwd") * F.col("n1_bwd")
    )
    den = F.lit(4) * F.col("c_a") * F.col("t_types")
    return (
        bg.join(ctx, "a")
        .join(cont, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a").alias("context"),
            F.col("b").alias("word"),
            "c",
            "n1_fwd",
            "n1_bwd",
            num.alias("p_num"),
            den.alias("p_den"),
            F.round(num.cast("double") / den.cast("double"), 9).alias("p_kn"),
        )
        .orderBy("context", "word")
    )


ORACLE["q274_kneser_ney"] = f"""
    WITH bgr AS (
        SELECT t[pos] AS a, t[pos + 1] AS b
        FROM (SELECT t, unnest(range(1, len(t))) AS pos
              FROM (SELECT {_TOKENS_SQL} AS t FROM documents))
    ), bg AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM bgr GROUP BY 1, 2
    ), ctx AS (
        SELECT a, CAST(SUM(c) AS BIGINT) AS c_a,
               CAST(COUNT(*) AS BIGINT) AS n1_fwd
        FROM bg GROUP BY 1
    ), cont AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n1_bwd FROM bg GROUP BY 1
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM bg)
    SELECT bg.a AS context, bg.b AS word, bg.c, ctx.n1_fwd, cont.n1_bwd,
           CAST(GREATEST(0, bg.c * 4 - 3) * t.t_types
                + 3 * ctx.n1_fwd * cont.n1_bwd AS BIGINT) AS p_num,
           CAST(4 * ctx.c_a * t.t_types AS BIGINT) AS p_den,
           ROUND(CAST(GREATEST(0, bg.c * 4 - 3) * t.t_types
                      + 3 * ctx.n1_fwd * cont.n1_bwd AS DOUBLE)
                 / CAST(4 * ctx.c_a * t.t_types AS DOUBLE), 9) AS p_kn
    FROM bg
    JOIN ctx ON ctx.a = bg.a
    JOIN cont ON cont.b = bg.b
    CROSS JOIN tot t
    ORDER BY context, word
"""

QUERIES["q274_kneser_ney"] = q274_kneser_ney


SETCOVER_K = 6


def q275_setcover_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection — pick SETCOVER_K
    documents that together cover the most distinct 3-shingles, the
    classic (1−1/e)-approximate set-cover greedy that data-curation
    pipelines run to assemble a small eval/seed set with maximal
    n-gram coverage (the coverage-driven dual of q253's k-center
    diversity selection). Each round is one distributed count
    aggregate over the cached (doc, shingle) frame and ONE 1-row
    collect (the argmax — the k-center/BPE bounded-collect
    discipline). The covered-shingle state is SMALL by construction
    (at most k docs x shingles-per-doc rows), so each round removes
    it with a BROADCAST anti-join against the one materialized base
    frame — no per-round rewrite/checkpoint of the data-proportional
    survivor frame (round 8 materialized the shrinking frame k times;
    this design's only data-proportional pass per round is the gain
    aggregate itself — VERDICT r8 #6). Shingle sets never pass
    through the driver: the covered set is one lazy ``isin`` filter
    of the materialized frame on the picked doc ids — one scan per
    round, no eager job.
    Ties break on doc_id; counts are exact integers, so both engines
    pick identical documents every round. Exact greedy max-coverage
    is inherently k linear passes over the uncovered frame (the 10×
    probe's α IS that k-pass linearity, not a plan defect); the
    100 TB cheapening is q281's stochastic greedy, which prices each
    round at a 1/m sample of the candidate docs.

    r14 note (guide §1.1, measure first): a driver-side-set rewrite of
    the covered state (collect + a list-built frame per round) was
    measured SLOWER (+0.35s/round). That figure measured the list
    path's PythonRDD scan, which starts Python workers on every scan
    of the frame; ``readers.local_frame`` builds a LocalRelation
    instead and does not pay it. The rejection is therefore stale; it
    has not been re-measured with ``local_frame``. The covered set
    stays a filter of the localCheckpointed frame. The final round's
    covered-set update is dead work (nothing reads it) and is
    skipped."""
    from batchprocessingetl_spark.operators.dedup import shingle_frame
    from batchprocessingetl_spark.operators.iteration import barrier

    docs = load_table(spark, sf_dir, "documents")
    # (doc_id, sh) is distinct by construction — shingles dedupe WITHIN
    # each doc's array before the explode, so the materialization is
    # map-only (no global distinct shuffle)
    # inner-explode discipline: see operators/dedup.shingles_of_tokens
    sh = barrier(
        shingle_frame(docs, "doc_id", "text", 3)
        .select(
            F.col("id").alias("doc_id"),
            F.explode(F.array_distinct("sh")).alias("sh"),
        )
    )
    picked: list[tuple[int, int, int, int]] = []
    picked_ids: list[int] = []
    covered_sh = None  # small: <= k docs' worth of shingles
    covered = 0
    for r in range(1, SETCOVER_K + 1):
        cand = sh
        if picked_ids:
            # the anti-join alone eliminates picked docs: every shingle
            # of a picked doc is covered by construction, so all its
            # rows drop and it can never win again. Omitting the old
            # redundant ~isin(picked_ids) filter keeps round plans
            # structurally identical, so whole-stage codegen compiles
            # once and is cache-hit by rounds 3+ (r14, guide §1.2).
            cand = sh.join(F.broadcast(covered_sh), "sh", "left_anti")
        best = (
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), "doc_id")
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        covered += b.gain
        picked.append((r, int(b.doc_id), int(b.gain), covered))
        picked_ids.append(int(b.doc_id))
        if r == SETCOVER_K:
            break  # the last pick's covered-set update is never read
        # every picked doc's shingles in ONE scan of the materialized
        # frame; no distinct: the left-anti join ignores duplicate
        # keys on its build side
        covered_sh = sh.filter(F.col("doc_id").isin(picked_ids)).select("sh")
    return local_frame(
        spark,
        picked, "round int, doc_id long, gain long, covered long"
    ).orderBy("round")


def _q275_oracle() -> str:
    shl = _SHINGLES_SQL.format(toks=_TOKENS_SQL)
    parts = [
        f"""d AS (
        SELECT doc_id, {shl} AS shl FROM documents
    ), sh0 AS MATERIALIZED (
        SELECT DISTINCT doc_id, sh
        FROM (SELECT doc_id, unnest(shl) AS sh FROM d)
    )"""
    ]
    prev = "sh0"
    sels = []
    for r in range(1, SETCOVER_K + 1):
        parts.append(
            f"""b{r} AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
        FROM {prev} GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1
    )"""
        )
        parts.append(
            f"""sh{r} AS MATERIALIZED (
        SELECT s.doc_id, s.sh FROM {prev} s, b{r}
        WHERE s.doc_id <> b{r}.doc_id
          AND s.sh NOT IN (SELECT sh FROM {prev} JOIN b{r} USING (doc_id))
    )"""
        )
        sels.append(f"SELECT {r} AS round, doc_id, gain FROM b{r}")
        prev = f"sh{r}"
    return (
        "\n    WITH "
        + ", ".join(parts)
        + ", sel AS (\n        "
        + "\n        UNION ALL ".join(sels)
        + """
    )
    SELECT CAST(round AS INT) AS round, CAST(doc_id AS BIGINT) AS doc_id,
           gain,
           CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS covered
    FROM sel ORDER BY round
    """
    )


ORACLE["q275_setcover_selection"] = _q275_oracle()
QUERIES["q275_setcover_selection"] = q275_setcover_selection


SETCOVER_SG_MOD = 4  # static candidate buckets; round r reads bucket (r-1)%MOD


def _sg_bucket(col):
    """STATIC doc bucket md5('sgb:'||doc_id) % SETCOVER_SG_MOD — assigned
    once at materialization time (no round number in the seed), so the
    shingle store can be written physically partitioned by it and each
    round's sample prunes I/O at the scan instead of filtering
    post-scan. Identical draw on both engines (the q269/q188 md5-deal
    machinery)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sgb:"), col.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % SETCOVER_SG_MOD
    )


def q281_stochastic_setcover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic-greedy maximum-coverage selection — q275's 100 TB
    path (VERDICT r8 #3, re-architected per VERDICT r9 #1). Lazier-
    than-lazy greedy (Mirzasoleiman et al., AAAI'15) with the sample
    made PRUNABLE: the (doc, shingle) frame is materialized ONCE as a
    parquet side-table physically partitioned by a static bucket
    column md5('sgb:'||doc_id) % SETCOVER_SG_MOD, and round r's
    candidate pool is bucket (r-1) % MOD — a partition-pruned scan
    that reads 1/MOD of the data (PartitionFilters at the FileScan;
    round 9's per-round md5 filter still paid a full scan per round,
    measured alpha 0.921 vs exact greedy's 0.926). Buckets cycle
    across rounds, so every document stays reachable. Expected
    coverage is (1-1/e-eps)-approximate — the standard trade that
    makes greedy selection affordable when one exact pass per pick is
    too expensive. The static bucket draw is replayed identically by
    the DuckDB oracle (same md5, same mod, same round->bucket map),
    so the stochastic run is still exactly verified: rounds whose
    bucket is exhausted pick nothing and are skipped on BOTH engines.
    The covered-set plumbing is q275's: a small (<= k docs) broadcast
    anti-join, no per-round rewrite of the base frame; the picked
    docs' shingles are read back from the store filtered on their
    buckets as well as their ids, so that scan stays partition-pruned
    to the buckets already picked from."""
    from batchprocessingetl_spark.operators.dedup import shingle_frame

    docs = load_table(spark, sf_dir, "documents")
    work = work_dir(spark, "sgcover")
    fs_delete(spark, work)
    # map-only materialization: shingles are deduped WITHIN each doc's
    # array (array_distinct before the explode) — (doc_id, sh) is then
    # distinct by construction, so no global distinct shuffle; the
    # partitionBy write runs at full parallelism (each task fans its
    # rows into the MOD bucket dirs — never repartition down to MOD
    # tasks, which serializes the write)
    (
        shingle_frame(docs, "doc_id", "text", 3)
        # inner-explode discipline: see operators/dedup.shingles_of_tokens
        .select(
            F.col("id").alias("doc_id"),
            F.explode(F.array_distinct("sh")).alias("sh"),
        )
        .withColumn("bucket", _sg_bucket(F.col("doc_id")))
        # snappy, not the session zstd: this store is re-read every
        # round within the timed query and deleted after; read-path
        # decode speed wins (VERDICT r14 #4, guide §6)
        .write.option("compression", WORK_CODEC)
        .partitionBy("bucket")
        .parquet(work)
    )
    store = spark.read.parquet(work)
    picked: list[tuple[int, int, int, int]] = []
    picked_ids: list[int] = []
    picked_buckets: list[int] = []
    covered_sh = None
    covered = 0
    for r in range(1, SETCOVER_K + 1):
        bkt = (r - 1) % SETCOVER_SG_MOD
        cand = store.filter(F.col("bucket") == bkt)
        if picked_ids:
            # anti-join alone suffices — a picked doc's rows are all
            # covered (see q275); identical round-plan structure keeps
            # the codegen cache warm across rounds
            cand = cand.join(F.broadcast(covered_sh), "sh", "left_anti")
        best = (
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), "doc_id")
            .limit(1)
            .collect()
        )
        if not best:
            continue  # bucket exhausted this round; next round rotates
        b = best[0]
        covered += b.gain
        picked.append((r, int(b.doc_id), int(b.gain), covered))
        picked_ids.append(int(b.doc_id))
        picked_buckets.append(bkt)
        if r == SETCOVER_K:
            break  # the last pick's covered-set update is never read
        # one bucket-pruned isin scan — see q275
        covered_sh = store.filter(
            F.col("bucket").isin(picked_buckets)
            & F.col("doc_id").isin(picked_ids)
        ).select("sh")
    return local_frame(
        spark,
        picked, "round int, doc_id long, gain long, covered long"
    ).orderBy("round")


def _q281_oracle() -> str:
    shl = _SHINGLES_SQL.format(toks=_TOKENS_SQL)

    def pool(r: int) -> str:
        bkt = (r - 1) % SETCOVER_SG_MOD
        return (
            f"('0x' || substr(md5('sgb:' || doc_id::VARCHAR), 1, 15))::BIGINT"
            f" % {SETCOVER_SG_MOD} = {bkt}"
        )

    parts = [
        f"""d AS (
        SELECT doc_id, {shl} AS shl FROM documents
    ), sh0 AS MATERIALIZED (
        SELECT DISTINCT doc_id, sh
        FROM (SELECT doc_id, unnest(shl) AS sh FROM d)
    )"""
    ]
    sels = []
    picked_union = None
    prev_cov = None
    for r in range(1, SETCOVER_K + 1):
        conds = [pool(r)]
        if picked_union:
            conds.append(f"doc_id NOT IN (SELECT doc_id FROM ({picked_union}))")
        if prev_cov:
            conds.append(f"sh NOT IN (SELECT sh FROM {prev_cov})")
        parts.append(
            f"""b{r} AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
        FROM sh0 WHERE {' AND '.join(conds)}
        GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1
    )"""
        )
        cov_new = f"SELECT sh FROM sh0 JOIN b{r} USING (doc_id)"
        if prev_cov:
            parts.append(
                f"""cov{r} AS MATERIALIZED (
        SELECT sh FROM {prev_cov} UNION {cov_new}
    )"""
            )
        else:
            parts.append(f"cov{r} AS MATERIALIZED (SELECT DISTINCT sh FROM ({cov_new}))")
        prev_cov = f"cov{r}"
        sel = f"SELECT {r} AS round, doc_id, gain FROM b{r}"
        sels.append(sel)
        picked_union = (
            sel if picked_union is None else f"{picked_union} UNION ALL {sel}"
        )
    return (
        "\n    WITH "
        + ", ".join(parts)
        + ", sel AS (\n        "
        + "\n        UNION ALL ".join(sels)
        + """
    )
    SELECT CAST(round AS INT) AS round, CAST(doc_id AS BIGINT) AS doc_id,
           gain,
           CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS covered
    FROM sel ORDER BY round
    """
    )


ORACLE["q281_stochastic_setcover"] = _q281_oracle()
QUERIES["q281_stochastic_setcover"] = q281_stochastic_setcover


ZIPF_TOP = 200


def q342_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token-frequency head: OLS of
    ln(freq) on ln(rank) over the top-200 ranks — the power-law
    health check for a training corpus (natural text sits near
    s ≈ 1; a crawl of boilerplate or synthetic spam bends the head).
    Complements q86's vocabulary table (level) and q266's burstiness
    (dispersion) with the SHAPE of the frequency distribution.

    One explode + one hash count is the only data-proportional work;
    the ranked head is 200 rows. Determinism: ranks break frequency
    ties by token; ln runs on INTEGER-valued doubles (identical both
    engines), each point rounds to 12 dp before the decimal sums, and
    the slope/R^2 are single double expressions — rounded 6 dp."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(T_ops.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    head = (
        freq.withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("tok")))
        )
        .filter(F.col("r") <= ZIPF_TOP)
        .select(
            F.round(F.log(F.col("r").cast("double")), 12).alias("u"),
            F.round(F.log(F.col("f").cast("double")), 12).alias("v"),
        )
    )
    vocab = freq.agg(
        F.count(F.lit(1)).alias("vocab_size"), F.sum("f").alias("total_tokens")
    )
    d = "decimal(28,18)"
    agg = head.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("u").cast(d)).alias("su"),
        F.sum(F.col("v").cast(d)).alias("sv"),
        F.sum((F.col("u") * F.col("v")).cast(d)).alias("suv"),
        F.sum((F.col("u") * F.col("u")).cast(d)).alias("suu"),
        F.sum((F.col("v") * F.col("v")).cast(d)).alias("svv"),
    )
    k, su, sv, suv, suu, svv = (
        F.col("k").cast("double"),
        F.col("su").cast("double"),
        F.col("sv").cast("double"),
        F.col("suv").cast("double"),
        F.col("suu").cast("double"),
        F.col("svv").cast("double"),
    )
    slope = (k * suv - su * sv) / (k * suu - su * su)
    r2 = (k * suv - su * sv) * (k * suv - su * sv) / (
        (k * suu - su * su) * (k * svv - sv * sv)
    )
    return agg.crossJoin(F.broadcast(vocab)).select(
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("k").cast("long").alias("ranks_used"),
        F.round(-slope, 6).alias("zipf_s"),
        F.round(r2, 6).alias("r_squared"),
    )


_Q342_ORACLE = f"""
    WITH freq AS (
        SELECT tok, COUNT(*) AS f
        FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
        GROUP BY 1
    ), head AS (
        SELECT ROUND(ln(CAST(r AS DOUBLE)), 12) AS u,
               ROUND(ln(CAST(f AS DOUBLE)), 12) AS v
        FROM (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok ASC) AS r FROM freq)
        WHERE r <= {ZIPF_TOP}
    ), vocab AS (
        SELECT COUNT(*) AS vocab_size, SUM(f) AS total_tokens FROM freq
    ), a AS (
        SELECT COUNT(*) AS k,
               SUM(CAST(u AS DECIMAL(28,18))) AS su,
               SUM(CAST(v AS DECIMAL(28,18))) AS sv,
               SUM(CAST(u * v AS DECIMAL(28,18))) AS suv,
               SUM(CAST(u * u AS DECIMAL(28,18))) AS suu,
               SUM(CAST(v * v AS DECIMAL(28,18))) AS svv
        FROM head
    )
    SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(k AS BIGINT) AS ranks_used,
           ROUND(-(k * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
                 / (k * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)), 6)
               AS zipf_s,
           ROUND((k * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
                 * (k * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
                 / ((k * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
                    * (k * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6)
               AS r_squared
    FROM a CROSS JOIN vocab
"""
QUERIES["q342_zipf_fit"] = q342_zipf_fit
ORACLE["q342_zipf_fit"] = _Q342_ORACLE


def q343_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ K * N^beta, fitted
    as OLS of ln(V_d) on ln(N_d) over every document prefix in
    doc_id order (N_d = cumulative token count, V_d = cumulative NEW
    vocabulary). The sublinearity exponent beta tells a curation
    pipeline whether adding more of THIS source still buys new
    vocabulary (natural text beta ≈ 0.4-0.6; dedup failures push it
    toward 0, template spam toward flat). Linear end-to-end: new-word
    mass per document comes from a min(doc_id)-per-token aggregate
    joined back at doc grain, the prefix sums are two cumulative
    windows on the ~n_docs-row frame, and the fit is the q342 OLS
    chain (12 dp ln points, decimal sums, one double slope)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T_ops.tokens(F.col("text"))).alias("tok"))
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    firsts = (
        toks.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    wcum = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    pref = (
        per_doc.join(firsts, "doc_id", "left")
        .fillna({"n_new": 0})
        .withColumn("big_n", F.sum("n_toks").over(wcum))
        .withColumn("v", F.sum("n_new").over(wcum))
        .filter((F.col("v") > 0) & (F.col("big_n") > 0))
        .select(
            F.round(F.log(F.col("big_n").cast("double")), 12).alias("u"),
            F.round(F.log(F.col("v").cast("double")), 12).alias("vv"),
        )
    )
    d = "decimal(28,18)"
    agg = pref.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("u").cast(d)).alias("su"),
        F.sum(F.col("vv").cast(d)).alias("sv"),
        F.sum((F.col("u") * F.col("vv")).cast(d)).alias("suv"),
        F.sum((F.col("u") * F.col("u")).cast(d)).alias("suu"),
    )
    tot = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("total_tokens")
    )
    k, su, sv, suv, suu = (
        F.col("k").cast("double"),
        F.col("su").cast("double"),
        F.col("sv").cast("double"),
        F.col("suv").cast("double"),
        F.col("suu").cast("double"),
    )
    slope = (k * suv - su * sv) / (k * suu - su * su)
    intercept = (sv - slope * su) / k
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round(F.exp(intercept), 6).alias("heaps_k"),
    )


_Q343_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), per_doc AS (
        SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY 1
    ), firsts AS (
        SELECT doc_id, COUNT(*) AS n_new
        FROM (SELECT tok, MIN(doc_id) AS doc_id FROM toks GROUP BY 1)
        GROUP BY 1
    ), pref AS (
        SELECT ROUND(ln(CAST(SUM(p.n_toks) OVER w AS DOUBLE)), 12) AS u,
               ROUND(ln(CAST(SUM(COALESCE(f.n_new, 0)) OVER w AS DOUBLE)), 12) AS vv,
               SUM(COALESCE(f.n_new, 0)) OVER w AS v_chk,
               SUM(p.n_toks) OVER w AS n_chk
        FROM per_doc p LEFT JOIN firsts f USING (doc_id)
        WINDOW w AS (ORDER BY p.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), a AS (
        SELECT COUNT(*) AS k,
               SUM(CAST(u AS DECIMAL(28,18))) AS su,
               SUM(CAST(vv AS DECIMAL(28,18))) AS sv,
               SUM(CAST(u * vv AS DECIMAL(28,18))) AS suv,
               SUM(CAST(u * u AS DECIMAL(28,18))) AS suu
        FROM pref WHERE v_chk > 0 AND n_chk > 0
    ), tot AS (
        SELECT COUNT(*) AS n_docs, SUM(n_toks) AS total_tokens FROM per_doc
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           ROUND((k * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
                 / (k * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)), 6)
               AS heaps_beta,
           ROUND(exp((CAST(sv AS DOUBLE)
                      - (k * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
                        / (k * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
                        * CAST(su AS DOUBLE)) / k), 6) AS heaps_k
    FROM a CROSS JOIN tot
"""
QUERIES["q343_heaps_law"] = q343_heaps_law
ORACLE["q343_heaps_law"] = _Q343_ORACLE
