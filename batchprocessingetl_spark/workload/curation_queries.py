"""Corpus-hygiene workload over ``documents``: benchmark
decontamination, repetition quality signals, PII redaction, and
bloom-filter incremental dedup (operators/curation.py).

The synthetic corpus has no newlines or PII strings, so q68/q69
deterministically synthesize that structure INSIDE the query (line
breaks injected by replacing a frequent token; a PII footer built from
doc_id) with the exact same expression in the Spark plan and the DuckDB
oracle — the operators run on realistic inputs and stay value-pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.operators import curation as C
from batchprocessingetl_spark.operators import text as T_ops

DECON_N = 3
EVAL_MOD = 50


def q67_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs (doc_id % 50 != 0)
    sharing any word 3-gram with the eval split (doc_id % 50 == 0).
    Eval-side grams broadcast; the training corpus never shuffles
    (operators/curation.py:decontaminate). Production uses n=13; n=3
    yields visible hits on the synthetic near-dup corpus."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    return (
        C.decontaminate(train, ev, "doc_id", "text", n=DECON_N)
        .select("doc_id", "is_contaminated")
        .orderBy("doc_id")
    )


LINE_BREAK_TOKEN = " table "


def q68_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document. Line structure is
    injected by turning the frequent token ' table ' into newlines (the
    oracle does the identical regexp_replace), then the operator's
    narrow per-row array math computes dup-line fraction, max line
    repeat, and top-bigram share — no shuffle, scan-speed at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ltext", F.regexp_replace("text", LINE_BREAK_TOKEN, "\n")
    )
    return (
        C.repetition_signals(docs, "ltext")
        .select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            "dup_line_frac",
            F.col("max_line_repeat").cast("long").alias("max_line_repeat"),
            "top_bigram_frac",
        )
        .orderBy("doc_id")
    )


def q69_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit: a deterministic doc_id-derived footer
    (email + IPv4 + phone) prepends each document, then
    operators/curation.py:redact_pii counts and replaces each category.
    Patterns sit in the Java-regex ∩ RE2 subset so the oracle
    reproduces them exactly; output returns the redacted text itself,
    so the value hash pins the full rewrite, not just the counts."""
    docs = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 or call 555-867-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    return (
        C.redact_pii(docs.withColumn("pii_text", pii_text), "pii_text")
        .select(
            "doc_id",
            F.col("n_emails").cast("long").alias("n_emails"),
            F.col("n_ipv4").cast("long").alias("n_ipv4"),
            F.col("n_phones").cast("long").alias("n_phones"),
            "redacted",
        )
        .orderBy("doc_id")
    )


def q70_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the 'new batch' (doc_id % 3 == 0)
    lands against the existing corpus (doc_id % 5 != 4); rows whose
    CONTENT is already present are dropped via the bloom-bitmap +
    exact-verify plan (operators/curation.py:bloom_incremental_dedup).
    Result is exact, so the oracle is the plain content anti-join."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    new_batch = docs.filter(F.col("doc_id") % 3 == 0)
    return (
        C.bloom_incremental_dedup(new_batch, corpus, "text", "doc_id", n_bits=1 << 16)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


PACK_BUDGET = 256
PACK_SHARDS = 8


def q71_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/packing.py): documents
    hash into 8 independent shard streams (60-bit md5 prefix — engine-
    reproducible), each stream concatenates in doc_id order and cuts
    every 256 tokens. One shuffle + per-shard running-sum window; the
    oracle replicates shard, pack, and offset exactly."""
    docs = load_table(spark, sf_dir, "documents")
    from batchprocessingetl_spark.operators.packing import pack_sequences

    with_tokens = docs.withColumn(
        "n_tokens", F.size(T_ops.tokens(F.col("text"))).cast("long")
    )
    return (
        pack_sequences(with_tokens, "doc_id", "n_tokens", PACK_BUDGET, PACK_SHARDS)
        .select("doc_id", "n_tokens", "shard", "pack_id", "start_off")
        .orderBy("doc_id")
    )


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def q73_passage_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-token-window passage chunking for retrieval indexing
    (operators/packing.py::chunk_passages): 32-token windows, stride
    24. Narrow generate, no shuffle; the oracle re-derives every
    passage's exact text by list slicing."""
    from batchprocessingetl_spark.operators.packing import chunk_passages

    docs = load_table(spark, sf_dir, "documents")
    return chunk_passages(
        docs, "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP
    ).orderBy("doc_id", "passage_idx")


SAMPLE_K = 100
SAMPLE_SEED = "w0"


def q76_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.py::weighted_sample): 100 documents drawn with
    probability proportional to n_chars via the exponential-sort (A-ES)
    key -ln(u)/w, u from md5 hex — the oracle replicates the exact
    draw, pinning engine-independence of the whole construction."""
    from batchprocessingetl_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, "doc_id", "n_chars", SAMPLE_K, seed=SAMPLE_SEED)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


BOILER_N = 4
BOILER_MIN_DOCS = 3


def q82_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate span mining
    (operators/curation.py::boilerplate_spans): every 4-token span
    shared by >= 3 distinct documents, with its in-doc position — the
    detection pass of boilerplate stripping. The oracle recomputes the
    positional grams and document frequencies verbatim."""
    from batchprocessingetl_spark.operators.curation import boilerplate_spans

    docs = load_table(spark, sf_dir, "documents")
    return (
        boilerplate_spans(docs, "doc_id", "text", n=BOILER_N, min_docs=BOILER_MIN_DOCS)
        .select(F.col("id").alias("doc_id"), "pos", "gram", "n_docs")
        .orderBy("doc_id", "pos")
    )


def q84_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (operators/curation.py::strip_boilerplate):
    tokens covered by any cross-document 4-gram span shared by >= 3
    docs are dropped and the text reassembled in token order; the
    oracle rebuilds the cleaned text with an ordered string_agg."""
    from batchprocessingetl_spark.operators.curation import strip_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    return (
        strip_boilerplate(docs, "doc_id", "text", n=BOILER_N, min_docs=BOILER_MIN_DOCS)
        .select(
            F.col("id").alias("doc_id"), "clean_text", "n_tokens", "n_removed_tokens"
        )
        .orderBy("doc_id")
    )


TEMP_ALPHA = 0.5
TEMP_TARGET = 300
TEMP_SEED = "t0"


def q83_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture resampling over document sources
    (operators/sampling.py::temperature_resample, alpha=0.5, target
    300): fractions computed in-plan from corpus counts, membership by
    the deterministic md5 uniform — the oracle replicates the entire
    draw including the temperature weights."""
    from batchprocessingetl_spark.operators.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents")
    return (
        temperature_resample(docs, "source", "doc_id", TEMP_ALPHA, TEMP_TARGET, TEMP_SEED)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


GATE_Q = 0.75


def q116_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile gate (operators/stats.py::quantile_gate):
    keep each source's top quartile of documents by length — the
    'top-X% per stratum' allocation rule corpus curation applies
    before expensive model scoring. One grouped exact-percentile
    aggregate joined back broadcast on the group key; no percent_rank
    window. The oracle recomputes the per-source quantile_cont cutoff
    and the same >= filter."""
    from batchprocessingetl_spark.operators.stats import quantile_gate

    docs = load_table(spark, sf_dir, "documents")
    return (
        quantile_gate(docs, ["source"], "n_chars", GATE_Q)
        .select("source", "doc_id", "n_chars", F.round("__cut", 6).alias("cutoff"))
        .orderBy("source", "doc_id")
    )


QUOTA_BUDGET = 100
QUOTA_SEED = "quota"


def q151_quota_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional corpus sampling by LARGEST-REMAINDER quota
    allocation (Hamilton's method): a fixed budget of 100 docs is
    split across sources proportionally to their sizes, floor quotas
    first, then the leftover seats go to the largest integer
    remainders ((B·n_i) mod N, ties by source) — so the sample total
    is EXACTLY the budget, which per-stratum caps (q83-style fixed n)
    and Bernoulli fractions both fail to guarantee. All allocation
    arithmetic is integer, hence engine-exact; within each source the
    quota fills by md5 rank, the deterministic draw the oracle
    replays. Plan: one tiny per-source count aggregate carries the
    whole allocation (window over |sources| rows), broadcast back;
    the corpus sees one hash shuffle for the per-source rank window."""
    from pyspark.sql.window import Window

    from batchprocessingetl_spark.operators.sampling import rank_hash

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_i"))
    tot = counts.agg(F.sum("n_i").alias("n"))
    base = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("floor_q", (F.lit(QUOTA_BUDGET) * F.col("n_i") / F.col("n")).cast("long"))
        .withColumn("rem", (F.lit(QUOTA_BUDGET) * F.col("n_i")) % F.col("n"))
    )
    wrem = Window.orderBy(F.desc("rem"), F.asc("source"))
    wtot = Window.partitionBy()
    quotas = base.select(
        "source",
        (
            F.col("floor_q")
            + F.when(
                F.row_number().over(wrem)
                <= F.lit(QUOTA_BUDGET) - F.sum("floor_q").over(wtot),
                1,
            ).otherwise(0)
        ).alias("quota"),
    )
    wpick = Window.partitionBy("source").orderBy(
        rank_hash(F.col("doc_id"), QUOTA_SEED), F.col("doc_id")
    )
    return (
        docs.withColumn("__rk", F.row_number().over(wpick))
        .join(F.broadcast(quotas), "source")
        .filter(F.col("__rk") <= F.col("quota"))
        .select("doc_id", "source", "quota")
        .orderBy("doc_id")
    )


BPE_TOP = 20


def q152_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training statistic: the top-20 adjacent CHARACTER
    pairs across the corpus vocabulary, weighted by word frequency —
    exactly the candidate table byte-pair encoding greedily merges
    from (the first BPE iteration's input). Shape: word counts are one
    hash aggregate; each distinct word then expands to its |w|−1
    adjacent pairs via a sequence transform (narrow generate over the
    VOCABULARY, not the corpus — frequency weighting happens in the
    aggregate); the top-k is a single TakeOrdered with a total order
    ((count, pair) — no ties possible)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(T_ops.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.concat(
            F.col("w").substr(i, F.lit(1)), F.col("w").substr(i + 1, F.lit(1))
        ),
    )
    return (
        words.filter(F.length("w") >= 2)
        .select("wc", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("wc").alias("n_occ"))
        .orderBy(F.desc("n_occ"), "pair")
        .limit(BPE_TOP)
    )


BPE_ROUNDS = 6


def q182_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE training (VERDICT r5 #4): run 6 full greedy
    merge→re-segment rounds over the corpus vocabulary and return the
    learned merge table — what q152's single candidate round feeds.
    The corpus is touched ONCE (the word-count aggregate); every round
    after that is a narrow map + one hash aggregate over the
    vocabulary frame with a localCheckpoint barrier truncating the
    re-segmentation lineage (operators/text.py::bpe_train_merges has
    the seg-string semantics all three engines share). The oracle is
    the same recurrence unrolled as 6 DuckDB CTE rounds; a property
    test replays it in pure Python (the q151 pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(T_ops.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    return T_ops.bpe_train_merges(words, BPE_ROUNDS)


def q183_bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge APPLICATION — the consumer of q182's training: learn 6
    merges, apply them to the full vocabulary (length-1 words ride
    along as single tokens; the merge patterns can't touch them), and
    report the corpus-level compression — total char-level tokens vs
    total post-merge tokens, occurrence-weighted. Applying is 6 chained
    literal replaces on the segmentation string — one narrow map over
    the vocabulary, embarrassingly parallel at any corpus size; the
    oracle replays training via the q182 unrolled rounds and then the
    same 6 replaces in one expression."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(T_ops.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    merges = T_ops.bpe_train_merges(words, BPE_ROUNDS).collect()
    b1, b2 = T_ops.BPE_B, T_ops.BPE_B2
    seg = T_ops.bpe_seg(F.col("w"))
    for m in merges:
        seg = F.replace(
            seg,
            F.lit(b1 + m["lft"] + b2 + m["rgt"] + b1),
            F.lit(b1 + m["lft"] + m["rgt"] + b1),
        )
    ntok = F.size(F.filter(F.split(seg, b2), lambda t: t != F.lit("")))
    return words.agg(
        F.lit(len(merges)).alias("n_merges"),
        F.sum(F.col("wc") * F.length("w")).cast("long").alias("char_tokens"),
        F.sum(F.col("wc") * ntok).cast("long").alias("merged_tokens"),
        F.round(
            F.sum(F.col("wc") * F.length("w")).cast("double")
            / F.sum(F.col("wc") * ntok),
            6,
        ).alias("compression"),
    )


def _bpe_rounds_cte(k: int) -> str:
    """Shared WITH-prefix for the q182/q183 oracles: words + seg_0 +
    k (tokenize, pair-count, argmax, replace) CTE rounds chained on
    the previous round's segmentation strings."""
    b1, b2 = T_ops.BPE_B, T_ops.BPE_B2
    parts = [
        f"""
        WITH words AS (
            SELECT w, COUNT(*) AS wc
            FROM (SELECT unnest({T_ops.TOKENS_SQL_DUCKDB.format(col="text")}) AS w
                  FROM documents)
            GROUP BY 1
        ), seg_0 AS (
            SELECT wc, {T_ops.BPE_SEG_SQL_DUCKDB.format(b2=b2, col="w")} AS seg
            FROM words WHERE length(w) >= 2
        )"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""", segt_{r} AS (
            SELECT wc, list_filter(string_split(seg, '{b2}'), x -> x <> '') AS t,
                   seg
            FROM seg_{r - 1}
        ), pairs_{r} AS (
            SELECT string_split(pr, '{b1}')[1] AS lft,
                   string_split(pr, '{b1}')[2] AS rgt,
                   SUM(wc) AS n_occ
            FROM (SELECT wc,
                         unnest(list_transform(range(1, len(t)),
                                i -> t[i] || '{b1}' || t[i + 1])) AS pr
                  FROM segt_{r} WHERE len(t) >= 2)
            GROUP BY 1, 2
        ), best_{r} AS (
            SELECT {r} AS merge_round, lft, rgt, n_occ
            FROM pairs_{r} ORDER BY n_occ DESC, lft, rgt LIMIT 1
        ), seg_{r} AS (
            SELECT s.wc,
                   replace(s.seg, '{b1}' || b.lft || '{b2}' || b.rgt || '{b1}',
                           '{b1}' || b.lft || b.rgt || '{b1}') AS seg
            FROM segt_{r} s, best_{r} b
        )"""
        )
    return "".join(parts)


def _q182_oracle_sql(k: int) -> str:
    union = "\n            UNION ALL ".join(
        f"SELECT * FROM best_{r}" for r in range(1, k + 1)
    )
    return (
        _bpe_rounds_cte(k)
        + f"""
        SELECT CAST(merge_round AS INTEGER) AS merge_round, lft, rgt,
               lft || rgt AS merged, CAST(n_occ AS BIGINT) AS n_occ
        FROM ({union})
        ORDER BY merge_round"""
    )


def _q183_oracle_sql(k: int) -> str:
    """q183 twin: the k training rounds, then token counts off seg_k —
    length-1 words (outside the seg pipeline) contribute one token per
    occurrence on both sides of the stats."""
    b2 = T_ops.BPE_B2
    return (
        _bpe_rounds_cte(k)
        + f""", short AS (
            SELECT COALESCE(SUM(wc), 0) AS toks
            FROM words WHERE length(w) < 2
        ), merged_cnt AS (
            SELECT COALESCE(SUM(wc * len(list_filter(
                       string_split(seg, '{b2}'), x -> x <> ''))), 0) AS toks
            FROM seg_{k}
        ), chars AS (
            SELECT SUM(wc * length(w)) AS toks FROM words
        )
        SELECT CAST({k} AS INTEGER) AS n_merges,
               CAST(chars.toks AS BIGINT) AS char_tokens,
               CAST(merged_cnt.toks + short.toks AS BIGINT) AS merged_tokens,
               ROUND(CAST(chars.toks AS DOUBLE)
                     / (merged_cnt.toks + short.toks), 6) AS compression
        FROM chars, merged_cnt, short"""
    )


AUG_SEED = "aug"
AUG_MOD = 10  # drop ~1/10 of tokens


def q148_token_dropout_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-dropout augmentation: each document yields
    one augmented variant with ~10% of tokens removed, the keep/drop
    decision per (doc, position) coming from md5 — replayable on any
    engine, no RNG state, and stable as the corpus grows (a doc's
    augmentation never changes). The drop runs as an indexed
    higher-order filter over the token array — zero shuffle, one
    narrow map over the corpus; the md5-per-token cost is the price of
    engine-exact replay and stays embarrassingly parallel. Counts let
    downstream mixing weight originals vs augments."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T_ops.tokens(F.col("text"))
    keep = lambda t, i: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(AUG_SEED + ":"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        i.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % AUG_MOD
        != 0
    )
    kept = F.filter(toks, keep)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_orig"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, " ").alias("aug_text"),
    ).orderBy("doc_id")


WINSOR_LO = 0.05
WINSOR_HI = 0.95


def q149_winsorize_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip each document's length feature to
    its source's [p05, p95] interpolated percentiles — the standard
    outlier-taming transform before training statistics. One grouped
    exact-percentile aggregate (rows = |groups|) joined back on the
    group key, then a narrow clamp — the q116 quantile-gate shape, no
    percent_rank window. Cut values are identical interpolated doubles
    in both engines, so clamped values match bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    v = F.col("n_chars").cast("double")
    cuts = docs.groupBy("source").agg(
        F.percentile(v, F.lit(WINSOR_LO)).alias("__lo"),
        F.percentile(v, F.lit(WINSOR_HI)).alias("__hi"),
    )
    return (
        docs.join(cuts, "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.greatest(F.col("__lo"), F.least(F.col("__hi"), v)).alias(
                "n_chars_winsor"
            ),
        )
        .orderBy("doc_id")
    )


NEG_K = 4
NEG_BUCKETS = 32
NEG_SEED = "neg"


def q136_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive NEGATIVE sampling (operators/sampling.py::
    negative_pairs): up to 4 deterministic negatives per anchor doc,
    drawn from md5-bucket representatives and excluding the anchor's
    own source (same-source docs are potential positives). The oracle
    replays the identical md5 draws with window functions, so every
    (anchor, draw) -> negative assignment is value-pinned."""
    from batchprocessingetl_spark.operators.sampling import negative_pairs

    docs = load_table(spark, sf_dir, "documents")
    return (
        negative_pairs(
            docs, "doc_id", "source", k=NEG_K, n_buckets=NEG_BUCKETS, seed=NEG_SEED
        )
        .withColumnRenamed("anchor", "doc_id")
        .withColumnRenamed("anchor_grp", "source")
        .orderBy("doc_id", "draw")
    )


NOVELTY_N = 3
NOVELTY_MOD, NOVELTY_TRAIN_LT = 10, 8  # doc_id % 10 < 8 -> train


def q181_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty audit — for each held-out document, the fraction
    of its distinct word trigrams never seen in the training split
    (the memorization/novelty counterpart of q67's decontamination:
    that query asks "did eval text leak INTO training", this one asks
    "how much of this text is NOT already in training"). Split is
    hash-free and deterministic (doc_id mod); both sides reduce to
    distinct-gram frames (train corpus-wide, test per-doc) via the
    same positional_ngrams generate, then one LEFT ANTI shuffle join
    on the raw gram marks novel grams exactly. The anti-join keys are
    gram strings; at extreme scale the production variant joins on an
    8-byte gram hash (the boilerplate_spans trade-off —
    operators/curation.py:335) at the cost of hash-collision false
    negatives. Docs with fewer than 3 tokens emit n_grams = 0 and a
    NULL novelty_pct."""
    from batchprocessingetl_spark.operators.curation import positional_ngrams

    docs = load_table(spark, sf_dir, "documents")
    is_train = F.col("doc_id") % NOVELTY_MOD < NOVELTY_TRAIN_LT
    train, test = docs.filter(is_train), docs.filter(~is_train)
    test_g = (
        positional_ngrams(test, "doc_id", "text", NOVELTY_N)
        .select(F.col("id").alias("doc_id"), "gram")
        .distinct()
    )
    train_g = positional_ngrams(train, "doc_id", "text", NOVELTY_N).select(
        "gram"
    ).distinct()
    per_doc = test_g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        test_g.join(train_g, "gram", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        test.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                    / F.col("n_grams"),
                    6,
                ),
            ).alias("novelty_pct"),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "q67_decontamination": q67_decontamination,
    "q68_repetition_signals": q68_repetition_signals,
    "q69_pii_redaction": q69_pii_redaction,
    "q70_bloom_incremental_dedup": q70_bloom_incremental_dedup,
    "q181_ngram_novelty": q181_ngram_novelty,
    "q136_negative_pairs": q136_negative_pairs,
    "q148_token_dropout_augment": q148_token_dropout_augment,
    "q149_winsorize_by_source": q149_winsorize_by_source,
    "q151_quota_allocation_sample": q151_quota_allocation_sample,
    "q152_bpe_merge_candidates": q152_bpe_merge_candidates,
    "q116_source_quality_gate": q116_source_quality_gate,
    "q71_sequence_packing": q71_sequence_packing,
    "q73_passage_chunking": q73_passage_chunking,
    "q76_weighted_sample": q76_weighted_sample,
    "q82_boilerplate_spans": q82_boilerplate_spans,
    "q83_temperature_resample": q83_temperature_resample,
    "q84_strip_boilerplate": q84_strip_boilerplate,
}

_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP

_TOKENS_SQL = T_ops.TOKENS_SQL_DUCKDB.format(col="text")
_TOKENS_LTEXT_SQL = T_ops.TOKENS_SQL_DUCKDB.format(col="ltext")

# distinct word 3-grams (mirrors operators/dedup.py shingles at n=3)
_GRAMS3_SQL = (
    "CASE WHEN len({toks}) >= 3 THEN list_distinct(list_transform("
    "range(1, len({toks}) - 1), i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))"
    " ELSE [] END"
)

ORACLE = {
    "q181_ngram_novelty": f"""
        WITH toks AS (
            SELECT doc_id, doc_id % {NOVELTY_MOD} < {NOVELTY_TRAIN_LT} AS is_train,
                   {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, is_train,
                   unnest(list_distinct(list_transform(
                       range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram
            FROM toks
        ), train_g AS (
            SELECT DISTINCT gram FROM grams WHERE is_train
        ), per_doc AS (
            SELECT doc_id, COUNT(*) AS n_grams
            FROM grams WHERE NOT is_train GROUP BY 1
        ), novel AS (
            SELECT doc_id, COUNT(*) AS n_novel
            FROM grams
            WHERE NOT is_train
              AND gram NOT IN (SELECT gram FROM train_g)
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel,
               CASE WHEN COALESCE(p.n_grams, 0) > 0
                    THEN ROUND(CAST(COALESCE(v.n_novel, 0) AS DOUBLE)
                               / p.n_grams, 6)
               END AS novelty_pct
        FROM (SELECT doc_id FROM documents
              WHERE doc_id % {NOVELTY_MOD} >= {NOVELTY_TRAIN_LT}) d
        LEFT JOIN per_doc p USING (doc_id)
        LEFT JOIN novel v USING (doc_id)
        ORDER BY d.doc_id
    """,
    "q151_quota_allocation_sample": f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS n_i FROM documents GROUP BY 1
        ), tot AS (
            SELECT SUM(n_i) AS n FROM counts
        ), base AS (
            SELECT source, n_i,
                   ({QUOTA_BUDGET} * n_i) // n AS floor_q,
                   ({QUOTA_BUDGET} * n_i) % n AS rem
            FROM counts, tot
        ), quotas AS (
            SELECT source,
                   floor_q + CASE WHEN ROW_NUMBER() OVER (
                           ORDER BY rem DESC, source)
                       <= {QUOTA_BUDGET} - (SELECT SUM(floor_q) FROM base)
                       THEN 1 ELSE 0 END AS quota
            FROM base
        ), ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5('{QUOTA_SEED}:' || doc_id::VARCHAR),
                                doc_id) AS rk
            FROM documents
        )
        SELECT r.doc_id, r.source, q.quota::BIGINT AS quota
        FROM ranked r JOIN quotas q USING (source)
        WHERE r.rk <= q.quota
        ORDER BY r.doc_id
    """,
    "q152_bpe_merge_candidates": f"""
        WITH words AS (
            SELECT w, COUNT(*) AS wc
            FROM (SELECT unnest({T_ops.TOKENS_SQL_DUCKDB.format(col="text")}) AS w
                  FROM documents)
            GROUP BY 1
        ), p AS (
            SELECT wc,
                   unnest(list_transform(range(1, length(w)),
                          i -> substr(w, i, 1) || substr(w, i + 1, 1))) AS pair
            FROM words WHERE length(w) >= 2
        )
        SELECT pair, SUM(wc)::BIGINT AS n_occ
        FROM p GROUP BY 1
        ORDER BY n_occ DESC, pair
        LIMIT {BPE_TOP}
    """,
    # DuckDB lambda indexes are 1-based; Spark's filter() index is
    # 0-based — hence the i-1.
    "q148_token_dropout_augment": f"""
        WITH t AS (
            SELECT doc_id,
                   {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS toks
            FROM documents
        ), k AS (
            SELECT doc_id, toks,
                   list_filter(toks, (x, i) ->
                       ('0x' || substr(md5('{AUG_SEED}:' || doc_id::VARCHAR
                                           || ':' || (i - 1)::VARCHAR), 1, 15)
                       )::BIGINT % {AUG_MOD} <> 0) AS kept
            FROM t
        )
        SELECT doc_id, len(toks)::INT AS n_orig, len(kept)::INT AS n_kept,
               array_to_string(kept, ' ') AS aug_text
        FROM k
        ORDER BY doc_id
    """,
    "q149_winsorize_by_source": f"""
        WITH cuts AS (
            SELECT source,
                   quantile_cont(n_chars::DOUBLE, {WINSOR_LO}) AS lo,
                   quantile_cont(n_chars::DOUBLE, {WINSOR_HI}) AS hi
            FROM documents GROUP BY source
        )
        SELECT d.doc_id, d.source, d.n_chars,
               greatest(c.lo, least(c.hi, d.n_chars::DOUBLE)) AS n_chars_winsor
        FROM documents d JOIN cuts c USING (source)
        ORDER BY d.doc_id
    """,
    "q136_negative_pairs": f"""
        WITH base AS (
            SELECT doc_id AS key, source AS grp,
                   ('0x' || substr(md5('{NEG_SEED}p:' || doc_id::VARCHAR), 1, 15))::BIGINT
                       AS pos,
                   ('0x' || substr(md5('{NEG_SEED}b:' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % {NEG_BUCKETS} AS bkt
            FROM documents
        ), reps AS (
            SELECT bkt, grp AS rep_grp, pos AS rep_pos, key AS rep_key
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY bkt, grp ORDER BY pos, key) AS rn
                FROM base
            ) WHERE rn = 1
        ), draws AS (
            SELECT b.key AS doc_id, b.grp AS source, i.i::INT AS draw,
                   ('0x' || substr(md5('{NEG_SEED}t:' || b.key::VARCHAR
                                       || ':' || i.i::VARCHAR), 1, 15))::BIGINT
                       % {NEG_BUCKETS} AS bkt
            FROM base b CROSS JOIN (SELECT unnest(range(1, {NEG_K + 1})) AS i) i
        )
        SELECT doc_id, source, draw, rep_key AS negative
        FROM (
            SELECT d.doc_id, d.source, d.draw, r.rep_key,
                   ROW_NUMBER() OVER (PARTITION BY d.doc_id, d.draw
                                      ORDER BY r.rep_pos, r.rep_key) AS rn
            FROM draws d
            JOIN reps r ON d.bkt = r.bkt AND r.rep_grp <> d.source
        ) WHERE rn = 1
        ORDER BY doc_id, draw
    """,
    "q116_source_quality_gate": f"""
        WITH cuts AS (
            SELECT source,
                   quantile_cont(CAST(n_chars AS DOUBLE), {GATE_Q}) AS cut
            FROM documents GROUP BY source
        )
        SELECT d.source, d.doc_id, d.n_chars, ROUND(c.cut, 6) AS cutoff
        FROM documents d JOIN cuts c USING (source)
        WHERE CAST(d.n_chars AS DOUBLE) >= c.cut
        ORDER BY d.source, d.doc_id
    """,
    "q84_strip_boilerplate": f"""
        WITH t AS (
            SELECT doc_id, {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS toks
            FROM documents
        ), f AS (
            SELECT doc_id,
                   unnest(range(1, len(toks) - {BOILER_N - 2}))::INT - 1 AS pos,
                   unnest(list_transform(range(1, len(toks) - {BOILER_N - 2}),
                          i -> array_to_string(toks[i:i+{BOILER_N - 1}], ' '))) AS gram
            FROM t WHERE len(toks) >= {BOILER_N}
        ), hot AS (
            SELECT gram FROM f GROUP BY 1
            HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
        ), cov AS (
            SELECT DISTINCT f.doc_id, unnest(range(f.pos, f.pos + {BOILER_N}))::INT AS tpos
            FROM f JOIN hot USING (gram)
        ), tokpos AS (
            SELECT doc_id, unnest(range(1, len(toks) + 1))::INT - 1 AS tpos,
                   unnest(toks) AS tok
            FROM t WHERE len(toks) > 0
        ), kept AS (
            SELECT tp.doc_id, tp.tpos, tp.tok
            FROM tokpos tp LEFT JOIN cov c
              ON tp.doc_id = c.doc_id AND tp.tpos = c.tpos
            WHERE c.doc_id IS NULL
        ), agg AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id
        ), totals AS (
            SELECT doc_id, COUNT(*) AS n_tokens FROM tokpos GROUP BY doc_id
        )
        SELECT tt.doc_id,
               COALESCE(a.clean_text, '') AS clean_text,
               tt.n_tokens,
               tt.n_tokens - COALESCE(a.n_kept, 0) AS n_removed_tokens
        FROM totals tt LEFT JOIN agg a USING (doc_id)
        ORDER BY tt.doc_id
    """,
    "q83_temperature_resample": f"""
        WITH c AS (
            SELECT source, COUNT(*)::DOUBLE AS n FROM documents GROUP BY 1
        ), z AS (
            SELECT SUM(pow(n, {TEMP_ALPHA})) AS z FROM c
        ), f AS (
            SELECT c.source,
                   ROUND(LEAST(1.0, {TEMP_TARGET} * pow(c.n, {TEMP_ALPHA}) / z.z / c.n), 12) AS f
            FROM c, z
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d JOIN f USING (source)
        WHERE (('0x' || substr(md5('{TEMP_SEED}:' || d.doc_id::VARCHAR), 1, 15))::BIGINT
               + 1) / {float(16**15)} < f.f
        ORDER BY d.doc_id
    """,
    "q82_boilerplate_spans": f"""
        WITH t AS (
            SELECT doc_id, {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS toks
            FROM documents
        ), f AS (
            SELECT doc_id,
                   unnest(range(1, len(toks) - {BOILER_N - 2}))::INT - 1 AS pos,
                   unnest(list_transform(range(1, len(toks) - {BOILER_N - 2}),
                          i -> array_to_string(toks[i:i+{BOILER_N - 1}], ' '))) AS gram
            FROM t WHERE len(toks) >= {BOILER_N}
        ), hot AS (
            SELECT gram, COUNT(DISTINCT doc_id) AS n_docs
            FROM f GROUP BY 1
            HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
        )
        SELECT f.doc_id, f.pos, f.gram, h.n_docs
        FROM f JOIN hot h USING (gram)
        ORDER BY f.doc_id, f.pos
    """,
    "q76_weighted_sample": f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   -ln( (('0x' || substr(md5('{SAMPLE_SEED}:' || doc_id::VARCHAR), 1, 15))::BIGINT
                         + 1) / {float(16**15)} ) / n_chars AS aes
            FROM documents
            WHERE n_chars > 0
        ), top AS (
            SELECT doc_id, source, n_chars FROM keyed
            ORDER BY aes, doc_id LIMIT {SAMPLE_K}
        )
        SELECT doc_id, source, n_chars FROM top ORDER BY doc_id
    """,
    "q73_passage_chunking": f"""
        WITH t AS (
            SELECT doc_id, {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS toks
            FROM documents
        ), nz AS (
            SELECT doc_id, toks,
                   CAST(ceil(greatest(len(toks) - {CHUNK_OVERLAP}, 1)
                             / {_CHUNK_STRIDE}.0) AS INT) AS n_pass
            FROM t WHERE len(toks) > 0
        ), p AS (
            SELECT doc_id, toks, unnest(range(0, n_pass))::INT AS passage_idx
            FROM nz
        )
        SELECT doc_id, passage_idx,
               len(toks[passage_idx * {_CHUNK_STRIDE} + 1 :
                        passage_idx * {_CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS n_passage_tokens,
               array_to_string(toks[passage_idx * {_CHUNK_STRIDE} + 1 :
                                    passage_idx * {_CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS passage
        FROM p
        ORDER BY doc_id, passage_idx
    """,
    "q71_sequence_packing": f"""
        WITH t AS (
            SELECT doc_id,
                   len({T_ops.TOKENS_SQL_DUCKDB.format(col="text")})::BIGINT AS n_tokens,
                   CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                        % {PACK_SHARDS} AS INT) AS shard
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens, shard,
                   SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) - n_tokens AS start
            FROM t
        )
        SELECT doc_id, n_tokens, shard,
               (start // {PACK_BUDGET})::BIGINT AS pack_id,
               (start % {PACK_BUDGET})::BIGINT AS start_off
        FROM c
        ORDER BY doc_id
    """,
    "q67_decontamination": f"""
        WITH sh AS (
            SELECT doc_id, {_GRAMS3_SQL.format(toks=_TOKENS_SQL)} AS sh
            FROM documents
        ), eval_g AS (
            SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % {EVAL_MOD} = 0
        ), train_g AS (
            SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % {EVAL_MOD} <> 0
        ), hits AS (
            SELECT DISTINCT t.doc_id FROM train_g t JOIN eval_g e USING (g)
        )
        SELECT s.doc_id, (h.doc_id IS NOT NULL) AS is_contaminated
        FROM sh s LEFT JOIN hits h USING (doc_id)
        WHERE s.doc_id % {EVAL_MOD} <> 0
        ORDER BY s.doc_id
    """,
    "q68_repetition_signals": f"""
        WITH base AS (
            SELECT doc_id, regexp_replace(text, '{LINE_BREAK_TOKEN}', chr(10), 'g') AS ltext
            FROM documents
        ), lines AS (
            SELECT doc_id, trim(l) AS line
            FROM base, unnest(string_split(ltext, chr(10))) AS u(l)
            WHERE trim(l) <> ''
        ), lc AS (
            SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY doc_id, line
        ), lstats AS (
            SELECT doc_id, SUM(c)::BIGINT AS n_lines,
                   ROUND((SUM(c) - COUNT(*)) / SUM(c)::DOUBLE, 6) AS dup_line_frac,
                   MAX(c)::BIGINT AS max_line_repeat
            FROM lc GROUP BY doc_id
        ), bg AS (
            SELECT doc_id, unnest(list_transform(
                       range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]
                   )) AS gram
            FROM (SELECT doc_id, {_TOKENS_LTEXT_SQL} AS toks FROM base)
        ), bc AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY doc_id, gram
        ), bstats AS (
            SELECT doc_id, ROUND(MAX(c) / SUM(c)::DOUBLE, 6) AS top_bigram_frac
            FROM bc GROUP BY doc_id
        )
        SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.max_line_repeat,
               b.top_bigram_frac
        FROM lstats l JOIN bstats b USING (doc_id)
        ORDER BY l.doc_id
    """,
    "q69_pii_redaction": r"""
        WITH base AS (
            SELECT doc_id,
                   'contact user' || doc_id::VARCHAR || '@mail.example.com or 10.'
                   || (doc_id % 256)::VARCHAR || '.0.1 or call 555-867-'
                   || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' ' || text AS pii_text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(pii_text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(pii_text,
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ipv4,
               len(regexp_extract_all(pii_text,
                   '\b\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS n_phones,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(pii_text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                   '\b\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS redacted
        FROM base
        ORDER BY doc_id
    """,
    "q70_bloom_incremental_dedup": """
        SELECT doc_id, lang, source
        FROM documents
        WHERE doc_id % 3 = 0
          AND text NOT IN (SELECT text FROM documents WHERE doc_id % 5 <> 4)
        ORDER BY doc_id
    """,
}

# Iterated BPE merge training, property-tested against the pure-Python
# replay.
QUERIES["q182_bpe_train_merges"] = q182_bpe_train_merges
ORACLE["q182_bpe_train_merges"] = _q182_oracle_sql(BPE_ROUNDS)
QUERIES["q183_bpe_apply_compression"] = q183_bpe_apply_compression
ORACLE["q183_bpe_apply_compression"] = _q183_oracle_sql(BPE_ROUNDS)


DSIR_BUCKETS = 256
DSIR_TOKHASH_MOD = 2**20  # per-token hash range before the bigram combine
DSIR_TARGET = "src0"
DSIR_TOP = 50


def q188_dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., 2023 — hashed n-gram
    importance resampling): score every RAW-pool document by how
    target-like its hashed-bigram distribution is, and keep the top-50.
    Target = the 'src0' slice; features = word bigrams hashed into 256
    buckets; bucket log-ratios come from add-1-smoothed bucket
    multinomials of target vs raw; a doc's score is the sum of its
    bigrams' log-ratios. Shape: one corpus scan builds the per-doc
    bigram→bucket frame; the two 256-row bucket models broadcast back
    onto it; per-doc summation accumulates 9dp-rounded DECIMAL terms
    (order-independent — the q179 discipline), so both engines produce
    the identical score to the last digit. At 100 TB the model is two
    256-row aggregates and the scoring pass is scan-speed.

    Bucketing (round 7, VERDICT r6 #7): one md5 per TOKEN occurrence
    (posexplode), adjacent hashes combined into a bigram bucket by
    integer arithmetic over a doc-keyed lead() window — both engines
    replay it exactly. The round-7 iteration in docs/SCALE.md measured
    this against the original per-bigram-string md5 inside
    zip_with/slice higher-order functions: at 10× docs the window form
    runs 5.7s vs 20.4s — and a no-hash HOF control still costs 7.3s,
    i.e. the interpreted zip_with/struct-array path was the real cost,
    not md5. The doc-keyed shuffle the window adds is cheaper than the
    HOF allocation it removes at every scale probed."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tp = docs.select(
        "doc_id",
        "source",
        F.posexplode(T_ops.tokens(F.col("text"))).alias("pos", "tok"),
    ).withColumn(
        "h",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        % DSIR_TOKHASH_MOD,
    )
    wseq = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        tp.withColumn("h2", F.lead("h").over(wseq))
        .filter(F.col("h2").isNotNull())
        .select(
            "doc_id",
            "source",
            ((F.col("h") * 1000003 + F.col("h2")) % DSIR_BUCKETS).alias(
                "bucket"
            ),
        )
    )
    is_target = F.col("source") == DSIR_TARGET
    tgt = bg.filter(is_target).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_t")
    )
    raw = bg.filter(~is_target).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r")
    )
    spine = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    model = (
        spine.join(tgt, "bucket", "left")
        .join(raw, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
            F.coalesce("c_r", F.lit(0)).alias("c_r"),
        )
    )
    totals = model.agg(
        F.sum("c_t").alias("tt"), F.sum("c_r").alias("tr")
    )
    lr = (
        F.log((F.col("c_t") + 1).cast("double") / (F.col("tt") + DSIR_BUCKETS))
        - F.log((F.col("c_r") + 1).cast("double") / (F.col("tr") + DSIR_BUCKETS))
    )
    ratios = (
        model.crossJoin(F.broadcast(totals))
        .select("bucket", F.round(lr, 9).cast("decimal(28,10)").alias("lr"))
    )
    return (
        bg.filter(~is_target)
        .join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("lr"), 6).cast("double").alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(DSIR_TOP)
    )


QUERIES["q188_dsir_importance_select"] = q188_dsir_importance_select
ORACLE["q188_dsir_importance_select"] = f"""
    WITH tp AS (
        SELECT doc_id, source,
               unnest(t) AS tok,
               unnest(range(1, len(t) + 1)) AS pos
        FROM (SELECT doc_id, source,
                     {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS t
              FROM documents)
    ), hs AS (
        SELECT doc_id, source, pos,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT
                   % {DSIR_TOKHASH_MOD} AS h
        FROM tp
    ), bg AS (
        SELECT doc_id, source,
               (h * 1000003
                + LEAD(h) OVER (PARTITION BY doc_id ORDER BY pos))
                   % {DSIR_BUCKETS} AS bucket
        FROM hs
        QUALIFY LEAD(h) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    ), spine AS (
        SELECT unnest(range(0, {DSIR_BUCKETS})) AS bucket
    ), model AS (
        SELECT s.bucket,
               COALESCE(t.c_t, 0) AS c_t, COALESCE(r.c_r, 0) AS c_r
        FROM spine s
        LEFT JOIN (SELECT bucket, COUNT(*) AS c_t FROM bg
                   WHERE source = '{DSIR_TARGET}' GROUP BY 1) t USING (bucket)
        LEFT JOIN (SELECT bucket, COUNT(*) AS c_r FROM bg
                   WHERE source <> '{DSIR_TARGET}' GROUP BY 1) r USING (bucket)
    ), totals AS (
        SELECT SUM(c_t) AS tt, SUM(c_r) AS tr FROM model
    ), ratios AS (
        SELECT bucket,
               CAST(ROUND(
                   LN(CAST(c_t + 1 AS DOUBLE) / (tt + {DSIR_BUCKETS}))
                   - LN(CAST(c_r + 1 AS DOUBLE) / (tr + {DSIR_BUCKETS})),
                   9) AS DECIMAL(28,10)) AS lr
        FROM model, totals
    )
    SELECT b.doc_id, COUNT(*) AS n_grams,
           CAST(ROUND(SUM(r.lr), 6) AS DOUBLE) AS score
    FROM bg b JOIN ratios r USING (bucket)
    WHERE b.source <> '{DSIR_TARGET}'
    GROUP BY 1
    ORDER BY score DESC, b.doc_id
    LIMIT {DSIR_TOP}
"""


FUNNEL_BUDGET = 100
FUNNEL_SEED = "funnel"


def q200_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation FUNNEL report — per-source survivor
    counts through the four standard training-data gates composed in
    one query: (1) per-source length-quality gate (keep the top
    quartile, the q116 rule), (2) exact content dedup (min-id per md5
    group, q33), (3) eval-set decontamination (drop any doc sharing a
    word 3-gram with the held-out split, q67), (4) largest-remainder
    quota sampling to a fixed 100-doc budget (q151). The output is the
    per-source funnel — the table a data lead reads before a training
    run. Every stage is deterministic, so the whole composite is
    value-pinned; shapes are the proven ones (broadcast cuts,
    hash-group dedup, broadcast-gram anti-join, integer quota
    arithmetic) — one corpus scan per stage, no corpus² anywhere."""
    from pyspark.sql.window import Window

    from batchprocessingetl_spark.operators.sampling import rank_hash

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)

    cuts = train.groupBy("source").agg(
        F.percentile(F.col("n_chars").cast("double"), F.lit(GATE_Q)).alias("cut")
    )
    quality = train.join(F.broadcast(cuts), "source").filter(
        F.col("n_chars") >= F.col("cut")
    )

    w_dup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    unique = (
        quality.withColumn("__rn", F.row_number().over(w_dup))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    def grams(df):
        toks = T_ops.tokens(F.col("text"))
        g = F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + F.lit(1)),
                F.element_at(toks, i + F.lit(2)),
            ),
        )
        # size<3 would make sequence(1, <=0) run DESCENDING (the
        # negative-step gotcha) — gate to an empty gram array instead
        g = F.when(F.size(toks) >= 3, g).otherwise(F.array().cast("array<string>"))
        return df.select("doc_id", F.explode(F.array_distinct(g)).alias("gram"))

    eval_grams = grams(ev).select("gram").distinct()
    dirty = (
        grams(unique)
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = unique.join(dirty, "doc_id", "left_anti")

    counts = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n_i"))
    tot = counts.agg(F.sum("n_i").alias("n"))
    base = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "floor_q", (F.lit(FUNNEL_BUDGET) * F.col("n_i") / F.col("n")).cast("long")
        )
        .withColumn("rem", (F.lit(FUNNEL_BUDGET) * F.col("n_i")) % F.col("n"))
    )
    wrem = Window.orderBy(F.desc("rem"), F.asc("source"))
    wtot = Window.partitionBy()
    quotas = base.select(
        "source",
        (
            F.col("floor_q")
            + F.when(
                F.row_number().over(wrem)
                <= F.lit(FUNNEL_BUDGET) - F.sum("floor_q").over(wtot),
                1,
            ).otherwise(0)
        ).alias("quota"),
    )
    wpick = Window.partitionBy("source").orderBy(
        rank_hash(F.col("doc_id"), FUNNEL_SEED), F.col("doc_id")
    )
    sampled = (
        clean.withColumn("__rk", F.row_number().over(wpick))
        .join(F.broadcast(quotas), "source")
        .filter(F.col("__rk") <= F.col("quota"))
    )

    def stage(df, name):
        return df.groupBy("source").agg(F.count(F.lit(1)).alias(name))

    out = (
        stage(train, "n_raw")
        .join(stage(quality, "n_quality"), "source", "left")
        .join(stage(unique, "n_unique"), "source", "left")
        .join(stage(clean, "n_clean"), "source", "left")
        .join(stage(sampled, "n_sampled"), "source", "left")
    )
    return out.select(
        "source",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ("n_raw", "n_quality", "n_unique", "n_clean", "n_sampled")
        ],
    ).orderBy("source")


_Q200_GRAMS = (
    "list_distinct(list_transform(range(1, greatest(len({t}) - 1, 1)), "
    "i -> {t}[i] || ' ' || {t}[i + 1] || ' ' || {t}[i + 2]))"
)

QUERIES["q200_curation_funnel"] = q200_curation_funnel
ORACLE["q200_curation_funnel"] = f"""
    WITH train AS (
        SELECT * FROM documents WHERE doc_id % {EVAL_MOD} <> 0
    ), ev AS (
        SELECT * FROM documents WHERE doc_id % {EVAL_MOD} = 0
    ), cuts AS (
        SELECT source, quantile_cont(n_chars::DOUBLE, {GATE_Q}) AS cut
        FROM train GROUP BY 1
    ), quality AS (
        SELECT t.* FROM train t JOIN cuts c USING (source)
        WHERE t.n_chars >= c.cut
    ), unique_d AS (
        SELECT * FROM quality
        QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    ), eval_grams AS (
        SELECT DISTINCT unnest({_Q200_GRAMS.format(t="t")}) AS gram
        FROM (SELECT {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS t
              FROM ev WHERE len({T_ops.TOKENS_SQL_DUCKDB.format(col="text")}) >= 3)
    ), dirty AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest({_Q200_GRAMS.format(t="t")}) AS gram
            FROM (SELECT doc_id, {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS t
                  FROM unique_d
                  WHERE len({T_ops.TOKENS_SQL_DUCKDB.format(col="text")}) >= 3)
        ) WHERE gram IN (SELECT gram FROM eval_grams)
    ), clean AS (
        SELECT * FROM unique_d WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
    ), counts AS (
        SELECT source, COUNT(*) AS n_i FROM clean GROUP BY 1
    ), tot AS (
        SELECT SUM(n_i) AS n FROM counts
    ), base AS (
        SELECT source, n_i,
               ({FUNNEL_BUDGET} * n_i) // n AS floor_q,
               ({FUNNEL_BUDGET} * n_i) % n AS rem
        FROM counts, tot
    ), quotas AS (
        SELECT source,
               floor_q + CASE WHEN ROW_NUMBER() OVER (
                       ORDER BY rem DESC, source)
                   <= {FUNNEL_BUDGET} - (SELECT SUM(floor_q) FROM base)
                   THEN 1 ELSE 0 END AS quota
        FROM base
    ), sampled AS (
        SELECT c.source FROM (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5('{FUNNEL_SEED}:' || doc_id::VARCHAR),
                                doc_id) AS rk
            FROM clean
        ) c JOIN quotas q USING (source)
        WHERE c.rk <= q.quota
    )
    SELECT t.source,
           COUNT(*) AS n_raw,
           COALESCE(qq.n, 0) AS n_quality,
           COALESCE(uu.n, 0) AS n_unique,
           COALESCE(cc.n, 0) AS n_clean,
           COALESCE(ss.n, 0) AS n_sampled
    FROM train t
    LEFT JOIN (SELECT source, COUNT(*) AS n FROM quality GROUP BY 1) qq
        ON qq.source = t.source
    LEFT JOIN (SELECT source, COUNT(*) AS n FROM unique_d GROUP BY 1) uu
        ON uu.source = t.source
    LEFT JOIN (SELECT source, COUNT(*) AS n FROM clean GROUP BY 1) cc
        ON cc.source = t.source
    LEFT JOIN (SELECT source, COUNT(*) AS n FROM sampled GROUP BY 1) ss
        ON ss.source = t.source
    GROUP BY 1, qq.n, uu.n, cc.n, ss.n
    ORDER BY 1
"""


SPAN_SEED = "span"
SPAN_FRAC = 5  # mask ~1/5 of the tokens as one contiguous span


def q201_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption augmentation: mask ONE contiguous span
    of ~20% of each document's tokens (md5-deterministic start), emit
    the corrupted input (span replaced by a sentinel) and the
    denoising target — the seq2seq pretraining objective's data prep,
    companion to q148's token dropout. Pure higher-order array ops
    (slice + concat) over one narrow scan — no shuffle; the md5 draw
    makes every example replayable cross-engine, and the oracle
    re-derives the exact corrupted/target strings."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T_ops.tokens(F.col("text"))
    n = F.size(toks)
    span_len = F.greatest(n / F.lit(SPAN_FRAC), F.lit(1)).cast("int")
    max_start = F.greatest(n - span_len + 1, F.lit(1))
    start = (
        F.lit(1)
        + F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(SPAN_SEED + ":"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % max_start.cast("long")
    ).cast("int")
    corrupted = F.concat(
        F.slice(toks, 1, start - 1),
        F.array(F.lit("<extra_id_0>")),
        F.slice(toks, start + span_len, F.greatest(n - (start + span_len) + 1, F.lit(0))),
    )
    target = F.slice(toks, start, span_len)
    return docs.select(
        "doc_id",
        n.cast("int").alias("n_tok"),
        start.alias("span_start"),
        span_len.alias("span_len"),
        F.array_join(corrupted, " ").alias("corrupted_text"),
        F.array_join(target, " ").alias("target_text"),
    ).filter(F.col("n_tok") >= 2).orderBy("doc_id")


QUERIES["q201_span_corruption"] = q201_span_corruption
ORACLE["q201_span_corruption"] = f"""
    WITH t AS (
        SELECT doc_id, {T_ops.TOKENS_SQL_DUCKDB.format(col="text")} AS toks
        FROM documents
    ), p AS (
        SELECT doc_id, toks, len(toks) AS n,
               GREATEST(len(toks) // {SPAN_FRAC}, 1) AS sl
        FROM t
    ), s AS (
        SELECT doc_id, toks, n, sl,
               CAST(1 + ('0x' || substr(md5('{SPAN_SEED}:' || doc_id::VARCHAR),
                                        1, 15))::BIGINT
                        % GREATEST(n - sl + 1, 1) AS INTEGER) AS st
        FROM p
    )
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_tok,
           st AS span_start,
           CAST(sl AS INTEGER) AS span_len,
           array_to_string(
               list_concat(
                   list_concat(toks[1:st - 1], ['<extra_id_0>']),
                   toks[st + sl:n]), ' ') AS corrupted_text,
           array_to_string(toks[st:st + sl - 1], ' ') AS target_text
    FROM s
    WHERE n >= 2
    ORDER BY doc_id
"""


BATCH_B = 16
BATCH_SHARDS = 8


def q202_batch_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching efficiency audit: padding waste of
    arrival-order batches vs length-sorted batches (the trick every
    training loader uses — batch similar lengths together so the
    per-batch max pads less). Batches of 16, formed WITHIN 8 md5
    loader shards (the q71 discipline: production loaders batch per
    worker, and it keeps every window hash-partitioned — no global
    sort of doc-grain rows at any scale); waste of a batch =
    16·max(len) − Σlen, all exact integers. Two sharded window passes
    over the SAME per-doc length frame (one per ordering), each a
    row_number + integer-div batch id and a per-batch max/sum rollup;
    the output is the one-row savings summary a data-loader design
    review wants."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bshard:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % BATCH_SHARDS
    )
    lens = docs.select(
        "doc_id",
        shard.alias("shard"),
        F.size(T_ops.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )

    def waste(order_cols, name):
        w = Window.partitionBy("shard").orderBy(*order_cols)
        batched = lens.withColumn(
            "b", ((F.row_number().over(w) - 1) / BATCH_B).cast("long")
        )
        per_batch = batched.groupBy("shard", "b").agg(
            (F.lit(BATCH_B) * F.max("n_tok") - F.sum("n_tok")).alias("w")
        )
        return per_batch.agg(F.sum("w").alias(name))

    arrival = waste([F.col("doc_id")], "waste_arrival")
    by_len = waste([F.col("n_tok"), F.col("doc_id")], "waste_sorted")
    tot = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    return (
        tot.crossJoin(F.broadcast(arrival))
        .crossJoin(F.broadcast(by_len))
        .select(
            "n_docs",
            "n_tokens",
            "waste_arrival",
            "waste_sorted",
            F.round(
                (F.col("waste_arrival") - F.col("waste_sorted"))
                / F.col("waste_arrival").cast("double"),
                6,
            ).alias("savings_pct"),
        )
    )


QUERIES["q202_batch_padding_efficiency"] = q202_batch_padding_efficiency
ORACLE["q202_batch_padding_efficiency"] = f"""
    WITH lens AS (
        SELECT doc_id,
               ('0x' || substr(md5('bshard:' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % {BATCH_SHARDS} AS shard,
               len({T_ops.TOKENS_SQL_DUCKDB.format(col="text")})::BIGINT AS n_tok
        FROM documents
    ), arrival AS (
        SELECT SUM(w)::BIGINT AS waste_arrival FROM (
            SELECT {BATCH_B} * MAX(n_tok) - SUM(n_tok) AS w
            FROM (SELECT shard, n_tok,
                         (ROW_NUMBER() OVER (
                              PARTITION BY shard ORDER BY doc_id) - 1)
                             // {BATCH_B} AS b
                  FROM lens)
            GROUP BY shard, b)
    ), by_len AS (
        SELECT SUM(w)::BIGINT AS waste_sorted FROM (
            SELECT {BATCH_B} * MAX(n_tok) - SUM(n_tok) AS w
            FROM (SELECT shard, n_tok,
                         (ROW_NUMBER() OVER (
                              PARTITION BY shard ORDER BY n_tok, doc_id) - 1)
                             // {BATCH_B} AS b
                  FROM lens)
            GROUP BY shard, b)
    )
    SELECT (SELECT COUNT(*) FROM lens) AS n_docs,
           (SELECT SUM(n_tok)::BIGINT FROM lens) AS n_tokens,
           a.waste_arrival, s.waste_sorted,
           ROUND((a.waste_arrival - s.waste_sorted)
                 / a.waste_arrival::DOUBLE, 6) AS savings_pct
    FROM arrival a, by_len s
"""


KFOLD_K = 5
KFOLD_SEED = "fold"


def q207_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold assignment: within every (lang, source)
    stratum, documents are md5-rank-ordered and dealt round-robin into
    5 folds — so each fold's label mix matches the corpus mix to
    within one document per stratum (the per-stratum fold counts the
    output pins), while the md5 deal keeps assignments deterministic,
    engine-replayable, and stable under corpus growth ONLY within a
    stratum's own rank order. One rank window per stratum (hash-
    partitioned, never global), then a count rollup; the leakage-safe
    sibling for grouped data is q118/q150's cluster-keyed split."""
    from pyspark.sql.window import Window

    from batchprocessingetl_spark.operators.sampling import rank_hash

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        rank_hash(F.col("doc_id"), KFOLD_SEED), F.col("doc_id")
    )
    assigned = docs.select(
        "doc_id",
        "lang",
        "source",
        ((F.row_number().over(w) - 1) % KFOLD_K).cast("int").alias("fold"),
    )
    return (
        assigned.groupBy("lang", "source", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("lang", "source", "fold")
    )


QUERIES["q207_stratified_kfold"] = q207_stratified_kfold
ORACLE["q207_stratified_kfold"] = f"""
    WITH assigned AS (
        SELECT doc_id, lang, source,
               CAST((ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5('{KFOLD_SEED}:' || doc_id::VARCHAR), doc_id)
                   - 1) % {KFOLD_K} AS INTEGER) AS fold
        FROM documents
    )
    SELECT lang, source, fold, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id
    FROM assigned
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""


JSD_BIN_WIDTH = 50
JSD_MAX_BIN = 11
JSD_PC = 0.5  # Laplace pseudo-count per bin


def q214_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the document-length
    distributions of even- and odd-numbered source shards — the
    symmetric, always-finite drift gate a corpus pipeline runs when
    two crawl waves must be interchangeable: JS(p,q) = ½KL(p‖m) +
    ½KL(q‖m), m = (p+q)/2, over FIXED 50-char bins with 0.5 Laplace
    pseudo-counts (finite on empty bins, proportions still sum to 1).
    One fact-scan hash aggregate to the 12-row bin frame (driven from
    a generated spine so empty bins appear); every JS term rounds to
    9dp and accumulates in DECIMAL so the total is order-independent
    cross-engine."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(
        F.least(
            F.floor(F.col("n_chars") / JSD_BIN_WIDTH), F.lit(JSD_MAX_BIN)
        )
        .cast("int")
        .alias("bin"),
        (F.substring("source", 4, 10).cast("int") % 2 == 0)
        .cast("long")
        .alias("is_a"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("is_a").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("is_a")).alias("n_b"),
    )
    spine = spark.range(0, JSD_MAX_BIN + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    full = spine.join(cells, "bin", "left").select(
        "bin",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    wall = Window.partitionBy()
    n_bins = F.lit(JSD_MAX_BIN + 1)
    p = (F.col("n_a") + F.lit(JSD_PC)).cast("double") / (
        F.sum("n_a").over(wall) + F.lit(JSD_PC) * n_bins
    ).cast("double")
    q = (F.col("n_b") + F.lit(JSD_PC)).cast("double") / (
        F.sum("n_b").over(wall) + F.lit(JSD_PC) * n_bins
    ).cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.round(
        F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m), 9
    ).cast("decimal(28,9)")
    return (
        full.select(
            "bin",
            "n_a",
            "n_b",
            F.round(F.sum(term).over(wall).cast("double"), 6).alias("jsd"),
        )
        .orderBy("bin")
    )


QUERIES["q214_js_divergence"] = q214_js_divergence
ORACLE["q214_js_divergence"] = f"""
    WITH binned AS (
        SELECT LEAST(FLOOR(n_chars / {JSD_BIN_WIDTH}), {JSD_MAX_BIN})::INT AS bin,
               CASE WHEN CAST(SUBSTR(source, 4, 10) AS INT) % 2 = 0
                    THEN 1 ELSE 0 END AS is_a
        FROM documents
    ), cells AS (
        SELECT bin, CAST(SUM(is_a) AS BIGINT) AS n_a,
               CAST(COUNT(*) - SUM(is_a) AS BIGINT) AS n_b
        FROM binned GROUP BY 1
    ), spine AS (
        SELECT UNNEST(RANGE(0, {JSD_MAX_BIN + 1}))::INT AS bin
    ), full_ AS (
        SELECT s.bin, CAST(COALESCE(c.n_a, 0) AS BIGINT) AS n_a,
               CAST(COALESCE(c.n_b, 0) AS BIGINT) AS n_b
        FROM spine s LEFT JOIN cells c USING (bin)
    ), scored AS (
        SELECT bin, n_a, n_b,
               (n_a + {JSD_PC})::DOUBLE
                   / (SUM(n_a) OVER () + {JSD_PC} * {JSD_MAX_BIN + 1})::DOUBLE AS p,
               (n_b + {JSD_PC})::DOUBLE
                   / (SUM(n_b) OVER () + {JSD_PC} * {JSD_MAX_BIN + 1})::DOUBLE AS q
        FROM full_
    )
    SELECT bin, n_a, n_b,
           ROUND(CAST(SUM(CAST(ROUND(
               0.5 * p * LN(p / ((p + q) / 2.0))
               + 0.5 * q * LN(q / ((p + q) / 2.0)), 9)
               AS DECIMAL(28,9))) OVER () AS DOUBLE), 6) AS jsd
    FROM scored
    ORDER BY bin
"""


QN_BUCKET = 32  # value-range bucket width for the distributed rank


def q215_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document lengths onto the
    GLOBAL length distribution (the cross-source feature-alignment
    step before mixing corpora): each doc maps to the global value at
    the same relative rank, x → global[ceil(r·N/n_s)] (nearest-rank
    definition, all-integer ceil math so both engines floor-div
    identically). The global order statistic is computed WITHOUT a
    single-partition sort: values bucket by fixed range (n_chars/32),
    per-bucket counts prefix-sum on the tiny bucket-grain frame, and
    row_number runs PARTITIONED by bucket plus the bucket offset —
    the standard distributed exact-rank decomposition, so no window
    ever sees the whole corpus in one task. Output is the per-source
    summary (exact integer sums; one final division), pinning every
    mapped rank through the means."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    bucketed = docs.withColumn(
        "b", F.floor(F.col("n_chars") / QN_BUCKET).cast("long")
    )
    bcnt = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("bn"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = bcnt.select(
        "b", F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("off")
    )
    tot = bcnt.agg(F.sum("bn").cast("long").alias("n_tot"))
    wr = Window.partitionBy("b").orderBy("n_chars", "doc_id")
    glob = (
        bucketed.join(offs, "b")
        .select(
            F.col("n_chars").alias("g_val"),
            (F.row_number().over(wr) + F.col("off")).cast("long").alias("grank"),
        )
    )
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(ws).cast("long").alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "gi",
            F.expr("(r * n_tot + n_s - 1) div n_s"),
        )
    )
    mapped = ranked.join(glob, F.col("gi") == F.col("grank"))
    return (
        mapped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_raw"),
            F.round(
                F.sum("g_val").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_norm"),
        )
        .orderBy("source")
    )


QUERIES["q215_quantile_normalization"] = q215_quantile_normalization
ORACLE["q215_quantile_normalization"] = """
    WITH gl AS (
        SELECT n_chars AS g_val,
               CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                   AS grank
        FROM documents
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents
    ), ranked AS (
        SELECT doc_id, source, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY n_chars, doc_id) AS BIGINT) AS r,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
        FROM documents
    ), mapped AS (
        SELECT r.source, r.n_chars, g.g_val
        FROM ranked r
        CROSS JOIN tot t
        JOIN gl g ON g.grank = (r.r * t.n_tot + r.n_s - 1) // r.n_s
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(n_chars) AS BIGINT)::DOUBLE / COUNT(*), 6)
               AS mean_raw,
           ROUND(CAST(SUM(g_val) AS BIGINT)::DOUBLE / COUNT(*), 6)
               AS mean_norm
    FROM mapped
    GROUP BY source
    ORDER BY source
"""


KANON_K = 5  # re-identification threshold
KANON_BAND = 50_000  # acctbal band width in cents ($500)
KANON_SHIFT = 100_000_000  # +$1M in cents keeps banded balances non-negative


def q224_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the customer table under the
    quasi-identifier (nation, $500 account-balance band) with market
    segment as the sensitive attribute — the disclosure-risk check run
    before releasing a "pseudonymized" extract (companion to q109's DP
    release: q109 perturbs, this measures whether suppression is even
    needed). Banding shifts balances into the non-negative range
    before the integer floor-div so Spark `div` (truncating) and
    DuckDB `//` (flooring) agree. The whole audit is two hash
    aggregates (QI-class stats, then the one-row rollup): k_min, how
    many classes/rows fall below k=5, and the l-diversity floor —
    classes with l=1 leak the sensitive value exactly even when k
    holds."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.expr(
            f"(cast(floor(c_acctbal * 100 + 0.5) as bigint) + {KANON_SHIFT}) div {KANON_BAND}"
        ).alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    classes = cust.groupBy("nation", "bal_band").agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("sensitive").alias("l"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("k_min"),
        F.sum(F.when(F.col("k") < KANON_K, 1).otherwise(0))
        .cast("long")
        .alias("classes_below_k"),
        F.sum(F.when(F.col("k") < KANON_K, F.col("k")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_below_k"),
        F.round(
            F.sum(F.when(F.col("k") < KANON_K, F.col("k")).otherwise(F.lit(0)))
            / F.sum("k").cast("double"),
            6,
        ).alias("rows_below_k_frac"),
        F.min("l").cast("long").alias("l_min"),
        F.sum(F.when(F.col("l") == 1, 1).otherwise(0))
        .cast("long")
        .alias("classes_leaking_sensitive"),
    )


ORACLE["q224_k_anonymity_audit"] = f"""
    WITH cust AS (
        SELECT c_nationkey AS nation,
               (CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + {KANON_SHIFT}) // {KANON_BAND}
                   AS bal_band,
               c_mktsegment AS sensitive
        FROM customer
    ), classes AS (
        SELECT nation, bal_band, COUNT(*) AS k,
               COUNT(DISTINCT sensitive) AS l
        FROM cust GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(k) AS BIGINT) AS k_min,
           CAST(SUM(CASE WHEN k < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_k,
           CAST(SUM(CASE WHEN k < {KANON_K} THEN k ELSE 0 END) AS BIGINT)
               AS rows_below_k,
           ROUND(SUM(CASE WHEN k < {KANON_K} THEN k ELSE 0 END)
                 / CAST(SUM(k) AS DOUBLE), 6) AS rows_below_k_frac,
           CAST(MIN(l) AS BIGINT) AS l_min,
           CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_leaking_sensitive
    FROM classes
"""

QUERIES["q224_k_anonymity_audit"] = q224_k_anonymity_audit


XS_NGRAM = 5  # shared-shingle width for the cross-source overlap


def q231_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source verbatim-overlap matrix: for every source pair,
    how many distinct 5-gram shingles they share — the datacard table
    that decides which crawl snapshots are redundant before mixing,
    and the source-grain companion to q84\'s cross-document boilerplate
    mining (q84 finds the spans; this scores source pairs by shared
    mass). Shape: per-source DISTINCT shingle hashes (md5, fixed-width
    shuffle keys), then a within-shingle self-join — fan-out per
    shingle is C(|sources containing it|, 2), bounded by the source
    count, never the corpus; a shingle repeated a million times in two
    crawls still counts once. Exact-duplicate GROUP sharing is the
    degenerate case (it is zero on this corpus — exact dups never span
    sources — which is itself the fact this report surfaces)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T_ops.tokens(F.col("text"))
    sh = docs.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(toks) - XS_NGRAM, F.lit(-1)),
                ),
                lambda i: F.md5(
                    F.array_join(F.slice(toks, i + 1, XS_NGRAM), " ")
                ),
            )
        ).alias("h"),
    ).filter(F.col("h").isNotNull()).distinct()
    a = sh.select("h", F.col("source").alias("source_a"))
    b = sh.select("h", F.col("source").alias("source_b"))
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
        .orderBy("source_a", "source_b")
    )


ORACLE["q231_cross_source_overlap"] = f"""
    WITH tok AS (
        SELECT source,
               list_filter(regexp_split_to_array(trim(text), \'\\s+\'),
                           t -> t <> \'\') AS toks
        FROM documents
    ), sh AS (
        SELECT DISTINCT source,
               md5(array_to_string(toks[i:i + {XS_NGRAM} - 1], \' \')) AS h
        FROM tok, (SELECT unnest(range(1, 100000)) AS i) ix
        WHERE len(toks) - {XS_NGRAM} + 1 >= i
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

QUERIES["q231_cross_source_overlap"] = q231_cross_source_overlap


TCLOSE_T = 0.25  # disclosure threshold on the variational distance


def q340_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of q224's release scheme: for every
    quasi-identifier class (nation, $500 balance band), the
    variational distance between the class's market-segment
    distribution and the GLOBAL one — the disclosure measure
    l-diversity misses (a class can hold all 5 segments yet be 95%
    one of them; t-closeness catches the skew). For the categorical
    sensitive attribute the Earth-Mover's Distance reduces to total
    variation, and the audit is EXACT INTEGER algebra end-to-end:
    t_c = sum_s |k_s*G - g_s*k| / (2*k*G), where the sum runs over
    ALL segments — absent ones contribute g_s*k, folded in closed
    form as (G - sum_present g_s)*k. Two hash aggregates (global
    histogram: 5 rows broadcast; class-segment counts) + one rollup;
    one double division per class at the end, rounded 9 dp. Reports
    the class count, worst class (deterministic argmax: exact
    rational compare, ties by (nation, band)), max t, and how many
    classes breach t = 0.25."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.expr(
            f"(cast(floor(c_acctbal * 100 + 0.5) as bigint) + {KANON_SHIFT}) div {KANON_BAND}"
        ).alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    glob = cust.groupBy("sensitive").agg(F.count(F.lit(1)).alias("g"))
    gtot = glob.agg(F.sum("g").alias("gtot"))
    cls = cust.groupBy("nation", "bal_band", "sensitive").agg(
        F.count(F.lit(1)).alias("ks")
    )
    from pyspark.sql.window import Window

    wk = Window.partitionBy("nation", "bal_band")
    withk = (
        cls.join(F.broadcast(glob), "sensitive")
        .crossJoin(F.broadcast(gtot))
        .withColumn("k", F.sum("ks").over(wk))
    )
    per_class = withk.groupBy("nation", "bal_band").agg(
        F.max("k").alias("k"),
        F.max("gtot").alias("gtot"),
        F.sum(
            F.abs(F.col("ks") * F.col("gtot") - F.col("g") * F.col("k"))
        ).alias("num_present"),
        F.sum("g").alias("g_present"),
    )
    t = per_class.select(
        "nation",
        "bal_band",
        "k",
        (
            (
                F.col("num_present")
                + (F.col("gtot") - F.col("g_present")) * F.col("k")
            ).cast("double")
            / (F.lit(2.0) * F.col("k").cast("double") * F.col("gtot").cast("double"))
        ).alias("t"),
    )
    worst = t.orderBy(F.desc("t"), "nation", "bal_band").limit(1)
    agg = t.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.round(F.max("t"), 9).alias("t_max"),
        F.sum((F.col("t") > TCLOSE_T).cast("long")).alias("classes_above_t"),
    )
    return agg.crossJoin(F.broadcast(worst.select(
        F.col("nation").alias("worst_nation"),
        F.col("bal_band").alias("worst_band"),
        F.col("k").cast("long").alias("worst_k"),
    )))


ORACLE["q340_t_closeness"] = f"""
    WITH cust AS (
        SELECT c_nationkey AS nation,
               (CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + {KANON_SHIFT}) // {KANON_BAND}
                   AS bal_band,
               c_mktsegment AS sensitive
        FROM customer
    ), ghist AS (
        SELECT sensitive, COUNT(*) AS g FROM cust GROUP BY 1
    ), gtot AS (
        SELECT SUM(g) AS gtot FROM ghist
    ), cls AS (
        SELECT nation, bal_band, sensitive, COUNT(*) AS ks
        FROM cust GROUP BY 1, 2, 3
    ), withk AS (
        SELECT c.nation, c.bal_band, c.sensitive, c.ks, gl.g, gt.gtot,
               SUM(c.ks) OVER (PARTITION BY c.nation, c.bal_band) AS k
        FROM cls c JOIN ghist gl ON c.sensitive = gl.sensitive CROSS JOIN gtot gt
    ), per_class AS (
        SELECT nation, bal_band, MAX(k) AS k, MAX(gtot) AS gtot,
               SUM(ABS(ks * gtot - g * k)) AS num_present,
               SUM(g) AS g_present
        FROM withk GROUP BY 1, 2
    ), t AS (
        SELECT nation, bal_band, k,
               CAST(num_present + (gtot - g_present) * k AS DOUBLE)
                   / (2.0 * CAST(k AS DOUBLE) * CAST(gtot AS DOUBLE)) AS t
        FROM per_class
    ), worst AS (
        SELECT nation AS worst_nation, bal_band AS worst_band,
               CAST(k AS BIGINT) AS worst_k
        FROM t ORDER BY t DESC, nation, bal_band LIMIT 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           ROUND(MAX(t.t), 9) AS t_max,
           CAST(SUM(CASE WHEN t.t > {TCLOSE_T} THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_above_t,
           MAX(worst_nation) AS worst_nation,
           MAX(worst_band) AS worst_band,
           MAX(worst_k) AS worst_k
    FROM t CROSS JOIN worst
"""
QUERIES["q340_t_closeness"] = q340_t_closeness
