"""Text-analysis operators (training-data-pipeline surface).

All hot-path logic is built-in ``pyspark.sql.functions`` (incl.
higher-order array functions), so every operator stays inside
whole-stage codegen — a single scan, no Python boundary, no shuffle
except where an aggregate genuinely needs one. The reference has no
text surface (SURVEY.md §2.8: string functions absent); this module is
part of the north-star extension set.

Each Spark expression has a DuckDB-SQL twin (the ``*_SQL_DUCKDB``
templates) so the oracle harness checks identical semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batchprocessingetl_spark.sources.readers import local_frame

# Tokenization: trim -> split on runs of whitespace -> drop the
# empty-string artifact ''.split() produces on empty input.
TOKENS_SQL_DUCKDB = "list_filter(regexp_split_to_array(trim({col}), '\\s+'), t -> t <> '')"

# Normalization for fingerprinting: lowercase + collapse whitespace.
NORMALIZE_SQL_DUCKDB = "lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "it")
STOPWORDS_SQL_DUCKDB = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

# Per-language stopword profiles for the language-ID heuristic. Tiny on
# purpose: the operator is the thing under test; swapping richer
# profiles in production changes no plan shape.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "for", "on", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "se", "por"),
    "fr": ("le", "les", "des", "et", "une", "du", "pour", "dans", "est", "que"),
}
CJK_REGEX = "[\\u4e00-\\u9fff]"

# BPE-ish subtoken segmentation: letter runs, digit runs, and single
# punctuation marks — the pre-tokenization most BPE vocabularies apply.
SUBTOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens as array<string>; empty text -> empty array.

    ``array_remove(split(...), '')`` rather than the equivalent
    ``F.filter(..., t != '')``: split never yields NULL elements, so
    removing '' is exactly the filter — but array_remove is a plain
    expression while F.filter is a higher-order function whose lambda
    variables mint fresh exprIds per plan copy and never canonicalize
    equal, which defeats ReuseExchange for EVERY subtree that contains
    a tokenize (r14 finding on q37/q147: duplicated corpus passes).
    Lambda-free tokenize lets identical token subtrees share one
    exchange (guide §2.4)."""
    return F.array_remove(F.split(F.trim(col), r"\s+"), "")


def normalize(col: Column) -> Column:
    """Lowercased, whitespace-collapsed text (fingerprint canonical form)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def with_token_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Add n_tokens / n_distinct_tokens / avg_token_len columns."""
    toks = tokens(F.col(text_col))
    tok_lens = F.transform(toks, lambda t: F.length(t).cast("double"))
    avg_len = F.when(
        F.size(toks) > 0,
        F.round(
            F.aggregate(tok_lens, F.lit(0.0), lambda acc, x: acc + x) / F.size(toks),
            4,
        ),
    )
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn("avg_token_len", avg_len)
    )


def with_quality_signals(df: DataFrame, text_col: str) -> DataFrame:
    """Add corpus-quality heuristics: measured char count, alphabetic
    ratio, whitespace ratio, stopword ratio. These are the standard
    cheap filters a pre-training pipeline applies before expensive
    model-based scoring."""
    col = F.col(text_col)
    n_chars = F.length(col)
    toks = tokens(col)
    n_alpha = F.length(F.regexp_replace(col, "[^A-Za-z]", ""))
    n_space = F.length(F.regexp_replace(col, "[^ \\t\\n]", ""))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    safe_chars = F.nullif(n_chars, F.lit(0)).cast("double")
    safe_toks = F.nullif(F.size(toks), F.lit(0)).cast("double")
    return (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("alpha_ratio", F.round(n_alpha / safe_chars, 6))
        .withColumn("space_ratio", F.round(n_space / safe_chars, 6))
        .withColumn("stopword_ratio", F.round(n_stop / safe_toks, 6))
    )


def subtoken_count(col: Column) -> Column:
    """BPE-ish subtoken count: number of SUBTOKEN_REGEX matches (letter
    runs + digit runs + punctuation marks) — the cheap token-budget
    estimator a pre-training pipeline runs on every document."""
    return F.size(F.regexp_extract_all(col, F.lit(SUBTOKEN_REGEX), 0))


def with_language_id(df: DataFrame, text_col: str) -> DataFrame:
    """Heuristic language ID: distinct lowercase tokens vote against
    per-language stopword profiles; any CJK character wins outright.
    Ties resolve by the fixed profile order (en > de > es > fr).
    Adds n_<lang> overlap counts + ``predicted_lang``. Pure built-in
    expressions — one narrow pass, no shuffle."""
    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    out = df
    for lang, words in LANG_PROFILES.items():
        profile = F.array(*[F.lit(w) for w in words])
        out = out.withColumn(f"n_{lang}", F.size(F.array_intersect(toks, profile)))
    has_cjk = F.length(F.regexp_replace(F.col(text_col), CJK_REGEX, "")) < F.length(F.col(text_col))
    langs = list(LANG_PROFILES)
    pred = F.when(has_cjk, F.lit("zh"))
    for lang in langs:
        others = [F.col(f"n_{lang}") >= F.col(f"n_{o}") for o in langs if o != lang]
        cond = others[0]
        for c in others[1:]:
            cond = cond & c
        pred = pred.when(cond & (F.col(f"n_{lang}") > 0), F.lit(lang))
    return out.withColumn("predicted_lang", pred.otherwise(F.lit("und")))


def exact_dedup(df: DataFrame, key_cols: list[str], keep_col: str) -> DataFrame:
    """Exact deduplication keeping the row with the MIN ``keep_col`` per
    content key. One hash aggregate (single shuffle on the content key);
    at 100 TB, dedup on a long text column should pre-hash the key
    (``F.md5``/``F.xxhash64``) so the shuffle carries a fixed-width key.
    """
    return df.groupBy(*key_cols).agg(F.min(keep_col).alias(keep_col)).select(keep_col, *key_cols)


def build_vocab(
    df: DataFrame, text_col: str, min_count: int = 1, max_terms: int | None = None
) -> DataFrame:
    """Frequency-ranked vocabulary table: (term, term_id, n_occurrences)
    with ids assigned densely by (count DESC, term ASC) — the token
    dictionary a training pipeline materializes before numericalizing a
    corpus. Deterministic on any partitioning (the tie-break is total).

    Plan: explode -> one hash aggregate (partial counts map-side) ->
    ONE global window for the rank. The window's input is the DISTINCT
    TERM table (vocabulary-sized, millions of rows at web scale — not
    corpus-sized), so the single-partition rank is a deliberate,
    bounded cost; ``min_count``/``max_terms`` trim the long tail before
    it."""
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("term"))
    ranked = counts.withColumn("term_id", F.row_number().over(w) - 1)
    if max_terms is not None:
        ranked = ranked.filter(F.col("term_id") < max_terms)
    return ranked.select("term", "term_id", "n_occurrences")


def bigram_structs(col: Column) -> Column:
    """Adjacent token pairs as array<struct<a,b>> — built narrowly from
    the token array itself (two slices + zip_with), so bigram extraction
    never needs a positional self-join. Empty / 1-token text -> empty
    array."""
    toks = tokens(col)
    m = F.greatest(F.size(toks) - 1, F.lit(0))  # slice() rejects length < 0
    return F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def bigram_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Adjacent token pairs as ROWS (id, a, b) — the exploded twin of
    :func:`bigram_structs`, built with posexplode + a doc-keyed lead()
    window instead of zip_with over slices. Same output exactly; very
    different cost: the round-7 iteration under docs/SCALE.md's q188
    DSIR probe measured the interpreted higher-order-function path at
    ~3x the window form at 10x docs — a NO-HASH zip_with control still
    cost more than posexplode+window WITH per-token md5, i.e. the HOF
    struct-array allocation dominates. The window adds one id-keyed
    shuffle, which is cheaper than the allocation it removes at every
    scale probed; prefer this form whenever bigrams are consumed as
    rows. Keep :func:`bigram_structs` for ARRAY-level consumers
    (phrase_count, BPE segmentation) where no explode follows."""
    from pyspark.sql.window import Window as W

    tp = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "a")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    return (
        tp.withColumn("b", F.lead("a").over(w))
        .filter(F.col("b").isNotNull())
        .select(id_col, "a", "b")
    )


def lm_quality_scores(
    df: DataFrame, id_col: str, text_col: str, alpha: float = 0.5
) -> DataFrame:
    """Perplexity-proxy quality scoring (CCNet-style): train an add-alpha
    smoothed bigram LM on the corpus itself, then score every document by
    the average negative log-likelihood of its bigrams — the standard
    model-based filter a pre-training pipeline runs after the cheap
    heuristics (``with_quality_signals``). p(b|a) = (c(a,b) + alpha) /
    (c(a,*) + alpha * V), V = corpus distinct-token count.

    Plan shape (all linear in corpus tokens): bigrams come from one
    narrow zip_with (no positional self-join); LM counts are one hash
    aggregate on the fixed-width (a, b) key with map-side partials; the
    context totals fold from the LM table (vocabulary-sized, not
    corpus-sized); V stays IN the plan as a 1-row aggregate broadcast
    via cross join — no driver-side count action. Scoring re-joins
    bigrams to the LM on (a, b); at 100 TB the LM side is vocab^2-bounded
    and heavy-hitter-skewed, which AQE's skew-join handles, while the
    final per-document fold is a hash aggregate on the doc key.

    Returns (id_col, n_bigrams, avg_nll) — avg_nll is NULL for documents
    with fewer than two tokens (no bigrams to score).
    """
    bg = bigram_pairs(df, id_col, text_col)  # row-level: window beats HOF
    lm = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ctx = lm.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vocab = df.select(
        F.explode(tokens(F.col(text_col))).alias("tok")
    ).agg(F.countDistinct("tok").alias("vsz"))
    p = (F.col("c_ab") + F.lit(alpha)) / (F.col("c_a") + F.lit(alpha) * F.col("vsz"))
    scored = (
        bg.join(lm, ["a", "b"])
        .join(ctx, "a")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # per-bigram nll pre-rounded to 7dp, then exact decimal
            # accumulation: the cross-row mean is order-independent and
            # engine-exact (parity.py convention)
            F.round(
                F.sum(F.round(-F.log(p), 7).cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
            "avg_nll",
        )
    )


def cooccurrence_counts(
    df: DataFrame, id_col: str, text_col: str, window: int = 2
) -> DataFrame:
    """Skip-gram co-occurrence counts: for every ordered token pair
    (a, b) with b at position pos_a+1 .. pos_a+``window`` inside the
    same document, count occurrences corpus-wide — the embedding-
    training statistic (word2vec/GloVe input).

    Plan: positional tokens explode once; the right side re-derives as
    ``window`` shifted copies (narrow generate, w-fold fan-out of the
    SMALL (id, pos, token) projection, not the document payload), the
    pair meets on the (doc, pos) equi-key, and one hash aggregate
    counts pairs. Shuffles carry (doc, pos) pairs then (a, b) pairs —
    both fixed-width; nothing is corpus-quadratic (cost is
    window * total_tokens)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    tokpos = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(F.col(text_col)))
    ).withColumnsRenamed({"pos": "apos", "col": "a"})
    right = (
        tokpos.withColumnsRenamed({"a": "b", "apos": "bpos"})
        .withColumn("k", F.explode(F.sequence(F.lit(1), F.lit(window))))
        .select("id", (F.col("bpos") - F.col("k")).alias("apos"), "b")
    )
    return (
        tokpos.join(right, ["id", "apos"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
    )


def phrase_count(toks: Column, terms: tuple[str, ...]) -> Column:
    """Occurrences of the exact token phrase ``terms`` in the token
    array — count of start positions where all n terms match
    consecutively.

    A pure higher-order array expression (filter over a position
    sequence), so phrase counting is ONE narrow projection inside
    whole-stage codegen: no posting-list explode, no self-joins on
    (doc, position), no shuffle at all. At 100 TB that is the right
    default for batch phrase analytics (n-gram mining, probe-phrase
    counting); an inverted index only wins when the corpus is scanned
    once and queried many times interactively. Several phrases share
    one scan — see :func:`phrase_hits`.

    DuckDB twin: ``len(list_filter(range(1, len(toks) - n + 2),
    i -> toks[i] = t0 AND toks[i+1] = t1 AND ...))``.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    n = len(terms)

    def starts_here(i: Column) -> Column:
        conds = [
            F.element_at(toks, i + k + 1) == F.lit(t) for k, t in enumerate(terms)
        ]
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    # guard: sequence(0, -x) would infer a negative step and emit
    # invalid (0-based negative) positions
    return F.when(
        F.size(toks) >= n,
        F.size(F.filter(F.sequence(F.lit(0), F.size(toks) - n), starts_here)),
    ).otherwise(F.lit(0))


def phrase_count_sql_duckdb(toks_sql: str, terms: tuple[str, ...]) -> str:
    """DuckDB twin of :func:`phrase_count` (1-based list indexing).
    Terms are embedded as SQL literals — single quotes doubled, so a
    term like ``don't`` stays parseable."""
    n = len(terms)
    conds = " AND ".join(
        f"({toks_sql})[i + {k}] = '{t.replace(chr(39), chr(39) * 2)}'"
        for k, t in enumerate(terms)
    )
    return (
        f"CASE WHEN len({toks_sql}) >= {n} THEN "
        f"len(list_filter(range(1, len({toks_sql}) - {n} + 2), i -> {conds})) "
        f"ELSE 0 END"
    )


def phrase_hits(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    phrases: dict[str, tuple[str, ...]],
) -> DataFrame:
    """Match a BATCH of phrases in one corpus scan: tokenize once, emit
    an inline (phrase, n_occ) struct array, explode it, keep hits.
    Returns (id, phrase, n_occ) with n_occ >= 1. The explode fans out
    only len(phrases) rows per document before the filter — narrow and
    shuffle-free; ordering/aggregation is the caller's concern."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    toks = tokens(F.col(text_col))
    entries = F.array(
        *[
            F.struct(
                F.lit(label).alias("phrase"),
                phrase_count(F.col("__toks"), terms).cast("long").alias("n_occ"),
            )
            for label, terms in phrases.items()
        ]
    )
    return (
        docs.select(F.col(id_col).alias("id"), toks.alias("__toks"))
        .select("id", F.explode(entries).alias("e"))
        .select("id", F.col("e.phrase").alias("phrase"), F.col("e.n_occ").alias("n_occ"))
        .filter(F.col("n_occ") > 0)
    )


def vocab_growth(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_checkpoints: int = 8,
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-token vocabulary
    size at ``n_checkpoints`` evenly-spaced doc-id thresholds, with the
    cumulative doc and token counts at each — the corpus statistic that
    sizes tokenizers and predicts vocab saturation (V ≈ K·n^β; the
    curve's log-log slope is the Heaps exponent).

    Shape: V(c) needs no per-checkpoint rescan — a token contributes to
    every checkpoint past its FIRST occurrence, so one hash aggregate
    (min doc id per token) plus one conditional-sum pass over a tiny
    broadcast checkpoint frame covers all checkpoints at once. Both
    passes are map-side-combinable; the map stage inflates rows by
    n_checkpoints (small constant), the shuffle carries n_checkpoints
    rows per partition. Thresholds cut on doc-id VALUES, not ranks, so
    no global row-number window exists anywhere (a global rank is the
    non-scalable formulation)."""
    if n_checkpoints < 1:
        raise ValueError(f"need n_checkpoints >= 1, got {n_checkpoints}")
    spark = df.sparkSession
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    mx = base.agg(F.max("id").alias("__mx"))
    cps = (
        spark.range(1, n_checkpoints + 1)
        .select(F.col("id").cast("int").alias("k"))
        .crossJoin(F.broadcast(mx))
        .select(
            "k",
            F.floor(((F.col("__mx") + 1) * F.col("k")) / n_checkpoints)
            .cast("long")
            .alias("cp"),
        )
    )
    docstats = (
        base.crossJoin(F.broadcast(cps))
        .groupBy("k", "cp")
        .agg(
            F.count(F.when(F.col("id") < F.col("cp"), 1)).alias("n_docs"),
            F.coalesce(
                F.sum(F.when(F.col("id") < F.col("cp"), F.size("__toks"))), F.lit(0)
            ).alias("n_tokens_cum"),
        )
    )
    firsts = (
        base.select("id", F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("id").alias("first_id"))
    )
    vocab = (
        firsts.crossJoin(F.broadcast(cps))
        .groupBy("k")
        .agg(F.count(F.when(F.col("first_id") < F.col("cp"), 1)).alias("vocab"))
    )
    return docstats.join(vocab, "k").select("k", "cp", "n_docs", "n_tokens_cum", "vocab")


def keyness_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str,
    min_count: int = 100,
    prior: float = 0.01,
) -> DataFrame:
    """Distinctive-term extraction ("keyness") per group: the log-odds
    ratio with an informative Dirichlet prior (Monroe, Colaresi &
    Quinn, "Fightin' Words", Political Analysis 2008) of each term in
    group i vs the REST of the corpus, z-scored:

        δ_w = ln((y + a_w)/(n_i + a_0 − y − a_w))
            − ln((y' + a_w)/(n_j + a_0 − y' − a_w)),
        z_w = δ_w / sqrt(1/(y + a_w) + 1/(y' + a_w)),

    with y'/n_j the rest-of-corpus counts and a_w = prior · corpus
    count of w (the informative prior that tames rare-word variance,
    where plain PMI/chi-square explode). The row set is fixed by the
    INTEGER support filter (y >= min_count) — engine-exact — and the
    double-math columns are rounded to 4dp, far above libm's 1-ulp
    ln/sqrt jitter.

    Shape: three hash aggregates (group×term, term, group) + one global
    count, all map-side-combinable; the group×term frame joins the
    term totals on the term key and broadcasts the tiny group totals.
    Nothing is corpus-quadratic and no driver collect exists."""
    tok = df.select(F.col(group_col).alias("grp"), F.explode(tokens(F.col(text_col))).alias("term"))
    y = tok.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("y"))
    cw = tok.groupBy("term").agg(F.count(F.lit(1)).alias("__cw"))
    ni = tok.groupBy("grp").agg(F.count(F.lit(1)).alias("__n"))
    c0 = tok.agg(F.count(F.lit(1)).alias("__c0"))
    d = F.col("y").cast("double")
    dcw = F.col("__cw").cast("double")
    dn = F.col("__n").cast("double")
    dc0 = F.col("__c0").cast("double")
    aw = F.lit(prior) * dcw
    a0 = F.lit(prior) * dc0
    yj = dcw - d
    nj = dc0 - dn
    t1 = (d + aw) / (dn + a0 - d - aw)
    t2 = (yj + aw) / (nj + a0 - yj - aw)
    delta = F.log(t1) - F.log(t2)
    z = delta / F.sqrt(1.0 / (d + aw) + 1.0 / (yj + aw))
    return (
        y.filter(F.col("y") >= min_count)
        .join(cw, "term")
        .join(F.broadcast(ni), "grp")
        .crossJoin(F.broadcast(c0))
        .select(
            F.col("grp"),
            F.col("term"),
            F.col("y"),
            F.round(delta, 4).alias("log_odds"),
            F.round(z, 4).alias("z"),
        )
    )


# --- Iterated BPE merge training (VERDICT r5 #4) -------------------
#
# Real tokenizer training iterates merge -> re-segment; q152 emits only
# the first round's candidate table. ``bpe_train_merges`` runs k full
# greedy rounds. Semantics are defined over a SEGMENTATION STRING so
# Spark, DuckDB, and a pure-Python replay agree bit-for-bit:
#
#   seg(w)   = B2 + c1 + B2 + c2 + ... + B2      (B2 = "\x01\x01")
#   tokens   = split(seg, B2) minus empty strings
#   merge(a,b): replace(seg, B+a+B2+b+B, B+a+b+B)  (B = "\x01")
#
# The single-\x01 pattern margins make the replace boundary-safe (a
# token "xa" never matches pair-left "a") while still letting
# consecutive occurrences share their B2 boundary (".. a b a b .."
# merges BOTH pairs in one pass: each match consumes only the inner
# \x01 of each boundary, leaving the outer one to start the next
# match). All three engines' literal replace() scans left-to-right,
# non-overlapping, never rescanning replacement text — exactly greedy
# BPE application ("aaa" + merge(a,a) -> [aa, a]). Assumes tokens never
# contain \x01 (whitespace tokenization of text; control chars absent),
# which also makes pair-string sort order equal (left, right) tuple
# order since \x01 < every token character.
BPE_B = "\x01"
BPE_B2 = BPE_B * 2

# DuckDB twin of seg(w): interleave B2 before every char + trailing B2.
BPE_SEG_SQL_DUCKDB = (
    "('{b2}' || regexp_replace({col}, '(.)', '{b2}\\1', 'g') || '{b2}')"
)


def bpe_seg(col: Column) -> Column:
    """Initial character segmentation of a word as a \\x01\\x01-joined
    string with leading/trailing separators (see module comment)."""
    return F.concat(
        F.lit(BPE_B2),
        F.regexp_replace(col, "(.)", BPE_B2 + "$1"),
        F.lit(BPE_B2),
    )


def bpe_train_merges(
    words: DataFrame, k: int, w_col: str = "w", wc_col: str = "wc"
) -> DataFrame:
    """Train ``k`` BPE merges over a (word, count) vocabulary frame and
    return the merge table (merge_round, lft, rgt, merged, n_occ).

    Plan shape per round: one narrow map (split seg -> adjacent pairs)
    over the VOCABULARY (rows = |distinct words|, not corpus size —
    frequency weighting rides in ``wc``), one hash aggregate, one
    2-row-bounded TakeOrdered to the driver (the argmax merge is a
    scalar model parameter — the same materialization PageRank does for
    its dangling-mass term), then a narrow ``replace`` re-segmentation.
    The corpus itself is touched only by the caller's word-count
    aggregate. A ``barrier`` (localCheckpoint) truncates the growing
    replace-lineage each round; at 100 TB the vocab frame is still
    ~millions of rows, so every round stays a small shuffle-free-scan +
    one aggregate regardless of corpus size."""
    from batchprocessingetl_spark.operators.iteration import barrier

    spark = words.sparkSession
    cur = barrier(
        words.filter(F.length(w_col) >= 2).select(
            F.col(wc_col).alias("wc"), bpe_seg(F.col(w_col)).alias("seg")
        )
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, k + 1):
        toks = F.filter(F.split("seg", BPE_B2), lambda t: t != F.lit(""))
        with_t = cur.select("wc", toks.alias("t")).filter(F.size("t") >= 2)
        pair = F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.element_at("t", i).alias("lft"),
                F.element_at("t", i + F.lit(1)).alias("rgt"),
            ),
        )
        best = (
            with_t.select("wc", F.explode(pair).alias("p"))
            .groupBy("p.lft", "p.rgt")
            .agg(F.sum("wc").alias("n_occ"))
            .orderBy(F.desc("n_occ"), "lft", "rgt")
            .limit(1)
            .collect()
        )
        if not best:
            break
        lft, rgt, n_occ = best[0]["lft"], best[0]["rgt"], int(best[0]["n_occ"])
        merges.append((r, lft, rgt, lft + rgt, n_occ))
        cur = barrier(
            cur.select(
                "wc",
                F.replace(
                    F.col("seg"),
                    F.lit(BPE_B + lft + BPE_B2 + rgt + BPE_B),
                    F.lit(BPE_B + lft + rgt + BPE_B),
                ).alias("seg"),
            )
        )
    return local_frame(
        spark,
        merges,
        "merge_round int, lft string, rgt string, merged string, n_occ bigint",
    )


def bpe_train_merges_python(words: list[tuple[str, int]], k: int):
    """Pure-Python replay of ``bpe_train_merges`` on the SAME
    seg-string representation (property-test oracle, the q151
    pattern). Returns [(round, lft, rgt, merged, n_occ), ...]."""
    segs = [
        (BPE_B2 + BPE_B2.join(w) + BPE_B2, wc) for w, wc in words if len(w) >= 2
    ]
    out = []
    for r in range(1, k + 1):
        counts: dict[tuple[str, str], int] = {}
        for seg, wc in segs:
            t = [x for x in seg.split(BPE_B2) if x]
            for a, b in zip(t, t[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + wc
        if not counts:
            break
        (lft, rgt), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((r, lft, rgt, lft + rgt, n))
        pat = BPE_B + lft + BPE_B2 + rgt + BPE_B
        rep = BPE_B + lft + rgt + BPE_B
        segs = [(seg.replace(pat, rep), wc) for seg, wc in segs]
    return out
