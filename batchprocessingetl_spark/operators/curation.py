"""Corpus-hygiene operators for a pre-training data pipeline:
benchmark decontamination, repetition-based quality signals (Gopher
rules), PII redaction, and bloom-filter-accelerated incremental dedup.

These complement the near-dup family (operators/dedup.py): dedup
removes redundancy *within* the corpus; these remove contamination and
noise *against external references* (eval benchmarks, an existing
corpus, PII policies).

All hot paths are built-in JVM expressions — no Python UDFs. Each
operator documents its 100 TB posture inline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batchprocessingetl_spark.operators.dedup import shingle_frame


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Flag training documents that share ANY word ``n``-gram with an
    evaluation corpus (the standard benchmark-decontamination rule;
    production pipelines use n=13, tests here use smaller n to get hits
    on synthetic data).

    Plan: both sides shingle via the scalable tokenize->repartition->
    shingle path (operators/dedup.py:shingle_frame), explode to
    postings, and hash each shingle to a fixed-width long
    (``xxhash64``) so the join shuffles 8-byte keys instead of strings.
    Contaminated ids come from a LEFT SEMI join (first match wins — no
    pair blowup on boilerplate n-grams), and the verdict joins back to
    the input as a left join on the doc id.

    100 TB posture: the eval side is tiny (benchmarks are MBs) — its
    distinct-gram set broadcasts, so the corpus-side SEMI JOIN never
    shuffles; the only corpus shuffle is shingle_frame's narrow
    (id, token-array) repartition barrier, shared with every shingle
    consumer. If the eval side ever outgrows broadcast, Catalyst falls
    back to a hash-partitioned semi-join on the 8-byte gram key.
    Returns the input annotated with ``is_contaminated``.
    """
    doc_grams = (
        shingle_frame(docs, id_col, text_col, n)
        .select("id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .select("id", F.xxhash64("g").alias("gh"))
    )
    eval_grams = (
        shingle_frame(eval_docs, id_col, text_col, n)
        # array_distinct blocks InferFiltersFromGenerate re-inlining
        # the shingle HOF below the exchange (see shingles_of_tokens)
        .select(F.explode(F.array_distinct("sh")).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    hit_ids = (
        doc_grams.join(F.broadcast(eval_grams), "gh", "left_semi")
        .select("id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        docs.join(hit_ids.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("is_contaminated", F.coalesce(F.col("__hit"), F.lit(False)))
        .drop("__hit")
    )


def _lines(col: Column) -> Column:
    """Non-empty trimmed lines of a text column."""
    return F.filter(
        F.transform(F.split(col, r"\n"), lambda l: F.trim(l)),
        lambda l: l != F.lit(""),
    )


def _word_bigrams(col: Column) -> Column:
    """All (non-distinct) word bigrams — repetition counting needs
    multiplicity, unlike dedup shingling which wants distinct sets."""
    toks = F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != F.lit(""))
    idx = F.sequence(F.lit(0), F.size(toks) - 2)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(toks, (i + 1).cast("int")), F.element_at(toks, (i + 2).cast("int"))
        ),
    )
    return F.when(F.size(toks) >= 2, grams).otherwise(F.array().cast("array<string>"))


def _max_multiplicity(arr: Column) -> Column:
    """Occurrence count of the most frequent element of a string array,
    computed in ONE pass over ``array_sort(arr)`` with a run-length
    accumulator (``F.aggregate``). The naive per-distinct-value
    formulation — transform(array_distinct(a), v -> size(filter(a,
    x == v))) — re-evaluates the underlying array expression per
    distinct element (HOF lambdas defeat common-subexpression
    elimination, same trap as operators/dedup.py:shingles_of_tokens),
    going O(n^2) per row; measured ~100x slower on 300-token docs."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(F.array_sort(arr), zero, step, lambda acc: acc["best"])


def repetition_signals(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    - ``n_lines`` / ``dup_line_frac``: fraction of non-empty lines that
      are repeats of an earlier line (1 - distinct/total);
    - ``top_bigram_frac``: share of all word bigrams taken by the most
      frequent one (boilerplate/template detector);
    - ``max_line_repeat``: occurrence count of the most repeated line.

    Everything is per-row array math (sort + single-pass run-length
    aggregation, see :func:`_max_multiplicity`) — a narrow projection
    with NO shuffle and no per-document group-by: at 100 TB this runs
    at scan speed, unlike the explode->groupBy(doc, gram) formulation
    whose shuffle carries every token. The line/bigram arrays
    materialize once into intermediate columns so downstream
    expressions reference bound attributes, not re-inlined regex
    splits. Thresholding (e.g. drop dup_line_frac > 0.3) is the
    caller's filter.
    """
    staged = df.withColumn("__lines", _lines(F.col(text_col))).withColumn(
        "__grams", _word_bigrams(F.col(text_col))
    )
    lines, grams = F.col("__lines"), F.col("__grams")
    n_lines = F.size(lines)
    n_grams = F.size(grams)
    safe_lines = F.nullif(n_lines, F.lit(0)).cast("double")
    safe_grams = F.nullif(n_grams, F.lit(0)).cast("double")
    return (
        staged.withColumn("n_lines", n_lines)
        .withColumn(
            "dup_line_frac",
            F.round((n_lines - F.size(F.array_distinct(lines))) / safe_lines, 6),
        )
        .withColumn("max_line_repeat", _max_multiplicity(lines))
        .withColumn(
            "top_bigram_frac",
            F.round(_max_multiplicity(grams) / safe_grams, 6),
        )
        .drop("__lines", "__grams")
    )


# Patterns restricted to the syntax subset shared by Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\b\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"


def redact_pii(df: DataFrame, text_col: str, out_col: str = "redacted") -> DataFrame:
    """Scrub emails, IPv4 addresses, and NNN-NNN-NNNN phone numbers,
    replacing each with a typed placeholder, and count the hits per
    category (``n_emails``/``n_ipv4``/``n_phones``) for audit rollups.

    Chained ``regexp_replace`` — a narrow, codegen'd projection at scan
    speed; counts come from ``regexp_count`` on the ORIGINAL text so
    earlier redactions can't mask later counts. Patterns stay in the
    Java-regex ∩ RE2 subset so an external engine (the DuckDB oracle,
    or a downstream Presto/Trino consumer) reproduces them exactly.
    Redaction order: emails first (an email contains dot-runs an IPv4
    pattern could nibble), then IPs, then phones.
    """
    col = F.col(text_col)
    red = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", F.regexp_count(col, F.lit(EMAIL_RE)))
        .withColumn("n_ipv4", F.regexp_count(col, F.lit(IPV4_RE)))
        .withColumn("n_phones", F.regexp_count(col, F.lit(PHONE_RE)))
        .withColumn(out_col, red)
    )


def _bloom_positions(h: Column, n_bits: int, n_hashes: int) -> Column:
    """Array of ``n_hashes`` bit positions for key ``h`` (double hashing
    via seeded xxhash64 — the standard Kirsch-Mitzenmacher scheme)."""
    return F.array(
        *[F.pmod(F.xxhash64(h, F.lit(i)), F.lit(n_bits)) for i in range(n_hashes)]
    )


def build_bloom(
    keys: DataFrame, key_col: str, n_bits: int = 1 << 20, n_hashes: int = 3
) -> DataFrame:
    """Distributed bloom filter over a long key column, built with
    built-in expressions only (``bloom_filter_agg`` is Catalyst-internal
    and not SQL-exposed): each key sets ``n_hashes`` bit positions;
    positions group into 64-bit words and OR together with ``bit_or``.

    Returns a tiny (word_idx, bits) frame — at most ``n_bits/64`` rows
    (8 KB of payload per MB of filter), independent of corpus size. The
    build is one partial-aggregated shuffle on word_idx (n_bits/64
    distinct keys), i.e. the same cost shape as a real sketch
    aggregate; the result broadcasts to probes.
    """
    pos = F.explode(_bloom_positions(F.col(key_col), n_bits, n_hashes)).alias("__pos")
    return (
        keys.select(pos)
        .select(
            (F.col("__pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))").alias("__bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def bloom_incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Rows of ``new_batch`` whose text content is NOT already in
    ``corpus`` — the incremental-ingest dedup primitive (each day's
    crawl lands against a multi-PB corpus).

    Exact anti-join semantics at bloom-filter cost: the corpus
    aggregates ONCE into a bloom bitmap over its content hash
    (:func:`build_bloom` — a broadcastable (word, bits) frame), each
    new row probes its ``n_hashes`` positions via a broadcast join,
    and only rows where EVERY probed bit is set ("maybe dup": true
    dups + ~fpp false positives) pay the exact verification semi-join
    against the corpus hashes. Bloom misses have NO false negatives,
    so miss rows are definitely-new and skip the join entirely.

    100 TB posture: the naive plan shuffles the corpus hash column on
    every ingest to anti-join the new batch; here the corpus is read
    once into an n_bits/64-row bitmap, the probe is a broadcast join +
    narrow aggregate on the (small) new batch, and the exact verify
    touches only |true dups| + fpp*|new| rows. Result is EXACT
    (verification join), so it stays SQL-oracle-checkable.
    """
    h = F.xxhash64(F.col(text_col))
    bloom = build_bloom(corpus.select(h.alias("__h")), "__h", n_bits, n_hashes)
    probes = (
        new_batch.select(F.col(id_col).alias("__id"), h.alias("__h"))
        .select(
            "__id",
            "__h",
            F.explode(_bloom_positions(F.col("__h"), n_bits, n_hashes)).alias("__pos"),
        )
        .select(
            "__id",
            "__h",
            (F.col("__pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))").alias("__bit"),
        )
        .join(F.broadcast(bloom), "word_idx", "left")
        .withColumn(
            "__hit",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("__bit")) != 0).cast("int"),
        )
        .groupBy("__id", "__h")
        .agg((F.min("__hit") == 1).alias("__maybe"))
    )
    corpus_hashes = corpus.select(F.xxhash64(F.col(text_col)).alias("__h")).distinct()
    maybe_dup_new = (
        probes.filter(F.col("__maybe"))
        .join(corpus_hashes, "__h", "left_anti")
        .select("__id")
    )
    definitely_new = probes.filter(~F.col("__maybe")).select("__id")
    keep = definitely_new.unionByName(maybe_dup_new).withColumnRenamed("__id", id_col)
    return new_batch.join(keep, id_col, "left_semi")


def positional_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, pos, gram): every word ``n``-gram with its 0-based token
    position — the positional variant of ``shingle_frame`` (which
    dedups and drops positions). Fan-out is tokens-per-doc rows, same
    as any explode-based text op.

    Round 7 plan shape: posexplode the tokens, assemble each gram from
    n-1 lead() columns over a doc-keyed window, concat_ws — NOT the
    original transform(sequence)/slice/array_join higher-order
    functions. HOF expressions are interpreted and allocate a struct
    array per doc; docs/SCALE.md's round-7 positional_ngrams section
    records the HOF form at 26.6s vs 1.96s for this window form
    enumerating 5-grams over 10× documents (13.6×). The window adds one
    id-keyed shuffle, which every downstream consumer (hash aggregate on
    the gram, join back on the key) was paying anyway; output and all
    oracles are unchanged."""
    from pyspark.sql.window import Window as W

    from batchprocessingetl_spark.operators.text import tokens

    tp = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "__t0"),
    )
    w = W.partitionBy("id").orderBy("pos")
    leads = [F.lead("__t0", i).over(w).alias(f"__t{i}") for i in range(1, n)]
    staged = tp.select("id", "pos", "__t0", *leads)
    return staged.filter(F.col(f"__t{n - 1}").isNotNull()).select(
        "id",
        "pos",
        F.concat_ws(" ", *[f"__t{i}" for i in range(n)]).alias("gram"),
    )


def boilerplate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate mining: word ``n``-gram spans that
    appear in >= ``min_docs`` DISTINCT documents, located by in-doc
    token position — the detection half of boilerplate stripping
    (shared headers/footers/licenses), complementing
    ``repetition_signals`` (which scores repetition WITHIN one doc).

    Plan: positional n-grams (narrow generate) -> xxhash64 the gram to
    an 8-byte key -> hash aggregate countDistinct(doc) per gram
    (partial aggs map-side) -> filter to the boilerplate set -> join
    occurrences back on the 8-byte key. The boilerplate set is
    typically tiny relative to the corpus (that is what makes it
    boilerplate), so AQE converts the join's build side to a broadcast
    at runtime; the only corpus-scale shuffles carry (gram-hash,
    partial-count) pairs. Returns (id, pos, gram, n_docs)."""
    pg = positional_ngrams(df, id_col, text_col, n).withColumn(
        "gh", F.xxhash64("gram")
    )
    hot = (
        pg.groupBy("gh")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return pg.join(hot, "gh").select("id", "pos", "gram", "n_docs")


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_docs: int = 3,
) -> DataFrame:
    """The removal half of the boilerplate loop: drop every token
    covered by any span :func:`boilerplate_spans` flags, and reassemble
    the remaining tokens in order. Returns
    (id, clean_text, n_tokens, n_removed_tokens).

    Plan: flagged (id, pos) spans expand to their covered token
    positions (narrow generate, span-length fan-out); the document's
    positional tokens LEFT ANTI join the covered set on (id, pos) —
    an 8-byte-pair key join that AQE broadcast-converts when the
    boilerplate set is small; surviving tokens re-aggregate per doc
    with an order-struct sort (deterministic on any partitioning —
    collect_list alone has no order guarantee). One corpus-keyed
    shuffle for the reassembly aggregate; everything else rides the
    positional-gram machinery."""
    spans = boilerplate_spans(df, id_col, text_col, n, min_docs)
    covered = (
        spans.select(
            "id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
                "tpos"
            ),
        )
        .distinct()
    )
    from batchprocessingetl_spark.operators.text import tokens

    tokpos = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(F.col(text_col)))
    ).withColumnsRenamed({"pos": "tpos", "col": "tok"})
    kept = tokpos.join(covered, ["id", "tpos"], "left_anti")
    totals = tokpos.groupBy("id").agg(F.count(F.lit(1)).alias("n_tokens"))
    out = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("tpos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    return (
        totals.join(out, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed_tokens"
            ),
        )
    )
