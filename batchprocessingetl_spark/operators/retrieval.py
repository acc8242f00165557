"""Lexical retrieval scoring (BM25) for corpus selection and search.

Training-data pipelines use BM25 both ways: retrieving passages for
RAG-style eval sets, and scoring documents against a probe query as a
cheap relevance/quality signal before expensive model-based filters.

The whole computation is declarative: tokenize -> explode -> two hash
aggregates (term frequency per (doc, term); document frequency per
term) -> join -> score expression. Corpus statistics (N, avgdl) stay
IN the plan as a 1-row aggregate broadcast via cross join — no
driver-side count action, the same pattern as TF-IDF
(workload/textops.py:q46). Everything is built-in expressions inside
whole-stage codegen; cost is one corpus scan + shuffles keyed on
(doc, term) and term — linear at 100 TB.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batchprocessingetl_spark.operators.text import tokens

BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    term_filter: Callable[[DataFrame], DataFrame],
    k1: float,
    b: float,
) -> DataFrame:
    """The one BM25 scoring core behind both public entry points.

    Lucene-shaped BM25: idf = ln((N - df + 0.5)/(df + 0.5) + 1) (always
    positive), tf saturation tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)).
    ``df`` counts documents containing the term across the FULL corpus;
    ``dl`` is the document token count; ``avgdl`` the corpus mean.
    ``term_filter`` narrows the exploded (id, dl, term) rows to the
    scored terms before the tf aggregate — the only step in which the
    callers differ.

    Returns (id, term, tf, dl, score) — one row per matching pair."""
    # r15 two-pass shape (guide §1.2/§2.4, VERDICT r14 #3): the old
    # plan tokenized the corpus THREE times — tf pass, df recompute of
    # the whole tf subtree (Catalyst copies the subtree per consumer
    # and ReuseExchange never unifies the copies: each gets different
    # inferred predicates / pruned columns before canonicalization),
    # and the corpus-stats pass. The stats pass now does no
    # tokenization: dl == size(tokens(text)) == regexp_count(text,
    # '\\S+') exactly (tokens are the maximal non-whitespace runs;
    # NULL text yields NULL dl on both forms), so the second corpus
    # scan allocates no arrays. The df recompute stays —
    # two designs that remove it were measured/analyzed and REJECTED:
    # a window count over term keeps tf on one chain (q147 2.39 vs
    # 3.15 s at sf0.1) but puts every term's tf rows on ONE task,
    # which is skew death for a common term at 100 TB, and a
    # localCheckpoint of tf measured 2.44 -> 3.49 s in r14. The
    # groupBy+broadcast-join-back is the skew-free mechanism (partial
    # aggregation collapses per task before the exchange).
    base = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    ).select("id", F.size("__toks").cast("double").alias("dl"), "__toks")
    # integral-valued doubles (token counts) sum exactly in binary, so
    # sum(dl)/count is order-independent without a decimal accumulator
    stats = docs.select(
        # NULL text -> NULL dl (size(NULL array) is NULL, which the old
        # sum skipped), so regexp_count's NULL passes through unchanged
        F.regexp_count(F.col(text_col), F.lit(r"\S+"))
        .cast("double")
        .alias("__dl")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("__dl").alias("sum_dl"),
    )
    tf = (
        term_filter(base.select("id", "dl", F.explode("__toks").alias("term")))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    avgdl = F.col("sum_dl") / F.col("n_docs")
    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select("id", "term", "tf", "dl", (idf * sat).alias("score"))
    )


def bm25_term_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-(document, term) BM25 partial scores for ``query_terms``
    (formula in :func:`_bm25_scores`).

    Returns (id, term, tf, dl, score) — one row per matching pair.
    Callers compose the final ranking; summing a FIXED small term set
    in deterministic order (see workload q77) keeps results bit-stable
    across engines, where a float SUM aggregate would be
    order-dependent."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    in_query = F.col("term").isin(*query_terms)
    return _bm25_scores(docs, id_col, text_col, lambda t: t.filter(in_query), k1, b)


def bm25_topk_join(
    docs: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    terms_col: str = "terms",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Batch BM25 retrieval: every query row (qid, terms array) gets
    its top-``k`` corpus documents — the multi-query generalization of
    :func:`bm25_term_scores` (single fixed probe), mirroring
    ``similarity.knn_join``'s role for dense vectors.

    Plan: the query table's DISTINCT terms broadcast-semi-join the
    exploded corpus tokens (one corpus scan, pruned to matching terms
    map-side), then per-(doc, term) tf and per-term df hash-aggregate
    as usual; scores join back to (qid, term) via a broadcast and
    hash-aggregate per (qid, doc); one window per qid takes top-k.

    Scale: corpus cost is ONE scan + shuffles keyed on (doc, term) /
    term regardless of query count; the (qid, doc) aggregate and final
    window shuffle carry only docs that matched >= 1 query term —
    sparse for realistic term queries. Queries are assumed the small
    side (broadcast); chunk mega-batches of queries externally.

    Determinism/parity: per-term scores round to 7 dp and accumulate
    in DECIMAL (order-independent, workload/parity.py rationale), the
    total rounds to 6 dp BEFORE ranking, and ties break by doc id ASC
    — identical to a ROUND-then-ROW_NUMBER SQL oracle."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qterms = queries.select(
        F.col(qid_col).alias("qid"), F.explode(terms_col).alias("term")
    ).distinct()
    uniq_terms = qterms.select("term").distinct()
    scored = _bm25_scores(
        docs, id_col, text_col,
        lambda t: t.join(F.broadcast(uniq_terms), "term", "left_semi"), k1, b,
    )
    per_pair = (
        scored.join(F.broadcast(qterms), "term")
        .groupBy("qid", "id")
        .agg(
            F.round(F.sum(F.round(F.col("score"), 7).cast("decimal(28,10)")), 6)
            .cast("double")
            .alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("bm25"), F.asc("id"))
    return (
        per_pair.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid", F.col("id").alias(id_col), "bm25", "n_terms_matched",
            F.col("rank").cast("int").alias("rank"),
        )
    )
