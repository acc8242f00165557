"""Focused pins for the r15 plan-level optimizations: each one asserts
the EQUIVALENCE the optimization relies on, so a later refactor cannot
silently break the argument the speedup was shipped on.

- tokens() lambda-free form == the old filter-lambda form.
- BM25's tokenize-free stats pass: regexp_count(text, '\\S+') ==
  size(tokens(text)) on every boundary case.
- Hashed shingles == xxhash64 of string shingles, elementwise.
- The set-cover picks (q275, q281) match the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


EDGE_TEXTS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "one"),
    (5, "  leading and   trailing  "),
    (6, "tab\tsep\nnewline mixed   runs"),
    (7, "a b c d e f g"),
]


def test_tokens_matches_filter_lambda_form(spark):
    from batchprocessingetl_spark.operators.text import tokens

    df = spark.createDataFrame(EDGE_TEXTS, "id int, text string")
    old = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != F.lit(""))
    rows = df.select(
        "id", tokens(F.col("text")).alias("new"), old.alias("old")
    ).collect()
    for r in rows:
        assert r.new == r.old, f"id={r.id}: {r.new} != {r.old}"


def test_bm25_stats_regexp_count_equals_token_size(spark):
    """dl == size(tokens(text)) must equal the stats pass's
    regexp_count(text, '\\S+') on every edge case, including NULL
    text, where BOTH forms yield NULL (size of a NULL array is NULL
    on this Spark — an earlier coalesce(-1) draft diverged here)."""
    from batchprocessingetl_spark.operators.text import tokens

    df = spark.createDataFrame(EDGE_TEXTS, "id int, text string")
    rows = df.select(
        "id",
        F.size(tokens(F.col("text"))).alias("via_tokens"),
        F.regexp_count("text", F.lit(r"\S+")).alias("via_regexp"),
    ).collect()
    for r in rows:
        assert r.via_tokens == r.via_regexp, r

    # and on real corpus text
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    mismatches = (
        docs.select(
            F.size(tokens(F.col("text"))).alias("a"),
            F.regexp_count("text", F.lit(r"\S+")).alias("b"),
        )
        .filter(~F.col("a").eqNullSafe(F.col("b")))
        .count()
    )
    assert mismatches == 0


def test_hashed_shingles_equal_xxhash_of_string_shingles(spark):
    from batchprocessingetl_spark.operators.dedup import shingle_frame

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(200)
    s = shingle_frame(docs, "doc_id", "text", 3).select(
        "id", F.transform("sh", lambda x: F.xxhash64(x)).alias("expect")
    )
    h = shingle_frame(docs, "doc_id", "text", 3, hashed=True).select(
        "id", F.col("sh").alias("got")
    )
    bad = (
        s.join(h, "id")
        .filter(F.col("expect") != F.col("got"))
        .count()
    )
    assert bad == 0


def test_setcover_picks_match_oracle(spark):
    """The covered set is one isin filter of the materialized shingle
    frame (q281: also bucket-pruned); the picked rounds must equal the
    DuckDB greedy replay."""
    import duckdb

    from batchprocessingetl_spark.workload import textops

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    for query, oracle in (
        (textops.q275_setcover_selection, textops._q275_oracle),
        (textops.q281_stochastic_setcover, textops._q281_oracle),
    ):
        got = [
            (r.round, r.doc_id, r.gain, r.covered)
            for r in query(spark, SF_SMOKE).collect()
        ]
        want = [tuple(r) for r in con.sql(oracle()).fetchall()]
        assert got == want, query.__name__
        assert len(got) > 0, query.__name__
