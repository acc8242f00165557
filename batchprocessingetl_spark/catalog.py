"""Catalog of named parquet sources.

The reference hard-codes one HDFS path per layer
(``/root/reference/src/raw/raw_layer.py:34``,
``src/staging/staging_layer.py:21``); here the catalog is a thin,
general mapping name -> parquet path under a scale-factor directory,
registered as temp views so both the DataFrame API and ``spark.sql``
see the same tables (SURVEY.md §3.4).

Each table's schema is declared here as a DDL string, so a load runs
no schema-inference job and returns the same column types in every
session. The three timestamp columns (``o_orderdate``, ``l_shipdate``,
``events.ts``) are parquet TIMESTAMP(MICROS) in every fixture and are
declared ``TIMESTAMP``; a file with another physical type fails when
a query scans it. A new or changed column means editing ``TABLES``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING,"
        " p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,"
        " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
        " l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one named table under its declared schema;
    Catalyst prunes columns and pushes predicates into the parquet
    reader automatically."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {tuple(TABLES)}")
    # timestamp semantics (year()/date_trunc/window) must be
    # timezone-stable even under a caller-owned SparkSession
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.schema(TABLES[name]).parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view for the SQL entry surface."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
