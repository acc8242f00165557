"""Headline-bench scaling probe: run the bench queries at sf0.1 AND at
an m-times synthetic blow-up of the fact tables, and record per-query
scaling exponents (VERDICT r2 #3).

Blow-up construction (realistic growth, not naive duplication):
- ``lineitem`` + ``orders`` replicate with CONSISTENT order-key
  remapping (key + rep*1e8), so the fact-fact join fans out correctly;
  dimension tables (customer/part/supplier/nation/region) stay fixed —
  facts grow, dims don't, the standard warehouse growth shape.
- ``events`` replicates with per-replica user-id offsets: more users,
  same per-user event density (sessionization/windows grow by group
  count, not group size).
- ``documents`` replicates with per-replica near-duplicate suffixes
  (the high-dup crawl regime): near-dup
  TRUE-pair counts grow ~m^2 BY CONSTRUCTION, so candidate-bounded
  operators (q37) are expected super-linear in wall time while staying
  linear per candidate — the exponent table flags them and
  docs/PLANS.md carries the diagnosis.
- ``embeddings`` keeps replica 0 verbatim (query vectors / LSH plane
  rows survive) and fills other replicas with hash-derived pseudo-
  random vectors — new mass, not m^2 exact-dup cliques.

Exponent: alpha = ln(t_m / t_1) / ln(m) from best-of-n runs at each
scale. alpha <= ~1 means the plan absorbed a 10x fact blow-up at no
worse than proportional cost on fixed parallelism.

Usage: python tools/bench_scale.py [m] [n_runs] [q_a,q_b,...]
(defaults 10, 2 and the bench HEADLINE set). Naming queries probes
them instead of the headline; docs/SCALE.md maps each corpus operator
to the registered query that exercises it.
Writes one JSON line to stdout; paste/format into docs/SCALE.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from batchprocessingetl_spark.catalog import TABLES, load_table
from batchprocessingetl_spark.session import get_spark
from bench import HEADLINE
from time_queries import time_runs

BASE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
KEY_OFFSET = 100_000_000


def _rep(df, m: int):
    return df.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(m - 1))))


def build_scaled_dir(spark: SparkSession, out_dir: str, m: int) -> None:
    """Materialize the m-times blow-up once; marker file makes re-runs
    cheap."""
    marker = os.path.join(out_dir, f".complete_m{m}")
    if os.path.exists(marker):
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    li = _rep(load_table(spark, BASE_DIR, "lineitem"), m).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.col("rep") * KEY_OFFSET
    )
    li.drop("rep").write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    orders = _rep(load_table(spark, BASE_DIR, "orders"), m).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.col("rep") * KEY_OFFSET
    )
    orders.drop("rep").write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    ev = (
        _rep(load_table(spark, BASE_DIR, "events"), m)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * KEY_OFFSET)
        .withColumn("user_id", F.col("user_id") + F.col("rep") * F.lit(10_000_000))
    )
    ev.drop("rep").write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    docs = (
        _rep(load_table(spark, BASE_DIR, "documents"), m)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(10_000_000))
        .withColumn(
            "text",
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.concat("text", F.lit(" zrep"), F.col("rep").cast("string"))
            ),
        )
    )
    docs.drop("rep").write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = _rep(load_table(spark, BASE_DIR, "embeddings"), m)
    synth = F.transform(
        "embedding",
        lambda x, i: (
            (F.pmod(F.xxhash64(F.col("vec_id"), F.col("rep"), i), F.lit(2001)) - 1000)
            / 1000.0
        ).cast("float"),
    )
    emb = emb.withColumn(
        "embedding", F.when(F.col("rep") == 0, F.col("embedding")).otherwise(synth)
    ).withColumn("vec_id", F.col("vec_id") + F.col("rep") * F.lit(10_000_000))
    emb.drop("rep").write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    for name in TABLES:
        if name in ("lineitem", "orders", "events", "documents", "embeddings"):
            continue
        load_table(spark, BASE_DIR, name).write.mode("overwrite").parquet(
            f"{out_dir}/{name}.parquet"
        )
    open(marker, "w").close()


def main() -> None:
    m = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else list(HEADLINE)
    scaled_dir = f"/tmp/bpetl_scaled_m{m}"
    spark = get_spark("bench_scale")
    from batchprocessingetl_spark.workload import collect_extra_queries, collect_queries

    queries = {**collect_queries(), **collect_extra_queries()}
    build_scaled_dir(spark, scaled_dir, m)
    spark.read.parquet(f"{scaled_dir}/lineitem.parquet").count()  # warm

    t1 = {q: min(r) for q, r in time_runs(spark, queries, BASE_DIR, names, n_runs).items()}
    tm = {q: min(r) for q, r in time_runs(spark, queries, scaled_dir, names, n_runs).items()}
    exps = {
        q: round(math.log(max(tm[q], 1e-3) / max(t1[q], 1e-3)) / math.log(m), 3)
        for q in names
    }
    print(
        json.dumps(
            {
                "metric": "bench_scaling_exponents",
                "m": m,
                "n_runs": n_runs,
                "base": t1,
                "scaled": tm,
                "alpha": exps,
            }
        )
    )


if __name__ == "__main__":
    main()
