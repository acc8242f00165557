"""Physical/optimized-plan regression tests — the 100 TB posture is a
plan property, not a timing: filters must reach the parquet scan,
projections must prune, small sides must broadcast, heavy expressions
must not get re-inlined, and partitioned sinks must prune partitions.
These assertions catch silent plan regressions that small-scale timing
never would."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batchprocessingetl_spark.workload.relational import (
    q01_pricing_summary,
    q02_revenue_by_nation_month,
    q08_customers_without_orders,
)
from tests.conftest import SF_SMOKE


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q01_filter_pushdown_and_pruning(spark):
    plan = _physical(q01_pricing_summary(spark, SF_SMOKE))
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "l_shipdate" in scan and "DataFilters" in scan
    # projection pruning: untouched wide columns must not be read
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def test_q02_broadcasts_and_prunes(spark):
    plan = _physical(q02_revenue_by_nation_month(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # lineitem scan reads only join key + measures
    li_scan = next(line for line in plan.splitlines() if "lineitem.parquet" in line)
    assert "l_extendedprice" in li_scan and "l_shipdate" not in li_scan


def test_anti_join_stays_join_not_subquery_loop(spark):
    plan = _physical(q08_customers_without_orders(spark, SF_SMOKE))
    assert "LeftAnti" in plan


def test_minhash_plan_contains_no_expression_blowup(spark):
    """The dedup plan must keep exactly one tokenize per side — the
    Catalyst pitfalls in operators/dedup.py docstrings re-inline it
    otherwise (regression guard for the 100x slowdown class)."""
    from batchprocessingetl_spark.catalog import load_table
    from batchprocessingetl_spark.operators.dedup import minhash_dedup_pairs

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _optimized(minhash_dedup_pairs(docs, "doc_id", "text", 32, 16, 3, 0.2))
    n_tokenize = plan.count("split(trim")
    # 3 consumers (signature branch + two verify-join sides), each may
    # tokenize once; the broken plans contained 14+
    assert n_tokenize <= 4, f"tokenize inlined {n_tokenize} times"
    assert "array_min" not in plan  # HOF signature replaced by min-agg plan


def test_aggregates_are_partial(spark):
    plan = _physical(q01_pricing_summary(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_partition_pruning_on_partitioned_sink(spark, tmp_path):
    from batchprocessingetl_spark.catalog import load_table
    from batchprocessingetl_spark.sources.readers import write_parquet

    li = load_table(spark, SF_SMOKE, "lineitem").withColumn("ship_year", F.year("l_shipdate"))
    out = str(tmp_path / "fact")
    write_parquet(li, out, partition_by=["ship_year"])
    read = spark.read.parquet(out).filter(F.col("ship_year") == 1997)
    plan = _physical(read)
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "PartitionFilters" in scan and "ship_year" in scan.split("PartitionFilters")[1][:120]
    # pruned read touches only the one partition
    assert read.count() == li.filter(F.col("ship_year") == 1997).count()


def test_bucketed_join_and_agg_have_no_shuffle(spark, tmp_path):
    from batchprocessingetl_spark.catalog import load_table
    from batchprocessingetl_spark.sources.readers import write_bucketed

    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    try:
        write_bucketed(orders, "b_orders", str(tmp_path / "o"), ["o_orderkey"], 8)
        write_bucketed(li, "b_lineitem", str(tmp_path / "l"), ["l_orderkey"], 8,
                       sort_cols=["l_orderkey"])
        a, b = spark.table("b_orders"), spark.table("b_lineitem")

        # co-located join: both sides already hash-clustered on the key
        # -> Catalyst elides BOTH exchanges (the 'merge' hint only stops
        # the tiny test tables from broadcasting)
        j = a.hint("merge").join(b, a.o_orderkey == b.l_orderkey)
        plan = _physical(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == li.count()

        # aggregation keyed on the bucket column: no exchange either
        g = a.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
        assert "Exchange" not in _physical(g)

        # control: the same join on unbucketed reads DOES shuffle
        raw = load_table(spark, SF_SMOKE, "orders").hint("merge").join(
            li, F.col("o_orderkey") == F.col("l_orderkey")
        )
        assert "Exchange" in _physical(raw)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_similar_pairs_tiled_plan_shape(spark):
    """The exact-pairs GEMM must be the tiled cogroup plan: Arrow
    cogroup kernel present, and NO cartesian/nested-loop join and NO
    broadcast of the corpus (the r1 version collect()ed the matrix to
    the driver and broadcast it; the rewrite bounds executor memory by
    the BLOCK — corpus size only changes task count)."""
    from batchprocessingetl_spark.catalog import load_table
    from batchprocessingetl_spark.operators.similarity import similar_pairs_exact

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _physical(similar_pairs_exact(emb, 0.4))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" not in plan


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """Persist-and-probe IVF (VERDICT r2 #5): the prebuilt index is
    parquet partitioned by __cell; a probe's literal cell filter must
    surface as PartitionFilters on __cell (nprobe of k directories
    scanned), and the pruned probe must return exactly what scanning
    the probed cells in memory would."""
    from batchprocessingetl_spark.catalog import load_table
    from batchprocessingetl_spark.operators.similarity import (
        build_ivf_index,
        ivf_assign,
        learn_ivf_centroids,
        probe_cells,
        probe_ivf_index,
        as_double,
        cosine,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") != 0)
    model = learn_ivf_centroids(emb, k=8, seed=42, max_iter=4)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, model, path)

    q = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(as_double(F.col("embedding")).alias("qvec"))
    )
    out = probe_ivf_index(spark, path, q, model, k=10, nprobe=3)
    plan = _physical(out)
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    pf = scan.split("PartitionFilters")[1][:160]
    assert "__cell" in pf
    # semantic check: pruned probe == in-memory scan of the same cells
    cells = probe_cells(q, model, 3)
    assert len(cells) == 3
    mem = (
        ivf_assign(emb, model)
        .filter(F.col("__cell").isin(cells))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(as_double(F.col("embedding")), F.col("qvec")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )
    got = [(r["vec_id"], r["cosine"]) for r in out.collect()]
    want = [(r["vec_id"], r["cosine"]) for r in mem.collect()]
    assert got == want


def test_q132_part_side_implication_reaches_scan(spark):
    # The cross-side OR-of-ANDs can't be pushed by Catalyst; the
    # hand-extracted part-side implication must reach the part scan as
    # a data filter so only band parts are read and broadcast.
    from batchprocessingetl_spark.workload.relational import q132_banded_promo_revenue

    plan = _physical(q132_banded_promo_revenue(spark, SF_SMOKE))
    part_scan = next(l for l in plan.splitlines() if "part.parquet" in l)
    assert "p_brand" in part_scan and "p_size" in part_scan
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_q140_rfm_has_no_window(spark):
    # Quartile scoring must come from the 1-row percentile aggregate
    # broadcast, NOT an ntile/percent_rank window (global sort).
    from batchprocessingetl_spark.workload.relational import q140_rfm_segments

    plan = _physical(q140_rfm_segments(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "percentile" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row cuts frame


def test_q137_vocab_growth_has_no_global_rank(spark):
    # Checkpoint thresholds cut on doc-id VALUES; a Window would mean
    # the non-scalable global row-number formulation crept back in.
    from batchprocessingetl_spark.workload.textops import q137_vocab_growth

    plan = _physical(q137_vocab_growth(spark, SF_SMOKE))
    assert "Window" not in plan


def test_bench_set_is_subset_of_plan_audit(spark, capsys):
    """Invariant (VERDICT r6 #3): every benched query must carry a
    current plan-audit row — the two most expensive bench queries
    (q40/q41) once shipped a round without one. plan_audit.AUDITED is
    derived from the full registry, so this also pins that derivation
    against regressions (e.g. a module rename dropping queries). A
    name-filtered audit prints exactly the named sections and hands
    the session back with its own AQE setting."""
    import re as _re

    import bench
    from tools.plan_audit import AUDITED, audit, parse_args

    from batchprocessingetl_spark.workload import (
        collect_extra_queries,
        collect_queries,
    )

    assert set(bench.HEADLINE) <= set(AUDITED)
    assert set(AUDITED) == set(collect_queries()) | set(collect_extra_queries())

    assert parse_args([])[1] == AUDITED
    sf_dir, names = parse_args([SF_SMOKE, "q01_pricing_summary"])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    audit(spark, sf_dir, names)
    out = capsys.readouterr().out
    assert _re.findall(r"^## (q\w+)\s*$", out, _re.M) == ["q01_pricing_summary"]
    assert f"`{SF_SMOKE}`" in out
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe


def test_plan_audit_prints_a_long_plan_whole(spark, capsys, monkeypatch):
    """A before/after diff with the audit compares whole plans: q147's
    executed plan is several times longer than the 4,000 characters
    the audit once cut every plan at."""
    from tools import plan_audit

    seen = []

    def summarize(plan):
        seen.append(plan)
        return []

    monkeypatch.setattr(plan_audit, "summarize", summarize)
    plan_audit.audit(spark, SF_SMOKE, ("q147_hybrid_retrieval_rrf",))
    (plan,) = seen
    assert len(plan) > 4000
    assert f"```\n{plan.rstrip()}\n```" in capsys.readouterr().out


def test_plans_doc_covers_full_registry():
    """VERDICT r12 #2: the committed docs/PLANS.md must carry a `## q...`
    section for EVERY declared query. The old guard only pinned the
    AUDITED derivation, so a query added after the last regeneration
    shipped without its plan audit (q367/q368 in round 12). This keys
    the check off the COMMITTED DOC vs the live registry — a new query
    now fails pytest until `python tools/plan_audit.py > docs/PLANS.md`
    is re-run."""
    import os
    import re as _re

    from batchprocessingetl_spark.workload import (
        collect_extra_queries,
        collect_queries,
    )

    doc_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "PLANS.md",
    )
    with open(doc_path) as fh:
        have = set(_re.findall(r"^## (q\w+)\s*$", fh.read(), _re.M))
    want = set(collect_queries()) | set(collect_extra_queries())
    missing = sorted(want - have)
    assert not missing, (
        "PLANS.md lacks plan-audit sections for declared queries "
        f"(regenerate: python tools/plan_audit.py > docs/PLANS.md): {missing}"
    )


def test_global_window_guard_detects_fact_grain_windows(spark):
    """VERDICT r7 #3: tools/plan_audit.py::unguarded_global_windows must
    flag an empty-partition window running at fact grain and accept one
    sitting above a grain-collapsing aggregate."""
    from pyspark.sql import Window

    from batchprocessingetl_spark.catalog import load_table
    from tools.plan_audit import count_global_windows, unguarded_global_windows

    li = load_table(spark, SF_SMOKE, "lineitem")
    # fact-grain global window: the anti-pattern the guard exists for
    bad = li.withColumn("rk", F.row_number().over(Window.orderBy("l_orderkey")))
    assert unguarded_global_windows(_physical(bad)) >= 1

    # collapsed-grain global window: agg first, then the global rank
    good = (
        li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
        .withColumn("rk", F.row_number().over(Window.orderBy(F.desc("q"))))
    )
    gplan = _physical(good)
    assert count_global_windows(gplan) >= 1
    assert unguarded_global_windows(gplan) == 0

    # partitioned windows never count as global
    part = li.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        ),
    )
    assert count_global_windows(_physical(part)) == 0

    # round-8 ADVICE false negative: a fact-grain global window above a
    # join whose BUILD side aggregates must still flag — the aggregate
    # is not on the data-flow path, every streamed fact row survives
    dim = li.groupBy("l_returnflag").agg(F.count("*").alias("dim_c"))
    sneaky = (
        li.join(F.broadcast(dim), "l_returnflag")
        .withColumn("rk", F.row_number().over(Window.orderBy("l_orderkey")))
    )
    assert unguarded_global_windows(_physical(sneaky)) >= 1

    # ...while the legitimate agg -> enrich-join -> global-window shape
    # stays guarded: the streamed side is the collapsed frame
    na = load_table(spark, SF_SMOKE, "nation")
    enriched = (
        li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"), F.min("l_suppkey").alias("k"))
        .join(F.broadcast(na), F.col("k") % 25 == F.col("n_nationkey"), "left")
        .withColumn("rk", F.row_number().over(Window.orderBy(F.desc("q"))))
    )
    eplan = _physical(enriched)
    assert count_global_windows(eplan) >= 1
    assert unguarded_global_windows(eplan) == 0

    # round-9 ADVICE false negative #1: a localCheckpoint (barrier) of
    # a FACT-GRAIN frame prints `Scan ExistingRDD` — indistinguishable
    # from createDataFrame(list) — so it must NOT count as a bounded
    # source; a global window above it still runs at fact grain
    from batchprocessingetl_spark.operators.iteration import barrier

    barricaded = barrier(li.select("l_orderkey", "l_quantity")).withColumn(
        "rk", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    assert unguarded_global_windows(_physical(barricaded)) >= 1

    # ...while a genuinely driver-literal spine (local_frame ->
    # LocalTableScan) under a global window stays guarded
    from batchprocessingetl_spark.sources.readers import local_frame

    spine = local_frame(spark, [(b,) for b in "0123456789"], "b string")
    spined = spine.withColumn("rk", F.row_number().over(Window.orderBy("b")))
    splan = _physical(spined)
    assert count_global_windows(splan) >= 1
    assert unguarded_global_windows(splan) == 0

    # round-9 ADVICE false negative #2: dim_agg JOIN fact through a
    # SORT-MERGE join prints the aggregate as the LEFT child while
    # every fact row survives the probe — a fact-grain global window
    # above it must flag (the round-8 patch only caught the
    # BroadcastHashJoin build-side variant)
    smj_sneaky = (
        dim.hint("merge")
        .join(li, "l_returnflag")
        .withColumn("rk", F.row_number().over(Window.orderBy("l_orderkey")))
    )
    smj_plan = _physical(smj_sneaky)
    assert "SortMergeJoin" in smj_plan
    assert unguarded_global_windows(smj_plan) >= 1

    # ...and the both-sides-collapsed SMJ shape stays guarded
    dim2 = li.groupBy("l_returnflag").agg(F.max("l_quantity").alias("mx"))
    smj_good = (
        dim.hint("merge")
        .join(dim2, "l_returnflag")
        .withColumn("rk", F.row_number().over(Window.orderBy("l_returnflag")))
    )
    smj_gplan = _physical(smj_good)
    assert "SortMergeJoin" in smj_gplan
    assert unguarded_global_windows(smj_gplan) == 0


def test_shingle_explode_evaluates_hof_once(spark):
    """Inner-explode discipline (operators/dedup.shingles_of_tokens):
    exploding shingle_frame's `sh` through array_distinct must leave
    exactly ONE shingle-HOF evaluation in the plan, on the reduce side
    of the exchange. A bare-attribute inner explode lets Catalyst's
    InferFiltersFromGenerate push size(sh)>0 below the exchange,
    re-inlining the tokenize+shingle lambda per input row (measured
    164.6s vs 4.9s on a 10x corpus for the same output)."""
    from batchprocessingetl_spark.catalog import load_table
    from batchprocessingetl_spark.operators.dedup import shingle_frame

    docs = load_table(spark, SF_SMOKE, "documents")
    sf = shingle_frame(docs, "doc_id", "text", 3)
    good = sf.select("id", F.explode(F.array_distinct("sh")).alias("s"))
    assert _physical(good).count("transform(sequence") == 1
    # the hazard itself stays detectable: the bare form re-inlines
    bad = sf.select("id", F.explode("sh").alias("s"))
    assert _physical(bad).count("transform(sequence") > 1


def _global_window_offenders(spark, queries, query_plans) -> dict:
    """Unguarded global-window count per query, for the queries that
    have any. Plans come from ``query_plans`` (recorded by the smoke
    runs) and are built here only when missing."""
    from tools.plan_audit import unguarded_global_windows

    offenders = {}
    for name, fn in queries.items():
        if name not in query_plans:
            query_plans[name] = _physical(fn(spark, SF_SMOKE))
        n = unguarded_global_windows(query_plans[name])
        if n:
            offenders[name] = n
    return offenders


def test_registered_workload_has_no_unguarded_global_windows(spark, query_plans):
    """Every driver-registered query's physical plan: any
    empty-partition WindowExec must sit above a grain-collapsing
    aggregate (the documented collapsed-frame designs — cents bins,
    distinct-value ranks, test-level BH ranking). A fact-grain global
    window introduced anywhere in the registered surface fails here."""
    from batchprocessingetl_spark.workload import collect_queries

    offenders = _global_window_offenders(spark, collect_queries(), query_plans)
    assert not offenders, offenders


def test_extra_workload_has_no_unguarded_global_windows(spark, query_plans):
    """Round-8 VERDICT #4: the same gate over the EXTRA surface, so a
    fact-grain global window introduced in ANY declared query is
    caught at pytest time, not only at PLANS.md regeneration. Plans
    are built at smoke SF (iterative queries run their loops at
    plan-build time, so this stays cheap there)."""
    from batchprocessingetl_spark.workload import collect_extra_queries

    offenders = _global_window_offenders(spark, collect_extra_queries(), query_plans)
    assert not offenders, offenders


def test_declared_table_schemas_match_the_parquet_files(spark):
    """catalog.TABLES declares each table's schema; it must equal what
    Spark infers from the fixture files themselves."""
    from batchprocessingetl_spark.catalog import TABLES, load_table

    for name in TABLES:
        inferred = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet").schema
        assert load_table(spark, SF_SMOKE, name).schema == inferred, name


def test_loading_every_table_runs_no_job(spark):
    """A declared-schema load infers nothing, so building a query's
    scans starts no Spark job."""
    from batchprocessingetl_spark.catalog import TABLES, load_table

    sc = spark.sparkContext
    group = "catalog-load-no-jobs"
    sc.setJobGroup(group, "load every catalog table")
    try:
        for name in TABLES:
            load_table(spark, SF_SMOKE, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_timestamp_columns_load_as_timestamp_in_an_ntz_session(spark):
    """A session that infers parquet timestamps as TIMESTAMP_NTZ (for
    example a caller's vanilla session) still gets LTZ timestamps from
    the catalog, as the epoch functions the queries use require."""
    from batchprocessingetl_spark.catalog import load_table

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        got = {
            col: dict(load_table(spark, SF_SMOKE, table).dtypes)[col]
            for table, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"), ("events", "ts"))
        }
    finally:
        spark.conf.set(key, before)
    assert got == {"o_orderdate": "timestamp", "l_shipdate": "timestamp", "ts": "timestamp"}


def test_nanos_events_file_fails_at_scan(spark, tmp_path):
    """events.ts is declared TIMESTAMP over parquet TIMESTAMP(MICROS);
    a TIMESTAMP(NANOS) file fails loudly when a query scans it."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from batchprocessingetl_spark.catalog import load_table

    events = pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1, 0, 0, 0, 1)], pa.timestamp("ns")),
        "user_id": pa.array([7], pa.int64()),
        "event_type": ["click"],
        "value": [1.0],
        "props": ["{}"],
    })
    pq.write_table(events, str(tmp_path / "events.parquet"))
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, str(tmp_path), "events").select(F.unix_micros("ts")).collect()


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_conf(spark, request):
    """Run a test with ``spark.sql.execution.arrow.pyspark.enabled`` on
    and off, restoring the session's setting afterwards."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, before)


_LOCAL_DDL = "qid int, score double, label string, terms array<string>"


def test_local_frame_is_a_local_relation_with_the_declared_schema(spark, arrow_conf):
    from pyspark.sql.types import StructType

    from batchprocessingetl_spark.sources.readers import local_frame

    rows = [
        (1, 0.5, "a", ["x", "y"]),
        (2, None, None, None),
        (None, 2.0, "c", []),
        (4, 1e18, "d", ["z", None]),
    ]
    for data in (rows, []):
        df = local_frame(spark, data, _LOCAL_DDL)
        assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
        assert df.schema == StructType.fromDDL(_LOCAL_DDL)
        assert [tuple(r) for r in df.collect()] == data


def test_local_frame_rejects_a_value_its_column_cannot_hold(spark, arrow_conf):
    """An out-of-range ``int`` raises, as it does on the list path."""
    from batchprocessingetl_spark.sources.readers import local_frame

    bad = [(2**31, 0.0, "a", [])]
    with pytest.raises(ValueError):
        spark.createDataFrame(bad, _LOCAL_DDL)
    with pytest.raises(ValueError):
        local_frame(spark, bad, _LOCAL_DDL)


def test_create_dataframe_appears_only_inside_local_frame():
    """Every driver-built frame in the package goes through
    ``sources/readers.py::local_frame``, so none plans as a PythonRDD
    scan."""
    import inspect
    from pathlib import Path

    import batchprocessingetl_spark
    from batchprocessingetl_spark.sources import readers

    root = Path(batchprocessingetl_spark.__file__).parent
    body, start = inspect.getsourcelines(readers.local_frame)
    helper = {("sources/readers.py", n) for n in range(start, start + len(body))}
    hits = {
        (path.relative_to(root).as_posix(), n)
        for path in root.rglob("*.py")
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    }
    assert hits and hits <= helper, sorted(hits - helper)


def test_q147_and_q275_plan_no_python_rdd_scan(spark):
    from batchprocessingetl_spark.workload.textops import (
        q147_hybrid_retrieval_rrf,
        q275_setcover_selection,
    )

    for query in (q147_hybrid_retrieval_rrf, q275_setcover_selection):
        assert "LogicalRDD" not in _optimized(query(spark, SF_SMOKE)), query.__name__


@pytest.mark.parametrize("arrow_conf", ["false"], indirect=True)
def test_q256_spine_is_a_local_table_scan_with_arrow_off(spark, arrow_conf):
    """q256's 16-row bucket spine is driver-literal in a vanilla
    session too, so the global-window audit counts it as bounded."""
    from batchprocessingetl_spark.workload.relational import (
        q256_consistent_hash_rebalance,
    )

    plan = _physical(q256_consistent_hash_rebalance(spark, SF_SMOKE))
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan
