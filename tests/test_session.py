"""Session settings that ``get_spark`` fixes for every caller: the
codegen cache size and the per-call call-site capture of
``pyspark.sql.functions``. Both change speed only, so these tests pin
the settings themselves, the error a caller still gets, and the
steady state the cache size buys."""

from __future__ import annotations

import pytest

from batchprocessingetl_spark.session import CODEGEN_CACHE_ENTRIES
from tests.conftest import SF_SMOKE


def test_session_sizes_the_codegen_cache_and_turns_off_call_site_capture(spark):
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException) as err:
        spark.range(3).select("no_such_column").collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")


@pytest.fixture
def aqe_off(spark):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, before)


def test_second_run_of_large_plans_compiles_no_class(spark, aqe_off):
    """q147 alone generates about as many classes as Spark's default
    cache holds (100), so at that size its second run recompiled them
    all. AQE stays off: its runtime re-plans can still generate a few
    new classes on a warm run."""
    from batchprocessingetl_spark.workload.textops import q147_hybrid_retrieval_rrf
    from batchprocessingetl_spark.workload.vectors import q313_binary_hamming_rerank

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_both() -> int:
        before = compiles.getCount()
        for query in (q147_hybrid_retrieval_rrf, q313_binary_hamming_rerank):
            query(spark, SF_SMOKE).count()
        return compiles.getCount() - before

    assert run_both() > 0
    assert run_both() == 0
