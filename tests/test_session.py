"""Session settings that ``get_spark`` fixes for every caller: the
codegen cache size, the per-call call-site capture of
``pyspark.sql.functions``, and the start-up hook it ships to Python
workers (lazy zip-cache invalidation). All change speed only, so these
tests pin the settings themselves, the error a caller still gets, and
the steady state each buys."""

from __future__ import annotations

import sys
from pathlib import Path

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


@pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ zipimport reads lazily; lazy_zip_invalidation is a no-op there",
)
def test_lazy_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    import importlib.util
    import zipfile
    import zipimport

    from batchprocessingetl_spark import compat

    # installing patches the class: monkeypatch restores the stock method
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("old_mod.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    reads.clear()  # the constructor's own read
    assert compat.lazy_zip_invalidation()
    assert compat.lazy_zip_invalidation()  # idempotent: one wrapper, not two
    importer.invalidate_caches()  # an importer's first call reads and stamps
    assert reads == [str(archive)]

    reads.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("new_mod") is None

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("old_mod.py", "X = 1\n")
        zf.writestr("new_mod.py", "Y = 2\n")
    importer.invalidate_caches()
    assert reads == [str(archive)]
    spec = importer.find_spec("new_mod")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_python_workers_run_the_start_up_hook(spark):
    """pyspark's worker calls ``importlib.invalidate_caches()`` once
    per task; the hook ``get_spark`` ships makes a warm worker's call
    re-read no zip archive, and puts the package root on the worker's
    ``sys.path``."""
    import pandas as pd

    from batchprocessingetl_spark import compat

    root = str(Path(compat.__file__).resolve().parents[1])

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        importlib.invalidate_caches()
        reads = [0]
        read_directory = zipimport._read_directory

        def spy(path):
            reads[0] += 1
            return read_directory(path)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame({
            "hook": [method.__module__ == "batchprocessingetl_spark.compat"],
            "zipimporters": [sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())],
            "reads": [reads[0]],
            "root_on_path": [root in sys.path],
        })

    schema = "hook boolean, zipimporters int, reads int, root_on_path boolean"
    row = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()[0]
    assert row.hook
    if sys.version_info < (3, 12):
        assert row.zipimporters > 0  # pyspark.zip at least: the check is not vacuous
    assert row.reads == 0
    assert row.root_on_path
