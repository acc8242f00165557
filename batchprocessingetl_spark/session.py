"""SparkSession factory.

Replaces the reference's hand-tuned session configs (e.g.
``/root/reference/src/curated/curated_layer.py:11-17``, which pins 200
shuffle partitions and *disables* broadcast joins) with an AQE-first
configuration: adaptive execution re-plans joins and coalesces shuffle
partitions at runtime, which is the posture that survives a 100 TB /
1000-executor scale-up without per-job knob tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)

# Parquet codec for EPHEMERAL work-dir stores: these intermediates are
# written once and re-read several times within the SAME query (q281
# reads its shingle store every round), then discarded — so read-path
# speed matters and storage ratio does not. snappy decodes faster than
# zstd; the session-wide zstd default is kept for durable sinks, where
# written bytes dominate at scale.
WORK_CODEC = "snappy"

# Entries in Spark's codegen class cache
# (spark.sql.codegen.cache.maxEntries). At Spark's default of 100 every
# warm perfbench pass recompiled its classes in janino: 184-211 on
# `corpus` and 36-88 on `warehouse` (seeds 2 and 7). The classes a
# process compiles, counted with CodegenMetrics under a 10,000-entry
# cache: `corpus` 219 in the warm-up plus about 25 in its first passes
# (their count() plans differ from the collected ones), `warehouse`
# 127, and bench.py's 25-query headline at sf0.1 415 (q147 75). The
# cache is Guava's, which evicts within each of 4 segments, so it needs
# headroom above those sets: at 250, `corpus` passes after the first
# still compiled up to 26 classes (at most 6 from 300 up), and at 300
# q147's last timed bench.py run recompiled 16. From 500 on, warm
# passes and runs compile only the classes AQE's runtime re-plans
# generate anew (0-24 per pass, all q147, and 2 per q50 run; the same
# at 10,000). A cache holds only classes that were compiled, so a
# smaller working set costs nothing extra.
CODEGEN_CACHE_ENTRIES = 500


def get_spark(
    app_name: str = "batchprocessingetl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    - AQE on (runtime join re-planning, partition coalescing, skew-join
      splitting) — the scale-out posture; on a real cluster the same
      config holds, only ``master`` changes.
    - ``spark.sql.session.timeZone=UTC`` so timestamp semantics match a
      UTC-naive oracle (DuckDB) and are cluster-location-independent.
    - Arrow enabled for any Pandas-UDF operator (vectorized transfer).
    - Shuffle partitions sized to cores for local runs; a real cluster
      would size to ~2-3x total cores and rely on AQE coalescing.
    """
    n = cpus if cpus is not None else (DEFAULT_CPUS or os.cpu_count() or 4)
    # Spark's Python workers are separate interpreters; the
    # sitecustomize hook (compat.worker_pythonpath) carries two
    # worker-side fixes to them over PYTHONPATH: the vendored protobuf
    # alias transformWithState needs (a no-op with a real install), and
    # lazy zip-cache invalidation, which saves each Python task
    # 0.2-0.3 s (4-core host) of re-reading pyspark.zip and the
    # spark-core jar. It also
    # puts this checkout on the workers' sys.path. Must happen before
    # the JVM starts: local-mode workers inherit its environment.
    from batchprocessingetl_spark import compat

    compat.ensure_protobuf()
    shim = compat.worker_pythonpath()
    current = os.environ.get("PYTHONPATH", "")
    if shim not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = shim + (os.pathsep + current if current else "")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # zstd parquet writes for durable sinks — measured at parity
        # with snappy locally (q281 store write 2.852s vs 2.855s) and a
        # markedly better ratio at scale, where written bytes dominate.
        # spark.sql.join.preferSortMergeJoin stays at Spark's default
        # (true); the interleaved A/B that retired the false setting is
        # in docs/BENCH_NOTES.md.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the pyspark launcher turns the console progress bar on; its
        # carriage-return redraws interleave with every tool's stderr
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Reliable checkpoints (operators/iteration.py barriers) are
        # never deleted by default; let the ContextCleaner GC a
        # round's snapshot once its RDD is unreferenced. Must be set
        # BEFORE context start — the cleaner captures it at startup.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # static: the codegen cache is built once per JVM
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # pyspark wraps every pyspark.sql.functions call to record its
        # Python call site: a failed `import ipykernel` when IPython is
        # installed, a conf read over py4j, and a set and clear of the
        # JVM's PySparkCurrentOrigin. Off, five warm q147 builds at
        # sf0.01 under cProfile made 4,610 py4j calls instead of 9,960
        # and took 2.4-2.5 s instead of 4.2-4.5 s. Given up: the Python
        # file:line context in runtime error messages; the errors raise
        # with the same error class. pyspark reads the flag once per
        # process, at the first functions call, so it must be set
        # before that call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Extra driver jars (e.g. a JDBC driver such as PostgreSQL's) —
    # comma-separated paths; must be present before the JVM starts, so
    # a getOrCreate() that reuses a live session cannot add them.
    extra_jars = os.environ.get("SPARK_GRAFT_EXTRA_JARS")
    if extra_jars:
        builder = builder.config("spark.jars", extra_jars)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def work_dir(spark: SparkSession, component: str) -> str:
    """App-scoped scratch directory for operators that materialize an
    intermediate store (the q275/q281 bucketed shingle store, the LSH
    band store). ``SPARK_GRAFT_WORK_DIR`` overrides the root — on a
    real cluster point it at a shared filesystem (HDFS/S3A path) so
    every executor can read the materialized parquet; locally it
    defaults to the system tempdir. Always suffixed with the
    applicationId so concurrent sessions never collide, and safe to
    delete on entry with ``readers.fs_delete`` (re-runs within one app
    overwrite their own store; any URI scheme)."""
    import tempfile

    root = os.environ.get("SPARK_GRAFT_WORK_DIR") or tempfile.gettempdir()
    return os.path.join(
        root, f"bpetl_{component}_{spark.sparkContext.applicationId}"
    )
