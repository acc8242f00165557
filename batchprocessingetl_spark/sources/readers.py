"""Source/sink adapters (SURVEY.md §2.1).

The reference routes everything through Postgres (CSV -> psycopg2 COPY
-> JDBC extract, ``src/main.py:31-35`` + ``src/raw/raw_layer.py:54-67``);
this engine reads files directly and keeps JDBC as an optional adapter:

- S1 JDBC scan with pushdown -> :func:`read_jdbc` (``query`` option;
  partitioned reads via partitionColumn bounds for scale)
- S2 parquet scan -> :func:`read_parquet`
- S3 JSON scan with explicit schema -> :func:`read_json`
- S5 CSV ingest -> :func:`read_csv` (explicit schema, no inference)
- S6/S7 parquet/JSON sinks -> :func:`write_parquet` (adds the
  ``partition_by`` the reference lacks — date-partitioned facts are
  what make 100 TB scans prunable)
- whole-snapshot publish -> :func:`publish_snapshot` (staged write +
  Hadoop-FS swap, adopted after a crash by :func:`recover_staged_swap`;
  the reference's per-batch table rewrite, curated_layer.py:89-145,
  made crash-safe for MERGE, compaction and streaming state)
- S9 existence probe -> try/except AnalysisException (the reference's
  curated layer already does this, ``curated_layer.py:39-44``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-sized rows (tuples in ``ddl`` column order) as a
    ``LocalRelation``, whatever the session's Arrow setting. The list
    path, ``createDataFrame(rows, ddl)``, plans as ``Scan ExistingRDD``
    over a PythonRDD: every scan of it starts Python workers to
    unpickle the rows (5 rows on a 4-core host: 0.46 s wall and 1.2 s
    of executor time, against 0.07 s here; docs/BENCH_NOTES.md). The
    rows go through one ``pyarrow.Table`` typed by the parsed schema
    instead, so a value its column cannot hold (an out-of-range
    ``int``, a string in a number column) raises here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([row[i] for row in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    """CSV with a declared schema — schema inference is a full extra
    pass over the data and type-unstable; production ingest pins it."""
    return spark.read.csv(path, header=header, schema=schema)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines with explicit schema (reference raw_layer.py:87)."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (built-in vectorized reader). Same pushdown/pruning
    posture as parquet: predicates and column selections reach the
    stripe reader, so mixed parquet/ORC lakes keep one query surface."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_files: int | None = None,
) -> None:
    """ORC sink, mirroring :func:`write_parquet`'s options — the second
    columnar wire format for interop with Hive/Trino-side consumers."""
    out = df.coalesce(target_files) if target_files else df
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_csv_quarantine(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Robust CSV ingest: well-formed rows parse against the declared
    schema; malformed lines are captured (PERMISSIVE mode +
    corrupt-record column) and returned as a quarantine frame instead
    of poisoning the pipeline — the production upgrade of the
    reference's log-and-continue error handling
    (staging_layer.py:95-98). Returns (good, quarantined_raw_lines)."""
    schema_with_corrupt = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = spark.read.csv(
        path,
        header=header,
        schema=schema_with_corrupt,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()  # both outputs share one parse pass
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def read_json_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines twin of :func:`read_csv_quarantine`: rows that fail
    to parse against the declared schema land in a quarantine frame
    (PERMISSIVE + corrupt-record column) instead of nulling out
    silently or failing the job — at 100 TB a crawl batch always
    carries some malformed lines, and the quarantine frame is the
    audit/replay surface. Returns (good, quarantined_raw_lines)."""
    schema_with_corrupt = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(schema_with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()  # both outputs share one parse pass
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def read_jdbc(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC scan with full query pushdown (reference raw_layer.py:54-67
    wraps the query as a subselect; the ``query`` option is the modern
    form). Partitioned-read bounds parallelize the extract — the
    reference reads single-threaded, which caps at one connection's
    throughput regardless of cluster size."""
    reader = spark.read.format("jdbc").option("url", url)
    if partition_column is not None:
        # Spark rejects query+partitionColumn together; the partitioned
        # form reads the query as a derived table
        reader = (
            reader.option("dbtable", f"({query}) AS q")
            .option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    else:
        reader = reader.option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """S1 JDBC scan in ``dbtable`` form: Spark owns the projection and
    predicate pushdown (``.filter``/``.select`` on the result land in
    the generated SQL — visible as ``PushedFilters`` in the plan), and
    partition bounds split the scan into ``num_partitions`` parallel
    range queries. This is the form a catalog-registered JDBC table
    uses; ``read_jdbc`` is the full-query-pushdown form."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_files: int | None = None,
) -> None:
    """Parquet sink. ``partition_by`` enables partition pruning on read
    (absent in the reference, SURVEY §2.1 S6); ``target_files``
    coalesces to bound small-file count (replaces the reference's
    repartition(10/20) before writes, curated_layer.py:88-144, without
    a full shuffle)."""
    out = df.coalesce(target_files) if target_files else df
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_range_sorted_parquet(
    df: DataFrame,
    path: str,
    range_cols: list[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered, sorted parquet layout: rows range-partition on
    ``range_cols`` (sampled split points, so files are size-balanced)
    and sort within each file, giving every file a DISJOINT min/max
    envelope on the leading column.

    This is the scan-pruning layout primitive: parquet footers record
    per-file/row-group min-max stats, so a selective filter on
    ``range_cols`` skips every file whose envelope misses the
    predicate — at 100 TB a point/range query touches O(result) files
    instead of O(corpus), for one up-front range shuffle (the same
    trade write_bucketed makes for join locality, aimed at filters
    instead of joins). Disjointness is asserted from real footer stats
    in tests/test_pipeline.py.
    """
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in range_cols])
        .sortWithinPartitions(*range_cols)
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within: list[str] | None = None,
) -> int:
    """Rewrite a parquet dataset into ~``target_file_bytes`` files —
    the small-file compaction every long-running ingest needs (each
    streaming micro-batch / incremental cycle appends a few files; a
    year of 5-minute batches is ~100k tiny files whose open/footer
    costs dominate scans and whose listing throttles the driver).

    File count derives from the dataset's actual on-disk bytes (file
    metadata only — no data read for sizing); the rewrite goes through
    :func:`publish_snapshot`, so a failed compaction leaves the
    original intact and a crash mid-swap is adopted by the next call.
    ``sort_within`` optionally re-sorts rows inside each output file to
    restore min/max pruning envelopes (see
    :func:`write_range_sorted_parquet`). Returns the output file count.
    """
    recover_staged_swap(spark, path)
    fs, jpath = _hadoop_fs(spark, path)
    total = fs.getContentSummary(jpath).getLength()
    n_files = max(1, int(total / target_file_bytes) + (1 if total % target_file_bytes else 0))
    out = spark.read.parquet(path).repartition(n_files)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    publish_snapshot(spark, out, path)
    return n_files


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """S8 JDBC sink (reference curated_layer.py:89-145 writes all four
    star tables back to Postgres). ``batchsize`` bounds per-round-trip
    rows; for big facts, repartition first so parallel connections
    share the load. Exercised for real against embedded Derby in
    tests/test_jdbc_derby.py (round-trip, append, pushdown,
    partitioned parallel read)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).option(
        "batchsize", str(batchsize)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) pair for ``path`` via the Hadoop FS gateway —
    works for any configured URI scheme (file://, hdfs://, s3a://),
    unlike os.path/shutil which silently no-op on non-local stores."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API (any scheme,
    any path kind — file, dir, marker)."""
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete through the Hadoop FileSystem API. Returns
    True when something was deleted."""
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.delete(jpath, True))


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic-where-the-store-allows rename through the Hadoop
    FileSystem API (HDFS renames are atomic; object stores degrade to
    copy+delete — :func:`publish_snapshot`'s recovery tolerates both)."""
    fs, jsrc = _hadoop_fs(spark, src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    return bool(fs.rename(jsrc, jdst))


def fs_delete_strict(spark: SparkSession, path: str) -> None:
    """``fs_delete`` that RAISES on failure. Hadoop FileSystem.delete
    reports failure by returning False rather than raising (unlike
    shutil.rmtree), so a :func:`publish_snapshot` swap that silently
    failed to clear the live dir would otherwise surface later as an
    unrelated path error. Callers guard with an existence probe first,
    so False here always means a real failure, not a missing path."""
    if not fs_delete(spark, path):
        raise IOError(f"Hadoop FileSystem.delete({path!r}) returned False")


def fs_rename_strict(spark: SparkSession, src: str, dst: str) -> None:
    """``fs_rename`` that RAISES on failure (Hadoop rename reports
    failure by returning False — e.g. missing parent, existing
    destination). :func:`publish_snapshot` must abort at the point of
    failure, not strand a deleted live dir."""
    if not fs_rename(spark, src, dst):
        raise IOError(
            f"Hadoop FileSystem.rename({src!r} -> {dst!r}) returned False"
        )


def _staging(path: str) -> str:
    return path.rstrip("/") + ".staging"


def publish_snapshot(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Replace the parquet dataset at ``path`` with ``df`` — the one
    crash-safe whole-snapshot publish (MERGE, compaction, streaming
    state folds). ``df`` is fully written to ``<path>.staging``, then
    the live dir is deleted and the staging dir renamed into place:

    - a failure during the write leaves the live dataset untouched (the
      next publish overwrites the partial staging dir);
    - a crash between the delete and the rename strands a complete
      staging dir, which :func:`recover_staged_swap` adopts.

    ``df`` may read ``path`` itself: the write never touches the live
    dir, so no checkpoint is needed to cut that lineage. Every move
    goes through the Hadoop FileSystem API (any configured scheme)."""
    staging = _staging(path)
    df.write.mode("overwrite").parquet(staging)
    if fs_exists(spark, path):
        fs_delete_strict(spark, path)
    fs_rename_strict(spark, staging, path)


def recover_staged_swap(spark: SparkSession, path: str) -> bool:
    """Close :func:`publish_snapshot`'s crash window: when ``path`` is
    missing and ``<path>.staging`` holds a COMPLETE write (Spark's
    ``_SUCCESS`` marker), adopt it — roll forward. A partial staging
    dir is never promoted. Call it before reading the live snapshot.
    Returns True when a recovery happened; idempotent."""
    staging = _staging(path)
    if not fs_exists(spark, path) and fs_exists(spark, staging + "/_SUCCESS"):
        fs_rename_strict(spark, staging, path)
        return True
    return False


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table: rows are hash-clustered into
    ``n_buckets`` files by ``bucket_cols`` at write time, and the
    layout is recorded in the session catalog (bucketing requires
    ``saveAsTable``; the data itself lives at ``path``).

    This is the 100 TB co-location primitive the plain parquet sink
    can't give: a join or aggregation keyed on ``bucket_cols`` between
    tables bucketed the same way needs NO shuffle at all — Catalyst
    proves the partitioning requirement is already satisfied and elides
    both exchanges (asserted in tests/test_plans.py). For a repeatedly
    joined fact/dim pair, that converts every downstream join from
    O(data) network movement into a local zipped scan; ``sort_cols``
    additionally pre-sorts within buckets so sort-merge joins skip the
    sort. The shuffle is paid ONCE, at write time.
    """
    writer = (
        df.write.format("parquet").mode(mode).option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def zorder_value(col_a, col_b, bits: int = 12):
    """Morton (Z-order) interleave of two NON-NEGATIVE bounded ints:
    bit b of each input lands at output bits 2b / 2b+1, so sorting by
    the result clusters rows that are close in BOTH dimensions.
    Inputs must fit in ``bits`` bits — bucket/clamp first."""
    a = F.col(col_a).cast("bigint") if isinstance(col_a, str) else col_a.cast("bigint")
    b = F.col(col_b).cast("bigint") if isinstance(col_b, str) else col_b.cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet layout: rows sort by the Morton
    interleave of two bounded-int columns, so parquet min/max footer
    stats prune files for selective filters on EITHER column or a 2-D
    box — the multi-dimensional sibling of
    :func:`write_range_sorted_parquet` (whose disjoint envelopes serve
    only the leading column). One range shuffle up front, same as any
    clustered write; the interleave is ~4*bits bit-ops inside
    whole-stage codegen. The pruning effect is measured (not assumed)
    in tests/test_pipeline.py: a box query touches strictly fewer
    files than on an unclustered copy of the same rows."""
    z = zorder_value(col_a, col_b, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    id_from_stem: bool = True,
) -> "DataFrame":
    """Media-file ingestion via Spark's ``binaryFile`` source: each
    file becomes one row (path, modificationTime, length, content) —
    the standard way raw image/audio payloads enter a multimodal
    pipeline before ``operators.multimodal`` decodes them as Arrow
    batches. ``glob`` maps to pathGlobFilter (pushed into file
    listing, not a post-scan filter). With ``id_from_stem`` the file
    stem is parsed as a bigint ``media_id`` when fully numeric (the
    common shard-by-id layout), else NULL.

    Scale notes: binaryFile parallelizes by file; tiny-file corpora
    should be compacted into parquet payload tables (write the result
    of this reader back via write_parquet) so downstream scans are not
    listing-bound — the same small-file discipline as any lake layout.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if id_from_stem:
        # fully-numeric stem, with or without a single extension:
        # "123.bmp" -> 123, "12345" -> 12345, "123.45.jpg" (stem
        # "123.45", not fully numeric) -> NULL
        fname = F.element_at(F.split(F.col("path"), "/"), -1)
        stem = F.regexp_extract(fname, r"^(\d+)(\.[^.]*)?$", 1)
        df = df.withColumn(
            "media_id",
            F.when(stem != "", stem.cast("bigint")),
        )
    return df


def write_parquet_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    mode: str = "overwrite",
    ndv: int = 100_000,
    target_files: int | None = None,
) -> None:
    """Parquet sink with per-column BLOOM FILTERS in the file footers
    (S6 extension): point-lookup predicates on high-cardinality
    non-sort columns (content hashes, user ids) can then skip whole
    row groups WITHOUT the data being clustered by that column — the
    complement to partitionBy (low-cardinality prune), bucketing
    (join co-location) and Z-order (multi-column range prune). At
    100 TB this is the difference between "find this doc_id" reading
    every row group of every file and reading ~one: the reader
    consults the footer bloom before touching page data
    (``spark.sql.parquet.filterPushdown`` on, the default).

    ``ndv`` sizes each filter (expected distinct values per row
    group); oversizing costs footer bytes, undersizing costs false
    positives — at the default 1% FPP a 100k-NDV filter is ~120 KB."""
    out = df.coalesce(target_files) if target_files else df
    writer = out.write.mode(mode)
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
        )
    writer.parquet(path)
