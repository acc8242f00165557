"""Tests for sequence packing (operators/packing.py) and the
range-sorted parquet layout writer (sources/readers.py)."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from batchprocessingetl_spark.operators.packing import pack_sequences
from batchprocessingetl_spark.sources.readers import write_range_sorted_parquet


def test_pack_sequences_contiguous_fill(spark):
    # single shard (n_shards=1) so the stream is fully deterministic:
    # docs of 100 tokens each, budget 256 -> starts 0,100,200,300,...
    df = spark.createDataFrame(
        [(i, 100) for i in range(5)], "doc_id long, n_tokens long"
    )
    rows = {
        r["doc_id"]: r
        for r in pack_sequences(df, "doc_id", "n_tokens", budget=256, n_shards=1).collect()
    }
    assert [(rows[i]["pack_id"], rows[i]["start_off"]) for i in range(5)] == [
        (0, 0),
        (0, 100),
        (0, 200),  # doc 2 starts at 200, spans into pack 1
        (1, 44),  # 300 -> pack 1, offset 44
        (1, 144),
    ]


def test_pack_sequences_shard_invariants(spark):
    df = spark.createDataFrame(
        [(i, 10 + i % 37) for i in range(500)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(df, "doc_id", "n_tokens", budget=128, n_shards=8)
    # every row keeps its payload; shards are 0..7; offsets < budget
    assert out.count() == 500
    bad = out.filter(
        (F.col("shard") < 0)
        | (F.col("shard") >= 8)
        | (F.col("start_off") < 0)
        | (F.col("start_off") >= 128)
        | (F.col("pack_id") < 0)
    ).count()
    assert bad == 0
    # within a shard, the absolute stream position is non-decreasing in
    # doc_id order (contiguous fill never goes backwards)
    pdf = out.orderBy("shard", "doc_id").toPandas()
    for _, grp in pdf.groupby("shard"):
        pos = (grp["pack_id"] * 128 + grp["start_off"]).to_numpy()
        assert (pos[1:] >= pos[:-1]).all()


def test_range_sorted_layout_has_disjoint_file_envelopes(spark, tmp_path):
    import pyarrow.parquet as pq

    df = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    path = str(tmp_path / "sorted")
    write_range_sorted_parquet(df, path, ["k"], n_files=8)
    files = sorted(glob.glob(f"{path}/*.parquet"))
    assert len(files) >= 4  # range partitioner may merge sparse ends
    envelopes = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        envelopes.append((min(mins), max(maxs)))
    envelopes.sort()
    for (lo1, hi1), (lo2, hi2) in zip(envelopes, envelopes[1:]):
        assert hi1 < lo2  # disjoint: a filter prunes whole files
    # and the filter itself reaches the scan
    plan = (
        spark.read.parquet(path)
        .filter(F.col("k") == 12345)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,12345)]" in plan


def test_compact_parquet_reduces_file_count_preserving_rows(spark, tmp_path):
    from batchprocessingetl_spark.sources.readers import compact_parquet

    path = str(tmp_path / "frag")
    # simulate many tiny incremental appends: 24 single-row-group files
    for i in range(24):
        spark.range(i * 100, (i + 1) * 100).withColumn(
            "v", F.col("id") * 2
        ).coalesce(1).write.mode("append").parquet(path)
    files_before = len(glob.glob(f"{path}/*.parquet"))
    assert files_before >= 24
    before = spark.read.parquet(path)
    n_rows, checksum = before.count(), before.agg(F.sum("v")).first()[0]

    # any URI scheme: the swap goes through the Hadoop FS API
    n_out = compact_parquet(spark, "file://" + path, target_file_bytes=1 << 30)
    files_after = len(glob.glob(f"{path}/*.parquet"))
    assert n_out == 1 and files_after == 1  # tiny dataset -> one file
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum("v")).first()[0] == checksum
    assert sorted(os.listdir(tmp_path)) == ["frag"]  # no staging debris


def test_compact_parquet_failed_write_leaves_original(spark, tmp_path, monkeypatch):
    from batchprocessingetl_spark.sources import readers

    path = str(tmp_path / "frag2")
    spark.range(0, 100).coalesce(1).write.parquet(path)

    # make the staged rewrite blow up before any swap happens
    class Boom(Exception):
        pass

    def fail_write(*a, **k):
        raise Boom()

    monkeypatch.setattr(
        "pyspark.sql.classic.dataframe.DataFrame.repartition", fail_write, raising=True
    )
    import pytest

    with pytest.raises(Boom):
        readers.compact_parquet(spark, path, target_file_bytes=1 << 30)
    monkeypatch.undo()
    assert spark.read.parquet(path).count() == 100  # original intact


def test_compact_parquet_adopts_snapshot_staged_before_crash(spark, tmp_path):
    """Crash window of the swap: the live dir was deleted after a
    complete staged write, before the rename. The next compaction
    adopts the staged snapshot instead of failing on a missing path."""
    from batchprocessingetl_spark.sources.readers import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(0, 100).repartition(3).write.parquet(path + ".staging")
    assert not os.path.exists(path)
    assert compact_parquet(spark, path, target_file_bytes=1 << 30) == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(100))
    assert sorted(os.listdir(tmp_path)) == ["frag"]


def test_chunk_passages_windows_and_overlap(spark):
    from batchprocessingetl_spark.operators.packing import chunk_passages

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "   ")], "doc_id long, text string")
    rows = chunk_passages(df, "doc_id", "text", chunk_tokens=4, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 10 tokens, stride 2 -> ceil(8/2)=4 passages
    p1 = sorted(by_doc[1], key=lambda r: r["passage_idx"])
    assert [r["passage"] for r in p1] == [
        "w0 w1 w2 w3",
        "w2 w3 w4 w5",
        "w4 w5 w6 w7",
        "w6 w7 w8 w9",
    ]
    # consecutive passages share exactly `overlap` tokens
    for a, b in zip(p1, p1[1:]):
        assert a["passage"].split()[-2:] == b["passage"].split()[:2]
    # short doc: one (possibly partial) passage; blank doc: no rows
    assert [r["passage"] for r in by_doc[2]] == ["a b"]
    assert by_doc[2][0]["n_passage_tokens"] == 2
    assert 3 not in by_doc
    # full coverage: union of passage tokens == original tokens, in order
    recon = p1[0]["passage"].split()
    for r in p1[1:]:
        recon += r["passage"].split()[2:]
    assert recon == text.split()


def test_chunk_passages_rejects_bad_overlap(spark):
    import pytest

    from batchprocessingetl_spark.operators.packing import chunk_passages

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_passages(df, "doc_id", "text", chunk_tokens=4, overlap=4)
