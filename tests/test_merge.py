"""MERGE-style transactional upsert (operators/merge.py): semantics of
every when_matched/when_not_matched combination, the snapshot-publish
crash contract (a failed write never touches the live snapshot; a
crash between the swap's delete and rename is rolled forward by the
next merge), URI-scheme safety, and the source key-uniqueness guard."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from batchprocessingetl_spark.operators.merge import merge_into, merge_plan


def _frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    source = spark.createDataFrame(
        [(2, "B", 200.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    return target, source


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_plan_all_clause_combinations(spark):
    target, source = _frames(spark)
    # update + insert (upsert): source wins for 2, 4 inserted
    assert _rows(merge_plan(target, source, ["k"])) == [
        (1, "a", 10.0), (2, "B", 200.0), (3, "c", 30.0), (4, "d", 40.0),
    ]
    # update only: no insert of 4
    assert _rows(merge_plan(target, source, ["k"], "update", None)) == [
        (1, "a", 10.0), (2, "B", 200.0), (3, "c", 30.0),
    ]
    # delete + insert: 2 dropped, 4 inserted
    assert _rows(merge_plan(target, source, ["k"], "delete", "insert")) == [
        (1, "a", 10.0), (3, "c", 30.0), (4, "d", 40.0),
    ]
    # delete only (anti-join semantics)
    assert _rows(merge_plan(target, source, ["k"], "delete", None)) == [
        (1, "a", 10.0), (3, "c", 30.0),
    ]
    # keep matched + insert (insert-if-absent)
    assert _rows(merge_plan(target, source, ["k"], None, "insert")) == [
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0),
    ]
    # no-op clauses = target unchanged
    assert _rows(merge_plan(target, source, ["k"], None, None)) == _rows(target)
    with pytest.raises(ValueError, match="when_matched"):
        merge_plan(target, source, ["k"], "upsert", None)
    with pytest.raises(ValueError, match="column mismatch"):
        merge_plan(target, source.drop("v"), ["k"])


def test_merge_into_publishes_atomically(spark, tmp_path):
    target, source = _frames(spark)
    path = str(tmp_path / "t")
    target.write.parquet(path)
    n = merge_into(spark, "file://" + path, source, ["k"])  # any URI scheme
    assert n == 4
    assert _rows(spark.read.parquet(path)) == [
        (1, "a", 10.0), (2, "B", 200.0), (3, "c", 30.0), (4, "d", 40.0),
    ]
    # no swap debris
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_failed_staged_write_leaves_snapshot_intact(spark, tmp_path):
    target, _ = _frames(spark)
    path = str(tmp_path / "t")
    target.write.parquet(path)
    # a source whose evaluation fails mid-write (assert_true throws on
    # the executor during the staged write, before any rename)
    bad = target.withColumn("v", F.assert_true(F.col("k") < 0).cast("double") + 1)
    with pytest.raises(Exception):
        merge_into(spark, path, bad, ["k"])
    assert _rows(spark.read.parquet(path)) == _rows(target)  # untouched
    # and a retry with a good source succeeds despite the stale tmp
    _, source = _frames(spark)
    merge_into(spark, path, source, ["k"])
    assert len(_rows(spark.read.parquet(path))) == 4
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_crash_between_swap_renames_is_recoverable(spark, tmp_path):
    """Simulate the narrowest crash window: the merged snapshot was
    fully staged and the live snapshot deleted, but the process died
    before the rename. The next merge_into must first adopt the staged
    snapshot (roll forward) and then complete against it."""
    target, source = _frames(spark)
    path = str(tmp_path / "t")
    # manufacture the mid-swap state: staged write complete, live gone
    merge_plan(target, source, ["k"]).write.parquet(path + ".staging")
    assert not os.path.exists(path)
    # the retried MERGE (plus one new key) completes on top of the
    # adopted snapshot; re-applying the source rows changes nothing
    more = source.unionByName(
        spark.createDataFrame([(5, "e", 50.0)], "k long, name string, v double")
    )
    assert merge_into(spark, path, more, ["k"]) == 5
    assert _rows(spark.read.parquet(path)) == [
        (1, "a", 10.0), (2, "B", 200.0), (3, "c", 30.0), (4, "d", 40.0), (5, "e", 50.0),
    ]
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_duplicate_source_keys_rejected(spark, tmp_path):
    target, _ = _frames(spark)
    path = str(tmp_path / "t")
    target.write.parquet(path)
    dup = spark.createDataFrame(
        [(2, "B", 1.0), (2, "C", 2.0)], "k long, name string, v double"
    )
    with pytest.raises(ValueError, match="key-unique"):
        merge_into(spark, path, dup, ["k"])
    assert _rows(spark.read.parquet(path)) == _rows(target)
