"""MERGE-style transactional upsert onto a parquet snapshot (VERDICT
r3 #6): the engine's one snapshot publish
(``sources/readers.py::publish_snapshot``, shared with compaction and
the streaming state folds) behind the familiar MERGE surface —

    merge_into(spark, target_path, source_df, on=["k"],
               when_matched="update", when_not_matched="insert")

The reference's curated layer rewrites whole tables per batch
(curated_layer.py:89-145); this gives the same publish step keyed
MERGE semantics with crash safety, without a table-format dependency.

Semantics (a deliberate, oracle-checkable subset of SQL MERGE):
  - ``when_matched``: "update" (target row replaced by the source
    row), "delete" (target row dropped), or None (target row kept).
    Source rows are whole-row actions — no column-level SET clauses;
    compose a projection on ``source_df`` for that.
  - ``when_not_matched``: "insert" (source rows without a target
    match are appended) or None (dropped).
  - Target rows with no source match are always carried unchanged.
  - ``source_df`` must be key-unique on ``on`` (checked — a MERGE
    with duplicate source keys is nondeterministic; SQL engines
    reject it at runtime too).

Crash safety — ``sources/readers.py::publish_snapshot``, not in-place
mutation: the merged snapshot is fully written to a staging dir beside
the live one, then the live dir is deleted and the staging dir renamed
into place, all through the Hadoop FileSystem API (any URI scheme). A
failure while writing (the only step reading data or running user
expressions) leaves the live snapshot untouched. A crash between the
delete and the rename leaves the complete merged snapshot staged; the
next ``merge_into`` adopts it before proceeding (``recover_staged_swap``
— roll forward, not back). Retrying the same MERGE after that crash is
safe for every clause combination but one: the source is key-unique
and whole-row, so re-applying it yields the same snapshot — except
``when_matched="delete"`` with ``when_not_matched="insert"``, a toggle
that no protocol makes retry-safe (a crash after the rename but before
the call returns is just as ambiguous).

Scale: the merge plan is 1-2 hash joins on the key (anti/semi joins
key on the key projection only, so wide payloads shuffle once) plus
the full snapshot rewrite that any format without row-level deletes
requires — the same cost envelope as the reference's overwrite
publishes, but keyed. Partition the target and filter both sides to
touched partitions to bound the rewrite at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from batchprocessingetl_spark.operators.scd2 import apply_scd1
from batchprocessingetl_spark.sources.readers import publish_snapshot, recover_staged_swap

_MATCHED = ("update", "delete", None)
_NOT_MATCHED = ("insert", None)


def merge_plan(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
) -> DataFrame:
    """The merged snapshot as a lazy DataFrame (the pure-plan half of
    :func:`merge_into`, reusable on frames that never touch disk)."""
    if when_matched not in _MATCHED:
        raise ValueError(f"when_matched must be one of {_MATCHED}")
    if when_not_matched not in _NOT_MATCHED:
        raise ValueError(f"when_not_matched must be one of {_NOT_MATCHED}")
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"column mismatch: target {sorted(target.columns)} "
            f"vs source {sorted(source.columns)}"
        )
    keys = source.select(*on)
    if when_matched == "update" and when_not_matched == "insert":
        # upsert fast path: ONE anti join (apply_scd1)
        return apply_scd1(source, target, list(on))
    parts = [target.join(keys, on, "left_anti")]  # unmatched target rows
    if when_matched == "update":
        parts.append(source.join(target.select(*on), on, "left_semi"))
    elif when_matched is None:
        parts.append(target.join(keys, on, "left_semi"))
    if when_not_matched == "insert":
        parts.append(source.join(target.select(*on), on, "left_anti"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
) -> int:
    """Run the MERGE against the parquet snapshot at ``target_path``
    and atomically publish the result (see module docstring for the
    swap protocol). Returns the merged snapshot's row count."""
    recover_staged_swap(spark, target_path)

    # key-uniqueness check on the source (nondeterministic MERGE guard)
    n_src = source.count()
    n_keys = source.select(*on).distinct().count()
    if n_src != n_keys:
        raise ValueError(
            f"source is not key-unique on {on}: {n_src} rows, {n_keys} keys"
        )

    target = spark.read.parquet(target_path)
    merged = merge_plan(target, source, on, when_matched, when_not_matched)
    publish_snapshot(spark, merged, target_path)
    return spark.read.parquet(target_path).count()
