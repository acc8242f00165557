"""Iteration barriers for iterative DataFrame algorithms.

Every iterative operator (connected components, PageRank) must
materialize + lineage-truncate its per-round state, or the lazy plan
grows with the iteration count (the classic iterative-algorithm trap).
Two barrier flavors, chosen by the caller:

- ``localCheckpoint`` (default): blocks stored on executors. Fast —
  no external write — but a LOST EXECUTOR invalidates the truncated
  RDD and fails the job mid-iteration. Correct choice for local mode
  and short-lived jobs.
- reliable ``checkpoint`` into ``checkpoint_dir``: blocks written to a
  fault-tolerant store (HDFS/S3/local dir). Survives executor loss —
  the only safe barrier for 100 TB-scale multi-hour iterative runs on
  a preemptible cluster. Costs one distributed write per round.

Flip to reliable when (executors can be lost) x (a round is expensive
to redo from source) — i.e. any production cluster run at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def barrier(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Materialize ``df`` and truncate its lineage. With
    ``checkpoint_dir`` None, an executor-local checkpoint; otherwise a
    reliable checkpoint into that directory (set once per
    SparkContext; later calls with a different dir re-point it)."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    # Spark never deletes reliable checkpoint data by default, so a
    # long iterative run accumulates one full state snapshot per round
    # in the fault-tolerant store unless
    # spark.cleaner.referenceTracking.cleanCheckpoints=true is set AT
    # CONTEXT START (the ContextCleaner captures it then — a runtime
    # set is a no-op). session.py::get_spark sets it; sessions built
    # elsewhere must either set it too or remove checkpoint_dir after
    # the iterative run. The final round's snapshot always outlives
    # the run (its RDD stays referenced), so deleting checkpoint_dir
    # when the results have been consumed is good hygiene either way.
    # setCheckpointDir mints a fresh UUID subdir per call; re-point only
    # when the requested dir actually changes (tracked Python-side).
    if getattr(sc, "_bpetl_checkpoint_dir", None) != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
        sc._bpetl_checkpoint_dir = checkpoint_dir
    return df.checkpoint(eager=True)
