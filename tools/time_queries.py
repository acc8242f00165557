"""Time named queries best-of-N in one session (quick iteration tool).

Usage: python tools/time_queries.py [n_runs] q_a [q_b ...]
n_runs defaults to DEFAULT_RUNS when the first argument is not an
integer.
Same timing action as bench.py (count()), same session factory; for
decisions use interleaved full-bench A/Bs (tools/env_ab.py) — this is
the fast inner loop only. ``time_runs`` is also the timing loop of
tools/bench_scale.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from batchprocessingetl_spark.session import get_spark
from batchprocessingetl_spark.workload import collect_extra_queries, collect_queries


DEFAULT_RUNS = 3


def time_runs(spark, queries, sf_dir: str, names, n_runs: int) -> dict[str, list[float]]:
    """Wall seconds of each of ``n_runs`` build + ``count()`` runs per
    query, one progress line per query on stderr."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out: dict[str, list[float]] = {}
    for name in names:
        runs = []
        for _ in range(n_runs):
            t0 = time.time()
            queries[name](spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
        out[name] = runs
        print(f"# {tag} {name}: {min(runs)}s {runs}", file=sys.stderr)
    return out


def main() -> None:
    names = sys.argv[1:]
    n = DEFAULT_RUNS
    if names and names[0].isdigit():
        n, names = int(names[0]), names[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-queries")
    queries = {**collect_queries(), **collect_extra_queries()}
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warm
    runs = time_runs(spark, queries, sf_dir, names, n)
    print(json.dumps({q: {"best": min(r), "runs": r} for q, r in runs.items()}))


if __name__ == "__main__":
    main()
