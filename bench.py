"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "sf": 0.1}

Each query is forced with a count() action (full plan execution, no
driver-side result materialization beyond the count). Session is the
engine default (AQE on, shuffle partitions = cores).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from batchprocessingetl_spark.session import get_spark
from batchprocessingetl_spark.workload import collect_extra_queries, collect_queries

# Headline set: the reference-workload analogues (Q1-Q4 shapes), the
# heaviest relational operators (window top-k, count-distinct), the
# pipeline composites, event analytics, and one of each north-star
# extension family (exact dedup, minhash near-dup, knn, exact pair
# GEMM). Same set as BENCH_r01 (for round-over-round comparability;
# q12 is no longer registered but stays benched) + q53 added in r2
# after its de-collect rewrite + q81 added in r3 (the measured-skew
# salted join, VERDICT r2 #4) + q94 added in r4 (q81's plain-join AQE
# twin — the salted-vs-AQE bake-off line, VERDICT r3 #7).
HEADLINE = (
    "q01_pricing_summary",
    "q02_revenue_by_nation_month",
    "q03_product_sales_in_year",
    "q04_turnover_by_region_brand",
    "q05_product_performance",
    "q11_top3_orders_per_customer",
    "q12_supplier_part_breadth",
    "q40_staging_clean",
    "q41_scd2_demo",
    "q20_hourly_event_rollup",
    "q21_sessionization",
    "q33_exact_dedup",
    "q37_minhash_near_dups",
    "q50_knn_bruteforce",
    "q53_embedding_similar_pairs",
    "q81_skewed_user_rollup",
    "q94_skewed_user_rollup_aqe",
    # Round-11 additions (VERDICT r10 #3): the engine's newest perf
    # stories, invisible to round-over-round tracking until now. The
    # original 17 rows above are unchanged for continuity.
    "q275_setcover_selection",       # exact greedy set-cover (bucketed shingle store)
    "q281_stochastic_setcover",      # partition-pruned stochastic set-cover (alpha 0.12 rework)
    "q312_matryoshka_rerank",        # 8-of-64-dim coarse pass + exact re-rank funnel
    "q313_binary_hamming_rerank",    # packed-sign-bit popcount shortlist + exact re-rank
    "q147_hybrid_retrieval_rrf",     # BM25 + dense RRF rank fusion
    # Round-13 additions (VERDICT r12 #5): round-over-round tracking
    # for the round-12 shelf. Earlier rows unchanged for continuity.
    "q345_ams_f2_sketch",            # AMS sketch vs exact F2 (one corpus agg + 16-row frames)
    "q346_ann_recall_audit",         # recall@10 of the sign-LSH cell path (exercises q335's candidates)
    "q368_littles_law_audit",        # day-sweep WIP integral (the highest-alpha r12 plan, 0.54)
)


def calibrate() -> float:
    """Fixed CPU-bound micro-task timed on the bench host (seconds,
    best of 3). Rounds r3->r4 showed uniform 1.0-1.7x per-query drift
    from host speed alone; dividing each round's totals by its
    calibration constant separates host drift from plan regressions
    when comparing BENCH_r{N}.json across rounds. The task (pure-JVM
    via a Spark-free Python loop would mismeasure the JVM; a pure-JVM
    spark job would fold in scheduler noise) is a single-threaded
    Python arithmetic loop — it tracks the same CPU clock the
    single-stage query work runs on."""
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 1103515245 + i) % 2147483648
        best = min(best, time.time() - t0)
    return round(best, 4)


def _latest_prev_bench() -> tuple[str, dict[str, float], float] | None:
    """(filename, per-query secs, calibration) from the newest
    BENCH_r{N}.json in the repo root that carries a calibration
    constant (r5 was the first). Lets each round's bench emit
    host-drift-corrected per-query deltas vs the last judged round —
    the signal that separates a plan regression (normalized ratio
    moves) from VM placement (raw secs move, ratio ~1).

    Never compare against the current (in-flight) round's own file:
    the driver lands BENCH_r{N}.json and CORRECTNESS_r{N}.json
    together at round end, so the current round
    is max(CORRECTNESS N)+1 and any BENCH_r{M} with M >= that round
    was written THIS round — comparing to it would emit ratio~1.0 and
    silently mask drift (ADVICE r6)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))

    def _round_nums(pattern: str) -> list[tuple[int, str]]:
        out = []
        for path in glob.glob(os.path.join(here, pattern)):
            m = re.search(r"_r(\d+)\.json$", path)
            if m:
                out.append((int(m.group(1)), path))
        return sorted(out)

    judged = _round_nums("CORRECTNESS_r*.json")
    current_round = (judged[-1][0] + 1) if judged else 0
    rounds = [(n, p) for n, p in _round_nums("BENCH_r*.json") if n < current_round]
    # newest PARSEABLE round wins: a round whose stdout tail the driver
    # could not reassemble lands with "parsed": null (r11 — the JSON
    # line outgrew the 2000-char tail capture), so walk backwards
    # instead of bailing on it (round 12: main() now keeps the stdout
    # line compact precisely so this stops happening)
    for _, path in reversed(rounds):
        try:
            with open(path) as f:
                doc = json.load(f)
            parsed = doc.get("parsed") or (doc if "queries" in doc else None)
            if not parsed:
                continue
            cal = parsed.get("calibration")
            qs = parsed.get("queries")
            if cal and qs:
                return os.path.basename(path), qs, float(cal)
        except (OSError, ValueError, KeyError):
            continue
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    queries = {**collect_queries(), **collect_extra_queries()}

    # one untimed pass over the largest scan absorbs JVM/codegen/reader
    # warmup so per-query numbers reflect steady-state execution
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # each query runs three times; report the fastest run. The first
    # execution of a plan shape pays whole-stage-codegen compilation
    # (~1-2s), a fixed driver-side cost that amortizes to nothing at
    # production scale — steady-state execution time is the
    # scalability-relevant number. Later runs skip it only while the
    # plan's classes stay in the codegen cache: at Spark's default of
    # 100 entries a query with more classes than that (q147) recompiled
    # on every run, hence session.CODEGEN_CACHE_ENTRIES, and
    # bench_full.json records the classes each query compiled in its
    # last run (0 in steady state). Best-of-3 (vs 2) also absorbs the
    # shared-host noise observed between rounds (single-run timings on
    # the same plan vary up to 4x with VM placement). Round 8 (VERDICT
    # r7 #4): queries whose best-of-3 lands under 2.5s get two extra
    # runs (best of 5) — BENCH_r07 showed normalized deltas up to 1.39
    # on UNCHANGED sub-1.5s queries, so min-of-3 was not damping
    # scheduler noise at that magnitude (and the first 5-run probe
    # still saw q37 at 1.9s moving 1.28x on 3 runs, hence 2.5s).
    cal_pre = calibrate()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    timings: dict[str, float] = {}
    compiled: dict[str, int] = {}
    for name in HEADLINE:
        runs = []
        while len(runs) < 3 or (len(runs) < 5 and min(runs) < 2.5):
            c0 = compiles.getCount()
            t0 = time.time()
            queries[name](spark, sf_dir).count()
            runs.append(time.time() - t0)
            compiled[name] = compiles.getCount() - c0
        timings[name] = round(min(runs), 3)
        print(f"# {name}: {timings[name]}s (runs: {[round(r,2) for r in runs]})", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # second probe AFTER the query loop: drift WITHIN the bench run is
    # visible as cal_pre vs cal_post divergence; normalization uses the
    # faster of the two (the closest estimate of the noise-free clock,
    # matching the min-of-runs query protocol)
    cal_post = calibrate()
    calibration = min(cal_pre, cal_post)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "n_queries": len(HEADLINE),
        "queries": timings,
        "sf": sf,
        # host-speed yardstick: compare value/calibration (and
        # per-query t/calibration) across rounds, not raw secs
        "calibration": calibration,
        "calibration_pre": cal_pre,
        "calibration_post": cal_post,
        "value_normalized": round(total / calibration, 2),
    }
    # Diagnostics (normalized per-query times + round-over-round
    # deltas) go to STDERR: the driver captures only the last 2000
    # chars of stdout, and round 11's fat JSON line overflowed that
    # window, landing as "parsed": null and losing the whole round's
    # numbers. The stdout line stays compact (and is asserted so).
    diag = {
        "queries_normalized": {
            k: round(v / calibration, 2) for k, v in timings.items()
        },
    }
    prev = _latest_prev_bench()
    if prev is not None:
        fname, pq, pcal = prev
        diag["normalized_delta_vs"] = fname
        # ratio of host-normalized per-query times: ~1.0 = flat after
        # removing host drift; >1 = genuinely slower plan/execution
        diag["normalized_delta"] = {
            k: round((v / calibration) / (pq[k] / pcal), 2)
            for k, v in timings.items()
            if k in pq and pq[k] > 0
        }
    print("# diagnostics: " + json.dumps(diag), file=sys.stderr)
    # canonical full artifact: always contains the per-query map even
    # when the stdout line overflows the driver's 2000-char window.
    # SPARK_GRAFT_BENCH_FULL lets a harness give each subprocess its
    # OWN artifact path (tools/env_ab.py does — a shared file would let
    # concurrent runs clobber each other); a failed write must never
    # cost the run its measurements, so it is best-effort.
    artifact = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"),
    )
    try:
        with open(artifact, "w") as fh:
            # classes janino compiled during each query's last timed run
            json.dump({**out, "codegen_classes_compiled_last_run": compiled}, fh)
    except OSError as exc:
        print(f"# bench_full.json write failed (non-fatal): {exc}", file=sys.stderr)
    line = json.dumps(out)
    if len(line) >= 1900:
        # never lose the round's numbers: overflow moves the per-query
        # map to stderr and re-serializes the (always small) summary —
        # an explicit branch, not an assert, so python -O can't disable
        # it and the measurement is emitted either way
        print("# queries (overflowed stdout line): " + json.dumps(out.pop("queries")), file=sys.stderr)
        line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
