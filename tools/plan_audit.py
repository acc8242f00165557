"""Generate docs/PLANS.md: the formatted physical plan of each declared
query (at sf0.1 by default), with the scale-relevant plan properties
extracted up front (pushed filters, read schema width, broadcast vs
shuffle joins, exchange count, whole-stage-codegen coverage).

The point (SURVEY.md §4 / README "Scale design"): at 100 TB the plan IS
the performance. This artifact makes plan quality reviewable and
regressions diffable — it is regenerated and committed whenever the
workload changes. Naming queries audits just those, e.g. to diff a few
plans before and after a change.

Usage: python tools/plan_audit.py [sf_dir] [query ...] > docs/PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from batchprocessingetl_spark.session import get_spark
from batchprocessingetl_spark.workload import collect_extra_queries, collect_queries

def _audited() -> tuple:
    """Every declared query, in q-number order — the audit is total
    (VERDICT r6 #3/#6): the bench set is a subset by construction
    (pinned by tests/test_plans.py), q40/q41 are back after the
    round-6 rotation dropped them, and the round-6 statistics family
    is covered. Streaming q61 audits its snapshot read-back plan;
    iterative queries audit the final-round plan (their loops run at
    plan-build time)."""
    names = {**collect_queries(), **collect_extra_queries()}
    return tuple(
        sorted(names, key=lambda n: int(re.match(r"q(\d+)", n).group(1)))
    )


AUDITED = _audited()


def _depth(line: str) -> int:
    """Tree depth of a physical-plan toString line = length of its
    branch-drawing prefix (spaces, ':', '+', '-'). Operator names never
    start with those characters."""
    return len(line) - len(line.lstrip(" :+-"))


def _window_is_global(line: str) -> bool:
    """True when a `Window [...]` plan line has NO partition spec.

    WindowExec prints `Window [exprs], [partitionSpec], [orderSpec]`;
    the partition list is omitted when empty, so a global window shows
    either `Window [exprs]` (unordered) or `Window [exprs], [order]`
    where every entry in the single trailing list carries ASC/DESC.
    """
    m = re.search(r"\bWindow (\[.*)$", line)
    if not m:
        return False
    parts = m.group(1).split("], [")
    if len(parts) >= 3:
        return False
    if len(parts) == 2:
        tail = parts[1]
        return " ASC" in tail or " DESC" in tail
    return True


# NOTE: `Scan ExistingRDD` is deliberately NOT a guard — localCheckpoint
# / barrier of ANY frame (including a fact-grain one) prints the same
# node as createDataFrame(list), and the two are indistinguishable in
# both the physical and logical plan strings (round-9 ADVICE). Driver-
# literal spines must be built via sources/readers.py::local_frame
# (prints LocalTableScan) or spark.range to count as bounded-by-construction.
_GUARD = re.compile(
    r"\b(?:(?:Hash|Sort|ObjectHash)Aggregate|TakeOrderedAndProject"
    r"|GlobalLimit|CollectLimit|LocalTableScan"
    r"|Range \()"
)
_JOIN = re.compile(
    r"\b(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
    r"|BroadcastNestedLoopJoin|CartesianProduct)\b"
)
_PLAN_ID = re.compile(r",?\s*\[plan_id=\d+\]")


def _children(lines: list[str], j: int) -> list[int]:
    """Line indexes of the DIRECT children of the node at lines[j].

    The physical-plan toString is a depth-first preorder where all
    direct children of a node print at one common depth (`:- ` /
    `+- ` at the same indentation); grandchildren are strictly
    deeper. So the children are exactly the subtree lines at the
    first depth encountered below the node."""
    out: list[int] = []
    d = _depth(lines[j])
    base: int | None = None
    for k in range(j + 1, len(lines)):
        if not lines[k].strip():
            break
        dk = _depth(lines[k])
        if dk <= d:
            break
        if base is None:
            base = dk
        if dk == base:
            out.append(k)
    return out


def _strip_node(line: str) -> str:
    """Drop the tree-drawing prefix, codegen `*(n) ` marker and plan_id
    so node descriptions can be compared across print sites."""
    body = line.lstrip(" :+-")
    body = re.sub(r"^\*\(\d+\) ", "", body)
    return _PLAN_ID.sub("", body).rstrip()


def _subtree_guarded(lines: list[str], j: int, visited: frozenset[int]) -> bool:
    """True iff a grain-collapsing guard appears at lines[j] itself or
    on the data-flow input path below it (see _chain_guarded)."""
    line = lines[j]
    if _GUARD.search(line):
        return True
    m = re.search(r"\bReusedExchange \[[^\]]*\], (Exchange .*)$", line)
    if m:
        # Resolve the reference: find the original Exchange node and
        # continue the walk below it. Unresolvable -> unguarded.
        target = _PLAN_ID.sub("", m.group(1)).rstrip()
        for k, cand in enumerate(lines):
            if k not in visited and k != j and _strip_node(cand) == target:
                return _chain_guarded(lines, k, visited | {k})
        return False
    kids = _children(lines, j)
    if _JOIN.search(line):
        if "CartesianProduct" in line or len(kids) < 2:
            return False
        if "BuildLeft" in line:
            return _subtree_guarded(lines, kids[1], visited | {kids[1]})
        if "BuildRight" in line:
            return _subtree_guarded(lines, kids[0], visited | {kids[0]})
        # No build marker (SortMergeJoin): EITHER input may carry the
        # fact grain through the probe — for dim_agg JOIN fact the
        # aggregate sits on the left while every fact row survives, so
        # the round-8 "left = streamed" assumption was a false-negative
        # generator (round-9 ADVICE). Conservative rule: require BOTH
        # input chains guarded.
        return all(
            _subtree_guarded(lines, k, visited | {k}) for k in kids[:2]
        )
    if not kids:
        return False
    return _subtree_guarded(lines, kids[0], visited | {kids[0]})


def _chain_guarded(lines: list[str], i: int, visited: frozenset[int]) -> bool:
    """True iff a grain-collapsing guard appears on the DATA-FLOW input
    path of the node at lines[i]: the unary chain below it, following
    each join into its streamed side (both sides when the join prints
    no Build marker — an aggregate on the build side bounds nothing,
    since every streamed row survives an inner/outer probe)."""
    kids = _children(lines, i)
    if not kids:
        return False
    return _subtree_guarded(lines, kids[0], visited | {kids[0]})


def unguarded_global_windows(plan: str) -> int:
    """Count empty-partition WindowExec nodes NOT sitting above a
    grain-collapsing aggregate (VERDICT r7 #3; tightened r9 per ADVICE).

    A global window serializes its whole input into one task, which is
    only acceptable on a frame whose cardinality a previous aggregate
    has collapsed to domain size (cents bins, distinct ranks, test
    ids). For each global Window node this walks its DATA-FLOW input
    path (the unary chain below it, following each join into its
    streamed side only): the window is guarded only if a
    HashAggregate / SortAggregate / ObjectHashAggregate collapses the
    grain on that path, OR a limit operator bounds the frame
    (TakeOrderedAndProject / GlobalLimit / CollectLimit — the IVF
    probe's top-k pools), OR the path's source is a driver-literal
    frame (LocalTableScan — e.g. q256's 16-row boundary spine — or a
    literal `Range` spine whose cardinality is a compile-time
    constant, e.g. q211/q214's 10-12 bin grids), bounded by
    construction. `Scan ExistingRDD` does NOT count: localCheckpoint /
    barrier of a fact-grain frame prints the same node as
    createDataFrame(list) and the two are indistinguishable (round-9
    ADVICE) — driver spines must use sources/readers.py::local_frame
    or spark.range instead. An aggregate on a
    join's BUILD side does not count — every streamed row survives
    the probe, so the build side bounds nothing (round-8 ADVICE
    false negative); a join printing NO build marker requires BOTH
    input chains guarded (round-9 ADVICE: in dim_agg JOIN fact the
    aggregate prints as the left child while fact grain survives the
    probe).
    A ReusedExchange on the chain is RESOLVED to its original Exchange
    node and the walk continues below that (unresolvable references
    count as unguarded — the second round-8 ADVICE false negative).
    Otherwise the window runs at fact grain — flagged.
    tests/test_plans.py asserts zero unguarded nodes across the full
    declared workload and that synthetic fact-grain global windows
    (including one hidden above a join) are caught.
    """
    lines = plan.splitlines()
    bad = 0
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow \[", line) or not _window_is_global(line):
            continue
        if not _chain_guarded(lines, i, frozenset({i})):
            bad += 1
    return bad


def count_global_windows(plan: str) -> int:
    return sum(
        1
        for line in plan.splitlines()
        if re.search(r"\bWindow \[", line) and _window_is_global(line)
    )


def summarize(plan: str) -> list[str]:
    facts = []
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    if pushed and any(p.strip() for p in pushed):
        facts.append(f"pushed filters reach the scan: {sum(bool(p.strip()) for p in pushed)}/{len(scans)} scans")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    if schemas:
        # count fields by name:type markers (commas inside decimal(p,s)
        # would overcount)
        widths = [s.count(":") for s in schemas if s]
        facts.append(f"column pruning: scan widths {widths} (cols read, not table width)")
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin")
    if n_bhj or n_smj:
        facts.append(f"joins: {n_bhj} broadcast-hash, {n_smj} sort-merge")
    n_ex = len(re.findall(r"Exchange (?:hash|range|Single)", plan))
    facts.append(f"exchanges (shuffles): {n_ex}")
    # AQE final plans mark codegen stages with "*(n)" operator prefixes
    n_wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
    facts.append(f"whole-stage-codegen spans: {n_wsc}")
    n_gw = count_global_windows(plan)
    if n_gw:
        n_bad = unguarded_global_windows(plan)
        facts.append(
            f"global (empty-partition) Window nodes: {n_gw}"
            + (
                f" — {n_bad} UNGUARDED (fact grain, fix me)"
                if n_bad
                else ", all above a grain-collapsing aggregate"
            )
        )
    return facts


# static plans for the audit: AQE off so WholeStageCodegen spans and
# join choices are visible in toString (at runtime AQE only improves on
# this picture: skew splitting, partition coalescing, SMJ->BHJ);
# untruncated metadata so ReadSchema/PushedFilters are parseable
AUDIT_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.maxMetadataStringLength": "2000",
}


def audit(spark, sf_dir: str, names) -> None:
    """Print the audit of ``names`` to stdout under AUDIT_CONF; the
    session's own values are restored afterwards."""
    queries = {**collect_queries(), **collect_extra_queries()}
    saved = {k: spark.conf.get(k) for k in AUDIT_CONF}
    for k, v in AUDIT_CONF.items():
        spark.conf.set(k, v)
    try:
        print("# Physical-plan audit (generated by tools/plan_audit.py)")
        print()
        print(f"Declared queries at `{sf_dir}` — static physical plans (AQE")
        print("disabled for display only); see the tool docstring.")
        for name in names:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            print(f"\n## {name}\n")
            for f in summarize(plan):
                print(f"- {f}")
            print("\n```")
            print(plan.rstrip())
            print("```")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def parse_args(args: list[str]) -> tuple[str, tuple]:
    """``[sf_dir] [query ...]`` -> (sf_dir, names); no names audits
    every declared query."""
    args = list(args)
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    unknown = sorted(set(args) - set(AUDITED))
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    return sf_dir, tuple(args) or AUDITED


def main() -> None:
    sf_dir, names = parse_args(sys.argv[1:])
    audit(get_spark("plan_audit"), sf_dir, names)


if __name__ == "__main__":
    main()
