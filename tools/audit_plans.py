"""Physical-plan audit: run every driver query's plan through a checklist
of scale anti-patterns and print one line per query.

Checks (executed plan, AQE final not required):
  CARTESIAN   CartesianProduct / BroadcastNestedLoopJoin anywhere
  ROWPYTHON   row-at-a-time BatchEvalPython (Arrow-less Python UDF)
  GLOBALSORT  a global Sort that is not under a TakeOrderedAndProject
              and not the query's own final output ordering
  NOPARTIAL   shuffle-before-aggregate without a partial_ aggregate
              (map-side combine missing)

Usage: python tools/audit_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# nodes that may legitimately sit ABOVE the query's final output sort
# without invalidating "this sort IS the result ordering": they preserve
# row order (or only truncate it)
_ORDER_PRESERVING = (
    "AdaptiveSparkPlan",
    "ResultQueryStage",
    "Project",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "Filter",
)


def _art_depth(line: str) -> int:
    """Tree depth of a plan line: Spark's ASCII art adds exactly 3
    columns per level (':- ', '+- ', ':  ', '   ')."""
    m = re.match(r"^[|\s:+-]*", line)
    return len(m.group(0)) // 3


def _strip_tree_art(line: str) -> str:
    s = re.sub(r"^[|\s:+-]*", "", line)
    return re.sub(r"^\*\(\d+\)\s*", "", s)  # codegen span marker "*(3) "


def _has_mid_plan_global_sort(plan: str) -> bool:
    """True when a GLOBAL Sort (range-shuffled total order, 'Sort [...],
    true') appears mid-plan: every node above it must be order-preserving,
    otherwise the full sort's output ordering is destroyed by a later
    exchange/join/aggregate and the range shuffle was wasted work at
    scale. The query's own final output ordering (only order-preserving
    nodes above) is fine; TakeOrderedAndProject never prints a Sort node."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"Sort \[.*\], true, ", _strip_tree_art(line)):
            continue
        for above in lines[:i]:
            node = _strip_tree_art(above)
            if not node or node.startswith("== "):
                continue
            if not node.startswith(_ORDER_PRESERVING):
                return True  # something order-destroying sits above
    return False


def _is_scalar_broadcast_cross(lines: list, i: int) -> bool:
    """A BroadcastNestedLoopJoin whose build side is a broadcast SCALAR
    aggregate (IdentityBroadcastMode over HashAggregate(keys=[])) is the
    standard attach-a-global-total idiom, not an accidental cartesian:
    the broadcast side is exactly one row, so the 'cross' multiplies by
    1. Detected by the build-side pattern within the next few lines."""
    if "BuildRight, Cross" not in lines[i]:
        return False
    # Walk the TREE, not the flat text: the join's two direct children
    # print at art depth parent+1; the build (right) side is the LAST
    # direct child. A flat forward-scan would credit this join with a
    # scalar broadcast found anywhere inside its LEFT subtree — hiding a
    # real accidental cartesian whose left input merely contains a
    # benign one.
    d = _art_depth(lines[i])
    children = []
    for j in range(i + 1, len(lines)):
        cd = _art_depth(lines[j])
        if cd <= d:
            break  # left the join's subtree
        if cd == d + 1:
            children.append(j)
    if len(children) < 2:
        return False
    build = children[-1]
    if "BroadcastExchange IdentityBroadcastMode" not in lines[build]:
        return False
    nxt = " ".join(lines[build + 1 : build + 3])
    return "HashAggregate(keys=[]" in nxt


def audit(plan: str) -> list:
    flags = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "CartesianProduct" in line or (
            "BroadcastNestedLoopJoin" in line
            and not _is_scalar_broadcast_cross(lines, i)
        ):
            flags.append("CARTESIAN")
            break
    if "BatchEvalPython" in plan:
        flags.append("ROWPYTHON")
    if _has_mid_plan_global_sort(plan):
        flags.append("GLOBALSORT")
    if re.search(r"HashAggregate\(keys=\[[^\]]+\], functions=\[(?!partial_)\w", plan):
        # a final aggregate exists; fine only if a partial_ pair exists too
        if "partial_" not in plan and "Exchange" in plan:
            flags.append("NOPARTIAL")
    return flags


def _selftest() -> None:
    final_sort = """== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=false
+- Sort [c_custkey#1L ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(c_custkey#1L ASC NULLS FIRST, 8)
      +- Filter (c_acctbal#2 > 1000.0)
         +- BatchScan xml-graft[...]"""
    assert audit(final_sort) == [], audit(final_sort)

    mid_sort = """== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[partial_count(1)])
   +- Exchange hashpartitioning(k#1, 8)
      +- Sort [v#2 ASC NULLS FIRST], true, 0
         +- Exchange rangepartitioning(v#2 ASC NULLS FIRST, 8)
            +- BatchScan xml-graft[...]"""
    assert audit(mid_sort) == ["GLOBALSORT"], audit(mid_sort)

    local_sort_window = """== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=false
+- Window [rank() ...], [n#1], [b#2 DESC]
   +- Sort [n#1 ASC NULLS FIRST, b#2 DESC NULLS LAST], false, 0
      +- Exchange hashpartitioning(n#1, 8)
         +- BatchScan xml-graft[...]"""
    assert audit(local_sort_window) == [], audit(local_sort_window)
    print("selftest ok")


# Queries whose CARTESIAN flag is the algorithm, not an accident. The
# waiver is per-query and names its justification; any OTHER flag on
# these queries still fails the audit.
INTENDED_CARTESIAN = {
    # k-NN JOIN: the query side is a bounded broadcast batch (thousands
    # of vectors vs a 100 TB corpus); the broadcast nested-loop join IS
    # the scoring pass, and the corpus is scanned exactly once.
    "ann_knn_join": "broadcast k-NN scoring pass over a bounded query batch",
    # same knn_join engine fed by hash_embed vectors (3 query docs)
    "text_hash_knn": "broadcast k-NN scoring pass over a bounded query batch",
}


def main() -> None:
    if "--selftest" in sys.argv:
        _selftest()
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    qs = em.queries()
    names = sys.argv[2:] or list(qs)
    bad = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"ERR   {name}: {exc}")
            bad += 1
            continue
        flags = audit(plan)
        waived = ""
        if flags == ["CARTESIAN"] and name in INTENDED_CARTESIAN:
            flags = []
            waived = f" (cartesian waived: {INTENDED_CARTESIAN[name]})"
        # UNIQUE exchanges, deduped by plan_id: the executed-plan print
        # repeats a cached subtree's exchanges across AQE sections, so a
        # raw substring count double-counts (events_asof_bucketed: 12 raw
        # vs 7 unique). Same method as the pinned budget test
        # (tests/test_plan_hygiene.py test_asof_bucketed_exchange_budget).
        import re as _re

        ex_ids: dict = {}
        raw_ex = 0
        for m in _re.finditer(
            r"Exchange (?:hash|range)partitioning[^\n]*", plan
        ):
            raw_ex += 1
            pid = _re.search(r"\[plan_id=(\d+)\]", m.group(0))
            ex_ids[pid.group(1) if pid else f"line{raw_ex}:{m.group(0)}"] = 1
        n_exchanges = len(ex_ids)
        # read_xml scans print as their mapInArrow function, format()
        # reads as a data-source BatchScan
        n_scans = plan.count("MapInArrow xml_graft_scan") + plan.count(
            "BatchScan xml-graft"
        )
        status = "FLAG" if flags else "ok"
        if flags:
            bad += 1
        dup_note = f" (raw={raw_ex})" if raw_ex != n_exchanges else ""
        print(
            f"{status:5} {name}: exchanges={n_exchanges}{dup_note} "
            f"xml_scans={n_scans}"
            + (f" {','.join(flags)}" if flags else "")
            + waived
        )
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
