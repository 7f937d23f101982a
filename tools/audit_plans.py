"""Physical-plan audit: for each registered query, inspect the
formatted plan for the scale-critical properties —

- parquet scans: PushedFilters present when the query filters a base
  table; ReadSchema narrower than the full table when it projects;
- joins: which strategy (BroadcastHashJoin vs SortMergeJoin vs
  ShuffledHashJoin vs BNLJ/cartesian);
- exchanges: count of shuffle Exchange nodes;
- WholeStageCodegen: whether the hot path is codegen'd;
- Python boundaries: ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas.

Usage: python tools/audit_plans.py [sf_dir] [query ...]
Prints one line per query: name, #exchanges, join kinds, scan notes,
python-boundary ops. Exit code 0 always (it's a report, not a gate).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fortisiem_clickhouse_monitor_spark import registry  # noqa: E402
from fortisiem_clickhouse_monitor_spark.session import get_spark  # noqa: E402
from fortisiem_clickhouse_monitor_spark.testing import formatted_plan  # noqa: E402

INTERESTING = {
    "BroadcastHashJoin": "BHJ",
    "SortMergeJoin": "SMJ",
    "ShuffledHashJoin": "SHJ",
    "BroadcastNestedLoopJoin": "BNLJ",
    "CartesianProduct": "CART",
}


def audit(name: str, plan: str) -> str:
    shuffles = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan))
    bcasts = len(re.findall(r"BroadcastExchange \(\d+\)", plan))
    # count detail-section nodes only ("(n) Scan parquet"); the tree
    # header repeats each scan once more.
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    joins = sorted(
        {tag for kw, tag in INTERESTING.items() if kw in plan}
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    n_pushed = sum(1 for p in pushed if p.strip())
    py_ops = sorted(
        {
            op
            for op in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")
            if op in plan
        }
    )
    flags = []
    if "CartesianProduct" in plan:
        flags.append("!CARTESIAN")
    if "BatchEvalPython" in plan:
        flags.append("!ROW_PYTHON_UDF")
    return (
        f"{name:38s} shuffles={shuffles:2d} bcast={bcasts} scans={scans} "
        f"joins={','.join(joins) or '-':8s} pushed_scans={n_pushed} "
        f"py={','.join(py_ops) or '-'} {' '.join(flags)}"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("fcm-audit")
    for name, q in sorted(registry.all_queries().items()):
        if only and name not in only:
            continue
        try:
            print(audit(name, formatted_plan(q.fn(spark, sf_dir))))
        except Exception as e:  # report, don't abort the sweep
            print(f"{name:38s} ERROR {type(e).__name__}: {str(e).splitlines()[0][:100]}")


if __name__ == "__main__":
    main()
