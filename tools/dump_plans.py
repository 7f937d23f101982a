"""Dump normalized ``explain("formatted")`` text of queries to plans/<tag>/.

Usage:  python tools/dump_plans.py <tag> <suffix> [name ...]
        python tools/dump_plans.py r08 before graph_ktruss_edges
        SPARK_GRAFT_SF_DIR=<sf dir> python tools/dump_plans.py all before

Writes plans/<tag>/<name>_<suffix>.txt — plan evidence a reader can
diff against the code without running Spark.  With no query names it
dumps every registered query.  The text goes through
``testing.normalize_plan``, so two dumps of an unchanged plan are
byte-identical across processes and ``diff -r`` of two dump directories
is a plan-identity check.  Eager localCheckpoints inside a query run
real jobs during plan construction; the dumped plan is the final
consumer plan over those checkpoint scans, which is exactly what the
timed run executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from fortisiem_clickhouse_monitor_spark.session import get_spark  # noqa: E402
from fortisiem_clickhouse_monitor_spark.testing import (  # noqa: E402
    formatted_plan,
    normalize_plan,
)


def main() -> None:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("fcm-plans")
    qs = entrymod.queries()
    for name in names or sorted(qs):
        text = normalize_plan(formatted_plan(qs[name](spark, sf_dir)))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
