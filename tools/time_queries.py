"""Ad-hoc per-query timer: ``python tools/time_queries.py name [name ...]``.

Times each named registered query at ``$SPARK_GRAFT_SF_DIR`` (default
sf0.1) with one warmup pass then best-of-3, using the same noop-sink
materialization as bench.py — for iterating on a single query's plan
without paying a full-registry bench run.

``--caches`` as the first arg turns on the session-shared subtrees as
bench.py does (``session.share_subtrees``), so a query that rides a
shared subtree in the bench is timed under the bench's conditions
instead of paying the full fresh subtree here.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from fortisiem_clickhouse_monitor_spark.session import (  # noqa: E402
    get_spark,
    share_subtrees,
)


def materialize(df) -> None:
    try:
        df.write.format("noop").mode("overwrite").save()
    except Exception:
        df.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark("fcm-time")
    if names and names[0] == "--caches":
        names = names[1:]
        # bench.py's production shape (build each shared subtree once,
        # fan out); correctness gates and sweeps never turn it on.
        share_subtrees(True)
    qs = entrymod.queries()
    for name in names:
        materialize(qs[name](spark, sf_dir))  # warmup
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            best = min(best, time.time() - t0)
        print(f"{name:45s} {best:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
