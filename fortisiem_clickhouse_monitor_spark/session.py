"""SparkSession factory + runtime tuning.

The engine targets a large multi-executor cluster; locally we run
``local[$SPARK_GRAFT_CPUS]``. Scale-relevant choices:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast-join demotion/promotion) so the same plan survives a
  100x scale-up without re-tuning static partition counts.
- Session timezone pinned to UTC: the reference's sentinel-timestamp
  semantics (chStats.py:99-103) are TZ-sensitive, and oracle comparison
  against DuckDB (naive timestamps) requires a fixed zone.
- Arrow enabled for the few Pandas-UDF paths (vector math fallbacks).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Confs that are settable at runtime on an externally-created session
#: (the driver hands us its own SparkSession in `__spark_entry__.py`).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Local SFs are tiny; at cluster scale AQE coalesces upward from this.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable on this deployment — keep going
    return spark


def _default_driver_memory() -> str:
    """min(24g, ~50% of host RAM): local-mode executors share the
    driver heap, and 32 concurrent tasks + broadcast builds +
    localCheckpoint blocks were brushing the old 8g ceiling on 10-20x
    sweep sessions (stage failures at localCheckpoint with GCLocker
    retry noise) — but a flat 24g default would let local-mode JVMs
    grow past physical RAM on smaller hosts (swap / OOM-killer), so
    the default is host-derived.  Override via SPARK_DRIVER_MEM."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        half_gib = max(1, int(total / (2 * 1024**3)))
    except (ValueError, OSError, AttributeError):
        half_gib = 8  # conservative when the host won't say
    return f"{min(24, half_gib)}g"


def free_local_checkpoint(obj) -> None:
    """Best-effort release of the persisted blocks behind a
    ``localCheckpoint(eager=True)`` DataFrame (or any nesting of them
    in tuples/lists/dicts).

    ``DataFrame.unpersist()`` is a no-op for local checkpoints — the
    blocks belong to the checkpointed RDD inside the plan's LogicalRDD
    node, not to the CacheManager — so toggling a session cache off
    used to leak one block set per cached entry for the session's
    lifetime (ADVICE r7).  The LogicalRDD exposes that RDD; unpersist
    it directly.  Best-effort by design: a non-LogicalRDD plan (cache
    populated some other way) is silently skipped rather than raising
    into the toggle path."""
    if isinstance(obj, (tuple, list)):
        for x in obj:
            free_local_checkpoint(x)
        return
    if isinstance(obj, dict):
        for x in obj.values():
            free_local_checkpoint(x)
        return
    try:
        plan = obj._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — releasing memory must never raise
        pass


#: (Spark app id, sf_dir, name) -> a shared subtree, filled while
#: `share_subtrees` is on.
_SUBTREES: dict[tuple[str, str, str], object] = {}
_SHARING = False


def share_subtrees(on: bool) -> None:
    """Opt a long-lived session into building each shared subtree
    (near-dup pairs, star forest, LPA labels, HyperBall registers,
    k-means assignment) ONCE per (session, sf_dir) and serving every
    downstream consumer from it — the production shape: a pipeline
    scores once, then fans out reports.

    OFF by default: the correctness gate and the scaling sweeps must
    execute each query's full tree (a sweep alpha fitted over a cached
    subtree would be a lie).  Turning it off releases every entry's
    checkpoint blocks, not just the refs (ADVICE r7)."""
    global _SHARING
    _SHARING = on
    if not on:
        free_local_checkpoint(_SUBTREES)
        _SUBTREES.clear()


def shared(spark: SparkSession, sf_dir: str, name: str, build):
    """``build()`` as is while sharing is off; while it is on, the
    value memoized per (app id, sf_dir, name).  A DataFrame is stored
    as an eager localCheckpoint; anything else (HyperBall's
    ``(sym, rounds)``, whose parts are already checkpoints) as built.
    Keyed on the app id because a session object's CPython id can be
    reused after GC."""
    if not _SHARING:
        return build()
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _SUBTREES:
        value = build()
        if isinstance(value, DataFrame):
            value = value.localCheckpoint(eager=True)
        _SUBTREES[key] = value
    return _SUBTREES[key]


def get_spark(app_name: str = "fcm-spark") -> SparkSession:
    """Build a local session mirroring the driver's environment."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Twice now (k-truss r5, effective-diameter r6 sweeps) a 10-20x
        # run died with "Retried waiting for GCLocker too often": G1's
        # default 2 retries gives up when Arrow/Netty JNI critical
        # sections pin regions during big allocation bursts (broadcast
        # build + localCheckpoint).  Raising the retry count is the
        # documented JDK-17 mitigation; it costs nothing when the
        # locker is uncontended.  local[.] mode: driver opts cover the
        # executors too.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions"
            " -XX:GCLockerRetryAllocationCount=100",
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
