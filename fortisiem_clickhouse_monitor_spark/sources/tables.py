"""Parquet readers for the driver-supplied tables (TESTDATA.md).

The reference's sources are HTTP/TCP/Redis fan-outs (chStats.py:31-60,
79); here every source is a columnar parquet scan so Catalyst gets
predicate pushdown + column pruning for free.

Schemas are resolved once per file, not on every read (SURVEY.md §1.2
asks for fixed schemas). The first read of a file infers its schema
from the parquet footer; ``_SCHEMAS`` keeps that ``StructType`` keyed
by (Spark application id, path) and stamped with the file's
(st_mtime_ns, st_size). Every later read of the unchanged file
declares the memoized schema and skips footer inference (measured on a
4-core VM at sf0.01: 70-90 ms a read inferred, about 12 ms declared).
The memo holds catalog metadata only: files are still listed and
scanned on every read, and a rewritten file changes its stamp, so its
schema is inferred again. Paths ``os.stat`` cannot see (remote URIs)
and directories (whose stamp misses an in-place part-file rewrite) are
inferred on every read.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: (application id, path) -> ((st_mtime_ns, st_size), StructType)
_SCHEMAS: dict[tuple[str, str], tuple[tuple[int, int], StructType]] = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, declaring the schema the first read
    of this unchanged file inferred (module docstring)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table; applies runtime tuning (UTC TZ, AQE)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    tune(spark)
    if name == "events":
        # The driver's events.ts is parquet TIMESTAMP(NANOS), which Spark 4
        # rejects outright; read it as raw nanos and truncate to micros
        # (exactly what DuckDB does on read, so oracle values agree).
        # Test-injected events tables carry a plain TIMESTAMP — only
        # rebase when the column actually arrived as nanos (long).
        # A memoized ``ts bigint`` schema needs nanosAsLong as well.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = _read(spark, f"{sf_dir}/{name}.parquet")
        ts_type = dict(raw.dtypes).get("ts")
        if ts_type == "bigint":
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # Parquet timestamps without isAdjustedToUTC surface as
            # TIMESTAMP_NTZ, which functions like unix_micros() reject.
            # The session TZ is pinned UTC (session.py), so this cast is
            # value-preserving; every consumer sees one type: TIMESTAMP.
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    return _read(spark, f"{sf_dir}/{name}.parquet")


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [table(spark, sf_dir, n) for n in names]


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition on ``cols`` with an EXPLICIT partition count.

    ``repartition(cols)`` alone lets AQE coalesce the exchange by its
    *byte* size — a few MB of compact document text collapses to one
    partition, and the expensive downstream work (tokenize/shingle/
    explode, which multiplies those bytes 10-50x) then runs in a single
    task.  Pinning the count to the cluster's default parallelism keeps
    CPU-bound post-shuffle work spread across all cores while still
    clustering rows by the key so downstream group-bys reuse the
    exchange."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *[F.col(c) for c in cols])


def bind(df: DataFrame, **exprs) -> DataFrame:
    """Materialize computed columns as REAL attributes behind a Generate
    barrier (explode of a one-element array), so CollapseProject cannot
    inline the expression into downstream higher-order-function lambdas.

    Why this exists: Catalyst collapses adjacent Projects by
    substituting expressions into their use sites. When a HOF lambda
    body references the substituted expression, it re-evaluates it on
    EVERY lambda invocation — a regex-split token array referenced from
    a sliding-window ``slice`` is re-split once per window (O(windows x
    split) instead of one split), and a MinHash signature whose 16
    permutations each reference the shingle-hash array re-hashes every
    shingle 16x. A Generate's output is an attribute, not an
    expression, so everything downstream reads the materialized value
    exactly once per row.

    Cost: one extra operator per call — NO exchange, partitioning and
    ordering preserved, works identically on batch and streaming
    frames. At any scale the plan stays scan -> generate -> map.

    Measured (sf0.1, local[32]): 8-token window fingerprints 4.9 s ->
    0.28 s; 3-token shingle explode 0.40 s -> 0.23 s.

    CALLER CONTRACT — never alias a select output with the same name as
    a bound column that sibling expressions still reference: Spark 4's
    lateral-column-alias resolution lets the output alias SHADOW the
    input attribute, silently feeding the siblings the aliased value
    (e.g. ``select(round(scale, 6).alias("scale"), f(col("scale")))``
    hands f the ROUNDED scale). Bind under a distinct name instead.
    """
    s = F.struct(*[e.alias(k) for k, e in exprs.items()])
    bound = df.select("*", F.explode(F.array(s)).alias("_bound"))
    return bound.select(
        *df.columns, *[F.col(f"_bound.{k}").alias(k) for k in exprs]
    )


def fanout(df: DataFrame, *cols: str) -> DataFrame:
    """Conditionally repartition CPU-heavy narrow work across all cores.

    A single small parquet file (or single row group) gives the scan ONE
    partition, so per-row higher-order work (tokenize / shingle /
    per-element vector math) serializes onto one core no matter how wide
    the cluster is. When the scan's natural parallelism already meets
    the cluster's — the normal case at real scale, where file count x
    row groups >> cores — this is a NO-OP: no exchange is added and the
    plan stays a pure scan->map. Only the starved-scan case pays the
    (tiny: the compact pre-explosion input) shuffle.

    With key columns, hash-partitions on them so a downstream groupBy
    on the same key reuses the exchange; without, round-robins."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    if cols:
        return df.repartition(p, *[F.col(c) for c in cols])
    return df.repartition(p)
