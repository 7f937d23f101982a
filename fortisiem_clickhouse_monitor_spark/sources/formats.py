"""Multi-format batch sources: CSV / JSON-lines / ORC readers with
explicit DDL schemas (tables.py's parquet readers instead infer each
file's schema once from its footer and memoize it).

The reference consumes JSON over HTTP (chStats.py:31-41); a production
deployment of this engine additionally meets CSV drops and ORC lakes.
Rules applied here, uniformly:

- NEVER ``inferSchema``: a schema scan doubles the read at 100 TB and
  silently drifts types between runs. Callers pass (or reuse) explicit
  DDL schemas.
- ``mode=FAILFAST``: a malformed row is a pipeline bug, not a value —
  fail loudly at the scan, don't materialize NULL-riddled frames.
  (Use ``permissive_with_quarantine`` when the source is known-dirty:
  bad rows land in a ``_corrupt`` column to route to a quarantine sink,
  the clean rows keep flowing.)
- Timestamps are parsed with an explicit pattern and the session's UTC
  zone, so every format agrees with the parquet readers byte-for-byte.

Column pruning and (for ORC) predicate pushdown work exactly as for
parquet; CSV/JSON only prune columns — another reason the columnar
formats stay the default and these readers are edge ingestion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import tune

TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def read_csv(
    spark: SparkSession, path: str, schema: str, header: bool = True
) -> DataFrame:
    tune(spark)
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "FAILFAST")
        .option("timestampFormat", TS_FORMAT)
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    tune(spark)
    return (
        spark.read.schema(schema)
        .option("mode", "FAILFAST")
        .option("timestampFormat", TS_FORMAT)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str, schema: str) -> DataFrame:
    tune(spark)
    return spark.read.schema(schema).orc(path)


def permissive_with_quarantine(
    spark: SparkSession, path: str, schema: str, fmt: str = "json"
) -> DataFrame:
    """Known-dirty ingestion: parse what parses, keep the raw text of
    what doesn't in ``_corrupt`` (route it to a quarantine sink; the
    clean rows continue). The returned frame has the caller's schema
    plus ``_corrupt STRING``."""
    tune(spark)
    reader = (
        spark.read.schema(schema + ", _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("timestampFormat", TS_FORMAT)
    )
    return reader.json(path) if fmt == "json" else reader.csv(path)
