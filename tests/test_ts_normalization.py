"""Regression tests for sources.tables.table() timestamp normalization —
the bug class that killed round 1's entire benchmark: events.ts arrives
differently depending on the parquet writer (TIMESTAMP(NANOS) → bigint
under nanosAsLong; micros without isAdjustedToUTC → TIMESTAMP_NTZ;
micros with UTC adjustment → TIMESTAMP), and every consumer must see
ONE type that unix_micros() accepts — on the first, schema-inferring
read and on every later read through the schema memo."""

from __future__ import annotations

import datetime
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from fortisiem_clickhouse_monitor_spark.sources import tables
from fortisiem_clickhouse_monitor_spark.sources.tables import table

from conftest import SF_SMALL

TS = datetime.datetime(2024, 1, 5, 12, 30, 45, 123456)


def _write_events(tmp_path, unit: str, tz: str | None) -> str:
    d = tmp_path / f"events_{unit}_{tz or 'naive'}"
    d.mkdir()
    t = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([TS], pa.timestamp(unit, tz=tz)),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(t, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "unit,tz",
    [("ns", None), ("us", None), ("us", "UTC")],
    ids=["nanos", "micros-ntz", "micros-utc"],
)
def test_events_ts_normalizes_to_timestamp(spark, tmp_path, unit, tz):
    sf_dir = _write_events(tmp_path, unit, tz)
    # session TZ is UTC, so the naive fixture value IS the UTC value
    expect_us = int(TS.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    # The first read infers the schema; the second declares the memoized one.
    for read in ("inferred", "memoized"):
        ev = table(spark, sf_dir, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp", (
            f"writer variant {unit}/{tz} must normalize to TIMESTAMP ({read})"
        )
        row = ev.select(
            F.unix_micros("ts").alias("us"), F.col("ts").alias("ts")
        ).collect()[0]
        assert row["us"] == expect_us, read
        assert row["ts"] == TS, read


def test_rewritten_file_invalidates_schema_memo(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": [0], "r_name": ["AFRICA"]}), str(path)
    )
    assert table(spark, str(tmp_path), "region").columns == [
        "r_regionkey",
        "r_name",
    ]
    pq.write_table(
        pa.table({"r_regionkey": [0], "r_name": ["AFRICA"], "r_comment": ["x"]}),
        str(path),
    )
    region = table(spark, str(tmp_path), "region")
    assert region.columns == ["r_regionkey", "r_name", "r_comment"]
    assert region.collect()[0]["r_comment"] == "x"


def _optimized_plan(df) -> str:
    """The optimized logical plan as JSON — every attribute with its type
    and nullability — with expression ids stripped."""
    plan = df._jdf.queryExecution().optimizedPlan().toJSON()
    return re.sub(r'"id":\d+', '"id":_', plan)


def test_memoized_schema_keeps_the_optimized_plan(spark):
    q8 = entrymod.queries()["tpch_q8_market_share"]
    tables._SCHEMAS.clear()
    inferred = _optimized_plan(q8(spark, SF_SMALL))
    assert tables._SCHEMAS, "the first build must fill the memo"
    memoized = _optimized_plan(q8(spark, SF_SMALL))
    assert memoized == inferred
