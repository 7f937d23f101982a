"""Inline fixtures plan as JVM LocalRelations, not pickled-RDD scans.

``fixtures.spark_df`` goes through ``fixtures.local_df`` (a
``pyarrow.Table``), so the relation is a ``LocalRelation`` that Catalyst
can fold and size.  The rows and schema must be exactly those of the
list-built ``createDataFrame`` it replaces, and no monitoring job's
executed plan may scan an ``ExistingRDD``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from fortisiem_clickhouse_monitor_spark.__main__ import MODES
from fortisiem_clickhouse_monitor_spark.sources import fixtures
from fortisiem_clickhouse_monitor_spark.streaming import jobs

from conftest import SF_SMALL


@pytest.mark.parametrize("name", sorted(fixtures._ALL))
def test_fixture_is_local_relation_with_list_parity(spark, name):
    cols, rows = fixtures._ALL[name]
    df = fixtures.spark_df(spark, name)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    ref = spark.createDataFrame(rows, schema=cols)
    assert df.schema == ref.schema  # StructField equality covers nullable
    assert sorted(map(tuple, df.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )


def test_local_df_empty_rows_keep_schema(spark):
    df = fixtures.local_df(spark, [], "rank int, vec_id long, score double")
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<rank:int,vec_id:bigint,score:double>"


@pytest.mark.parametrize("mode", sorted(MODES))
def test_monitoring_job_scans_no_existing_rdd(spark, mode):
    qname, ptype = MODES[mode]
    framed = jobs.frame_syslog(entrymod.queries()[qname](spark, SF_SMALL), ptype)
    assert framed.collect()
    executed = framed._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in executed, f"{mode}: {executed}"
