"""Layout-writer tests: partition pruning actually prunes, and bucketed
joins actually avoid the shuffle — the two properties that make write
layout matter at 100 TB.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from fortisiem_clickhouse_monitor_spark.sources import tables, writers
from fortisiem_clickhouse_monitor_spark.testing import formatted_plan
from tests.conftest import SF_SMALL


def test_partitioned_write_prunes(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("part") / "events_by_day")
    ev = writers.with_day(tables.table(spark, SF_SMALL, "events"))
    writers.write_partitioned(ev, out, ["day"])

    back = spark.read.parquet(out)
    one_day = back.filter(F.col("day") == "2024-01-02")
    plan = formatted_plan(one_day)
    # partition filter must be applied at the file index, not post-scan
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    total = back.count()
    pruned = one_day.count()
    assert 0 < pruned < total


def test_bucketed_join_has_no_shuffle(spark):
    # managed tables land in the session's default warehouse
    # (<cwd>/spark-warehouse, gitignored); warehouse.dir is static conf.
    # The in-memory catalog forgets tables between sessions but leaves
    # their directories, so scrub the locations too.
    import shutil

    for t in ("orders_bkt", "lineitem_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    orders = tables.table(spark, SF_SMALL, "orders")
    li = tables.table(spark, SF_SMALL, "lineitem")
    writers.write_bucketed(orders, "orders_bkt", "o_orderkey", 4, "o_orderkey")
    writers.write_bucketed(li, "lineitem_bkt", "l_orderkey", 4, "l_orderkey")

    o_b = spark.table("orders_bkt")
    l_b = spark.table("lineitem_bkt")
    joined = l_b.join(
        o_b.hint("merge"), l_b["l_orderkey"] == o_b["o_orderkey"]
    ).select("l_orderkey", "o_totalprice", "l_quantity")
    plan = formatted_plan(joined)
    assert "SortMergeJoin" in plan
    # bucketed-on-key join: no shuffle Exchange on either side
    assert not re.search(r"(?<!Broadcast)Exchange \(\d+\)", plan), plan
    # sanity: same result as the unbucketed join
    expected = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).count()
    assert joined.count() == expected


def test_compact_controls_file_count(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cmp") / "events_compact")
    ev = tables.table(spark, SF_SMALL, "events")
    writers.compact(ev, out, target_files=3)
    import glob

    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 3
    assert spark.read.parquet(out).count() == ev.count()


def test_zorder_write_clusters_both_dimensions(spark, tmp_path_factory):
    """Z-ordered files must be selective on BOTH clustering columns:
    for a narrow range predicate on either dimension, only a minority
    of files' [min, max] stats overlap it — the property parquet
    row-group skipping exploits. A single-column sort gives this for
    one dimension and ~all-files overlap for the other."""
    import pyarrow.parquet as pq
    import glob as g

    out = str(tmp_path_factory.mktemp("zord") / "events_z")
    ev = tables.table(spark, SF_SMALL, "events")
    writers.write_zordered(ev, out, "value", "user_id", n_files=16)

    def overlap_fraction(path, col, lo, hi):
        files = [f for f in g.glob(f"{path}/*.parquet")]
        assert len(files) >= 8
        n_overlap = 0
        for f in files:
            md = pq.read_metadata(f)
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        st = c.statistics
                        fmin = st.min if fmin is None else min(fmin, st.min)
                        fmax = st.max if fmax is None else max(fmax, st.max)
            if fmin is not None and not (fmax < lo or fmin > hi):
                n_overlap += 1
        return n_overlap / len(files)

    vmin, vmax = ev.agg(F.min("value"), F.max("value")).first()
    umin, umax = ev.agg(F.min("user_id"), F.max("user_id")).first()
    # a ~10%-wide slice of each dimension
    v_lo = vmin + 0.45 * (vmax - vmin)
    v_hi = vmin + 0.55 * (vmax - vmin)
    u_lo = int(umin + 0.45 * (umax - umin))
    u_hi = int(umin + 0.55 * (umax - umin))
    z_value = overlap_fraction(out, "value", v_lo, v_hi)
    z_user = overlap_fraction(out, "user_id", u_lo, u_hi)

    # Baseline: single-column range sort on value — perfectly selective
    # on value, unselective on user_id.
    base = str(tmp_path_factory.mktemp("zord") / "events_value_sorted")
    (
        ev.repartitionByRange(16, "value")
        .sortWithinPartitions("value")
        .write.mode("overwrite")
        .parquet(base)
    )
    base_user = overlap_fraction(base, "user_id", u_lo, u_hi)

    # Z-order must stay selective on value AND beat the single-column
    # layout decisively on the second dimension.
    assert z_value <= 0.6
    assert z_user <= 0.6
    assert z_user < base_user - 0.2
