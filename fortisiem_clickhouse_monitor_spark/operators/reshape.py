"""Nest / un-nest reshapes (SURVEY.md §2.9) and the map-aggregation
battery (§2.4 A5-A7) — the reference's signature dataflow: rows →
array-of-struct documents (chStats.py:85-123) and back to flattened
events (chStats.py:405-437).

Oracle strategy: nested results are serialized with ``to_json`` —
Spark and DuckDB both emit compact JSON with insertion-ordered struct
keys, so the documents hash-compare as strings (fields kept
integral/string to avoid float-format drift). Arrays are always
``sort_array``-ed before serialization because ``collect_list`` order
is non-deterministic under parallel aggregation (SURVEY §7.3 risk 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import fixtures
from ..sources.tables import table


@register(
    "nest_items_per_order",
    oracle="""
    SELECT l_orderkey AS o_orderkey,
           to_json(list_sort(list(struct_pack(ln := l_linenumber,
                                              qty := CAST(l_quantity AS INTEGER)))))
             AS items_json,
           count(*) AS n_items
    FROM lineitem
    WHERE l_orderkey < 1000
    GROUP BY l_orderkey
    """,
    tags=("N1", "A5"),
)
def nest_items_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 nest: rows → array-of-struct per group (`replicas` per node,
    chStats.py:85-109), as groupBy + collect_list(struct). One shuffle on
    the group key; the nested doc is materialized only at the sink."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.to_json(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").cast("int").alias("qty"),
                    )
                )
            )
        ).alias("items_json"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "explode_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
    tags=("N2",),
)
def explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 explode: nested doc → one event per leaf with ancestors
    denormalized (handle_dataHealth/handle_replicas, chStats.py:405-422).
    Built as nest-then-explode so the oracle (the flat projection) proves
    the round-trip is lossless."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_quantity").cast("int").alias("qty"),
            )
        ).alias("items")
    )
    return nested.select(
        "l_orderkey", F.explode("items").alias("item")
    ).select(
        "l_orderkey",
        F.col("item.ln").alias("l_linenumber"),
        F.col("item.qty").alias("qty"),
    )


@register(
    "map_active_replicas",
    oracle=f"""
    SELECT node_ip, tbl,
           string_agg(replica, ',' ORDER BY replica)
             FILTER (WHERE active = 1) AS active_replicas,
           count(*) FILTER (WHERE active = 1) > 0 AS any_active
    FROM {fixtures.values_sql("replica_active")}
    GROUP BY node_ip, tbl
    """,
    tags=("A6", "A7"),
)
def map_active_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7: `activeReplicas` — keys of replica_is_active where v==1,
    sorted, comma-joined, NULL if none; plus the any() guard
    (chStats.py:106). Exercises the full map pipeline:
    map_from_entries → map_filter → map_keys → array_sort → array_join.
    The oracle states the same semantics relationally over the entries."""
    entries = fixtures.spark_df(spark, "replica_active")
    as_map = entries.groupBy("node_ip", "tbl").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("replica", "active")))
        ).alias("replica_is_active")
    )
    active_keys = F.array_sort(
        F.map_keys(
            F.map_filter("replica_is_active", lambda _, v: v == F.lit(1))
        )
    )
    return as_map.select(
        "node_ip",
        "tbl",
        F.when(F.size(active_keys) > 0, F.array_join(active_keys, ",")).alias(
            "active_replicas"
        ),
        F.exists(
            F.map_values("replica_is_active"), lambda v: v == F.lit(1)
        ).alias("any_active"),
    )


@register(
    "nest_two_level_shard_doc",
    oracle=f"""
    WITH nodes AS (
      SELECT coalesce(topology.shard_name, 'Unknown Shard') AS shard,
             system_replicas.node_ip AS node_ip,
             CAST(sum(queue_size) AS BIGINT) AS queue_size,
             max(absolute_delay) AS max_delay
      FROM {fixtures.values_sql("system_replicas")}
      LEFT JOIN {fixtures.values_sql("topology")}
        ON system_replicas.node_ip = topology.node_ip
      WHERE database = 'fsiem'
      GROUP BY 1, 2
    )
    SELECT shard,
           to_json(list_sort(list(struct_pack(ip := node_ip,
                                              queue_size := queue_size,
                                              max_delay := max_delay))))
             AS nodes_json
    FROM nodes
    GROUP BY shard
    """,
    tags=("A5", "N1", "J1"),
)
def nest_two_level_shard_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 two-level nest: replicas → per-node rollup → {shard, nodes[]}
    (chStats.py:111-123). Topology is a broadcast dim with the
    'Unknown Shard' default (J1); the only shuffle is the two-key group."""
    r = fixtures.spark_df(spark, "system_replicas").filter(
        F.col("database") == "fsiem"
    )
    topo = fixtures.spark_df(spark, "topology")
    nodes = (
        r.join(topo, "node_ip", "left")
        .select(
            F.coalesce(F.col("shard_name"), F.lit("Unknown Shard")).alias("shard"),
            "node_ip",
            "queue_size",
            "absolute_delay",
        )
        .groupBy("shard", "node_ip")
        .agg(
            F.sum("queue_size").alias("queue_size"),
            F.max("absolute_delay").alias("max_delay"),
        )
    )
    return nodes.groupBy("shard").agg(
        F.to_json(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("node_ip").alias("ip"),
                        F.col("queue_size"),
                        F.col("max_delay"),
                    )
                )
            )
        ).alias("nodes_json")
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt: wide per-day metrics back to long form
# ---------------------------------------------------------------------------


@register(
    "unpivot_daily_metrics",
    oracle="""
    WITH wide AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total_price,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    UNPIVOT wide ON n_orders, total_price, n_customers
    INTO NAME metric VALUE value
    """,
    tags=("RESHAPE",),
)
def unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of pivot_events_by_type and the
    last reshape primitive the surface was missing: a wide per-day
    metrics row (orders, revenue, distinct customers) melts into
    (day, metric, value) long form, the shape dashboards and
    metric-store ingestion want.  Metrics are cast to one DOUBLE
    domain first (melt requires a common value type in both engines);
    revenue follows the repo's centi-unit discipline — summed as
    floor(price*100) BIGINTs (exact, order-independent) and divided
    by 100.0 once at the end — so the value column is deterministic
    at any scale (a float sum rounded to 2dp can flip at a .005
    boundary under accumulation-order wobble; ADVICE r4).

    Scale shape: melt is a zero-shuffle per-row flatMap (each wide row
    emits |metrics| narrow rows) on top of the one (day) rollup
    exchange — column-to-row fanout happens AFTER aggregation, so the
    exchange is |days| rows, never |days * metrics|."""
    o = table(spark, sf_dir, "orders")
    wide = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")) / 100.0
        ).alias("total_price"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"),
    )
    return wide.unpivot(
        ["day"], ["n_orders", "total_price", "n_customers"], "metric", "value"
    )
