"""The reference's data-health pipelines re-expressed as single Spark
plans (chStats.py:66-199): getDataHealth (system.replicas → nested
shard/node/replica document) and getDataReplicationHealth
(events count + failure count + parts-metrics rollup).

Where the reference loops nodes and POSTs SQL per node
(chStats.py:77-79), here `node_ip` is just a column of the fixture
table — the per-node loop disappears into partition parallelism (U1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import fixtures
from ..sources.tables import table

SENTINEL = fixtures.SENTINEL_TS


def _enriched_replicas(spark: SparkSession) -> DataFrame:
    """Shared front half of getDataHealth: filter fsiem (P1), rename
    (P4), pct with zero-guard (P5), sentinel scrub (P6), empty→NULL
    (P7), activeReplicas map agg (A6/A7), hostname enrichment (J2-lite:
    DNS first, LRT fallback — chStats.py:43-61), shard lookup (J1)."""
    r = fixtures.spark_df(spark, "system_replicas").filter(
        F.col("database") == "fsiem"
    )
    dns = fixtures.spark_df(spark, "dns")
    lrt = fixtures.spark_df(spark, "lrt")
    # First-match LRT entry per ip (deterministic tiebreak on key)
    lrt_first = (
        lrt.select("lrt_key", F.col("device_ip").alias("ip"), "device_name")
        .unionByName(
            lrt.select("lrt_key", F.col("relay").alias("ip"), "device_name")
        )
        .groupBy("ip")
        .agg(F.min(F.struct("lrt_key", "device_name")).alias("f"))
        .select("ip", F.col("f.device_name").alias("lrt_name"))
    )
    topo = fixtures.spark_df(spark, "topology")
    pct = F.when(
        F.col("total_replicas") != 0,
        F.floor(100.0 * F.col("active_replicas") / F.col("total_replicas")),
    ).otherwise(0).cast("int")
    scrub = lambda c: F.when(F.col(c) == SENTINEL, None).otherwise(F.col(c))  # noqa: E731
    empty_null = lambda c: F.when(F.col(c) == "", None).otherwise(F.col(c))  # noqa: E731
    return (
        r.join(dns, r["node_ip"] == dns["ip"], "left")
        .drop("ip")
        .join(lrt_first, r["node_ip"] == lrt_first["ip"], "left")
        .drop("ip")
        .join(topo, "node_ip", "left")
        .select(
            F.coalesce(F.col("shard_name"), F.lit("Unknown Shard")).alias("shard"),
            F.coalesce(F.col("hostname"), F.col("lrt_name")).alias("device_name"),
            F.col("node_ip").alias("device_ip"),
            F.col("tbl").alias("db_table"),
            F.col("is_readonly").alias("readonly"),
            "queue_size",
            "inserts_in_queue",
            F.col("absolute_delay").cast("long").alias("replica_delay"),
            pct.alias("replicas_online_pct"),
            scrub("queue_oldest_time").alias("queue_oldest_time"),
            empty_null("zookeeper_exception").alias("zookeeper_exception"),
            "last_queue_update",
        )
    )


@register(
    "health_replica_events",
    oracle=f"""
    WITH lrt_first AS (
      SELECT ip, min(struct_pack(lrt_key := lrt_key, device_name := device_name)) AS f
      FROM (
        SELECT lrt_key, device_ip AS ip, device_name FROM {fixtures.values_sql("lrt")}
        UNION ALL
        SELECT lrt_key, relay AS ip, device_name FROM {fixtures.values_sql("lrt")}
      ) GROUP BY ip
    ),
    act AS (
      SELECT node_ip, tbl,
             string_agg(replica, ',' ORDER BY replica)
               FILTER (WHERE active = 1) AS active_replica_names
      FROM {fixtures.values_sql("replica_active")}
      GROUP BY node_ip, tbl
    )
    SELECT coalesce(topology.shard_name, 'Unknown Shard') AS shard,
           coalesce(dns.hostname, lrt_first.f.device_name) AS device_name,
           r.node_ip AS device_ip,
           r.tbl AS db_table,
           r.is_readonly AS readonly,
           r.queue_size, r.inserts_in_queue,
           CAST(r.absolute_delay AS BIGINT) AS replica_delay,
           CAST(CASE WHEN r.total_replicas <> 0
                THEN floor(100.0 * r.active_replicas / r.total_replicas)
                ELSE 0 END AS INTEGER) AS replicas_online_pct,
           CASE WHEN r.queue_oldest_time = '{SENTINEL}' THEN NULL
                ELSE r.queue_oldest_time END AS queue_oldest_time,
           nullif(r.zookeeper_exception, '') AS zookeeper_exception,
           r.last_queue_update,
           act.active_replica_names
    FROM {fixtures.values_sql("system_replicas", "r")}
    LEFT JOIN act ON r.node_ip = act.node_ip AND r.tbl = act.tbl
    LEFT JOIN {fixtures.values_sql("dns")} ON r.node_ip = dns.ip
    LEFT JOIN lrt_first ON r.node_ip = lrt_first.ip
    LEFT JOIN {fixtures.values_sql("topology")} ON r.node_ip = topology.node_ip
    WHERE r.database = 'fsiem'
    """,
    tags=("H", "P4", "P5", "P6", "P7", "J1", "J2", "A6"),
)
def health_replica_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getDataHealth flattened form — exactly what uploadEvents emits per
    replica (chStats.py:405-422): one row per (node, table) with shard,
    device name, pct, sentinel-scrubbed times and empty-dropped fields."""
    enriched = _enriched_replicas(spark)
    entries = fixtures.spark_df(spark, "replica_active")
    act = (
        entries.groupBy("node_ip", "tbl")
        .agg(
            F.when(
                F.sum("active") > 0,
                F.array_join(
                    F.array_sort(
                        F.collect_list(F.when(F.col("active") == 1, F.col("replica")))
                    ),
                    ",",
                ),
            ).alias("active_replica_names")
        )
    )
    return enriched.join(
        act,
        (enriched["device_ip"] == act["node_ip"])
        & (enriched["db_table"] == act["tbl"]),
        "left",
    ).drop("node_ip", "tbl")


@register(
    "health_nested_document",
    oracle=f"""
    WITH base AS (
      SELECT coalesce(topology.shard_name, 'Unknown Shard') AS shard,
             r.node_ip,
             r.tbl,
             r.queue_size,
             CAST(CASE WHEN r.total_replicas <> 0
                  THEN floor(100.0 * r.active_replicas / r.total_replicas)
                  ELSE 0 END AS INTEGER) AS pct
      FROM {fixtures.values_sql("system_replicas", "r")}
      LEFT JOIN {fixtures.values_sql("topology")} ON r.node_ip = topology.node_ip
      WHERE r.database = 'fsiem'
    ),
    nodes AS (
      SELECT shard, node_ip,
             list_sort(list(struct_pack(tbl := tbl,
                                        queue_size := queue_size,
                                        pct := pct))) AS replicas
      FROM base GROUP BY shard, node_ip
    )
    SELECT shard,
           to_json(list_sort(list(struct_pack(ip := node_ip,
                                              replicas := replicas))))
             AS nodes_json
    FROM nodes GROUP BY shard
    """,
    tags=("H", "A5", "N1"),
)
def health_nested_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getDataHealth nested form: {shard, nodes:[{ip, replicas:[...]}]}
    (chStats.py:119-123) — the 3-level document built with two
    collect_list(struct) levels, arrays sorted for determinism."""
    r = fixtures.spark_df(spark, "system_replicas").filter(
        F.col("database") == "fsiem"
    )
    topo = fixtures.spark_df(spark, "topology")
    pct = F.when(
        F.col("total_replicas") != 0,
        F.floor(100.0 * F.col("active_replicas") / F.col("total_replicas")),
    ).otherwise(0).cast("int")
    base = r.join(topo, "node_ip", "left").select(
        F.coalesce(F.col("shard_name"), F.lit("Unknown Shard")).alias("shard"),
        "node_ip",
        "tbl",
        "queue_size",
        pct.alias("pct"),
    )
    # The inner level stays a struct array (not a JSON string) so the
    # whole document serializes in ONE to_json at the top — matching
    # DuckDB, where to_json of a nested list embeds raw JSON.
    nodes = base.groupBy("shard", "node_ip").agg(
        F.sort_array(F.collect_list(F.struct("tbl", "queue_size", "pct"))).alias(
            "replicas"
        )
    )
    return nodes.groupBy("shard").agg(
        F.to_json(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("node_ip").alias("ip"), F.col("replicas"))
                )
            )
        ).alias("nodes_json")
    )


def data_health_document(
    replicas: DataFrame, topology: DataFrame
) -> DataFrame:
    """Parameterized getDataHealth document builder (golden-testable
    against /root/reference/README.md:61-107).

    Input `replicas`: the raw system.replicas shape (FIXTURES.md B1 plus
    the optional columns the README example carries); `topology` maps
    node_ip → 'Shard N'. Output: one row per shard with the camelCase
    nested JSON document. Sentinel timestamps become NULL (P6), empty
    strings become NULL (P7), and Spark's to_json drops null fields by
    default — reproducing the reference's remove_empty_keys behaviour
    (chStats.py:63-64, 99-103)."""
    shard_num = F.element_at(F.split(F.col("shard_name"), " "), -1).cast("int")
    pct = (
        F.when(
            F.col("total_replicas") != 0,
            F.floor(100.0 * F.col("active_replicas") / F.col("total_replicas")),
        )
        .otherwise(0)
        .cast("int")
    )
    scrub = lambda c: F.when(  # noqa: E731
        F.col(c).isin(SENTINEL, ""), None
    ).otherwise(F.col(c))
    base = (
        replicas.filter(F.col("database") == "fsiem")
        .join(topology, "node_ip", "left")
        .select(
            shard_num.alias("shard"),
            F.col("device_name").alias("deviceName"),
            F.col("node_ip").alias("deviceIp"),
            F.struct(
                F.col("database").alias("dbName"),
                F.col("tbl").alias("dbTable"),
                F.col("is_readonly").alias("readonly"),
                F.col("is_session_expired").alias("sessionExpired"),
                F.col("queue_size").alias("queueSize"),
                F.col("inserts_in_queue").alias("insertsInQueue"),
                F.col("merges_in_queue").alias("mergesInQueue"),
                F.col("part_mutations_in_queue").alias("partMutationsInQueue"),
                F.col("last_queue_update").alias("lastQueueUpdate"),
                F.col("absolute_delay").alias("absoluteDelay"),
                pct.alias("replicasOnlinePct"),
                scrub("queue_oldest_time").alias("queueOldestTime"),
                scrub("inserts_oldest_time").alias("insertsOldestTime"),
                scrub("oldest_part_to_get").alias("oldestPartToGetTime"),
                F.col("active_replica_names").alias("activeReplicas"),
            ).alias("replica"),
        )
    )
    nodes = base.groupBy("shard", "deviceName", "deviceIp").agg(
        F.sort_array(F.collect_list("replica")).alias("replicas")
    )
    return nodes.groupBy("shard").agg(
        F.to_json(
            F.sort_array(
                F.collect_list(F.struct("deviceName", "deviceIp", "replicas"))
            )
        ).alias("nodes_json")
    )


@register(
    "health_parts_metrics",
    oracle=f"""
    SELECT node_ip,
           round(CAST(sum(CASE WHEN active = 1 THEN bytes_on_disk END) AS DOUBLE)
                 / sum(CASE WHEN active = 1 THEN rows END), 2) AS bytes_per_row,
           round(CAST(sum(CASE WHEN active = 1 THEN data_uncompressed_bytes END) AS DOUBLE)
                 / sum(CASE WHEN active = 1 THEN bytes_on_disk END), 2) AS compression_ratio,
           round(CAST(sum(CASE WHEN active = 1 THEN bytes_on_disk END) AS DOUBLE)
                 / 1e9, 4) AS disk_gb,
           round(100.0 * CAST(coalesce(sum(CASE WHEN active = 0 THEN bytes_on_disk END), 0) AS DOUBLE)
                 / sum(bytes_on_disk), 2) AS bloat_pct
    FROM {fixtures.values_sql("system_parts")}
    WHERE database = 'fsiem' AND tbl = 'events_replicated'
    GROUP BY node_ip
    """,
    tags=("H", "A3", "A4", "P2"),
)
def health_parts_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The system.parts metrics SQL (chStats.py:158-168) on its own
    domain fixture: multi-SUM ratios over active parts + the bloat%%
    two-scalar-subquery rewritten as one-pass conditional aggregation."""
    p = fixtures.spark_df(spark, "system_parts").filter(
        (F.col("database") == "fsiem") & (F.col("tbl") == "events_replicated")
    )
    on_active = lambda c: F.sum(F.when(F.col("active") == 1, F.col(c)))  # noqa: E731
    return p.groupBy("node_ip").agg(
        F.round(
            on_active("bytes_on_disk").cast("double") / on_active("rows"), 2
        ).alias("bytes_per_row"),
        F.round(
            on_active("data_uncompressed_bytes").cast("double")
            / on_active("bytes_on_disk"),
            2,
        ).alias("compression_ratio"),
        F.round(on_active("bytes_on_disk").cast("double") / 1e9, 4).alias("disk_gb"),
        F.round(
            100.0
            * F.coalesce(
                F.sum(F.when(F.col("active") == 0, F.col("bytes_on_disk"))), F.lit(0)
            ).cast("double")
            / F.sum("bytes_on_disk"),
            2,
        ).alias("bloat_pct"),
    )


@register(
    "health_replication_failures",
    oracle=f"""
    SELECT node_ip, count(*) AS n_failures
    FROM {fixtures.values_sql("replication_queue")}
    WHERE last_exception IS NOT NULL
    GROUP BY node_ip
    """,
    tags=("H", "A2", "P3"),
)
def health_replication_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication-failure count per node: `count() WHERE last_exception
    IS NOT NULL` (chStats.py:151) with the node loop as a group-by."""
    q = fixtures.spark_df(spark, "replication_queue")
    return (
        q.filter(F.col("last_exception").isNotNull())
        .groupBy("node_ip")
        .agg(F.count(F.lit(1)).alias("n_failures"))
    )


@register(
    "health_syslog_frames",
    oracle=f"""
    SELECT 'PH_SYSTEM_CLICKHOUSE_REPL_FAILURES=' ||
           to_json(struct_pack(node_ip := node_ip, n_failures := n_failures))
             AS frame
    FROM (
      SELECT node_ip, count(*) AS n_failures
      FROM {fixtures.values_sql("replication_queue")}
      WHERE last_exception IS NOT NULL
      GROUP BY node_ip
    )
    """,
    tags=("H", "S7", "F8", "F14"),
)
def health_syslog_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 sink framing: `PH_SYSTEM_<TYPE>=<json>` one line per entity
    (chStats.py:422, 481-483) — concat + to_json(struct); the streaming
    foreachBatch UDP writer consumes exactly this column."""
    q = fixtures.spark_df(spark, "replication_queue")
    counts = (
        q.filter(F.col("last_exception").isNotNull())
        .groupBy("node_ip")
        .agg(F.count(F.lit(1)).alias("n_failures"))
    )
    return counts.select(
        F.concat(
            F.lit("PH_SYSTEM_CLICKHOUSE_REPL_FAILURES="),
            F.to_json(F.struct("node_ip", "n_failures")),
        ).alias("frame")
    )


@register(
    "health_fsm_config_scan",
    oracle=f"""
    SELECT max(CASE WHEN path LIKE '%VERSION' AND line LIKE 'Version:%'
                    THEN trim(substr(line, 9)) END) AS fsm_version,
           max(CASE WHEN line LIKE 'MON_ROLE=%'
                    THEN substr(line, 10) END) AS mon_role
    FROM {fixtures.values_sql("fsm_files")}
    """,
    tags=("S6", "P8"),
)
def health_fsm_config_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-file config scan (getFsmInfo, chStats.py:485-515): read
    config text lines, keep prefix-matched ones (P8:
    startswith('Version:') / startswith('MON_ROLE=')), split off the
    value, and fold to a single {{version, role}} row — the reference's
    fsmInfo dict. In production the source is spark.read.text over the
    config paths; the line frame here is the deterministic fixture."""
    lines = fixtures.spark_df(spark, "fsm_files")
    version_val = F.when(
        F.col("path").endswith("VERSION") & F.col("line").startswith("Version:"),
        F.trim(F.substring("line", 9, 2_000)),
    )
    role_val = F.when(
        F.col("line").startswith("MON_ROLE="), F.substring("line", 10, 2_000)
    )
    return lines.agg(
        F.max(version_val).alias("fsm_version"),
        F.max(role_val).alias("mon_role"),
    )
