"""Deterministic inline fixtures for the reference's monitoring-domain
pipelines (FIXTURES.md §B), shared between the Spark queries and their
DuckDB oracles.

Each fixture is a literal list of rows. ``spark_df`` materializes it as
a DataFrame with an explicit schema, built through ``local_df`` as an
Arrow-backed ``LocalRelation``; ``values_sql`` renders the same rows as a
DuckDB ``(VALUES ...) AS t(cols)`` relation so oracle SQL can embed
byte-identical data. This keeps fixture-driven operators fully
hash-checkable without writing anything outside the repo.

In production these would be real sources (ClickHouse system tables over
JDBC, Redis topology snapshots — chStats.py:79, 531-533). A
``LocalRelation`` carries its exact size, so the planner broadcasts
these small dimensions on its own, without a hint.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# --- B4: cluster topology (Redis clickhouseConfig, chStats.py:72-75) ----
# Node 10.0.3.1 is intentionally absent -> 'Unknown Shard' default path.
TOPOLOGY_COLS = "shard_name STRING, node_ip STRING"
TOPOLOGY = [
    ("Shard 1", "10.0.1.1"),
    ("Shard 1", "10.0.1.2"),
    ("Shard 2", "10.0.2.1"),
    ("Shard 2", "10.0.2.2"),
]

# --- B5: pullingEventLRT enrichment hash (chStats.py:52-60) -------------
# Covers: match by deviceIp, match by relay only, multi-match (first-match
# tiebreak on key), and entries matching nothing.
LRT_COLS = "lrt_key STRING, device_ip STRING, relay STRING, device_name STRING"
LRT = [
    ("k01", "10.0.1.1", "10.9.9.1", "node-a"),
    ("k02", "10.9.9.2", "10.0.1.2", "node-b-via-relay"),
    ("k03", "10.0.2.1", "10.0.2.1", "node-c"),
    ("k04", "10.0.2.1", "10.9.9.3", "node-c-dup"),
    ("k05", "10.8.8.8", "10.8.8.9", "unrelated"),
]

# --- B6: deterministic reverse-DNS stand-in (chStats.py:43-61) ----------
DNS_COLS = "ip STRING, hostname STRING"
DNS = [
    ("10.0.1.1", "ch-data-1a.example"),
    ("10.0.2.1", "ch-data-2a.example"),
    ("10.0.2.2", "ch-data-2b.example"),
    # 10.0.1.2 and 10.0.3.1 unresolvable -> LRT fallback then NULL.
]

# --- B1: system.replicas rows (chStats.py:79, 87-106) -------------------
# Scalar part; replica_is_active map entries live in REPLICA_ACTIVE.
# Includes: other-database rows (filtered), total_replicas=0 (P5 guard),
# sentinel timestamps (P6), empty-string exceptions (P7).
SENTINEL_TS = "1969-12-31 18:00:00"
REPLICAS_COLS = (
    "node_ip STRING, database STRING, tbl STRING, is_readonly INT,"
    " queue_size INT, inserts_in_queue INT, absolute_delay BIGINT,"
    " active_replicas INT, total_replicas INT, last_queue_update STRING,"
    " queue_oldest_time STRING, zookeeper_exception STRING"
)
REPLICAS = [
    ("10.0.1.1", "fsiem", "events_replicated", 0, 1, 1, 0, 2, 2,
     "2024-06-11 10:05:00", "2024-06-11 10:04:30", ""),
    ("10.0.1.1", "fsiem", "summary", 0, 0, 0, 0, 2, 2,
     "2024-06-11 10:05:10", SENTINEL_TS, ""),
    ("10.0.1.2", "fsiem", "events_replicated", 1, 5, 3, 120, 1, 2,
     "2024-06-11 09:55:00", "2024-06-11 09:50:00", "Session expired"),
    ("10.0.2.1", "fsiem", "events_replicated", 0, 0, 0, 0, 2, 2,
     "2024-06-11 10:05:05", SENTINEL_TS, ""),
    ("10.0.2.2", "fsiem", "events_replicated", 0, 2, 2, 30, 0, 0,
     "2024-06-11 10:01:00", "2024-06-11 10:00:00", ""),
    ("10.0.3.1", "fsiem", "events_replicated", 0, 0, 0, 0, 1, 1,
     "2024-06-11 10:05:00", SENTINEL_TS, ""),
    ("10.0.1.1", "system", "query_log", 0, 0, 0, 0, 1, 1,
     "2024-06-11 10:00:00", SENTINEL_TS, ""),
]

# --- B1b: replica_is_active entries (chStats.py:106) --------------------
# (node_ip, tbl, replica, active); all-zero group on 10.0.2.2 -> NULL.
REPLICA_ACTIVE_COLS = "node_ip STRING, tbl STRING, replica STRING, active INT"
REPLICA_ACTIVE = [
    ("10.0.1.1", "events_replicated", "r2", 1),
    ("10.0.1.1", "events_replicated", "r1", 1),
    ("10.0.1.1", "summary", "r1", 1),
    ("10.0.1.1", "summary", "r2", 0),
    ("10.0.1.2", "events_replicated", "r1", 1),
    ("10.0.1.2", "events_replicated", "r2", 0),
    ("10.0.2.1", "events_replicated", "r1", 1),
    ("10.0.2.1", "events_replicated", "r2", 1),
    ("10.0.2.2", "events_replicated", "r1", 0),
    ("10.0.2.2", "events_replicated", "r2", 0),
    ("10.0.3.1", "events_replicated", "r1", 1),
]

# --- B2: system.parts (chStats.py:158-168) ------------------------------
PARTS_COLS = (
    "node_ip STRING, database STRING, tbl STRING, active INT,"
    " rows BIGINT, bytes_on_disk BIGINT, data_uncompressed_bytes BIGINT"
)
PARTS = [
    ("10.0.1.1", "fsiem", "events_replicated", 1, 1_000_000, 40_000_000, 200_000_000),
    ("10.0.1.1", "fsiem", "events_replicated", 1, 2_500_000, 95_000_000, 480_000_000),
    ("10.0.1.1", "fsiem", "events_replicated", 0, 400_000, 18_000_000, 90_000_000),
    ("10.0.1.2", "fsiem", "events_replicated", 1, 900_000, 37_000_000, 180_000_000),
    ("10.0.1.2", "fsiem", "events_replicated", 0, 100_000, 4_500_000, 21_000_000),
    ("10.0.2.1", "fsiem", "events_replicated", 1, 3_000_000, 120_000_000, 610_000_000),
    ("10.0.2.2", "fsiem", "events_replicated", 1, 10_000, 500_000, 2_400_000),
    ("10.0.1.1", "fsiem", "summary", 1, 50_000, 2_000_000, 9_000_000),
    ("10.0.1.1", "system", "query_log", 1, 77_000, 3_100_000, 15_000_000),
]

# --- B3: system.replication_queue (chStats.py:151) ----------------------
QUEUE_COLS = "node_ip STRING, last_exception STRING"
QUEUE = [
    ("10.0.1.1", None),
    ("10.0.1.1", "Code: 999. DB::Exception: timeout"),
    ("10.0.1.2", None),
    ("10.0.1.2", "Code: 228. DB::Exception: checksum mismatch"),
    ("10.0.1.2", "Code: 999. DB::Exception: timeout"),
    ("10.0.2.1", None),
]

# --- B7: keeper 'srvr' reply lines ('key: value', chStats.py:223-240) ---
KEEPER_SRVR_COLS = "node_ip STRING, line STRING"
KEEPER_SRVR = [
    ("10.0.5.1", "ClickHouse Keeper version: v24.3.1.1-stable"),
    ("10.0.5.1", "Latency min/avg/max: 0/1/12"),
    ("10.0.5.1", "Received: 123456"),
    ("10.0.5.1", "Sent: 123999"),
    ("10.0.5.1", "Connections: 4"),
    ("10.0.5.1", "Outstanding: 0"),
    ("10.0.5.1", "Zxid: 0x1a2b3c"),
    ("10.0.5.1", "Mode: leader"),
    ("10.0.5.1", "Node count: 512"),
    ("10.0.5.2", "ClickHouse Keeper version: v24.3.1.1-stable"),
    ("10.0.5.2", "Latency min/avg/max: 0/0/9"),
    ("10.0.5.2", "Received: 98765"),
    ("10.0.5.2", "Sent: 98800"),
    ("10.0.5.2", "Connections: 2"),
    ("10.0.5.2", "Outstanding: 3"),
    ("10.0.5.2", "Zxid: 0x1a2b3d"),
    ("10.0.5.2", "Mode: follower"),
    ("10.0.5.2", "Node count: 512"),
    ("10.0.5.2", "garbage line without separator"),
]

# --- B7b: keeper 'conf' reply lines ('key=value', chStats.py:327-341) ---
KEEPER_CONF_COLS = "node_ip STRING, line STRING"
KEEPER_CONF = [
    ("10.0.5.1", "server_id=1"),
    ("10.0.5.1", "enable_ipv6=true"),
    ("10.0.5.1", "tcp_port=2181"),
    ("10.0.5.1", "four_letter_word_allow_list=*"),
    ("10.0.5.1", "max_requests_batch_size=100"),
    ("10.0.5.2", "server_id=2"),
    ("10.0.5.2", "enable_ipv6=false"),
    ("10.0.5.2", "tcp_port=2181"),
    ("10.0.5.2", "compress_logs=true"),
]

# --- B8: keeper 'cons' packed client-stat lines (chStats.py:275-295) ----
KEEPER_CONS_COLS = "node_ip STRING, line STRING"
KEEPER_CONS = [
    ("10.0.5.1",
     " /[::ffff:192.168.128.222]:47632(recved=1234,sent=1240,sid=0x1000003e8,"
     "lop=PING,est=1718100000000,to=30000,lzxid=0xffffffffffffffff,"
     "lresp=1718103600000,llat=0,minlat=0,avglat=1,maxlat=12)"),
    ("10.0.5.1",
     " /[::ffff:192.168.128.223]:51044(recved=42,sent=42,sid=0x1000003e9,"
     "lop=LIST,est=1718100300000,to=30000,lzxid=0x1a2b3c,"
     "lresp=1718103601000,llat=1,minlat=0,avglat=2,maxlat=40)"),
    ("10.0.5.2",
     " /[::ffff:192.168.128.224]:60001(recved=7,sent=8,sid=0x2000001f4,"
     "lop=PING,est=1718101000000,to=15000,lzxid=0x1a2b3d,"
     "lresp=1718103602000,llat=0,minlat=0,avglat=0,maxlat=3)"),
    ("10.0.5.2", "this line does not match the client pattern"),
]

# --- B9: local config files (getFsmInfo, chStats.py:485-515) ------------
# VERSION + phoenix_config.txt lines; the query keeps prefix-matched
# lines (P8) and splits off the value (S6).
FSM_FILES_COLS = "path STRING, line STRING"
FSM_FILES = [
    ("/opt/phoenix/bin/VERSION", "Version: 7.2.1.0250"),
    ("/opt/phoenix/bin/VERSION", "Build flags: release"),
    ("/opt/phoenix/config/phoenix_config.txt", "MON_ROLE=Super"),
    ("/opt/phoenix/config/phoenix_config.txt", "# MON_ROLE=commented-out"),
    ("/opt/phoenix/config/phoenix_config.txt", "OTHER_KEY=ignored"),
]

_ALL = {
    "topology": (TOPOLOGY_COLS, TOPOLOGY),
    "lrt": (LRT_COLS, LRT),
    "dns": (DNS_COLS, DNS),
    "system_replicas": (REPLICAS_COLS, REPLICAS),
    "replica_active": (REPLICA_ACTIVE_COLS, REPLICA_ACTIVE),
    "system_parts": (PARTS_COLS, PARTS),
    "replication_queue": (QUEUE_COLS, QUEUE),
    "keeper_srvr": (KEEPER_SRVR_COLS, KEEPER_SRVR),
    "keeper_conf": (KEEPER_CONF_COLS, KEEPER_CONF),
    "keeper_cons": (KEEPER_CONS_COLS, KEEPER_CONS),
    "fsm_files": (FSM_FILES_COLS, FSM_FILES),
}


def local_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) as a DataFrame over a
    JVM ``LocalRelation``.

    ``createDataFrame`` on a Python list builds a ``LogicalRDD`` instead:
    every scan of it runs a Python worker to unpickle the rows, and its
    default size statistics keep Catalyst from folding filters and
    projections into it or sizing it for a join.  A ``pyarrow.Table``
    goes to the JVM once and plans as a ``LocalTableScan``."""
    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow
    )
    return spark.createDataFrame(table, schema=schema)


def spark_df(spark: SparkSession, name: str) -> DataFrame:
    cols, rows = _ALL[name]
    return local_df(spark, rows, cols)


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def values_sql(name: str, alias: str | None = None) -> str:
    """Render the fixture as a DuckDB VALUES relation aliased with its
    column names, e.g. ``(VALUES (...)) AS topology(shard_name, node_ip)``.
    ``alias`` overrides the relation name (needed when the SQL wants a
    short alias — VALUES relations cannot be double-aliased)."""
    cols, rows = _ALL[name]
    colnames = ", ".join(c.strip().split()[0] for c in cols.split(","))
    body = ",\n      ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES\n      {body}) AS {alias or name}({colnames})"
