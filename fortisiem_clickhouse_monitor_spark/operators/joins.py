"""Joins (SURVEY.md §2.3): broadcast lookup with default (J1),
disjunctive-key first-match enrichment (J2), scalar-subquery rewrite
(J3), semi/anti joins (J4 + driver corpus), and the multi-way equi
joins the TPC-H-ish correctness corpus requires.

Scale notes: every dimension here (region/nation/supplier, inline
fixtures) is tiny relative to the facts, so the planner broadcasts it
(autoBroadcastJoinThreshold) — at 100 TB the fact table never shuffles
for these joins; only fact⋈fact joins (lineitem⋈orders) shuffle, on
their join key, and AQE handles skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import fixtures
from ..sources.tables import table


# ---------------------------------------------------------------------------
# J1: lookup join with default — ip→shard dict probe with 'Unknown Shard'
# fallback (chStats.py:72-75, 111). Dimension restricted so the default
# path actually fires.
# ---------------------------------------------------------------------------


@register(
    "join_broadcast_lookup_default",
    oracle="""
    SELECT c_custkey, coalesce(dim.r_name, 'Unknown Shard') AS shard
    FROM customer
    LEFT JOIN (
      SELECT n_nationkey, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      WHERE r_regionkey <= 2
    ) dim ON c_nationkey = n_nationkey
    """,
    tags=("J1",),
)
def join_broadcast_lookup_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join, left-outer, with a literal default — the
    reference's `ip_to_shard.get(ip, 'Unknown Shard')` (chStats.py:111).
    The dim is built from nation⋈region and broadcast: zero fact shuffle."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    dim = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_regionkey") <= 2)
        .select("n_nationkey", "r_name")
    )
    return c.join(dim, c["c_nationkey"] == dim["n_nationkey"], "left").select(
        "c_custkey",
        F.coalesce(F.col("r_name"), F.lit("Unknown Shard")).alias("shard"),
    )


# ---------------------------------------------------------------------------
# J2: disjunctive-key enrichment join, first match wins (chStats.py:51-60)
# ---------------------------------------------------------------------------


@register(
    "join_disjunctive_first_match",
    oracle=f"""
    WITH matched AS (
      SELECT s_suppkey, device_name,
             row_number() OVER (PARTITION BY s_suppkey ORDER BY lrt_key) AS rn
      FROM supplier
      JOIN {fixtures.values_sql("lrt")}
        ON device_ip = 'sup-' || s_suppkey OR relay = 'sup-' || s_suppkey
    )
    SELECT s_suppkey, s_name, coalesce(m.device_name, 'unknown') AS resolved_name
    FROM supplier LEFT JOIN (SELECT * FROM matched WHERE rn = 1) m USING (s_suppkey)
    """,
    tags=("J2",),
)
def join_disjunctive_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find the first enrichment entry where `deviceIp == ip OR relay == ip`
    (chStats.py:51-60). The reference's dict-iteration "first" is
    non-deterministic; we pin the tiebreak to key order with row_number
    (SURVEY §7.3 risk 3). OR-predicate join against a broadcast dim is a
    nested-loop over the tiny dim — same cost shape as the reference's
    full-hash scan per probe."""
    s = table(spark, sf_dir, "supplier")
    lrt = fixtures.spark_df(spark, "lrt")
    key = F.concat(F.lit("sup-"), F.col("s_suppkey").cast("string"))
    joined = s.join(
        lrt, (lrt["device_ip"] == key) | (lrt["relay"] == key), "left"
    )
    w = Window.partitionBy("s_suppkey").orderBy(F.col("lrt_key").asc_nulls_last())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "s_suppkey",
            "s_name",
            F.coalesce(F.col("device_name"), F.lit("unknown")).alias("resolved_name"),
        )
    )


# ---------------------------------------------------------------------------
# J3: scalar-subquery rewrite — compare each row against a global aggregate
# (the two-scalar-subquery SQL at chStats.py:163-165).
# ---------------------------------------------------------------------------


@register(
    "join_scalar_subquery",
    oracle="""
    SELECT l_returnflag, count(*) AS n_above
    FROM lineitem
    WHERE l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem)
    GROUP BY l_returnflag
    """,
    tags=("J3",),
)
def join_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery as a broadcast cross-join of a 1-row aggregate:
    the global average is computed once (map-side partials) and shipped to
    every executor — two scans total, no repeated subquery evaluation."""
    li = table(spark, sf_dir, "lineitem")
    avg_price = li.agg(F.avg("l_extendedprice").alias("global_avg"))
    return (
        li.crossJoin(avg_price)
        .filter(F.col("l_extendedprice") > F.col("global_avg"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (J4 pattern + driver corpus)
# ---------------------------------------------------------------------------


@register(
    "join_semi_orders_with_big_items",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    """,
    tags=("J4",),
)
def join_semi_orders_with_big_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): the leader-identity gate shape
    (chStats.py:370-382). Semi join shuffles only the join keys of the
    filtered right side — no payload columns move."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(
        li, o["o_orderkey"] == li["l_orderkey"], "left_semi"
    ).select("o_orderkey", "o_totalprice")


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    )
    """,
    tags=("J4",),
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — set-difference on keys, with the
    right side filtered BEFORE the join (the filter must push below
    the anti-join build side, not run as a post-filter).  The date
    cutoff makes it the dormant-customer screen: in the fixtures every
    customer has SOME order (the unfiltered form was a vacuous
    empty-vs-empty green for six rounds until the r7 non-vacuous gate
    flagged it), while 'no orders since 1999' is a real, SF-stable
    population (6 / 29 / 305 rows at sf0.001/0.01/0.1)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Multi-way equi joins over the star schema (SURVEY §2.3 "missing from
# reference but required by driver corpus")
# ---------------------------------------------------------------------------


@register(
    "join_q3_shipping_priority",
    oracle="""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    tags=("J-ext", "O2"),
)
def join_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filtered customer broadcast into orders, then a
    key-partitioned join with lineitem; top-k via TakeOrderedAndProject
    (each partition ships only its local top 10)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "join_q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    tags=("J-ext",),
)
def join_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. supplier/nation/region are broadcast;
    lineitem⋈orders is the only shuffle (co-partitioned on orderkey).
    The s_nationkey = c_nationkey conjunct rides along as a join filter."""
    li, o, c, s, n, r = (
        table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation", "region")
    )
    asia_nations = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(asia_nations, c["c_nationkey"] == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "join_part_supplier_pricing",
    oracle="""
    SELECT p_brand,
           count(*) AS n_lineitems,
           round(avg(l_extendedprice / l_quantity), 2) AS avg_unit_price,
           round(max(p_retailprice), 2) AS max_retail
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_size >= 20
    GROUP BY p_brand
    """,
    tags=("J-ext",),
)
def join_part_supplier_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with dim-side filter pushed below the join; part is
    broadcast so the 100 TB lineitem scan never shuffles."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") >= 20)
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias(
                "avg_unit_price"
            ),
            F.round(F.max("p_retailprice"), 2).alias("max_retail"),
        )
    )


# ---------------------------------------------------------------------------
# As-of and range joins (extended surface; absent from the reference,
# SURVEY.md §2.3 notes "No theta, range, as-of, or interval joins exist")
# ---------------------------------------------------------------------------


@register(
    "join_asof_last_purchase",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_id, c.user_id,
           (SELECT p.value FROM p
            WHERE p.user_id = c.user_id
              AND (p.ts < c.ts OR (p.ts = c.ts AND p.event_id < c.event_id))
            ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS last_purchase_value
    FROM c
    """,
    tags=("J-asof",),
)
def join_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each click picks up the value of the same
    user's most recent strictly-earlier purchase, ties broken by
    event_id.

    Spark-first formulation: instead of a per-row lookup (the oracle's
    correlated subquery) or an O(n*m) inequality join, union the two
    sides and take ``last(purchase_struct, ignoreNulls)`` over a
    (user_id)-partitioned window ordered by (ts, event_id) — ONE
    shuffle on user_id, linear scan per partition, no pair blow-up.
    This is the standard scalable as-of pattern (same shape Flink's
    temporal join and kdb's aj use)."""
    ev = table(spark, sf_dir, "events")
    both = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("p_value"),
        (F.col("event_type") == "click").alias("is_click"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        both.withColumn("last_purchase_value", F.last("p_value", ignorenulls=True).over(w))
        .filter("is_click")
        .select(
            F.col("event_id").alias("click_id"), "user_id", "last_purchase_value"
        )
    )


@register(
    "join_range_error_burst",
    oracle="""
    SELECT a.event_id AS error_id, b.event_id AS follow_id,
           b.event_type AS follow_type
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '5 minutes'
    WHERE a.event_type = 'error'
    """,
    tags=("J-range",),
)
def join_range_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: every event within 5 minutes *after* an
    error by the same user.

    Scale path: a naive theta-join degenerates to per-user cross
    products. Here each error row is exploded to its two covering
    5-minute buckets, so the join is an EQUI-join on
    (user_id, bucket) — shuffle-partitionable, AQE-skew-splittable —
    with the exact ts-range predicate applied as a post-filter.
    Bucket width == range width means exactly 2 buckets per probe row
    regardless of data volume."""
    ev = table(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("a_ts") / 300).cast("long")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("a_user"),
            F.col("ts").alias("a_ts"),
        )
        .withColumn("bucket", F.explode(F.array(bucket, bucket + 1)))
    )
    follows = ev.select(
        F.col("event_id").alias("follow_id"),
        F.col("event_type").alias("follow_type"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.floor(F.unix_timestamp("ts") / 300).cast("long").alias("bucket"),
    )
    return (
        errors.join(
            follows,
            (F.col("a_user") == F.col("b_user")) & (errors["bucket"] == follows["bucket"]),
        )
        .filter(
            (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES"))
        )
        .select("error_id", "follow_id", "follow_type")
    )


_BLOOM_M = 8192  # bits
_BLOOM_STARTS = (1, 9, 17)  # md5 hex-slice offsets -> 3 independent hashes
_BLOOM_CUTOFF = 400_000.0


def _bloom_positions_spark(key):
    return [
        F.pmod(
            F.conv(F.substring(F.md5(key.cast("string")), s, 15), 16, 10).cast(
                "long"
            ),
            F.lit(_BLOOM_M),
        )
        for s in _BLOOM_STARTS
    ]


def _bloom_positions_duck(key_expr: str) -> str:
    return (
        "["
        + ", ".join(
            f"(('0x' || substr(md5({key_expr}), {s}, 15))::BIGINT) % {_BLOOM_M}"
            for s in _BLOOM_STARTS
        )
        + "]"
    )


@register(
    "join_bloom_semi_prune",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_totalprice > {_BLOOM_CUTOFF}
    ),
    pos AS (
      SELECT DISTINCT u.p
      FROM build, unnest({_bloom_positions_duck("k::VARCHAR")}) AS u(p)
    ),
    occ AS (SELECT list(p ORDER BY p) AS ps FROM pos)
    SELECT c_custkey,
           len(list_filter({_bloom_positions_duck("c_custkey::VARCHAR")},
                           x -> list_contains(occ.ps, x))) = 3 AS in_bloom,
           c_custkey IN (SELECT k FROM build) AS is_match
    FROM customer, occ
    """,
    tags=("J-ext", "BLOOM"),
)
def join_bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning — THE runtime-filter pattern for
    100 TB joins: the build side (customers holding a >400k order)
    compresses to an 8192-bit filter (3 md5-slice hashes per key) that
    broadcasts to the probe side and rejects most non-matching rows
    before the exact join ever shuffles them. The query outputs each
    probe key's bloom verdict NEXT TO ground truth, so the oracle
    bit-checks the filter itself (including its false positives —
    in_bloom & NOT is_match rows are the FP rate the m/k choice
    implies, ~(1-e^(-3n/m))^3).

    Plan shape: the occupied-bit set aggregates to ONE array row
    (bounded by m) and broadcasts; probe evaluation is a map-only
    forall over 3 positions — no shuffle touches the probe table."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    build = (
        o.filter(F.col("o_totalprice") > _BLOOM_CUTOFF)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    # Pack occupied bits into m/64 int64 words (a REAL bloom bitmap):
    # membership is then element_at + shift + mask — O(1) per position,
    # not a linear scan of the occupied-position array (the array
    # formulation measured 5.5 s at sf0.1; this one 1.2 s).
    pos = build.select(
        F.explode(F.array(*_bloom_positions_spark(F.col("k")))).alias("p")
    )
    words = pos.groupBy(F.expr("CAST(p DIV 64 AS INT)").alias("w")).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
        ).alias("bits")
    )
    bitmap = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("wm")
    ).select(
        F.expr(
            f"transform(sequence(0, {_BLOOM_M // 64 - 1}),"
            " i -> coalesce(element_at(wm, i), CAST(0 AS BIGINT)))"
        ).alias("ws")
    )
    probe = c.select(
        "c_custkey",
        F.array(*_bloom_positions_spark(F.col("c_custkey"))).alias("pp"),
    )
    bit_test = (
        "forall(pp, p -> "
        "(shiftright(element_at(ws, CAST(p DIV 64 AS INT) + 1),"
        " CAST(p % 64 AS INT)) & 1L) = 1L)"
    )
    return (
        probe.crossJoin(bitmap)
        .join(
            build.withColumn("matched", F.lit(True)),
            probe["c_custkey"] == F.col("k"),
            "left",
        )
        .select(
            "c_custkey",
            F.expr(bit_test).alias("in_bloom"),
            F.coalesce("matched", F.lit(False)).alias("is_match"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join with tolerance (bounded-staleness temporal lookup)
# ---------------------------------------------------------------------------

#: Max staleness of the as-of match, in seconds (1 hour).
_ASOF_TOL_S = 3600


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), m AS (
      SELECT c.event_id AS click_id, c.user_id, c.ts,
             (SELECT p.ts FROM p
              WHERE p.user_id = c.user_id
                AND (p.ts < c.ts OR (p.ts = c.ts AND p.event_id < c.event_id))
              ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS m_ts,
             (SELECT p.value FROM p
              WHERE p.user_id = c.user_id
                AND (p.ts < c.ts OR (p.ts = c.ts AND p.event_id < c.event_id))
              ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS m_value
      FROM c
    )
    SELECT click_id, user_id,
           CASE WHEN m_ts >= ts - INTERVAL {_ASOF_TOL_S} SECONDS
                THEN m_value END AS asof_value,
           coalesce(m_ts >= ts - INTERVAL {_ASOF_TOL_S} SECONDS, FALSE)
             AS matched
    FROM m
    """,
    tags=("J-asof",),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE: each click takes the same user's most
    recent strictly-earlier purchase value only if that purchase is at
    most 1 hour (_ASOF_TOL_S) stale, else NULL — pandas
    merge_asof(tolerance=...) / kdb aj with a staleness bound, the
    variant a feature-store join actually needs (an unbounded as-of
    happily serves a feature from last month).

    Same single-shuffle shape as join_asof_last_purchase (joins.py:350):
    union both sides, one (user_id)-partitioned window ordered by
    (ts, event_id), last(purchase_struct, ignoreNulls) over the
    preceding frame — the struct carries the match's ts so the
    tolerance is one comparison AFTER the window, not a second join.
    The oracle states the same semantics with two aligned correlated
    subqueries (pick, then bound)."""
    ev = table(spark, sf_dir, "events")
    both = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.struct("ts", "value"),
        ).alias("p"),
        (F.col("event_type") == "click").alias("is_click"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.col("m.ts") >= F.col("ts") - F.expr(
        f"INTERVAL {_ASOF_TOL_S} SECONDS"
    )
    return (
        both.withColumn("m", F.last("p", ignorenulls=True).over(w))
        .filter("is_click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.when(within, F.col("m.value")).alias("asof_value"),
            F.coalesce(within, F.lit(False)).alias("matched"),
        )
    )


# ---------------------------------------------------------------------------
# As-of NEAREST: closest match in either direction, bounded, tie -> backward
# ---------------------------------------------------------------------------

_ASOF_NEAR_TOL_US = 600_000_000  # 10 minutes


@register(
    "join_asof_nearest",
    oracle=f"""
    WITH sides AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_type = 'purchase' THEN struct_pack(
               us := epoch_us(CAST(ts AS TIMESTAMP)),
               id := event_id,
               cents := CAST(floor(value * 100) AS BIGINT)) END AS p,
             event_type = 'click' AS is_click
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT event_id, user_id, epoch_us(ts) AS c_us, is_click,
             last_value(p IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS back,
             first_value(p IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd
      FROM sides
    ),
    d AS (
      SELECT event_id, user_id, c_us, back, fwd,
             CASE WHEN back IS NOT NULL
                  AND c_us - back.us <= {_ASOF_NEAR_TOL_US}
                  THEN c_us - back.us END AS db,
             CASE WHEN fwd IS NOT NULL
                  AND fwd.us - c_us <= {_ASOF_NEAR_TOL_US}
                  THEN fwd.us - c_us END AS df
      FROM w WHERE is_click
    )
    SELECT event_id AS click_id, user_id,
           CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df)
                  THEN back.id
                WHEN df IS NOT NULL THEN fwd.id END AS matched_id,
           CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df)
                  THEN -db
                WHEN df IS NOT NULL THEN df END AS delta_us,
           CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df)
                  THEN back.cents
                WHEN df IS NOT NULL THEN fwd.cents END AS matched_cents
    FROM d
    """,
    tags=("J-asof",),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST join (pandas merge_asof direction='nearest' with
    tolerance): each click matches the same user's closest purchase in
    EITHER time direction within 10 minutes, equal distances resolved
    backward — the alignment a feature join needs when the signal may
    be logged just after the observation (sensor skew) as well as
    before.  Unmatched clicks keep their row with NULLs (the left-join
    contract), and delta_us is signed (negative = matched backward) so
    the direction mix is auditable downstream.

    Spark-first shape: STILL one shuffle — union both sides, one
    (user_id)-partitioned ordered window, and BOTH candidates from the
    same exchange: last(purchase, ignoreNulls) over the preceding
    frame and first(purchase, ignoreNulls) over the following frame;
    the nearest-pick is a row-local comparison of two exact
    microsecond deltas.  No inequality join, no per-row subquery —
    the forward case costs one more window function, not another
    pass.  All comparisons are BIGINT microseconds; tie-break order
    (backward on equal distance) is stated identically in both
    engines."""
    ev = table(spark, sf_dir, "events")
    both = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("id"),
                F.floor(F.col("value") * 100).cast("long").alias("cents"),
            ),
        ).alias("p"),
        (F.col("event_type") == "click").alias("is_click"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    c_us = F.unix_micros("ts")
    d = (
        both.withColumn("back", F.last("p", ignorenulls=True).over(wb))
        .withColumn("fwd", F.first("p", ignorenulls=True).over(wf))
        .filter("is_click")
        .select(
            "event_id",
            "user_id",
            F.when(
                F.col("back").isNotNull()
                & (c_us - F.col("back.us") <= _ASOF_NEAR_TOL_US),
                c_us - F.col("back.us"),
            ).alias("db"),
            F.when(
                F.col("fwd").isNotNull()
                & (F.col("fwd.us") - c_us <= _ASOF_NEAR_TOL_US),
                F.col("fwd.us") - c_us,
            ).alias("df"),
            "back",
            "fwd",
        )
    )
    take_back = F.col("db").isNotNull() & (
        F.col("df").isNull() | (F.col("db") <= F.col("df"))
    )
    take_fwd = F.col("df").isNotNull()
    return d.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.when(take_back, F.col("back.id"))
        .when(take_fwd, F.col("fwd.id"))
        .alias("matched_id"),
        F.when(take_back, -F.col("db"))
        .when(take_fwd, F.col("df"))
        .alias("delta_us"),
        F.when(take_back, F.col("back.cents"))
        .when(take_fwd, F.col("fwd.cents"))
        .alias("matched_cents"),
    )


# ---------------------------------------------------------------------------
# Lateral join: per-customer top-N orders via a correlated subquery
# ---------------------------------------------------------------------------

_LATERAL_N = 3


@register(
    "join_lateral_topn_orders",
    oracle=f"""
    SELECT c.c_custkey, t.o_orderkey, t.price_cents, t.rnk
    FROM customer c,
    LATERAL (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                  AS BIGINT) AS rnk
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT {_LATERAL_N}
    ) t
    WHERE c.c_nationkey < 5
    """,
    tags=("J-ext", "SQL"),
)
def join_lateral_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — the ANSI spelling of "top N rows
    of B per row of A", run through spark.sql to exercise the SQL
    surface itself (Spark supports LATERAL since 3.2; DuckDB states
    the identical query).  Inner customers (nationkey < 5) each pick
    their 3 (_LATERAL_N) most expensive orders with deterministic
    (price DESC, orderkey) order and an explicit rank.

    What Catalyst does with it is the point: the correlated LATERAL
    decorrelates into a window/aggregate over a single equi-join on
    o_custkey (DomainJoin rewrite) — NOT a per-customer re-execution
    of the subquery, which is what a naive lateral loop would be at
    100 TB.  Prices are compared as DOUBLEs for ordering but reported
    as exact centi-unit BIGINTs."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT c.c_custkey, t.o_orderkey, t.price_cents, t.rnk
        FROM customer c,
        LATERAL (
          SELECT o_orderkey,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
                 CAST(row_number() OVER (ORDER BY o_totalprice DESC,
                                         o_orderkey) AS BIGINT) AS rnk
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT {_LATERAL_N}
        ) t
        WHERE c.c_nationkey < 5
        """
    )
