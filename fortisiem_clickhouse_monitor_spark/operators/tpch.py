"""TPC-H-analog query pack over the driver's TPC-H-ish fixtures.

The reference ships its relational work to ClickHouse as opaque SQL
(chStats.py:79, 142, 151, 158-168) — its own surface never exceeds
filter/project/aggregate/lookup-join.  SURVEY.md §2.3 therefore calls
for the driver corpus's multi-way equi joins as the extended join
surface; this module completes that corpus with analogs of the classic
TPC-H queries (Q4, Q6-Q16, Q18, Q19, Q21, Q22 and an argmin Q2 stand-in)
adapted to the reduced fixture schemas (no partsupp / shipmode /
commitdate columns, see TESTDATA.md).

Every query is a pure DataFrame declaration — Catalyst does join
reordering, predicate pushdown and AQE picks broadcast vs shuffle:

* dims (region/nation/supplier/customer/part at these ratios) are
  broadcast by the planner while they fit autoBroadcastJoinThreshold;
  fact⋈fact joins (lineitem⋈orders) shuffle once on the
  join key and reuse that partitioning for the following group-by where
  the keys line up.
* EXISTS / NOT EXISTS forms are expressed as one-pass per-group flag
  aggregations (counts of distinct matching keys) instead of
  correlated re-scans — at 100 TB the fact is read once, not once per
  subquery.
* Top-k with deterministic tiebreaks (`orderBy(desc(metric), key)` +
  `limit`) lowers to TakeOrderedAndProject — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table


# ---------------------------------------------------------------------------
# Q4: order-priority checking — EXISTS(lineitem shipped >30d after order)
# ---------------------------------------------------------------------------


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("J-ext", "subquery"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: correlated EXISTS as a left-semi join.  The
    date filter prunes orders before the join (pushed to the parquet
    scan), and the semi join stops probing an order at its first late
    line — no duplicate elimination needed afterwards."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] > F.expr("o_orderdate + INTERVAL 30 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# Q6: forecasting-revenue-change — pure scan-side filter + single agg
# ---------------------------------------------------------------------------


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("A-ext",),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: every predicate is scan-pushable (shown under
    PushedFilters in the physical plan), so at 100 TB this reads only
    row groups whose min/max straddle 1996 — the aggregate itself is a
    partial+final sum with no grouping shuffle."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations, by year
# ---------------------------------------------------------------------------


@register(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("J-ext",),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: 6-way join where the nation pair predicate
    restricts both dimension legs to one row each — broadcast on every
    dim leg, so the only shuffle is lineitem⋈orders on the orderkey."""
    li, o, c, s, n = (
        table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q8: national market share inside a region, by order year
# ---------------------------------------------------------------------------


@register(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
           region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
    tags=("J-ext",),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: 8-way join; the share numerator is a
    conditional aggregate over the same pass as the denominator (the
    SURVEY A4 pattern), never a self-join."""
    li, o, c, s, p, n, r = (
        table(spark, sf_dir, t)
        for t in (
            "lineitem",
            "orders",
            "customer",
            "supplier",
            "part",
            "nation",
            "region",
        )
    )
    cust_nation = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "AMERICA")
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    supp_nation = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    promo = p.filter(F.col("p_type") == "PROMO").select("p_partkey")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(promo, li["l_partkey"] == promo["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(cust_nation, F.col("c_nationkey") == F.col("c_nk"), "inner")
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(supp_nation, F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9: product-type profit by supplier nation and year (no ps_supplycost in
# the fixtures — profit is the discounted revenue of matching parts)
# ---------------------------------------------------------------------------


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT nation, o_year, round(sum(volume), 0) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
    tags=("J-ext",),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog: the LIKE filter prunes part before its join
    (broadcast), so the fact⋈fact shuffle carries only matching parts'
    lines."""
    li, o, s, p, n = (
        table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "supplier", "part", "nation")
    )
    widget = p.filter(F.col("p_name").like("%widget%")).select("p_partkey")
    nat = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(widget, li["l_partkey"] == widget["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(nat, F.col("s_nationkey") == F.col("s_nk"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        # whole-unit rounding: these sums are ~1e10, where cent-level
        # rounding sits inside fp summation-order noise (a .xx5 boundary
        # flips between engines); the canon hash uses 12 sig digits.
        .agg(F.round(F.sum(vol), 0).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q10: returned-item reporting — top 20 customers by lost revenue
# ---------------------------------------------------------------------------


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("J-ext", "topk"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog.  Deterministic top-k (c_custkey tiebreak)
    lowers to TakeOrderedAndProject — each partition keeps its local 20,
    the driver merges; no global sort at any scale."""
    li, o, c, n = (
        table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation")
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-07-01")
            ),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11: important parts — value above a fraction of the global total
# ---------------------------------------------------------------------------


@register(
    "tpch_q11_important_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS val
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, round(val, 2) AS part_value
    FROM pv
    WHERE val > (SELECT 1.5 * avg(val) FROM pv)
    """,
    tags=("A-ext", "subquery"),
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog: HAVING against a global scalar.  The per-part
    aggregate is computed once and reused for both the scalar (second,
    tiny aggregation) and the filter — a 1-row broadcast cross join,
    not a rescan of lineitem.

    Threshold is MEAN-relative (1.5x the average part value), not a
    fixed fraction of the total: the spec's fraction is 0.0001/SF —
    SF-dependent by design — and a fixed 0.001 went vacuous the moment
    the part count passed 1000 (every share fell below it; the r7
    non-vacuous gate caught exactly that).  Mean-relative is scale-free:
    the 'important' set stays a stable tail at any corpus size."""
    li = table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val")
    )
    total = pv.agg((F.avg("val") * 1.5).alias("threshold"))
    return (
        pv.join(total)
        .filter(F.col("val") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("partkey"), F.round("val", 2).alias("part_value")
        )
    )


# ---------------------------------------------------------------------------
# Q12: late shipments by line status vs order priority class (no l_shipmode
# in fixtures; lateness = shipped >60 days after order date)
# ---------------------------------------------------------------------------


@register(
    "tpch_q12_late_shipments",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
    tags=("J-ext",),
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog: the ship-window filter is scan-pushed on
    lineitem; the lateness predicate (cross-table) applies at the join.
    Counts are conditional aggregates — one pass, one shuffle."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li["l_orderkey"] == o["o_orderkey"])
            & (li["l_shipdate"] > F.expr("o_orderdate + INTERVAL 60 DAY")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution (filtered left outer join)
# ---------------------------------------------------------------------------


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    tags=("J-ext",),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog: left outer join with an extra ON-clause
    predicate (NOT a WHERE — unmatched customers must survive as
    count 0), then a two-level aggregation.  The second group-by is on
    an already-tiny domain (order counts), so its shuffle is trivial."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# Q14: promotion-revenue share in a month
# ---------------------------------------------------------------------------


@register(
    "tpch_q14_promo_effect",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    tags=("J-ext",),
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: conditional-aggregate share (SURVEY A4) over a
    broadcast part join — one month of lineitem survives the pushed
    scan filter."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q15: top supplier by quarter revenue (all ties kept, like the spec)
# ---------------------------------------------------------------------------


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    QUALIFY total_revenue = max(total_revenue) OVER ()
    """,
    tags=("J-ext", "window"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analog: the max-revenue scalar is a 1-row aggregate
    broadcast-cross-joined back onto the per-supplier rollup (NOT an
    unpartitioned window, which would drag every supplier into a single
    partition at scale); lineitem is read exactly once and the rollup
    is reused for both the scalar and the filter."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(mx)
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16: supplier variety per brand/size (partsupp replaced by observed
# lineitem supplier-part pairs)
# ---------------------------------------------------------------------------


@register(
    "tpch_q16_part_variety",
    oracle="""
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part, lineitem
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_brand, p_size
    """,
    tags=("J-ext",),
)
def tpch_q16_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog: distinct-count of suppliers per brand/size.
    The part-side predicates prune the broadcast dim before the join;
    the distinct is a two-phase partial aggregation."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17: small-quantity-order revenue (correlated avg subquery)
# ---------------------------------------------------------------------------


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    tags=("J-ext", "subquery"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog (p_container absent from the fixture → brand-only
    predicate).  The correlated per-part avg(l_quantity) subquery is
    decorrelated into a window average: the broadcast of the filtered
    part dim prunes lineitem FIRST, so the single shuffle that the
    window needs runs over ~1/25 of the fact, and the per-part average
    and the threshold comparison happen in that one exchange — versus
    the naive plan's second full scan of lineitem for the subquery."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    pruned = li.join(p, li["l_partkey"] == p["p_partkey"])
    w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q18: large-volume customers
# ---------------------------------------------------------------------------


@register(
    "tpch_q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    HAVING sum(l_quantity) > 250
    """,
    tags=("J-ext",),
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog.  Aggregates lineitem by orderkey FIRST (the
    selective HAVING), then joins the tiny survivor set to orders and
    customer — at scale the order of those two steps is the difference
    between shuffling all of lineitem⋈orders and shuffling ~1%."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.round("qty", 2).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Q19: disjunctive brand/size/quantity battery
# ---------------------------------------------------------------------------


@register(
    "tpch_q19_disjunctive_predicates",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
         (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
          AND l_quantity BETWEEN 1 AND 11)
      OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25
          AND l_quantity BETWEEN 10 AND 20)
      OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35
          AND l_quantity BETWEEN 20 AND 30))
    """,
    tags=("J-ext",),
)
def tpch_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: OR-of-ANDs across both join sides.  Catalyst
    derives the common part-side implication (brand ∈ {…} AND size ≤ 35)
    and pushes it below the join, so the broadcast dim only carries
    candidate parts."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        arm("Brand#3", 15, 1, 11) | arm("Brand#12", 25, 10, 20) | arm("Brand#21", 35, 20, 30)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


# ---------------------------------------------------------------------------
# Q21: suppliers who kept multi-supplier orders waiting (no commit/receipt
# dates in fixtures; "late" = shipped >75 days after the order date)
# ---------------------------------------------------------------------------


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
    WITH flagged AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 75 DAY) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
      FROM flagged GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM flagged f
    JOIN per_order po ON f.l_orderkey = po.l_orderkey
    JOIN supplier ON s_suppkey = f.l_suppkey
    WHERE f.late AND po.n_supp >= 2 AND po.n_late = 1
    GROUP BY s_name
    """,
    tags=("J-ext", "subquery"),
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog.  The spec's EXISTS + NOT-EXISTS pair collapses
    into per-order flag counts (distinct suppliers / distinct late
    suppliers) computed in ONE pass over the fact — the classic
    decorrelation; the reference-style correlated form would rescan
    lineitem twice per row.  The counts are WINDOW aggregates over
    l_orderkey (size of collect_set), not a groupBy + self-join: one
    exchange, one evaluation of the flagged subtree, no SortMergeJoin
    (the groupBy formulation cost a second scan + SMJ at sf0.1)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    flagged = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 75 DAY")).alias("late"),
    )
    w = Window.partitionBy("l_orderkey")
    counted = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        # collect_set skips NULLs, so non-late rows don't contribute
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)
        ).alias("n_late"),
    )
    s = table(spark, sf_dir, "supplier")
    return (
        counted.filter(
            F.col("late") & (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
        )
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q22: dormant high-balance customers by nation (all fixture customers have
# orders, so "no orders" becomes "no orders since 1999")
# ---------------------------------------------------------------------------


@register(
    "tpch_q22_dormant_customers",
    oracle="""
    SELECT n_name AS cntry, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY n_name
    """,
    tags=("J-ext", "subquery"),
)
def tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: scalar-average threshold (1-row broadcast
    cross join) + null-free NOT EXISTS as a left-anti join against the
    date-pruned orders scan."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("threshold")
    )
    recent = o.filter(F.col("o_orderdate") >= "1999-01-01").select("o_custkey")
    return (
        c.join(avg_bal)
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .join(n, F.col("c_nationkey") == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q20: suppliers with excess stock of a part family (no partsupp/ps_availqty
# in fixtures — "availability" is the supplier's all-time shipped quantity of
# the part, "excess" = more than half of it moved in 1996 alone)
# ---------------------------------------------------------------------------


@register(
    "tpch_q20_excess_stock_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate <  TIMESTAMP '1997-01-01'
                      THEN l_quantity ELSE 0 END) AS qty_1996,
             sum(l_quantity) AS qty_total
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%widget%'
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s_suppkey, s_name, count(*) AS excess_parts
    FROM shipped JOIN supplier ON s_suppkey = l_suppkey
    WHERE qty_1996 > 0.5 * qty_total
    GROUP BY s_suppkey, s_name
    """,
    tags=("J-ext", "subquery"),
)
def tpch_q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog.  The spec's nested IN(IN(…)) + correlated
    half-of-shipped threshold collapses into ONE pass over the
    part-pruned fact: both the 1996 quantity and the all-time quantity
    are conditional aggregates of the same group-by (SURVEY A4), so
    lineitem is scanned once and shuffled once on (suppkey, partkey) —
    the correlated form would rescan the fact per supplier-part pair."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    widget = p.filter(F.col("p_name").like("%widget%")).select("p_partkey")
    in_1996 = (F.col("l_shipdate") >= "1996-01-01") & (
        F.col("l_shipdate") < "1997-01-01"
    )
    shipped = (
        li.join(widget, li["l_partkey"] == widget["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1996, F.col("l_quantity")).otherwise(0.0)).alias(
                "qty_1996"
            ),
            F.sum("l_quantity").alias("qty_total"),
        )
    )
    return (
        shipped.filter(F.col("qty_1996") > 0.5 * F.col("qty_total"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("excess_parts"))
    )


# ---------------------------------------------------------------------------
# Q2 stand-in: cheapest (argmin) supplier per qualifying part — the
# fixtures lack partsupp, so supply cost is the supplier's observed
# aggregate lineitem revenue for that part
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_argmin_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey, round(sum(l_extendedprice), 2) AS tot
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, p_brand, s_name, tot AS min_cost
    FROM cost
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size <= 5 AND p_type = 'LARGE'
    QUALIFY row_number() OVER (PARTITION BY l_partkey
                               ORDER BY tot, l_suppkey) = 1
    """,
    tags=("J-ext", "window"),
)
def tpch_q2_argmin_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog: group-wise argmin via row_number over the
    per-(part,supplier) aggregate, with a deterministic suppkey
    tiebreak (SURVEY §7.3 risk 3 discipline).  The part filter is
    applied before the window, shrinking the ranked set."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 5) & (F.col("p_type") == "LARGE")
    )
    s = table(spark, sf_dir, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("tot")
    )
    w = Window.partitionBy("l_partkey").orderBy("tot", "l_suppkey")
    return (
        cost.join(p, cost["l_partkey"] == p["p_partkey"])
        .join(s, cost["l_suppkey"] == s["s_suppkey"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_brand", "s_name", F.col("tot").alias("min_cost"))
    )
