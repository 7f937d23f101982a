"""Advanced relational surface (extended corpus, SURVEY.md §2.4/§2.6/§2.7
notes): multi-dimensional aggregation (cube / grouping sets), pivot,
set operations, exact percentiles, distribution windows (ntile /
cume_dist / percent_rank), histograms, time-series bucketing, and
deterministic content-hash sampling.

All built-in Catalyst operators — cube/rollup/grouping-sets lower to a
single Expand + hash-aggregate (one shuffle); pivot lowers to a
conditional aggregate; percentile / ntile need a sort only within
their partitions. Nothing here leaves the JVM.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hll
from ..registry import register
from ..sources.tables import bind, table

# ---------------------------------------------------------------------------
# Multi-dimensional aggregation
# ---------------------------------------------------------------------------


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("A-ext",),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in ONE pass —
    Catalyst's Expand duplicates each input row per grouping set before
    a single partial+final hash aggregate (no per-set rescan)."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "grouping_sets_region_nation",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """,
    tags=("A-ext",),
)
def grouping_sets_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (region+nation, region, grand total) via
    spark.sql over temp views — the SQL surface of the engine; dims are
    auto-broadcast under AQE."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    table(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql(
        """
        SELECT r_name, n_name, count(*) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


@register(
    "pivot_events_by_type",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'error')    AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    """,
    tags=("A-ext",),
)
def pivot_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list (no distinct-scan pre-pass —
    at 100 TB an implicit pivot means an extra full aggregation just to
    learn the columns). Lowers to one conditional aggregate."""
    ev = table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "set_intersect_repeat_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    tags=("U-ext",),
)
def set_intersect_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two filtered projections — customers who
    ordered in both 1995 and 1996. Spark plans this as a left-semi
    aggregate join on the shared key."""
    o = table(spark, sf_dir, "orders")
    y95 = o.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select(F.col("o_custkey").alias("custkey"))
    y96 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select(F.col("o_custkey").alias("custkey"))
    return y95.intersect(y96)


@register(
    "set_except_churned_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    tags=("U-ext",),
)
def set_except_churned_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): 1995 buyers who did not return in 1996 —
    planned as a left-anti join after aggregation."""
    o = table(spark, sf_dir, "orders")
    y95 = o.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select(F.col("o_custkey").alias("custkey"))
    y96 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select(F.col("o_custkey").alias("custkey"))
    return y95.subtract(y96)


# ---------------------------------------------------------------------------
# Percentiles / distribution
# ---------------------------------------------------------------------------


@register(
    "percentiles_order_price",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("A-ext",),
)
def percentiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`percentile`, the
    SQL-standard percentile_cont semantics). At 100 TB the drop-in
    scale path is `percentile_approx` (t-digest sketch, mergeable,
    no full sort); exact form kept here for oracle parity."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
    )


@register(
    "window_distribution_ranks",
    oracle="""
    SELECT event_id,
           event_type,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    tags=("W-ext",),
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile / percent_rank / cume_dist
    per event_type, deterministically ordered by (value, event_id)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "histogram_event_values",
    oracle="""
    SELECT CAST(floor(value / 5.0) AS BIGINT) AS bin,
           count(*) AS n,
           round(avg(value), 4) AS avg_in_bin
    FROM events
    GROUP BY 1
    """,
    tags=("A-ext",),
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a bucketed aggregate — the scalable
    histogram shape (single shuffle on ~n_bins keys)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 5.0).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("avg_in_bin"),
    )


# ---------------------------------------------------------------------------
# Time series / sampling
# ---------------------------------------------------------------------------


@register(
    "timeseries_daily_activity",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS dau,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("A-ext", "TS"),
)
def timeseries_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup with per-day distinct users — the canonical
    time-series downsample. date_trunc keeps the ts column's partition
    alignment, so at scale this aggregates within time-partitioned
    parquet without cross-partition shuffle of raw rows (only the
    distinct needs the exchange)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("dau"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "sample_content_hash",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
    tags=("SAMPLE",),
)
def sample_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% sample by content hash (md5 hex prefix) —
    reproducible across engines and runs, unlike TABLESAMPLE; the
    standard trick for carving stable eval/holdout splits out of a
    100 TB corpus. Pure map-side filter: no shuffle, no state."""
    d = table(spark, sf_dir, "documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    ).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# Frame/type coverage completions: RANGE frames, FULL OUTER join,
# distinct-array aggregation, bivariate statistics
# ---------------------------------------------------------------------------


@register(
    "window_range_frame_sum",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             RANGE BETWEEN INTERVAL '10 minutes' PRECEDING AND CURRENT ROW
           ), 2) AS sum_10m
    FROM events
    """,
    tags=("W-ext",),
)
def window_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user rolling 10-minute sum — the
    moving-aggregate shape (value-based frame, not row-count-based).
    Runs via spark.sql because the DataFrame API's rangeBetween is
    limited to numeric offsets; SQL INTERVAL frames map directly."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_id, user_id,
               round(sum(value) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW
               ), 2) AS sum_10m
        FROM events
        """
    )


@register(
    "join_full_outer_daily_funnel",
    oracle="""
    WITH c AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
             user_id, count(*) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), p AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
             user_id, count(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT coalesce(c.day, p.day) AS day,
           coalesce(c.user_id, p.user_id) AS user_id,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(p.n_purchases, 0) AS n_purchases
    FROM c FULL OUTER JOIN p ON c.day = p.day AND c.user_id = p.user_id
    """,
    tags=("J-ext",),
)
def join_full_outer_daily_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregated branches (daily clicks vs
    purchases per user) — preserves days where either side is absent.
    Both branches aggregate BEFORE the join (shuffle on small keyed
    aggregates, not raw events); full-outer requires a shuffle join by
    definition, keyed on (day, user_id)."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(day, "user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day, "user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        c.join(p, ["day", "user_id"], "full_outer")
        .select(
            "day",
            "user_id",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        )
    )


@register(
    "agg_collect_distinct_sorted",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
             AS event_types
    FROM events
    GROUP BY user_id
    """,
    tags=("A-ext",),
)
def agg_collect_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-array aggregation with canonical ordering:
    collect_set -> array_sort -> array_join (collect_set order is
    nondeterministic, so the sort is mandatory for any comparison —
    SURVEY §7.3 risk 4)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        )
    )


@register(
    "agg_bivariate_stats",
    oracle="""
    SELECT event_type,
           round(corr(value, extract(epoch FROM CAST(ts AS TIMESTAMP))), 4)
             AS corr_value_time,
           round(stddev_samp(value), 4) AS sd_value,
           round(var_samp(value), 4) AS var_value
    FROM events
    GROUP BY event_type
    """,
    tags=("A-ext",),
)
def agg_bivariate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate/variance statistics per group (corr, stddev, variance)
    — single-pass mergeable moment aggregates (partial+final), the same
    shape as sum/count at scale."""
    ev = table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", epoch), 4).alias("corr_value_time"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
    )


# ---------------------------------------------------------------------------
# Subquery patterns (TPC-H Q4/Q16/Q17 shapes): correlated EXISTS,
# null-aware NOT IN, correlated scalar aggregate
# ---------------------------------------------------------------------------


@register(
    "subquery_exists_big_item_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    GROUP BY o_orderpriority
    """,
    tags=("SUBQ",),
)
def subquery_exists_big_item_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape) via spark.sql — Catalyst
    rewrites it to a left-semi join on the correlation key, so the
    subquery never executes per-row."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_quantity > 45
        )
        GROUP BY o_orderpriority
        """
    )


@register(
    "subquery_not_in_unshipped_parts",
    oracle="""
    SELECT p_brand, count(*) AS n_parts
    FROM part
    WHERE p_partkey NOT IN (
      SELECT l_partkey FROM lineitem
      WHERE l_shipdate >= (
        SELECT max(l_shipdate) - INTERVAL 90 DAY FROM lineitem
      )
    )
    GROUP BY p_brand
    """,
    tags=("SUBQ",),
)
def subquery_not_in_unshipped_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery (TPC-H Q16 shape): parts with no shipment in
    the trailing 90 days of the data — Catalyst plans a null-aware
    left-anti join, with the cutoff itself a scalar subquery (one
    extra max() pass, broadcast as a literal after execution).

    The cutoff is data-derived rather than a calendar constant so the
    check is non-vacuous at every scale factor (a fixed '1997-01-01'
    matched zero parts on this corpus: 0-rows-vs-0-rows green —
    VERDICT r5 nit #3, same class as r4's outlier_daily_mad)."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT p_brand, count(*) AS n_parts
        FROM part
        WHERE p_partkey NOT IN (
          SELECT l_partkey FROM lineitem
          WHERE l_shipdate >= (
            SELECT max(l_shipdate) - INTERVAL 90 DAY FROM lineitem
          )
        )
        GROUP BY p_brand
        """
    )


@register(
    "subquery_correlated_scalar_small_qty",
    oracle="""
    SELECT l.l_partkey,
           round(sum(l.l_extendedprice), 2) AS small_qty_revenue
    FROM lineitem l
    WHERE l.l_quantity < (
      SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY l.l_partkey
    """,
    tags=("SUBQ",),
)
def subquery_correlated_scalar_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate subquery (TPC-H Q17 shape): lineitems
    below half their part's average quantity. Catalyst de-correlates to
    an aggregate + join on l_partkey — one extra pass over lineitem,
    not one subquery per row."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l.l_partkey,
               round(sum(l.l_extendedprice), 2) AS small_qty_revenue
        FROM lineitem l
        WHERE l.l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY l.l_partkey
        """
    )


@register(
    "sample_weighted_priority",
    oracle="""
    WITH prio AS (
      SELECT doc_id, lang, n_chars,
             pow(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) AS DOUBLE) / 4294967296.0,
                 1.0 / n_chars) AS priority
      FROM documents
    )
    SELECT doc_id, lang, n_chars, round(priority, 10) AS priority
    FROM prio
    ORDER BY priority DESC, doc_id ASC
    LIMIT 100
    """,
    tags=("SAMPLE",),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-Res):
    priority = u^(1/w) with u a deterministic md5-derived uniform and
    w = n_chars; the top-k by priority is a weighted sample. Hash-based
    u makes the sample reproducible across engines and runs — and at
    100 TB the top-k is TakeOrderedAndProject (per-partition heaps, no
    global sort)."""
    d = table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    prio = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    return (
        d.select("doc_id", "lang", "n_chars", F.round(prio, 10).alias("priority"))
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(100)
    )


@register(
    "sketch_monthly_users_from_daily",
    oracle=f"""
    WITH regs AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
             {hll.duck_bucket("user_id::VARCHAR")} AS bucket,
             max({hll.duck_rho("user_id::VARCHAR")}) AS m_rho,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    monthly AS (
      SELECT CAST(date_trunc('month', day) AS TIMESTAMP) AS month, bucket,
             max(m_rho) AS m_rho
      FROM regs GROUP BY 1, 2
    ),
    est AS (
      SELECT month, sum({hll.DUCK_REG_TERM}) AS s_present,
             count(*) AS n_present
      FROM monthly GROUP BY month
    ),
    ev AS (
      SELECT CAST(date_trunc('month', day) AS TIMESTAMP) AS month,
             CAST(sum(n_events) AS BIGINT) AS n_events
      FROM regs GROUP BY 1
    )
    SELECT e.month,
           round({hll.duck_estimate("s.s_present", "s.n_present")}, 4) AS est_users,
           e.n_events
    FROM est s JOIN ev e USING (month)
    """,
    tags=("A-ext", "SKETCH"),
)
def sketch_monthly_users_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: daily HLL registers of distinct users,
    max-merged into monthly estimates — THE pattern for distinct counts
    at 100 TB: the expensive pass happens once per day over new data
    only; coarser rollups merge 512-register summaries (kilobytes)
    instead of rescanning raw events.

    Uses the deterministic md5-based HLL from functions/hll.py, so the
    estimate hash-matches the DuckDB oracle exactly (round 1's
    datasketches version was stuck as a rows-only check);
    estimate-vs-exact tolerance is unit-tested in
    tests/test_sketches.py."""
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        hll.hash_col(F.col("user_id")).alias("h"),
    )
    daily = ev.groupBy("day", hll.bucket_of(F.col("h"))).agg(
        F.max(hll.rho_of(F.col("h"))).alias("m_rho"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # n_events rides THROUGH the register rollup (sum per bucket, then
    # sum of bucket sums) — one scan, three key-narrowing exchanges, no
    # second events branch + rejoin.
    monthly = daily.groupBy(
        F.date_trunc("month", "day").alias("month"), "bucket"
    ).agg(F.max("m_rho").alias("m_rho"), F.sum("n_events").alias("n_events_b"))
    return monthly.groupBy("month").agg(
        F.round(
            hll.estimate_col(
                F.sum(F.expr(hll.REG_TERM_EXPR)), F.count(F.lit(1))
            ),
            4,
        ).alias("est_users"),
        F.sum("n_events_b").alias("n_events"),
    )


@register(
    "sketch_heavy_hitter_tokens",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                    _x -> _x <> '')) AS token
          FROM documents) t
    GROUP BY token ORDER BY n DESC, token LIMIT 25
    """,
    tags=("A-ext", "SKETCH", "TXT"),
)
def sketch_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-25 most frequent tokens via the candidate+verify
    heavy-hitters pattern: per-partition Misra-Gries summaries (512
    counters, Arrow-batched mapInPandas) nominate candidates — any
    token with global frequency > N/513 is guaranteed to survive in at
    least one partition summary — then one exact counting pass over
    candidate tokens only.

    Why not plain groupBy+limit: its shuffle carries one row per
    (partition, distinct token). At 100 TB with billions of distinct
    tokens that exchange dominates; MG bounds it to 512 rows per
    partition regardless of vocabulary size, and the verify join is a
    broadcast hash probe. The result stays EXACT (hence oracle-checked)
    as long as the true top-k are heavier than N/counters — a property
    the decrement bound guarantees for any Zipf-like corpus."""
    from ..functions import textfns
    from ..sources.tables import spread

    n_counters = 512
    toks = spread(table(spark, sf_dir, "documents"), "doc_id").select(
        F.explode(textfns.tokens("text")).alias("token")
    )

    def mg_partition(batches):
        # Batched Misra-Gries via summary merge (mergeable-summaries
        # result): add each Arrow batch's exact value_counts into the
        # summary, then if over capacity subtract the (k+1)-th largest
        # count from everything and drop the non-positive — identical
        # guarantee to per-item MG, but vectorized per batch.
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for t, c in pdf["token"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > n_counters:
                vals = sorted(counters.values(), reverse=True)
                thresh = vals[n_counters]
                counters = {t: c - thresh for t, c in counters.items() if c > thresh}
        yield pd.DataFrame({"token": list(counters.keys()) or [""]})

    cands = toks.mapInPandas(mg_partition, "token string").distinct()
    return (
        toks.join(cands, "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(25)
    )


_SQL_REVENUE = """
    WITH regional AS (
      SELECT n.n_name AS nation,
             l.l_extendedprice * (1 - l.l_discount) AS rev
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    )
    SELECT nation, round(sum(rev), 2) AS revenue, count(*) AS n_lines
    FROM regional GROUP BY nation
"""


@register(
    "sql_catalog_nation_revenue",
    oracle=_SQL_REVENUE,
    tags=("SQL", "J-ext"),
)
def sql_catalog_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-first entry point: the IDENTICAL text that DuckDB runs as
    the oracle is executed via spark.sql over catalog temp views —
    proving the engine's surface is reachable without the DataFrame API
    and that view-bound readers keep pushdown/pruning.  Catalyst plans
    it exactly like the DataFrame twin (joins reordered, dims
    broadcast)."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir, include_fixtures=False)
    return spark.sql(_SQL_REVENUE)


@register(
    "quality_median_filter_per_lang",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                  t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
               / len(list_filter(string_split_regex(trim(text), '\\s+'),
                                 _x -> _x <> '')) AS stop_ratio
      FROM documents
    ), meds AS (
      SELECT lang, median(stop_ratio) AS med FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, round(s.stop_ratio, 6) AS stop_ratio
    FROM scored s JOIN meds m USING (lang)
    WHERE s.stop_ratio > m.med
    """,
    tags=("A-ext", "TXT"),
)
def quality_median_filter_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-threshold corpus filter: keep documents whose stopword
    ratio exceeds their language's median (the 'top-half by quality
    signal' selection every curation pipeline runs).  Medians aggregate
    onto the |langs| domain with Spark's exact percentile aggregate and
    broadcast back — the fact never shuffles, same shape as the z-score
    screen."""
    from ..functions import textfns

    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    toks = F.col("toks")
    stop_ratio = (
        textfns.stopword_hits(toks, textfns.STOPWORDS["en"]).cast("double")
        / F.size(toks)
    )
    scored = d.select("doc_id", "lang", stop_ratio.alias("stop_ratio"))
    meds = scored.groupBy("lang").agg(
        F.expr("percentile(stop_ratio, 0.5)").alias("med")
    )
    return (
        scored.join(meds, "lang")
        .filter(F.col("stop_ratio") > F.col("med"))
        .select("doc_id", "lang", F.round("stop_ratio", 6).alias("stop_ratio"))
    )


_CM_W = 1024  # counters per row
_CM_STARTS = (1, 9, 17)  # md5 hex-slice offsets -> 3 independent rows


def _cm_bucket_duck(term_expr: str, start: int) -> str:
    return f"(('0x' || substr(md5({term_expr}), {start}, 15))::BIGINT) % {_CM_W}"


@register(
    "sketch_countmin_token_freq",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                _x -> _x <> '')) AS term
      FROM documents
    ),
    counters AS (
      SELECT u.i, CASE u.i
               WHEN 0 THEN {_cm_bucket_duck("term", 1)}
               WHEN 1 THEN {_cm_bucket_duck("term", 9)}
               ELSE {_cm_bucket_duck("term", 17)} END AS bucket,
             count(*) AS c
      FROM toks, unnest([0, 1, 2]) AS u(i)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT term, count(*) AS n
      FROM toks GROUP BY term ORDER BY n DESC, term LIMIT 25
    )
    SELECT e.term, e.n AS exact_n,
           least(c0.c, c1.c, c2.c) AS cm_est,
           least(c0.c, c1.c, c2.c) - e.n AS overcount
    FROM exact e
    JOIN counters c0 ON c0.i = 0 AND c0.bucket = {_cm_bucket_duck("e.term", 1)}
    JOIN counters c1 ON c1.i = 1 AND c1.bucket = {_cm_bucket_duck("e.term", 9)}
    JOIN counters c2 ON c2.i = 2 AND c2.bucket = {_cm_bucket_duck("e.term", 17)}
    """,
    tags=("A-ext", "SKETCH", "TXT"),
)
def sketch_countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (3 x 1024 counters, md5-slice hashes) of token
    frequencies, validated against exact counts for the top-25 tokens —
    the mergeable point-query sketch that answers "how often did term t
    occur" in fixed memory at 100 TB (counters sum across partitions
    and time windows; overcount >= 0 is the CM guarantee, bounded by
    2N/w per row).

    The counter build is one vocabulary-domain aggregate (3 rows per
    distinct token AFTER map-side partial aggregation, NOT 3x the token
    stream); lookups broadcast the 3072-row counter table. The oracle
    recomputes the identical sketch in DuckDB — deterministic hashes
    make even the approximation error hash-checkable."""
    from ..functions import textfns
    from ..sources.tables import spread

    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(F.explode(textfns.tokens("text")).alias("term"))
    # ONE token-stream exchange: per-term exact counts feed BOTH the
    # counter build and the top-25 validation side (the stream was
    # previously aggregated twice). Compression before expansion: md5
    # runs once per DISTINCT term (bound as an attribute), and counters
    # sum the term counts — identical counter content, |vocab| hashes
    # instead of 3x the token stream.
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tc = bind(tc, h=F.md5("term"))

    def bucket(start):
        return F.pmod(
            F.conv(F.substring("h", start, 15), 16, 10).cast("long"),
            F.lit(_CM_W),
        )

    counters = (
        tc.select(
            "n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            bucket(s).alias("bucket"),
                        )
                        for i, s in enumerate(_CM_STARTS)
                    ]
                )
            ).alias("rb"),
        )
        .groupBy("rb.i", "rb.bucket")
        .agg(F.sum("n").alias("c"))
    )
    exact = tc.orderBy(F.desc("n"), "term").limit(25)
    e = exact.select(
        "term",
        F.col("n").alias("exact_n"),
        *[bucket(s).alias(f"b{i}") for i, s in enumerate(_CM_STARTS)],
    )
    for i in range(3):
        ci = counters.filter(F.col("i") == i).select(
            F.col("bucket").alias(f"b{i}"), F.col("c").alias(f"c{i}")
        )
        e = e.join(F.broadcast(ci), f"b{i}")
    est = F.least("c0", "c1", "c2")
    return e.select(
        "term",
        "exact_n",
        est.alias("cm_est"),
        (est - F.col("exact_n")).alias("overcount"),
    )


@register(
    "rollup_incremental_maintenance",
    oracle="""
    SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             AS month,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("A-ext", "INCR"),
)
def rollup_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: monthly totals produced by
    MERGING a pre-aggregated daily history (events before the cutover)
    with freshly-aggregated raw events (after it) — the pattern that
    lets a 100 TB warehouse update yesterday's rollup without
    rescanning history: additive metrics (count, sum) aggregate on
    partials exactly, so the merged result is bit-equal to a full
    recompute, which is precisely what the oracle checks.

    Both branches are one scan each over DISJOINT partition-prunable
    time ranges; the merge is a unionByName + one month-keyed
    aggregate."""
    cut = "2024-01-15"  # mid-range: events span 2024-01-01..2024-01-30
    ev = table(spark, sf_dir, "events")
    # history branch: the daily pre-agg a real pipeline would persist
    daily_hist = (
        ev.filter(F.col("ts") < cut)
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv"))
        .select(
            F.date_trunc("month", "day").alias("month"),
            "event_type",
            "pn",
            "pv",
        )
    )
    # fresh branch: raw events since the cutover, aggregated to the
    # same partial shape
    fresh = (
        ev.filter(F.col("ts") >= cut)
        .groupBy(F.date_trunc("month", "ts").alias("month"), "event_type")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv"))
    )
    return (
        daily_hist.unionByName(fresh)
        .groupBy("month", "event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("pv"), 2).alias("total_value"),
        )
    )


_HQ_BUCKETS = 100
_HQ_LO, _HQ_HI = 800.0, 600000.0  # o_totalprice range guard


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
    WITH b AS (
      SELECT least(greatest(CAST(floor((o_totalprice - {_HQ_LO})
                     / (({_HQ_HI} - {_HQ_LO}) / {_HQ_BUCKETS})) AS INTEGER),
                   0), {_HQ_BUCKETS - 1}) AS bucket,
             count(*) AS c
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT bucket, c,
             sum(c) OVER (ORDER BY bucket) AS cum_c,
             sum(c) OVER () AS total
      FROM b
    ),
    q AS (
      SELECT u.p, min(bucket) AS qb
      FROM cum, unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS u(p)
      WHERE cum_c >= CAST(ceil(u.p * total) AS BIGINT)
      GROUP BY u.p
    )
    SELECT p,
           round({_HQ_LO} + (qb + 1) * (({_HQ_HI} - {_HQ_LO}) / {_HQ_BUCKETS}),
                 4) AS est_upper_bound
    FROM q
    """,
    tags=("A-ext", "SKETCH"),
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch: fixed-boundary bucket counts
    (100 buckets over the price range) are summed across partitions /
    days / shards like any additive metric, and quantiles come from the
    cumulative histogram — each p reports the upper bound of the first
    bucket whose cumulative count reaches ceil(p*N). The
    fixed-boundary variant (vs t-digest / KLL) trades adaptivity for
    DETERMINISM: integer counts and literal boundaries make the sketch
    bit-identical under any merge order, which is also what lets the
    oracle verify it exactly.

    One scan → 100-row histogram; everything after runs on the bucket
    domain."""
    width = (_HQ_HI - _HQ_LO) / _HQ_BUCKETS
    o = table(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(
            F.floor((F.col("o_totalprice") - _HQ_LO) / width).cast("int"),
            F.lit(0),
        ),
        F.lit(_HQ_BUCKETS - 1),
    )
    hist = o.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    ps = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("p")
    )
    qb = (
        cum.crossJoin(ps)
        .filter(F.col("cum_c") >= F.ceil(F.col("p") * F.col("total")).cast("long"))
        .groupBy("p")
        .agg(F.min("bucket").alias("qb"))
    )
    return qb.select(
        "p",
        F.round(F.lit(_HQ_LO) + (F.col("qb") + 1) * width, 4).alias(
            "est_upper_bound"
        ),
    )


# ---------------------------------------------------------------------------
# Calendar gap fill: dense (event_type x day) grid with zero-filled holes
# ---------------------------------------------------------------------------


@register(
    "timeseries_gap_fill_daily",
    oracle="""
    WITH span AS (
      SELECT CAST(date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
               AS lo,
             CAST(date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
               AS hi
      FROM events
    ),
    days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                  AS TIMESTAMP) AS day
      FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, d.day, COALESCE(c.n, CAST(0 AS BIGINT)) AS n
    FROM types t
    CROSS JOIN days d
    LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = d.day
    """,
    tags=("A-ext", "TS"),
)
def timeseries_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series per event type: every (type, day) cell over
    the observed calendar span, zero where no events occurred — the
    gap-fill step dashboards and forecasting features need (a missing
    day must read 0, not be absent).

    The calendar frame is sequence(min_day, max_day) exploded from a
    ONE-row aggregate and cross-joined with the distinct-type dim —
    both sides are tiny (days x types), so the grid build is a
    broadcast cross of two scalars-sized frames; the only real shuffle
    is the per-(type, day) count, and the fill join is broadcast. At
    100 TB of events the grid is still |days| x |types| — the dense
    side never scales with the fact table."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    counts = ev.groupBy(
        "event_type", day.alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    span = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    days = span.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(days)
    return grid.join(counts, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
    )


@register(
    "sketch_rolling_7d_users",
    oracle=f"""
    WITH regs AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             {hll.duck_bucket("user_id::VARCHAR")} AS bucket,
             max({hll.duck_rho("user_id::VARCHAR")}) AS m_rho
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM regs),
    scattered AS (
      SELECT regs.day + CAST(o.o AS INTEGER) AS day, bucket, m_rho
      FROM regs, range(0, 7) o(o)
    ),
    merged AS (
      SELECT s.day, s.bucket, max(s.m_rho) AS m_rho
      FROM scattered s JOIN days d ON d.day = s.day
      GROUP BY s.day, s.bucket
    ),
    est AS (
      SELECT day, sum({hll.DUCK_REG_TERM}) AS s_present,
             count(*) AS n_present
      FROM merged GROUP BY day
    )
    SELECT day,
           round({hll.duck_estimate("s_present", "n_present")}, 4)
             AS est_users_7d
    FROM est
    """,
    tags=("A-ext", "SKETCH", "TS"),
)
def sketch_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day via SLIDING mergeable-HLL
    merge: daily 512-register sketches SCATTER to the up-to-7 target
    days they cover (a bounded 7x fan-out of the kilobyte-sized
    register table, never of raw events), bucket-wise max-merge per
    target day, then the shared deterministic estimator. This is the
    sliding-window distinct-count problem that exact approaches cannot
    do at 100 TB (a user active twice in the window must count once —
    plain daily distinct counts don't add): the expensive pass over
    raw events happens once per day, every window is register algebra.

    Reported days are those with at least one event (the observed-day
    join prunes the scatter's tail). Same register spec as
    approx_count_distinct_users / sketch_monthly_users_from_daily, so
    sketches built once serve all three rollups."""
    ev = table(spark, sf_dir, "events")
    h = hll.hash_col(F.col("user_id"))
    regs = (
        ev.select(F.to_date("ts").alias("day"), h.alias("h"))
        .select("day", hll.bucket_of(F.col("h")), hll.rho_of(F.col("h")))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )
    days = regs.select("day").distinct()
    scattered = regs.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
        "bucket",
        "m_rho",
    ).select(
        F.date_add("day", F.col("off")).alias("day"), "bucket", "m_rho"
    )
    merged = (
        scattered.join(days, "day")
        .groupBy("day", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    return merged.groupBy("day").agg(
        F.round(
            hll.estimate_col(
                F.sum(F.expr(hll.REG_TERM_EXPR)), F.count(F.lit(1))
            ),
            4,
        ).alias("est_users_7d")
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the daily activity series (lags 1..7)
# ---------------------------------------------------------------------------


@register(
    "timeseries_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (
      SELECT l.lag, p.cnt AS x, c.cnt AS y
      FROM daily c
      JOIN lags l ON TRUE
      JOIN daily p ON p.day_num = c.day_num - l.lag
    ),
    mom AS (
      SELECT lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_pairs,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN NULL
                ELSE round(
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS acf
    FROM mom
    """,
    tags=("TS",),
)
def timeseries_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1..7 — the seasonality detector (a strong lag-7 spike = weekly
    rhythm) a capacity monitor runs before fitting any forecast
    (forecast_days_to_capacity assumes trend; this query is how you
    check for the seasonal term first).

    Pairs are (day, day-lag) via a self-equi-join on the integer epoch
    day — only days PRESENT on both sides pair up (documented; the
    oracle states the same).  The correlation is computed from exact
    BIGINT moment sums (counts are integers, so every moment is exact),
    with ONE double division at the end — both engines see identical
    integer radicands, so the result is bit-identical, not
    approximately equal.

    Scale shape: the daily series is an aggregate (map-side combined),
    7x self-join on a tiny frame, broadcast lag dimension — all
    post-aggregate work is proportional to #days, not #events."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.unix_timestamp("ts") / 86400).cast("long").alias("day_num")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    cur = daily.select(F.col("day_num").alias("d"), F.col("cnt").alias("y"))
    prev = daily.select(F.col("day_num").alias("p"), F.col("cnt").alias("x"))
    pairs = (
        cur.crossJoin(lags)
        .join(prev, F.col("p") == F.col("d") - F.col("lag"))
    )
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.when((vx == 0) | (vy == 0), F.lit(None)).otherwise(
            F.round(
                cov.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            )
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day OLS slope per event type (acceleration monitor)
# ---------------------------------------------------------------------------


@register(
    "trend_rolling_7d_slope",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    win AS (
      SELECT event_type, day_num, y,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(day_num) OVER w AS BIGINT) AS sx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(day_num * y) OVER w AS BIGINT) AS sxy,
             CAST(sum(day_num * day_num) OVER w AS BIGINT) AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day_num, y, n,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(floor(1000000.0 * (n * sxy - sx * sy)
                                / (n * sxx - sx * sx)) AS BIGINT)
           END AS slope_micro
    FROM win WHERE n >= 3
    """,
    tags=("TS", "MONITOR", "W"),
)
def trend_rolling_7d_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-observation OLS slope of each event type's daily
    volume (micro-units/day): the ACCELERATION monitor — a capacity
    forecaster (forecast_days_to_capacity) fits one global trend; this
    asks, every day, "is the error rate bending upward RIGHT NOW", the
    question that pages before the global fit moves.  Rows with fewer
    than 3 observations in window are suppressed (slope of 1-2 points
    is noise).

    Exactness: the OLS slope is computed from exact BIGINT window sums
    (n, sx, sy, sxy, sxx) with ONE float division floored to integer
    micro-units — identical in both engines; the trend_user_value_slope
    discipline applied to a moving frame.

    Scale shape: the daily frame is an aggregate (types x days); the
    window partitions by event_type over that SUMMARY frame — at
    100 TB the fact-sized work is the one map-side-combined daily
    aggregate, and windows never touch event-cardinality rows (same
    two-level discipline as interval_peak_concurrency)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_timestamp("ts") / 86400).cast("long").alias("day_num"),
    ).agg(F.count(F.lit(1)).alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rowsBetween(-6, 0)
    )
    win = daily.select(
        "event_type",
        "day_num",
        "y",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("day_num").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("day_num") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("day_num") * F.col("day_num")).over(w).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return win.filter(F.col("n") >= 3).select(
        "event_type",
        "day_num",
        "y",
        "n",
        F.when(den == 0, F.lit(None))
        .otherwise(
            F.floor(F.lit(1000000.0) * num / den).cast("long")
        )
        .alias("slope_micro"),
    )


# ---------------------------------------------------------------------------
# Bloom filter: build, probe, and MEASURE the false-positive rate
# ---------------------------------------------------------------------------

#: Bloom filter size in bits and number of hash functions.  m is kept
#: deliberately small so the measured FPR is non-degenerate at fixture
#: scale (a production filter sizes m ~ 10 bits/key for ~1% FPR).
_BLOOM_M = 16384
_BLOOM_K = 3

#: Double hashing (Kirsch-Mitzenmacher): position_i = (h1 + i*h2) % m,
#: with h1/h2 the first and second 15-hex-char halves of ONE md5 —
#: one hash invocation per key, k positions, bit-identical in both
#: engines (same split the hash60 spec uses; max value 2^60, so
#: h1 + 2*h2 < 2^62 cannot overflow int64).
_DUCK_H1 = "(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15))::BIGINT)"
_DUCK_H2 = "(('0x' || substr(md5(CAST({key} AS VARCHAR)), 16, 15))::BIGINT)"


def _bloom_hashes(key):
    """(h1, h2) int64 columns from one md5 of the key's string form."""
    s = key.cast("string")
    h1 = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(s), 16, 15), 16, 10).cast("long")
    return h1, h2


@register(
    "sketch_bloom_fpr_eval",
    oracle=f"""
    WITH cutoff AS (
      SELECT max(l_shipdate) - INTERVAL 180 DAY AS c FROM lineitem
    ),
    ins AS (
      SELECT DISTINCT l_partkey AS key FROM lineitem
      WHERE l_shipdate >= (SELECT c FROM cutoff)
    ),
    ih AS (
      SELECT key, {_DUCK_H1.format(key="key")} AS h1,
                  {_DUCK_H2.format(key="key")} AS h2
      FROM ins
    ),
    bits AS (
      SELECT DISTINCT (h1 + i.i * h2) % {_BLOOM_M} AS pos
      FROM ih, range(0, {_BLOOM_K}) i(i)
    ),
    ph AS (
      SELECT p_partkey AS key, {_DUCK_H1.format(key="p_partkey")} AS h1,
             {_DUCK_H2.format(key="p_partkey")} AS h2
      FROM part
    ),
    ppos AS (
      SELECT key, (h1 + i.i * h2) % {_BLOOM_M} AS pos
      FROM ph, range(0, {_BLOOM_K}) i(i)
    ),
    pos_hits AS (
      SELECT key, count(*) AS hits
      FROM ppos JOIN bits USING (pos) GROUP BY key
    ),
    probes AS (
      SELECT p.key,
             coalesce(h.hits, 0) = {_BLOOM_K} AS bloom_pos,
             ins.key IS NOT NULL AS member
      FROM ph p
      LEFT JOIN pos_hits h ON h.key = p.key
      LEFT JOIN ins ON ins.key = p.key
    ),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits),
    ni AS (SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM ins),
    ag AS (
      SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_positive,
             CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_members,
             CAST(sum(CASE WHEN bloom_pos AND NOT member THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_false_positive,
             CAST(sum(CASE WHEN member AND NOT bloom_pos THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_false_negative
      FROM probes
    )
    SELECT ni.n_inserted, nb.n_bits_set,
           round(CAST(nb.n_bits_set AS DOUBLE) / {_BLOOM_M}, 6)
             AS fill_ratio,
           ag.n_probes, ag.n_bloom_positive, ag.n_true_members,
           ag.n_false_positive, ag.n_false_negative,
           round(CAST(ag.n_false_positive AS DOUBLE)
                 / (ag.n_probes - ag.n_true_members), 6) AS measured_fpr,
           round((CAST(nb.n_bits_set AS DOUBLE) / {_BLOOM_M})
                 * (CAST(nb.n_bits_set AS DOUBLE) / {_BLOOM_M})
                 * (CAST(nb.n_bits_set AS DOUBLE) / {_BLOOM_M}), 6)
             AS predicted_fpr
    FROM ni, nb, ag
    """,
    tags=("A-ext", "SKETCH", "EVAL"),
)
def sketch_bloom_fpr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter build + probe + measured-vs-predicted FPR report.

    The filter over "parts shipped in the trailing 180 days" is built
    RELATIONALLY: each key contributes k = 3 bit positions via double
    hashing (one md5 per key, split into two 60-bit halves — the
    hash60 trick extended), and the filter IS the distinct set of set
    positions (<= m = 16384 rows, kilobytes).  That representation is
    mergeable exactly like the HLL registers: per-partition position
    sets union with a plain distinct, so at 100 TB the build is one
    map-side pass over new data and the probe side broadcasts a
    bitset-sized frame — the measured companion to
    join_bloom_semi_prune, which USES a filter this op AUDITS.

    A probe is positive iff all k of its positions are set (the join
    back counts position hits per key; k rows == k hits).  The report
    pins the two numbers a deployment reads: measured FPR against the
    exact membership truth, and the fill-ratio prediction r^k — plus
    n_false_negative, which the structure guarantees is ZERO (a live
    invariant, not an assumption: the oracle computes it too).

    The 180-day cutoff is data-derived (max shipdate), so the report
    is non-degenerate at every scale factor."""
    li = table(spark, sf_dir, "lineitem")
    cutoff = li.agg(
        F.date_sub(F.max("l_shipdate"), 180).alias("c")
    )
    ins = (
        li.join(cutoff)
        .filter(F.col("l_shipdate") >= F.col("c"))
        .select(F.col("l_partkey").alias("key"))
        .distinct()
    )
    ih1, ih2 = _bloom_hashes(F.col("key"))
    i = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("i")
    bits = (
        ins.select("key", ih1.alias("h1"), ih2.alias("h2"))
        .select("h1", "h2", i)
        .select(
            F.pmod(F.col("h1") + F.col("i") * F.col("h2"), F.lit(_BLOOM_M))
            .alias("pos")
        )
        .distinct()
    )
    ph1, ph2 = _bloom_hashes(F.col("p_partkey"))
    ph = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("key"), ph1.alias("h1"), ph2.alias("h2")
    )
    ppos = ph.select("key", "h1", "h2", i).select(
        "key",
        F.pmod(F.col("h1") + F.col("i") * F.col("h2"), F.lit(_BLOOM_M))
        .alias("pos"),
    )
    pos_hits = (
        ppos.join(F.broadcast(bits), "pos")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    probes = (
        ph.select("key")
        .join(pos_hits, "key", "left")
        .join(
            F.broadcast(ins.select("key", F.lit(True).alias("member"))),
            "key",
            "left",
        )
        .select(
            "key",
            (F.coalesce(F.col("hits"), F.lit(0)) == _BLOOM_K).alias(
                "bloom_pos"
            ),
            F.coalesce(F.col("member"), F.lit(False)).alias("member"),
        )
    )
    nb = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    ni = ins.agg(F.count(F.lit(1)).alias("n_inserted"))
    ag = probes.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_positive"),
        F.sum(F.when(F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_members"),
        F.sum(
            F.when(F.col("bloom_pos") & ~F.col("member"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_positive"),
        F.sum(
            F.when(F.col("member") & ~F.col("bloom_pos"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_negative"),
    )
    r = F.col("n_bits_set").cast("double") / F.lit(_BLOOM_M)
    return (
        ni.crossJoin(nb)
        .crossJoin(ag)
        .select(
            "n_inserted",
            "n_bits_set",
            F.round(r, 6).alias("fill_ratio"),
            "n_probes",
            "n_bloom_positive",
            "n_true_members",
            "n_false_positive",
            "n_false_negative",
            F.round(
                F.col("n_false_positive").cast("double")
                / (F.col("n_probes") - F.col("n_true_members")),
                6,
            ).alias("measured_fpr"),
            F.round(r * r * r, 6).alias("predicted_fpr"),
        )
    )


# ---------------------------------------------------------------------------
# HLL set algebra: intersection via inclusion-exclusion, with exact truth
# ---------------------------------------------------------------------------


@register(
    "sketch_hll_intersection_eval",
    oracle=f"""
    WITH regs AS (
      SELECT event_type,
             {hll.duck_bucket("user_id::VARCHAR")} AS bucket,
             max({hll.duck_rho("user_id::VARCHAR")}) AS m_rho
      FROM events GROUP BY 1, 2
    ),
    est_t AS (
      SELECT event_type,
             sum({hll.DUCK_REG_TERM}) AS s_present,
             count(*) AS n_present
      FROM regs GROUP BY event_type
    ),
    tpairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM regs) a
      JOIN (SELECT DISTINCT event_type FROM regs) b
        ON a.event_type < b.event_type
    ),
    union_regs AS (
      SELECT p.type_a, p.type_b, r.bucket, max(r.m_rho) AS m_rho
      FROM tpairs p JOIN regs r
        ON r.event_type = p.type_a OR r.event_type = p.type_b
      GROUP BY 1, 2, 3
    ),
    est_u AS (
      SELECT type_a, type_b,
             sum({hll.DUCK_REG_TERM}) AS s_present,
             count(*) AS n_present
      FROM union_regs GROUP BY 1, 2
    ),
    exact AS (
      SELECT x.type_a, x.type_b, CAST(count(*) AS BIGINT) AS exact_overlap
      FROM (
        SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b
        FROM (SELECT DISTINCT user_id, event_type FROM events) a
        JOIN (SELECT DISTINCT user_id, event_type FROM events) b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
      ) x
      GROUP BY 1, 2
    )
    SELECT u.type_a, u.type_b,
           round({hll.duck_estimate("ea.s_present", "ea.n_present")}, 4)
             AS est_a,
           round({hll.duck_estimate("eb.s_present", "eb.n_present")}, 4)
             AS est_b,
           round({hll.duck_estimate("u.s_present", "u.n_present")}, 4)
             AS est_union,
           round({hll.duck_estimate("ea.s_present", "ea.n_present")}
                 + {hll.duck_estimate("eb.s_present", "eb.n_present")}
                 - {hll.duck_estimate("u.s_present", "u.n_present")}, 4)
             AS est_overlap,
           x.exact_overlap
    FROM est_u u
    JOIN est_t ea ON ea.event_type = u.type_a
    JOIN est_t eb ON eb.event_type = u.type_b
    LEFT JOIN exact x ON x.type_a = u.type_a AND x.type_b = u.type_b
    """,
    tags=("A-ext", "SKETCH", "EVAL"),
)
def sketch_hll_intersection_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch SET ALGEBRA with its error measured: distinct-user
    overlap between every event-type pair estimated by
    inclusion-exclusion over mergeable HLL registers
    (|A∩B| ≈ E(A) + E(B) - E(A∪B), where the union sketch is just the
    bucket-wise max of the two register sets), next to the exact
    overlap.  Inclusion-exclusion on HLLs is the textbook "cheap but
    error-amplifying" composition — three estimates' errors stack, and
    small true overlaps can even go negative — which is exactly why
    the eval row carries the exact truth beside it (the audit shape of
    sim_ann_recall_eval).

    Register algebra end to end: per-type sketches are built in ONE
    pass over events (the same deterministic md5 spec every sketch_*
    query shares — hash-exact oracle), union sketches are a bucket-max
    over the types-pairs x 512 frame, and the exact side joins the
    (user, type) distinct against itself — at 100 TB, the sketches
    stay kilobytes while only the truth side scales, and a production
    deployment samples or drops it."""
    ev = table(spark, sf_dir, "events")
    h = hll.hash_col(F.col("user_id"))
    regs = (
        ev.select("event_type", h.alias("h"))
        .select("event_type", hll.bucket_of(F.col("h")), hll.rho_of(F.col("h")))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )
    term = F.expr(hll.REG_TERM_EXPR)
    est_t = regs.groupBy("event_type").agg(
        F.sum(term).alias("s_present"), F.count(F.lit(1)).alias("n_present")
    )
    types = regs.select("event_type").distinct()
    tpairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    union_regs = (
        F.broadcast(tpairs)
        .join(
            regs,
            (regs["event_type"] == F.col("type_a"))
            | (regs["event_type"] == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    est_u = union_regs.groupBy("type_a", "type_b").agg(
        F.sum(term).alias("s_present"), F.count(F.lit(1)).alias("n_present")
    )
    ut = ev.select("user_id", "event_type").distinct()
    exact = (
        ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    ea = est_t.select(
        F.col("event_type").alias("type_a"),
        hll.estimate_col(F.col("s_present"), F.col("n_present")).alias("ea"),
    )
    eb = est_t.select(
        F.col("event_type").alias("type_b"),
        hll.estimate_col(F.col("s_present"), F.col("n_present")).alias("eb"),
    )
    eu = est_u.select(
        "type_a",
        "type_b",
        hll.estimate_col(F.col("s_present"), F.col("n_present")).alias("eu"),
    )
    return (
        eu.join(ea, "type_a")
        .join(eb, "type_b")
        .join(F.broadcast(exact), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.round(F.col("ea"), 4).alias("est_a"),
            F.round(F.col("eb"), 4).alias("est_b"),
            F.round(F.col("eu"), 4).alias("est_union"),
            F.round(F.col("ea") + F.col("eb") - F.col("eu"), 4).alias(
                "est_overlap"
            ),
            "exact_overlap",
        )
    )


# ---------------------------------------------------------------------------
# Cross-correlation: lead-lag structure between event-type pairs
# ---------------------------------------------------------------------------

_CCF_MAX_LAG = 3


@register(
    "timeseries_cross_correlation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    tpairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM daily) a
      JOIN (SELECT DISTINCT event_type FROM daily) b
        ON a.event_type < b.event_type
    ),
    lags AS (
      SELECT unnest(generate_series(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG})) AS lag
    ),
    pairs AS (
      SELECT p.type_a, p.type_b, l.lag, da.cnt AS x, db.cnt AS y
      FROM tpairs p
      JOIN lags l ON TRUE
      JOIN daily db ON db.event_type = p.type_b
      JOIN daily da ON da.event_type = p.type_a
                   AND da.day_num = db.day_num - l.lag
    ),
    mom AS (
      SELECT type_a, type_b, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1, 2, 3
    )
    SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN NULL
                ELSE round(
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS ccf
    FROM mom
    """,
    tags=("TS",),
)
def timeseries_cross_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lead-lag cross-correlation between every event-type pair's
    daily count series at lags -{_CCF_MAX_LAG}..{_CCF_MAX_LAG}:
    ccf(L) = corr(a on day t-L, b on day t) — a positive-lag peak
    says type_a LEADS type_b by that many days (clicks today,
    purchases tomorrow), the causal-ordering probe run before any
    attribution modeling.  Negative lags cover the reverse direction,
    so unordered pairs (a < b) suffice.

    Same exact-moment discipline as timeseries_autocorrelation: daily
    counts are integer aggregates, all five moment sums are exact
    BIGINTs per (pair, lag), one double division at the end — the
    sqrt radicands are identical integers in both engines, so the
    result is bit-identical.  Only days present for BOTH types pair
    up at a given lag (stated in the oracle too).  Post-aggregate
    work is |types|^2 x lags x days — metadata-sized next to the
    fact table."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_timestamp("ts") / 86400).cast("long").alias("day_num"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    types = daily.select("event_type").distinct()
    tpairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    db = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("day_num").alias("d"),
        F.col("cnt").alias("y"),
    )
    da = daily.select(
        F.col("event_type").alias("ta"),
        F.col("day_num").alias("p"),
        F.col("cnt").alias("x"),
    )
    pairs = (
        F.broadcast(tpairs)
        .join(db, "type_b")
        .crossJoin(F.broadcast(lags))
        .join(
            da,
            (F.col("ta") == F.col("type_a"))
            & (F.col("p") == F.col("d") - F.col("lag")),
        )
        .select("type_a", "type_b", "lag", "x", "y")
    )
    mom = pairs.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.select(
        "type_a",
        "type_b",
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.when((vx == 0) | (vy == 0), F.lit(None)).otherwise(
            F.round(
                cov.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            )
        ).alias("ccf"),
    )


# ---------------------------------------------------------------------------
# Jackknife standard error: uncertainty for a distributed mean
# ---------------------------------------------------------------------------

_JK_G = 10


@register(
    "stats_jackknife_mean_se",
    oracle=f"""
    WITH b AS (
      SELECT (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT)
               % {_JK_G} AS g,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(cents) AS BIGINT) AS s_g
      FROM b GROUP BY g
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS gcnt
      FROM per
    ),
    loo AS (
      SELECT p.g, (1000 * (t.s - p.s_g)) // (t.n - p.n_g) AS loo_mc
      FROM per p, tot t
    ),
    dev AS (
      SELECT CAST(sum((t.gcnt * l.loo_mc - sl.sum_loo)
                      * (t.gcnt * l.loo_mc - sl.sum_loo)) AS BIGINT) AS ssd
      FROM loo l,
           (SELECT CAST(sum(loo_mc) AS BIGINT) AS sum_loo FROM loo) sl,
           tot t
    )
    SELECT t.n AS n_events, t.gcnt AS n_buckets,
           round(CAST(t.s AS DOUBLE) / (100.0 * t.n), 6) AS mean_value,
           round(sqrt(CAST((t.gcnt - 1) AS DOUBLE) * d.ssd
                      / (t.gcnt * t.gcnt * t.gcnt)) / 100000.0, 6)
             AS se_jackknife
    FROM tot t, dev d
    """,
    tags=("A-ext", "STATS"),
)
def stats_jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error for the mean event
    value — the uncertainty a monitoring dashboard should print next
    to every mean, computed the only way that scales: hash-assign
    every row to one of G = {_JK_G} buckets, keep per-bucket (count,
    sum), and derive the G leave-one-out means from those sufficient
    statistics alone.  No resampling pass, no per-replicate scan —
    the classic "bag of little bootstraps / jackknife on summaries"
    shape where adding data only updates G running pairs.

    Exactness: bucket assignment is the shared md5 hash spec; sums
    are exact centi-unit BIGINTs; each leave-one-out mean is an exact
    integer milli-cent division (truncating, both engines); the sum
    of squared deviations is computed in the G-scaled integer form
    sum((G*loo_i - sum_loo)^2) — an exact BIGINT — so the ONLY float
    ops are the final sqrt and two divisions, identical in both
    engines.  No cross-row float summation anywhere."""
    ev = table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    b = ev.select(
        F.pmod(h, F.lit(_JK_G)).alias("g"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    per = b.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("cents").alias("s_g")
    )
    tot = per.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.count(F.lit(1)).alias("gcnt"),
    )
    loo = per.crossJoin(tot).select(
        F.expr("(1000 * (s - s_g)) DIV (n - n_g)").alias("loo_mc")
    )
    sum_loo = loo.agg(F.sum("loo_mc").cast("long").alias("sum_loo"))
    dev = (
        loo.crossJoin(sum_loo)
        .crossJoin(tot)
        .agg(
            F.sum(
                (F.col("gcnt") * F.col("loo_mc") - F.col("sum_loo"))
                * (F.col("gcnt") * F.col("loo_mc") - F.col("sum_loo"))
            )
            .cast("long")
            .alias("ssd")
        )
    )
    return tot.crossJoin(dev).select(
        F.col("n").alias("n_events"),
        F.col("gcnt").alias("n_buckets"),
        F.round(F.col("s").cast("double") / (100.0 * F.col("n")), 6).alias(
            "mean_value"
        ),
        F.round(
            F.sqrt(
                (F.col("gcnt") - 1).cast("double")
                * F.col("ssd")
                / (F.col("gcnt") * F.col("gcnt") * F.col("gcnt"))
            )
            / 100000.0,
            6,
        ).alias("se_jackknife"),
    )


# ---------------------------------------------------------------------------
# 2-D Pareto frontier (skyline) with bucketed carry/scan
# ---------------------------------------------------------------------------


@register(
    "rank_pareto_frontier_parts",
    oracle="""
    WITH pts AS (
      SELECT p_partkey, p_retailprice, p_size FROM part
    )
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size <= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    """,
    tags=("A-ext", "RANK"),
)
def rank_pareto_frontier_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pareto frontier (skyline) of the part catalog minimizing
    (p_retailprice, p_size): a part is on the frontier iff no other
    part is <= on both axes and strictly < on one — "cheapest part at
    every size class", the canonical multi-criteria shortlist query.

    The oracle is the quadratic NOT EXISTS dominance test; the Spark
    plan is the O(n log n) sorted-scan formulation made distributed
    with the same two-level carry/scan used by
    interval_peak_concurrency: dedupe to distinct (price, size)
    points, bucket by a fixed price width (the price domain is a
    property of the schema, not the scale factor, so buckets stay
    balanced as rows grow), compute each bucket's prefix-min of size
    in (price, size) order with a window PARTITIONED BY bucket, and
    carry the min-size of all strictly-cheaper buckets in via a
    prefix-min over the tiny bucket-summary frame.  A point is
    dominated iff either running min is <= its size (equal-price
    predecessors sort first and always carry a strictly smaller size
    after dedup, so <= is exact — strictness falls out of the
    ordering, no epsilon games).  Survivors (a frame bounded by the
    frontier, which is tiny by definition) join back to part ids on
    the two value columns."""
    p = table(spark, sf_dir, "part")
    pts = p.select("p_retailprice", "p_size").distinct()
    bucket = F.floor(F.col("p_retailprice") / 50).cast("long")
    pts = pts.withColumn("bucket", bucket)
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("p_retailprice", "p_size")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    big = F.lit(2**31 - 1)
    local = pts.withColumn(
        "prev_min", F.coalesce(F.min("p_size").over(w_in), big)
    )
    bmins = pts.groupBy("bucket").agg(F.min("p_size").alias("bmin"))
    w_carry = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bmins.select(
        "bucket",
        F.coalesce(F.min("bmin").over(w_carry), big).alias("carry_min"),
    )
    frontier = (
        local.join(carry, "bucket")
        .filter(
            F.least(F.col("prev_min"), F.col("carry_min"))
            > F.col("p_size")
        )
        .select("p_retailprice", "p_size")
    )
    return p.join(
        frontier, ["p_retailprice", "p_size"]
    ).select("p_partkey", "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch with exact-error eval
# ---------------------------------------------------------------------------

#: KMV sketch size: k smallest 60-bit hashes are kept.  60 bits = the
#: first 15 hex chars of md5, the largest prefix that fits a BIGINT in
#: both engines without sign trouble (16^15 = 2^60).
_KMV_K = 256
_KMV_M = float(2**60)


@register(
    "sketch_kmv_distinct_users",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events
    ),
    kept AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_kept, max(hv) AS kth FROM kept
    ),
    e AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM h)
    SELECT e.n_exact, s.n_kept,
           round(CASE WHEN s.n_kept < {_KMV_K}
                      THEN CAST(s.n_kept AS DOUBLE)
                      ELSE ({_KMV_K} - 1) * {_KMV_M!r} / s.kth
                 END, 2) AS kmv_estimate,
           round((CASE WHEN s.n_kept < {_KMV_K}
                       THEN CAST(s.n_kept AS DOUBLE)
                       ELSE ({_KMV_K} - 1) * {_KMV_M!r} / s.kth
                  END - e.n_exact) / e.n_exact, 4) AS rel_error
    FROM s CROSS JOIN e
    """,
    tags=("SKETCH",),
)
def sketch_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta distinct-count sketch over users, evaluated against
    the exact count: keep the k smallest 60-bit hashes; the kth order
    statistic estimates cardinality as (k-1) * M / h_k.  The sketch
    family HLL can't give you: KMV supports set INTERSECTION estimates
    natively (theta sketches), and its kept-hash set is a uniform
    sample of the key space.

    Scale shape: the k-smallest step is a TakeOrdered — every
    partition keeps its local k minima and the driver merges k-sized
    lists (exactly the sketch's own mergeability, expressed as a Spark
    physical operator); nothing fact-sized moves.  When the domain has
    fewer than k distinct hashes the estimator degenerates, so both
    engines fall back to the exact kept-count (standard KMV).  All
    arithmetic on the estimate path is one integer-to-double divide —
    bit-identical across engines."""
    ev = table(spark, sf_dir, "events")
    h = ev.select(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("hv")
    ).distinct()
    kept = h.orderBy("hv").limit(_KMV_K)
    s = kept.agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("kth")
    )
    e = h.agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.when(
        F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")
    ).otherwise(F.lit(_KMV_K - 1) * F.lit(_KMV_M) / F.col("kth"))
    return s.crossJoin(e).select(
        "n_exact",
        "n_kept",
        F.round(est, 2).alias("kmv_estimate"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_error"
        ),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day median (RANGE frame, calendar-correct over gaps)
# ---------------------------------------------------------------------------


@register(
    "timeseries_rolling_median_7d",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_num, n,
           round(median(n) OVER (
             PARTITION BY event_type ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 1) AS med7
    FROM daily
    """,
    tags=("TS", "W"),
)
def timeseries_rolling_median_7d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day median of daily event counts per type — the
    robust companion to the rolling mean every SLO dashboard plots
    (a single spike day moves the mean for a week but never the
    median).  The frame is a RANGE over integer epoch-days, so a
    missing calendar day SHRINKS the window instead of silently
    stretching it across the gap (the ROWS-frame bug).

    Medians over even windows interpolate as the mean of the two
    middle values in both engines; counts are integers, so every
    reachable median is an exact half-integer and the 1dp round is
    representation-stable.

    Scale shape: the fact collapses to the (type, day) domain with one
    map-side-combined exchange; the percentile window then sorts
    7-element frames on the daily summary — at 100 TB the window input
    is |types| x |days| rows regardless of event volume."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / 86400000000).cast("long").alias("day_num"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return daily.select(
        "event_type",
        "day_num",
        "n",
        F.round(
            F.expr(
                "percentile(n, 0.5) OVER (PARTITION BY event_type"
                " ORDER BY day_num"
                " RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"
            ),
            1,
        ).alias("med7"),
    )


# ---------------------------------------------------------------------------
# AMS second-frequency-moment sketch (exact-integer end to end)
# ---------------------------------------------------------------------------

#: Number of independent AMS estimators; the output takes their median.
_AMS_D = 5


@register(
    "sketch_ams_f2_moment",
    oracle=f"""
    WITH cnt AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    f2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM cnt),
    est AS (
      SELECT j.j,
             CAST(sum((2 * (('0x' || substr(md5(CAST(j.j AS VARCHAR)
                          || ':' || CAST(user_id AS VARCHAR)), 1, 1))::BIGINT
                          % 2) - 1) * c) AS BIGINT) AS s
      FROM cnt CROSS JOIN (SELECT unnest(range(1, {_AMS_D} + 1)) AS j) j
      GROUP BY j.j
    ),
    med AS (
      SELECT CAST(s * s AS BIGINT) AS ams_f2,
             row_number() OVER (ORDER BY s * s, j) AS rn
      FROM est
    )
    SELECT f.exact_f2, m.ams_f2,
           round((m.ams_f2 - f.exact_f2) / CAST(f.exact_f2 AS DOUBLE), 4)
             AS rel_error
    FROM med m CROSS JOIN f2 f
    WHERE m.rn = {(_AMS_D + 1) // 2}
    """,
    tags=("SKETCH",),
)
def sketch_ams_f2_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) sketch of the second frequency moment
    F2 = sum of squared per-user counts — the classic one-pass
    estimator of self-join size / collision mass that query planners
    and skew detectors run where the exact quadratic rollup is too
    wide to keep.  Each estimator sums +/-1-signed counts (sign = a
    deterministic md5 parity of (estimator, key)) and squares the
    total; the output is the MEDIAN estimator next to the exact F2
    and the relative error.

    Every value in the pipeline is a BIGINT — the sketch is exactly
    reproducible across engines with no float rounding anywhere
    except the final error ratio.

    Scale shape: one map-side-combined exchange to per-key counts,
    then a {_AMS_D}x fanout onto the (estimator, key) domain that
    immediately collapses to {_AMS_D} rows — at 100 TB the sketch
    state is d running integers, merged associatively (the streaming
    form is the same expression over partial counts)."""
    ev = table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    f2 = cnt.agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    j = F.explode(F.sequence(F.lit(1), F.lit(_AMS_D))).alias("j")
    sign = 2 * (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("long")
        % 2
    ) - 1
    est = (
        cnt.select("user_id", "c", j)
        .groupBy("j")
        .agg(F.sum(sign * F.col("c")).alias("s"))
    )
    med = est.select(
        (F.col("s") * F.col("s")).alias("ams_f2"),
        F.row_number()
        .over(Window.orderBy(F.col("s") * F.col("s"), F.col("j")))
        .alias("rn"),
    ).filter(F.col("rn") == (_AMS_D + 1) // 2)
    return med.crossJoin(f2).select(
        "exact_f2",
        "ams_f2",
        F.round(
            (F.col("ams_f2") - F.col("exact_f2"))
            / F.col("exact_f2").cast("double"),
            4,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# Daily OHLC candles (open/high/low/close)
# ---------------------------------------------------------------------------


@register(
    "timeseries_daily_ohlc",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
             value,
             row_number() OVER (
               PARTITION BY event_type,
                            epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type,
                            epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, day_num,
           CAST(count(*) AS BIGINT) AS n,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close
    FROM ordered GROUP BY 1, 2
    """,
    tags=("TS",),
)
def timeseries_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles per event type — open/high/low/close of
    `value` within each day, the fixed-interval downsample every
    monitoring UI and financial chart draws.  "First"/"last" are
    defined by the total (ts, event_id) order, so the candle is a pure
    function of the data (never first() over an unordered shuffle).

    Scale shape: both row-number windows and the final rollup cluster
    on (event_type, day) — one exchange feeds all three; no value
    arithmetic at all, so there is nothing to round (the candle fields
    are copies of stored doubles)."""
    ev = table(spark, sf_dir, "events")
    day = (F.unix_micros("ts") / 86400000000).cast("long")
    w_a = Window.partitionBy("event_type", "day_num").orderBy(
        "ts", "event_id"
    )
    w_d = Window.partitionBy("event_type", "day_num").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ordered = ev.select(
        "event_type",
        day.alias("day_num"),
        "value",
        "ts",
        "event_id",
    ).select(
        "event_type",
        "day_num",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return ordered.groupBy("event_type", "day_num").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
    )


# ---------------------------------------------------------------------------
# Daily latency-style percentile bands per event type
# ---------------------------------------------------------------------------


@register(
    "timeseries_daily_percentiles",
    oracle="""
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1, 2
    """,
    tags=("TS", "A-ext"),
)
def timeseries_daily_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily p50/p95/p99 bands of `value` per event type — the SLO
    dashboard's bread and butter (tail latency per day), exact
    percentile_cont semantics in both engines.  At 100 TB swap for
    percentile_approx (mergeable t-digest, no per-group sort) — the
    same drop-in noted on percentiles_order_price; the day
    partitioning already bounds each group's sort.

    One exchange onto the (type, day) domain; the three percentiles
    share a single sorted pass per group."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / 86400000000).cast("long").alias("day_num"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Theta/KMV sketch intersection (click-users x purchase-users)
# ---------------------------------------------------------------------------


def _duck_kmv_set(event_type: str) -> str:
    return f"""
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events WHERE event_type = '{event_type}'
    """


@register(
    "sketch_kmv_intersection_eval",
    oracle=f"""
    WITH ha AS ({_duck_kmv_set('click')}),
    hb AS ({_duck_kmv_set('purchase')}),
    ka AS (SELECT hv FROM ha ORDER BY hv LIMIT {_KMV_K}),
    kb AS (SELECT hv FROM hb ORDER BY hv LIMIT {_KMV_K}),
    ta AS (
      SELECT CASE WHEN count(*) < {_KMV_K} THEN {2**60}
                  ELSE max(hv) END AS theta FROM ka
    ),
    tb AS (
      SELECT CASE WHEN count(*) < {_KMV_K} THEN {2**60}
                  ELSE max(hv) END AS theta FROM kb
    ),
    th AS (
      SELECT least(ta.theta, tb.theta) AS theta FROM ta CROSS JOIN tb
    ),
    inter AS (
      SELECT CAST(count(*) AS BIGINT) AS n_inter
      FROM ka JOIN kb USING (hv) CROSS JOIN th
      WHERE ka.hv <= th.theta
    ),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact
      FROM ha JOIN hb USING (hv)
    )
    SELECT e.n_exact, i.n_inter,
           round(i.n_inter * {_KMV_M!r} / t.theta, 2) AS kmv_estimate,
           round((i.n_inter * {_KMV_M!r} / t.theta - e.n_exact)
                 / e.n_exact, 4) AS rel_error
    FROM inter i CROSS JOIN exact e CROSS JOIN th t
    """,
    tags=("SKETCH",),
)
def sketch_kmv_intersection_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-sketch set INTERSECTION — the operation HLL can only
    reach through error-amplifying inclusion-exclusion
    (sketch_hll_intersection_eval measures that; this is the sketch
    family built for it): keep each set's k smallest 60-bit hashes,
    cut both at theta = min(theta_a, theta_b), intersect the kept
    hashes below theta (a uniform sample of the true intersection at
    rate theta/M), and scale by M/theta.  Evaluated against the exact
    click-user x purchase-user overlap.

    Everything except the two final divisions is integer: kept sets
    via TakeOrdered (mergeable, as in sketch_kmv_distinct_users),
    thresholds are order statistics, the sample intersection is an
    equi-join of two k-row frames.  The under-k degenerate case sets
    theta = M (the sketch IS the set), collapsing the estimate to the
    exact sample count — both engines take the identical branch."""
    ev = table(spark, sf_dir, "events")

    def kmv(event_type: str):
        h = (
            ev.filter(F.col("event_type") == event_type)
            .select(
                F.conv(
                    F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 15
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("hv")
            )
            .distinct()
        )
        kept = h.orderBy("hv").limit(_KMV_K)
        theta = kept.agg(
            F.when(F.count(F.lit(1)) < _KMV_K, F.lit(2**60))
            .otherwise(F.max("hv"))
            .alias("theta")
        )
        return h, kept, theta

    ha, ka, ta = kmv("click")
    hb, kb, tb = kmv("purchase")
    th = ta.crossJoin(tb.withColumnRenamed("theta", "theta_b")).select(
        F.least("theta", "theta_b").alias("theta")
    )
    inter = (
        ka.join(kb, "hv")
        .crossJoin(th)
        .filter(F.col("hv") <= F.col("theta"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = ha.join(hb, "hv").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.col("n_inter") * F.lit(_KMV_M) / F.col("theta")
    return (
        inter.crossJoin(exact)
        .crossJoin(th)
        .select(
            "n_exact",
            "n_inter",
            F.round(est, 2).alias("kmv_estimate"),
            F.round(
                (est - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# Fano factor: burstiness of the daily arrival process
# ---------------------------------------------------------------------------


@register(
    "timeseries_burstiness_fano",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS s1,
             CAST(sum(n * n) AS BIGINT) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           round(s1 / CAST(n_days AS DOUBLE), 4) AS mean_daily,
           round((s2 - s1 * s1 / CAST(n_days AS DOUBLE))
                 / (n_days - 1) / (s1 / CAST(n_days AS DOUBLE)), 4)
             AS fano
    FROM mom WHERE n_days > 1
    """,
    tags=("TS", "DQ"),
)
def timeseries_burstiness_fano(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fano factor (variance-to-mean ratio of daily counts) per event
    type — the dispersion screen on the arrival process: ~1 means
    Poisson-like arrivals (independent events), >>1 means bursty
    (retry storms, batch imports, thundering herds), <1 means
    under-dispersed/paced (rate-limited producers).  The number that
    says whether per-day alert thresholds can assume Poisson noise.

    Sample variance from exact BIGINT moments (s1, s2) with the
    identical division sequence in both engines — the same
    exact-moment discipline as the drift screens.

    Scale shape: fact -> (type, day) -> (type) — two map-side-combined
    rollups, output bounded by |types|."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / 86400000000).cast("long").alias("day_num"),
    ).agg(F.count(F.lit(1)).alias("n"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("s1") / nd
    var = (F.col("s2") - F.col("s1") * F.col("s1") / nd) / (
        F.col("n_days") - 1
    )
    return mom.filter(F.col("n_days") > 1).select(
        "event_type",
        "n_days",
        F.round(mean, 4).alias("mean_daily"),
        F.round(var / mean, 4).alias("fano"),
    )


# ---------------------------------------------------------------------------
# ClickHouse argMin/argMax analog: single-pass extremes with their achiever
# ---------------------------------------------------------------------------


@register(
    "agg_argminmax_extremes",
    oracle="""
    WITH ext AS (
      SELECT event_type, max(value) AS vmax, min(value) AS vmin
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, ext.vmax, ext.vmin,
           max(e.user_id) FILTER (WHERE e.value = ext.vmax) AS user_at_max,
           min(e.user_id) FILTER (WHERE e.value = ext.vmin) AS user_at_min
    FROM events e JOIN ext USING (event_type)
    GROUP BY e.event_type, ext.vmax, ext.vmin
    """,
    tags=("AGG",),
)
def agg_argminmax_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``argMax(user_id, value)`` / ``argMin`` analog: per
    event type, the extreme observed value together with WHICH user
    produced it (ties broken deterministically: largest user at the
    max, smallest at the min — the tie-break is part of the contract,
    not an accident of scan order as in ClickHouse's own argMax).

    Spark-first shape: the oracle needs a two-pass join (extremes,
    then re-scan for the achievers); here ONE hash aggregate carries
    ``max(struct(value, user_id))`` / ``min(struct(value, user_id))``
    — struct ordering is lexicographic, so the first field decides and
    user_id settles ties — and the achiever pops out of the struct
    afterwards.  Partials combine map-side (two 16-byte structs per
    group), so at 100 TB the fact table is read exactly once and the
    shuffle carries |event_type| rows per map task."""
    e = table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.max(F.struct(F.col("value"), F.col("user_id"))).alias("mx"),
        F.min(F.struct(F.col("value"), F.col("user_id"))).alias("mn"),
    )
    return agg.select(
        "event_type",
        F.col("mx.value").alias("vmax"),
        F.col("mn.value").alias("vmin"),
        F.col("mx.user_id").alias("user_at_max"),
        F.col("mn.user_id").alias("user_at_min"),
    )


# ---------------------------------------------------------------------------
# Periodogram over the daily arrival series: DFT power at candidate periods
# ---------------------------------------------------------------------------

#: Candidate cycle lengths (days) to test for seasonality.  7 should
#: dominate when the generator has day-of-week structure (the
#: complement of seasonal_dow_residuals, which ASSUMES period 7; the
#: periodogram DISCOVERS it).
_PERIODS = tuple(range(2, 15))


@register(
    "timeseries_periodogram_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), anchored AS (
      SELECT CAST(day - (SELECT min(day) FROM daily) AS BIGINT) AS d, c
      FROM daily
    ), centered AS (
      SELECT d, c - (SELECT avg(c) FROM anchored) AS x FROM anchored
    )
    SELECT p.period,
           round(pow(sum(x * cos(2 * pi() * d / p.period)), 2)
               + pow(sum(x * sin(2 * pi() * d / p.period)), 2), 4)
             AS power
    FROM centered, (SELECT unnest({list(_PERIODS)!r}) AS period) p
    GROUP BY p.period
    """,
    tags=("TS",),
)
def timeseries_periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram of the daily arrival-count series at
    candidate periods 2..14 days: spectral power |Σ x_d e^{{-2πi d/p}}|²
    of the MEAN-CENTERED counts (centering removes the DC term that
    would otherwise dwarf every real cycle).  The frequency-domain
    complement of timeseries_autocorrelation / seasonal_dow_residuals:
    those assume a lag, this ranks them — a weekly-seasonal generator
    puts the peak at period 7.

    Plan: one groupBy(day) collapses the fact table to |days| rows;
    the min-day anchor and mean are two scalar aggregates broadcast
    back (three tiny exchanges over a |days|-row frame); the
    13-period candidate frame cross-joins as a broadcast (|days| x 13
    rows, still tiny) and one final 13-group aggregate.  Everything
    after the first aggregate is independent of fact cardinality, so
    at 100 TB the cost IS the daily rollup."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    anchors = daily.agg(
        F.min("day").alias("day0"), F.avg("c").alias("mu")
    )
    centered = daily.crossJoin(anchors).select(
        F.datediff("day", "day0").cast("long").alias("d"),
        (F.col("c") - F.col("mu")).alias("x"),
    )
    periods = spark.range(2, 15).select(F.col("id").cast("int").alias("period"))
    theta = F.lit(2.0 * math.pi) * F.col("d") / F.col("period")
    return (
        centered.crossJoin(periods)
        .groupBy("period")
        .agg(
            F.round(
                F.pow(F.sum(F.col("x") * F.cos(theta)), 2)
                + F.pow(F.sum(F.col("x") * F.sin(theta)), 2),
                4,
            ).alias("power")
        )
    )


# ---------------------------------------------------------------------------
# STL-lite decomposition of the daily series: trend + DOW seasonal + residual
# ---------------------------------------------------------------------------


@register(
    "timeseries_stl_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    trended AS (
      SELECT day, c,
             CASE WHEN count(*) OVER w7 = 7
                  THEN CAST(sum(c) OVER w7 AS DOUBLE) / 7
             END AS trend
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seasoned AS (
      SELECT day, c, trend,
             avg(c - trend) OVER (PARTITION BY isodow(day)) AS seasonal
      FROM trended
    )
    SELECT day, c,
           round(trend, 6) AS trend,
           round(seasonal, 6) AS seasonal,
           round(c - trend - seasonal, 6) AS residual
    FROM seasoned
    """,
    tags=("TS",),
)
def timeseries_stl_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition of the daily arrival series:
    trend = centered 7-day moving average (NULL at the edges where the
    window is partial — honest, not padded), seasonal = mean detrended
    value per ISO day-of-week, residual = remainder.  One pass of the
    classic decomposition rather than the full iterated loess — the
    form monitoring dashboards actually plot, and the input
    changepoint/outlier screens should run on (a Monday spike is not
    an anomaly if Mondays always spike).

    The trend is an exact BIGINT sum divided once; the seasonal mean
    averages ≤|days|/7 identical doubles per DOW group.  Everything
    runs on the |days|-row frame after one fact rollup — the windows
    are calendar-sized, not data-sized."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "c",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.sum("c").over(w7).cast("double") / 7,
        ).alias("trend"),
    )
    # ISO dow: Spark weekday() is 0=Monday; DuckDB isodow is 1=Monday.
    wdow = Window.partitionBy(F.weekday("day") + 1)
    seasoned = trended.select(
        "day",
        "c",
        "trend",
        F.avg(F.col("c") - F.col("trend")).over(wdow).alias("seasonal"),
    )
    return seasoned.select(
        "day",
        "c",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("c") - F.col("trend") - F.col("seasonal"), 6).alias(
            "residual"
        ),
    )


# ---------------------------------------------------------------------------
# LTTB downsampling (parallel variant): the dashboard decimation operator
# ---------------------------------------------------------------------------

_LTTB_BUCKETS = 12


@register(
    "timeseries_lttb_downsample",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    idxd AS (
      SELECT day, y,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM daily
    ),
    interior AS (
      SELECT day, y, idx, m,
             CAST((idx - 2) * {_LTTB_BUCKETS} // (m - 2) AS BIGINT) AS b
      FROM idxd WHERE idx > 1 AND idx < m
    ),
    bstats AS (
      SELECT b, CAST(sum(idx) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(count(*) AS BIGINT) AS c
      FROM interior GROUP BY b
    ),
    ends AS (
      SELECT min(idx) AS first_idx, max(idx) AS last_idx,
             min_by(y, idx) AS first_y, max_by(y, idx) AS last_y
      FROM idxd
    ),
    anchored AS (
      SELECT i.day, i.y, i.idx, i.b,
             COALESCE(p.sx, e.first_idx) AS spx,
             COALESCE(p.sy, e.first_y) AS spy,
             COALESCE(p.c, 1) AS pc,
             COALESCE(n.sx, e.last_idx) AS snx,
             COALESCE(n.sy, e.last_y) AS sny,
             COALESCE(n.c, 1) AS nc
      FROM interior i
      LEFT JOIN bstats p ON p.b = i.b - 1
      LEFT JOIN bstats n ON n.b = i.b + 1
      CROSS JOIN ends e
    ),
    scored AS (
      SELECT day, y, b,
             abs((idx * pc - spx) * (sny * pc - spy * nc)
               - (snx * pc - spx * nc) * (y * pc - spy)) AS area2,
             idx
      FROM anchored
    ),
    picked AS (
      SELECT b, min_by(day, -area2 * 1000000 + idx) AS day,
             min_by(y, -area2 * 1000000 + idx) AS y
      FROM scored GROUP BY b
    )
    SELECT CAST(-1 AS BIGINT) AS bucket, day, y FROM (
      SELECT d.day, d.y FROM idxd d WHERE d.idx = 1
    )
    UNION ALL
    SELECT b AS bucket, day, y FROM picked
    UNION ALL
    SELECT CAST({_LTTB_BUCKETS} AS BIGINT) AS bucket, day, y FROM (
      SELECT d.day, d.y FROM idxd d, ends e WHERE d.idx = e.last_idx
    )
    """,
    tags=("TS",),
)
def timeseries_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets decimation of the daily series
    (Steinarsson) in its PARALLEL variant: endpoints kept, interior
    points split into 12 (_LTTB_BUCKETS) buckets, and each bucket keeps
    the point maximizing the triangle area against the NEIGHBOR BUCKET
    MEANS (the sequential variant anchors on the previously-selected
    point — a chain; replacing it with the previous bucket's mean is
    the standard decomposition that makes LTTB embarrassingly parallel,
    at a visually negligible quality cost).  This is the operator every
    dashboard runs between a metrics store and a 2000-px chart.

    Integer-exact throughout: with integer (idx, count) points and
    rational bucket means, 2*area scaled by the fixed per-bucket
    denominators is a BIGINT cross product — argmax compares exact
    integers (earliest index on ties, encoded in the min_by key), so
    the pick can never flip between engines.  One daily rollup, one
    bucket aggregate, one argmax per bucket; everything after the
    rollup is calendar-sized."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    w = Window.orderBy("day")
    idxd = daily.select(
        "day",
        "y",
        F.row_number().over(w).cast("long").alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    interior = idxd.filter(
        (F.col("idx") > 1) & (F.col("idx") < F.col("m"))
    ).select(
        "day",
        "y",
        "idx",
        # Long integer division (`div`) matching the oracle's `//`
        # exactly at any scale; float-divide + cast drifts past 2^53.
        F.expr(f"((idx - 2) * {_LTTB_BUCKETS}) div (m - 2)").alias("b"),
    )
    bstats = interior.groupBy("b").agg(
        F.sum("idx").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.count(F.lit(1)).alias("c"),
    )
    ends = idxd.agg(
        F.min("idx").alias("first_idx"),
        F.max("idx").alias("last_idx"),
        F.min_by("y", "idx").alias("first_y"),
        F.max_by("y", "idx").alias("last_y"),
    )
    p = bstats.select(
        (F.col("b") + 1).alias("b"),
        F.col("sx").alias("spx0"),
        F.col("sy").alias("spy0"),
        F.col("c").alias("pc0"),
    )
    n = bstats.select(
        (F.col("b") - 1).alias("b"),
        F.col("sx").alias("snx0"),
        F.col("sy").alias("sny0"),
        F.col("c").alias("nc0"),
    )
    anchored = (
        interior.join(p, "b", "left")
        .join(n, "b", "left")
        .crossJoin(ends)
        .select(
            "day",
            "y",
            "idx",
            "b",
            F.coalesce("spx0", "first_idx").alias("spx"),
            F.coalesce("spy0", "first_y").alias("spy"),
            F.coalesce("pc0", F.lit(1).cast("long")).alias("pc"),
            F.coalesce("snx0", "last_idx").alias("snx"),
            F.coalesce("sny0", "last_y").alias("sny"),
            F.coalesce("nc0", F.lit(1).cast("long")).alias("nc"),
        )
    )
    area2 = F.abs(
        (F.col("idx") * F.col("pc") - F.col("spx"))
        * (F.col("sny") * F.col("pc") - F.col("spy") * F.col("nc"))
        - (F.col("snx") * F.col("pc") - F.col("spx") * F.col("nc"))
        * (F.col("y") * F.col("pc") - F.col("spy"))
    )
    key = -area2 * 1000000 + F.col("idx")
    picked = anchored.groupBy("b").agg(
        F.min_by("day", key).alias("day"), F.min_by("y", key).alias("y")
    )
    first = idxd.filter(F.col("idx") == 1).select(
        F.lit(-1).cast("long").alias("bucket"), "day", "y"
    )
    last = idxd.filter(F.col("idx") == F.col("m")).select(
        F.lit(_LTTB_BUCKETS).cast("long").alias("bucket"), "day", "y"
    )
    return first.unionByName(
        picked.select(F.col("b").alias("bucket"), "day", "y")
    ).unionByName(last)


# ---------------------------------------------------------------------------
# Seasonal-aware outliers: MAD screen on the STL residuals
# ---------------------------------------------------------------------------


@register(
    "timeseries_stl_residual_outliers",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    trended AS (
      SELECT day, c,
             CASE WHEN count(*) OVER w7 = 7
                  THEN CAST(sum(c) OVER w7 AS DOUBLE) / 7
             END AS trend
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seasoned AS (
      SELECT day, c, trend,
             avg(c - trend) OVER (PARTITION BY isodow(day)) AS seasonal
      FROM trended
    ),
    resid AS (
      SELECT day, c, round(c - trend - seasonal, 6) AS residual
      FROM seasoned WHERE trend IS NOT NULL
    ),
    med AS (
      SELECT round(quantile_cont(residual, 0.5), 6) AS med FROM resid
    ),
    mad AS (
      SELECT round(quantile_cont(abs(residual - m.med), 0.5), 6) AS mad,
             m.med
      FROM resid CROSS JOIN med m GROUP BY m.med
    )
    SELECT r.day, r.c, r.residual,
           round(abs(r.residual - d.med), 6) AS abs_dev,
           abs(r.residual - d.med) > 3 * d.mad AS is_outlier
    FROM resid r CROSS JOIN mad d
    """,
    tags=("TS", "DQ"),
)
def timeseries_stl_residual_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-aware anomaly screen: the MAD rule applied to the STL
    RESIDUALS instead of the raw daily counts — a Monday spike is not
    an anomaly if Mondays always spike (outlier_daily_mad flags those;
    this screen subtracts trend and day-of-week seasonality first, so
    what remains flagged is genuinely unexplained).  Emits every
    decomposed day WITH its flag, so the check is non-vacuous at any
    scale whether or not outliers exist.

    Same decomposition pipeline as timeseries_stl_daily (the residual
    is rounded at the same 6 dp before the median enters, keeping both
    engines on identical inputs); median/MAD are two percentile
    aggregates on the |days|-row frame broadcast back.  The 3-MAD
    threshold comparison happens on doubles derived from the SAME
    rounded residuals in both engines."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "c",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.sum("c").over(w7).cast("double") / 7,
        ).alias("trend"),
    )
    wdow = Window.partitionBy(F.weekday("day") + 1)
    resid = (
        trended.select(
            "day",
            "c",
            "trend",
            F.avg(F.col("c") - F.col("trend")).over(wdow).alias("seasonal"),
        )
        .filter(F.col("trend").isNotNull())
        .select(
            "day",
            "c",
            F.round(
                F.col("c") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )
    # Round the median/MAD scalars at the same 6 dp as the residuals
    # BEFORE any derived arithmetic: the two engines' percentile
    # interpolation can differ by one ulp, and an unrounded median fed
    # into round(abs(residual - med), 6) flips the 6th decimal when the
    # true value sits on a rounding boundary (caught by the sf0.001
    # parity test, not the sf0.01 gate).
    med = resid.agg(
        F.round(F.expr("percentile(residual, 0.5)"), 6).alias("med")
    )
    mad = (
        resid.crossJoin(med)
        .agg(
            F.round(
                F.expr("percentile(abs(residual - med), 0.5)"), 6
            ).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    return resid.crossJoin(mad).select(
        "day",
        "c",
        "residual",
        F.round(F.abs(F.col("residual") - F.col("med")), 6).alias("abs_dev"),
        (F.abs(F.col("residual") - F.col("med")) > 3 * F.col("mad")).alias(
            "is_outlier"
        ),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap: percentile CI for a distributed mean
# ---------------------------------------------------------------------------

#: Number of bootstrap replicates.
_BOOT_B = 64

#: Poisson(1) inverse-CDF thresholds, scaled to the 16^6 space of a
#: 6-hex-digit md5 prefix: T[k] = floor(CDF(k) * 16^6).  A uniform
#: draw h < T[0] means multiplicity 0, h < T[1] means 1, ... else 8
#: (P ~ 1e-5 tail).  Literals so both engines compare the same ints.
_BOOT_T = (6171992, 12343985, 15429982, 16458647, 16715813, 16767247,
           16775819, 16777044)

_BOOT_M_SQL = "CASE " + " ".join(
    f"WHEN h < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
) + " ELSE 8 END"

#: percentile_disc ranks for a 2.5%/97.5% CI over B sorted replicate
#: means: ceil(q * B) with B = 64 -> 2 and 63.
_BOOT_LO_RN = 2
_BOOT_HI_RN = 63

#: One md5 digest (32 hex chars) funds five disjoint 6-hex draws, so
#: B replicates need only ceil(B/5) digests per row: replicate
#: b = 5g + j reads chars [6j+1, 6j+6] of md5(event_id:g).  The md5
#: is most of the per-row cost (measured 4.5 s -> 3.0 s at sf0.1 when
#: the per-(row, replicate) digest became per-(row, group); a fully
#: exploded-free 128-column wide aggregate was also tried and was
#: SLOWER, 6.0 s — Catalyst does not CSE the 64 slice/conv chains
#: across aggregate expressions, so each row paid the scalar work 5x).
_BOOT_G = (_BOOT_B + 4) // 5


@register(
    "stats_bootstrap_mean_ci",
    oracle=f"""
    WITH base AS (
      SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    digests AS (
      SELECT g.range AS g, base.cents,
             md5(CAST(base.event_id AS VARCHAR) || ':'
                 || CAST(g.range AS VARCHAR)) AS hfull
      FROM base, range({_BOOT_G}) g
    ),
    expanded AS (
      SELECT 5 * g + j.range AS b, cents,
             ('0x' || substr(hfull, 1 + 6 * CAST(j.range AS INT), 6))::BIGINT
               AS h
      FROM digests, range(5) j
      WHERE 5 * g + j.range < {_BOOT_B}
    ),
    weighted AS (
      SELECT b, cents, {_BOOT_M_SQL} AS m FROM expanded
    ),
    reps AS (
      SELECT b, (1000 * sum(m * cents)) // sum(m) AS mean_mc
      FROM weighted GROUP BY b HAVING sum(m) > 0
    ),
    ranked AS (
      SELECT mean_mc, row_number() OVER (ORDER BY mean_mc, b) AS rn
      FROM reps
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM base
    )
    SELECT t.n AS n_events,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           round(CAST(t.s AS DOUBLE) / (100.0 * t.n), 6) AS mean_value,
           round(lo.mean_mc / 100000.0, 6) AS ci_lo,
           round(hi.mean_mc / 100000.0, 6) AS ci_hi
    FROM tot t,
         (SELECT mean_mc FROM ranked WHERE rn = {_BOOT_LO_RN}) lo,
         (SELECT mean_mc FROM ranked WHERE rn = {_BOOT_HI_RN}) hi
    """,
    tags=("A-ext", "STATS"),
)
def stats_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% percentile CI for the mean event value —
    the distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): classic resampling draws n
    rows WITH replacement per replicate, which a cluster cannot do
    (it needs a global sample), but multinomial(n, 1/n) counts converge
    to independent Poisson(1) multiplicities, so each row computes its
    own B multiplicities from a hash and never talks to another row.
    One pass, map-side partial aggregation into B (count, sum) pairs —
    adding data only updates 2*B running integers.

    Exactness: the multiplicity is an inverse-CDF table lookup on a
    6-hex slice of an md5 digest (integer thresholds, identical
    literals in both engines; one digest funds five replicates — see
    _BOOT_G); replicate sums are exact centi-unit BIGINTs; each
    replicate mean is one truncating integer milli-cent division; the
    CI bounds are order statistics (percentile_disc ranks 2 and 63 of
    the 64 sorted replicate means) — selection, not interpolation, so
    no float arithmetic precedes the final rounding.

    Cross-engine invariants this relies on (ADVICE r7, same note as
    ts_forecast_backtest_mae): (a) DuckDB's `//` floors while Spark's
    `DIV` truncates toward zero — they agree because every operand is
    non-negative by construction (events.value >= 0.01 in the driver
    fixtures, so cents >= 1 and sum(m*cents) >= 0; a signed-value
    table would need `abs()` or a floor-division rewrite first);
    (b) the hard-selected ranks _BOOT_LO_RN/_BOOT_HI_RN (2 and 63)
    assume no replicate empties under HAVING sum(m) > 0 — one is empty
    with P ~ e^-n (n = row count; ~e^-6000 at sf0.001), so both
    engines would drop the same rank and return 0 rows loudly (the
    non-vacuous gate fails it) rather than silently diverge."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    digests = ev.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_G - 1))).alias("g"),
        F.col("event_id"),
    ).select(
        "g",
        "cents",
        F.md5(
            F.concat_ws(
                ":",
                F.col("event_id").cast("string"),
                F.col("g").cast("string"),
            )
        ).alias("hfull"),
    )
    expanded = (
        digests.select(
            "cents",
            "hfull",
            "g",
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j"),
        )
        .filter(5 * F.col("g") + F.col("j") < _BOOT_B)
        .select(
            (5 * F.col("g") + F.col("j")).alias("b"),
            "cents",
            F.conv(F.expr("substring(hfull, 1 + 6 * j, 6)"), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    weighted = expanded.select("b", "cents", F.expr(_BOOT_M_SQL).alias("m"))
    reps = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("m") * F.col("cents")).alias("ms"),
            F.sum("m").alias("mn"),
        )
        .filter(F.col("mn") > 0)
        .select("b", F.expr("(1000 * ms) DIV mn").alias("mean_mc"))
    )
    w = Window.orderBy("mean_mc", "b")
    ranked = reps.select("mean_mc", F.row_number().over(w).alias("rn"))
    # Both CI bounds in ONE aggregate over the ranked replicates: two
    # separate rn-filtered scalar subqueries each re-executed the whole
    # digest/expand/agg subtree (the md5 pass is ~all of this query's
    # cost — r8 opt round, guide §1.2 "don't compute things twice";
    # measured 4.2 s -> ~2.3 s at sf0.1).  min/max over a single
    # surviving rank read the same values the filters did.
    bounds = ranked.filter(
        F.col("rn").isin(_BOOT_LO_RN, _BOOT_HI_RN)
    ).agg(
        F.min(
            F.when(F.col("rn") == _BOOT_LO_RN, F.col("mean_mc"))
        ).alias("lo_mc"),
        F.max(
            F.when(F.col("rn") == _BOOT_HI_RN, F.col("mean_mc"))
        ).alias("hi_mc"),
    ).filter(
        # The rn-filter form returned ZERO rows when a rank was missing
        # (a replicate emptied; P ~ e^-n — see docstring invariant (b));
        # a global agg always returns one row, so drop the null-bound
        # row to keep that degenerate case's semantics bit-identical.
        F.col("lo_mc").isNotNull() & F.col("hi_mc").isNotNull()
    )
    tot = ev.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    return (
        tot.crossJoin(bounds)
        .select(
            F.col("n").alias("n_events"),
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            F.round(F.col("s").cast("double") / (100.0 * F.col("n")), 6)
            .alias("mean_value"),
            F.round(F.col("lo_mc") / 100000.0, 6).alias("ci_lo"),
            F.round(F.col("hi_mc") / 100000.0, 6).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Per-group statistical mode with deterministic tie-break
# ---------------------------------------------------------------------------


@register(
    "agg_mode_event_type",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rn,
             CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_total
      FROM counts
    )
    SELECT user_id, event_type AS mode_type, n AS mode_count, n_total,
           round(CAST(n AS DOUBLE) / n_total, 4) AS mode_share
    FROM ranked WHERE rn = 1
    """,
    tags=("A-ext",),
)
def agg_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode of event_type per user (with its count, the
    user's total, and the mode's share) — the categorical `mode()`
    aggregate ClickHouse spells topK(1) and ANSI leaves to
    row_number().  Ties break deterministically to the
    lexicographically smallest type, stated identically in both
    engines — an arbitrary-row `any()` here would be a latent
    cross-engine flake.

    Scale shape: one partial-aggregating groupBy collapses the fact
    table to (user, type) cells BEFORE any window runs; the
    row_number then ranks at most |types| rows per user on the same
    user_id exchange the rollup produced — no second shuffle, no
    per-user arrays, heaviest-user-safe."""
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), "event_type"
    )
    wt = Window.partitionBy("user_id")
    ranked = counts.select(
        "user_id",
        "event_type",
        "n",
        F.row_number().over(wr).alias("rn"),
        F.sum("n").over(wt).cast("long").alias("n_total"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("event_type").alias("mode_type"),
        F.col("n").alias("mode_count"),
        "n_total",
        F.round(F.col("n").cast("double") / F.col("n_total"), 4).alias(
            "mode_share"
        ),
    )


# ---------------------------------------------------------------------------
# Theta/KMV sketch set difference (click-users minus purchase-users)
# ---------------------------------------------------------------------------


@register(
    "sketch_kmv_difference_eval",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, CAST(ts AS DATE) AS d
      FROM events WHERE event_type = 'click'
    ),
    anchor AS (SELECT min(d) AS d0 FROM clicks),
    ha AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM clicks, anchor WHERE d < d0 + 7
    ),
    hb AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM clicks, anchor WHERE d >= d0 + 21
    ),
    ka AS (SELECT hv FROM ha ORDER BY hv LIMIT {_KMV_K}),
    kb AS (SELECT hv FROM hb ORDER BY hv LIMIT {_KMV_K}),
    ta AS (
      SELECT CASE WHEN count(*) < {_KMV_K} THEN {2**60}
                  ELSE max(hv) END AS theta FROM ka
    ),
    tb AS (
      SELECT CASE WHEN count(*) < {_KMV_K} THEN {2**60}
                  ELSE max(hv) END AS theta FROM kb
    ),
    th AS (
      SELECT least(ta.theta, tb.theta) AS theta FROM ta CROSS JOIN tb
    ),
    diff AS (
      SELECT CAST(count(*) AS BIGINT) AS n_diff
      FROM ka CROSS JOIN th
      WHERE ka.hv <= th.theta
        AND ka.hv NOT IN (SELECT hv FROM kb, th WHERE kb.hv <= th.theta)
    ),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact
      FROM ha WHERE hv NOT IN (SELECT hv FROM hb)
    )
    SELECT e.n_exact, d.n_diff,
           round(d.n_diff * {_KMV_M!r} / t.theta, 2) AS kmv_estimate,
           CASE WHEN e.n_exact > 0
                THEN round((d.n_diff * {_KMV_M!r} / t.theta - e.n_exact)
                           / e.n_exact, 4) END AS rel_error
    FROM diff d CROSS JOIN exact e CROSS JOIN th t
    """,
    tags=("SKETCH",),
)
def sketch_kmv_difference_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-sketch set DIFFERENCE |A \\ B| (first-week clickers who
    did not click in the final week — churned clickers; the user/type
    matrix is dense in this corpus, so the discriminating sets are
    time slices), the third set operation of the theta family
    (union = distinct count, intersection = kmv_intersection_eval):
    cut both kept-hash sets at theta = min(theta_a, theta_b); A's
    sample below theta is uniform at rate theta/M, and membership in
    B is EXACT within the sample (B's sample below theta is all of B's
    hashes there), so anti-joining the two k-row frames and scaling by
    M/theta estimates the difference.  Evaluated against the exact
    anti-join of the full hash sets.

    Same integer discipline as the sibling: 60-bit md5 hashes,
    order-statistic thetas, a k-row LEFT ANTI join — the only floats
    are the two final divisions.  At 100 TB both sketches are
    mergeable per-partition TakeOrdered states; the eval's exact side
    is the audit run, not the production path."""
    clicks = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", F.to_date("ts").alias("d"))
    )
    anchor = clicks.agg(F.min("d").alias("d0"))
    sliced = clicks.crossJoin(anchor)

    def kmv(pred):
        h = (
            sliced.filter(pred)
            .select(
                F.conv(
                    F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 15
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("hv")
            )
            .distinct()
        )
        kept = h.orderBy("hv").limit(_KMV_K)
        theta = kept.agg(
            F.when(F.count(F.lit(1)) < _KMV_K, F.lit(2**60))
            .otherwise(F.max("hv"))
            .alias("theta")
        )
        return h, kept, theta

    ha, ka, ta = kmv(F.col("d") < F.date_add("d0", 7))
    hb, kb, tb = kmv(F.col("d") >= F.date_add("d0", 21))
    th = ta.crossJoin(tb.withColumnRenamed("theta", "theta_b")).select(
        F.least("theta", "theta_b").alias("theta")
    )
    ka_cut = ka.crossJoin(th).filter(
        F.col("hv") <= F.col("theta")
    )
    kb_cut = (
        kb.crossJoin(th)
        .filter(F.col("hv") <= F.col("theta"))
        .select("hv")
    )
    diff = ka_cut.join(kb_cut, "hv", "left_anti").agg(
        F.count(F.lit(1)).alias("n_diff")
    )
    exact = ha.join(hb, "hv", "left_anti").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    est = F.col("n_diff") * F.lit(_KMV_M) / F.col("theta")
    return (
        diff.crossJoin(exact)
        .crossJoin(th)
        .select(
            "n_exact",
            "n_diff",
            F.round(est, 2).alias("kmv_estimate"),
            # NULL when the exact difference is empty (sf0.001 has no
            # churned clickers) — an unguarded ratio divides by zero
            # under ANSI mode; stated identically in the oracle.
            F.when(
                F.col("n_exact") > 0,
                F.round((est - F.col("n_exact")) / F.col("n_exact"), 4),
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# Spectral entropy of the candidate-period power spectrum
# ---------------------------------------------------------------------------


@register(
    "timeseries_spectral_entropy",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), anchored AS (
      SELECT CAST(day - (SELECT min(day) FROM daily) AS BIGINT) AS d, c
      FROM daily
    ), centered AS (
      SELECT d, c - (SELECT avg(c) FROM anchored) AS x FROM anchored
    ), spec AS (
      SELECT p.period,
             round(pow(sum(x * cos(2 * pi() * d / p.period)), 2)
                 + pow(sum(x * sin(2 * pi() * d / p.period)), 2), 4)
               AS power
      FROM centered, (SELECT unnest({list(_PERIODS)!r}) AS period) p
      GROUP BY p.period
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_periods,
             sum(power) AS total_power
      FROM spec
    ), peak AS (
      SELECT period AS peak_period, power AS peak_power
      FROM spec ORDER BY power DESC, period LIMIT 1
    )
    SELECT t.n_periods, p.peak_period,
           round(p.peak_power / t.total_power, 6) AS peak_share,
           round(-sum(CASE WHEN s.power > 0
                           THEN (s.power / t.total_power)
                                * ln(s.power / t.total_power)
                           ELSE 0 END), 6) AS spectral_entropy,
           round(-sum(CASE WHEN s.power > 0
                           THEN (s.power / t.total_power)
                                * ln(s.power / t.total_power)
                           ELSE 0 END) / ln(t.n_periods), 6)
             AS entropy_norm
    FROM spec s CROSS JOIN tot t CROSS JOIN peak p
    GROUP BY t.n_periods, p.peak_period, p.peak_power, t.total_power
    """,
    tags=("TS", "STATS"),
)
def timeseries_spectral_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spectral entropy of the daily series' candidate-period power
    spectrum: normalize the 13 periodogram powers into a distribution
    and take -sum(p ln p) — the single-number "how seasonal is this
    series" score (entropy_norm ~ 0: one dominant cycle; ~ 1: white
    noise), plus the argmax period and its power share.  The
    forecastability screen a capacity planner runs across thousands
    of series before deciding which deserve a seasonal model
    (tsfeatures' spectral_entropy, catch22's analog).

    Float discipline: the entropy is computed from the 4dp-ROUNDED
    powers — the exact values the sibling periodogram query already
    hash-verifies cross-engine — so the only new float ops are the
    shared p*ln(p) expression and the final 6dp rounds; argmax ties
    break to the smallest period in both engines.  Plan: identical to
    timeseries_periodogram_daily (one daily rollup does all the fact
    work) plus three single-row broadcasts."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    anchors = daily.agg(F.min("day").alias("day0"), F.avg("c").alias("mu"))
    centered = daily.crossJoin(anchors).select(
        F.datediff("day", "day0").cast("long").alias("d"),
        (F.col("c") - F.col("mu")).alias("x"),
    )
    periods = spark.range(2, 15).select(
        F.col("id").cast("int").alias("period")
    )
    theta = F.lit(2.0 * math.pi) * F.col("d") / F.col("period")
    spec = (
        centered.crossJoin(periods)
        .groupBy("period")
        .agg(
            F.round(
                F.pow(F.sum(F.col("x") * F.cos(theta)), 2)
                + F.pow(F.sum(F.col("x") * F.sin(theta)), 2),
                4,
            ).alias("power")
        )
    )
    tot = spec.agg(
        F.count(F.lit(1)).alias("n_periods"),
        F.sum("power").alias("total_power"),
    )
    peak = (
        spec.orderBy(F.desc("power"), "period")
        .limit(1)
        .select(
            F.col("period").alias("peak_period"),
            F.col("power").alias("peak_power"),
        )
    )
    p_i = F.col("power") / F.col("total_power")
    ent = -F.sum(F.when(F.col("power") > 0, p_i * F.log(p_i)).otherwise(0.0))
    return (
        spec.crossJoin(tot)
        .crossJoin(peak)
        .groupBy("n_periods", "peak_period", "peak_power", "total_power")
        .agg(
            F.round(ent, 6).alias("spectral_entropy"),
            F.round(ent / F.log(F.col("n_periods").cast("double")), 6)
            .alias("entropy_norm"),
        )
        .select(
            "n_periods",
            "peak_period",
            F.round(F.col("peak_power") / F.col("total_power"), 6).alias(
                "peak_share"
            ),
            "spectral_entropy",
            "entropy_norm",
        )
    )


# ---------------------------------------------------------------------------
# Weighted exact percentiles (quantilesExactWeighted analog)
# ---------------------------------------------------------------------------


@register(
    "percentiles_weighted_exact",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(floor(l_quantity) AS BIGINT) AS wt
      FROM lineitem
    ),
    cells AS (
      SELECT l_returnflag, cents, CAST(sum(wt) AS BIGINT) AS wt
      FROM w GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, cents, wt,
             sum(wt) OVER (PARTITION BY l_returnflag ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY l_returnflag) AS tw
      FROM cells
    )
    SELECT l_returnflag,
           CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT)
             AS p50_cents,
           CAST(min(CASE WHEN 10 * cw >= 9 * tw THEN cents END) AS BIGINT)
             AS p90_cents,
           CAST(min(CASE WHEN 100 * cw >= 99 * tw THEN cents END) AS BIGINT)
             AS p99_cents
    FROM cum GROUP BY l_returnflag
    """,
    tags=("A-ext", "STATS"),
)
def percentiles_weighted_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED exact percentiles (ClickHouse quantilesExactWeighted):
    the p-quantile of unit price where each lineitem counts
    l_quantity times — the "per unit sold" distribution a revenue
    analysis actually wants, vs the per-ROW percentiles of
    percentiles_order_price that overweight small orders.  Selected
    value = smallest v whose cumulative weight reaches p * total
    (weighted percentile_disc semantics).

    All integer: centi-unit prices, integral quantities as BIGINT
    weights, and the threshold test is the cross-multiplied form
    (2*cw >= tw, 10*cw >= 9*tw, 100*cw >= 99*tw) so no division
    exists at all.  Scale shape: collapse to (group, value) cells
    FIRST (one partial-aggregating shuffle), then one running-sum
    window over the cells — the window runs on |distinct values| per
    group, not |rows|; at 100 TB with near-unique values, swap in the
    bucketed histogram form (sketch_histogram_quantiles) — this is
    the exact-forensics variant."""
    w = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.floor(F.col("l_quantity")).cast("long").alias("wt"),
    )
    cells = w.groupBy("l_returnflag", "cents").agg(
        F.sum("wt").cast("long").alias("wt")
    )
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt_all = Window.partitionBy("l_returnflag")
    cum = cells.select(
        "l_returnflag",
        "cents",
        F.sum("wt").over(win).alias("cw"),
        F.sum("wt").over(wt_all).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("p50_cents"),
        F.min(F.when(10 * F.col("cw") >= 9 * F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("p90_cents"),
        F.min(F.when(100 * F.col("cw") >= 99 * F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("p99_cents"),
    )


# ---------------------------------------------------------------------------
# sumMap analog: per-day event_type -> value map, merged and sorted
# ---------------------------------------------------------------------------


@register(
    "agg_summap_daily_type_values",
    oracle="""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    nested AS (
      SELECT day,
             to_json(list(struct_pack(k := event_type, v := cents)
                          ORDER BY event_type)) AS type_values_json,
             CAST(count(*) AS BIGINT) AS n_types
      FROM cells GROUP BY day
    )
    SELECT day, n_types, type_values_json FROM nested
    """,
    tags=("A-ext", "NEST"),
)
def agg_summap_daily_type_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ClickHouse sumMap analog: per day, the event_type -> summed
    value mapping as ONE nested column (sorted (k, v) structs
    serialized to JSON — the deterministic wire form of a map, since
    map-typed columns hash by undefined entry order and raw struct
    payloads canonicalize engine-specifically; same to_json
    discipline as the nest family, reshape.py:25).  This is
    the rollup shape monitoring dashboards store: one row per day,
    the per-type breakdown payload inside it, mergeable by
    concatenating maps and re-summing (sumMap's defining property).

    Plan: one partial-aggregating groupBy to (day, type) cells — the
    only fact-table pass — then a day-keyed nest whose payload is
    bounded by |event types|; exact centi-unit BIGINTs inside the
    structs."""
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.to_date("ts").alias("day"), "event_type"
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    return cells.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.to_json(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("event_type").alias("k"),
                        F.col("cents").alias("v"),
                    )
                )
            )
        ).alias("type_values_json"),
    ).select("day", "n_types", "type_values_json")


# ---------------------------------------------------------------------------
# Two-proportion z-test: conversion-rate change between periods
# ---------------------------------------------------------------------------


@register(
    "stats_conversion_rate_ztest",
    oracle="""
    WITH span AS (
      SELECT min(CAST(ts AS DATE)) AS d0 FROM events
    ),
    base AS (
      SELECT CASE WHEN CAST(ts AS DATE) < d0 + 7 THEN 'week1'
                  WHEN CAST(ts AS DATE) >= d0 + 21 THEN 'week4' END AS p,
             event_type
      FROM events, span
    ),
    counts AS (
      SELECT p,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM base WHERE p IS NOT NULL GROUP BY p
    ),
    wide AS (
      SELECT
        max(CASE WHEN p = 'week1' THEN n_events END) AS c1,
        max(CASE WHEN p = 'week1' THEN n_purchases END) AS x1,
        max(CASE WHEN p = 'week4' THEN n_events END) AS c2,
        max(CASE WHEN p = 'week4' THEN n_purchases END) AS x2
      FROM counts
    )
    SELECT c1 AS week1_events, x1 AS week1_purchases,
           c2 AS week4_events, x2 AS week4_purchases,
           round(CAST(x1 AS DOUBLE) / c1, 6) AS rate1,
           round(CAST(x2 AS DOUBLE) / c2, 6) AS rate2,
           round((CAST(x2 AS DOUBLE) / c2 - CAST(x1 AS DOUBLE) / c1)
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / (c1 + c2))
                        * (1 - CAST(x1 + x2 AS DOUBLE) / (c1 + c2))
                        * (1.0 / c1 + 1.0 / c2)), 4) AS z_score
    FROM wide
    """,
    tags=("A-ext", "STATS", "EVAL"),
)
def stats_conversion_rate_ztest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-proportion z-test on the purchase SHARE of all events,
    first week vs final week — the PROPORTION sibling of
    behavior_ab_lift_welch's mean test, and the statistic every
    conversion dashboard needs before calling a rate change real:
    z = (p2 - p1) / sqrt(p_pool (1-p_pool) (1/n1 + 1/n2)) under the
    pooled null.

    Counts are exact BIGINTs from ONE conditional aggregate over the
    fact scan (no join — the period and type splits are CASE
    expressions); the z formula runs once on a 1-row frame in both
    engines and rounds at 4dp.  The proportion is purchases over ALL
    period events — a true subset share, so the pooled variance
    p(1-p) is always well-defined (a per-click 'rate' can exceed 1
    when purchases aren't funneled through clicks, and its sqrt
    blows up — found by the sf0.1 gate)."""
    ev = table(spark, sf_dir, "events")
    span = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    base = ev.crossJoin(span).select(
        F.when(F.to_date("ts") < F.date_add("d0", 7), "week1")
        .when(F.to_date("ts") >= F.date_add("d0", 21), "week4")
        .alias("p"),
        "event_type",
    )
    counts = (
        base.filter(F.col("p").isNotNull())
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_purchases"),
        )
    )
    wide = counts.agg(
        F.max(F.when(F.col("p") == "week1", F.col("n_events"))).alias("c1"),
        F.max(F.when(F.col("p") == "week1", F.col("n_purchases"))).alias(
            "x1"
        ),
        F.max(F.when(F.col("p") == "week4", F.col("n_events"))).alias("c2"),
        F.max(F.when(F.col("p") == "week4", F.col("n_purchases"))).alias(
            "x2"
        ),
    )
    r1 = F.col("x1").cast("double") / F.col("c1")
    r2 = F.col("x2").cast("double") / F.col("c2")
    pool = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("c1") + F.col("c2")
    )
    z = (r2 - r1) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("c1") + 1.0 / F.col("c2"))
    )
    return wide.select(
        F.col("c1").alias("week1_events"),
        F.col("x1").alias("week1_purchases"),
        F.col("c2").alias("week4_events"),
        F.col("x2").alias("week4_purchases"),
        F.round(r1, 6).alias("rate1"),
        F.round(r2, 6).alias("rate2"),
        F.round(z, 4).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Nonparametric two-sample tests: Kolmogorov-Smirnov and Mann-Whitney U
# ---------------------------------------------------------------------------

#: The two event-type samples the nonparametric tests compare.
_NP_A, _NP_B = "click", "purchase"


@register(
    "stats_ks_two_sample",
    oracle=f"""
    WITH t AS (
      SELECT event_type = '{_NP_A}' AS is_a,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('{_NP_A}', '{_NP_B}')
    ),
    counts AS (
      SELECT cents,
             CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb_v
      FROM t GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             sum(na_v) OVER (ORDER BY cents) AS ca,
             sum(nb_v) OVER (ORDER BY cents) AS cb
      FROM counts
    ),
    tot AS (
      SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
      FROM t
    ),
    d AS (
      SELECT c.cents, abs(c.ca * t.nb - c.cb * t.na) AS dnum
      FROM cum c, tot t
    ),
    best AS (SELECT cents, dnum FROM d ORDER BY dnum DESC, cents ASC LIMIT 1)
    SELECT t.na AS n_a, t.nb AS n_b,
           CAST(b.dnum AS BIGINT) AS d_num,
           round(CAST(b.dnum AS DOUBLE) / (t.na * t.nb), 6) AS ks_d,
           b.cents AS ks_at_cents
    FROM tot t, best b
    """,
    tags=("A-ext", "STATS"),
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    click and purchase value distributions — the distribution-drift
    test a curation pipeline runs between a candidate batch and the
    corpus (are these values drawn from the same distribution?).
    Exactness: values snap to integer cents; the sup over x of
    |F_a(x) - F_b(x)| is maximized over the distinct cents values with
    the common denominator n_a*n_b kept OUT of the comparison —
    d_num = max |ca*nb - cb*na| is an exact BIGINT, so the argmax and
    the tie-break (smallest cents achieving the sup) are engine-exact;
    only the final normalized ks_d divides.

    Scale shape: one conditional-count aggregate to DISTINCT values
    (6.4k cells here, bounded by value cardinality, not row count),
    one cumulative window over those cells (a range-partitioned sort
    exchange at scale — never the raw rows), one max. The raw table
    is touched exactly once, map-side."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_NP_A, _NP_B)
    )
    t = ev.select(
        (F.col("event_type") == _NP_A).alias("is_a"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    counts = t.groupBy("cents").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("na_v"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("nb_v"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.select(
        "cents",
        F.sum("na_v").over(w).alias("ca"),
        F.sum("nb_v").over(w).alias("cb"),
    )
    tot = t.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1))
        .cast("long")
        .alias("nb"),
    )
    d = cum.crossJoin(tot).select(
        "cents",
        "na",
        "nb",
        F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")).alias(
            "dnum"
        ),
    )
    best = d.orderBy(F.desc("dnum"), F.asc("cents")).limit(1)
    return best.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("dnum").cast("long").alias("d_num"),
        F.round(
            F.col("dnum").cast("double") / (F.col("na") * F.col("nb")), 6
        ).alias("ks_d"),
        F.col("cents").alias("ks_at_cents"),
    )


@register(
    "stats_mann_whitney_u",
    oracle=f"""
    WITH t AS (
      SELECT event_type = '{_NP_A}' AS is_a,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('{_NP_A}', '{_NP_B}')
    ),
    counts AS (
      SELECT cents,
             CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
             CAST(count(*) AS BIGINT) AS cnt
      FROM t GROUP BY cents
    ),
    ranked AS (
      SELECT cents, na_v, cnt,
             sum(cnt) OVER (ORDER BY cents) - cnt AS cum_before
      FROM counts
    ),
    agg AS (
      SELECT CAST(sum(na_v * (2 * cum_before + cnt + 1)) AS BIGINT) AS r1_2,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
      FROM ranked
    ),
    tot AS (
      SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
             CAST(count(*) AS BIGINT) AS n
      FROM t
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           CAST(a.r1_2 - t.na * (t.na + 1) AS BIGINT) AS u2,
           round((a.r1_2 - t.na * (t.na + 1)) / 2.0, 1) AS u_stat,
           round(
             ((a.r1_2 - t.na * (t.na + 1)) / 2.0 - t.na * t.nb / 2.0)
             / sqrt((CAST(t.na AS DOUBLE) * t.nb / 12.0)
                    * ((t.n + 1) - CAST(a.ties AS DOUBLE)
                       / (CAST(t.n AS DOUBLE) * (t.n - 1)))),
             4) AS z_score
    FROM agg a, tot t
    """,
    tags=("A-ext", "STATS"),
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test between the click and purchase
    value samples, with the standard tie correction — the
    location-shift companion to stats_ks_two_sample's shape test.
    Exactness: ranks never materialize per row; the tie-averaged rank
    of a distinct value is (2*cum_before + cnt + 1)/2, so DOUBLED rank
    sums stay exact BIGINTs (r1_2), u2 = 2U is exact, and the only
    float arithmetic is the final z normalization from those exact
    integers (identical expression both engines, rounded).

    Scale shape: same as the KS plan — one aggregate to distinct
    values, one cumulative window over value cells, one fold; the tie
    term sum(t^3 - t) rides the same cell frame.  No per-row rank
    window ever exists, which is what makes rank tests feasible at
    100 TB (a global row_number over raw rows would be a single-sort
    bottleneck)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_NP_A, _NP_B)
    )
    t = ev.select(
        (F.col("event_type") == _NP_A).alias("is_a"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    counts = t.groupBy("cents").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("na_v"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = counts.select(
        "na_v",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
    )
    agg = ranked.agg(
        F.sum(
            F.col("na_v") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("r1_2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("ties"),
    )
    tot = t.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    j = agg.crossJoin(F.broadcast(tot))
    u2 = F.col("r1_2") - F.col("na") * (F.col("na") + 1)
    u = u2 / 2.0
    mu = F.col("na") * F.col("nb") / 2.0
    var = (F.col("na").cast("double") * F.col("nb") / 12.0) * (
        (F.col("n") + 1)
        - F.col("ties").cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return j.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        u2.cast("long").alias("u2"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - mu) / F.sqrt(var), 4).alias("z_score"),
    )


@register(
    "stats_spearman_rank_corr",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS x,
             CAST(floor(sum(value) * 100) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    rx AS (
      SELECT x, 2 * (sum(cnt) OVER (ORDER BY x) - cnt) + cnt + 1 AS r2
      FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY x)
    ),
    ry AS (
      SELECT y, 2 * (sum(cnt) OVER (ORDER BY y) - cnt) + cnt + 1 AS r2
      FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY y)
    ),
    r AS (
      SELECT CAST(rx.r2 AS BIGINT) AS a, CAST(ry.r2 AS BIGINT) AS b
      FROM u JOIN rx USING (x) JOIN ry USING (y)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
             CAST(sum(a * a) AS BIGINT) AS saa,
             CAST(sum(b * b) AS BIGINT) AS sbb,
             CAST(sum(a * b) AS BIGINT) AS sab
      FROM r
    )
    SELECT n AS n_users,
           round((n * sab - sa * sb)
                 / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                    * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6)
             AS rho_spearman
    FROM s
    """,
    tags=("A-ext", "STATS"),
)
def stats_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-user activity (event
    count) and per-user spend (total cents) — the monotone-association
    screen that survives outliers where Pearson does not.  Ranks use
    the same doubled-tie-averaged-rank trick as stats_mann_whitney_u
    (rank2 = 2*cum_before + cnt + 1 over DISTINCT value cells), so
    every sum entering the Pearson-on-ranks formula is an exact
    BIGINT; the one float step is the final normalized division,
    identical in both engines.

    Scale shape: one per-user aggregate, two cell-frame cumulative
    windows (cardinality = distinct x / distinct y, not users), two
    broadcast-sized joins back, one fold.  No per-row global rank
    window.  BIGINT headroom: sums of rank products are ~4n^3 — fine
    to ~10^6 groups; past that, move the moment sums to DOUBLE (the
    rho itself is already float)."""
    u = table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.floor(F.sum("value") * 100).cast("long").alias("y"),
    )
    w_x = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_y = Window.orderBy("y").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rx = (
        u.groupBy("x")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "x",
            (
                2 * (F.sum("cnt").over(w_x) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias("r2"),
        )
    )
    ry = (
        u.groupBy("y")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "y",
            (
                2 * (F.sum("cnt").over(w_y) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias("r2"),
        )
    )
    r = (
        u.join(rx, "x")
        .join(ry.withColumnRenamed("r2", "r2y"), "y")
        .select(
            F.col("r2").cast("long").alias("a"),
            F.col("r2y").cast("long").alias("b"),
        )
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sab"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    dx = (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast(
        "double"
    )
    dy = (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast(
        "double"
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("rho_spearman"),
    )


@register(
    "stats_kendall_tau_daily",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(floor(sum(value) * 100) AS BIGINT) AS tot
      FROM events GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN a.tot < b.tot THEN 1 ELSE 0 END AS conc,
             CASE WHEN a.tot > b.tot THEN 1 ELSE 0 END AS disc,
             CASE WHEN a.tot = b.tot THEN 1 ELSE 0 END AS tie_y
      FROM d a JOIN d b ON a.day < b.day
    ),
    s AS (
      SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n,
             CAST(sum(conc) AS BIGINT) AS c,
             CAST(sum(disc) AS BIGINT) AS dd,
             CAST(sum(tie_y) AS BIGINT) AS ty
      FROM p
    )
    SELECT n AS n_days, c AS concordant, dd AS discordant, ty AS ties_y,
           round((c - dd) / (sqrt(CAST(n * (n - 1) / 2 AS DOUBLE))
                 * sqrt(CAST(n * (n - 1) / 2 - ty AS DOUBLE))), 6)
             AS tau_b
    FROM s
    """,
    tags=("A-ext", "STATS", "TS"),
)
def stats_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between calendar day and daily total spend — the
    nonparametric monotone-TREND test (is activity rising?), the rank
    sibling of trend_theil_sen_daily.  The x variable (day) is
    strictly ordered, so concordance reduces to sign counts over day
    pairs with tau-b's tie-in-y correction; counts are exact BIGINTs
    from exact cent totals, and only the final normalization is float.

    Scale shape: the pair join is over the DAILY aggregate — calendar-
    bounded (30 rows here; 36.5k pairs for a decade), never raw rows;
    the daily rollup itself is one map-side-combined aggregate.  The
    O(n^2) on days is a deliberate, bounded truth computation, the
    same contract as the bounded ANF pair expansion."""
    d = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.floor(F.sum("value") * 100).cast("long").alias("tot"))
    )
    a, b = d.alias("a"), d.alias("b")
    p = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.when(F.col("a.tot") < F.col("b.tot"), 1).otherwise(0).alias("conc"),
        F.when(F.col("a.tot") > F.col("b.tot"), 1).otherwise(0).alias("disc"),
        F.when(F.col("a.tot") == F.col("b.tot"), 1).otherwise(0).alias(
            "tie_y"
        ),
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = (
        p.agg(
            F.sum("conc").cast("long").alias("c"),
            F.sum("disc").cast("long").alias("dd"),
            F.sum("tie_y").cast("long").alias("ty"),
        )
        .crossJoin(n)
    )
    n0 = F.col("n") * (F.col("n") - 1) / 2
    return s.select(
        F.col("n").alias("n_days"),
        F.col("c").alias("concordant"),
        F.col("dd").alias("discordant"),
        F.col("ty").alias("ties_y"),
        F.round(
            (F.col("c") - F.col("dd"))
            / (
                F.sqrt(n0.cast("double"))
                * F.sqrt((n0 - F.col("ty")).cast("double"))
            ),
            6,
        ).alias("tau_b"),
    )


@register(
    "sketch_kmv_union_eval",
    oracle=f"""
    WITH ha AS ({_duck_kmv_set('click')}),
    hb AS ({_duck_kmv_set('purchase')}),
    ka AS (SELECT hv FROM ha ORDER BY hv LIMIT {_KMV_K}),
    kb AS (SELECT hv FROM hb ORDER BY hv LIMIT {_KMV_K}),
    ku AS (
      SELECT hv FROM (
        SELECT hv FROM ka UNION SELECT hv FROM kb
      ) ORDER BY hv LIMIT {_KMV_K}
    ),
    tu AS (
      SELECT CASE WHEN count(*) < {_KMV_K} THEN {2**60}
                  ELSE max(hv) END AS theta,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM ku
    ),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact
      FROM (SELECT hv FROM ha UNION SELECT hv FROM hb)
    )
    SELECT e.n_exact, t.n_kept,
           round(t.n_kept * {_KMV_M!r} / t.theta, 2) AS kmv_estimate,
           round((t.n_kept * {_KMV_M!r} / t.theta - e.n_exact)
                 / e.n_exact, 4) AS rel_error
    FROM tu t CROSS JOIN exact e
    """,
    tags=("SKETCH",),
)
def sketch_kmv_union_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set UNION, completing the family's algebra
    (distinct / intersection / difference already measured): merging
    two KMV sketches is just "k smallest of the concatenated kept
    hashes" — the property that makes theta sketches the mergeable
    distinct-count structure for shard-then-combine at 100 TB (each
    partition keeps k longs; the combiner is a TakeOrdered over
    2k rows).  Estimate n_kept * M / theta_union, evaluated against
    the exact click-user UNION purchase-user count; the under-k branch
    collapses to the exact count, identically in both engines
    (same contract as the intersection/difference evals).

    Integer except the two final divisions: hashes are 60-bit md5
    slices, the union-kept set is a TakeOrdered of two k-row frames,
    theta is an order statistic."""
    ev = table(spark, sf_dir, "events")

    def kmv(event_type: str):
        h = (
            ev.filter(F.col("event_type") == event_type)
            .select(
                F.conv(
                    F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 15
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("hv")
            )
            .distinct()
        )
        return h, h.orderBy("hv").limit(_KMV_K)

    ha, ka = kmv("click")
    hb, kb = kmv("purchase")
    ku = (
        ka.unionByName(kb).distinct().orderBy("hv").limit(_KMV_K)
    )
    tu = ku.agg(
        F.when(F.count(F.lit(1)) < _KMV_K, F.lit(2**60))
        .otherwise(F.max("hv"))
        .alias("theta"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    exact = (
        ha.unionByName(hb).distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n_exact")
        )
    )
    est = F.col("n_kept") * F.lit(_KMV_M) / F.col("theta")
    return tu.crossJoin(exact).select(
        "n_exact",
        "n_kept",
        F.round(est, 2).alias("kmv_estimate"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_error"
        ),
    )
