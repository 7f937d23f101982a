"""Interval algebra over the events stream: peak concurrency (sweep
line) and merged-union coverage (gaps-and-islands on overlapping
spans) — the "how loaded was the system, really" queries a capacity
monitor (reference purpose: chStats.py is a ClickHouse health/capacity
monitor) answers once events are modelled as active SPANS instead of
points.

Every event is read as the interval ``[ts, ts + 60s + floor(value))``
(the synthetic ``value`` column doubles as a duration payload; the 60 s
floor keeps every span non-empty), in exact integer epoch seconds so
every boundary comparison is integer arithmetic and the DuckDB twin
hashes identically.

Scale notes (100 TB): the classic sweep line is a TOTAL ORDER per key —
with a handful of event types that means one near-serial sort partition
per key no matter how wide the cluster is.  ``interval_peak_concurrency``
therefore runs the textbook two-level scan instead: per-(type, day)
LOCAL running sums in parallel, a types×days-sized prefix over the tiny
bucket aggregate for the carry-in offsets, then a broadcast join-back —
the same partial-scan/carry decomposition as a parallel prefix sum, so
the fact-sized frames are only ever partitioned by (type, day), never by
type alone.  The coverage query is naturally keyed by day, which already
scales (the within-day sort is bounded by one day of one key's data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table

#: Seconds added to floor(value) so every interval is non-empty.
_BASE_S = 60

#: Exact integer epoch seconds of an event, both engines.  DuckDB's
#: epoch_us is BIGINT microseconds; // 1000000 truncates exactly like
#: Spark's unix_timestamp (all timestamps here are post-1970).
_DUCK_T0 = "epoch_us(CAST(ts AS TIMESTAMP)) // 1000000"

_DUCK_IV = f"""
  SELECT event_type,
         {_DUCK_T0} AS t0,
         {_DUCK_T0} + {_BASE_S} + CAST(floor(value) AS BIGINT) AS t1
  FROM events
"""


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (event_type, t0, t1) exact-integer spans."""
    ev = table(spark, sf_dir, "events")
    t0 = F.unix_timestamp("ts")
    return ev.select(
        "event_type",
        t0.alias("t0"),
        (t0 + F.lit(_BASE_S) + F.floor("value")).alias("t1"),
    )


@register(
    "interval_peak_concurrency",
    oracle=f"""
    WITH iv AS ({_DUCK_IV}),
    pts AS (
      SELECT event_type, t0 AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, t1 AS t, -1 AS delta FROM iv
    ),
    runs AS (
      SELECT event_type, t,
             CAST(sum(delta) OVER (PARTITION BY event_type
                                   ORDER BY t, delta
                                   ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS running
      FROM pts
    ),
    peaks AS (
      SELECT event_type, max(running) AS peak_concurrency,
             CAST(count(*) // 2 AS BIGINT) AS n_events
      FROM runs GROUP BY event_type
    )
    SELECT r.event_type, p.n_events, p.peak_concurrency,
           min(r.t) AS peak_t
    FROM runs r JOIN peaks p ON r.event_type = p.event_type
                            AND r.running = p.peak_concurrency
    GROUP BY r.event_type, p.n_events, p.peak_concurrency
    """,
    tags=("MONITOR", "INTERVAL"),
)
def interval_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous in-flight events per event_type (and the first
    instant the peak is reached): the max of the +1/−1 sweep line over
    interval starts/ends — the question every capacity monitor must
    answer exactly, because averages hide the burst that pages you.

    Tie discipline: boundaries sort by (t, delta) with ends (−1) before
    starts (+1), so back-to-back intervals that merely touch never
    count as concurrent — and the running-sum multiset is deterministic
    under ties because equal-(t, delta) rows are interchangeable.

    Scale shape — TWO-LEVEL SCAN, not a per-type total order: the
    boundary rows are cumulated LOCALLY per (event_type, day-bucket)
    (parallel across days), the per-bucket delta totals — a types×days
    frame — get an exclusive prefix sum on the tiny aggregate, and the
    carry-in offset joins back by bucket.  ``global running = local
    running + carry``, exactly the carry/scan decomposition of a
    parallel prefix sum, so no fact-sized partition is ever keyed by
    event_type alone (with 5 types, a plain per-type window would put
    20 % of 100 TB in ONE sort partition).  The oracle states the same
    semantics as the one-level window."""
    iv = _spans(spark, sf_dir)
    pts = iv.select(
        "event_type", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(
            "event_type", F.col("t1").alias("t"), F.lit(-1).alias("delta")
        )
    )
    pts = pts.withColumn("bucket", F.col("t") - (F.col("t") % 86400))

    # Level 1: local running sum within (type, day) — parallel.
    w_local = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = pts.withColumn("run_local", F.sum("delta").over(w_local))

    # Level 2: carry-in per bucket from the types×days aggregate.
    bucket_tot = pts.groupBy("event_type", "bucket").agg(
        F.sum("delta").alias("bucket_delta")
    )
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bucket_tot.select(
        "event_type",
        "bucket",
        F.coalesce(F.sum("bucket_delta").over(w_carry), F.lit(0)).alias(
            "carry"
        ),
    )
    runs = local.join(
        carry, ["event_type", "bucket"]
    ).withColumn("running", (F.col("run_local") + F.col("carry")).cast("long"))

    peaks = (
        runs.groupBy("event_type")
        .agg(
            F.max("running").alias("peak_concurrency"),
            F.expr("count(*) div 2").alias("n_events"),
        )
        .withColumnRenamed("event_type", "pk_type")
    )
    return (
        runs.join(
            F.broadcast(peaks),
            (F.col("event_type") == F.col("pk_type"))
            & (F.col("running") == F.col("peak_concurrency")),
        )
        .groupBy("event_type", "n_events", "peak_concurrency")
        .agg(F.min("t").alias("peak_t"))
    )


@register(
    "interval_union_coverage_daily",
    oracle=f"""
    WITH iv AS (
      SELECT {_DUCK_T0} AS t0,
             {_DUCK_T0} + {_BASE_S} + CAST(floor(value) AS BIGINT) AS t1,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    ),
    marked AS (
      SELECT day, t0, t1,
             CASE WHEN max(t1) OVER (PARTITION BY day
                                     ORDER BY t0, t1
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) >= t0
                  THEN 0 ELSE 1 END AS is_new
      FROM iv
    ),
    islands AS (
      SELECT day, t0, t1,
             CAST(sum(is_new) OVER (PARTITION BY day ORDER BY t0, t1
                                    ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS island
      FROM marked
    ),
    per_island AS (
      SELECT day, island,
             max(t1) - min(t0) AS len_s,
             CAST(count(*) AS BIGINT) AS n_spans
      FROM islands GROUP BY day, island
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(n_spans) AS BIGINT) AS n_events,
           CAST(sum(len_s) AS BIGINT) AS covered_s
    FROM per_island GROUP BY day
    """,
    tags=("MONITOR", "INTERVAL"),
)
def interval_union_coverage_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Union coverage per day: total seconds covered by the UNION of all
    event spans starting that day (overlaps merged, abutting spans
    coalesced), plus the island count — "how much of the day was the
    system actually busy" as opposed to sum-of-durations, which double
    counts overlap.  Spans are assigned to their start day and not
    clipped at midnight (documented choice; the oracle states the same).

    Classic gaps-and-islands on spans: order by (t0, t1) within day, a
    span opens a new island iff it starts after the running max end of
    all earlier spans; island length is max(end) − min(start).  Exact
    integer seconds throughout.

    Scale shape: everything is keyed by day — one exchange on day, the
    within-partition sort is one day's events, and days grow with data
    so parallelism grows with scale (unlike a per-type sweep).  The
    ``max(t1) OVER preceding`` trick needs no self-join and no
    explode."""
    ev = table(spark, sf_dir, "events")
    t0 = F.unix_timestamp("ts")
    iv = ev.select(
        F.to_date("ts").alias("day"),
        t0.alias("t0"),
        (t0 + F.lit(_BASE_S) + F.floor("value")).alias("t1"),
    )
    w_prev = (
        Window.partitionBy("day")
        .orderBy("t0", "t1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "is_new",
        F.when(F.max("t1").over(w_prev) >= F.col("t0"), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    w_run = (
        Window.partitionBy("day")
        .orderBy("t0", "t1")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.withColumn(
        "island", F.sum("is_new").over(w_run).cast("long")
    )
    per_island = islands.groupBy("day", "island").agg(
        (F.max("t1") - F.min("t0")).alias("len_s"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return per_island.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("n_spans").alias("n_events"),
        F.sum("len_s").alias("covered_s"),
    )


@register(
    "interval_overlap_error_purchase",
    oracle=f"""
    WITH iv AS ({_DUCK_IV} WHERE event_type IN ('error', 'purchase')),
    a AS (SELECT t0, t1 FROM iv WHERE event_type = 'error'),
    b AS (SELECT t0, t1 FROM iv WHERE event_type = 'purchase'),
    hits AS (
      SELECT greatest(a.t0, b.t0) // 86400 AS day_num,
             least(a.t1, b.t1) - greatest(a.t0, b.t0) AS ov_s
      FROM a JOIN b ON a.t0 < b.t1 AND b.t0 < a.t1
    )
    SELECT day_num,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(ov_s) AS BIGINT) AS overlap_s
    FROM hits GROUP BY day_num
    """,
    tags=("MONITOR", "INTERVAL"),
)
def interval_overlap_error_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incident correlation: for every (error, purchase) span pair that
    OVERLAPS in time, the per-day pair count and total overlap seconds
    — "how much purchase activity was in flight while errors were
    live", the question that turns an error-rate monitor (reference
    purpose) into a blast-radius estimate.

    Scale shape — BUCKETED RANGE JOIN, the standard way to make an
    interval-overlap join an equi-join: each span is exploded to the
    day buckets it touches (spans are minutes long, so 1-2 rows each),
    the join runs on bucket equality + the overlap predicate, and the
    tie-break ``bucket == floor(overlap_start/86400)`` keeps exactly
    ONE copy of each pair (the overlap start lies inside both spans,
    so its bucket is always among the shared buckets — no distinct
    needed).  Candidate pairs are bounded per bucket instead of
    |errors| x |purchases| globally; the oracle states the same
    semantics as the naive theta-join."""
    iv = _spans(spark, sf_dir).filter(
        F.col("event_type").isin("error", "purchase")
    )
    iv = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("t0") / 86400).cast("long"),
                # t1 is exclusive: a span ending exactly on a bucket
                # edge does not touch the next bucket.
                ((F.col("t1") - 1) / 86400).cast("long"),
            )
        ),
    )
    a = iv.filter(F.col("event_type") == "error").select(
        F.col("t0").alias("a0"), F.col("t1").alias("a1"), "bucket"
    )
    b = iv.filter(F.col("event_type") == "purchase").select(
        F.col("t0").alias("b0"), F.col("t1").alias("b1"), "bucket"
    )
    start = F.greatest("a0", "b0")
    hits = (
        a.join(b, "bucket")
        .filter((F.col("a0") < F.col("b1")) & (F.col("b0") < F.col("a1")))
        .filter(F.col("bucket") == (start / 86400).cast("long"))
        .select(
            (start / 86400).cast("long").alias("day_num"),
            (F.least("a1", "b1") - start).alias("ov_s"),
        )
    )
    return hits.groupBy("day_num").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("ov_s").alias("overlap_s"),
    )
