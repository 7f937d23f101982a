"""Behavioral event analytics over the `events` table (extended
surface): ordered funnels, cohort retention, and event-transition
matrices — the event-sequence queries a monitoring/analytics consumer
of the reference's event stream (chStats.py:413-483 emits exactly such
per-entity event records) would run downstream.

Scale shape: every query here clusters by `user_id` exactly once —
funnel stages are layered window aggregates over the SAME
HashPartitioning(user_id) exchange (no self-joins, no per-stage
rescans), transitions use one lead() over that exchange, and cohorts
aggregate (user, period) pairs that partial-combine map-side before
the one shuffle.  Nothing collects per-user arrays, so a bot user
with 10^8 events streams through the window operator without
materializing in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table

# ---------------------------------------------------------------------------
# Ordered funnel: signup -> click -> purchase, strictly in time order
# ---------------------------------------------------------------------------


@register(
    "funnel_signup_click_purchase",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS ts1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, min(e.ts) AS ts2
      FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > t1.ts1
      GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, min(e.ts) AS ts3
      FROM events e JOIN t2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM t1) AS n_signup,
           (SELECT count(*) FROM t2) AS n_click_after_signup,
           (SELECT count(*) FROM t3) AS n_purchase_after_click
    """,
    tags=("BEHAV",),
)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered three-stage funnel: users who signed up, then
    clicked AFTER the signup, then purchased AFTER that click (earliest
    qualifying event at each stage).

    The oracle's three self-joins are collapsed into layered window
    minima over ONE user_id exchange: t1 = min signup ts, t2 = min
    click ts > t1, t3 = min purchase ts > t2 — each layer is a window
    aggregate over the same partitioning, so Catalyst plans a single
    shuffle followed by three in-partition passes, versus three scans +
    three shuffles for the naive join form.  At 100 TB the difference
    is reading the fact once instead of three times."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "ts1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
        )
        .withColumn(
            "ts2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("ts1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "ts3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("ts2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("ts1").alias("ts1"), F.first("ts2").alias("ts2"),
        F.first("ts3").alias("ts3"),
    )
    return per_user.agg(
        F.count("ts1").alias("n_signup"),
        F.count("ts2").alias("n_click_after_signup"),
        F.count("ts3").alias("n_purchase_after_click"),
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention
# ---------------------------------------------------------------------------


@register(
    "retention_weekly_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             datediff('week', f.cohort_week, date_trunc('week', e.ts))
               AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
           week_offset, count(*) AS n_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
    tags=("BEHAV",),
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by the week of
    their first event; for each later week, how many were active.

    The first-event week is a window min over the user_id exchange (no
    join back), the (user, cohort, offset) triple is distinct-ed with a
    map-side partial, and the final count aggregates a set bounded by
    users x weeks — tiny relative to the fact at any scale."""
    e = table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    act = (
        e.withColumn(
            "cohort_week", F.date_trunc("week", F.min("ts").over(w))
        )
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                    / 7
                ).cast("long")
            ).alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (Markov first-order counts)
# ---------------------------------------------------------------------------


@register(
    "path_transition_matrix",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, count(*) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    tags=("BEHAV",),
)
def path_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition counts between consecutive events of each
    user (the input to a Markov path model / anomalous-sequence
    detector).  One lead() over the user_id exchange, with event_id as
    the deterministic tiebreak for identical timestamps; the pair count
    partial-aggregates onto the (|types|^2)-sized domain map-side."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Inter-arrival gap statistics per user
# ---------------------------------------------------------------------------


@register(
    "interarrival_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT user_id,
           count(gap_us) AS n_gaps,
           min(gap_us) AS min_gap_us,
           max(gap_us) AS max_gap_us,
           CAST(floor(avg(gap_us)) AS BIGINT) AS avg_gap_us_floor
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
    tags=("BEHAV",),
)
def interarrival_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap statistics (burst/bot detection
    signal).  lag() and the per-user aggregate share one user_id
    exchange; gaps are exact integer microseconds, and the average is
    floored so the hash comparison never rides on double rounding."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.withColumn(
        "gap_us", F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.floor(F.avg("gap_us")).alias("avg_gap_us_floor"),
    )


# ---------------------------------------------------------------------------
# Value outliers: z-score against per-type population statistics
# ---------------------------------------------------------------------------


@register(
    "outlier_events_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             avg(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sigma, 3) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE abs((e.value - s.mu) / s.sigma) > 3.0
    """,
    tags=("BEHAV", "A-ext"),
)
def outlier_events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is >3 sigma from their type's mean — the
    monitoring-side anomaly screen.  Population moments aggregate onto
    the |event_type| domain (map-side partials, no fact shuffle) and
    broadcast back, so the fact is scanned twice but never exchanged;
    the alternative single-scan window form would shuffle the whole
    fact by a 5-value key — a guaranteed skew trap at 100 TB."""
    e = table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(stats, "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", F.round(z, 3).alias("z"))
    )


@register(
    "cdc_scd2_user_state",
    oracle="""
    SELECT user_id,
           CAST(ts AS TIMESTAMP) AS valid_from,
           CAST(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS TIMESTAMP) AS valid_to,
           event_type AS state,
           round(value, 2) AS state_value,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM events
    """,
    tags=("B-ext", "CDC"),
)
def cdc_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 reconstruction from a change log: each event opens a state
    version valid until the user's next event — the standard
    slowly-changing-dimension type-2 build that turns an append-only
    CDC stream into point-in-time queryable history (the batch twin of
    the streaming upsert sink in streaming/jobs.py).

    One window per user keyed on (ts, event_id): a single exchange on
    user_id; at 100 TB this is the same shape per day-partition with
    the previous day's open versions carried forward."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.col("event_type").alias("state"),
        F.round("value", 2).alias("state_value"),
        valid_to.isNull().alias("is_current"),
    )


@register(
    "join_point_in_time_scd2",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             CAST(ts AS TIMESTAMP) AS valid_from,
             CAST(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS TIMESTAMP)
               AS valid_to,
             round(value, 2) AS state_value
      FROM events WHERE event_type = 'signup'
    )
    SELECT p.event_id, p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           d.state_value,
           epoch_us(CAST(p.ts AS TIMESTAMP))
             - epoch_us(d.valid_from) AS us_since_state
    FROM events p JOIN dim d
      ON p.user_id = d.user_id
     AND p.ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    WHERE p.event_type = 'purchase'
    """,
    tags=("BEHAV", "J-ext", "CDC"),
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal validity) join: every purchase event is
    enriched with the SCD2 state version that was CURRENT at the
    purchase timestamp (valid_from <= ts < valid_to) — the join
    discipline that prevents feature leakage when building training
    data from mutable dimensions.

    Plan: equi-join on user_id with the validity predicate applied at
    the join — per-user version counts bound the fan-out (validity
    intervals are disjoint by construction, so exactly one version
    matches per fact row). Contrast join_asof_last_purchase, which
    implements the same semantics join-free via union + running window
    — THAT is the shape to switch to if a dimension's per-key version
    count ever grows enough to make the interval filter's
    pre-filter fan-out (versions per user) hurt."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.round("value", 2).alias("state_value"),
        )
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    cond = (
        (p["user_id"] == dim["user_id"])
        & (F.col("purchase_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("purchase_ts") < F.col("valid_to")))
    )
    return p.join(dim, cond).select(
        "event_id",
        p["user_id"].alias("user_id"),
        "purchase_ts",
        "state_value",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("valid_from")
        ).alias("us_since_state"),
    )


@register(
    "timeseries_forward_fill",
    oracle="""
    SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN event_type <> 'error' THEN round(value, 2) END AS raw_value,
           last_value(CASE WHEN event_type <> 'error'
                      THEN round(value, 2) END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value
    FROM events
    """,
    tags=("BEHAV", "TS"),
)
def timeseries_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last observation carried forward): error readings
    are NULLed and replaced by the user's most recent good value — the
    standard gap-repair step before feature windows. One running
    last-non-null window over a single user_id exchange; rows before
    the first good observation stay NULL (no lookahead, no leakage)."""
    ev = table(spark, sf_dir, "events")
    good = F.when(F.col("event_type") != "error", F.round("value", 2))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        good.alias("raw_value"),
        F.last(good, ignorenulls=True).over(w).alias("filled_value"),
    )


_EWMA_SHIFT = 2_000_000  # keeps the integer recurrence positive


@register(
    "ewma_user_value",
    oracle=f"""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) + {_EWMA_SHIFT} AS q
      FROM events
    ),
    folds AS (
      SELECT user_id, count(*) AS n_events,
             list_reduce(list(q ORDER BY ts, event_id),
                         (a, b) -> (a + b) // 2) AS e
      FROM q GROUP BY user_id
    )
    SELECT user_id, n_events, e - {_EWMA_SHIFT} AS ewma_scaled
    FROM folds
    """,
    tags=("BEHAV", "TS", "ITER"),
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer EWMA (alpha = 1/2) of each user's event values in
    (ts, event_id) order: e_1 = q_1, e_i = (e_(i-1) + q_i) div 2 over
    centi-units shifted into the positive domain — integer floor and
    truncate coincide there, so Spark's fold, DuckDB's list_reduce,
    and the streaming operator's Python fold are bit-identical (a
    FLOAT recurrence would disagree in the last ulp across engines).

    This is the BATCH TWIN of streaming/stateful.py:ewma — the batch
    form folds a per-user collected array (fine at per-user event
    counts; one user_id exchange), the streaming form carries O(1)
    state per key and is the 100 TB path; the differential test in
    tests/test_stateful.py proves them equal."""
    ev = table(spark, sf_dir, "events")
    q = (F.floor(F.col("value") * 100).cast("long") + _EWMA_SHIFT).alias("q")
    per_user = ev.select("user_id", F.struct("ts", "event_id", q.alias("q")).alias("s"))
    arr = F.array_sort(F.collect_list("s"))
    folded = per_user.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), arr.alias("arr")
    )
    qs = F.transform("arr", lambda x: x["q"])
    seed = F.element_at(qs, 1)
    rest = F.when(
        F.size(qs) > 1, F.slice(qs, 2, F.size(qs) - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    e = F.aggregate(rest, seed, lambda acc, x: ((acc + x) / 2).cast("long"))
    return folded.select(
        "user_id", "n_events", (e - _EWMA_SHIFT).alias("ewma_scaled")
    )


@register(
    "trend_user_value_slope",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           round(regr_slope(value, epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0), 6)
             AS slope_per_day,
           round(regr_r2(value, epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0), 6)
             AS r2
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 2 AND var_pop(epoch_us(CAST(ts AS TIMESTAMP))) > 0
    """,
    tags=("BEHAV", "TS"),
)
def trend_user_value_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value trend: ordinary-least-squares slope (per day) and
    R^2 of value against event time — the drift detector that flags
    users/sensors whose metric is ramping. Uses the built-in regression
    aggregates (one exchange, map-side partial moments — the textbook
    mergeable-statistics shape; no window, no sort, no per-user
    arrays)."""
    ev = table(spark, sf_dir, "events")
    x = F.unix_micros("ts") / 86400000000.0  # days as double
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "round(regr_slope(value, unix_micros(ts) / 86400000000.0), 6)"
        ).alias("slope_per_day"),
        F.expr(
            "round(regr_r2(value, unix_micros(ts) / 86400000000.0), 6)"
        ).alias("r2"),
        F.var_pop(F.unix_micros("ts").cast("double")).alias("_vx"),
    )
    return agg.filter((F.col("n") >= 2) & (F.col("_vx") > 0)).drop("_vx")


_BASKET_GAP_US = 1800 * 1_000_000  # 30-min session gap


@register(
    "basket_event_type_pairs",
    oracle=f"""
    WITH marks AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                       > {_BASKET_GAP_US}
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marks
    ),
    baskets AS (
      SELECT DISTINCT user_id, sess_id, event_type FROM sess
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS support
    FROM baskets a JOIN baskets b
      ON a.user_id = b.user_id AND a.sess_id = b.sess_id
         AND a.event_type < b.event_type
    GROUP BY type_a, type_b
    """,
    tags=("BEHAV",),
)
def basket_event_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair support over behavioral sessions: sessions
    are cut with the gaps-and-islands pattern (a >30-min silence opens
    a new session — running sum of boundary marks over ONE user_id
    window), baskets are each session's distinct event types, and the
    output is co-occurrence support per type pair — the first step of
    association-rule mining (a-priori's L2).

    Everything clusters on user_id until the final aggregation onto
    the |types|^2 domain: both windows and the basket distinct share
    one exchange, and the within-session self-join joins on
    (user, session) — pair fan-out is bounded by |types| per basket,
    not by session length."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        gap.isNull() | (gap > _BASKET_GAP_US), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_type",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sess_id"),
    )
    baskets = sess.select("user_id", "sess_id", "event_type").distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess_id") == F.col("b.sess_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )


@register(
    "normalize_winsorize_values",
    oracle="""
    WITH cuts AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 4) AS raw_value,
           round(greatest(c.p01, least(c.p99, e.value)), 4) AS clipped_value,
           (e.value < c.p01 OR e.value > c.p99) AS was_clipped
    FROM events e JOIN cuts c USING (event_type)
    """,
    tags=("BEHAV", "A-ext"),
)
def normalize_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each event's value to its type's
    [p01, p99] — the robust-preprocessing step that tames heavy tails
    before z-scores or model features. Per-type cut points aggregate
    onto the |event_type| domain (exact interpolated percentile for
    oracle parity; percentile_approx is the drop-in at 100 TB) and
    broadcast back — the fact is scanned once and never shuffled."""
    ev = table(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clipped = F.greatest("p01", F.least("p99", F.col("value")))
    return ev.join(cuts, "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("raw_value"),
        F.round(clipped, 4).alias("clipped_value"),
        ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))).alias(
            "was_clipped"
        ),
    )


@register(
    "timeseries_dow_seasonal_outliers",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, isodow(day) AS dow,
             CAST(sum(n) AS BIGINT) AS dow_total, count(*) AS dow_days
      FROM daily GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, d.n, b.dow, b.dow_total, b.dow_days,
           CAST((1000 * d.n * b.dow_days) // b.dow_total AS BIGINT)
             AS ratio_mc,
           10 * d.n * b.dow_days > 11 * b.dow_total AS over_1_1x
    FROM daily d JOIN base b
      ON b.event_type = d.event_type AND b.dow = isodow(d.day)
    ORDER BY (1000 * d.n * b.dow_days) // b.dow_total DESC,
             d.event_type, d.day
    LIMIT 10
    """,
    tags=("BEHAV", "TS"),
)
def timeseries_dow_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware volume anomaly screen: the 10 days MOST above
    their DAY-OF-WEEK mean (the seasonal baseline, not the global
    mean — the screen that does not page on-call every Saturday
    because weekends differ from weekdays), with the exact
    milli-ratio to baseline and a 1.1x threshold flag per row.

    Originally a bare `> 1.1x` filter — which the two-SF vacuity
    sweep (tools/check_oracle.py --sweep, r8) caught returning ZERO
    rows at sf0.1: daily counts concentrate as volume grows (relative
    sd ~ 1/sqrt(n)), so any fixed margin goes vacuous at some scale.
    The scale-free form RANKS by the exact ratio (integer
    cross-multiplied milli-ratio — `//` and `DIV` agree, all operands
    positive) and reports the threshold as a column, so the screen
    returns its top suspects at every volume and the alert policy
    (threshold, z-score, top-k) stays a downstream choice.

    Scale shape: the daily rollup aggregates within time-partitioned
    parquet (one exchange on (event_type, day)); the baseline
    aggregates THAT |types * 7|-row summary and broadcasts back — the
    raw fact is never re-shuffled — and the top-k lowers to
    TakeOrderedAndProject."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    dow = F.weekday("day") + F.lit(1)  # ISO: Mon=1 .. Sun=7
    base = (
        daily.withColumn("dow", dow)
        .groupBy("event_type", "dow")
        .agg(F.sum("n").alias("dow_total"), F.count(F.lit(1)).alias("dow_days"))
    )
    ratio_mc = F.expr("(1000 * n * dow_days) DIV dow_total")
    return (
        daily.withColumn("dow", dow)
        .join(base, ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "n",
            "dow",
            "dow_total",
            "dow_days",
            ratio_mc.cast("long").alias("ratio_mc"),
            (10 * F.col("n") * F.col("dow_days") > 11 * F.col("dow_total"))
            .alias("over_1_1x"),
        )
        .orderBy(F.desc("ratio_mc"), "event_type", "day")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# RFM segmentation: recency / frequency / monetary quartiles
# ---------------------------------------------------------------------------


@register(
    "behavior_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             CAST(max(o_orderdate) AS DATE) AS last_order_date,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT *,
             ntile(4) OVER (ORDER BY last_order_date DESC, custkey) AS r_score,
             ntile(4) OVER (ORDER BY n_orders DESC, custkey) AS f_score,
             ntile(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_score
      FROM per_cust
    )
    SELECT custkey, last_order_date, n_orders, monetary_cents,
           r_score, f_score, m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm_cell
    FROM scored
    """,
    tags=("BEHAV", "SEGMENT"),
)
def behavior_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation — the
    classic customer-base cut that a curation pipeline reuses verbatim
    to tier DATA SOURCES (recently crawled / frequently updated / large
    contribution).  Monetary totals are summed in exact centi-unit
    BIGINTs (floor(price*100)) so the quartile boundaries are
    deterministic across engines — a float sum's last-ulp wobble could
    flip a customer across an ntile edge; every ntile ordering carries
    the custkey tie-break for the same reason.

    Scale shape: one groupBy(custkey) exchange builds the per-customer
    triple; the three ntile windows are global single-partition sorts
    over the |customers| SUMMARY (not the fact table) — at 100 TB the
    summary is ~1e8 rows, and the standard fix if that sort ever hurts
    is percentile-bucket scores from approx quantiles; the quartile
    semantics here keep the oracle exact."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order_date"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    r = F.ntile(4).over(
        Window.orderBy(F.desc("last_order_date"), "custkey")
    )
    fq = F.ntile(4).over(Window.orderBy(F.desc("n_orders"), "custkey"))
    m = F.ntile(4).over(Window.orderBy(F.desc("monetary_cents"), "custkey"))
    scored = per_cust.select(
        "custkey", "last_order_date", "n_orders", "monetary_cents",
        r.alias("r_score"), fq.alias("f_score"), m.alias("m_score"),
    )
    return scored.withColumn(
        "rfm_cell",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: purchase -> most recent preceding non-purchase
# ---------------------------------------------------------------------------


@register(
    "behavior_attribution_last_touch",
    oracle="""
    WITH touched AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_ts
      FROM events
    )
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
           touch_type, CAST(touch_ts AS TIMESTAMP) AS touch_ts,
           CAST(epoch_us(ts) - epoch_us(touch_ts) AS BIGINT) AS touch_gap_us
    FROM touched WHERE event_type = 'purchase'
    """,
    tags=("BEHAV", "ATTRIBUTION"),
)
def behavior_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch last-touch attribution: every purchase is credited to the
    most recent PRECEDING non-purchase event of the same user (its
    channel and timestamp), NULL when the purchase opens the user's
    history — the batch twin of streaming/stateful.py's
    stream_attribution_pairs, and the query that turns a raw event log
    into channel-level conversion credit.

    One user_id exchange; the two IGNORE-NULLS running windows share
    the same (user, ts, event_id) sort, so Spark evaluates them in a
    single Window operator — no self-join against the purchase subset
    (the naive formulation joins events to purchases with a range
    predicate and goes quadratic on heavy users).  The purchase filter
    sits ABOVE the window (semantics need non-purchase rows seen), so
    predicate pushdown is correctly impossible; the window frame ends
    at 1 PRECEDING so a purchase never attributes to itself even at
    equal timestamps."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_p = F.col("event_type") != "purchase"
    touched = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(non_p, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(non_p, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return touched.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "touch_type",
        "touch_ts",
        (F.unix_micros("ts") - F.unix_micros("touch_ts")).alias("touch_gap_us"),
    )


# ---------------------------------------------------------------------------
# Linear interpolation over per-user daily gaps
# ---------------------------------------------------------------------------


@register(
    "timeseries_linear_interpolate",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             sum(CAST(floor(value * 100) AS BIGINT)) AS q
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    spine AS (
      SELECT user_id,
             CAST(unnest(range(CAST(min(day) AS TIMESTAMP),
                               CAST(max(day) AS TIMESTAMP) + INTERVAL 1 DAY,
                               INTERVAL 1 DAY)) AS DATE) AS day
      FROM daily GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id, s.day, d.q FROM spine s
      LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ),
    ctx AS (
      SELECT user_id, day, q,
             last_value(q IGNORE NULLS) OVER w_prev AS pq,
             last_value(CASE WHEN q IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_prev AS pd,
             first_value(q IGNORE NULLS) OVER w_next AS nq,
             first_value(CASE WHEN q IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_next AS nd
      FROM grid
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day, q IS NOT NULL AS observed,
           round(CASE WHEN q IS NOT NULL THEN q / 100.0
                      ELSE (pq + (nq - pq) * CAST(day - pd AS DOUBLE)
                                           / CAST(nd - pd AS DOUBLE)) / 100.0
                 END, 4) AS value_interp
    FROM ctx
    """,
    tags=("BEHAV", "TS"),
)
def timeseries_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily series with LINEAR interpolation across missing
    days (the repair step beyond timeseries_forward_fill's flat carry):
    each user's calendar spine spans their own [first, last] active day,
    gap days get pq + (nq-pq) * elapsed/width between the surrounding
    observed days.  Daily totals are exact centi-unit BIGINT sums, so
    the interpolation arithmetic starts from integers and the one
    double division is the same expression in both engines — no float
    accumulation order anywhere.

    Scale shape: one (user, day) rollup exchange, a per-user
    sequence() spine (explode of a 2-row-per-user summary — no
    calendar cross-join against the fact table), and two mirrored
    running windows that share one user_id sort.  The spine join is
    co-partitioned with the rollup on user_id; at 100 TB the grid is
    |users| * span rows, linear in the summary, never in events."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("q"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "user_id", F.explode(F.sequence("mn", "mx")).alias("day")
        )
    )
    grid = spine.join(daily, ["user_id", "day"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("q").isNotNull(), F.col("day"))
    ctx = grid.select(
        "user_id",
        "day",
        "q",
        F.last("q", ignorenulls=True).over(w_prev).alias("pq"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("q", ignorenulls=True).over(w_next).alias("nq"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    interp = (
        F.col("pq")
        + (F.col("nq") - F.col("pq"))
        * F.datediff("day", "pd").cast("double")
        / F.datediff("nd", "pd").cast("double")
    ) / 100.0
    return ctx.select(
        "user_id",
        "day",
        F.col("q").isNotNull().alias("observed"),
        F.round(
            F.when(F.col("q").isNotNull(), F.col("q") / 100.0).otherwise(interp),
            4,
        ).alias("value_interp"),
    )


# ---------------------------------------------------------------------------
# Alert suppression: first-of-storm pages, the rest are suppressed
# ---------------------------------------------------------------------------

_SUPPRESS_GAP_US = 600 * 1_000_000  # 10-min suppression window


@register(
    "alert_suppression_window",
    oracle=f"""
    WITH errs AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                       > {_SUPPRESS_GAP_US}
                  THEN 1 ELSE 0 END AS fires
      FROM events WHERE event_type = 'error'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    storms AS (
      SELECT user_id, event_id, ts,
             sum(fires) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS storm_id
      FROM errs
    )
    SELECT user_id,
           min(event_id) AS alert_event_id,
           CAST(min(ts) AS TIMESTAMP) AS first_ts,
           CAST(max(ts) AS TIMESTAMP) AS last_ts,
           CAST(count(*) - 1 AS BIGINT) AS n_suppressed
    FROM storms GROUP BY user_id, storm_id
    """,
    tags=("BEHAV", "MONITOR"),
)
def alert_suppression_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-storm suppression (the monitoring-domain twin of the
    reference's health jobs): error events of one entity within a
    10-minute quiet gap form one STORM; only the first pages, and each
    page carries how many followers it suppressed plus the storm's time
    span — what an on-call actually wants from a flapping replica
    instead of 400 identical pages.  Storms are cut with the
    gaps-and-islands pattern (boundary when the lag-gap exceeds the
    window), which restarts the clock on each error — the documented,
    SQL-expressible variant of fixed-window-from-first-page
    throttling (that form needs recursive state: see
    streaming/stateful.py:throttle, its O(1)-state streaming twin,
    differential-tested in tests/test_stateful.py).

    One user_id exchange shared by the lag and the running sum (same
    window sort), then one (user, storm) aggregate — the filter on
    event_type pushes to the scan."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    fires = F.when(
        gap.isNull() | (gap > _SUPPRESS_GAP_US), 1
    ).otherwise(0)
    storms = ev.select(
        "user_id", "event_id", "ts", fires.alias("fires")
    ).withColumn(
        "storm_id",
        F.sum("fires").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return storms.groupBy("user_id", "storm_id").agg(
        F.min("event_id").alias("alert_event_id"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        (F.count(F.lit(1)) - 1).alias("n_suppressed"),
    ).drop("storm_id")


# ---------------------------------------------------------------------------
# Flap detection: entities oscillating between error and healthy
# ---------------------------------------------------------------------------


@register(
    "flap_detection_ratio",
    oracle="""
    WITH st AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS s,
             lag(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
           round(sum(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                          THEN 1 ELSE 0 END)
                 / CAST(count(*) - 1 AS DOUBLE), 4) AS flap_ratio,
           sum(CASE WHEN prev_s IS NOT NULL AND s <> prev_s THEN 1 ELSE 0 END)
             * 10 >= (count(*) - 1) * 4 AS is_flapping
    FROM st GROUP BY user_id HAVING count(*) >= 2
    """,
    tags=("BEHAV", "MONITOR"),
)
def flap_detection_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flap detection: an entity that OSCILLATES between error and
    healthy states is a different (and worse) signal than one that is
    simply down — monitoring systems damp such entities before they
    melt the pager.  Computes per-entity state-transition count and
    flap ratio (transitions / adjacent pairs); the >= 0.4 flag is the
    integer cross-multiply 10*t >= 4*(n-1), so no float sits at the
    decision boundary (same discipline as the dow-seasonal screen).

    One user_id window for the lag, one aggregate on the same
    partitioning — at 100 TB this is a single exchange of the event
    stream, and the streaming twin is a trivial 2-value
    applyInPandasWithState carry."""
    ev = table(spark, sf_dir, "events")
    s = F.when(F.col("event_type") == "error", 1).otherwise(0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    st = ev.select("user_id", "ts", "event_id", s.alias("s")).withColumn(
        "prev_s", F.lag("s").over(w)
    )
    trans = F.sum(
        F.when(
            F.col("prev_s").isNotNull() & (F.col("s") != F.col("prev_s")), 1
        ).otherwise(0)
    )
    agg = st.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), trans.alias("n_transitions")
    )
    return agg.filter(F.col("n_events") >= 2).select(
        "user_id",
        "n_events",
        "n_transitions",
        F.round(
            F.col("n_transitions") / (F.col("n_events") - 1).cast("double"), 4
        ).alias("flap_ratio"),
        (
            F.col("n_transitions") * 10 >= (F.col("n_events") - 1) * 4
        ).alias("is_flapping"),
    )


# ---------------------------------------------------------------------------
# Capacity forecast: days until cumulative usage crosses the threshold
# ---------------------------------------------------------------------------

_CAP_CENTS = 1_000_000  # capacity threshold: 10,000.00 in value units


@register(
    "forecast_days_to_capacity",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS q
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    cum AS (
      SELECT user_id, day,
             CAST(day - min(day) OVER (PARTITION BY user_id) AS BIGINT) AS x,
             CAST(sum(q) OVER (PARTITION BY user_id ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
      FROM daily
    ),
    fit AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_days,
             round(regr_slope(c / 100.0, CAST(x AS DOUBLE)), 6)
               AS slope_per_day,
             max(c) AS last_cents
      FROM cum GROUP BY user_id HAVING count(*) >= 3
    )
    SELECT user_id, n_days, slope_per_day,
           round(last_cents / 100.0, 2) AS current_level,
           round(({_CAP_CENTS} - last_cents) / 100.0 / slope_per_day, 2)
             AS days_to_capacity
    FROM fit WHERE slope_per_day > 0
    """,
    tags=("BEHAV", "MONITOR", "TS"),
)
def forecast_days_to_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity forecasting — the reference's core promise (its
    monitored system is a database whose disks fill): fit each entity's
    CUMULATIVE daily usage with OLS and extrapolate days until it
    crosses the {_CAP_CENTS // 100}-unit threshold.  Daily totals and
    running cumsum are exact centi-unit BIGINTs; only the final
    regression runs in doubles (mergeable regr_* moments, rounded 6dp
    — the repo's established trend discipline from
    trend_user_value_slope).  Entities with non-increasing usage are
    excluded (no crossing to forecast).

    Scale shape: one (user, day) rollup, one per-user running-sum
    window on the DAILY summary (30 rows/user, not events), one
    moment aggregate — the fact table is touched once."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("q"))
    wmin = Window.partitionBy("user_id")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "user_id",
        F.datediff("day", F.min("day").over(wmin)).cast("long").alias("x"),
        F.sum("q").over(wcum).alias("c"),
    )
    fit = (
        cum.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr(
                "round(regr_slope(c / 100.0, CAST(x AS DOUBLE)), 6)"
            ).alias("slope_per_day"),
            F.max("c").alias("last_cents"),
        )
        .filter(F.col("n_days") >= 3)
    )
    return fit.filter(F.col("slope_per_day") > 0).select(
        "user_id",
        "n_days",
        "slope_per_day",
        F.round(F.col("last_cents") / 100.0, 2).alias("current_level"),
        F.round(
            (_CAP_CENTS - F.col("last_cents")) / 100.0 / F.col("slope_per_day"),
            2,
        ).alias("days_to_capacity"),
    )


# ---------------------------------------------------------------------------
# Robust daily-volume outliers: median absolute deviation screen
# ---------------------------------------------------------------------------


@register(
    "outlier_daily_mad",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    med AS (
      SELECT event_type, median(n) AS med FROM daily GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS adev
      FROM daily d JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n, d.med, m.mad,
           round((d.n - d.med) / (1.4826 * m.mad), 3) AS robust_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND abs(d.n - d.med) > 2.5 * 1.4826 * m.mad
    """,
    tags=("BEHAV", "MONITOR", "TS"),
)
def outlier_daily_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly screen: a day is flagged when its
    event count deviates from the type's MEDIAN by more than 2.5
    consistency-scaled MADs (1.4826*MAD estimates sigma under
    normality; 2.5 is the moderately-conservative cutoff of Leys et
    al. 2013, and keeps the screen non-vacuous on the sf0.01 driver
    fixture where the max robust z is ~2.7) — unlike the mean/stddev z-score (outlier_events_zscore),
    one catastrophic day cannot drag the baseline toward itself and
    mask its own anomaly, the failure mode that matters most on
    monitoring data.  Medians of integer counts are exact .0/.5 values
    in both engines, so the screen's boundary arithmetic is
    deterministic.

    Scale shape: two summary-domain median aggregates over the
    |types * days| DAILY rollup (never the fact table) joined back
    broadcast-wise — the fact is scanned once for the rollup; exact
    medians are fine on the summary (it is small by construction),
    which is why this pattern beats windowed percentile_approx over
    the raw facts at 100 TB."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(F.median("n").alias("med"))
    dev = daily.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(mad, "event_type")
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("n") - F.col("med")) > 2.5 * 1.4826 * F.col("mad"))
        )
        .select(
            "event_type",
            "day",
            "n",
            "med",
            "mad",
            F.round(
                (F.col("n") - F.col("med")) / (1.4826 * F.col("mad")), 3
            ).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# Peak per-minute event rate per type
# ---------------------------------------------------------------------------


@register(
    "window_rate_per_minute_peak",
    oracle="""
    WITH per_min AS (
      SELECT event_type, date_trunc('minute', ts) AS minute,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('minute', ts)
    ),
    ranked AS (
      SELECT event_type, minute, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, minute) AS rn
      FROM per_min
    )
    SELECT event_type, CAST(minute AS TIMESTAMP) AS peak_minute, n AS peak_n
    FROM ranked WHERE rn = 1
    """,
    tags=("BEHAV", "MONITOR", "W"),
)
def window_rate_per_minute_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak ingest rate: for each event type, the minute bucket with the
    most events (earliest minute on ties) — the number capacity
    planning actually sizes for (p100 burst, not the mean), and the
    one the reference's cadence budgeting implies.  One (type, minute)
    rollup exchange, then a per-type argmax window over the SUMMARY
    (|types * minutes| rows); at 100 TB the rollup partial-aggregates
    map-side and the argmax never touches the fact."""
    ev = table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), "minute")
    return (
        per_min.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("minute").alias("peak_minute"),
                F.col("n").alias("peak_n"))
    )


# ---------------------------------------------------------------------------
# Snapshot diff: month-over-month per-customer derived-state CDC
# ---------------------------------------------------------------------------


@register(
    "cdc_snapshot_diff_monthly",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS custkey,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    m0 AS (SELECT min(month) AS m FROM o),
    snap_a AS (
      SELECT custkey, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM o WHERE month = (SELECT m FROM m0) GROUP BY custkey
    ),
    snap_b AS (
      SELECT custkey, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM o WHERE month = (SELECT m + INTERVAL 1 MONTH FROM m0)
      GROUP BY custkey
    ),
    diff AS (
      SELECT coalesce(a.custkey, b.custkey) AS custkey,
             CASE WHEN a.custkey IS NULL THEN 'added'
                  WHEN b.custkey IS NULL THEN 'removed'
                  WHEN a.n_orders <> b.n_orders OR a.cents <> b.cents
                       THEN 'changed'
                  ELSE 'unchanged' END AS status,
             coalesce(a.n_orders, 0) AS orders_a,
             coalesce(b.n_orders, 0) AS orders_b,
             coalesce(b.cents, 0) - coalesce(a.cents, 0) AS delta_cents
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.custkey = b.custkey
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(orders_a) AS BIGINT) AS orders_a,
           CAST(sum(orders_b) AS BIGINT) AS orders_b,
           CAST(sum(delta_cents) AS BIGINT) AS revenue_delta_cents
    FROM diff GROUP BY status
    """,
    tags=("CDC",),
)
def cdc_snapshot_diff_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff of derived per-customer state between the first
    order month and the next: which customers were ADDED, REMOVED,
    CHANGED (order count or exact centi-unit revenue differs), or
    UNCHANGED — the reconciliation report every incremental pipeline
    runs to validate a rebuild against the previous materialization
    (the reference re-materializes its monitoring tables each cadence,
    chStats.py:413-483; diffing consecutive runs is how such a monitor
    proves a quiet deploy changed nothing).

    Scale shape: both snapshots aggregate map-side-combinable counts /
    sums keyed by custkey, then ONE full outer sort-merge join on the
    same key — at 100 TB both sides arrive hash-partitioned by custkey
    from their aggregates, so the join co-locates without a new
    exchange.  The month boundary is a scalar from a 1-row aggregate
    cross-joined in (broadcast, no collect).  Output is the per-status
    rollup, so the result stays 4 rows at any scale."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    m0 = o.agg(F.min("month").alias("m"))

    def snap(shift: int) -> DataFrame:
        bound = m0.select(F.add_months("m", shift).alias("bound"))
        return (
            o.join(bound, o["month"] == bound["bound"])
            .groupBy("custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("cents"),
            )
        )

    a = snap(0).select(
        F.col("custkey").alias("ck_a"),
        F.col("n_orders").alias("na"),
        F.col("cents").alias("ca"),
    )
    b = snap(1).select(
        F.col("custkey").alias("ck_b"),
        F.col("n_orders").alias("nb"),
        F.col("cents").alias("cb"),
    )
    diff = a.join(b, a["ck_a"] == b["ck_b"], "full_outer").select(
        F.when(F.col("ck_a").isNull(), F.lit("added"))
        .when(F.col("ck_b").isNull(), F.lit("removed"))
        .when(
            (F.col("na") != F.col("nb")) | (F.col("ca") != F.col("cb")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.coalesce("na", F.lit(0)).alias("orders_a"),
        F.coalesce("nb", F.lit(0)).alias("orders_b"),
        (F.coalesce("cb", F.lit(0)) - F.coalesce("ca", F.lit(0))).alias(
            "delta_cents"
        ),
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("orders_a").alias("orders_a"),
        F.sum("orders_b").alias("orders_b"),
        F.sum("delta_cents").alias("revenue_delta_cents"),
    )


# ---------------------------------------------------------------------------
# Funnel conversion latency: how fast converters convert
# ---------------------------------------------------------------------------


@register(
    "funnel_conversion_latency",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS ts1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    lat AS (
      SELECT epoch_us(CAST(min(e.ts) AS TIMESTAMP)) // 1000000
               - epoch_us(CAST(t1.ts1 AS TIMESTAMP)) // 1000000 AS lat_s
      FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t1.ts1
      GROUP BY e.user_id, t1.ts1
    ),
    ranked AS (
      SELECT lat_s,
             CAST(row_number() OVER (ORDER BY lat_s) AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM lat
    )
    SELECT CAST(max(n) AS BIGINT) AS n_converters,
           CAST(min(lat_s) AS BIGINT) AS min_s,
           CAST(median(lat_s) * 2 AS BIGINT) AS median_2x_s,
           CAST(min(CASE WHEN rn * 10 >= 9 * n THEN lat_s END) AS BIGINT)
             AS p90_disc_s,
           CAST(max(lat_s) AS BIGINT) AS max_s
    FROM ranked
    """,
    tags=("BEHAVIOR",),
)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> first-subsequent-purchase latency distribution: count
    of converters plus min / median / discrete p90 / max seconds — the
    "how long does conversion take" companion to the funnel's "how
    many convert" (funnel_signup_click_purchase).

    Exactness discipline: latencies are integer epoch-second deltas;
    the median is carried DOUBLED (two-element midpoints stay integral
    — the changepoint_cusum_daily trick) and p90 is defined by integer
    rank arithmetic (smallest latency whose rank satisfies
    rn*10 >= 9*n — an observed value, stated identically in both
    engines), so every output is an exact BIGINT — no float percentile
    interpolation in the hash.

    Scale shape: two per-user min-aggregates clustered on one user_id
    exchange (the funnel family's single-exchange discipline); the
    rank window runs on the CONVERTERS frame — user-cardinality, not
    event-cardinality — and at 100 TB becomes percentile_approx /
    the mergeable histogram sketch (documented trade)."""
    ev = table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    lat = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("ts1"))
        .groupBy("user_id", "ts1")
        .agg(F.min("ts").alias("ts3"))
        .select(
            (F.unix_timestamp("ts3") - F.unix_timestamp("ts1")).alias("lat_s")
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = lat.select(
        "lat_s",
        F.row_number().over(Window.orderBy("lat_s")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    return ranked.agg(
        F.max("n").alias("n_converters"),
        F.min("lat_s").alias("min_s"),
        (F.median("lat_s") * 2).cast("long").alias("median_2x_s"),
        F.min(
            F.when(F.col("rn") * 10 >= 9 * F.col("n"), F.col("lat_s"))
        ).alias("p90_disc_s"),
        F.max("lat_s").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# DAU / trailing-30d MAU stickiness
# ---------------------------------------------------------------------------

_MAU_WINDOW_D = 30


@register(
    "behavior_dau_mau_stickiness",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num
      FROM events
    ),
    days AS (SELECT DISTINCT day_num FROM act),
    cover AS (
      SELECT DISTINCT a.user_id, d.day_num
      FROM act a JOIN days d
        ON d.day_num BETWEEN a.day_num AND a.day_num + {_MAU_WINDOW_D - 1}
    ),
    dau AS (
      SELECT day_num, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY 1
    ),
    mau AS (
      SELECT day_num, CAST(count(*) AS BIGINT) AS mau FROM cover GROUP BY 1
    )
    SELECT d.day_num, d.dau, m.mau,
           CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_micro
    FROM dau d JOIN mau m ON m.day_num = d.day_num
    """,
    tags=("BEHAVIOR", "MONITOR"),
)
def behavior_dau_mau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU / trailing-{_MAU_WINDOW_D}-day-MAU stickiness per active day
    (parts-per-million) — the engagement-quality ratio every product
    monitor tracks (DAU alone says volume; DAU/MAU says habit).

    Exact sliding-window distinct WITHOUT a running distinct: each
    (user, active-day) pair — already deduplicated — is joined to the
    ACTIVE days it covers (its own day through day+{_MAU_WINDOW_D - 1}),
    and trailing MAU is a plain count per covered day: the blow-up is a
    bounded x{_MAU_WINDOW_D} on the (user, day) AGGREGATE (not the
    event stream), and both sides of the range join are
    day-granularity frames.  Note the deliberate contrast:
    sketch_rolling_7d_users solves the same problem with mergeable
    registers when exactness is negotiable; this is the exact form and
    its honest cost.  Only days with at least one active user appear
    (stickiness of a dead day is undefined, not zero)."""
    ev = table(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        (F.unix_timestamp("ts") / 86400).cast("long").alias("day_num"),
    ).distinct()
    days = act.select("day_num").distinct()
    # Explode each (user, active-day) to its covered days, then an
    # EQUI semi-join restricts to days that actually occur — never a
    # nested-loop range join (which would scan all #days per row
    # instead of the bounded x30 explode).
    cover = (
        act.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day_num"),
                    F.col("day_num") + (_MAU_WINDOW_D - 1),
                )
            ).alias("day_num"),
        )
        .join(days, "day_num", "semi")
        .distinct()
    )
    dau = act.groupBy("day_num").agg(F.count(F.lit(1)).alias("dau"))
    mau = cover.groupBy("day_num").agg(F.count(F.lit(1)).alias("mau"))
    return dau.join(mau, "day_num").select(
        "day_num",
        "dau",
        "mau",
        F.expr("CAST(dau * 1000000 div mau AS BIGINT)").alias(
            "stickiness_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental SCD2 merge: batch upsert proven identical to full rebuild
# ---------------------------------------------------------------------------


@register(
    "cdc_scd2_incremental_merge",
    oracle="""
    SELECT user_id,
           CAST(ts AS TIMESTAMP) AS valid_from,
           CAST(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS TIMESTAMP) AS valid_to,
           event_type AS state,
           round(value, 2) AS state_value,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM events
    """,
    tags=("B-ext", "CDC", "ITER"),
)
def cdc_scd2_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: the dimension as previously
    materialized (from events before the 80%-of-timespan cutoff) MERGED
    with the new batch (events at/after it) — close each touched
    user's open version at the batch's first timestamp, append the
    batch's versions, leave untouched users alone.  The oracle is the
    FULL-rebuild SQL over all events: passing the hash gate proves
    merge(prior, batch) == rebuild(everything), the invariant every
    incremental dimension pipeline must hold (the SCD2 analog of
    dedup_incremental_cc_labels' differential).

    Scale shape: the prior table is read as-is (production: the stored
    dimension — here derived from the pre-cutoff slice by the same
    window as cdc_scd2_user_state), the batch is windowed per user
    (O(batch) work), and the merge is one join on user_id against the
    batch's first-event frame (batch-user-cardinality, broadcastable)
    — O(batch), never O(history)."""
    ev = table(spark, sf_dir, "events")
    cut = ev.agg(
        (
            F.min(F.unix_timestamp("ts"))
            + F.expr(
                "(max(unix_timestamp(ts)) - min(unix_timestamp(ts))) * 8 div 10"
            )
        ).alias("cutoff")
    )
    tagged = ev.crossJoin(cut)
    pre = tagged.filter(F.unix_timestamp("ts") < F.col("cutoff"))
    post = tagged.filter(F.unix_timestamp("ts") >= F.col("cutoff"))

    def scd2(frame: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        valid_to = F.lead("ts").over(w)
        return frame.select(
            "user_id",
            F.col("ts").alias("valid_from"),
            valid_to.alias("valid_to"),
            F.col("event_type").alias("state"),
            F.round("value", 2).alias("state_value"),
            valid_to.isNull().alias("is_current"),
        )

    prior = scd2(pre)
    batch_versions = scd2(post)
    first_batch = post.groupBy("user_id").agg(F.min("ts").alias("fts"))
    merged_prior = prior.join(first_batch, "user_id", "left").select(
        "user_id",
        "valid_from",
        F.when(
            F.col("is_current") & F.col("fts").isNotNull(), F.col("fts")
        )
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
        "state",
        "state_value",
        (F.col("is_current") & F.col("fts").isNull()).alias("is_current"),
    )
    return merged_prior.unionByName(batch_versions)


from ..registry import register_probe  # noqa: E402


@register_probe("cdc_scd2_incremental_merge")
def _probe_scd2_merge(spark: SparkSession, sf_dir: str) -> int:
    """Dominant incremental work: the batch slice (events at/after the
    cutoff) — the merge is O(batch); the prior read is the stored
    dimension in production."""
    ev = table(spark, sf_dir, "events")
    cut = ev.agg(
        (
            F.min(F.unix_timestamp("ts"))
            + F.expr(
                "(max(unix_timestamp(ts)) - min(unix_timestamp(ts))) * 8 div 10"
            )
        ).alias("cutoff")
    )
    return (
        ev.crossJoin(cut)
        .filter(F.unix_timestamp("ts") >= F.col("cutoff"))
        .count()
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing over daily volumes (integer fixed-point)
# ---------------------------------------------------------------------------

#: Fixed-point scale for the Holt level/trend state (2^20): large enough
#: that DIV-2 smoothing keeps ~6 decimal digits of precision on daily
#: counts, small enough that level ~ S * n stays far below int64.
_HOLT_S = 1 << 20


def _tdiv2(a: int) -> int:
    """Integer division by 2 TRUNCATING toward zero — matching DuckDB's
    ``//`` on negatives (-7//2 = -3 there, -4 in Python), so the trend
    component (which goes negative on declining series) folds
    bit-identically in both engines."""
    return a // 2 if a >= 0 else -((-a) // 2)


def _holt_oracle() -> str:
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY CAST(ts AS DATE)) AS BIGINT)
               AS rn
      FROM events GROUP BY 1, 2
    ),
    holt(event_type, rn, day, n, lvl, trd) AS (
      SELECT event_type, rn, day, n,
             n * {_HOLT_S}, CAST(0 AS BIGINT)
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn, d.day, d.n,
             (d.n * {_HOLT_S} + h.lvl + h.trd) // 2,
             ((((d.n * {_HOLT_S} + h.lvl + h.trd) // 2) - h.lvl) + h.trd)
               // 2
      FROM holt h
      JOIN daily d ON d.event_type = h.event_type AND d.rn = h.rn + 1
    )
    SELECT event_type, day, n,
           lvl AS level_fp, trd AS trend_fp,
           lag(lvl + trd) OVER (PARTITION BY event_type ORDER BY rn)
             AS forecast_fp
    FROM holt
    """


@register(
    "ts_holt_smoothing_daily",
    oracle=_holt_oracle(),
    tags=("TS", "ITER"),
)
def ts_holt_smoothing_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, alpha = beta =
    1/2) over daily event volumes per type — the classic short-horizon
    forecaster for capacity planning: `forecast_fp` is yesterday's
    level+trend, i.e. what today SHOULD have been, so (n*S -
    forecast_fp) is the surprise the alerting layer thresholds.
    Complements the repo's detector family: MAD judges one day alone,
    CUSUM accumulates a level SHIFT, Holt tracks a moving TREND.

    Exactness: the recursion runs in int64 fixed-point (scale 2^20,
    DIV-2 smoothing) with division truncating toward zero in BOTH
    engines (DuckDB's `//` truncates on negatives; the Python fold
    mirrors it via _tdiv2), so the iterative float algorithm is
    hash-exact against an actual RECURSIVE CTE — unlike the unrolled
    fixed-round oracles (PageRank, k-truss), this one recurses to
    data-dependent depth.

    Scale shape: the fold runs over the |types x days| DAILY SUMMARY
    (one shuffle: the groupBy), never the raw events; each key's series
    is bounded by the calendar, so the per-key sequential applyInPandas
    fold is O(days) on an aggregate-sized frame.  The smoothing itself
    is inherently order-sequential — this is the honest minimal
    materialization for it (same discipline as the streaming EWMA
    twin, streaming/stateful.py)."""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    schema = (
        "event_type string, day date, n long, "
        "level_fp long, trend_fp long, forecast_fp long"
    )

    def holt_fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        lvls, trds, fcs = [], [], []
        lvl = trd = 0
        for i, n in enumerate(pdf["n"]):
            n = int(n)
            if i == 0:
                lvl, trd, fc = n * _HOLT_S, 0, None
            else:
                fc = lvl + trd
                new_lvl = _tdiv2(n * _HOLT_S + lvl + trd)
                trd = _tdiv2((new_lvl - lvl) + trd)
                lvl = new_lvl
            lvls.append(lvl)
            trds.append(trd)
            fcs.append(fc)
        out = pdf[["event_type", "day", "n"]].copy()
        out["level_fp"] = pd.Series(lvls, dtype="int64")
        out["trend_fp"] = pd.Series(trds, dtype="int64")
        out["forecast_fp"] = pd.Series(fcs, dtype="object")
        return out

    return daily.groupBy("event_type").applyInPandas(holt_fold, schema)


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (period 7, integer fixed-point)
# ---------------------------------------------------------------------------

_HW_P = 7


def _hw_oracle() -> str:
    zeros = "[" + ", ".join(["CAST(0 AS BIGINT)"] * _HW_P) + "]"
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY CAST(ts AS DATE)) AS BIGINT)
               AS rn
      FROM events GROUP BY 1, 2
    ),
    hw(event_type, rn, day, n, lvl, trd, seas) AS (
      SELECT event_type, rn, day, n,
             n * {_HOLT_S}, CAST(0 AS BIGINT), {zeros}
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT event_type, rn, day, n, lvl2,
             ((lvl2 - lvl) + trd) // 2,
             list_append(seas[2:{_HW_P}],
                         ((n * {_HOLT_S} - lvl2) + sprev) // 2)
      FROM (
        SELECT d.event_type, d.rn, d.day, d.n,
               h.lvl, h.trd, h.seas, h.seas[1] AS sprev,
               ((d.n * {_HOLT_S} - h.seas[1]) + h.lvl + h.trd) // 2 AS lvl2
        FROM hw h
        JOIN daily d ON d.event_type = h.event_type AND d.rn = h.rn + 1
      )
    )
    SELECT event_type, day, n,
           lvl AS level_fp, trd AS trend_fp,
           seas[{_HW_P}] AS season_fp,
           lag(lvl + trd + seas[1]) OVER (PARTITION BY event_type
                                          ORDER BY rn) AS forecast_fp
    FROM hw
    """


@register(
    "ts_holt_winters_daily",
    oracle=_hw_oracle(),
    tags=("TS", "ITER"),
)
def ts_holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend +
    period-{_HW_P} season, alpha = beta = gamma = 1/2) over daily event
    volumes per type — the weekly-rhythm-aware upgrade of
    ts_holt_smoothing_daily: its forecast (previous level + trend +
    the season slot from {_HW_P} days back) stops flagging every
    weekend dip the way a trend-only model does.  Seasonal state
    starts at zero and is learned by the gamma updates (no bootstrap
    heuristic — deterministic and identical in both engines).

    Exactness: same int64 fixed-point discipline as Holt (scale 2^20,
    all three smoothing divisions truncate toward zero — DuckDB `//`
    parity), but the recursion now CARRIES the 7-slot seasonal ring
    as a list column in the RECURSIVE CTE (seas[2:] || new_s), the
    SQL expression of the deque the Python fold rotates — a recursive
    state VECTOR, not just scalars.

    Scale shape identical to Holt: the fold is per-type sequential
    over the types x days aggregate (calendar-bounded), applyInPandas
    on the summary frame, never on events."""
    import collections

    import pandas as pd

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    schema = (
        "event_type string, day date, n long, level_fp long, "
        "trend_fp long, season_fp long, forecast_fp long"
    )

    def hw_fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        lvls, trds, seasons, fcs = [], [], [], []
        lvl = trd = 0
        ring = collections.deque([0] * _HW_P)
        for i, n in enumerate(pdf["n"]):
            n = int(n)
            if i == 0:
                lvl, trd, s_new, fc = n * _HOLT_S, 0, 0, None
                # rotate the zero ring exactly like the CTE does not:
                # step 1 keeps the literal zero list (s_1 = 0 lands in
                # the last slot of an all-zero ring — identical state).
            else:
                sprev = ring[0]
                fc = lvl + trd + sprev
                new_lvl = _tdiv2((n * _HOLT_S - sprev) + lvl + trd)
                trd = _tdiv2((new_lvl - lvl) + trd)
                s_new = _tdiv2((n * _HOLT_S - new_lvl) + sprev)
                lvl = new_lvl
                ring.popleft()
                ring.append(s_new)
            lvls.append(lvl)
            trds.append(trd)
            seasons.append(s_new)
            fcs.append(fc)
        out = pdf[["event_type", "day", "n"]].copy()
        out["level_fp"] = pd.Series(lvls, dtype="int64")
        out["trend_fp"] = pd.Series(trds, dtype="int64")
        out["season_fp"] = pd.Series(seasons, dtype="int64")
        out["forecast_fp"] = pd.Series(fcs, dtype="object")
        return out

    return daily.groupBy("event_type").applyInPandas(hw_fold, schema)


# ---------------------------------------------------------------------------
# Trend momentum: today vs the trailing-week median, top movers
# ---------------------------------------------------------------------------


@register(
    "trend_momentum_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    trail AS (
      SELECT event_type, day, n,
             CAST(2 * median(n) OVER w AS BIGINT) AS med2_trail,
             count(*) OVER w AS n_trail
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, n, med2_trail,
           CAST(2 * n - med2_trail AS BIGINT) AS momentum2
    FROM trail WHERE n_trail = 7
    ORDER BY momentum2 DESC, event_type, day LIMIT 20
    """,
    tags=("TS",),
)
def trend_momentum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 trending (event_type, day) cells: each day's volume
    against its own trailing-week median (rows -7..-1, full windows
    only), ranked by the doubled-integer excess — the "what spiked
    today relative to ITS OWN recent normal" feed a trending/alerts
    panel reads, robust to per-type scale differences because the
    baseline is per-type.

    Exactness: the trailing median over exactly 7 rows is the middle
    element — integer-valued — so med2 = 2*median is exact int64 in
    both engines (the repo's standard doubled-count discipline); no
    float comparison anywhere.  Plan: one shuffle for the daily
    rollup, one window over the |types x days| summary, top-20 lowers
    to TakeOrderedAndProject."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    trail = daily.select(
        "event_type",
        "day",
        "n",
        (2 * F.expr("percentile(n, 0.5)").over(w)).cast("long").alias(
            "med2_trail"
        ),
        F.count(F.lit(1)).over(w).alias("n_trail"),
    )
    return (
        trail.filter(F.col("n_trail") == 7)
        .select(
            "event_type",
            "day",
            "n",
            "med2_trail",
            (2 * F.col("n") - F.col("med2_trail")).alias("momentum2"),
        )
        .orderBy(F.desc("momentum2"), "event_type", "day")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: median of pairwise daily slopes per type
# ---------------------------------------------------------------------------


@register(
    "trend_theil_sen_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(ts AS DATE) - DATE '1970-01-01' AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    slopes AS (
      SELECT a.event_type,
             ((b.n - a.n) * 1000000) // (b.d - a.d) AS slope_ppm
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(2 * median(slope_ppm) AS BIGINT) AS med2_slope_ppm
    FROM slopes GROUP BY event_type
    """,
    tags=("TS",),
)
def trend_theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise day-to-day slopes of the daily volume series — the
    estimator that shrugs off the outlier days that wreck the OLS
    slope (trend_rolling_7d_slope's companion: OLS answers "what is
    the trend", Theil-Sen answers it when up to 29% of days are
    garbage).

    Exactness: slopes are integer ppm with DIV truncating toward zero
    in BOTH engines (Spark `DIV` and DuckDB `//` agree on negatives —
    no Python in the loop), and the median ships as the repo's
    standard doubled integer (.5-safe).  The pairwise frame is
    |days|^2 per type — bounded by the CALENDAR, not the data, so
    this is genuinely scale-safe: at 100 TB the daily rollup is the
    only data-sized pass; the self-join runs on the types x days
    summary."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").alias("d"),
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.select("event_type", F.col("d").alias("da"), F.col("n").alias("na"))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("d").alias("db"),
        F.col("n").alias("nb"),
    )
    slopes = (
        a.join(b, (a["event_type"] == b["et_b"]) & (a["da"] < b["db"]))
        .select(
            "event_type",
            F.expr("((nb - na) * 1000000) DIV (db - da)").alias("slope_ppm"),
        )
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (2 * F.expr("percentile(slope_ppm, 0.5)")).cast("long").alias(
            "med2_slope_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Cohort value curve (LTV): cumulative value per user by cohort age
# ---------------------------------------------------------------------------


@register(
    "behavior_cohort_value_curve",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
      FROM firsts GROUP BY cohort_week
    ),
    weekly AS (
      SELECT f.cohort_week,
             datediff('week', f.cohort_week, date_trunc('week', e.ts))
               AS week_offset,
             CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
               AS week_value_cents
      FROM events e JOIN firsts f USING (user_id)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_week, week_offset, week_value_cents,
             CAST(sum(week_value_cents) OVER (
               PARTITION BY cohort_week ORDER BY week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_value_cents
      FROM weekly
    )
    SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
           c.week_offset, s.cohort_users,
           c.week_value_cents, c.cum_value_cents,
           round(CAST(c.cum_value_cents AS DOUBLE) / s.cohort_users, 4)
             AS cum_cents_per_user
    FROM cum c JOIN sizes s USING (cohort_week)
    """,
    tags=("BEHAV",),
)
def behavior_cohort_value_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohort VALUE curve (the LTV companion to the retention
    triangle): users grouped by first-event week; for each cohort age
    in weeks, the cohort's value that week, the running cumulative,
    and cumulative cents per cohort member — the curve a growth team
    reads to see whether later cohorts monetize faster.

    Same scale shape as retention_weekly_cohorts: cohort assignment is
    a window min over the ONE user_id exchange, weekly sums aggregate
    onto the cohorts x weeks grid (tiny at any scale), and the
    cumulative is a window over that grid — never over events.  Value
    is exact centi-unit BIGINT end to end (floor(value*100) per event,
    integer sums); the single per-user division happens once per
    output row.  Ages with zero activity simply don't appear — the
    cumulative stays correct because the window orders by observed
    offsets (a calendar gap-fill belongs to presentation, cf.
    timeseries_gap_fill_daily)."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    w = Window.partitionBy("user_id")
    assigned = e.withColumn(
        "cohort_week", F.date_trunc("week", F.min("ts").over(w))
    ).select(
        "user_id",
        "cohort_week",
        F.floor(
            F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
            / 7
        )
        .cast("long")
        .alias("week_offset"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    sizes = (
        assigned.select("user_id", "cohort_week")
        .distinct()
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).alias("cohort_users"))
    )
    weekly = assigned.groupBy("cohort_week", "week_offset").agg(
        F.sum("cents").alias("week_value_cents")
    )
    cw = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = weekly.withColumn(
        "cum_value_cents", F.sum("week_value_cents").over(cw).cast("long")
    )
    return cum.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "cohort_users",
        "week_value_cents",
        "cum_value_cents",
        F.round(
            F.col("cum_value_cents").cast("double") / F.col("cohort_users"),
            4,
        ).alias("cum_cents_per_user"),
    )


# ---------------------------------------------------------------------------
# Activity concentration: exact Gini + top-share report
# ---------------------------------------------------------------------------


@register(
    "behavior_activity_gini",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, user_id) AS i
      FROM per_user
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS total,
             CAST(sum(i * x) AS BIGINT) AS s_ix
      FROM ranked
    ),
    shares AS (
      SELECT
        CAST(sum(CASE WHEN i > n - CAST(ceil(n * 0.01) AS BIGINT)
                      THEN x ELSE 0 END) AS BIGINT) AS top1_events,
        CAST(sum(CASE WHEN i > n - CAST(ceil(n * 0.10) AS BIGINT)
                      THEN x ELSE 0 END) AS BIGINT) AS top10_events
      FROM ranked, agg
    )
    SELECT a.n AS n_users, a.total AS total_events,
           round(CAST(2 * a.s_ix AS DOUBLE) / (a.n * a.total)
                 - CAST(a.n + 1 AS DOUBLE) / a.n, 6) AS gini,
           round(CAST(s.top1_events AS DOUBLE) / a.total, 6)
             AS top1_share,
           round(CAST(s.top10_events AS DOUBLE) / a.total, 6)
             AS top10_share
    FROM agg a, shares s
    """,
    tags=("BEHAV",),
)
def behavior_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is event volume across users?  Exact Gini
    coefficient via the rank formula G = 2*sum(i*x_i)/(n*sum(x)) -
    (n+1)/n over ascending-sorted per-user counts (user_id tiebreak
    makes ranks deterministic), plus the top-1% and top-10% volume
    shares — the skew facts that decide salting strategy and abuse
    thresholds alike.

    Everything until the final three divisions is exact BIGINT: the
    rank-weighted sum, the totals, and the ceil-based top-percentile
    cutoffs (computed from n, not from a float quantile).  One
    exchange for the per-user rollup; the rank is a single window
    over the users frame — at 100 TB that frame is |users|, orders
    below the fact table.  A global row_number puts all users through
    one sort partition: if |users| itself outgrows that, replace the
    rank-weighted sum with a count-histogram prefix sum (the
    sketch_histogram_quantiles shape) — the formula only needs
    sum(i*x_i) per distinct count value."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ranked = per_user.select(
        "x",
        F.row_number()
        .over(Window.orderBy("x", "user_id"))
        .cast("long")
        .alias("i"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("total"),
        F.sum(F.col("i") * F.col("x")).alias("s_ix"),
    )
    shares = ranked.crossJoin(agg).agg(
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.ceil(F.col("n") * 0.01),
                F.col("x"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("top1_events"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.ceil(F.col("n") * 0.10),
                F.col("x"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("top10_events"),
    )
    return agg.crossJoin(shares).select(
        F.col("n").alias("n_users"),
        F.col("total").alias("total_events"),
        F.round(
            (2 * F.col("s_ix")).cast("double")
            / (F.col("n") * F.col("total"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
        F.round(
            F.col("top1_events").cast("double") / F.col("total"), 6
        ).alias("top1_share"),
        F.round(
            F.col("top10_events").cast("double") / F.col("total"), 6
        ).alias("top10_share"),
    )


# ---------------------------------------------------------------------------
# Markov next-event prediction: train on the past, score on the future
# ---------------------------------------------------------------------------


@register(
    "behavior_markov_next_event_eval",
    oracle="""
    WITH bounds AS (
      SELECT min(epoch_us(ts)) AS lo,
             min(epoch_us(ts))
               + (max(epoch_us(ts)) - min(epoch_us(ts))) * 8 // 10 AS cut
      FROM events
    ),
    ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER w AS next_type,
             lead(epoch_us(ts)) OVER w AS next_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (
      SELECT o.event_type, o.next_type,
             o.next_us >= b.cut AS is_test
      FROM ordered o, bounds b
      WHERE o.next_type IS NOT NULL
    ),
    train AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM pairs WHERE NOT is_test GROUP BY 1, 2
    ),
    model AS (
      SELECT event_type, next_type AS predicted_next, n FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY n DESC, next_type) AS rn
        FROM train
      ) WHERE rn = 1
    ),
    train_tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n_train
      FROM train GROUP BY event_type
    ),
    test AS (
      SELECT p.event_type,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN p.next_type = m.predicted_next
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM pairs p JOIN model m ON m.event_type = p.event_type
      WHERE p.is_test
      GROUP BY p.event_type
    )
    SELECT t.event_type, m.predicted_next, tt.n_train,
           t.n_test, t.n_correct,
           round(CAST(t.n_correct AS DOUBLE) / t.n_test, 6) AS accuracy
    FROM test t
    JOIN model m ON m.event_type = t.event_type
    JOIN train_tot tt ON tt.event_type = t.event_type
    """,
    tags=("BEHAV", "EVAL"),
)
def behavior_markov_next_event_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-correct evaluation of the first-order Markov next-event
    model: transitions whose TARGET event lands in the first 80% of
    the timespan train the model (per current type, the modal next
    type with a lexicographic tiebreak); transitions landing in the
    last 20% score it — per-type test accuracy next to the train/test
    sizes.  This turns path_transition_matrix from a descriptive table
    into a measured predictor, with the same temporal-leakage
    discipline as corpus_temporal_holdout_summary (the model never
    sees a future pair; a random split would leak each user's future
    behavior into training).

    Scale shape: one lead() over the user exchange builds all pairs,
    train/test tagging is an integer-epoch comparison against a
    broadcast 1-row bound, and everything after the pair groupBy lives
    on the |types|^2 domain.  The argmax is rn = 1 over that tiny
    frame; the scoring join broadcasts the |types|-row model."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.expr(
                "(max(unix_micros(ts)) - min(unix_micros(ts))) * 8 div 10"
            )
        ).alias("cut")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).filter(F.col("next_type").isNotNull())
    pairs = ordered.crossJoin(bounds).select(
        "event_type",
        "next_type",
        (F.col("next_us") >= F.col("cut")).alias("is_test"),
    )
    train = (
        pairs.filter(~F.col("is_test"))
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("n"), "next_type")
    )
    model = (
        train.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("next_type").alias("predicted_next"))
    )
    train_tot = train.groupBy("event_type").agg(
        F.sum("n").alias("n_train")
    )
    test = (
        pairs.filter(F.col("is_test"))
        .join(F.broadcast(model), "event_type")
        .groupBy("event_type", "predicted_next")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(
                    F.col("next_type") == F.col("predicted_next"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
    )
    return test.join(F.broadcast(train_tot), "event_type").select(
        "event_type",
        "predicted_next",
        "n_train",
        "n_test",
        "n_correct",
        F.round(
            F.col("n_correct").cast("double") / F.col("n_test"), 6
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Longest daily-activity streak per user (gaps-and-islands leaderboard)
# ---------------------------------------------------------------------------


@register(
    "behavior_longest_streak_top20",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num
      FROM events
    ),
    isl AS (
      SELECT user_id,
             day_num - row_number() OVER (PARTITION BY user_id
                                          ORDER BY day_num) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS streak_days
      FROM isl GROUP BY user_id, grp
    ),
    best AS (
      SELECT user_id, max(streak_days) AS longest_streak,
             CAST(count(*) AS BIGINT) AS n_streaks
      FROM streaks GROUP BY user_id
    )
    SELECT user_id, longest_streak, n_streaks
    FROM best
    ORDER BY longest_streak DESC, user_id LIMIT 20
    """,
    tags=("BEHAV",),
)
def behavior_longest_streak_top20(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Longest consecutive-day activity streak per user, top 20 — the
    engagement leaderboard every consumer product ships, and the
    canonical GAPS-AND-ISLANDS exercise: distinct active days minus
    their per-user rank is CONSTANT exactly within a run of
    consecutive days, so one subtraction turns streaks into groupBy
    keys.  No self-join, no recursion: distinct + one window + two
    rollups, all on the (user, day) frame (bounded by users x
    calendar, far below events).  Integer epoch-day arithmetic keeps
    day boundaries timezone-exact in both engines."""
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        (F.unix_micros("ts") / 86400000000).cast("long").alias("day_num"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    isl = days.select(
        "user_id",
        (F.col("day_num") - F.row_number().over(w)).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_days")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("streak_days").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )
    return best.orderBy(F.desc("longest_streak"), "user_id").limit(20)


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------


@register(
    "behavior_attribution_position_based",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, ts, event_type,
             event_type = 'purchase' AS is_p,
             coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS journey
      FROM events
    ),
    converted AS (
      SELECT DISTINCT user_id, journey FROM tagged WHERE is_p
    ),
    touches AS (
      SELECT t.user_id, t.journey, t.event_type,
             row_number() OVER (PARTITION BY t.user_id, t.journey
                                ORDER BY t.ts, t.event_id) AS pos,
             count(*) OVER (PARTITION BY t.user_id, t.journey) AS k
      FROM tagged t JOIN converted c
        ON c.user_id = t.user_id AND c.journey = t.journey
      WHERE NOT t.is_p
    ),
    credited AS (
      SELECT event_type,
             CASE
               WHEN k = 1 THEN 10000
               WHEN k = 2 THEN 5000
               WHEN pos = 1 THEN 4000 + (2000 - (k - 2) * (2000 // (k - 2)))
               WHEN pos = k THEN 4000
               ELSE 2000 // (k - 2)
             END AS bp
      FROM touches
    )
    SELECT event_type AS channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(bp) AS BIGINT) AS credit_bp
    FROM credited GROUP BY event_type
    """,
    tags=("BEHAV", "ATTRIBUTION"),
)
def behavior_attribution_position_based(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    converting JOURNEY (the touches since the user's previous
    purchase) splits 10000 basis points — 40% to the first touch,
    40% to the last, 20% across the middles — per-channel credit
    the marketing-mix answer last-touch attribution systematically
    biases toward bottom-of-funnel channels.

    Exactness: credits are integer basis points; the middle share
    uses truncating division with the remainder folded into the
    first touch, so every journey's credits sum to exactly 10000 in
    both engines (no float weights).  Journey segmentation is a
    running purchase count per user (one window over the ONE user_id
    exchange all the behavior operators share); journeys without a
    purchase are dropped by the converted semi-join.  Work is
    |events| rows through two windows plus a broadcast-sized join —
    no per-(purchase x touch) pair frame."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_p = F.col("event_type") == "purchase"
    tagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        is_p.alias("is_p"),
        F.coalesce(
            F.sum(F.when(is_p, 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("journey"),
    )
    converted = (
        tagged.filter(F.col("is_p")).select("user_id", "journey").distinct()
    )
    wj = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    wk = Window.partitionBy("user_id", "journey")
    touches = (
        tagged.filter(~F.col("is_p"))
        .join(converted, ["user_id", "journey"])
        .select(
            "event_type",
            F.row_number().over(wj).alias("pos"),
            F.count(F.lit(1)).over(wk).alias("k"),
        )
    )
    mid = F.expr("2000 DIV (k - 2)")
    bp = (
        F.when(F.col("k") == 1, F.lit(10000))
        .when(F.col("k") == 2, F.lit(5000))
        .when(F.col("pos") == 1, F.lit(4000) + (2000 - (F.col("k") - 2) * mid))
        .when(F.col("pos") == F.col("k"), F.lit(4000))
        .otherwise(mid)
    )
    return (
        touches.select("event_type", bp.alias("bp"))
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("bp").cast("long").alias("credit_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Hash-split A/B lift: Welch's unequal-variance t-test
# ---------------------------------------------------------------------------


@register(
    "behavior_ab_lift_welch",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
               % 2 = 0 AS grp_a,
             round(sum(value), 2) AS user_value
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT grp_a,
             CAST(count(*) AS BIGINT) AS n,
             avg(user_value) AS mu,
             var_samp(user_value) AS v
      FROM per_user GROUP BY grp_a
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.mu, 4) AS mean_a, round(b.mu, 4) AS mean_b,
           round(a.mu - b.mu, 4) AS lift,
           round((a.mu - b.mu) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat,
           round(pow(a.v / a.n + b.v / b.n, 2)
                 / (pow(a.v / a.n, 2) / (a.n - 1)
                    + pow(b.v / b.n, 2) / (b.n - 1)), 2) AS df
    FROM g a JOIN g b ON a.grp_a AND NOT b.grp_a
    """,
    tags=("BEHAV", "STATS"),
)
def behavior_ab_lift_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B lift readout with Welch's unequal-variance t statistic:
    users are deterministically hash-assigned (md5 first byte, the
    same engine-portable bucketing as corpus_train_val_test_split, so
    assignment is stable across runs and corpus growth — never
    ``rand()``), the metric is per-user total event value (rounded to
    centi-units so the per-user double sum is rounding-stable across
    engines), and the output is one row: group sizes, means, lift,
    Welch t, and the Welch–Satterthwaite degrees of freedom.

    Under a null split (no real treatment) t should hover near 0 —
    the screen doubles as an A/A sanity check of the bucketing.

    Scale shape: one map-side-combined exchange to the user domain
    (per-user sums), then moments aggregate onto TWO rows — no
    window, no fact-sized shuffle; the final two-row self-join is a
    driver-trivial broadcast."""
    ev = table(spark, sf_dir, "events")
    grp_a = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 2),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 2).alias("user_value")
    ).withColumn("grp_a", grp_a)
    g = per_user.groupBy("grp_a").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("user_value").alias("mu"),
        F.var_samp("user_value").alias("v"),
    )
    a, b = g.alias("a"), g.alias("b")
    se2_a = F.col("a.v") / F.col("a.n")
    se2_b = F.col("b.v") / F.col("b.n")
    se2 = se2_a + se2_b
    return a.join(
        b, F.col("a.grp_a") & ~F.col("b.grp_a")
    ).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(F.col("a.mu"), 4).alias("mean_a"),
        F.round(F.col("b.mu"), 4).alias("mean_b"),
        F.round(F.col("a.mu") - F.col("b.mu"), 4).alias("lift"),
        F.round(
            (F.col("a.mu") - F.col("b.mu")) / F.sqrt(se2), 4
        ).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(se2_a, 2) / (F.col("a.n") - 1)
                + F.pow(se2_b, 2) / (F.col("b.n") - 1)
            ),
            2,
        ).alias("df"),
    )


# ---------------------------------------------------------------------------
# Item-item collaborative-filtering cosine (co-purchase similarity)
# ---------------------------------------------------------------------------


@register(
    "rec_item_item_cosine_topk",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    item_n AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
      FROM baskets GROUP BY l_partkey
    ),
    co AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS co_orders
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT c.part_a, c.part_b, c.co_orders,
           na.n AS n_a, nb.n AS n_b,
           round(c.co_orders / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6)
             AS cosine
    FROM co c
    JOIN item_n na ON na.l_partkey = c.part_a
    JOIN item_n nb ON nb.l_partkey = c.part_b
    ORDER BY c.co_orders / sqrt(CAST(na.n * nb.n AS DOUBLE)) DESC,
             c.part_a, c.part_b
    LIMIT 20
    """,
    tags=("BEHAV", "REC"),
)
def rec_item_item_cosine_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Item-item collaborative filtering over co-purchase baskets —
    the classic Amazon-style "customers who bought X also bought Y"
    kernel: each order is a basket of distinct parts, similarity is
    the cosine of the binary order-incidence vectors, computed
    exactly as co_orders / sqrt(n_a * n_b) from three integers.

    Scale shape: the pair fan-out self-joins on l_orderkey, so the
    blowup per order is (lines per order choose 2) — bounded by the
    order-size cap (7 lines in this schema → ≤21 pairs), NEVER by
    catalog size; the co >= 2 support floor prunes the singleton tail
    before the per-item-count joins.  Per-item counts join on the
    part key (equi-joins on the co-pair frame, already support-
    pruned).  The integer triple makes the cosine bit-identical in
    both engines, and (part_a, part_b) breaks limit-boundary ties
    deterministically."""
    li = table(spark, sf_dir, "lineitem")
    # the per-item counts and BOTH self-join sides read the distinct
    # basket frame — run the |lineitem| distinct once, not three times
    # (r8 opt round, guide §1.2).
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    item_n = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("co_orders"))
        .filter(F.col("co_orders") >= 2)
    )
    na = item_n.select(
        F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a")
    )
    nb = item_n.select(
        F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b")
    )
    cos = (
        F.col("co_orders")
        / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
    )
    return (
        co.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "co_orders",
            "n_a",
            "n_b",
            F.round(cos, 6).alias("cosine"),
        )
        .orderBy(F.desc(cos), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier retention curve (right-censored user lifetimes)
# ---------------------------------------------------------------------------

#: A user whose last event is further than this from the observation
#: end is an observed churn; later users are right-censored.
_KM_HORIZON_DAYS = 14


@register(
    "behavior_kaplan_meier_retention",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             epoch_us(min(CAST(ts AS TIMESTAMP))) // 86400000000
               AS first_day,
             epoch_us(max(CAST(ts AS TIMESTAMP))) // 86400000000
               AS last_day
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
               AS end_day
      FROM events
    ),
    lif AS (
      SELECT u.last_day - u.first_day AS t_days,
             u.last_day < o.end_day - {_KM_HORIZON_DAYS} AS died
      FROM users u CROSS JOIN obs o
    ),
    grp AS (
      SELECT t_days,
             CAST(sum(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deaths,
             CAST(sum(CASE WHEN died THEN 0 ELSE 1 END) AS BIGINT)
               AS n_censored
      FROM lif GROUP BY t_days
    ),
    risk AS (
      SELECT t_days, n_deaths, n_censored,
             CAST(sum(n_deaths + n_censored) OVER () AS BIGINT)
             - coalesce(CAST(sum(n_deaths + n_censored) OVER (
                 ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS BIGINT), 0) AS n_at_risk
      FROM grp
    )
    SELECT t_days, n_at_risk, n_deaths, n_censored,
           round(exp(sum(ln(1.0 - n_deaths / CAST(n_at_risk AS DOUBLE)))
                     OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING)), 6)
             AS survival
    FROM risk
    """,
    tags=("BEHAV", "SURVIVAL"),
)
def behavior_kaplan_meier_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier retention curve over user lifetimes with honest
    right-censoring — the survival-analysis answer to "how long do
    users stay", immune to the classic retention-table bias where
    recently-acquired users look like churners: a user whose last
    event is within {_KM_HORIZON_DAYS} days of the observation end is
    CENSORED at their observed lifetime (they leave the risk set
    without counting as a death).

    S(t) = prod over death times <= t of (1 - d_i / n_i), computed as
    exp of a RUNNING sum of logs: the window's frame order fixes the
    double-summation order identically in both engines, so the 6dp
    round is stable (the one non-deterministic-order sum in the
    pipeline would be a plain aggregate — which is exactly why it's a
    window here).

    Scale shape: the fact collapses per-user (one map-side-combined
    exchange), then onto the lifetime-day domain (~days, constant in
    row count); the unpartitioned windows run on that tiny domain —
    the same justified-global-window case as the carry/scan frames."""
    ev = table(spark, sf_dir, "events")
    day = (F.unix_micros("ts") / 86400000000).cast("long")
    users = ev.groupBy("user_id").agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    obs = ev.agg(F.max(day).alias("end_day"))
    lif = users.crossJoin(obs).select(
        (F.col("last_day") - F.col("first_day")).alias("t_days"),
        (
            F.col("last_day") < F.col("end_day") - _KM_HORIZON_DAYS
        ).alias("died"),
    )
    grp = lif.groupBy("t_days").agg(
        F.sum(F.when(F.col("died"), 1).otherwise(0)).alias("n_deaths"),
        F.sum(F.when(F.col("died"), 0).otherwise(1)).alias("n_censored"),
    )
    leavers = F.col("n_deaths") + F.col("n_censored")
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = grp.select(
        "t_days",
        "n_deaths",
        "n_censored",
        (
            F.sum(leavers).over(w_all)
            - F.coalesce(F.sum(leavers).over(w_prev), F.lit(0))
        ).alias("n_at_risk"),
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    logterm = F.log(
        1.0 - F.col("n_deaths") / F.col("n_at_risk").cast("double")
    )
    return risk.select(
        "t_days",
        "n_at_risk",
        "n_deaths",
        "n_censored",
        F.round(F.exp(F.sum(logterm).over(w_cum)), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Frequent 3-step paths (event trigrams per user timeline)
# ---------------------------------------------------------------------------


@register(
    "path_trigram_topk",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e3
      FROM events
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, e1, e2, e3
    LIMIT 20
    """,
    tags=("BEHAV", "PATH"),
)
def path_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths — the length-3 extension of
    path_transition_matrix's bigrams: sliding trigrams over each
    user's (ts, event_id)-ordered timeline, counted corpus-wide.
    Three-step paths are where funnels start to show INTENT (view ->
    click -> purchase vs view -> click -> view), which bigrams
    structurally cannot distinguish.

    Scale shape: one exchange clustering each user's timeline (the two
    leads share a single window sort), map-side-combined rollup onto
    the |types|^3 domain, TakeOrdered top-20 — per-user work is linear
    in that user's history, and the pattern domain is a constant."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Pareto concentration point (who generates 80% of the volume)
# ---------------------------------------------------------------------------

_PARETO_TARGET_PCT = 80


@register(
    "behavior_power_users_pareto",
    oracle=f"""
    WITH uc AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT c, CAST(count(*) AS BIGINT) AS n_users
      FROM uc GROUP BY c
    ),
    cum AS (
      SELECT c, n_users,
             coalesce(CAST(sum(c * n_users) OVER (
               ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS ev_before,
             coalesce(CAST(sum(n_users) OVER (
               ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS users_before,
             CAST(sum(c * n_users) OVER () AS BIGINT) AS total_events,
             CAST(sum(n_users) OVER () AS BIGINT) AS total_users
      FROM hist
    ),
    hit AS (
      SELECT *,
             users_before
             + CAST(ceil((total_events * {_PARETO_TARGET_PCT} / 100.0
                          - ev_before) / c) AS BIGINT) AS users_needed
      FROM cum
      WHERE ev_before < total_events * {_PARETO_TARGET_PCT} / 100.0
        AND ev_before + c * n_users
              >= total_events * {_PARETO_TARGET_PCT} / 100.0
    )
    SELECT total_users, total_events, users_needed,
           round(users_needed / CAST(total_users AS DOUBLE), 6)
             AS user_share
    FROM hit
    """,
    tags=("BEHAV",),
)
def behavior_power_users_pareto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Pareto concentration point: how many of the heaviest users
    it takes to cover {_PARETO_TARGET_PCT}% of all events — the
    "80/20" number product and capacity teams quote, and the
    complement to behavior_activity_gini's scalar (Gini says HOW
    concentrated; this says WHO you'd have to rate-limit).

    Scale honesty: the naive form ranks USERS (a fact-scale window);
    this one aggregates onto the count-VALUE histogram first — users
    sharing an activity level are interchangeable, so the crossing
    point is derived exactly on the tiny distinct-count domain
    (integer ceil arithmetic inside the straddling bucket; windows run
    over |distinct activity levels| rows, bounded by max events per
    user, regardless of user count)."""
    ev = table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    hist = uc.groupBy("c").agg(F.count(F.lit(1)).alias("n_users"))
    w_prev = Window.orderBy(F.desc("c")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ev_mass = F.col("c") * F.col("n_users")
    cum = hist.select(
        "c",
        "n_users",
        F.coalesce(F.sum(ev_mass).over(w_prev), F.lit(0)).alias(
            "ev_before"
        ),
        F.coalesce(F.sum("n_users").over(w_prev), F.lit(0)).alias(
            "users_before"
        ),
        F.sum(ev_mass).over(w_all).alias("total_events"),
        F.sum("n_users").over(w_all).alias("total_users"),
    )
    target = F.col("total_events") * _PARETO_TARGET_PCT / 100.0
    hit = cum.filter(
        (F.col("ev_before") < target)
        & (F.col("ev_before") + ev_mass >= target)
    ).select(
        "total_users",
        "total_events",
        (
            F.col("users_before")
            + F.ceil((target - F.col("ev_before")) / F.col("c")).cast(
                "long"
            )
        ).alias("users_needed"),
    )
    return hit.select(
        "total_users",
        "total_events",
        "users_needed",
        F.round(
            F.col("users_needed") / F.col("total_users").cast("double"), 6
        ).alias("user_share"),
    )


# ---------------------------------------------------------------------------
# Run-length encoding of consecutive error events
# ---------------------------------------------------------------------------


@register(
    "pattern_error_run_lengths",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             event_type = 'error' AS is_err,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id,
                                             event_type = 'error'
                                ORDER BY ts, event_id) AS rn_t
      FROM events
    ),
    runs AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS run_len
      FROM flagged WHERE is_err
      GROUP BY user_id, rn - rn_t
    )
    SELECT run_len,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM runs GROUP BY run_len
    """,
    tags=("BEHAV", "PATTERN"),
)
def pattern_error_run_lengths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run-length encoding of consecutive error events per user
    timeline — the distribution of failure-burst lengths (how often
    do errors come alone vs in streaks), which is the monitoring
    question behind retry storms and crash loops, and the
    MATCH_RECOGNIZE pattern class (A+ runs) expressed with the
    two-row-number gaps-and-islands identity: rn_overall − rn_within
    (same ordering) is constant exactly inside a maximal run of equal
    flag values.

    Scale shape: both row-numbers share ONE user_id-clustered window
    sort; runs aggregate per (user, island) and the final histogram
    lands on the tiny run-length domain — per-user work linear in
    that user's history, no self-join, no fact-wide window."""
    ev = table(spark, sf_dir, "events")
    is_err = F.col("event_type") == "error"
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_t = Window.partitionBy("user_id", is_err).orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        is_err.alias("is_err"),
        (F.row_number().over(w) - F.row_number().over(w_t)).alias("isl"),
    )
    runs = (
        flagged.filter(F.col("is_err"))
        .groupBy("user_id", "isl")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("run_len").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# windowFunnel: max funnel level reached within a time horizon
# ---------------------------------------------------------------------------

#: Funnel horizon: the whole signup->click->purchase chain must fit in
#: this many days from the anchor signup.
_WFUNNEL_DAYS = 7


@register(
    "funnel_window_levels",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
      WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    marked AS (
      SELECT *,
             min(CASE WHEN event_type = 'click' THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
             ) AS next_click_rn,
             min(CASE WHEN event_type = 'purchase' THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
             ) AS next_purchase_rn
      FROM t
    ),
    anchors AS (
      SELECT s.user_id,
             1
             + CASE WHEN c.rn IS NOT NULL
                     AND c.ts <= s.ts + INTERVAL {_WFUNNEL_DAYS} DAY
                    THEN 1 ELSE 0 END
             + CASE WHEN c.rn IS NOT NULL
                     AND c.ts <= s.ts + INTERVAL {_WFUNNEL_DAYS} DAY
                     AND p.rn IS NOT NULL
                     AND p.ts <= s.ts + INTERVAL {_WFUNNEL_DAYS} DAY
                    THEN 1 ELSE 0 END AS level
      FROM marked s
      LEFT JOIN marked c
        ON c.user_id = s.user_id AND c.rn = s.next_click_rn
      LEFT JOIN marked p
        ON p.user_id = c.user_id AND p.rn = c.next_purchase_rn
      WHERE s.event_type = 'signup'
    ),
    per_user AS (
      SELECT user_id, max(level) AS level FROM anchors GROUP BY user_id
    )
    SELECT level, CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY level
    """,
    tags=("BEHAV", "FUNNEL"),
)
def funnel_window_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel`` semantics (chStats.py's engine is
    the system this analytics dialect comes from): for each user, the
    MAXIMUM funnel level (signup -> click -> purchase, in order)
    completable within {_WFUNNEL_DAYS} days of some anchor signup,
    histogrammed over users.  The earliest-next-step chain is exact
    for this reachability question: any purchase following a later
    click also follows the earliest click, and the deadline binds on
    the ANCHOR, so greedy-first never misses a deeper level.

    Scale shape: one user-clustered window sort produces rn and both
    next-step pointers; the two step joins key on (user, rn) — equi-
    joins on the SAME clustering, so the whole funnel is one exchange;
    anchors collapse per-user then onto the 3-row level domain."""
    ev = table(spark, sf_dir, "events")
    t = ev.filter(
        F.col("event_type").isin("signup", "click", "purchase")
    ).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_f = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        1, Window.unboundedFollowing
    )
    marked = t.withColumn("rn", F.row_number().over(w)).select(
        "user_id",
        "event_type",
        "ts",
        "rn",
        F.min(
            F.when(F.col("event_type") == "click", F.col("rn"))
        ).over(w_f).alias("next_click_rn"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        ).over(w_f).alias("next_purchase_rn"),
    )
    s = marked.filter(F.col("event_type") == "signup").alias("s")
    c = marked.alias("c")
    p = marked.alias("p")
    deadline = F.col("s.ts") + F.expr(f"INTERVAL {_WFUNNEL_DAYS} DAY")
    step2 = F.col("c.rn").isNotNull() & (F.col("c.ts") <= deadline)
    step3 = (
        step2
        & F.col("p.rn").isNotNull()
        & (F.col("p.ts") <= deadline)
    )
    anchors = (
        s.join(
            c,
            (F.col("c.user_id") == F.col("s.user_id"))
            & (F.col("c.rn") == F.col("s.next_click_rn")),
            "left",
        )
        .join(
            p,
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("p.rn") == F.col("c.next_purchase_rn")),
            "left",
        )
        .select(
            F.col("s.user_id").alias("user_id"),
            (
                F.lit(1)
                + F.when(step2, 1).otherwise(0)
                + F.when(step3, 1).otherwise(0)
            ).alias("level"),
        )
    )
    per_user = anchors.groupBy("user_id").agg(
        F.max("level").alias("level")
    )
    return per_user.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# sequenceCount: non-overlapping click->purchase matches per user
# ---------------------------------------------------------------------------


@register(
    "pattern_sequence_count_ab",
    oracle="""
    WITH t AS (
      SELECT user_id,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_b,
             CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    cum AS (
      SELECT user_id, is_b,
             CAST(sum(is_b - is_a) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS d
      FROM t
    ),
    per_user AS (
      SELECT user_id,
             CAST(sum(is_b) AS BIGINT)
             - greatest(CAST(max(d) AS BIGINT), 0) AS n_matches
      FROM cum GROUP BY user_id
    )
    SELECT n_matches, CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY n_matches
    """,
    tags=("BEHAV", "PATTERN"),
)
def pattern_sequence_count_ab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ClickHouse ``sequenceCount``-style matching: the number of
    NON-OVERLAPPING click -> purchase occurrences in each user's
    timeline (each purchase consumes one earlier unconsumed click —
    greedy, which is maximal for two-symbol patterns), histogrammed
    over users.

    The naive form is a per-key counter machine (an "available
    clicks" register — a data-dependent recursion windows cannot
    express), but for a two-symbol pattern the ballot-problem
    identity closes it: unmatched purchases = the maximum prefix
    excess of purchases over clicks, so matches = total purchases -
    max(0, max_p cum(purchase - click)).  One cumulative window and
    one rollup — exact integers end to end, and strictly more
    scalable than the fold (no per-user array materialization).

    A DuckDB 1.0 list_reduce vectorization fault was found while
    building the fold form (per-row lambda folds cross-contaminate
    within a chunk: the same list folds correctly alone and wrongly
    next to other rows); the closed form sidesteps the function
    entirely.

    Scale shape: one exchange clustering each user's (filtered)
    timeline shared by the window and the rollup; output lands on the
    tiny match-count domain."""
    ev = table(spark, sf_dir, "events")
    t = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
            "is_a"
        ),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_b"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.select(
        "user_id",
        "is_b",
        F.sum(F.col("is_b") - F.col("is_a")).over(w).alias("d"),
    )
    per_user = cum.groupBy("user_id").agg(
        (
            F.sum("is_b") - F.greatest(F.max("d"), F.lit(0))
        ).alias("n_matches")
    )
    return per_user.groupBy("n_matches").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# retention(): conditional retention array over users
# ---------------------------------------------------------------------------


@register(
    "behavior_retention_conditions",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                      THEN CAST(ts AS TIMESTAMP) END) AS first_signup,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    flags AS (
      SELECT p.user_id,
             (p.first_signup IS NOT NULL)::INTEGER AS r1,
             max(CASE WHEN e.event_type = 'click'
                       AND CAST(e.ts AS TIMESTAMP) > p.first_signup
                      THEN 1 ELSE 0 END) AS r2,
             max(CASE WHEN e.event_type = 'purchase'
                       AND CAST(e.ts AS TIMESTAMP) > p.first_signup
                      THEN 1 ELSE 0 END) AS r3
      FROM per_user p JOIN events e ON e.user_id = p.user_id
      GROUP BY p.user_id, p.first_signup
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(r1) AS BIGINT) AS r1,
           CAST(sum(r1 * r2) AS BIGINT) AS r2,
           CAST(sum(r1 * r3) AS BIGINT) AS r3,
           round(sum(r1 * r2) / CAST(sum(r1) AS DOUBLE), 6) AS r2_ratio,
           round(sum(r1 * r3) / CAST(sum(r1) AS DOUBLE), 6) AS r3_ratio
    FROM flags
    """,
    tags=("BEHAV", "FUNNEL"),
)
def behavior_retention_conditions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ClickHouse ``retention()`` semantics: an array of chained
    conditions per user — r1 = signed up, r2 = clicked strictly AFTER
    the first signup, r3 = purchased strictly after it — where later
    flags only count when r1 holds, aggregated to cohort totals and
    ratios.  The condition-based complement to
    retention_weekly_cohorts' calendar triangle: this one asks "of
    everyone who ever signed up, who came back and DID something",
    independent of week boundaries.

    Scale shape: one user-clustered aggregation computes the first-
    signup anchor; the flag pass re-joins events on the SAME user key
    (one exchange, reused clustering) and collapses immediately; the
    output is a single row of exact BIGINTs plus two final
    divisions."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("first_signup")
    )
    flags = (
        ev.join(per_user, "user_id")
        .groupBy("user_id", "first_signup")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("first_signup")),
                    1,
                ).otherwise(0)
            ).alias("r2"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("first_signup")),
                    1,
                ).otherwise(0)
            ).alias("r3"),
        )
        .select(
            F.when(F.col("first_signup").isNotNull(), 1)
            .otherwise(0)
            .alias("r1"),
            "r2",
            "r3",
        )
    )
    r1 = F.sum("r1")
    r2 = F.sum(F.col("r1") * F.col("r2"))
    r3 = F.sum(F.col("r1") * F.col("r3"))
    return flags.agg(
        F.count(F.lit(1)).alias("n_users"),
        r1.alias("r1"),
        r2.alias("r2"),
        r3.alias("r3"),
        F.round(r2 / r1.cast("double"), 6).alias("r2_ratio"),
        F.round(r3 / r1.cast("double"), 6).alias("r3_ratio"),
    )


# ---------------------------------------------------------------------------
# Hysteresis alert state machine over the daily error rate
# ---------------------------------------------------------------------------

#: Enter / exit thresholds: fire above HI, clear only below LO.  The
#: band between them is what stops threshold flapping.
_HYST_HI = 0.22
_HYST_LO = 0.18


@register(
    "alert_hysteresis_error_rate",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_num,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS errors
      FROM events GROUP BY 1
    ),
    sig AS (
      SELECT day_num, n, errors,
             errors / CAST(n AS DOUBLE) AS rate,
             CASE WHEN errors / CAST(n AS DOUBLE) > {_HYST_HI!r} THEN 1
                  WHEN errors / CAST(n AS DOUBLE) < {_HYST_LO!r} THEN 0
             END AS signal
      FROM daily
    )
    SELECT day_num, n, errors, round(rate, 6) AS rate,
           coalesce(last_value(signal IGNORE NULLS) OVER (
             ORDER BY day_num ROWS UNBOUNDED PRECEDING), 0) = 1 AS alert
    FROM sig
    """,
    tags=("BEHAV", "ALERT"),
)
def alert_hysteresis_error_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-threshold (hysteresis) alert over the daily error rate:
    fire when the rate crosses {_HYST_HI}, clear only when it falls
    below {_HYST_LO} — the dead band in between holds the PREVIOUS
    state, which is what stops a rate hovering at one threshold from
    flapping (the stateful cousin of alert_suppression_window, and
    the alert semantics the reference's replication-failure monitor
    would want at any real noise level).

    The state machine looks like a recursion but forward-fill closes
    it: emit +1 above HI, 0 below LO, NULL in the band, then
    last_value(IGNORE NULLS) over the day order carries the most
    recent decision forward — a pure window, identical in both
    engines (the same trick as timeseries_forward_fill).

    Scale shape: the fact collapses onto the day domain map-side; the
    unpartitioned forward-fill window runs on |days| rows — the
    justified-tiny-global-window case."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.unix_micros("ts") / 86400000000).cast("long").alias("day_num")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("errors"),
    )
    rate = F.col("errors") / F.col("n").cast("double")
    sig = daily.select(
        "day_num",
        "n",
        "errors",
        rate.alias("rate"),
        F.when(rate > _HYST_HI, 1).when(rate < _HYST_LO, 0).alias(
            "signal"
        ),
    )
    w = Window.orderBy("day_num").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return sig.select(
        "day_num",
        "n",
        "errors",
        F.round("rate", 6).alias("rate"),
        (
            F.coalesce(
                F.last("signal", ignorenulls=True).over(w), F.lit(0)
            )
            == 1
        ).alias("alert"),
    )


# ---------------------------------------------------------------------------
# Exponentially time-decayed activity scores (half-life weighting)
# ---------------------------------------------------------------------------

_DECAY_HALF_LIFE_DAYS = 7


@register(
    "trend_decayed_event_scores",
    oracle=f"""
    WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events)
    SELECT event_type,
           round(sum(pow(2.0,
             -date_diff('day', CAST(ts AS DATE), a.anchor)
               / {_DECAY_HALF_LIFE_DAYS}.0)), 6) AS decayed_count,
           round(sum(value * pow(2.0,
             -date_diff('day', CAST(ts AS DATE), a.anchor)
               / {_DECAY_HALF_LIFE_DAYS}.0)), 6) AS decayed_value
    FROM events, a
    GROUP BY event_type
    """,
    tags=("TREND",),
)
def trend_decayed_event_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed activity score per event type: every event
    contributes ``2^(-age_days/7)`` (and ``value`` times that) relative
    to the newest day in the table — the standard "recent activity
    matters more" leaderboard weighting (ClickHouse's
    ``exponentialMovingAverage`` family, re-expressed as a closed-form
    weighted sum so it is order-independent and hash-checkable).

    Plan: the anchor day is ONE scalar aggregate broadcast back onto
    the fact scan (no window, no sort); the weighted sums partial-
    combine map-side in the single event_type aggregate.  Ages are
    integer day diffs, so the weight expression is the same double in
    both engines and the 6-dp round absorbs summation-order ulp."""
    e = table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.to_date("ts")).alias("anchor"))
    w = F.pow(
        F.lit(2.0),
        -F.datediff("anchor", F.to_date("ts")).cast("double")
        / _DECAY_HALF_LIFE_DAYS,
    )
    return (
        e.crossJoin(anchor)
        .groupBy("event_type")
        .agg(
            F.round(F.sum(w), 6).alias("decayed_count"),
            F.round(F.sum(F.col("value") * w), 6).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Batch sessionization: 30-minute-gap sessions per user (gaps-and-islands)
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800


@register(
    "behavior_sessions_gap30",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS t,
             lag(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
      FROM events
    ),
    marked AS (
      SELECT user_id, ts, event_id, t,
             CASE WHEN prev_t IS NULL OR t - prev_t > {_SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sess AS (
      -- Running sum ordered by the SAME (ts, event_id) key as the lag:
      -- t is second-truncated, so ordering by t alone leaves same-second
      -- ties nondeterministic and can split a boundary session
      -- differently per engine/run.
      SELECT user_id, t,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    per_session AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(t) - min(t) AS BIGINT) AS duration_s
      FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(duration_s) AS BIGINT) AS active_seconds,
           CAST(max(n_events) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY user_id
    """,
    tags=("BEHAV",),
)
def behavior_sessions_gap30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute (_SESSION_GAP_S)
    inactivity cutoff — the batch twin of stream_session_windows'
    stateful session gap, expressed as gaps-and-islands: a session
    starts where the gap to the previous event exceeds the cutoff, the
    running count of starts IS the session id, and two keyed aggregates
    produce per-user session stats (count, events, active seconds, max
    session size).

    Everything clusters by user_id ONCE: the lag, the running sum, and
    both group-bys reuse the same HashPartitioning(user_id) exchange —
    Catalyst plans one shuffle + in-partition sorts.  No per-user
    arrays materialize, so a bot with 10^8 events streams through; all
    outputs are exact BIGINTs (epoch-second arithmetic)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.unix_timestamp("ts").alias("t")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.withColumn(
        "new_session",
        F.when(
            F.lag("t").over(wo).isNull()
            | (F.col("t") - F.lag("t").over(wo) > _SESSION_GAP_S),
            1,
        ).otherwise(0),
    )
    # Ordered by the SAME (ts, event_id) key as the lag window above —
    # t is second-truncated, so ordering the running sum by t alone
    # makes same-second ties around a gap boundary engine-dependent.
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn("session_id", F.sum("new_session").over(wrun))
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("t") - F.min("t")).cast("long").alias("duration_s"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("duration_s").cast("long").alias("active_seconds"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# SMA crossover signals: 7-day vs 28-day moving averages, integer-exact
# ---------------------------------------------------------------------------

_SMA_FAST = 7
_SMA_SLOW = 28


@register(
    "trend_sma_crossover_signals",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS v_micro
      FROM events GROUP BY 1
    ),
    windows AS (
      SELECT day, v_micro,
             CAST(sum(v_micro) OVER (ORDER BY day
               ROWS {_SMA_FAST - 1} PRECEDING) AS BIGINT) AS sum_fast,
             CAST(sum(v_micro) OVER (ORDER BY day
               ROWS {_SMA_SLOW - 1} PRECEDING) AS BIGINT) AS sum_slow,
             CAST(count(*) OVER (ORDER BY day
               ROWS {_SMA_SLOW - 1} PRECEDING) AS BIGINT) AS n_slow
      FROM daily
    ),
    flagged AS (
      SELECT day, sum_fast, sum_slow,
             {_SMA_SLOW} * sum_fast > {_SMA_FAST} * sum_slow AS fast_above
      FROM windows WHERE n_slow = {_SMA_SLOW}
    )
    SELECT day, sum_fast, sum_slow, fast_above,
           fast_above <> lag(fast_above) OVER (ORDER BY day) AS crossed
    FROM flagged
    """,
    tags=("TREND",),
)
def trend_sma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detector (7-day _SMA_FAST vs
    28-day _SMA_SLOW SMA of daily total value): the classic
    trend-reversal signal, emitted only for days with a full slow
    window, with ``crossed`` marking the days the fast average moves
    through the slow one.

    Integer-exact on purpose: values go to micro-unit BIGINTs at the
    daily rollup, and the SMA comparison is cross-multiplied
    (28*sum_fast vs 7*sum_slow) so the
    boundary-sign question that would make a float crossover flip
    between engines never involves a float at all — same fixed-point
    discipline as the cohort value curves.

    Plan: one daily rollup collapses the fact table; every window runs
    over the single |days|-row frame (one task, by construction — a
    calendar series is not a scale axis)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long"))
        .cast("long")
        .alias("v_micro")
    )
    return sma_crossover_from_daily(daily)


def sma_crossover_from_daily(daily: DataFrame) -> DataFrame:
    """Crossover post-pass over a (day, v_micro) frame — shared by the
    batch query above and the streaming daily-totals twin
    (streaming/windowed.py:daily_value_totals), so the signal
    definition cannot drift between the two plans."""
    wf = Window.orderBy("day").rowsBetween(-(_SMA_FAST - 1), 0)
    ws = Window.orderBy("day").rowsBetween(-(_SMA_SLOW - 1), 0)
    windows = daily.select(
        "day",
        F.sum("v_micro").over(wf).cast("long").alias("sum_fast"),
        F.sum("v_micro").over(ws).cast("long").alias("sum_slow"),
        F.count(F.lit(1)).over(ws).alias("n_slow"),
    )
    flagged = windows.filter(F.col("n_slow") == _SMA_SLOW).select(
        "day",
        "sum_fast",
        "sum_slow",
        (_SMA_SLOW * F.col("sum_fast") > _SMA_FAST * F.col("sum_slow")).alias(
            "fast_above"
        ),
    )
    wl = Window.orderBy("day")
    return flagged.withColumn(
        "crossed", F.col("fast_above") != F.lag("fast_above").over(wl)
    )


# ---------------------------------------------------------------------------
# Growth accounting: monthly new / retained / resurrected / churned users
# ---------------------------------------------------------------------------


@register(
    "behavior_growth_accounting_monthly",
    oracle="""
    WITH um AS (
      SELECT DISTINCT user_id,
             CAST(year(ts) * 12 + month(ts) AS BIGINT) AS m,
             date_trunc('month', CAST(ts AS DATE)) AS month_start
      FROM events
    ),
    classified AS (
      SELECT m, month_start,
             CASE WHEN prev_m IS NULL THEN 'new'
                  WHEN m - prev_m = 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM (SELECT user_id, m, month_start,
                   lag(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m
            FROM um)
    ),
    monthly AS (
      SELECT m, month_start,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_resurrected
      FROM classified GROUP BY m, month_start
    )
    SELECT month_start, n_active, n_new, n_retained, n_resurrected,
           CASE WHEN lag(m) OVER (ORDER BY m) = m - 1
                THEN lag(n_active) OVER (ORDER BY m) - n_retained
           END AS n_churned
    FROM monthly
    """,
    tags=("BEHAV",),
)
def behavior_growth_accounting_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly growth accounting — the new/retained/resurrected/churned
    decomposition every growth team runs: a user-month is NEW on the
    user's first month, RETAINED when active the month before,
    RESURRECTED after a gap; CHURNED for month m is derived from the
    identity churned(m) = active(m-1) - retained(m) (users active last
    month who did not return), guarded to NULL across calendar gaps
    and for the first month.

    Plan: distinct (user, month) pairs partial-combine map-side; one
    user_id exchange feeds the lag classification; the monthly rollup
    and the final churn lag run on the |months|-row frame.  The
    churned identity avoids the anti-join of active(m-1) against
    active(m) entirely — the only user-scale shuffles are the distinct
    and one window."""
    e = table(spark, sf_dir, "events")
    um = e.select(
        "user_id",
        (F.year("ts") * 12 + F.month("ts")).cast("long").alias("m"),
        F.trunc(F.to_date("ts"), "month").alias("month_start"),
    ).distinct()
    wl = Window.partitionBy("user_id").orderBy("m")
    classified = um.withColumn("prev_m", F.lag("m").over(wl)).select(
        "m",
        "month_start",
        F.when(F.col("prev_m").isNull(), "new")
        .when(F.col("m") - F.col("prev_m") == 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    monthly = classified.groupBy("m", "month_start").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("state") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    wm = Window.orderBy("m")
    return monthly.select(
        "month_start",
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.when(
            F.lag("m").over(wm) == F.col("m") - 1,
            F.lag("n_active").over(wm) - F.col("n_retained"),
        ).alias("n_churned"),
    )


# ---------------------------------------------------------------------------
# Association rules: confidence and lift over the session baskets
# ---------------------------------------------------------------------------


@register(
    "behavior_association_rules",
    oracle=f"""
    WITH marks AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                       > {_BASKET_GAP_US}
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marks
    ),
    baskets AS (
      SELECT DISTINCT user_id, sess_id, event_type FROM sess
    ),
    nb AS (
      SELECT CAST(count(*) AS BIGINT) AS n_baskets
      FROM (SELECT DISTINCT user_id, sess_id FROM baskets)
    ),
    item AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS s
      FROM baskets GROUP BY event_type
    ),
    pair AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             CAST(count(*) AS BIGINT) AS support_ab
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.sess_id = b.sess_id
           AND a.event_type <> b.event_type
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.support_ab,
           round(CAST(p.support_ab AS DOUBLE) / ia.s, 6) AS confidence,
           round(CAST(p.support_ab AS DOUBLE) * nb.n_baskets
                 / (ia.s * ic.s), 6) AS lift
    FROM pair p
    JOIN item ia ON ia.event_type = p.antecedent
    JOIN item ic ON ic.event_type = p.consequent
    CROSS JOIN nb
    """,
    tags=("BEHAV",),
)
def behavior_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules antecedent -> consequent over the
    same 30-minute session baskets as basket_event_type_pairs, scored
    with the two numbers a recommender actually thresholds on:
    confidence = P(consequent | antecedent basket) and lift =
    observed co-occurrence over the independence expectation (lift < 1
    means the pair AVOIDS each other — support alone can't say that).

    Same single user_id exchange for sessions and baskets; item
    supports and the basket total are |types|-sized broadcasts onto
    the |types|^2 pair frame, so everything after the basket distinct
    is dimension-scale work."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > _BASKET_GAP_US), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_type",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sess_id"),
    )
    baskets = sess.select("user_id", "sess_id", "event_type").distinct()
    nb = baskets.select("user_id", "sess_id").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    item = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("s"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess_id") == F.col("b.sess_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("support_ab"))
    )
    ia = item.select(F.col("event_type").alias("antecedent"),
                     F.col("s").alias("s_a"))
    ic = item.select(F.col("event_type").alias("consequent"),
                     F.col("s").alias("s_c"))
    return (
        pair.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(nb)
        .select(
            "antecedent",
            "consequent",
            "support_ab",
            F.round(F.col("support_ab").cast("double") / F.col("s_a"), 6)
            .alias("confidence"),
            F.round(
                F.col("support_ab").cast("double") * F.col("n_baskets")
                / (F.col("s_a") * F.col("s_c")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Lorenz curve deciles: the concentration table behind the Gini scalar
# ---------------------------------------------------------------------------


@register(
    "behavior_lorenz_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT n, ntile(10) OVER (ORDER BY n, user_id) AS decile
      FROM per_user
    ),
    dec AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(n) AS BIGINT) AS n_events
      FROM ranked GROUP BY decile
    )
    SELECT decile, n_users, n_events,
           CAST(sum(n_events) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events,
           CAST(10000 * sum(n_events) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING)
                // sum(n_events) OVER () AS BIGINT) AS cum_share_bps
    FROM dec
    """,
    tags=("BEHAV",),
)
def behavior_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of event-volume concentration in ten points: users
    ranked by activity into deciles (ntile with a user_id tie-break so
    the assignment is deterministic in both engines), each decile's
    user and event counts, and the cumulative share in exact integer
    basis points — the table behind behavior_activity_gini's scalar
    (the Gini is twice the area between this curve and the diagonal),
    and the direct read for "the top decile is 40% of load", which is
    what capacity planning and skew-salting decisions consume.

    One user rollup, one ntile over the user frame, windows over ten
    rows.  Integer end to end (basis points via integer division)."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = per_user.select(
        "n",
        F.ntile(10).over(Window.orderBy("n", "user_id")).alias("decile"),
    )
    dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return dec.select(
        "decile",
        "n_users",
        "n_events",
        F.sum("n_events").over(wcum).cast("long").alias("cum_events"),
        F.expr(
            "CAST(10000 * sum(n_events) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " div sum(n_events) OVER () AS BIGINT)"
        ).alias("cum_share_bps"),
    )


# ---------------------------------------------------------------------------
# Peak-hour profile: hour-of-day load shape per event type
# ---------------------------------------------------------------------------


@register(
    "behavior_peak_hour_profile",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(c) AS BIGINT) AS n_events,
           min_by(hod, -c * 100 + hod) AS peak_hour,
           CAST(max(c) AS BIGINT) AS peak_count,
           CAST(10000 * max(c) // sum(c) AS BIGINT) AS peak_share_bps
    FROM hourly GROUP BY event_type
    """,
    tags=("BEHAV", "TS"),
)
def behavior_peak_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load shape per event type: the peak hour (earliest
    hour on count ties — the tie-break is encoded in the argmax key in
    both engines), its volume, and its share of the type's traffic in
    exact basis points.  The capacity-planning companion of
    seasonal_dow_residuals at hour granularity: a type with 1500 bps in
    its peak hour is flat, one with 4000 bps needs its jobs scheduled
    around that hour.

    Two aggregates sharing the event_type clustering ((type, hour)
    rollup, then the per-type argmax over a <=24-row group); integers
    end to end."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count(F.lit(1)).alias("c"))
    key = -F.col("c") * 100 + F.col("hod")
    return hourly.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.min_by("hod", key).alias("peak_hour"),
        F.max("c").cast("long").alias("peak_count"),
        F.expr("CAST(10000 * max(c) div sum(c) AS BIGINT)").alias(
            "peak_share_bps"
        ),
    )


# ---------------------------------------------------------------------------
# Growth accounting: daily purchaser lifecycle states
# ---------------------------------------------------------------------------


@register(
    "behavior_purchaser_lifecycle_daily",
    oracle="""
    WITH p AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE event_type = 'purchase'
    ),
    marked AS (
      SELECT user_id, day,
             min(day) OVER (PARTITION BY user_id) AS first_day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      FROM p
    ),
    states AS (
      SELECT day,
             CASE WHEN day = first_day THEN 'new'
                  WHEN prev_day = day - INTERVAL 1 DAY THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM marked
    ),
    churns AS (
      SELECT day + INTERVAL 1 DAY AS day
      FROM marked
      WHERE next_day IS NULL OR next_day <> day + INTERVAL 1 DAY
    ),
    active AS (
      SELECT day,
             CAST(count(*) FILTER (state = 'new') AS BIGINT) AS n_new,
             CAST(count(*) FILTER (state = 'retained') AS BIGINT)
               AS n_retained,
             CAST(count(*) FILTER (state = 'resurrected') AS BIGINT)
               AS n_resurrected
      FROM states GROUP BY day
    ),
    churned AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_churned
      FROM churns GROUP BY day
    )
    SELECT CAST(coalesce(a.day, c.day) AS DATE) AS day,
           coalesce(a.n_new, 0) AS n_new,
           coalesce(a.n_retained, 0) AS n_retained,
           coalesce(a.n_resurrected, 0) AS n_resurrected,
           coalesce(c.n_churned, 0) AS n_churned
    FROM active a FULL OUTER JOIN churned c ON a.day = c.day
    """,
    tags=("BEHAV",),
)
def behavior_purchaser_lifecycle_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily growth accounting over purchasers (the classic
    new / retained / resurrected / churned decomposition): a purchaser
    is NEW on their first purchase day, RETAINED when they also
    purchased the previous day, RESURRECTED when returning after a
    gap, and a churn is booked on the day AFTER a purchase day with no
    follow-up — so for every day, actives(d) = new + retained +
    resurrected and retained(d) = actives(d-1) - churned(d), the
    accounting identity that makes growth decomposable instead of a
    single opaque DAU line.

    Plan: one distinct (user, day) frame, one user-partitioned window
    pass (min/lag/lead share the same sort), two day rollups and a
    day-domain full outer join — every aggregate an exact BIGINT, no
    per-user arrays, shuffles keyed on user_id once then day once."""
    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    wu = Window.partitionBy("user_id")
    wo = wu.orderBy("day")
    marked = p.select(
        "user_id",
        "day",
        F.min("day").over(wu).alias("first_day"),
        F.lag("day").over(wo).alias("prev_day"),
        F.lead("day").over(wo).alias("next_day"),
    )
    states = marked.select(
        "day",
        F.when(F.col("day") == F.col("first_day"), "new")
        .when(F.col("prev_day") == F.date_sub("day", 1), "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    active = states.groupBy("day").agg(
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("state") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    churned = (
        marked.filter(
            F.col("next_day").isNull()
            | (F.col("next_day") != F.date_add("day", 1))
        )
        .select(F.date_add("day", 1).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        active.join(churned, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.coalesce("n_retained", F.lit(0))
            .cast("long")
            .alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0))
            .cast("long")
            .alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )


# ---------------------------------------------------------------------------
# Audience overlap: user-set Jaccard between event types
# ---------------------------------------------------------------------------


@register(
    "behavior_audience_overlap",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           round(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 4)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
    tags=("BEHAV",),
)
def behavior_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, the
    exact Jaccard of their USER sets — the segmentation question
    ("are clickers and purchasers the same people?") answered with
    set arithmetic instead of eyeballing two DAU lines.  Near-1
    Jaccard between a cheap event and an expensive one makes the cheap
    one a valid proxy metric; near-0 says the audiences are disjoint
    and a shared funnel model is wrong.

    Plan shape is the scale story: the pair join runs on the DISTINCT
    (user, type) frame keyed by user_id, so each user contributes at
    most C(|types|, 2) rows — bounded by the type-vocabulary size,
    never by event volume — and the two size joins are broadcasts of a
    |types|-row aggregate.  The same frame drives the sketched twin
    (sketch_theta_intersection) when the type vocabulary itself
    explodes; here the exact form is the oracle-checkable baseline."""
    ut = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        inter.join(
            sizes.select(
                F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
            ),
            "type_a",
        )
        .join(
            sizes.select(
                F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                4,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion latency: click -> purchase lag distribution
# ---------------------------------------------------------------------------


@register(
    "behavior_conversion_latency",
    oracle="""
    WITH first_click AS (
      SELECT user_id, min(ts) AS t_click
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    first_purchase AS (
      SELECT c.user_id,
             min(e.ts) AS t_purchase, min(c.t_click) AS t_click
      FROM first_click c JOIN events e
        ON e.user_id = c.user_id
       AND e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY c.user_id
    ),
    lat AS (
      SELECT (epoch_us(CAST(t_purchase AS TIMESTAMP)) // 1000000
              - epoch_us(CAST(t_click AS TIMESTAMP)) // 1000000) // 3600
               AS hour_bucket
      FROM first_purchase
    )
    SELECT CAST(hour_bucket AS BIGINT) AS hour_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(count(*)) OVER (ORDER BY hour_bucket
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM lat GROUP BY hour_bucket
    """,
    tags=("BEHAV",),
)
def behavior_conversion_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Click-to-purchase conversion latency distribution: for every
    user, the lag from their FIRST click to their first purchase
    strictly after it, bucketed into hours — the curve that sets
    attribution windows and funnel timeouts from data instead of
    convention (if 95% of conversions land within N hours, an
    attribution window beyond N only adds noise).  Complements the
    funnel family: funnels count WHO converts, this measures WHEN.

    Exactness: latencies are epoch-second BIGINT differences with a
    long integer hour division; the histogram and its running total
    are pure counts.  Plan: two user-keyed aggregates share one
    shuffle, the purchase join is user-keyed (no time-range explosion
    — the min() collapses it), and the cumulative sum runs over the
    hour-bucket domain (bounded by the corpus time span, one task by
    construction)."""
    e = table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_purchase")
    )
    firsts = (
        purchases.join(clicks, "user_id")
        .filter(F.col("t_purchase") > F.col("t_click"))
        .groupBy("user_id")
        .agg(
            F.min("t_purchase").alias("t_purchase"),
            F.min("t_click").alias("t_click"),
        )
    )
    lat = firsts.select(
        F.expr(
            "(unix_timestamp(t_purchase) - unix_timestamp(t_click)) div 3600"
        ).alias("hour_bucket")
    )
    hist = lat.groupBy("hour_bucket").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    w = Window.orderBy("hour_bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        "hour_bucket",
        "n_users",
        F.sum("n_users").over(w).cast("long").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# CDC log compaction: last-write-wins with tombstones (Kafka semantics)
# ---------------------------------------------------------------------------


@register(
    "cdc_log_compaction",
    oracle="""
    WITH log AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_versions
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, cents AS last_value_cents,
           n_versions
    FROM log
    WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("CDC",),
)
def cdc_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction with tombstones — Kafka's compacted-topic
    contract applied to the event stream as a change log keyed by
    user_id: keep only each key's LATEST record ((ts, event_id)
    order), and drop the key entirely when its latest record is a
    tombstone ('error' plays the delete marker in this fixture
    corpus).  The third CDC primitive next to SCD2 history
    (cdc_scd2_user_state keeps every version with validity windows)
    and snapshot diff (cdc_snapshot_diff_monthly compares two points):
    compaction is the one that bounds storage by LIVE KEYS, which is
    why a changelog can be replayed into a table of any age.

    One window on one user_id exchange — rank DESC, keep rn=1, filter
    tombstones; n_versions reports how much log the compaction
    retired per key.  At 100 TB this is the textbook map-side-free
    single shuffle; no per-key arrays, heaviest-key-safe."""
    ev = table(spark, sf_dir, "events")
    wk = Window.partitionBy("user_id")
    wr = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    log = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wk).cast("long").alias("n_versions"),
    )
    return log.filter(
        (F.col("rn") == 1) & (F.col("event_type") != "error")
    ).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("cents").alias("last_value_cents"),
        "n_versions",
    )


# ---------------------------------------------------------------------------
# Repeat-purchase gap curve: inter-purchase interval distribution
# ---------------------------------------------------------------------------


@register(
    "behavior_repeat_purchase_gaps",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT CAST(date_diff('day', CAST(prev_ts AS TIMESTAMP),
                            CAST(ts AS TIMESTAMP)) AS BIGINT) AS gap_days
      FROM p WHERE prev_ts IS NOT NULL
    )
    SELECT gap_days, CAST(count(*) AS BIGINT) AS n_repeats
    FROM gaps GROUP BY gap_days
    """,
    tags=("BEHAV",),
)
def behavior_repeat_purchase_gaps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-purchase interval distribution: for every repeat purchase,
    the whole-day gap since the same user's previous purchase,
    histogrammed — the repeat-cycle curve that prices retention
    campaigns (its mode is the natural reorder cadence; the tail is
    the win-back window), and the purchase-side sibling of
    behavior_conversion_latency's click->purchase lag.

    Gap semantics: date_diff('day') counts CALENDAR-DAY boundaries
    (stated identically in both engines via timestamp day-diff, not
    seconds//86400 — the two disagree around midnight).  One lag()
    per user on one exchange, then a histogram groupBy whose
    cardinality is bounded by the calendar span."""
    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        p.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            F.datediff(F.to_date("ts"), F.to_date("prev_ts"))
            .cast("long")
            .alias("gap_days")
        )
    )
    return gaps.groupBy("gap_days").agg(
        F.count(F.lit(1)).alias("n_repeats")
    )


# ---------------------------------------------------------------------------
# Forecast backtest: naive vs SES one-step-ahead MAE per series
# ---------------------------------------------------------------------------

#: SES smoothing weight alpha = _SES_A / _SES_D (0.3).
_SES_A, _SES_D = 3, 10
_SES_S = 1 << 20  # fixed-point scale, same as the Holt family


@register(
    "ts_forecast_backtest_mae",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY CAST(ts AS DATE)) AS BIGINT)
               AS rn
      FROM events GROUP BY 1, 2
    ),
    ses(event_type, rn, n, lvl) AS (
      SELECT event_type, rn, n, n * {_SES_S}
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn, d.n,
             ({_SES_D - _SES_A} * s.lvl + {_SES_A} * d.n * {_SES_S})
               // {_SES_D}
      FROM ses s
      JOIN daily d ON d.event_type = s.event_type AND d.rn = s.rn + 1
    ),
    scored AS (
      SELECT s.event_type, s.rn, s.n,
             lag(s.n) OVER w AS prev_n,
             lag(s.lvl) OVER w AS prev_lvl
      FROM ses s
      WINDOW w AS (PARTITION BY s.event_type ORDER BY s.rn)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(abs(n - prev_n) * {_SES_S}) // count(*) AS BIGINT)
             AS mae_naive_fp,
           CAST(sum(abs(n * {_SES_S} - prev_lvl)) // count(*) AS BIGINT)
             AS mae_ses_fp,
           sum(abs(n * {_SES_S} - prev_lvl))
             < sum(abs(n - prev_n) * {_SES_S}) AS ses_wins
    FROM scored WHERE prev_n IS NOT NULL
    GROUP BY event_type
    """,
    tags=("TS", "ITER", "EVAL"),
)
def ts_forecast_backtest_mae(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-step-ahead forecast BACKTEST per event type: walk the daily
    series, at each day score yesterday's forecast against today's
    actual, and report the mean absolute error of (a) the naive
    carry-forward (forecast = yesterday's value — the no-skill
    baseline every forecaster must beat) and (b) simple exponential
    smoothing (alpha = 0.3, forecast = yesterday's level), plus which
    one won.  This is the eval harness the Holt/Holt-Winters family
    (ts_holt_smoothing_daily) plugs into before anyone trusts a
    forecast column — a model that cannot beat naive MAE has no
    business alerting.

    Exactness: the SES recursion is int64 fixed-point (scale 2^20,
    truncating division, all-positive operands so `//` and DIV agree),
    mirrored by an actual recursive CTE; both MAEs are exact integer
    sums divided once, and the winner flag compares the integer SUMS
    (not the divided means) so no rounding precedes the comparison.
    Scale shape: the fold runs per type over the |types x days| daily
    rollup via applyInPandas — the same honest minimal
    materialization as the Holt fold; everything else is one window
    and one aggregate on the summary frame."""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    schema = (
        "event_type string, n_scored long, mae_naive_fp long,"
        " mae_ses_fp long, ses_wins boolean"
    )

    def backtest(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        lvl = 0
        sum_naive = sum_ses = n_scored = 0
        prev_n = None
        for i, n in enumerate(pdf["n"]):
            n = int(n)
            if i == 0:
                lvl = n * _SES_S
            else:
                sum_naive += abs(n - prev_n) * _SES_S
                sum_ses += abs(n * _SES_S - lvl)
                n_scored += 1
                lvl = (
                    (_SES_D - _SES_A) * lvl + _SES_A * n * _SES_S
                ) // _SES_D
            prev_n = n
        if n_scored == 0:
            return pd.DataFrame(
                columns=[
                    "event_type", "n_scored", "mae_naive_fp",
                    "mae_ses_fp", "ses_wins",
                ]
            )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_scored": [n_scored],
                "mae_naive_fp": [sum_naive // n_scored],
                "mae_ses_fp": [sum_ses // n_scored],
                "ses_wins": [sum_ses < sum_naive],
            }
        )

    return daily.groupBy("event_type").applyInPandas(backtest, schema)
