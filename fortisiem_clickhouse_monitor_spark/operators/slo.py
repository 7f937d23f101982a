"""SLO / alert-engineering analytics over the events stream — the
monitoring-ops family's round-5 additions (reference purpose: chStats.py
is a health/capacity monitor; these are the alert-hygiene queries an SRE
runs on the same event feed).

Every operator works on the |types x days| or |types x minutes| SUMMARY
domain after one partial-aggregated rollup exchange of the fact table,
so the shapes hold at 100 TB: the fact is scanned once, everything
downstream is summary-sized.  All boundary arithmetic is exact integer
(doubled counts for .5-exact medians, centi-scaled ratios) so every
query is hash-checkable against its DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table

#: SLO: 99% of events non-error => error budget is 1%.
_SLO_BUDGET_PCT = 1
#: Multiwindow pair (Google SRE workbook shape): short window catches
#: fast burn, long window keeps the alert from flapping on blips.
_BURN_SHORT_H = 1
_BURN_LONG_H = 6


@register(
    "slo_burn_rate_multiwindow",
    oracle=f"""
    WITH bounds AS (SELECT max(ts) AS mx FROM events),
    win AS (
      SELECT CAST(sum(CASE WHEN e.ts > b.mx - INTERVAL {_BURN_SHORT_H} HOUR
                            AND e.event_type = 'error'
                           THEN 1 ELSE 0 END) AS BIGINT) AS short_errors,
             CAST(sum(CASE WHEN e.ts > b.mx - INTERVAL {_BURN_SHORT_H} HOUR
                           THEN 1 ELSE 0 END) AS BIGINT) AS short_total,
             CAST(sum(CASE WHEN e.ts > b.mx - INTERVAL {_BURN_LONG_H} HOUR
                            AND e.event_type = 'error'
                           THEN 1 ELSE 0 END) AS BIGINT) AS long_errors,
             CAST(sum(CASE WHEN e.ts > b.mx - INTERVAL {_BURN_LONG_H} HOUR
                           THEN 1 ELSE 0 END) AS BIGINT) AS long_total
      FROM events e CROSS JOIN bounds b
    )
    SELECT short_errors, short_total, long_errors, long_total,
           round(short_errors * 100.0 / short_total / {_SLO_BUDGET_PCT}, 4)
             AS short_burn,
           round(long_errors * 100.0 / long_total / {_SLO_BUDGET_PCT}, 4)
             AS long_burn,
           (short_errors * 100 > short_total * {_SLO_BUDGET_PCT}
            AND long_errors * 100 > long_total * {_SLO_BUDGET_PCT}) AS page
    FROM win
    """,
    tags=("MONITOR", "SLO"),
)
def slo_burn_rate_multiwindow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow error-budget burn rate (the Google SRE workbook
    alert shape): error fraction over a short ({_BURN_SHORT_H} h) and a
    long ({_BURN_LONG_H} h) window both ending at the stream's max ts,
    expressed as multiples of the {_SLO_BUDGET_PCT}% budget; ``page``
    is true only when BOTH windows burn faster than budget — the short
    window gives detection speed, the long one suppresses blip flapping.

    Scale shape: one scalar max(ts) (collapses to a single partial-agg
    exchange), then ONE conditional-aggregate pass over the fact —
    four sums in the same scan, no per-window re-reads.  The page
    decision is an integer cross-multiply (errors*100 > total*budget),
    so the boundary is exact; the displayed burn is one division of
    exact integers."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    e = ev.crossJoin(mx)
    in_short = F.col("ts") > F.col("mx") - F.expr(
        f"INTERVAL {_BURN_SHORT_H} HOUR"
    )
    in_long = F.col("ts") > F.col("mx") - F.expr(
        f"INTERVAL {_BURN_LONG_H} HOUR"
    )
    is_err = F.col("event_type") == "error"
    win = e.agg(
        F.sum(F.when(in_short & is_err, 1).otherwise(0))
        .cast("long")
        .alias("short_errors"),
        F.sum(F.when(in_short, 1).otherwise(0)).cast("long").alias(
            "short_total"
        ),
        F.sum(F.when(in_long & is_err, 1).otherwise(0))
        .cast("long")
        .alias("long_errors"),
        F.sum(F.when(in_long, 1).otherwise(0)).cast("long").alias(
            "long_total"
        ),
    )
    return win.select(
        "short_errors",
        "short_total",
        "long_errors",
        "long_total",
        F.round(
            F.col("short_errors")
            * 100.0
            / F.col("short_total")
            / _SLO_BUDGET_PCT,
            4,
        ).alias("short_burn"),
        F.round(
            F.col("long_errors")
            * 100.0
            / F.col("long_total")
            / _SLO_BUDGET_PCT,
            4,
        ).alias("long_burn"),
        (
            (F.col("short_errors") * 100 > F.col("short_total") * _SLO_BUDGET_PCT)
            & (F.col("long_errors") * 100 > F.col("long_total") * _SLO_BUDGET_PCT)
        ).alias("page"),
    )


@register(
    "changepoint_cusum_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    med AS (
      SELECT event_type,
             CAST(2 * median(n) AS BIGINT) AS med2
      FROM daily GROUP BY event_type
    ),
    pre AS (
      SELECT d.event_type, d.day, d.n, m.med2,
             sum(2 * d.n - m.med2) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS p2
      FROM daily d JOIN med m USING (event_type)
    )
    SELECT event_type, day, n,
           CAST(p2 - least(min(p2) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 0) AS BIGINT) AS cusum2,
           (p2 - least(min(p2) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 0)) >= 2 * med2 AS is_shift
    FROM pre
    """,
    tags=("MONITOR", "TS", "W"),
)
def changepoint_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM level-shift detector on daily volumes per event
    type — flags a SUSTAINED upward drift the single-day screens
    (MAD, z-score) are blind to, because each day's small excess
    accumulates instead of being judged alone.

    The recursion S_i = max(0, S_{i-1} + x_i - target) has the exact
    prefix-sum closed form S_i = P_i - min(0, min_{j<=i} P_j) with
    P_i = sum_{t<=i} (x_t - target) — so the 'iterative' detector is
    TWO stock window functions (running sum, running min) over the
    |types x days| summary, no recursion, no UDF, no extra exchange
    beyond the daily rollup; both engines compute it bit-identically
    in doubled-count integers (target = per-type median, a .0/.5
    value, kept exact as med2 = 2*median).  A shift is flagged when
    the accumulated excess reaches two median-days' worth of events
    (cusum2 >= 2*med2: h = 1 median-day in doubled units x 2)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(
        (2 * F.median("n")).cast("long").alias("med2")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = daily.join(med, "event_type").withColumn(
        "p2", F.sum(2 * F.col("n") - F.col("med2")).over(w)
    )
    cusum2 = F.col("p2") - F.least(F.min("p2").over(w), F.lit(0))
    return pre.select(
        "event_type",
        "day",
        "n",
        cusum2.cast("long").alias("cusum2"),
        (cusum2 >= 2 * F.col("med2")).alias("is_shift"),
    )


@register(
    "seasonal_dow_residuals",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    base AS (
      SELECT event_type, dayofweek(day) + 1 AS dow,
             CAST(2 * median(n) AS BIGINT) AS med2
      FROM daily GROUP BY event_type, dayofweek(day) + 1
    )
    SELECT d.event_type, d.day, d.n,
           CAST(b.med2 AS BIGINT) AS baseline2,
           CAST(2 * d.n - b.med2 AS BIGINT) AS residual2,
           abs(2 * d.n - b.med2) * 2 > b.med2 AS is_anomaly
    FROM daily d
    JOIN base b
      ON b.event_type = d.event_type AND b.dow = dayofweek(d.day) + 1
    """,
    tags=("MONITOR", "TS"),
)
def seasonal_dow_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive residual screen: each (type, day) volume is
    compared against the median for that type's DAY-OF-WEEK — the
    baseline that stops weekly rhythm (quiet Sundays, busy Mondays)
    from masquerading as anomalies in flat-baseline screens, the
    first seasonality every ops volume exhibits.  A day is anomalous
    when |n - baseline| exceeds half the baseline (integer
    cross-multiply in doubled units: |2n - med2| * 2 > med2).

    Scale shape: the daily rollup exchange, a |types x 7| exact-median
    baseline broadcast back, one map-side join — nothing beyond the
    summary domain ever shuffles.  Spark's dayofweek() is 1=Sunday..7;
    DuckDB's is 0=Sunday..6, so the oracle shifts by +1."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    base = daily.groupBy(
        "event_type", F.dayofweek("day").alias("dow")
    ).agg((2 * F.median("n")).cast("long").alias("med2"))
    resid2 = 2 * F.col("n") - F.col("med2")
    return (
        daily.withColumn("dow", F.dayofweek("day"))
        .join(base, ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "n",
            F.col("med2").cast("long").alias("baseline2"),
            resid2.cast("long").alias("residual2"),
            (F.abs(resid2) * 2 > F.col("med2")).alias("is_anomaly"),
        )
    )


@register(
    "availability_active_minutes",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('minute', min(ts)) AS mn,
             date_trunc('minute', max(ts)) AS mx
      FROM events
    ),
    span AS (
      SELECT CAST(date_diff('minute', mn, mx) + 1 AS BIGINT) AS span_minutes
      FROM bounds
    ),
    act AS (
      SELECT event_type,
             CAST(count(DISTINCT date_trunc('minute', ts)) AS BIGINT)
               AS active_minutes
      FROM events GROUP BY event_type
    )
    SELECT a.event_type, a.active_minutes, s.span_minutes,
           round(a.active_minutes * 100.0 / s.span_minutes, 4)
             AS active_pct
    FROM act a CROSS JOIN span s
    """,
    tags=("MONITOR", "SLO"),
)
def availability_active_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat availability: per event type, the share of minute
    buckets (over the feed's global [min, max] minute span) that saw at
    least one event — the 'was the pipeline alive' uptime number a
    silent-source alert thresholds on, complementary to volume screens
    (a source can keep volume while going silent for long stretches).

    Scale shape: count(DISTINCT minute) per type partial-aggregates
    into |types x minutes| summary cells map-side; the global span is
    a broadcast scalar; the final division is one exact-integer ratio.
    """
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("mn"),
        F.date_trunc("minute", F.max("ts")).alias("mx"),
    )
    span = bounds.select(
        (
            (
                F.unix_timestamp("mx") - F.unix_timestamp("mn")
            )
            / 60
            + 1
        )
        .cast("long")
        .alias("span_minutes")
    )
    act = ev.groupBy("event_type").agg(
        F.countDistinct(F.date_trunc("minute", "ts")).alias("active_minutes")
    )
    return act.crossJoin(span).select(
        "event_type",
        "active_minutes",
        "span_minutes",
        F.round(
            F.col("active_minutes") * 100.0 / F.col("span_minutes"), 4
        ).alias("active_pct"),
    )


# ---------------------------------------------------------------------------
# Reliability: MTTR / MTBF from error-event incidents
# ---------------------------------------------------------------------------

#: Error events closer than this (seconds) belong to one incident.
_INCIDENT_GAP_S = 300


@register(
    "reliability_mttr_mtbf",
    oracle=f"""
    WITH errs AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s
      FROM events WHERE event_type = 'error'
    ),
    marked AS (
      SELECT s, CASE WHEN s - lag(s) OVER (ORDER BY s) > {_INCIDENT_GAP_S}
                     OR lag(s) OVER (ORDER BY s) IS NULL
                THEN 1 ELSE 0 END AS new_inc
      FROM errs
    ),
    grouped AS (
      SELECT s, sum(new_inc) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS inc
      FROM marked
    ),
    incidents AS (
      SELECT inc, min(s) AS t0, max(s) AS t1,
             CAST(count(*) AS BIGINT) AS n_errors
      FROM grouped GROUP BY inc
    ),
    gaps AS (
      SELECT t0 - lag(t1) OVER (ORDER BY t0) AS gap_s FROM incidents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_incidents,
           CAST(sum(n_errors) AS BIGINT) AS n_error_events,
           CAST(sum(t1 - t0) AS BIGINT) AS total_repair_s,
           CAST(2 * sum(t1 - t0) // count(*) AS BIGINT) AS mttr2_s,
           CAST((SELECT 2 * coalesce(sum(gap_s), 0) FROM gaps)
                // greatest(count(*) - 1, 1) AS BIGINT) AS mtbf2_s
    FROM incidents
    """,
    tags=("SLO", "TS"),
)
def reliability_mttr_mtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTTR / MTBF from the error stream: error events within
    {_INCIDENT_GAP_S} s of each other merge into one INCIDENT
    (gaps-and-islands over the global error timeline), an incident's
    repair time is its first-to-last-error span, and time-between-
    failures is the quiet gap between consecutive incidents — the two
    numbers an on-call review opens with, and the natural companion
    to the reference's replication-failure monitoring
    (chStats.py:137-210 counts failures; a reliability review needs
    them STRUCTURED into incidents).

    Means are reported in the repo's doubled-integer convention
    (mttr2_s = 2*sum/count, exact BIGINT — divide by 2 to read) so no
    float touches the output.  The error stream is a filtered slice
    (predicate pushed to the scan); the global ordering window is on
    incidents' worth of rows, and at 100 TB the same query runs
    per-shard first (incidents never span shards in the reference's
    topology) with a bounded merge."""
    ev = table(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        (F.unix_micros("ts") / 1000000).cast("long").alias("s")
    )
    w = Window.orderBy("s")
    marked = errs.select(
        "s",
        F.when(
            (F.col("s") - F.lag("s").over(w) > _INCIDENT_GAP_S)
            | F.lag("s").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_inc"),
    )
    grouped = marked.select(
        "s",
        F.sum("new_inc")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("inc"),
    )
    incidents = grouped.groupBy("inc").agg(
        F.min("s").alias("t0"),
        F.max("s").alias("t1"),
        F.count(F.lit(1)).alias("n_errors"),
    )
    wi = Window.orderBy("t0")
    gaps = incidents.select(
        (F.col("t0") - F.lag("t1").over(wi)).alias("gap_s")
    )
    gsum = gaps.agg(
        F.coalesce(F.sum("gap_s"), F.lit(0)).cast("long").alias("gap_total")
    )
    agg = incidents.agg(
        F.count(F.lit(1)).alias("n_incidents"),
        F.sum("n_errors").cast("long").alias("n_error_events"),
        F.sum(F.col("t1") - F.col("t0")).cast("long").alias("total_repair_s"),
    )
    return agg.crossJoin(gsum).select(
        "n_incidents",
        "n_error_events",
        "total_repair_s",
        F.expr("2 * total_repair_s DIV n_incidents")
        .cast("long")
        .alias("mttr2_s"),
        F.expr("2 * gap_total DIV greatest(n_incidents - 1, 1)")
        .cast("long")
        .alias("mtbf2_s"),
    )


# ---------------------------------------------------------------------------
# Pettitt test: nonparametric single-changepoint location per series
# ---------------------------------------------------------------------------


@register(
    "changepoint_pettitt_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, a.day AS di, b.day AS dj,
             CAST(sign(a.n - b.n) AS BIGINT) AS s
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    bounds AS (
      SELECT event_type, day,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_days
      FROM daily
      QUALIFY day < max(day) OVER (PARTITION BY event_type)
    ),
    u AS (
      SELECT bd.event_type, bd.day, bd.n_days,
             CAST(sum(p.s) AS BIGINT) AS u_t
      FROM bounds bd JOIN pairs p
        ON p.event_type = bd.event_type
       AND p.di <= bd.day AND p.dj > bd.day
      GROUP BY bd.event_type, bd.day, bd.n_days
    ),
    best AS (
      SELECT event_type, day AS change_day, n_days, abs(u_t) AS k_stat,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(u_t) DESC, day) AS rn
      FROM u
    )
    SELECT event_type, change_day, n_days, k_stat,
           round(2 * exp(-6.0 * k_stat * k_stat
                         / (CAST(n_days AS DOUBLE) * n_days * n_days
                            + CAST(n_days AS DOUBLE) * n_days)), 4)
             AS p_approx
    FROM best WHERE rn = 1
    """,
    tags=("MONITOR", "TS", "STATS"),
)
def changepoint_pettitt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt test (1979): nonparametric single-changepoint LOCATION
    per event type — where CUSUM (changepoint_cusum_daily) flags THAT
    a sustained shift is underway, Pettitt answers WHERE the series
    most plausibly splits, via the rank statistic
    U_t = sum_{i<=t} sum_{j>t} sign(x_i - x_j): the split day
    maximizing |U_t|, with the standard significance approximation
    p ~ 2*exp(-6K^2/(n^3+n^2)).

    The statistic is quadratic in SERIES LENGTH, not in data volume:
    the fact table collapses to one |types x days| daily rollup first
    (the only scan and the only shuffle), and a calendar series is not
    a scale axis — at 100 TB, days x days per type is the same few
    hundred rows it is here (same bounded-frame discipline as the STL
    and periodogram family).  sign() on BIGINT daily counts keeps
    every U_t an exact integer in both engines; the only float is the
    final p-value expression, rounded at 4dp.  Argmax ties break to
    the earliest day, stated identically in both engines."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.select(
        "event_type", F.col("day").alias("di"), F.col("n").alias("na")
    )
    b = daily.select(
        "event_type", F.col("day").alias("dj"), F.col("n").alias("nb")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("di") < F.col("dj"))
        .select(
            "event_type",
            "di",
            "dj",
            F.signum(F.col("na") - F.col("nb")).cast("long").alias("s"),
        )
    )
    wt = Window.partitionBy("event_type")
    bounds = (
        daily.select(
            "event_type",
            "day",
            F.count(F.lit(1)).over(wt).cast("long").alias("n_days"),
            F.max("day").over(wt).alias("d_max"),
        )
        .filter(F.col("day") < F.col("d_max"))
        .drop("d_max")
    )
    u = (
        bounds.join(pairs, "event_type")
        .filter((F.col("di") <= F.col("day")) & (F.col("dj") > F.col("day")))
        .groupBy("event_type", "day", "n_days")
        .agg(F.sum("s").cast("long").alias("u_t"))
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("u_t")).desc(), "day"
    )
    best = u.select(
        "event_type",
        F.col("day").alias("change_day"),
        "n_days",
        F.abs(F.col("u_t")).alias("k_stat"),
        F.row_number().over(wr).alias("rn"),
    ).filter(F.col("rn") == 1)
    nd = F.col("n_days").cast("double")
    return best.select(
        "event_type",
        "change_day",
        "n_days",
        "k_stat",
        F.round(
            2
            * F.exp(
                -6.0
                * F.col("k_stat")
                * F.col("k_stat")
                / (nd * nd * nd + nd * nd)
            ),
            4,
        ).alias("p_approx"),
    )
