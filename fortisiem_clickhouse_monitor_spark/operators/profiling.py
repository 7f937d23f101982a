"""Data-quality operators: column profiling and referential-integrity
screening — the observability layer a 100 TB lakehouse runs before
anything downstream trusts a table (the Deequ/expectations capability
family, re-expressed as plain declarative Spark).

Scale shape: the profiler is ONE full-scan aggregate (every per-column
statistic is a partial-aggregatable function, so the whole profile is
a single map-side-combined exchange no matter how many columns), and
the FK screen is one broadcast anti-join per relationship against a
dim, plus one fact-keyed anti-join for the fact-fact edge — the same
join shapes the engine already guarantees never shuffle the fact twice.

Reference scope note: the reference (chStats.py) has no quality
tooling; these extend the engine per the brief's platform mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table

# ---------------------------------------------------------------------------
# Column profiler
# ---------------------------------------------------------------------------

#: (column, render-to-string expression) pairs for the documents table.
#: min/max are compared as strings for VARCHAR columns and rendered via
#: CAST for numerics so one output schema fits every column.
_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS col_name,
               count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_val,
               CAST(max({c}) AS VARCHAR) AS max_val
        FROM documents"""
        for c in _DOC_COLS
    ]
    return " UNION ALL ".join(parts)


@register("profile_documents_columns", oracle=_profile_oracle(), tags=("DQ",))
def profile_documents_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the documents table: row count, null count,
    exact distinct count, min and max (rendered as strings so one
    schema covers every column type) — the first screen run on any
    newly landed table.

    Plan: ONE aggregate over ONE scan computes all 5 columns' stats
    (count/count_distinct/min/max are all partial-aggregatable, so this
    is a single map-side-combined exchange), then a literal explode
    unpivots the stats row into one row per column — profiling cost is
    one pass regardless of column count, vs the naive per-column-scan
    loop which reads the table N_cols times."""
    d = table(spark, sf_dir, "documents")
    aggs = []
    for c in _DOC_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = d.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in _DOC_COLS
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Referential-integrity screen
# ---------------------------------------------------------------------------


@register(
    "quality_fk_orphans",
    oracle="""
    SELECT 'orders.custkey->customer' AS relationship,
           count(*) AS n_orphans
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.orderkey->orders', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem.partkey->part', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem.suppkey->supplier', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'customer.nationkey->nation', count(*)
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM nation n
                      WHERE n.n_nationkey = c.c_nationkey)
    """,
    tags=("DQ",),
)
def quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity screen over the star schema: orphan counts
    for every FK edge (fact->dim edges anti-join against BROADCAST
    dims — the fact scans once per edge and never shuffles; the one
    fact->fact edge, lineitem->orders, is the only shuffled anti-join).
    Zero rows of drift is a merge-gate precondition for the incremental
    rollup / SCD2 operators downstream."""

    def orphans(fact, fk, dim, pk, label):
        dimkeys = dim.select(pk)
        return (
            fact.join(dimkeys, fact[fk] == dimkeys[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("relationship"), "n_orphans")
        )

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        orphans(o, "o_custkey", table(spark, sf_dir, "customer"), "c_custkey",
                "orders.custkey->customer")
        .unionByName(
            orphans(li, "l_orderkey", o, "o_orderkey",
                    "lineitem.orderkey->orders"))
        .unionByName(
            orphans(li, "l_partkey", table(spark, sf_dir, "part"), "p_partkey",
                    "lineitem.partkey->part"))
        .unionByName(
            orphans(li, "l_suppkey", table(spark, sf_dir, "supplier"),
                    "s_suppkey", "lineitem.suppkey->supplier"))
        .unionByName(
            orphans(table(spark, sf_dir, "customer"), "c_nationkey",
                    table(spark, sf_dir, "nation"), "n_nationkey",
                    "customer.nationkey->nation"))
    )


# ---------------------------------------------------------------------------
# Embedding drift: per-dimension two-sample screen between batch halves
# ---------------------------------------------------------------------------

_DRIFT_GRID = 1_000_000  # q(x) = floor(x * grid): exact BIGINT moments


@register(
    "profile_embedding_drift",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id % 2 AS half, i AS dim,
             CAST(floor(embedding[i]::DOUBLE * {_DRIFT_GRID}) AS BIGINT) AS q
      FROM embeddings, range(1, 65) t(i)
    ),
    mom AS (
      SELECT dim, half, count(*) AS n,
             CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss
      FROM ex GROUP BY dim, half
    ),
    ab AS (
      SELECT a.dim,
             a.n AS n_a, b.n AS n_b, a.s AS s_a, b.s AS s_b,
             a.ss AS ss_a, b.ss AS ss_b
      FROM mom a JOIN mom b ON a.dim = b.dim
      WHERE a.half = 0 AND b.half = 1
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           round(s_a / (n_a * {_DRIFT_GRID}.0), 6) AS mean_a,
           round(s_b / (n_b * {_DRIFT_GRID}.0), 6) AS mean_b,
           round((s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE))
                 / sqrt((ss_a - s_a / CAST(n_a AS DOUBLE) * s_a)
                          / (n_a - 1) / n_a
                        + (ss_b - s_b / CAST(n_b AS DOUBLE) * s_b)
                          / (n_b - 1) / n_b), 4) AS z_score
    FROM ab
    """,
    tags=("DQ", "EMBED"),
)
def profile_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift screen (Welch two-sample z) between
    two halves of the corpus (vec_id parity stands in for
    batch-A/batch-B): a dimension whose mean shifts by many standard
    errors between ingestion batches means the upstream encoder changed
    — THE silent failure mode of long-running embedding pipelines,
    caught here before any ANN index built on mixed batches degrades.
    All moments (sum, sum-of-squares) accumulate over
    {_DRIFT_GRID}-grid BIGINTs, so the z-scores derive from EXACT
    integers and round identically in both engines — a float
    sum's order-dependence would make a 4-dp z nondeterministic.

    Scale shape: posexplode fans each vector to 64 (dim, q) rows that
    partial-aggregate map-side into 128 moment rows TOTAL — the only
    exchange carries 128 rows regardless of corpus size; the halves
    join is a 64-row broadcast self-join.  This is the profiler
    pattern (one full scan, mergeable moments) applied to the vector
    column."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _DRIFT_GRID).cast("long"),
            )
        ).alias("pos", "q"),
    ).select("half", (F.col("pos") + 1).alias("dim"), "q")
    mom = ex.groupBy("dim", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
    )
    a = mom.filter(F.col("half") == 0).select(
        "dim",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = mom.filter(F.col("half") == 1).select(
        "dim",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    ab = a.join(b, "dim")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    mean_a = F.col("s_a") / (F.col("n_a") * float(_DRIFT_GRID))
    mean_b = F.col("s_b") / (F.col("n_b") * float(_DRIFT_GRID))
    var_a = (F.col("ss_a") - F.col("s_a") / na * F.col("s_a")) / (
        F.col("n_a") - 1
    ) / F.col("n_a")
    var_b = (F.col("ss_b") - F.col("s_b") / nb * F.col("s_b")) / (
        F.col("n_b") - 1
    ) / F.col("n_b")
    z = (F.col("s_a") / na - F.col("s_b") / nb) / F.sqrt(var_a + var_b)
    return ab.select(
        F.col("dim").cast("int").alias("dim"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(z, 4).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Event-time sanity battery
# ---------------------------------------------------------------------------


@register(
    "quality_event_time_sanity",
    oracle="""
    WITH inv AS (
      SELECT CASE WHEN ts < lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY event_id)
                  THEN 1 ELSE 0 END AS x
      FROM events
    )
    SELECT 'null_ts' AS check_name,
           (SELECT CAST(count(*) - count(ts) AS BIGINT) FROM events)
             AS n_violations
    UNION ALL
    SELECT 'before_2000',
           (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE ts < TIMESTAMP '2000-01-01')
    UNION ALL
    SELECT 'after_2030',
           (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE ts >= TIMESTAMP '2030-01-01')
    UNION ALL
    SELECT 'id_time_inversions',
           (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) FROM inv)
    """,
    tags=("DQ", "TS"),
)
def quality_event_time_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp sanity battery for the event stream — the checks that
    catch a sick PRODUCER (epoch-zero defaults, far-future clock skew,
    NULL times, and event-id/event-time order inversions within a
    user, which reveal backfills or id-allocation races).  Each check
    reports a violation count; zero everywhere is the contract the
    downstream watermark/windowing operators silently assume, which
    is exactly why it deserves an explicit gate.

    Scale shape: three scan-aggregates fuse into one pass (Catalyst
    collapses the conditional counts), the inversion check is one lag
    over the user_id exchange — nothing leaves the summary domain."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("event_id")
    inv = ev.select(
        F.when(F.col("ts") < F.lag("ts").over(w), 1).otherwise(0).alias("x")
    ).agg(F.coalesce(F.sum("x"), F.lit(0)).cast("long").alias("n"))
    base = ev.agg(
        (F.count(F.lit(1)) - F.count("ts")).alias("null_ts"),
        F.sum(
            (F.col("ts") < F.lit("2000-01-01").cast("timestamp")).cast("long")
        ).alias("before_2000"),
        F.sum(
            (F.col("ts") >= F.lit("2030-01-01").cast("timestamp")).cast("long")
        ).alias("after_2030"),
    )
    checks = base.unpivot(
        [], ["null_ts", "before_2000", "after_2030"], "check_name", "n_violations"
    )
    return checks.unionByName(
        inv.select(
            F.lit("id_time_inversions").alias("check_name"),
            F.col("n").alias("n_violations"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution-drift screens: exact KS and chi-square between stream halves
# ---------------------------------------------------------------------------

#: Exact integer epoch seconds (both engines; ts is post-1970 so the
#: truncation semantics of unix_timestamp and epoch_us // 1e6 agree).
_DUCK_T = "epoch_us(CAST(ts AS TIMESTAMP)) // 1000000"

#: The split point: mn + (mx - mn) div 2, exact integer midpoint of the
#: stream's time range.  "early" is t <= mid.
_DUCK_MID = f"""
  SELECT min({_DUCK_T}) + (max({_DUCK_T}) - min({_DUCK_T})) // 2 AS mid
  FROM events
"""


def _halved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + broadcast scalar mid → (event_type, value, early)."""
    ev = table(spark, sf_dir, "events")
    t = F.unix_timestamp("ts")
    mid = ev.agg(
        (
            F.min(t) + F.expr("(max(unix_timestamp(ts)) - min(unix_timestamp(ts))) div 2")
        ).alias("mid")
    )
    return ev.crossJoin(mid).select(
        "event_type", "value", (t <= F.col("mid")).alias("early")
    )


@register(
    "drift_ks_event_values",
    oracle=f"""
    WITH mid AS ({_DUCK_MID}),
    halved AS (
      SELECT event_type, value, {_DUCK_T} <= m.mid AS early
      FROM events CROSS JOIN mid m
    ),
    cnt AS (
      SELECT event_type, value,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c_e,
             CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS c_l
      FROM halved GROUP BY event_type, value
    ),
    cum AS (
      SELECT event_type,
             CAST(sum(c_e) OVER (PARTITION BY event_type ORDER BY value
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k_e,
             CAST(sum(c_l) OVER (PARTITION BY event_type ORDER BY value
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k_l,
             CAST(sum(c_e) OVER (PARTITION BY event_type) AS BIGINT) AS n_e,
             CAST(sum(c_l) OVER (PARTITION BY event_type) AS BIGINT) AS n_l
      FROM cnt
    )
    SELECT event_type,
           CAST(max(n_e) AS BIGINT) AS n_early,
           CAST(max(n_l) AS BIGINT) AS n_late,
           round(max(abs(k_e / CAST(n_e AS DOUBLE)
                         - k_l / CAST(n_l AS DOUBLE))), 6) AS ks
    FROM cum GROUP BY event_type
    """,
    tags=("DQ", "DRIFT"),
)
def drift_ks_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the `value`
    distribution of the stream's first and second half (split at the
    exact integer midpoint of the time range), per event_type — the
    nonparametric "did this metric's distribution move" screen that
    needs no binning choices, run before retraining or after a
    producer deploy.

    D = max over pooled values of |ECDF_early − ECDF_late|, computed
    exactly: per-(type, value, half) counts, cumulated over the pooled
    sorted values.  The only non-integer steps are two divisions and a
    subtraction of exact integers — IEEE-exact and identical in both
    engines; max is order-insensitive, so the 6dp round is stable.

    Scale shape: ONE map-side-combined exchange to (type, value)
    counts (the cumulative window then runs on the distinct-value
    domain, not the fact), plus a scalar min/max broadcast.  At 100 TB
    the distinct domain per type is what matters; for a truly
    continuous column, quantize values first (same screen, bounded
    domain)."""
    cnt = (
        _halved(spark, sf_dir)
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("c_e"),
            F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("c_l"),
        )
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = cnt.select(
        "event_type",
        F.sum("c_e").over(w_cum).alias("k_e"),
        F.sum("c_l").over(w_cum).alias("k_l"),
        F.sum("c_e").over(w_all).alias("n_e"),
        F.sum("c_l").over(w_all).alias("n_l"),
    )
    d = F.abs(
        F.col("k_e") / F.col("n_e").cast("double")
        - F.col("k_l") / F.col("n_l").cast("double")
    )
    return cum.groupBy("event_type").agg(
        F.max("n_e").alias("n_early"),
        F.max("n_l").alias("n_late"),
        F.round(F.max(d), 6).alias("ks"),
    )


@register(
    "drift_chi2_type_mix",
    oracle=f"""
    WITH mid AS ({_DUCK_MID}),
    o AS (
      SELECT event_type,
             CAST(sum(CASE WHEN {_DUCK_T} <= m.mid THEN 1 ELSE 0 END)
                  AS BIGINT) AS o_early,
             CAST(sum(CASE WHEN {_DUCK_T} <= m.mid THEN 0 ELSE 1 END)
                  AS BIGINT) AS o_late
      FROM events CROSS JOIN mid m GROUP BY event_type
    ),
    t AS (
      SELECT event_type, o_early, o_late,
             CAST(sum(o_early) OVER () AS BIGINT) AS n_e,
             CAST(sum(o_late) OVER () AS BIGINT) AS n_l
      FROM o
    ),
    e AS (
      SELECT event_type, o_early, o_late,
             CAST(o_early + o_late AS DOUBLE) * n_e / (n_e + n_l) AS e_early,
             CAST(o_early + o_late AS DOUBLE) * n_l / (n_e + n_l) AS e_late
      FROM t
    ),
    c AS (
      SELECT event_type, o_early, o_late, e_early,
             CAST(floor(((o_early - e_early) * (o_early - e_early) / e_early
                         + (o_late - e_late) * (o_late - e_late) / e_late)
                        * 1000000) AS BIGINT) AS contrib_micro
      FROM e
    )
    SELECT event_type, o_early, o_late,
           round(e_early, 4) AS exp_early,
           contrib_micro,
           CAST(sum(contrib_micro) OVER () AS BIGINT) AS chi2_micro
    FROM c
    """,
    tags=("DQ", "DRIFT"),
)
def drift_chi2_type_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square homogeneity test of the event-type MIX
    between the stream's first and second half: did the composition of
    traffic shift, not just its volume?  Output is one row per type
    with observed counts, the expected early count under homogeneity,
    the type's chi-square contribution, and the total statistic
    repeated on every row (window sum — the k-1 dof threshold lookup
    is the caller's).

    Determinism discipline: expected counts and per-cell terms are
    computed in ONE fixed expression shape over exact integers — only
    exactly-rounded IEEE ops (× ÷ − per cell), no transcendentals —
    then floor-scaled to BIGINT micro-units per ROW before the
    cross-row sum, so the total is an exact integer sum and the hash
    never wobbles on accumulation order.

    Scale shape: one conditional-aggregate pass over the fact (same
    scan computes both halves), everything after is |types| rows."""
    ev = table(spark, sf_dir, "events")
    t = F.unix_timestamp("ts")
    mid = ev.agg(
        (
            F.min(t) + F.expr("(max(unix_timestamp(ts)) - min(unix_timestamp(ts))) div 2")
        ).alias("mid")
    )
    o = (
        ev.crossJoin(mid)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(t <= F.col("mid"), 1).otherwise(0)).alias("o_early"),
            F.sum(F.when(t <= F.col("mid"), 0).otherwise(1)).alias("o_late"),
        )
    )
    w_all = Window.partitionBy()
    tt = o.select(
        "*",
        F.sum("o_early").over(w_all).alias("n_e"),
        F.sum("o_late").over(w_all).alias("n_l"),
    )
    n = F.col("n_e") + F.col("n_l")
    e_early = (F.col("o_early") + F.col("o_late")).cast("double") * F.col(
        "n_e"
    ) / n
    e_late = (F.col("o_early") + F.col("o_late")).cast("double") * F.col(
        "n_l"
    ) / n
    ee = tt.select(
        "event_type",
        "o_early",
        "o_late",
        e_early.alias("e_early"),
        e_late.alias("e_late"),
    )
    term = (F.col("o_early") - F.col("e_early")) * (
        F.col("o_early") - F.col("e_early")
    ) / F.col("e_early") + (F.col("o_late") - F.col("e_late")) * (
        F.col("o_late") - F.col("e_late")
    ) / F.col("e_late")
    c = ee.select(
        "event_type",
        "o_early",
        "o_late",
        "e_early",
        F.floor(term * 1000000).cast("long").alias("contrib_micro"),
    )
    return c.select(
        "event_type",
        "o_early",
        "o_late",
        F.round("e_early", 4).alias("exp_early"),
        "contrib_micro",
        F.sum("contrib_micro").over(w_all).alias("chi2_micro"),
    )


# ---------------------------------------------------------------------------
# Layout advisor: per-column NDV profile -> partition/bucket advice
# ---------------------------------------------------------------------------

_ADV_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

#: NDV at or below this -> viable directory-partitioning key (the
#: classic small-file bound: one directory per value).
_ADV_PART_MAX_NDV = 64

#: NDV/rows at or above this -> key is id-like: bucket/sort on it for
#: co-located joins, never directory-partition.
_ADV_ID_FRAC = 0.95


def _advice_case_sql(ndv: str, frac: str) -> str:
    return f"""CASE WHEN {ndv} <= 1 THEN 'constant_drop'
         WHEN {ndv} <= {_ADV_PART_MAX_NDV} THEN 'partition_by'
         WHEN {frac} >= {_ADV_ID_FRAC} THEN 'bucket_by_id'
         ELSE 'sort_or_zorder' END"""


@register(
    "profile_partition_advisor",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               round(count(DISTINCT {c})
                     / CAST(count(*) AS DOUBLE), 6) AS ndv_frac,
               {_advice_case_sql(f'count(DISTINCT {c})',
                                 f'count(DISTINCT {c}) / CAST(count(*) AS DOUBLE)')}
                 AS advice
        FROM orders"""
        for c in _ADV_COLS
    ),
    tags=("DQ",),
)
def profile_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout advisor for the orders table: per-column exact
    NDV and null counts folded into a layout recommendation —
    ``partition_by`` for low-cardinality columns (bounded directory
    count), ``bucket_by_id`` for id-like columns (NDV ~ row count:
    bucket/sort for co-located joins; directory-partitioning them is
    the classic small-files catastrophe), ``sort_or_zorder`` for the
    middle, ``constant_drop`` for constants.  This is the query an
    engine runs to pick ITS OWN table layout — the decision this repo's
    scale notes otherwise make by hand.

    Plan: identical single-pass shape to profile_documents_columns
    (profiling.py:64) — one aggregate over one scan (every statistic
    partial-aggregatable), literal-array explode to one row per column.
    At 100 TB the exact countDistinct becomes approx_count_distinct
    (sketch_* family) — thresholds this coarse don't need exactness;
    exact here for the oracle contract."""
    o = table(spark, sf_dir, "orders")
    aggs = []
    for c in _ADV_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
        ]
    one = o.agg(*aggs)

    def advice(ndv, frac):
        return (
            F.when(ndv <= 1, F.lit("constant_drop"))
            .when(ndv <= _ADV_PART_MAX_NDV, F.lit("partition_by"))
            .when(frac >= _ADV_ID_FRAC, F.lit("bucket_by_id"))
            .otherwise(F.lit("sort_or_zorder"))
        )

    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__ndv").alias("ndv"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.round(
                    F.col(f"{c}__ndv")
                    / F.col(f"{c}__rows").cast("double"),
                    6,
                ).alias("ndv_frac"),
                advice(
                    F.col(f"{c}__ndv"),
                    F.col(f"{c}__ndv") / F.col(f"{c}__rows").cast("double"),
                ).alias("advice"),
            )
            for c in _ADV_COLS
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Join-key skew profiler: the other half of layout advice
# ---------------------------------------------------------------------------

#: (report label, table, key column) triples profiled for skew.
_SKEW_KEYS = (
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
)

#: A key value is "hot" when its row count exceeds this multiple of the
#: mean rows-per-key (the classic straggler threshold).
_SKEW_HOT_X = 10


@register(
    "profile_join_key_skew",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{label}' AS key_name, n_rows, n_keys, max_cnt,
               round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_cnt,
               round(CAST(max_cnt * n_keys AS DOUBLE) / n_rows, 6)
                 AS skew_ratio,
               (SELECT CAST(count(*) AS BIGINT)
                FROM (SELECT count(*) AS cnt FROM {tbl} GROUP BY {col}) h
                WHERE h.cnt * s.n_keys > {_SKEW_HOT_X} * s.n_rows)
                 AS n_hot_keys
        FROM (
          SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(cnt) AS BIGINT) AS max_cnt
          FROM (SELECT count(*) AS cnt FROM {tbl} GROUP BY {col})
        ) s"""
        for label, tbl, col in _SKEW_KEYS
    ),
    tags=("DQ",),
)
def profile_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report for the three heaviest join keys: rows,
    distinct keys, the heaviest key's row count, the mean, the skew
    ratio (max/mean — 1.0 = perfectly uniform), and how many keys run
    hotter than {_SKEW_HOT_X}x the mean.  This is the diagnostic that
    decides between a plain shuffle join, AQE skew-join splitting, and
    explicit salting (skew_salted_user_events is the cure; this query
    is the diagnosis) — the partition advisor's NDV view says what to
    partition BY, this says what will straggle.

    Exactness: the hot-key predicate is the integer cross-multiplication
    ``cnt * n_keys > {_SKEW_HOT_X} * n_rows`` (no float threshold), and
    the two ratios are single divisions of exact BIGINTs rounded to
    6 dp — hash-identical across engines.

    Scale shape: per key, one map-side-combined count aggregate (the
    same shuffle a join on that key would do, which is the point), one
    1-row rollup, one broadcast-back to count hot keys.  Nothing
    retains per-key rows beyond the aggregate."""
    outs = []
    for label, tbl, col in _SKEW_KEYS:
        counts = (
            table(spark, sf_dir, tbl)
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        stats = counts.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_cnt"),
        )
        hot = (
            counts.crossJoin(stats)
            .filter(
                F.col("cnt") * F.col("n_keys")
                > _SKEW_HOT_X * F.col("n_rows")
            )
            .agg(F.count(F.lit(1)).alias("n_hot_keys"))
        )
        outs.append(
            stats.crossJoin(hot).select(
                F.lit(label).alias("key_name"),
                "n_rows",
                "n_keys",
                "max_cnt",
                F.round(
                    F.col("n_rows").cast("double") / F.col("n_keys"), 6
                ).alias("avg_cnt"),
                F.round(
                    (F.col("max_cnt") * F.col("n_keys")).cast("double")
                    / F.col("n_rows"),
                    6,
                ).alias("skew_ratio"),
                "n_hot_keys",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Partition content checksums: reconciliation fingerprints
# ---------------------------------------------------------------------------


@register(
    "quality_partition_checksums",
    oracle="""
    SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(md5(concat_ws('|',
                  CAST(o_orderkey AS VARCHAR),
                  CAST(o_custkey AS VARCHAR),
                  o_orderstatus,
                  CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                  CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
                       AS VARCHAR),
                  o_orderpriority)), 1, 8))::BIGINT) AS BIGINT)
             AS content_sum
    FROM orders GROUP BY 1
    """,
    tags=("DQ", "CDC"),
)
def quality_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum per month partition of the
    orders table: row count + the SUM of a 32-bit md5-derived
    fingerprint of each row's canonical rendering.  Two builds of the
    same partition match iff these agree — the cheap reconciliation
    primitive behind cdc_snapshot_diff_monthly (checksums say WHICH
    partitions diverged; the diff says how), and what an incremental
    rebuild checks before skipping a partition.

    Canonical rendering discipline: every numeric feeds the hash as an
    exact integer (centi-units for money, epoch days for dates) joined
    with '|' — float formatting never touches the hash, so Spark and
    DuckDB fingerprint identically.  SUM of 32-bit values is
    order-insensitive but duplicate-sensitive (unlike XOR, where two
    identical rows cancel); int64 holds ~2^31 rows per partition before
    overflow, beyond which production widens to two lanes.

    Plan: pure map + one map-side-combined aggregate keyed by month —
    the cheapest possible full-table pass, embarrassingly scalable."""
    o = table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
        (F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .cast("string"),
        F.col("o_orderpriority"),
    )
    fp = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return (
        o.groupBy(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(fp).alias("content_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering keys: the layout the advisor recommends
# ---------------------------------------------------------------------------

_Z_BITS = 8  # bits per dimension -> 16-bit morton key


def _duck_morton(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def _spark_morton(x, y):
    out = F.lit(0)
    for i in range(_Z_BITS):
        out = out + F.shiftleft(
            F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        out = out + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i
        )
    return out


@register(
    "layout_zorder_locality",
    oracle=f"""
    WITH k AS (
      SELECT CAST(o_custkey % 256 AS BIGINT) AS xb,
             CAST((epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
                  % 256 AS BIGINT) AS yb
      FROM orders
    ),
    m AS (
      SELECT xb, yb, CAST({_duck_morton('xb', 'yb')} AS BIGINT) AS morton
      FROM k
    )
    SELECT morton // 256 AS z_block,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT xb) AS BIGINT) AS n_custkey_buckets,
           CAST(count(DISTINCT yb) AS BIGINT) AS n_day_buckets
    FROM m GROUP BY 1
    """,
    tags=("DQ", "LAYOUT"),
)
def layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys for the orders table and the locality
    they buy: interleave the bits of the (custkey mod 256, epoch-day
    mod 256) buckets into a 16-bit Morton key, then report — per
    256-key Z-block, i.e. per would-be file after a sort-by-morton
    write — how many distinct custkey and day buckets the block spans.
    By the Z-curve's construction every 256-key block covers AT MOST a
    16x16 bucket rectangle (the planted test pins this), which is why
    min/max zone maps prune Z-sorted files on EITHER column — the
    mechanics behind the partition advisor's ``sort_or_zorder`` advice
    (profile_partition_advisor), demonstrated rather than asserted.

    Pure bit arithmetic in whole-stage codegen (an unrolled
    shift/mask/add per bit — no UDF), one aggregate keyed by the
    256-value block id: map-side combined, embarrassingly scalable;
    writing the layout is then just ``sort_or_zorder`` =
    ``df.repartitionByRange(morton).sortWithinPartitions(morton)``."""
    o = table(spark, sf_dir, "orders")
    k = o.select(
        (F.col("o_custkey") % 256).alias("xb"),
        ((F.unix_timestamp("o_orderdate") / 86400).cast("long") % 256).alias(
            "yb"
        ),
    )
    m = k.select(
        "xb", "yb", _spark_morton(F.col("xb"), F.col("yb")).alias("morton")
    )
    return (
        m.groupBy(F.expr("morton div 256").alias("z_block"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("xb").alias("n_custkey_buckets"),
            F.countDistinct("yb").alias("n_day_buckets"),
        )
    )


# ---------------------------------------------------------------------------
# Benford's-law screen on monetary leading digits
# ---------------------------------------------------------------------------

#: floor(log10(1 + 1/d) * 1e6) precomputed in Python and inlined as
#: INTEGER LITERALS in both engines — neither engine's libm is in the
#: hash path.
_BENFORD_MICRO = {
    d: int(__import__("math").log10(1 + 1 / d) * 1_000_000)
    for d in range(1, 10)
}

_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {m}" for d, m in _BENFORD_MICRO.items())
    + " END"
)


@register(
    "quality_benford_screen",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT c.digit, c.n,
           CAST(c.n * 1000000 // t.total AS BIGINT) AS obs_micro,
           CAST({_BENFORD_CASE} AS BIGINT) AS exp_micro,
           CAST(c.n * 1000000 // t.total - ({_BENFORD_CASE}) AS BIGINT)
             AS dev_micro
    FROM counts c CROSS JOIN tot t
    """,
    tags=("DQ", "MONITOR"),
)
def quality_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen on order amounts: observed vs
    expected leading-digit frequency (parts-per-million) and the
    deviation — the classic fraud / synthetic-data / unit-mixup tripwire
    for monetary columns (organic amounts follow log10(1+1/d); uniform
    or fabricated ones don't — the synthetic fixture's uniform prices
    show exactly that signature, which is the point of the screen).

    Exactness: digits come from the CENTS BIGINT's decimal rendering
    (never float formatting); expected values are Python-precomputed
    integer ppm literals inlined into both engines, so no libm call is
    in the hash path; observed ppm is one integer division.

    Scale shape: a 9-row count aggregate off one scan plus a 1-row
    total — nothing else."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    exp = F.lit(None).cast("long")
    for d, m in _BENFORD_MICRO.items():
        exp = F.when(F.col("digit") == d, F.lit(m)).otherwise(exp)
    obs = F.expr("CAST(n * 1000000 div total AS BIGINT)")
    return counts.crossJoin(tot).select(
        "digit",
        "n",
        obs.alias("obs_micro"),
        exp.alias("exp_micro"),
        (obs - exp).cast("long").alias("dev_micro"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation from bucketed histograms (planner math)
# ---------------------------------------------------------------------------

_JCE_BUCKETS = 1024


@register(
    "profile_join_cardinality_bound",
    oracle=f"""
    WITH ha AS (
      SELECT o_orderkey % {_JCE_BUCKETS} AS bucket,
             CAST(count(*) AS BIGINT) AS ca
      FROM orders GROUP BY 1
    ),
    hb AS (
      SELECT l_orderkey % {_JCE_BUCKETS} AS bucket,
             CAST(count(*) AS BIGINT) AS cb
      FROM lineitem GROUP BY 1
    ),
    est AS (
      SELECT CAST(sum(ca * cb) AS BIGINT) AS est_upper
      FROM ha JOIN hb USING (bucket)
    ),
    ka AS (
      SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
      FROM orders GROUP BY 1
    ),
    kb AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
      FROM lineitem GROUP BY 1
    ),
    act AS (
      SELECT CAST(sum(ca * cb) AS BIGINT) AS actual
      FROM ka JOIN kb USING (k)
    )
    SELECT {_JCE_BUCKETS} AS n_buckets, est.est_upper, act.actual,
           CAST(est.est_upper * 1000000 // act.actual AS BIGINT)
             AS overestimate_micro
    FROM est CROSS JOIN act
    """,
    tags=("DQ", "LAYOUT"),
)
def profile_join_cardinality_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-cardinality estimation the way a cost-based planner does
    it: the orders x lineitem equi-join size UPPER-BOUNDED from two
    {_JCE_BUCKETS}-bucket key histograms (sum over buckets of
    count_a * count_b — collisions only ever ADD, so it is a sound
    upper bound), compared against the EXACT output size computed from
    the per-key count tables (sum over matching keys of ca * cb — the
    join's size without running the join).  The overestimate ratio is
    the planner-error diagnostic: near 1e6 ppm means bucket histograms
    suffice for this key; orders of magnitude higher means the key
    needs a bigger histogram or a distinct-count sketch before its
    join is planned.

    Everything is aggregate arithmetic: two bucket histograms (tiny),
    two per-key count tables (the same aggregates a shuffle join would
    build), zero fact-x-fact row products materialized."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ha = o.groupBy((F.col("o_orderkey") % _JCE_BUCKETS).alias("bucket")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    hb = li.groupBy((F.col("l_orderkey") % _JCE_BUCKETS).alias("bucket")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    est = ha.join(hb, "bucket").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("est_upper")
    )
    ka = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    kb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    act = ka.join(kb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("actual")
    )
    return est.crossJoin(act).select(
        F.lit(_JCE_BUCKETS).alias("n_buckets"),
        "est_upper",
        "actual",
        F.expr("CAST(est_upper * 1000000 div actual AS BIGINT)").alias(
            "overestimate_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Privacy screens: k-anonymity / l-diversity over quasi-identifier groups
# ---------------------------------------------------------------------------

_KANON_K = 5   # group smaller than this re-identifies its members
_LDIV_L = 3    # fewer distinct sensitive values than this leaks them


@register(
    "privacy_k_anonymity_screen",
    oracle=f"""
    WITH grp AS (
      SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(count(DISTINCT CAST(floor(c_acctbal / 1000)
                                      AS BIGINT)) AS BIGINT)
               AS n_balance_bands
      FROM customer
      GROUP BY 1, 2
    )
    SELECT nationkey, mktsegment, n_members, n_balance_bands,
           n_members < {_KANON_K} AS violates_k,
           n_balance_bands < {_LDIV_L} AS violates_l
    FROM grp
    """,
    tags=("DQ", "PRIVACY"),
)
def privacy_k_anonymity_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Privacy screen before a customer-derived dataset ships into a
    training corpus: every quasi-identifier group (nation, market
    segment) that is either smaller than k={_KANON_K} members
    (k-anonymity: the combination re-identifies its members) or
    carries fewer than l={_LDIV_L} distinct sensitive-value bands
    (l-diversity on the account-balance thousand-band: even an
    anonymous group leaks the attribute when everyone shares it).
    Every group is reported WITH its two flags — release passes when
    no flag is true — so the check is non-vacuous at every scale
    factor regardless of whether violations exist (the r4/r5
    0-rows-vs-0-rows lesson).

    Plan: ONE aggregation over the dimension (count + count distinct
    per group) — the screen is a rollup, not a join; at 100 TB the
    quasi-identifier cardinality (|nations| x |segments|) bounds the
    result regardless of row count, and the distinct-count partials
    combine map-side."""
    c = table(spark, sf_dir, "customer")
    grp = c.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).alias("n_balance_bands"),
    )
    return grp.select(
        "nationkey",
        "mktsegment",
        "n_members",
        "n_balance_bands",
        (F.col("n_members") < _KANON_K).alias("violates_k"),
        (F.col("n_balance_bands") < _LDIV_L).alias("violates_l"),
    )


# ---------------------------------------------------------------------------
# File-compaction plan: greedy prefix-sum packing of docs into targets
# ---------------------------------------------------------------------------

_COMPACT_TARGET_CHARS = 2_000  # target output-file payload (fixture-sized;
# a production compactor sets ~128 MB — the plan is the same window)


@register(
    "layout_compaction_plan",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS run_chars
      FROM documents
    ),
    assigned AS (
      SELECT source, doc_id, n_chars,
             (run_chars - 1) // {_COMPACT_TARGET_CHARS} AS file_idx
      FROM sized
    )
    SELECT source, CAST(file_idx AS BIGINT) AS file_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM assigned
    GROUP BY source, file_idx
    """,
    tags=("LAYOUT",),
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: pack each source's documents (in
    doc_id order) into output files of ~{_COMPACT_TARGET_CHARS} chars
    by bucketing the running payload prefix-sum — the plan a
    lakehouse OPTIMIZE/compaction job executes, and the companion to
    profile_partition_advisor (that query picks the partition COLUMN;
    this one sizes the FILES within each partition).  Deterministic
    greedy: file_idx = (prefix_sum - 1) DIV target, so a document
    always lands in the file its running total crosses into —
    identical plans on every engine/run, no bin-packing heuristic
    drift.

    Plan: one window (prefix sum per source — the same exchange the
    sort-for-locality write would need anyway) + one rollup per
    (source, file).  An oversized single document still gets its own
    file (never split), matching compactor behavior."""
    d = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sized = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars").over(w).alias("run_chars"),
    )
    assigned = sized.select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(f"(run_chars - 1) DIV {_COMPACT_TARGET_CHARS}").alias(
            "file_idx"
        ),
    )
    return assigned.groupBy("source", "file_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Zone-map prune eval: sorted vs unsorted column pruning, quantified
# ---------------------------------------------------------------------------

_ZONE_PROBES = 10
#: File payload for the prune eval — smaller than the compaction
#: target so fixture-scale sources still split into several files per
#: source (one file per source would give zone maps nothing to prune).
_ZONE_FILE_CHARS = 1_500


@register(
    "layout_zone_map_prune_eval",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS run_chars
      FROM documents
    ),
    files AS (
      SELECT source, (run_chars - 1) // {_ZONE_FILE_CHARS} AS file_idx,
             min(doc_id) AS min_id, max(doc_id) AS max_id,
             min(n_chars) AS min_chars, max(n_chars) AS max_chars
      FROM sized GROUP BY 1, 2
    ),
    dom AS (
      SELECT min(doc_id) AS lo_id, max(doc_id) AS hi_id,
             min(n_chars) AS lo_ch, max(n_chars) AS hi_ch
      FROM documents
    ),
    probes AS (
      SELECT t.i AS probe_id,
             d.lo_id + t.i * (d.hi_id - d.lo_id + 1) // {_ZONE_PROBES}
               AS id_lo,
             d.lo_id + (t.i + 1) * (d.hi_id - d.lo_id + 1) // {_ZONE_PROBES}
               - 1 AS id_hi,
             d.lo_ch + t.i * (d.hi_ch - d.lo_ch + 1) // {_ZONE_PROBES}
               AS ch_lo,
             d.lo_ch + (t.i + 1) * (d.hi_ch - d.lo_ch + 1) // {_ZONE_PROBES}
               - 1 AS ch_hi
      FROM range({_ZONE_PROBES}) t(i), dom d
    )
    SELECT CAST(p.probe_id AS BIGINT) AS probe_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(count(*) FILTER (f.min_id <= p.id_hi
                                 AND f.max_id >= p.id_lo) AS BIGINT)
             AS files_hit_by_id,
           CAST(count(*) FILTER (f.min_chars <= p.ch_hi
                                 AND f.max_chars >= p.ch_lo) AS BIGINT)
             AS files_hit_by_chars
    FROM probes p, files f
    GROUP BY p.probe_id
    """,
    tags=("LAYOUT", "EVAL"),
)
def layout_zone_map_prune_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zone-map pruning A/B over the compaction plan's files: for ten
    equal-width probe ranges, how many files a scan must touch when
    filtering on the SORT column (doc_id — files are packed in doc_id
    order, so ranges are disjoint and ~90% prune) versus an UNSORTED
    column (n_chars — every file spans most of the domain, so zone
    maps prune almost nothing).  This is the measured version of the
    advice profile_partition_advisor gives ("sort_or_zorder"): the
    same min/max file statistics, evaluated against real predicates
    before anyone rewrites a 100 TB table.

    The file-stat frame is plan-sized (|sources| x |files|) and the
    probe frame is {_ZONE_PROBES} rows — the eval join is a broadcast
    nested-loop over metadata, never over data; at any scale this
    query costs one documents scan (to build the stats) plus
    aggregate-sized arithmetic."""
    d = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    files = (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.sum("n_chars").over(w).alias("run_chars"),
        )
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.expr(f"(run_chars - 1) DIV {_ZONE_FILE_CHARS}").alias(
                "file_idx"
            ),
        )
        .groupBy("source", "file_idx")
        .agg(
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )
    dom = d.agg(
        F.min("doc_id").alias("lo_id"),
        F.max("doc_id").alias("hi_id"),
        F.min("n_chars").alias("lo_ch"),
        F.max("n_chars").alias("hi_ch"),
    )
    probes = (
        spark.range(_ZONE_PROBES)
        .withColumnRenamed("id", "probe_id")
        .crossJoin(dom)
        .select(
            "probe_id",
            F.expr(
                f"lo_id + probe_id * (hi_id - lo_id + 1) DIV {_ZONE_PROBES}"
            ).alias("id_lo"),
            F.expr(
                f"lo_id + (probe_id + 1) * (hi_id - lo_id + 1)"
                f" DIV {_ZONE_PROBES} - 1"
            ).alias("id_hi"),
            F.expr(
                f"lo_ch + probe_id * (hi_ch - lo_ch + 1) DIV {_ZONE_PROBES}"
            ).alias("ch_lo"),
            F.expr(
                f"lo_ch + (probe_id + 1) * (hi_ch - lo_ch + 1)"
                f" DIV {_ZONE_PROBES} - 1"
            ).alias("ch_hi"),
        )
    )
    hit_id = (F.col("min_id") <= F.col("id_hi")) & (
        F.col("max_id") >= F.col("id_lo")
    )
    hit_ch = (F.col("min_chars") <= F.col("ch_hi")) & (
        F.col("max_chars") >= F.col("ch_lo")
    )
    return (
        files.crossJoin(probes)
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.count(F.when(hit_id, F.lit(1))).alias("files_hit_by_id"),
            F.count(F.when(hit_ch, F.lit(1))).alias("files_hit_by_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Population Stability Index: binned drift contributions per event type
# ---------------------------------------------------------------------------

_PSI_BINS = 10


@register(
    "drift_psi_value_bins",
    oracle=f"""
    WITH mid AS ({_DUCK_MID}),
    rng AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    binned AS (
      SELECT event_type,
             least(CAST(floor((value - r.lo) * {_PSI_BINS}
                              / (r.hi - r.lo)) AS BIGINT),
                   {_PSI_BINS - 1}) AS bin,
             {_DUCK_T} <= m.mid AS early
      FROM events CROSS JOIN mid m CROSS JOIN rng r
    ),
    cnt AS (
      SELECT event_type, bin,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c_e,
             CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS c_l
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, bin, c_e, c_l,
             CAST(sum(c_e) OVER (PARTITION BY event_type) AS BIGINT) AS n_e,
             CAST(sum(c_l) OVER (PARTITION BY event_type) AS BIGINT) AS n_l
      FROM cnt
    )
    SELECT event_type, bin, c_e AS n_early, c_l AS n_late,
           round(
             (CAST(c_e + 1 AS DOUBLE) / (n_e + {_PSI_BINS})
              - CAST(c_l + 1 AS DOUBLE) / (n_l + {_PSI_BINS}))
             * ln((CAST(c_e + 1 AS DOUBLE) / (n_e + {_PSI_BINS}))
                  / (CAST(c_l + 1 AS DOUBLE) / (n_l + {_PSI_BINS}))), 6)
             AS psi_contrib
    FROM tot
    """,
    tags=("DQ", "DRIFT"),
)
def drift_psi_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index contributions per (event_type, value
    bin) between the stream's first and second half — the binned drift
    screen model-risk teams run beside KS (drift_ks_event_values reads
    the worst single CDF gap; PSI weights every bin's shift by its
    log-odds, so several small coordinated shifts that KS shrugs at
    still add up).  Convention: total PSI < 0.1 stable, > 0.25 drifted
    — the per-bin rows are emitted so the consumer sees WHERE the
    mass moved, and the total is their sum.

    Equal-width bins over the data-derived [min, max] value range
    (integer-capped into {_PSI_BINS} bins), add-one smoothing so empty
    bins contribute finite terms.  Counts and totals are exact
    BIGINTs; each bin's contribution does its two divisions and one ln
    in the same order in both engines (the zipf/regression precedent
    for libm parity at 6 dp), and emitting PER-BIN rows avoids any
    cross-row float summation entirely — the oracle stays hash-exact.

    One pass over events (bin + half tags are map-side), one groupBy
    on the |types| x {_PSI_BINS} domain, two broadcast scalars."""
    ev = table(spark, sf_dir, "events")
    mid = ev.agg(
        (
            F.min(F.unix_timestamp("ts"))
            + F.expr(
                "(max(unix_timestamp(ts)) - min(unix_timestamp(ts))) DIV 2"
            )
        ).alias("mid")
    )
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = (
        ev.crossJoin(mid)
        .crossJoin(rng)
        .select(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    * _PSI_BINS
                    / (F.col("hi") - F.col("lo"))
                ).cast("long"),
                F.lit(_PSI_BINS - 1).cast("long"),
            ).alias("bin"),
            (F.unix_timestamp("ts") <= F.col("mid")).alias("early"),
        )
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0)).cast("long").alias("c_e"),
        F.sum(F.when(F.col("early"), 0).otherwise(1)).cast("long").alias("c_l"),
    )
    w = Window.partitionBy("event_type")
    tot = cnt.select(
        "event_type",
        "bin",
        "c_e",
        "c_l",
        F.sum("c_e").over(w).cast("long").alias("n_e"),
        F.sum("c_l").over(w).cast("long").alias("n_l"),
    )
    p = (F.col("c_e") + 1).cast("double") / (F.col("n_e") + _PSI_BINS)
    q = (F.col("c_l") + 1).cast("double") / (F.col("n_l") + _PSI_BINS)
    return tot.select(
        "event_type",
        "bin",
        F.col("c_e").alias("n_early"),
        F.col("c_l").alias("n_late"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U drift screen
# ---------------------------------------------------------------------------


@register(
    "drift_mannwhitney_values",
    oracle=f"""
    WITH mid AS ({_DUCK_MID}),
    halved AS (
      SELECT event_type, value, {_DUCK_T} <= m.mid AS early
      FROM events CROSS JOIN mid m
    ),
    cnt AS (
      SELECT event_type, value,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c_e,
             CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS c_l
      FROM halved GROUP BY event_type, value
    ),
    ranked AS (
      SELECT event_type, c_e, c_l, c_e + c_l AS c,
             coalesce(CAST(sum(c_e + c_l) OVER (
               PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS k_prev
      FROM cnt
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_vals,
             CAST(sum(c_e) AS BIGINT) AS n_e,
             CAST(sum(c_l) AS BIGINT) AS n_l,
             CAST(sum(c_e * (2 * k_prev + c + 1)) AS BIGINT) AS r2,
             CAST(sum(c * c * c - c) AS BIGINT) AS tie
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, n_e AS n_early, n_l AS n_late,
           round((r2 - n_e * (n_e + 1)) / 2.0, 1) AS u_early,
           CASE WHEN n_vals > 1 THEN
             round((r2 - n_e * (n_e + 1) - n_e * n_l)
                   / (2.0 * sqrt(n_e * n_l / 12.0
                      * ((n_e + n_l + 1)
                         - tie / (CAST(n_e + n_l AS DOUBLE)
                                  * (n_e + n_l - 1))))), 4)
           END AS z
    FROM stats
    """,
    tags=("DQ", "DRIFT"),
)
def drift_mannwhitney_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) between the
    stream's first and second half per event_type — the rank-based
    location-shift screen that complements drift_ks_event_values'
    max-gap statistic: KS reacts to any CDF divergence, U asks
    specifically "did the distribution MOVE up or down", which is the
    question before a retrain-or-rollback call.

    Exact-arithmetic rank trick: average tied ranks are half-integers,
    so everything is carried as 2x (``2*avgrank = 2*k_prev + c + 1``,
    all BIGINT) until the final two divisions — both engines perform
    the identical integer pipeline and one identical double z-step
    (normal approximation with the standard tie-corrected variance,
    no continuity correction).  U_early = (r2 - n_e(n_e+1)) / 2.
    A fully-tied domain (one distinct pooled value) has zero
    variance, so z is guarded to NULL in both engines.

    Scale shape identical to KS: one map-side-combined exchange onto
    the (type, value) distinct domain; the rank window runs on that
    domain, never the fact; per-type totals fold in the same pass."""
    cnt = (
        _halved(spark, sf_dir)
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("c_e"),
            F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("c_l"),
        )
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = F.col("c_e") + F.col("c_l")
    ranked = cnt.select(
        "event_type",
        "c_e",
        "c_l",
        c.alias("c"),
        F.coalesce(F.sum(c).over(w_prev), F.lit(0)).alias("k_prev"),
    )
    stats = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum("c_e").alias("n_e"),
        F.sum("c_l").alias("n_l"),
        F.sum(
            F.col("c_e") * (2 * F.col("k_prev") + F.col("c") + 1)
        ).alias("r2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias(
            "tie"
        ),
    )
    n_e, n_l = F.col("n_e"), F.col("n_l")
    u2 = F.col("r2") - n_e * (n_e + 1)  # 2 * U_early, exact integer
    var = (
        n_e
        * n_l
        / F.lit(12.0)
        * (
            (n_e + n_l + 1)
            - F.col("tie")
            / ((n_e + n_l).cast("double") * (n_e + n_l - 1))
        )
    )
    return stats.select(
        "event_type",
        n_e.alias("n_early"),
        n_l.alias("n_late"),
        F.round(u2 / 2.0, 1).alias("u_early"),
        F.when(
            F.col("n_vals") > 1,
            F.round((u2 - n_e * n_l) / (2.0 * F.sqrt(var)), 4),
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# 1-D Wasserstein (earth-mover) drift distance
# ---------------------------------------------------------------------------


@register(
    "drift_wasserstein_values",
    oracle=f"""
    WITH mid AS ({_DUCK_MID}),
    halved AS (
      SELECT event_type, value, {_DUCK_T} <= m.mid AS early
      FROM events CROSS JOIN mid m
    ),
    cnt AS (
      SELECT event_type, value,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c_e,
             CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS c_l
      FROM halved GROUP BY event_type, value
    ),
    cum AS (
      SELECT event_type, value,
             lead(value) OVER (PARTITION BY event_type ORDER BY value)
               AS next_value,
             CAST(sum(c_e) OVER (PARTITION BY event_type ORDER BY value
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k_e,
             CAST(sum(c_l) OVER (PARTITION BY event_type ORDER BY value
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k_l,
             CAST(sum(c_e) OVER (PARTITION BY event_type) AS BIGINT) AS n_e,
             CAST(sum(c_l) OVER (PARTITION BY event_type) AS BIGINT) AS n_l
      FROM cnt
    )
    SELECT event_type,
           CAST(max(n_e) AS BIGINT) AS n_early,
           CAST(max(n_l) AS BIGINT) AS n_late,
           round(sum(abs(k_e / CAST(n_e AS DOUBLE)
                         - k_l / CAST(n_l AS DOUBLE))
                     * (next_value - value)), 6) AS w1
    FROM cum WHERE next_value IS NOT NULL
    GROUP BY event_type
    """,
    tags=("DQ", "DRIFT"),
)
def drift_wasserstein_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between the value
    distributions of the stream's first and second half, per
    event_type — the third leg of the drift tripod: KS gives the max
    CDF gap (shape-sensitive, location-blind), Mann-Whitney gives
    direction, W1 gives MAGNITUDE in the metric's own units ("the
    distribution moved by ~0.8 units"), which is what thresholds and
    alerts want to be written in.

    Exact closed form for empirical distributions: W1 = integral of
    |ECDF_early - ECDF_late| = sum over consecutive pooled distinct
    values of |F_e - F_l| * gap.  Counts stay BIGINT through the
    cumulative windows; per-segment terms are two exact divisions, one
    subtraction and one multiply — identical IEEE sequences in both
    engines; the final sum is rounded 6dp (order noise is ~1e-15 on a
    <=1-magnitude integrand).

    Scale shape identical to KS/U: one map-side-combined exchange onto
    the (type, value) distinct domain; windows run there, never on the
    fact."""
    cnt = (
        _halved(spark, sf_dir)
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("c_e"),
            F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("c_l"),
        )
    )
    w_ord = Window.partitionBy("event_type").orderBy("value")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("event_type")
    cum = cnt.select(
        "event_type",
        "value",
        F.lead("value").over(w_ord).alias("next_value"),
        F.sum("c_e").over(w_cum).alias("k_e"),
        F.sum("c_l").over(w_cum).alias("k_l"),
        F.sum("c_e").over(w_all).alias("n_e"),
        F.sum("c_l").over(w_all).alias("n_l"),
    )
    seg = F.abs(
        F.col("k_e") / F.col("n_e").cast("double")
        - F.col("k_l") / F.col("n_l").cast("double")
    ) * (F.col("next_value") - F.col("value"))
    return (
        cum.filter(F.col("next_value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.max("n_e").alias("n_early"),
            F.max("n_l").alias("n_late"),
            F.round(F.sum(seg), 6).alias("w1"),
        )
    )


# ---------------------------------------------------------------------------
# Column entropy profile (categorical concentration screen)
# ---------------------------------------------------------------------------


def _entropy_branch_duck(table: str, col: str) -> str:
    return f"""
      SELECT '{table}.{col}' AS col_name,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_distinct,
             round(-sum(p * ln(p)), 6) AS entropy
      FROM (
        SELECT c, c / CAST(sum(c) OVER () AS DOUBLE) AS p
        FROM (SELECT {col} AS v, CAST(count(*) AS BIGINT) AS c
              FROM {table} GROUP BY 1)
      )
      GROUP BY 1
    """


@register(
    "profile_column_entropy",
    oracle=f"""
    WITH uni AS (
      {_entropy_branch_duck('documents', 'lang')}
      UNION ALL
      {_entropy_branch_duck('documents', 'source')}
      UNION ALL
      {_entropy_branch_duck('events', 'event_type')}
    )
    SELECT col_name, n_rows, n_distinct, entropy,
           CASE WHEN n_distinct > 1
                THEN round(entropy / ln(n_distinct), 6)
           END AS norm_entropy
    FROM uni
    """,
    tags=("DQ", "PROFILE"),
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the categorical profile columns (documents'
    lang and source, events' event_type), plus the entropy normalized
    by ln(cardinality): the one-number answer to "is this dimension
    balanced or is one value eating the table" — the screen that
    decides partition keys, stratification columns, and whether a
    mixture needs rebalancing.  norm_entropy = 1 is perfectly uniform;
    near 0 means one dominant value.

    Scale shape: each branch is one map-side-combined rollup onto the
    column's value domain followed by a |domain|-row aggregation; the
    three branches union AFTER aggregation, so the exchange payload is
    three value-domains, never a fact."""

    def branch(tbl: str, col: str) -> DataFrame:
        vc = (
            table(spark, sf_dir, tbl)
            .groupBy(F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        tot = F.sum("c").over(Window.partitionBy())
        p = F.col("c") / tot.cast("double")
        return vc.select(
            F.lit(f"{tbl}.{col}").alias("col_name"),
            "c",
            (-p * F.log(p)).alias("term"),
        ).groupBy("col_name").agg(
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.sum("term"), 6).alias("entropy"),
        )

    uni = (
        branch("documents", "lang")
        .unionByName(branch("documents", "source"))
        .unionByName(branch("events", "event_type"))
    )
    return uni.select(
        "col_name",
        "n_rows",
        "n_distinct",
        "entropy",
        F.when(
            F.col("n_distinct") > 1,
            F.round(
                F.col("entropy")
                / F.log(F.col("n_distinct").cast("double")),
                6,
            ),
        ).alias("norm_entropy"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of the event-type mix between time halves
# ---------------------------------------------------------------------------


@register(
    "drift_js_divergence_type_mix",
    oracle=f"""
    WITH mid AS ({_DUCK_MID}),
    cnt AS (
      SELECT event_type,
             CAST(sum(CASE WHEN {_DUCK_T} <= m.mid THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_e,
             CAST(sum(CASE WHEN {_DUCK_T} <= m.mid THEN 0 ELSE 1 END)
                  AS BIGINT) AS c_l
      FROM events CROSS JOIN mid m
      GROUP BY event_type
    ),
    tot AS (
      SELECT event_type, c_e, c_l,
             CAST(sum(c_e) OVER () AS BIGINT) AS n_e,
             CAST(sum(c_l) OVER () AS BIGINT) AS n_l,
             CAST(count(*) OVER () AS BIGINT) AS n_types
      FROM cnt
    )
    SELECT event_type, c_e AS n_early, c_l AS n_late,
           round(
             0.5 * (CAST(c_e + 1 AS DOUBLE) / (n_e + n_types))
                 * ln((CAST(c_e + 1 AS DOUBLE) / (n_e + n_types))
                      / (0.5 * (CAST(c_e + 1 AS DOUBLE) / (n_e + n_types))
                       + 0.5 * (CAST(c_l + 1 AS DOUBLE) / (n_l + n_types))))
           + 0.5 * (CAST(c_l + 1 AS DOUBLE) / (n_l + n_types))
                 * ln((CAST(c_l + 1 AS DOUBLE) / (n_l + n_types))
                      / (0.5 * (CAST(c_e + 1 AS DOUBLE) / (n_e + n_types))
                       + 0.5 * (CAST(c_l + 1 AS DOUBLE) / (n_l + n_types)))),
             6) AS jsd_contrib
    FROM tot
    """,
    tags=("DQ", "DRIFT"),
)
def drift_js_divergence_type_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence contributions per event type between
    the stream's first and second half — the bounded, symmetric member
    of the drift family (PSI blows up on vanishing bins even smoothed;
    JS is capped at ln 2, so a brand-new event type moves the score by
    a finite amount).  Same add-one smoothing and half-split convention
    as drift_psi_value_bins; per-type rows so the consumer sees WHICH
    type drove the shift and the total is their sum (and no cross-row
    float summation enters the hash).

    One pass over events (the half tag is map-side against the
    broadcast mid scalar), one |types|-group aggregate, and window
    totals over the tiny type frame.  All counts exact BIGINTs; each
    row does the identical double arithmetic in both engines."""
    ev = table(spark, sf_dir, "events")
    t = F.unix_timestamp("ts")
    mid = ev.agg(
        (
            F.min(t)
            + F.expr("(max(unix_timestamp(ts)) - min(unix_timestamp(ts))) div 2")
        ).alias("mid")
    )
    cnt = (
        ev.crossJoin(mid)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(t <= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("c_e"),
            F.sum(F.when(t <= F.col("mid"), 0).otherwise(1))
            .cast("long")
            .alias("c_l"),
        )
    )
    w = Window.partitionBy()
    tot = cnt.select(
        "event_type",
        "c_e",
        "c_l",
        F.sum("c_e").over(w).alias("n_e"),
        F.sum("c_l").over(w).alias("n_l"),
        F.count(F.lit(1)).over(w).alias("n_types"),
    )
    pe = (F.col("c_e") + 1).cast("double") / (F.col("n_e") + F.col("n_types"))
    pl = (F.col("c_l") + 1).cast("double") / (F.col("n_l") + F.col("n_types"))
    m = 0.5 * pe + 0.5 * pl
    return tot.select(
        "event_type",
        F.col("c_e").alias("n_early"),
        F.col("c_l").alias("n_late"),
        F.round(0.5 * pe * F.log(pe / m) + 0.5 * pl * F.log(pl / m), 6).alias(
            "jsd_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# Approximate functional-dependency screen (data-profiling / schema mining)
# ---------------------------------------------------------------------------


def _fd_counts(df: DataFrame, det, dep, name: str) -> DataFrame:
    """n_groups / n_violating for candidate FD det -> dep: a group
    violates when its determinant value maps to >1 distinct dependent."""
    g = df.groupBy(det.alias("det")).agg(
        F.countDistinct(dep).alias("n_dep")
    )
    return g.agg(
        F.lit(name).alias("fd"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating"),
        F.max("n_dep").cast("long").alias("max_dep_values"),
    )


@register(
    "profile_fd_screen",
    oracle="""
    WITH fd1 AS (
      SELECT 'event_id->event_type' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(max(n_dep) AS BIGINT) AS max_dep_values
      FROM (SELECT event_id, count(DISTINCT event_type) AS n_dep
            FROM events GROUP BY event_id)
    ), fd2 AS (
      SELECT 'user_id->event_type' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(max(n_dep) AS BIGINT) AS max_dep_values
      FROM (SELECT user_id, count(DISTINCT event_type) AS n_dep
            FROM events GROUP BY user_id)
    ), fd3 AS (
      SELECT 'day->event_type' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(max(n_dep) AS BIGINT) AS max_dep_values
      FROM (SELECT CAST(ts AS DATE) AS day,
                   count(DISTINCT event_type) AS n_dep
            FROM events GROUP BY day)
    )
    SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL
    SELECT * FROM fd3
    """,
    tags=("DQ", "profiling"),
)
def profile_fd_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery screen (the Metanome/TANE family,
    reduced to the verification step a schema-mining pass runs per
    candidate): for each candidate FD ``determinant -> dependent``,
    how many determinant groups exist, how many VIOLATE the dependency
    (map to more than one dependent value), and the worst fan-out.
    ``event_id -> event_type`` must hold (event_id is the key) — its
    n_violating doubles as a key-integrity check; the user_id / day
    candidates quantify how far those columns are from determining the
    type, the signal for choosing partition and sort keys.

    Each candidate is one two-level aggregate (distinct-count partials
    combine map-side; the violation rollup runs on the group frame).
    Three candidates scan the fact three times here for plan clarity —
    a production profiler verifying MANY candidates with the same
    determinant batches them into one grouping pass each."""
    e = table(spark, sf_dir, "events")
    parts = [
        _fd_counts(e, F.col("event_id"), F.col("event_type"),
                   "event_id->event_type"),
        _fd_counts(e, F.col("user_id"), F.col("event_type"),
                   "user_id->event_type"),
        _fd_counts(e, F.to_date("ts"), F.col("event_type"),
                   "day->event_type"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Mutual information screen: how much does one column know about another?
# ---------------------------------------------------------------------------

_MI_VALUE_BINS = 8


@register(
    "profile_mutual_information",
    oracle=f"""
    WITH rng AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    binned AS (
      SELECT event_type,
             least(CAST(floor((value - r.lo) * {_MI_VALUE_BINS}
                              / (r.hi - r.lo)) AS BIGINT),
                   {_MI_VALUE_BINS - 1}) AS bin
      FROM events CROSS JOIN rng r
    ),
    cell AS (
      SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
      FROM binned GROUP BY 1, 2
    ),
    marg AS (
      SELECT event_type, bin, c,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS cx,
             CAST(sum(c) OVER (PARTITION BY bin) AS BIGINT) AS cy,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM cell
    )
    SELECT event_type, bin, c AS n_cell,
           round((CAST(c AS DOUBLE) / n)
                 * ln(CAST(c AS DOUBLE) * n
                      / (CAST(cx AS DOUBLE) * cy)), 6) AS mi_contrib
    FROM marg
    """,
    tags=("DQ", "profiling"),
)
def profile_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; value-bin) as per-cell
    contributions — the model-free dependence screen run before
    treating a column as a feature (correlation only sees linear
    structure; MI sees any): positive cells are where the joint beats
    independence, the sum over cells is the MI in nats, and a total
    near 0 says the value distribution is type-independent, so
    per-type value models are wasted effort.

    Same equal-width integer binning as drift_psi_value_bins; one pass
    to bin (map-side against the broadcast range), one (type, bin)
    aggregate, window marginals on the tiny cell frame.  Counts exact
    BIGINTs; each cell does identical double arithmetic in both
    engines and no cross-row float sum enters the hash."""
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(rng).select(
        "event_type",
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                * _MI_VALUE_BINS
                / (F.col("hi") - F.col("lo"))
            ).cast("long"),
            F.lit(_MI_VALUE_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    cell = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    marg = cell.select(
        "event_type",
        "bin",
        "c",
        F.sum("c").over(Window.partitionBy("event_type")).alias("cx"),
        F.sum("c").over(Window.partitionBy("bin")).alias("cy"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    p = F.col("c").cast("double") / F.col("n")
    ratio = (
        F.col("c").cast("double")
        * F.col("n")
        / (F.col("cx").cast("double") * F.col("cy"))
    )
    return marg.select(
        "event_type",
        "bin",
        F.col("c").alias("n_cell"),
        F.round(p * F.log(ratio), 6).alias("mi_contrib"),
    )


# ---------------------------------------------------------------------------
# Ingestion integrity: surrogate-key continuity screen
# ---------------------------------------------------------------------------


@register(
    "quality_id_continuity_screen",
    oracle="""
    SELECT CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(max(event_id) - min(event_id) + 1
                - count(DISTINCT event_id) AS BIGINT) AS n_missing,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
             AS n_duplicated
    FROM events
    """,
    tags=("DQ", "profiling"),
)
def quality_id_continuity_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Surrogate-key continuity screen: holes and duplicates in the
    event_id sequence from five exact aggregates — missing = span
    minus distinct, duplicated = rows minus distinct.  The first check
    an ingestion pipeline runs after a backfill (holes = dropped
    batches, duplicates = at-least-once delivery leaking through
    dedup), non-vacuous by construction because the span/rows/distinct
    triple is always reported.

    One aggregate; the distinct-count partials combine map-side.  At
    100 TB swap count(DISTINCT) for approx_count_distinct and treat
    n_missing as an estimate — the screen's decision (investigate or
    not) tolerates that."""
    e = table(spark, sf_dir, "events")
    return e.agg(
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct"),
        (
            F.max("event_id") - F.min("event_id") + 1
            - F.countDistinct("event_id")
        ).alias("n_missing"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias(
            "n_duplicated"
        ),
    )


# ---------------------------------------------------------------------------
# Tukey IQR-fence outlier screen per event type (exact quartiles)
# ---------------------------------------------------------------------------


@register(
    "quality_iqr_fence_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 1000000) AS BIGINT) AS v_micro,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(round(value * 1000000)
                                              AS BIGINT)) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
      FROM events
    ),
    q AS (
      SELECT event_type, cnt AS n,
             max(CASE WHEN rn = (cnt + 3) // 4 THEN v_micro END)
               AS q1_micro,
             max(CASE WHEN rn = (3 * cnt + 3) // 4 THEN v_micro END)
               AS q3_micro
      FROM v GROUP BY event_type, cnt
    )
    SELECT q.event_type, q.n, q.q1_micro, q.q3_micro,
           CAST(q.q3_micro - q.q1_micro AS BIGINT) AS iqr_micro,
           CAST(sum(CASE WHEN 2 * v.v_micro
                              < 2 * q.q1_micro - 3 * (q.q3_micro - q.q1_micro)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN 2 * v.v_micro
                              > 2 * q.q3_micro + 3 * (q.q3_micro - q.q1_micro)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           round(CAST(sum(CASE WHEN 2 * v.v_micro
                              < 2 * q.q1_micro - 3 * (q.q3_micro - q.q1_micro)
                              OR 2 * v.v_micro
                              > 2 * q.q3_micro + 3 * (q.q3_micro - q.q1_micro)
                         THEN 1 ELSE 0 END) AS DOUBLE) / q.n, 4)
             AS outlier_rate
    FROM q JOIN v ON v.event_type = q.event_type
    GROUP BY q.event_type, q.n, q.q1_micro, q.q3_micro
    """,
    tags=("QUALITY", "STATS"),
)
def quality_iqr_fence_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tukey-fence outlier screen per event type: exact discrete
    quartiles (percentile_disc semantics — the value at rank
    ceil(q*n), a SELECTED value, never an interpolation), fences at
    1.5 IQR, and low/high outlier counts — the boxplot rule, the
    third member of the outlier family next to the z-score (moment-
    based) and MAD (median-based) screens, and the one robust to BOTH
    heavy tails and asymmetry.

    Exactness discipline: values become micro-unit BIGINTs before
    anything ranks or compares; the quartile ranks are pure integer
    ceilings ((n+3)//4, (3n+3)//4); the 1.5x fence comparison is the
    doubled-integer form 2v < 2q1 - 3*iqr, so no float exists anywhere
    except the final rate.  Scale shape: one rank pass per type on one
    exchange (quartiles via row_number, not percentile_approx — approx
    would diverge from the oracle), then a broadcast of the 5-row
    quartile frame back across the fact scan for the fence counts.
    The rank sorts each type WITHIN one partition — fine while a
    type's rows fit a task's sort spill; at 100 TB swap the quartile
    step for the value-cell running-weight form
    (percentiles_weighted_exact) or the bucketed histogram
    (sketch_histogram_quantiles), both of which rank distinct VALUES
    rather than rows — the fence comparison is unchanged."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("long").alias("v_micro"),
    )
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy("v_micro")
    v = ev.select(
        "event_type",
        "v_micro",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wt).cast("long").alias("cnt"),
    )
    q = (
        v.withColumn("k1", F.expr("(cnt + 3) DIV 4"))
        .withColumn("k3", F.expr("(3 * cnt + 3) DIV 4"))
        .groupBy("event_type", "cnt")
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("k1"), F.col("v_micro"))
            ).alias("q1_micro"),
            F.max(
                F.when(F.col("rn") == F.col("k3"), F.col("v_micro"))
            ).alias("q3_micro"),
        )
        .select(
            "event_type",
            F.col("cnt").alias("n"),
            "q1_micro",
            "q3_micro",
        )
    )
    iqr = F.col("q3_micro") - F.col("q1_micro")
    lo = F.col("v_micro") * 2 < 2 * F.col("q1_micro") - 3 * iqr
    hi = F.col("v_micro") * 2 > 2 * F.col("q3_micro") + 3 * iqr
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n", "q1_micro", "q3_micro")
        .agg(
            F.sum(F.when(lo, 1).otherwise(0)).cast("long").alias("n_low"),
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("n_high"),
            F.round(
                F.sum(F.when(lo | hi, 1).otherwise(0)).cast("double")
                / F.first("n"),
                4,
            ).alias("outlier_rate"),
        )
        .select(
            "event_type",
            "n",
            "q1_micro",
            "q3_micro",
            iqr.cast("long").alias("iqr_micro"),
            "n_low",
            "n_high",
            "outlier_rate",
        )
    )


# ---------------------------------------------------------------------------
# Cross-table reconciliation: order totals vs lineitem rollup
# ---------------------------------------------------------------------------

#: Tolerance (cents) within which a header total and its detail
#: rollup are called consistent.
_RECON_TOL_CENTS = 100


@register(
    "quality_order_total_reconciliation",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS detail_cents,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderstatus AS orderstatus,
             CAST(floor(o.o_totalprice * 100) AS BIGINT) AS header_cents,
             li.detail_cents, li.n_items
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN detail_cents IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_headless,
           CAST(sum(CASE WHEN detail_cents IS NOT NULL
                          AND abs(header_cents - detail_cents)
                              <= {_RECON_TOL_CENTS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
           CAST(max(CASE WHEN detail_cents IS NOT NULL
                         THEN abs(header_cents - detail_cents) END)
                AS BIGINT) AS max_abs_diff_cents,
           round(CAST(sum(CASE WHEN detail_cents IS NOT NULL
                          AND abs(header_cents - detail_cents)
                              <= {_RECON_TOL_CENTS}
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
             AS consistency_rate
    FROM j GROUP BY orderstatus
    """,
    tags=("DQ",),
)
def quality_order_total_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Header/detail reconciliation — the cross-TABLE consistency
    check that quality_fk_orphans (existence) and the checksum family
    (drift) don't cover: does each order's header total equal its
    lineitem rollup within tolerance?  Reported per order status:
    order count, headless orders (no lineitems at all), consistent
    count, worst absolute gap, and the consistency rate.  On this
    synthetic corpus the totals do NOT reconcile — which is the
    point: the screen quantifies the books-vs-detail gap instead of
    assuming it away, and is non-vacuous at every scale factor.

    Plan: one groupBy(l_orderkey) collapses the detail table, one
    equi-join against the header (both sides shuffle on the order
    key — the natural co-partitioning; at 100 TB bucket both tables
    by orderkey and the join is exchange-free), one status rollup.
    All money is exact centi-unit BIGINTs."""
    li = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("detail_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderstatus").alias("orderstatus"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias(
            "header_cents"
        ),
    )
    j = o.join(li, "l_orderkey", "left")
    diff = F.abs(F.col("header_cents") - F.col("detail_cents"))
    has_detail = F.col("detail_cents").isNotNull()
    consistent = has_detail & (diff <= _RECON_TOL_CENTS)
    return j.groupBy("orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(~has_detail, 1).otherwise(0))
        .cast("long")
        .alias("n_headless"),
        F.sum(F.when(consistent, 1).otherwise(0))
        .cast("long")
        .alias("n_consistent"),
        F.max(F.when(has_detail, diff)).cast("long").alias(
            "max_abs_diff_cents"
        ),
        F.round(
            F.sum(F.when(consistent, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("consistency_rate"),
    )
