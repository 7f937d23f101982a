"""Record linkage / entity resolution over the customer table: the
classic sorted-neighborhood method (Hernandez & Stolfo, "The
Merge/Purge Problem for Large Databases") — block, sort, compare only a
sliding window of neighbors — followed by transitive closure into
entity clusters.  This is the pipeline a data platform runs before any
per-entity analytics (the reference's health rows are keyed by
host/replica identity; chStats.py:137-210 trusts those keys — a real
deployment has to RESOLVE them first when names drift).

Why sorted-neighborhood and not all-pairs-in-block: blocking alone
leaves O(|block|^2) comparisons, which at 100 TB is quadratic in the
skewed blocks.  Sorting each block by the match key and comparing each
record to only its next W neighbors makes the comparison count exactly
W * n — linear, one window function over one exchange on the block key,
no self-join at all.  W and the block key are the recall/cost dials.

Match scoring uses ``levenshtein`` — verified byte-identical between
Spark and DuckDB by dedup_edit_distance_pairs (dedup.py:1481).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table
from .dedup import alternating_components

#: Sliding-window width of the sorted-neighborhood pass.
_W = 3

#: Max edit distance between names to call two records a match.
_MAX_ED = 2

_DUCK_LEADS = ", ".join(
    f"lead(c_custkey, {i}) OVER w AS k{i}, lead(c_name, {i}) OVER w AS n{i}"
    for i in range(1, _W + 1)
)
_DUCK_CAND = " UNION ALL ".join(
    f"""SELECT c_custkey AS custkey_a, k{i} AS custkey_b,
               c_name AS name_a, n{i} AS name_b
        FROM led WHERE k{i} IS NOT NULL"""
    for i in range(1, _W + 1)
)

#: Shared pairs CTE: sorted-neighborhood candidates scored by edit
#: distance — both linkage queries build on this exact SQL.
_PAIRS_SQL = f"""
    led AS (
      SELECT c_custkey, c_name, {_DUCK_LEADS}
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY c_name, c_custkey)
    ),
    cand AS ({_DUCK_CAND}),
    pairs AS (
      SELECT custkey_a, custkey_b, name_a, name_b,
             CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_distance
      FROM cand WHERE levenshtein(name_a, name_b) <= {_MAX_ED}
    )
"""


def neighbor_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL W*n sorted-neighborhood candidate pairs with their edit
    distance — the unfiltered comparison space.  The deterministic
    pairs (edit distance <= _MAX_ED) are a filter on this frame; the
    Fellegi-Sunter scorer consumes it whole (probabilistic linkage
    scores every candidate, it does not pre-threshold).

    ``edit_distance`` is THRESHOLDED: the real distance when
    <= _MAX_ED, else -1 (Spark 3.5+ banded levenshtein, O(len*k)
    instead of O(len^2) per pair — r8 opt round, guide §4.1 "prefer
    built-ins"; every consumer only ever compares against _MAX_ED, so
    -1 carries exactly the information "no match" they read)."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "c_name", "c_custkey"
    )
    led = c.select(
        "c_custkey",
        "c_name",
        F.array(
            *[
                F.struct(
                    F.lead("c_custkey", i).over(w).alias("k"),
                    F.lead("c_name", i).over(w).alias("n"),
                )
                for i in range(1, _W + 1)
            ]
        ).alias("nbrs"),
    )
    cand = led.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        F.explode("nbrs").alias("nb"),
    ).filter(F.col("nb.k").isNotNull())
    return cand.select(
        "custkey_a",
        F.col("nb.k").alias("custkey_b"),
        "name_a",
        F.col("nb.n").alias("name_b"),
        F.levenshtein("name_a", F.col("nb.n"), _MAX_ED).cast("long").alias(
            "edit_distance"
        ),
    )


def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(custkey_a, custkey_b, name_a, name_b, edit_distance) — the
    matched pairs of the sorted-neighborhood pass.  Shared by both
    registered queries so the clustering oracle and the pair oracle
    state the same candidate set."""
    return neighbor_candidates(spark, sf_dir).filter(
        # thresholded levenshtein: >= 0 <=> distance <= _MAX_ED
        F.col("edit_distance") >= 0
    )


@register(
    "linkage_sorted_neighborhood_pairs",
    oracle=f"""
    WITH {_PAIRS_SQL}
    SELECT custkey_a, custkey_b, name_a, name_b, edit_distance
    FROM pairs
    """,
    tags=("LINK",),
)
def linkage_sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fuzzy-duplicate customer pairs via sorted-neighborhood linkage:
    block on (nation, market segment), sort each block by (name, key),
    compare each record to only its next W=3 neighbors, keep pairs
    whose names are within edit distance 2.

    Scale shape: ONE exchange on the block key, one in-partition sort,
    W lead() columns — comparison count is exactly W*n (linear) no
    matter how skewed the blocks are, vs O(sum |block|^2) for
    block-all-pairs.  levenshtein runs on only the W*n surviving
    neighbor pairs, JVM-side (whole-stage codegen; same expression
    discipline as dedup_edit_distance_pairs, dedup.py:1481).  At 100 TB
    the sort key should fold in a phonetic/canonical form of the name
    so true duplicates sort adjacent; the synthetic fixed-width names
    already do."""
    return sorted_neighborhood_pairs(spark, sf_dir)


@register(
    "linkage_entity_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL},
    edges AS (
      SELECT custkey_a AS a, custkey_b AS b FROM pairs
      UNION ALL
      SELECT custkey_b AS a, custkey_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    cc(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    labeled AS (
      SELECT node, min(label) AS entity_id FROM cc GROUP BY node
    )
    SELECT l.entity_id,
           CAST(count(*) AS BIGINT) AS n_members,
           min(c.c_name) AS canonical_name,
           CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM labeled l JOIN customer c ON c.c_custkey = l.node
    GROUP BY l.entity_id
    """,
    tags=("LINK", "ITER"),
)
def linkage_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved entities: transitive closure over the matched pairs
    (A~B, B~C => one entity {A,B,C}), entity_id = min member key,
    with member count, canonical (min) name, and exact centi-unit
    combined account balance — the merge/purge output a per-entity
    pipeline consumes.

    Clustering reuses the large-star/small-star connected-components
    kernel (dedup.py:614, O(log n) rounds); the match graph here is
    tiny relative to the record count (only within-window fuzzy
    matches), so CC runs on an edge list orders of magnitude smaller
    than the input — the standard shape for entity resolution at
    scale.  The balance sum is floor(x*100) BIGINTs per the repo's
    exact-money discipline."""
    pairs = sorted_neighborhood_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("custkey_a").alias("src"), F.col("custkey_b").alias("dst")
    )
    stars, _ = alternating_components(edges)
    # Star forest: root u is each component's min id; members = roots
    # plus leaves.  Singleton customers (no match) are excluded — an
    # entity is only interesting once two records merged.
    members = stars.select(
        F.col("u").alias("entity_id"), F.col("v").alias("node")
    ).unionByName(
        stars.select(F.col("u").alias("entity_id"), F.col("u").alias("node"))
    ).distinct()
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node"),
        "c_name",
        (F.floor(F.col("c_acctbal") * 100)).cast("long").alias("cents"),
    )
    return (
        members.join(c, "node")
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("c_name").alias("canonical_name"),
            F.sum("cents").alias("acctbal_cents"),
        )
    )


from ..registry import register_probe  # noqa: E402


@register_probe("linkage_entity_clusters")
def _probe_linkage_clusters(spark: SparkSession, sf_dir: str) -> int:
    """Dominant intermediate: matched pairs (the CC input edge list).
    The sorted-neighborhood comparison count is exactly _W * n by
    construction; the matched subset is what the iterative stage
    actually chews on."""
    return sorted_neighborhood_pairs(spark, sf_dir).count()


# ---------------------------------------------------------------------------
# Blocking-quality eval: reduction ratio + window pairs-completeness
# ---------------------------------------------------------------------------


@register(
    "linkage_blocking_quality",
    oracle=f"""
    WITH {_PAIRS_SQL},
    base AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM customer),
    blocks AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS bn
      FROM customer GROUP BY 1, 2
    ),
    block_pairs AS (
      SELECT CAST(sum(bn * (bn - 1) / 2) AS BIGINT) AS n_block_pairs
      FROM blocks
    ),
    true_matches AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= {_MAX_ED}
    ),
    found AS (SELECT CAST(count(*) AS BIGINT) AS n_found FROM pairs),
    cand_counts AS (
      SELECT CAST(sum(CASE WHEN bn > {_W} THEN {_W} * bn
                               - ({_W} * ({_W} + 1)) / 2
                           ELSE bn * (bn - 1) / 2 END) AS BIGINT)
               AS n_candidates
      FROM blocks
    )
    SELECT b.n_records, bp.n_block_pairs, c.n_candidates,
           t.n_true, f.n_found,
           round(1.0 - CAST(c.n_candidates AS DOUBLE) / bp.n_block_pairs,
                 4) AS reduction_ratio,
           round(CAST(f.n_found AS DOUBLE) / t.n_true, 4)
             AS pairs_completeness
    FROM base b, block_pairs bp, cand_counts c, true_matches t, found f
    """,
    tags=("LINK", "EVAL"),
)
def linkage_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality report for the sorted-neighborhood linkage —
    the two numbers every ER deployment reads before trusting its
    blocking scheme (Christen, "Data Matching", ch. 4 eval metrics):

    * reduction ratio: 1 - candidates/block_pairs — how much of the
      within-block quadratic comparison space the W-window pass skips
      (candidates per block = W*n - W(W+1)/2, exact, vs n(n-1)/2).
    * pairs completeness: found/true within blocks — how many of the
      exhaustive within-block edit-distance matches the window
      actually catches (misses = true duplicates sorted more than W
      apart).

    The exhaustive within-block all-pairs truth is the EVAL side only
    (it is the quadratic this family exists to avoid): customer is a
    dimension in the replica scheme so it is block-bounded here; at
    100 TB the same report runs on a per-block sample, the standard
    audit shape (same discipline as the sim_*_recall_eval family —
    approximate operator + exact truth on a bounded slice).

    Counting is closed-form where possible: candidate and block-pair
    counts come from per-block membership counts alone (one rollup),
    not from materializing pairs."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    n_records = c.agg(F.count(F.lit(1)).alias("n_records"))
    blocks = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("bn")
    )
    # Both closed-form counts in ONE pass over the per-block counts
    # (they were two scalar subqueries, each re-running the blocks
    # aggregation — r8 opt round, guide §1.2).
    closed = blocks.agg(
        F.sum(F.expr("bn * (bn - 1) / 2")).cast("long").alias(
            "n_block_pairs"
        ),
        F.sum(
            F.when(
                F.col("bn") > _W,
                _W * F.col("bn") - (_W * (_W + 1)) // 2,
            ).otherwise(F.expr("bn * (bn - 1) / 2"))
        )
        .cast("long")
        .alias("n_candidates"),
    )
    b = c.select(
        F.col("c_custkey").alias("k2"),
        F.col("c_name").alias("n2"),
        "c_nationkey",
        "c_mktsegment",
    )
    true_matches = (
        c.join(b, ["c_nationkey", "c_mktsegment"])
        .filter(F.col("c_custkey") < F.col("k2"))
        # thresholded (banded) levenshtein: >= 0 <=> distance <= _MAX_ED
        # — the exhaustive within-block truth is this query's dominant
        # term and only the <= _MAX_ED bit is consumed.
        .filter(F.levenshtein("c_name", "n2", _MAX_ED) >= 0)
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    found = sorted_neighborhood_pairs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    return (
        n_records.crossJoin(F.broadcast(closed))
        .crossJoin(true_matches)
        .crossJoin(found)
        .select(
            "n_records",
            "n_block_pairs",
            "n_candidates",
            "n_true",
            "n_found",
            F.round(
                1.0
                - F.col("n_candidates").cast("double")
                / F.col("n_block_pairs"),
                4,
            ).alias("reduction_ratio"),
            F.round(
                F.col("n_found").cast("double") / F.col("n_true"), 4
            ).alias("pairs_completeness"),
        )
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic scoring over the candidate space
# ---------------------------------------------------------------------------

#: Agreement/disagreement weights in integer MILLI-NATS
#: (round(ln(m/u) * 1000) etc.), so candidate scores stay exact BIGINT
#: sums per the repo's integer-arithmetic discipline.  m/u values are
#: fixed literals here; production estimates them with EM over the
#: candidate agreement patterns (Winkler) — the scoring algebra is
#: identical either way.
_FS_NAME_A, _FS_NAME_D = 2944, -2944  # m=0.95, u=0.05
_FS_BAND_A, _FS_BAND_D = 2185, -1515  # m=0.80, u=0.09 (11 bands)
_FS_BAL_A, _FS_BAL_D = 1946, -1099  # m=0.70, u=0.10

#: |acctbal difference| (in cents) under which balances "agree".
_FS_BAL_CENTS = 50000

#: Decision thresholds (milli-nats): total >= upper => match,
#: >= lower => possible (clerical review), else non-match.
_FS_UPPER, _FS_LOWER = 4000, 0


@register(
    "linkage_fellegi_sunter_scores",
    oracle=f"""
    WITH led AS (
      SELECT c_custkey, c_name, {_DUCK_LEADS}
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY c_name, c_custkey)
    ),
    cand AS ({_DUCK_CAND}),
    attrs AS (
      SELECT c_custkey,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
      FROM customer
    ),
    scored AS (
      SELECT c.custkey_a, c.custkey_b,
             CASE WHEN levenshtein(c.name_a, c.name_b) <= {_MAX_ED}
                  THEN 1 ELSE 0 END AS name_agree,
             CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS band_agree,
             CASE WHEN abs(a.cents - b.cents) <= {_FS_BAL_CENTS}
                  THEN 1 ELSE 0 END AS bal_agree
      FROM cand c
      JOIN attrs a ON a.c_custkey = c.custkey_a
      JOIN attrs b ON b.c_custkey = c.custkey_b
    ),
    weighted AS (
      SELECT *,
             CAST(CASE WHEN name_agree = 1 THEN {_FS_NAME_A}
                       ELSE {_FS_NAME_D} END
                + CASE WHEN band_agree = 1 THEN {_FS_BAND_A}
                       ELSE {_FS_BAND_D} END
                + CASE WHEN bal_agree = 1 THEN {_FS_BAL_A}
                       ELSE {_FS_BAL_D} END AS BIGINT) AS score_milli
      FROM scored
    )
    SELECT custkey_a, custkey_b,
           CAST(name_agree AS BIGINT) AS name_agree,
           CAST(band_agree AS BIGINT) AS band_agree,
           CAST(bal_agree AS BIGINT) AS bal_agree,
           score_milli,
           CASE WHEN score_milli >= {_FS_UPPER} THEN 'match'
                WHEN score_milli >= {_FS_LOWER} THEN 'possible'
                ELSE 'non-match' END AS decision
    FROM weighted
    """,
    tags=("LINK",),
)
def linkage_fellegi_sunter_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scoring: every
    sorted-neighborhood candidate pair gets an agreement vector over
    three comparators (fuzzy name; account-balance BAND — the coarse
    categorical form; account-balance proximity — the fine form), each field contributes its log-likelihood weight
    ln(m/u) on agreement or ln((1-m)/(1-u)) on disagreement, and the
    summed score classifies the pair match / possible / non-match —
    the 1969 decision model every serious ER system still runs
    underneath its blocking.

    Weights are integer milli-nats so scores are exact BIGINT sums
    (no float summation anywhere); m/u are documented literals (EM
    estimation is an offline concern — at 100 TB it runs on a sample
    of this very candidate frame).  The comparison space stays the
    linear W*n sorted-neighborhood frame; attribute lookup is two
    joins against the customer dim, both broadcast.  Fields absent
    from the block key carry the discrimination (block-key fields
    would agree identically on every candidate and weight nothing);
    layering the SAME attribute at two resolutions (band + proximity)
    is standard FS practice, with the usual caveat that the naive-
    Bayes independence assumption is violated between them — the
    thresholds absorb that in practice."""
    cand = neighbor_candidates(spark, sf_dir).select(
        "custkey_a", "custkey_b", "edit_distance"
    )
    attrs = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("band"),
    )
    a = attrs.select(
        F.col("k").alias("custkey_a"),
        F.col("band").alias("band_a"),
        F.col("cents").alias("cents_a"),
    )
    b = attrs.select(
        F.col("k").alias("custkey_b"),
        F.col("band").alias("band_b"),
        F.col("cents").alias("cents_b"),
    )
    scored = (
        cand.join(a, "custkey_a")
        .join(b, "custkey_b")
        .select(
            "custkey_a",
            "custkey_b",
            # thresholded levenshtein: >= 0 <=> distance <= _MAX_ED
            F.when(F.col("edit_distance") >= 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("name_agree"),
            F.when(F.col("band_a") == F.col("band_b"), 1)
            .otherwise(0)
            .cast("long")
            .alias("band_agree"),
            F.when(
                F.abs(F.col("cents_a") - F.col("cents_b")) <= _FS_BAL_CENTS,
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("bal_agree"),
        )
    )
    score = (
        F.when(F.col("name_agree") == 1, F.lit(_FS_NAME_A)).otherwise(
            F.lit(_FS_NAME_D)
        )
        + F.when(F.col("band_agree") == 1, F.lit(_FS_BAND_A)).otherwise(
            F.lit(_FS_BAND_D)
        )
        + F.when(F.col("bal_agree") == 1, F.lit(_FS_BAL_A)).otherwise(
            F.lit(_FS_BAL_D)
        )
    ).cast("long")
    return scored.withColumn("score_milli", score).withColumn(
        "decision",
        F.when(F.col("score_milli") >= _FS_UPPER, "match")
        .when(F.col("score_milli") >= _FS_LOWER, "possible")
        .otherwise("non-match"),
    )
