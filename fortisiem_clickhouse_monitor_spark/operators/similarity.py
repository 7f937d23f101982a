"""Similarity search over the `embeddings` table (north-star extension):
brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH bucketed variant as the scale path.

Both are oracle-checkable: the LSH hyperplanes are deterministic
literals generated from a fixed seed and embedded identically in the
DuckDB SQL, so even the approximate path hash-matches.

Scale: brute-force is O(n) per query vector and fine for one query;
the LSH path prunes to one bucket (expected n / 2^bits candidates), and
its bucket assignment is a map-only signature computation — the shape
that works when both sides are large (bucket-equality join instead of
cross product).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors
from ..registry import register, register_probe
from ..session import shared
from ..sources.fixtures import local_df
from ..sources.tables import bind, fanout, table

_DIM = 64
_N_PLANES = 8


def _hyperplanes() -> list[list[float]]:
    rng = random.Random(42)
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(_DIM)]
        for _ in range(_N_PLANES)
    ]


_PLANES = _hyperplanes()


def _plane_lit(p: list[float]) -> "F.Column":
    return F.array(*[F.lit(x) for x in p])


def _duck_plane(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"


def _duck_bucket(emb: str) -> str:
    """DuckDB expression for the LSH bucket id of an embedding column."""
    bits = [
        f"(CASE WHEN list_dot_product({emb}::DOUBLE[], {_duck_plane(p)}) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


def _spark_bucket(emb) -> "F.Column":
    out = F.lit(0)
    for i, p in enumerate(_PLANES):
        bit = F.when(vectors.dot(emb, _plane_lit(p)) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        out = out + bit
    return out


# ---------------------------------------------------------------------------
# Scale-path kernels: the brute-force baselines (dedup_embedding_cosine_pairs,
# sim_knn_join_topk) route through these once the index outgrows what a
# single executor should hold.  Fixture scale stays on the exact brute
# kernels; these are the documented approximate-by-banding paths.
# ---------------------------------------------------------------------------

#: Above this many index rows the pair/knn operators switch from the
#: exact full-index GEMM to the banded/IVF cell kernels below.  At
#: d=64 float64 this bound keeps the resident unit matrix ~100 MB —
#: broadcast-side territory.  Tests monkeypatch it to force the route.
BRUTE_INDEX_MAX_ROWS = 200_000


def index_row_count(path: str) -> int:
    """Parquet-metadata row count (no scan, no Spark job)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def banded_cosine_pairs(
    df: DataFrame,
    threshold: float,
    *,
    n_bands: int = 16,
    band_bits: int = 4,
    round_dp: int = 4,
    tile: int = 2048,
) -> DataFrame:
    """All-pairs cosine >= threshold via random-hyperplane LSH banding —
    the 100 TB shape of dedup_embedding_cosine_pairs.

    Signature stage: 64 fixed-seed hyperplanes -> 16 bands x 4 sign
    bits; each vector lands in 16 (band, key) cells.  Candidate stage:
    per-cell exact GEMM (row-tiled so a jumbo cell can't OOM a task),
    keeping pairs >= threshold; a pair is verified with the SAME
    rounded dot product as the brute kernel, so precision is exact —
    only recall is probabilistic (two cos>=0.9 vectors agree on one
    4-bit band with p ~ 0.99 over 16 bands).  No full-index anything:
    the widest structure any task holds is its cell.  Output columns
    match the brute kernel (vec_a, vec_b, cos_sim); duplicates from
    multi-band collisions are dropped on the pair key."""
    import numpy as np
    import pandas as pd

    emb_t = df.schema["embedding"].dataType.simpleString()
    n_planes = n_bands * band_bits
    out: list[str] = ["vec_a LONG", "vec_b LONG", "cos_sim DOUBLE"]

    def sig_batches(batches):
        planes = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            if planes is None:
                planes = np.random.RandomState(20250814).standard_normal(
                    (n_planes, mat.shape[1])
                )
            bits = (mat @ planes.T) > 0
            frames = []
            for b in range(n_bands):
                key = np.zeros(len(pdf), dtype="int64")
                for r in range(band_bits):
                    key = key * 2 + bits[:, b * band_bits + r]
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "embedding": pdf["embedding"],
                            "band": b,
                            "key": key,
                        }
                    )
                )
            yield pd.concat(frames)

    sigs = df.select("vec_id", "embedding").mapInPandas(
        sig_batches, schema=f"vec_id LONG, embedding {emb_t}, band INT, key LONG"
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        norms = np.linalg.norm(mat, axis=1)
        keep = norms > 0
        ids, unit = ids[keep], mat[keep] / norms[keep, None]
        frames = []
        for lo in range(0, len(ids), tile):
            sims = np.round(unit[lo : lo + tile] @ unit.T, round_dp)
            a_ids = ids[lo : lo + tile]
            ai, bj = np.where((sims >= threshold) & (a_ids[:, None] < ids[None, :]))
            if len(ai):
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_a": a_ids[ai],
                            "vec_b": ids[bj],
                            "cos_sim": sims[ai, bj],
                        }
                    )
                )
        return pd.concat(frames) if frames else empty

    return (
        sigs.groupBy("band", "key")
        .applyInPandas(cell_pairs, schema=", ".join(out))
        .dropDuplicates(["vec_a", "vec_b"])
    )


def ivf_knn_join(
    e: DataFrame, k: int = 3, *, nprobe: int = 2, round_dp: int = 4
) -> DataFrame:
    """k-NN join via IVF cells — the 100 TB shape of sim_knn_join_topk.

    Cells are the per-label mean centroids (the coarse quantizer
    sim_ivf_topk already uses; at real scale the labels come from
    kmeans).  Each probe vector is assigned to its nprobe nearest
    cells; candidate generation is a (cell)-cogrouped exact GEMM of
    probes vs that cell's members, so no task ever sees the full
    index; the per-probe global top-k is one window over ~nprobe*k
    candidate rows per probe.  Centroids are a bounded |cells| x dim
    driver collect (same documented bound as kmeans)."""
    import numpy as np
    import pandas as pd

    emb_t = e.schema["embedding"].dataType.simpleString()

    cent_rows = (
        e.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.avg(F.col("x").cast("double")).alias("cx"))
        .collect()
    )
    labels = sorted({r["label"] for r in cent_rows})
    lab_ix = {lab: i for i, lab in enumerate(labels)}
    dim = max(r["dim"] for r in cent_rows) + 1
    cmat = np.zeros((len(labels), dim))
    for r in cent_rows:
        cmat[lab_ix[r["label"]], r["dim"]] = r["cx"]
    cnorm = np.linalg.norm(cmat, axis=1)
    cunit = cmat / np.where(cnorm > 0, cnorm, 1.0)[:, None]
    lab_arr = np.array(labels)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            norms = np.linalg.norm(mat, axis=1)
            unit = mat / np.where(norms > 0, norms, 1.0)[:, None]
            top = np.argsort(-(unit @ cunit.T), axis=1)[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                    "embedding": pdf["embedding"].iloc[
                        np.repeat(np.arange(n), nprobe)
                    ].to_numpy(),
                    "cell": lab_arr[top].ravel(),
                }
            )

    probes = e.select("vec_id", "embedding").mapInPandas(
        assign, schema=f"vec_id LONG, embedding {emb_t}, cell INT"
    )
    members = e.select(
        F.col("label").alias("cell"),
        F.col("vec_id").alias("m_id"),
        F.col("embedding").alias("m_emb"),
    )

    out_schema = "vec_id LONG, neighbor_id LONG, cos_sim DOUBLE"

    def cell_knn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "cos_sim": []})
        if left.empty or right.empty:
            return empty
        p_ids = left["vec_id"].to_numpy()
        p_mat = np.stack(left["embedding"].to_numpy()).astype("float64")
        p_norm = np.linalg.norm(p_mat, axis=1)
        p_unit = p_mat / np.where(p_norm > 0, p_norm, 1.0)[:, None]
        m_ids = right["m_id"].to_numpy()
        m_mat = np.stack(right["m_emb"].to_numpy()).astype("float64")
        m_norm = np.linalg.norm(m_mat, axis=1)
        m_unit = m_mat / np.where(m_norm > 0, m_norm, 1.0)[:, None]
        sims = np.round(p_unit @ m_unit.T, round_dp)
        out_v, out_n, out_s = [], [], []
        for i in range(len(p_ids)):
            s = sims[i].copy()
            s[m_ids == p_ids[i]] = -np.inf
            order = np.lexsort((m_ids, -s))[:k]
            out_v.extend([p_ids[i]] * len(order))
            out_n.extend(m_ids[order])
            out_s.extend(s[order])
        return pd.DataFrame(
            {"vec_id": out_v, "neighbor_id": out_n, "cos_sim": out_s}
        )

    cand = (
        probes.groupBy("cell")
        .cogroup(members.groupBy("cell"))
        .applyInPandas(cell_knn, schema=out_schema)
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@register(
    "sim_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qe FROM q)), 6)
             AS cos_sim
    FROM embeddings
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("ANN",),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for a query vector (vec_id=0):
    broadcast the 1-row query, map-side cosine, TakeOrderedAndProject
    (each partition ships only its local top-k)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cos = F.round(vectors.cosine(F.col("embedding"), F.col("qe")), 6)
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_ann_lsh_bucketed",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, label, embedding,
             {_duck_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    q AS (SELECT bucket AS qb, embedding::DOUBLE[] AS qe FROM sigs WHERE vec_id = 0)
    SELECT vec_id, label, bucket,
           round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qe FROM q)), 6)
             AS cos_sim
    FROM sigs
    WHERE bucket = (SELECT qb FROM q) AND vec_id <> 0
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("ANN", "LSH"),
)
def sim_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: 8 fixed hyperplanes -> 8 sign bits
    -> bucket id; search only the query's bucket, exact cosine inside it.
    Deterministic hyperplane literals make even this approximate path
    hash-checkable against DuckDB."""
    e = table(spark, sf_dir, "embeddings")
    sigs = e.select(
        "vec_id", "label", "embedding", _spark_bucket(F.col("embedding")).alias("bucket")
    )
    q = sigs.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qb"), F.col("embedding").alias("qe")
    )
    cos = F.round(vectors.cosine(F.col("embedding"), F.col("qe")), 6)
    return (
        sigs.crossJoin(q)
        .filter((F.col("bucket") == F.col("qb")) & (F.col("vec_id") != 0))
        .select("vec_id", "label", "bucket", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_label_centroid_distance",
    oracle="""
    WITH flat AS (
      SELECT label, vec_id, CAST(t.i AS INTEGER) AS dim,
             CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) t(i)
    ),
    centroids AS (
      SELECT label, dim, avg(x) AS cx FROM flat GROUP BY label, dim
    ),
    dots AS (
      SELECT f.vec_id, f.label,
             sum(f.x * c.cx) AS dot_qc,
             sqrt(sum(f.x * f.x)) AS norm_v,
             sqrt(sum(c.cx * c.cx)) AS norm_c
      FROM flat f JOIN centroids c ON f.label = c.label AND f.dim = c.dim
      GROUP BY f.vec_id, f.label
    )
    SELECT vec_id, label,
           round(dot_qc / (norm_v * norm_c), 4) AS cos_to_centroid
    FROM dots
    """,
    tags=("ANN",),
)
def sim_label_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF building block: per-label centroids (the coarse quantizer
    training step), then each vector's cosine to its own centroid.
    Centroid = element-wise mean via explode + groupBy(label, dim) —
    a single shuffle keyed on (label, dim); the rejoin is broadcast
    (|labels| x dim rows)."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "vec_id", "label", (F.col("dim0") + 1).alias("dim"), F.col("x").cast("double").alias("x")
    )
    centroids = flat.groupBy("label", "dim").agg(F.avg("x").alias("cx"))
    joined = flat.join(centroids, ["label", "dim"])
    return (
        joined.groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("x") * F.col("cx")).alias("dot_qc"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("norm_v"),
            F.sqrt(F.sum(F.col("cx") * F.col("cx"))).alias("norm_c"),
        )
        .select(
            "vec_id",
            "label",
            F.round(F.col("dot_qc") / (F.col("norm_v") * F.col("norm_c")), 4).alias(
                "cos_to_centroid"
            ),
        )
    )


@register(
    "sim_ivf_topk",
    oracle="""
    WITH flat AS (
      SELECT label, vec_id, CAST(t.i AS INTEGER) AS dim,
             CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) t(i)
    ),
    centroids AS (
      SELECT label, dim, avg(x) AS cx FROM flat GROUP BY label, dim
    ),
    qflat AS (SELECT dim, x AS qx FROM flat WHERE vec_id = 0),
    cent_scores AS (
      SELECT c.label,
             sum(c.cx * q.qx)
               / (sqrt(sum(c.cx * c.cx)) * sqrt(sum(q.qx * q.qx))) AS ccos
      FROM centroids c JOIN qflat q USING (dim)
      GROUP BY c.label
    ),
    probe AS (SELECT label FROM cent_scores ORDER BY ccos DESC, label ASC LIMIT 2),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qe FROM q)), 6)
             AS cos_sim
    FROM embeddings
    WHERE label IN (SELECT label FROM probe) AND vec_id <> 0
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("ANN", "IVF"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN search: per-label mean centroids are the
    coarse quantizer cells; the query probes its nprobe=2 nearest cells
    and runs exact cosine only inside them.

    Scale shape: centroid training is one (label, dim)-keyed aggregate;
    cell scoring touches |labels| x dim rows (tiny, broadcast); the
    final scan prunes to ~nprobe/|cells| of the corpus — with the
    embeddings table bucketed by cell id on disk, the probe becomes
    partition pruning instead of a filter."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select("vec_id", "label", F.posexplode("embedding").alias("dim0", "x")).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    centroids = flat.groupBy("label", "dim").agg(F.avg("x").alias("cx"))
    qflat = flat.filter(F.col("vec_id") == 0).select("dim", F.col("x").alias("qx"))
    cent_scores = (
        centroids.join(qflat, "dim")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("cx") * F.col("qx"))
                / (
                    F.sqrt(F.sum(F.col("cx") * F.col("cx")))
                    * F.sqrt(F.sum(F.col("qx") * F.col("qx")))
                )
            ).alias("ccos")
        )
    )
    probe = cent_scores.orderBy(F.desc("ccos"), F.asc("label")).limit(2).select("label")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cos = F.round(vectors.cosine(F.col("embedding"), F.col("qe")), 6)
    return (
        e.join(probe, "label")
        .filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_normalize_embeddings",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])), 6) AS norm,
           round(list_dot_product(
             list_transform(embedding::DOUBLE[],
                            x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                           embedding::DOUBLE[]))),
             list_transform(embedding::DOUBLE[],
                            x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                           embedding::DOUBLE[])))
           ), 6) AS unit_norm_sq
    FROM embeddings
    """,
    tags=("ANN",),
)
def sim_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side L2 normalization via higher-order functions — the
    preprocessing step every cosine pipeline shares (after it, cosine
    is a plain dot product). Zero Python; the oracle checks ||v|| and
    that the normalized vector has unit norm. fanout() spreads the
    per-element math across cores when the scan is single-partition
    (no-op at real scale, where this stays a pure scan->map pass)."""
    e = bind(
        fanout(table(spark, sf_dir, "embeddings")),
        emb=F.col("embedding").cast("array<double>"),
    )
    # norm and unit BIND as attributes: referenced from per-element
    # lambdas they would otherwise re-evaluate per element (the norm's
    # O(dim) dot inside the divide lambda -> O(dim^2)/row). Bound names
    # deliberately differ from the output aliases: Spark 4's lateral
    # column alias resolution lets a select-list alias SHADOW an input
    # column of the same name for sibling expressions, silently feeding
    # them the aliased (here: rounded) value.
    e = bind(e, nrm=F.sqrt(vectors.dot(F.col("emb"), F.col("emb"))))
    e = bind(e, unit=F.transform("emb", lambda x: x / F.col("nrm")))
    return e.select(
        "vec_id",
        F.round("nrm", 6).alias("norm"),
        F.round(vectors.dot(F.col("unit"), F.col("unit")), 6).alias("unit_norm_sq"),
    )


_KMEANS_K = 5
_KMEANS_ITERS = 3


def _kmeans_cte_parts(k: int = _KMEANS_K, iters: int = _KMEANS_ITERS):
    """Shared CTE chain for the kmeans oracle and everything built on
    top of its assignment (e.g. SemDeDup). Returns (with_parts, dist)
    where the last part is ``c{iters}`` (final centroids) and ``dist``
    is the distance expression used for assignments."""
    dist = (
        "list_reduce(list_transform(range(1, 65), "
        "j -> (e.v[j] - c.c[j]) * (e.v[j] - c.c[j])), (a, b) -> a + b)"
    )
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cluster, v AS c FROM e WHERE vec_id < {k})",
    ]
    for r in range(1, iters + 1):
        parts.append(
            f"""a{r} AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.cluster) AS rn
        FROM e CROSS JOIN c{r - 1} c
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""u{r} AS (
      SELECT a.cluster, t.j AS dim, round(avg(e.v[t.j]), 6) AS cx
      FROM a{r} a JOIN e USING (vec_id), range(1, 65) t(j)
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"n{r} AS (SELECT cluster, list(cx ORDER BY dim) AS c "
            f"FROM u{r} GROUP BY cluster)"
        )
        parts.append(
            f"c{r} AS (SELECT o.cluster, coalesce(n.c, o.c) AS c "
            f"FROM c{r - 1} o LEFT JOIN n{r} n USING (cluster))"
        )
    return parts, dist


def _kmeans_oracle(k: int = _KMEANS_K, iters: int = _KMEANS_ITERS) -> str:
    """DuckDB twin of sim_kmeans_clusters: the same Lloyd's rounds
    unrolled as a CTE chain. Distances fold left-to-right over the 64
    dims exactly like Spark's F.aggregate (list_reduce without an init
    starts at element 1, and 0.0 + t1 == t1), and each centroid update
    rounds to 6 decimals in both engines, which absorbs the
    engine-specific float-summation order of avg()."""
    parts, dist = _kmeans_cte_parts(k, iters)
    final = f"""
    SELECT vec_id, cluster FROM (
      SELECT e.vec_id, c.cluster,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist}, c.cluster) AS rn
      FROM e CROSS JOIN c{iters} c
    ) WHERE rn = 1
    """
    return ",\n    ".join(parts) + final


@register("sim_kmeans_clusters", oracle=_kmeans_oracle(), tags=("ANN", "ITER"))
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means over embeddings (k=5, 3 iterations,
    init = vectors with vec_id 0..k-1): the clustering step of
    cluster-based data curation (e.g. SemDeDup-style semantic dedup
    picks per-cluster representatives).

    Iteration shape at scale: assignment is map-only (distance to k
    broadcast centroid literals, argmin), update is one groupBy over
    (cluster, dim) — per round: one shuffle of k*dim partial sums, and
    k*dim doubles collected to the driver for the next round's
    broadcast (bounded: k x dim values, not data). Centroids round to
    6 decimals each update, making the whole iterative algorithm
    hash-checkable against an unrolled DuckDB CTE chain — float
    summation order only ever differs below the rounding grain."""
    # fanout: the scaled-replica embeddings files are one row group, so
    # without it every per-row k*dim distance evaluation and the
    # posexplode update serialize on one core (measured: the 20x sweep
    # point was 18.8 s starved vs ~7 s spread); structural no-op when
    # the scan already has >= defaultParallelism partitions.
    # localCheckpoint: Lloyd re-reads the matrix once per round (3
    # update collects + the final assignment) — materializing the
    # fanned-out frame pays the scan+exchange once instead of five
    # times (n x dim doubles, bounded and spillable).  Checkpoint, not
    # persist(): checkpoint blocks are freed by the ContextCleaner when
    # the frame is garbage-collected, so a long bench/sweep session
    # doesn't accumulate one cached n x dim matrix per invocation
    # (persist() without unpersist() leaks exactly that).  LAZY
    # (r9 opt round, the kcenter/BFS fold): the init-centroid collect
    # below is the first action over the frame and materializes the
    # checkpoint inside its own job — one fewer blocking driver job
    # per run (the query is job-latency-bound: 2000x64 doubles).
    e = fanout(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    ).localCheckpoint(eager=False)
    centroids = [
        r["emb"]
        for r in e.filter(F.col("vec_id") < _KMEANS_K)
        .orderBy("vec_id")
        .collect()
    ]

    def assign_expr(cents: list[list[float]]):
        dists = [
            F.aggregate(
                F.zip_with(
                    "emb",
                    F.array(*[F.lit(x) for x in c]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in cents
        ]
        # argmin with lowest-index tiebreak via struct ordering
        pairs = F.array(
            *[
                F.struct(d.alias("d"), F.lit(i).alias("i"))
                for i, d in enumerate(dists)
            ]
        )
        return F.array_min(pairs)["i"].alias("cluster")

    for _ in range(_KMEANS_ITERS):
        assigned = e.select("vec_id", "emb", assign_expr(centroids))
        # posexplode + (cluster, dim) aggregate, NOT per-dim avg
        # columns (measured r9 opt round: a 64-avg-column groupBy
        # re-codegen'd per round with the k x 64 assign literals read
        # 4.0-4.5 s vs 2.9-3.3 s baseline — whole-stage compile time
        # per round swamps the shuffle it saves at 2000 x 64 scale).
        new_c = (
            assigned.select("cluster", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("x"), 6).alias("cx"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in new_c:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["cx"]
        centroids = [
            [by_cluster[i][d] for d in sorted(by_cluster[i])]
            if i in by_cluster
            else centroids[i]  # empty cluster keeps its centroid
            for i in range(_KMEANS_K)
        ]

    return e.select("vec_id", assign_expr(centroids))


def shared_kmeans_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The (vec_id, cluster) k-means assignment, built once per session
    while `session.share_subtrees` is on, else computed fresh — the
    production shape: a curation pipeline clusters the embedding space
    once, then every cluster-scoped stage (SemDeDup) reads the
    assignment.  The registered k-means query itself always computes
    fresh so its own bench timing stays honest."""
    return shared(
        spark,
        sf_dir,
        "kmeans_assignment",
        lambda: sim_kmeans_clusters(spark, sf_dir),
    )


def _semdedup_oracle(threshold: float = 0.95) -> str:
    parts, dist = _kmeans_cte_parts()
    assign = f"""af AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.cluster) AS rn
        FROM e CROSS JOIN c{_KMEANS_ITERS} c
      ) WHERE rn = 1
    )"""
    return (
        ",\n    ".join(parts + [assign])
        + f""",
    m AS (
      SELECT a.vec_id, a.cluster,
             CASE WHEN list_inner_product(e.v, e.v) = 0 THEN e.v
                  ELSE list_transform(
                         e.v,
                         z -> z / sqrt(list_inner_product(e.v, e.v)))
             END AS u
      FROM af a JOIN e USING (vec_id)
    ),
    nb AS (
      SELECT x.vec_id, x.cluster, y.vec_id AS nid
      FROM m x JOIN m y ON x.cluster = y.cluster
      WHERE x.vec_id = y.vec_id
         OR round(list_inner_product(x.u, y.u), 4) >= {threshold}
    )
    SELECT vec_id, cluster, min(nid) AS keeper_vec_id,
           (min(nid) = vec_id) AS is_kept
    FROM nb GROUP BY vec_id, cluster
    """
    )


@register("dedup_semantic_semdedup", oracle=_semdedup_oracle(), tags=("DD", "ANN"))
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means clusters the embedding
    space, then semantic duplicates are detected ONLY within each
    cluster (cosine >= 0.95); every vector reports the minimum vec_id
    of its in-cluster near-dup neighborhood as keeper, and is kept iff
    it IS that minimum — the cluster-based curation step that makes
    semantic dedup tractable when all-pairs cosine is not.

    Scale shape: the cluster assignment is the sim_kmeans_clusters
    plan; pair scoring is the same per-block GEMM kernel as
    dedup_ngram_jaccard_pairs, with the k-means cluster as the block —
    one shuffle on cluster id, row-chunked matmul bounds memory, and
    the quadratic cost is confined to within-cluster comparisons
    (n^2/k per cluster under balanced clusters vs n^2 all-pairs)."""
    import numpy as np
    import pandas as pd

    assign = shared_kmeans_assignment(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = assign.join(e, "vec_id")

    out_schema = "vec_id LONG, cluster LONG, keeper_vec_id LONG, is_kept BOOLEAN"
    tile = 1024

    def cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        cl = pdf["cluster"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        norms = np.linalg.norm(mat, axis=1)
        safe = np.where(norms == 0, 1.0, norms)
        unit = mat / safe[:, None]
        unit[norms == 0] = 0.0
        keeper = np.empty(len(ids), dtype="int64")
        for lo in range(0, len(ids), tile):
            hi = min(lo + tile, len(ids))
            sims = np.round(unit[lo:hi] @ unit.T, 4)
            nb = sims >= 0.95
            nb[np.arange(lo, hi) - lo, np.arange(lo, hi)] = True  # self
            for i in range(hi - lo):
                keeper[lo + i] = ids[nb[i]].min()
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": cl,
                "keeper_vec_id": keeper,
                "is_kept": keeper == ids,
            }
        )

    return src.groupBy("cluster").applyInPandas(cluster_dedup, out_schema)


@register(
    "sim_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             greatest(list_max(list_transform(embedding::DOUBLE[],
                                              x -> abs(x))) / 127.0,
                      1e-12) AS scale
      FROM embeddings
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_aggregate(list_transform(v, x -> round(x / scale)),
                               'sum') AS BIGINT) AS q_sum,
           round(list_max(list_transform(
                   v, x -> abs(x - round(x / scale) * scale))), 6)
             AS max_abs_err
    FROM s
    """,
    tags=("ANN",),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of embeddings (per-vector
    scale = max|x|/127) — the compression step before shipping vectors
    to an ANN index.  Map-only higher-order functions, zero Python; at
    100 TB this is a pure scan->write pass (fanout() is a no-op there;
    it only spreads a starved single-partition scan).  The oracle
    checks the scale, the quantized-value checksum, and that the
    dequantization error stays within half a quantization step."""
    e = bind(
        fanout(table(spark, sf_dir, "embeddings")),
        emb=F.col("embedding").cast("array<double>"),
    )
    # scale BINDS as an attribute: three lambdas reference it, and each
    # per-element evaluation would otherwise recompute the O(dim)
    # array_max -> O(dim^2)/row. Bound as "qscale", NOT "scale": the
    # output alias round(qscale, 6) AS scale would otherwise SHADOW the
    # raw value for the sibling lambda expressions via Spark 4 lateral
    # column alias resolution — the quantizer would silently quantize
    # against the 6dp-rounded scale (caught by the oracle gate).
    e = bind(
        e,
        qscale=F.greatest(
            F.array_max(F.transform("emb", F.abs)) / 127.0, F.lit(1e-12)
        ),
    )
    scale = F.col("qscale")
    q = F.transform("emb", lambda x: F.round(x / scale))
    return e.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
        F.round(
            F.array_max(
                F.transform("emb", lambda x: F.abs(x - F.round(x / scale) * scale))
            ),
            6,
        ).alias("max_abs_err"),
    )


@register(
    "sim_knn_join_topk",
    oracle="""
    SELECT vec_id, neighbor_id, cos_sim FROM (
      SELECT a.vec_id,
             b.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4) AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                     b.embedding::DOUBLE[]), 4)
                        DESC, b.vec_id) AS rn
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ) WHERE rn <= 3
    """,
    tags=("ANN",),
)
def sim_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: top-3 cosine neighbors for EVERY vector (vs
    sim_cosine_topk's single query vector) — the all-pairs primitive
    behind near-dup mining and hard-negative retrieval.

    Same kernel family as dedup_embedding_cosine_pairs: the index side
    is one broadcast unit-normalized dense matrix, each Arrow batch of
    probes runs ONE GEMM, and the per-row top-k is selected inside the
    batch (full lexsort on (-sim, id) so 4-dp ties break identically
    to the oracle's window ORDER BY).  No |n^2| pair rows ever hit a
    shuffle — the only exchange is the k-row-per-vector result.  When
    the index outgrows executor memory, the same kernel runs per IVF
    cell (sim_ivf_topk is that scale path)."""
    import numpy as np
    import pandas as pd

    k = 3
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # Scale route: above the broadcast-size bound the full-index GEMM
    # is the wrong plan — switch to the per-IVF-cell kernel (identical
    # columns/rounding; approximate recall, documented).  Fixture-scale
    # runs stay on the exact brute kernel below, which is what the
    # oracle checks.
    if index_row_count(f"{sf_dir}/embeddings.parquet") > BRUTE_INDEX_MAX_ROWS:
        return ivf_knn_join(
            table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding", "label"
            ),
            k,
        )

    def normalize(ids_np, mat):
        norms = np.linalg.norm(mat, axis=1)
        keep = norms > 0
        return ids_np[keep], mat[keep] / norms[keep, None]

    # Index side loaded executor-side from the columnar file and cached
    # per worker (functions/vectors.load_unit_index) — replaces the
    # round-1 driver collect()+broadcast, which funneled the full
    # embeddings table through the driver.
    index_path = f"{sf_dir}/embeddings.parquet"

    out_schema = "vec_id LONG, neighbor_id LONG, cos_sim DOUBLE"

    def knn_batches(batches):
        from ..functions.vectors import load_unit_index

        rb = load_unit_index(index_path, "vec_id", "embedding")
        rb_ids = rb.ids
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids, a_mat = normalize(
                pdf["vec_id"].to_numpy(),
                np.stack(pdf["embedding"].to_numpy()).astype("float64"),
            )
            sims = np.round(rb.sims(a_mat), 4)
            out_v, out_n, out_s = [], [], []
            for i in range(len(a_ids)):
                s = sims[i].copy()
                s[rb_ids == a_ids[i]] = -np.inf  # exclude self
                order = np.lexsort((rb_ids, -s))[:k]
                out_v.extend([a_ids[i]] * len(order))
                out_n.extend(rb_ids[order])
                out_s.extend(s[order])
            yield pd.DataFrame(
                {"vec_id": out_v, "neighbor_id": out_n, "cos_sim": out_s}
            )

    from ..sources.tables import spread

    return spread(e, "vec_id").mapInPandas(knn_batches, schema=out_schema)


def _jl_matrix(out_dim: int = 8, in_dim: int = 64):
    """Deterministic sparse JL projection matrix (Achlioptas): entries
    in {-1, 0, +1} scaled by sqrt(3/out_dim), drawn from a fixed-seed
    PRNG — reproducible in BOTH engines because the literals are
    generated once here and embedded in each."""
    import random

    rng = random.Random(20240613)
    scale = (3.0 / out_dim) ** 0.5
    rows = []
    for _ in range(out_dim):
        row = []
        for _ in range(in_dim):
            u = rng.random()
            row.append(scale if u < 1 / 6 else (-scale if u < 2 / 6 else 0.0))
        rows.append(row)
    return rows


_JL = _jl_matrix()


@register(
    "sim_random_projection",
    oracle="SELECT vec_id, label,\n"
    + ",\n".join(
        f"       round(list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in row)}]::DOUBLE[]), 4) + 0.0 AS p{j}"
        for j, row in enumerate(_JL)
    )
    + "\n    FROM embeddings",
    tags=("ANN",),
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64 -> 8 with a
    deterministic sparse Achlioptas matrix ({-1,0,+1} entries, 2/3
    zeros).  Pure map stage in whole-stage codegen: each output dim is
    a zip_with+aggregate dot product against a literal array — no
    Python, no shuffle, and at 100 TB this is the cheap pre-pass that
    makes downstream LSH/clustering 8x narrower.  The fixed-seed
    matrix is embedded as identical literals in the Spark plan and the
    oracle SQL, so the reduction is exactly reproducible."""
    e = table(spark, sf_dir, "embeddings")
    cols = [
        # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0
        # from tiny negative dots, and the two engines disagree on it)
        (
            F.round(
                vectors.dot(F.col("embedding"), F.array(*[F.lit(v) for v in row])),
                4,
            )
            + 0.0
        ).alias(f"p{j}")
        for j, row in enumerate(_JL)
    ]
    return e.select("vec_id", "label", *cols)


# ---------------------------------------------------------------------------
# ANN quality evaluation: bucketed-LSH recall@10 against exact top-10
# ---------------------------------------------------------------------------

_RECALL_NQ = 20  # query vectors: vec_id < 20
_RECALL_K = 10


@register(
    "sim_ann_recall_eval",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {_duck_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qe, bucket AS qb
      FROM sigs WHERE vec_id < {_RECALL_NQ}
    ),
    pairs AS (
      SELECT q.qid, q.qb, s.vec_id, s.bucket,
             round(list_cosine_similarity(s.embedding::DOUBLE[], q.qe), 6)
               AS c
      FROM q JOIN sigs s ON s.vec_id <> q.qid
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS rn
        FROM pairs
      ) WHERE rn <= {_RECALL_K}
    ),
    ap AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS rn
        FROM pairs WHERE bucket = qb
      ) WHERE rn <= {_RECALL_K}
    ),
    hits AS (
      SELECT e.qid,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM exact e
      LEFT JOIN ap a ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
    ),
    napprox AS (SELECT qid, count(*) AS n_approx FROM ap GROUP BY qid)
    SELECT h.qid AS query_id,
           COALESCE(n.n_approx, CAST(0 AS BIGINT)) AS n_approx,
           h.n_hits
    FROM hits h LEFT JOIN napprox n ON n.qid = h.qid
    """,
    tags=("ANN", "LSH", "eval"),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@{_RECALL_K} of the LSH-bucketed
    search against exact brute-force top-{_RECALL_K}, per query vector
    (the first {_RECALL_NQ} ids) — n_hits of {_RECALL_K} exact
    neighbors found in the query's bucket, plus the bucket's candidate
    count. The "measure, don't guess" gate to run before trusting the
    8-bit single-probe path at scale (low n_hits says probe more
    buckets or add bits).

    Both rankings use the same rounded cosine and vec_id tiebreak, so
    the top-k SETS are engine-identical and the integer overlap hashes
    exactly. The {_RECALL_NQ}-row query set broadcasts; the pair scan
    is one pass over the index per query batch (BNLJ against the tiny
    broadcast side, NOT an index self-join); both row_number rankings
    share one (qid)-keyed exchange. Measured verdict on the fixture
    embeddings: mean n_hits ~ 0.1/10 — the single-probe 8-bit path is
    NOT enough here, and the multi-probe/IVF variants are the ones to
    ship; that quantified answer is exactly what this operator is for."""
    e = fanout(table(spark, sf_dir, "embeddings"))
    sigs = e.select(
        "vec_id",
        "embedding",
        _spark_bucket(F.col("embedding")).alias("bucket"),
        # per-ROW norm, so the pair scan below folds one dot per pair
        # instead of three (bit-identical — see vectors.cosine_pre).
        vectors.norm(F.col("embedding")).alias("ne"),
    )
    q = sigs.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
        F.col("ne").alias("nq"),
    )
    pairs = sigs.join(
        q, sigs["vec_id"] != q["qid"]
    ).select(
        "qid",
        "qb",
        "vec_id",
        "bucket",
        F.round(
            vectors.cosine_pre(
                F.col("embedding"), F.col("qe"), F.col("ne"), F.col("nq")
            ),
            6,
        ).alias("c"),
        # exact truth and the bucket-filtered ranking both read the
        # pair scan — materialize it once (r8 opt round, guide §1.2).
    ).localCheckpoint(eager=True)
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    exact = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    ap = (
        pairs.filter(F.col("bucket") == F.col("qb"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    hits = exact.join(
        ap.select(F.col("qid").alias("aqid"), F.col("vec_id").alias("avec")),
        (exact["qid"] == F.col("aqid")) & (exact["vec_id"] == F.col("avec")),
        "left",
    )
    hits_agg = hits.groupBy("qid").agg(
        F.sum(F.when(F.col("avec").isNotNull(), 1).otherwise(0)).alias(
            "n_hits"
        )
    )
    napprox = ap.groupBy("qid").agg(F.count(F.lit(1)).alias("n_approx"))
    return (
        hits_agg.join(napprox, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_approx"), F.lit(0).cast("long")).alias(
                "n_approx"
            ),
            "n_hits",
        )
    )


@register(
    "sim_lsh_multiprobe_recall_eval",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {_duck_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qe, bucket AS qb
      FROM sigs WHERE vec_id < {_RECALL_NQ}
    ),
    probes AS (
      SELECT qid, xor(qb, f.flip) AS pb
      FROM q, (SELECT unnest([0{"".join(f", {1 << i}" for i in range(_N_PLANES))}])
               AS flip) f
    ),
    pairs AS (
      SELECT q.qid, s.vec_id, s.bucket,
             round(list_cosine_similarity(s.embedding::DOUBLE[], q.qe), 6)
               AS c
      FROM q JOIN sigs s ON s.vec_id <> q.qid
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS rn
        FROM pairs
      ) WHERE rn <= {_RECALL_K}
    ),
    cand AS (
      SELECT DISTINCT p.qid, p.vec_id, p.c
      FROM pairs p JOIN probes pr ON pr.qid = p.qid AND pr.pb = p.bucket
    ),
    ap AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS rn
        FROM cand
      ) WHERE rn <= {_RECALL_K}
    ),
    hits AS (
      SELECT e.qid,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM exact e
      LEFT JOIN ap a ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
    ),
    napprox AS (SELECT qid, count(*) AS n_approx FROM cand GROUP BY qid)
    SELECT h.qid AS query_id,
           COALESCE(n.n_approx, CAST(0 AS BIGINT)) AS n_approx,
           h.n_hits
    FROM hits h LEFT JOIN napprox n ON n.qid = h.qid
    """,
    tags=("ANN", "LSH", "eval"),
)
def sim_lsh_multiprobe_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-probe LSH recall@10: the standard fix for single-probe
    LSH's measured ~0.1/10 (sim_ann_recall_eval) that does NOT build
    more hash tables — probe the query's bucket plus all 8 one-bit-flip
    neighbors (the Hamming-1 ball; Lv et al., "Multi-Probe LSH"), i.e.
    scan 9/256 of the bucket space instead of 1/256.  Same exact
    rounded-cosine ranking inside the candidate set, so the whole eval
    hash-matches the oracle; n_approx reports the probe cost alongside
    n_hits, the same recall/cost contract as the IVF frontier.

    Scale shape: the probe list is a broadcast (queries x 9 rows);
    candidates come from the same one-pass index scan the single-probe
    eval uses (bucket-equality against the broadcast probe list —
    bucket-partitioned pruning at scale), then one (qid)-keyed window.
    Flipping the LOWEST-confidence bits first (|dot| smallest) is the
    production refinement; the full Hamming-1 ball is its
    deterministic, oracle-replayable superset."""
    e = fanout(table(spark, sf_dir, "embeddings"))
    sigs = e.select(
        "vec_id",
        "embedding",
        _spark_bucket(F.col("embedding")).alias("bucket"),
        # per-ROW norm: one dot per pair below, not three (cosine_pre).
        vectors.norm(F.col("embedding")).alias("ne"),
    )
    q = sigs.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
        F.col("ne").alias("nq"),
    )
    flips = F.array(
        F.lit(0), *[F.lit(1 << i) for i in range(_N_PLANES)]
    )
    probes = q.select(
        "qid", "qb", F.explode(flips).alias("flip")
    ).select("qid", F.expr("qb ^ flip").alias("pb"))
    pairs = sigs.join(q, sigs["vec_id"] != q["qid"]).select(
        "qid",
        "vec_id",
        "bucket",
        F.round(
            vectors.cosine_pre(
                F.col("embedding"), F.col("qe"), F.col("ne"), F.col("nq")
            ),
            6,
        ).alias("c"),
        # exact truth and the probed candidate set both read the pair
        # scan — materialize it once (r8 opt round, guide §1.2).
    ).localCheckpoint(eager=True)
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    exact = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    cand = (
        pairs.join(
            probes,
            (pairs["qid"] == probes["qid"]) & (pairs["bucket"] == probes["pb"]),
        )
        .select(pairs["qid"], "vec_id", "c")
        .distinct()
    )
    ap = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    hits = exact.join(
        ap.select(F.col("qid").alias("aqid"), F.col("vec_id").alias("avec")),
        (exact["qid"] == F.col("aqid")) & (exact["vec_id"] == F.col("avec")),
        "left",
    )
    hits_agg = hits.groupBy("qid").agg(
        F.sum(F.when(F.col("avec").isNotNull(), 1).otherwise(0)).alias(
            "n_hits"
        )
    )
    napprox = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_approx"))
    return hits_agg.join(napprox, "qid", "left").select(
        F.col("qid").alias("query_id"),
        F.coalesce(F.col("n_approx"), F.lit(0).cast("long")).alias(
            "n_approx"
        ),
        "n_hits",
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: IVF (nprobe=2) recall@10 against exact top-10
# ---------------------------------------------------------------------------

_IVF_NPROBE = 2


@register(
    "sim_ivf_recall_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {_RECALL_NQ}
    ),
    flat AS (
      SELECT label, gs.dim, (embedding::DOUBLE[])[gs.dim] AS x
      FROM embeddings,
      LATERAL (SELECT unnest(range(1, 65)) AS dim) gs
    ),
    cent AS (
      SELECT label, dim, avg(x) AS cx FROM flat GROUP BY label, dim
    ),
    cscore AS (
      SELECT q.qid, c.label,
             sum(c.cx * q.qe[c.dim])
               / (sqrt(sum(c.cx * c.cx)) * sqrt(sum(q.qe[c.dim] * q.qe[c.dim])))
               AS ccos
      FROM cent c, q
      GROUP BY q.qid, c.label
    ),
    probes AS (
      SELECT qid, label FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, label)
                 AS rn
        FROM cscore
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    pairs AS (
      SELECT q.qid, s.vec_id, s.label,
             round(list_cosine_similarity(s.embedding::DOUBLE[], q.qe), 6)
               AS c
      FROM q JOIN embeddings s ON s.vec_id <> q.qid
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS rn
        FROM pairs
      ) WHERE rn <= {_RECALL_K}
    ),
    ap AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, p.vec_id,
               row_number() OVER (PARTITION BY p.qid
                                  ORDER BY p.c DESC, p.vec_id) AS rn
        FROM pairs p JOIN probes pr
          ON pr.qid = p.qid AND pr.label = p.label
      ) WHERE rn <= {_RECALL_K}
    ),
    hits AS (
      SELECT e.qid,
             CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM exact e
      LEFT JOIN ap a ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
    ),
    napprox AS (SELECT qid, count(*) AS n_approx FROM ap GROUP BY qid)
    SELECT h.qid AS query_id,
           COALESCE(n.n_approx, CAST(0 AS BIGINT)) AS n_approx,
           h.n_hits
    FROM hits h LEFT JOIN napprox n ON n.qid = h.qid
    """,
    tags=("ANN", "eval"),
)
def sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_RECALL_K} of IVF search (per-label centroid cells,
    nprobe={_IVF_NPROBE}) against exact top-{_RECALL_K}, for the same
    {_RECALL_NQ} query vectors as sim_ann_recall_eval — the measured
    A/B between the engine's two approximate paths. On the fixture
    embeddings IVF measures mean n_hits ~ 2.7/10 vs single-probe
    LSH's ~0.1/10 — a 27x recall advantage at nprobe=2; shipping
    decisions should follow these numbers, not intuition.

    Centroid cells come from one (label, dim)-keyed aggregate; each
    query scores |cells| centroids (tiny, broadcast) and scans only
    its probed cells. Exact side reuses the broadcast-query BNLJ pair
    scan; all rankings share one (qid)-keyed exchange."""
    from pyspark.sql import Window

    e = fanout(table(spark, sf_dir, "embeddings")).withColumn(
        # per-ROW norm: one dot per pair below, not three (cosine_pre).
        "ne", vectors.norm(F.col("embedding"))
    )
    q = e.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("ne").alias("nq"),
    )
    flat = e.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label", (F.col("dim0") + 1).alias("dim"), F.col("x").cast("double").alias("x")
    )
    cent = (
        flat.groupBy("label", "dim")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("cx")))
                ),
                lambda s: s["cx"],
            ).alias("carr")
        )
    )
    cscore = q.crossJoin(cent).select(
        "qid", "label", vectors.cosine(F.col("carr"), F.col("qe")).alias("ccos")
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("label"))
    probes = (
        cscore.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("qid", "label")
    )
    pairs = e.join(q, e["vec_id"] != q["qid"]).select(
        "qid",
        "vec_id",
        "label",
        F.round(
            vectors.cosine_pre(
                F.col("embedding"), F.col("qe"), F.col("ne"), F.col("nq")
            ),
            6,
        ).alias("c"),
        # exact truth and the probed ranking both read the pair scan —
        # materialize it once (r8 opt round, guide §1.2).
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    exact = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    ap = (
        pairs.join(F.broadcast(probes), ["qid", "label"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    hits = exact.join(
        ap.select(F.col("qid").alias("aqid"), F.col("vec_id").alias("avec")),
        (exact["qid"] == F.col("aqid")) & (exact["vec_id"] == F.col("avec")),
        "left",
    )
    hits_agg = hits.groupBy("qid").agg(
        F.sum(F.when(F.col("avec").isNotNull(), 1).otherwise(0)).alias("n_hits")
    )
    napprox = ap.groupBy("qid").agg(F.count(F.lit(1)).alias("n_approx"))
    return hits_agg.join(napprox, "qid", "left").select(
        F.col("qid").alias("query_id"),
        F.coalesce(F.col("n_approx"), F.lit(0).cast("long")).alias("n_approx"),
        "n_hits",
    )


# ---------------------------------------------------------------------------
# IVF nprobe recall/cost frontier: the operating-point measurement
# ---------------------------------------------------------------------------

#: Probe counts swept by the frontier eval (of the fixture's 10 cells).
_FRONTIER_NPROBES = (1, 2, 4, 8)


@register(
    "sim_ivf_nprobe_frontier",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {_RECALL_NQ}
    ),
    flat AS (
      SELECT label, gs.dim, (embedding::DOUBLE[])[gs.dim] AS x
      FROM embeddings,
      LATERAL (SELECT unnest(range(1, 65)) AS dim) gs
    ),
    cent AS (
      SELECT label, dim, avg(x) AS cx FROM flat GROUP BY label, dim
    ),
    cscore AS (
      SELECT q.qid, c.label,
             sum(c.cx * q.qe[c.dim])
               / (sqrt(sum(c.cx * c.cx)) * sqrt(sum(q.qe[c.dim] * q.qe[c.dim])))
               AS ccos
      FROM cent c, q
      GROUP BY q.qid, c.label
    ),
    probes AS (
      SELECT qid, label, rn FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, label)
                 AS rn
        FROM cscore
      ) WHERE rn <= {max(_FRONTIER_NPROBES)}
    ),
    np AS (SELECT unnest([{", ".join(str(n) for n in _FRONTIER_NPROBES)}])
             AS nprobe),
    pn AS (
      SELECT np.nprobe, p.qid, p.label
      FROM probes p JOIN np ON p.rn <= np.nprobe
    ),
    pairs AS (
      SELECT q.qid, s.vec_id, s.label,
             round(list_cosine_similarity(s.embedding::DOUBLE[], q.qe), 6)
               AS c
      FROM q JOIN embeddings s ON s.vec_id <> q.qid
    ),
    apn AS (
      SELECT pn.nprobe, p.qid, p.vec_id, p.c
      FROM pairs p JOIN pn ON pn.qid = p.qid AND pn.label = p.label
    ),
    topk AS (
      SELECT nprobe, qid, vec_id FROM (
        SELECT nprobe, qid, vec_id,
               row_number() OVER (PARTITION BY nprobe, qid
                                  ORDER BY c DESC, vec_id) AS rn
        FROM apn
      ) WHERE rn <= {_RECALL_K}
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS rn
        FROM pairs
      ) WHERE rn <= {_RECALL_K}
    ),
    hits AS (
      SELECT t.nprobe, CAST(count(*) AS BIGINT) AS total_hits
      FROM topk t JOIN exact e ON e.qid = t.qid AND e.vec_id = t.vec_id
      GROUP BY t.nprobe
    ),
    cands AS (
      SELECT nprobe, CAST(count(*) AS BIGINT) AS total_candidates
      FROM apn GROUP BY nprobe
    )
    SELECT c.nprobe,
           COALESCE(h.total_hits, CAST(0 AS BIGINT)) AS total_hits,
           c.total_candidates
    FROM cands c LEFT JOIN hits h ON h.nprobe = c.nprobe
    """,
    tags=("ANN", "eval"),
)
def sim_ivf_nprobe_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost FRONTIER (VERDICT r7 #1): one row per
    nprobe in {1, 2, 4, 8} with recall@10 hits summed over the same
    20 query vectors as sim_ivf_recall_eval, plus the total candidate
    count (probe cost).  This is the measurement that picks — or
    refuses — an operating point: measured on the fixture embeddings,
    total_hits grows ~LINEARLY with candidates (≈ 29/57/102/174 of
    200 at nprobe 1/2/4/8 over 10 cells), i.e. recall ≈ fraction of
    the index scanned.  That is the theoretical floor for a coarse
    quantizer over ISOTROPIC vectors — the fixture's labels carry no
    geometry (within-label mean cosine 0.0016 vs cross-label 0.0003;
    only 11.6% of exact top-10 share the query's label against a 10%
    chance baseline) — so there is NO knee here, and no nprobe is
    "right": cells that don't capture structure can only buy recall
    with scan fraction.  The planted-cluster A/B
    (tests/test_ops_r8.py) runs THIS query on structured embeddings
    and the frontier saturates at nprobe=1 — proving the machinery,
    not the data, and making the fixture's asymptote an honest
    property of random vectors.  Production guidance in the composed
    path's docstring (sim_ivf_pq_topk).

    All rankings reuse the established cell machinery: one
    (label, dim) aggregate for centroids, a broadcast 20-row query
    frame, one BNLJ pair scan shared by the exact truth and every
    nprobe variant (candidate sets are subsets — the sweep adds one
    broadcast join and one (nprobe, qid)-keyed window, not another
    pair scan per point)."""
    from pyspark.sql import Window

    e = fanout(table(spark, sf_dir, "embeddings")).withColumn(
        # per-ROW norm: one dot per pair below, not three (cosine_pre).
        "ne", vectors.norm(F.col("embedding"))
    )
    q = e.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("ne").alias("nq"),
    )
    flat = e.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label", (F.col("dim0") + 1).alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    cent = (
        flat.groupBy("label", "dim")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("cx")))
                ),
                lambda s: s["cx"],
            ).alias("carr")
        )
    )
    cscore = q.crossJoin(cent).select(
        "qid", "label", vectors.cosine(F.col("carr"), F.col("qe")).alias("ccos")
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("label"))
    probes = (
        cscore.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max(_FRONTIER_NPROBES))
        .select("qid", "label", "rn")
    )
    np_df = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(n) for n in _FRONTIER_NPROBES])
        ).alias("nprobe")
    )
    pn = probes.join(
        np_df, probes["rn"] <= F.col("nprobe")
    ).select("nprobe", "qid", "label")
    pairs = e.join(q, e["vec_id"] != q["qid"]).select(
        "qid",
        "vec_id",
        "label",
        F.round(
            vectors.cosine_pre(
                F.col("embedding"), F.col("qe"), F.col("ne"), F.col("nq")
            ),
            6,
        ).alias("c"),
        # the exact truth and every nprobe variant read the pair scan —
        # materialize it once (r8 opt round, guide §1.2).
    ).localCheckpoint(eager=True)
    apn = pairs.join(F.broadcast(pn), ["qid", "label"])
    wk = Window.partitionBy("nprobe", "qid").orderBy(
        F.desc("c"), F.asc("vec_id")
    )
    topk = (
        apn.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _RECALL_K)
        .select("nprobe", "qid", "vec_id")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    exact = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    hits = topk.join(exact, ["qid", "vec_id"]).groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("total_hits")
    )
    cands = apn.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("total_candidates")
    )
    return cands.join(hits, "nprobe", "left").select(
        "nprobe",
        F.coalesce(F.col("total_hits"), F.lit(0).cast("long")).alias(
            "total_hits"
        ),
        "total_candidates",
    )


# ---------------------------------------------------------------------------
# Dimension-truncation recall: cosine over a prefix of the embedding
# ---------------------------------------------------------------------------

_TRUNC_DIM = 16


@register(
    "sim_truncation_recall_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {_RECALL_NQ}
    ),
    pairs AS (
      SELECT q.qid, s.vec_id,
             round(list_cosine_similarity(s.embedding::DOUBLE[], q.qe), 6)
               AS c_full,
             round(list_cosine_similarity(
               (s.embedding::DOUBLE[])[1:{_TRUNC_DIM}],
               q.qe[1:{_TRUNC_DIM}]), 6) AS c_trunc
      FROM q JOIN embeddings s ON s.vec_id <> q.qid
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY c_full DESC, vec_id) AS rn
        FROM pairs
      ) WHERE rn <= {_RECALL_K}
    ),
    ap AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY c_trunc DESC, vec_id) AS rn
        FROM pairs
      ) WHERE rn <= {_RECALL_K}
    )
    SELECT e.qid AS query_id,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits
    FROM exact e
    LEFT JOIN ap a ON a.qid = e.qid AND a.vec_id = e.vec_id
    GROUP BY e.qid
    """,
    tags=("ANN", "eval"),
)
def sim_truncation_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-compression evaluation (the Matryoshka question):
    recall@{_RECALL_K} of ranking by cosine over only the FIRST
    {_TRUNC_DIM} of 64 dimensions vs the full-dimension exact top-k —
    per query, how many true neighbors a 4x-cheaper prefix index would
    keep. The third entry in the approximate-path A/B family
    (LSH-bucket recall, IVF-probe recall, now dimension truncation):
    run these BEFORE choosing which compression ships at 100 TB.

    Same engine-identical protocol as the siblings: both rankings use
    rounded cosine with vec_id tiebreak so the top-k SETS hash
    exactly; the {_RECALL_NQ}-row query set broadcasts; both rankings
    share one qid-keyed exchange."""
    from pyspark.sql import Window

    emb_d = F.col("embedding").cast("array<double>")
    qe_d = F.col("qe").cast("array<double>")
    # per-ROW norms (full + prefix): one dot per pair per ranking
    # below, not three (bit-identical — vectors.cosine_pre).
    e = fanout(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        vectors.norm(emb_d).alias("ne"),
        vectors.norm(F.slice(emb_d, 1, _TRUNC_DIM)).alias("ne_tr"),
    )
    q = e.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("ne").alias("nq"),
        F.col("ne_tr").alias("nq_tr"),
    )
    pairs = e.join(q, e["vec_id"] != q["qid"]).select(
        "qid",
        "vec_id",
        F.round(
            vectors.cosine_pre(emb_d, qe_d, F.col("ne"), F.col("nq")), 6
        ).alias("c_full"),
        F.round(
            vectors.cosine_pre(
                F.slice(emb_d, 1, _TRUNC_DIM),
                F.slice(qe_d, 1, _TRUNC_DIM),
                F.col("ne_tr"),
                F.col("nq_tr"),
            ),
            6,
        ).alias("c_trunc"),
        # both rankings read the pair scan — materialize it once.
    ).localCheckpoint(eager=True)
    w_full = Window.partitionBy("qid").orderBy(F.desc("c_full"), F.asc("vec_id"))
    w_tr = Window.partitionBy("qid").orderBy(F.desc("c_trunc"), F.asc("vec_id"))
    exact = (
        pairs.withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    ap = (
        pairs.withColumn("rn", F.row_number().over(w_tr))
        .filter(F.col("rn") <= _RECALL_K)
        .select(F.col("qid").alias("aqid"), F.col("vec_id").alias("avec"))
    )
    return (
        exact.join(
            ap,
            (exact["qid"] == F.col("aqid")) & (exact["vec_id"] == F.col("avec")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.sum(F.when(F.col("avec").isNotNull(), 1).otherwise(0)).alias(
                "n_hits"
            )
        )
        .select(F.col("qid").alias("query_id"), "n_hits")
    )


# ---------------------------------------------------------------------------
# Product quantization: per-subspace codes + reconstruction error
# ---------------------------------------------------------------------------

_PQ_M = 4           # subspaces
_PQ_SUB = _DIM // _PQ_M
_PQ_K = 16          # codebook entries per subspace (vec_id 0..15)
_PQ_GRID = 1_000_000  # integer grid: q(x) = floor(x * grid)


def _pq_oracle() -> str:
    def dist(s: int) -> str:
        lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB + 1
        return (
            f"CAST(list_sum(list_transform(range({lo}, {hi}), "
            f"i -> (qv[i]-qc[i])*(qv[i]-qc[i]))) AS BIGINT)"
        )

    dcols = ",\n         ".join(f"{dist(s)} AS d{s}" for s in range(_PQ_M))
    mcols = ",\n         ".join(
        f"min(struct_pack(d := d{s}, c := cid)) AS m{s}" for s in range(_PQ_M)
    )
    codes = ",\n           ".join(
        f"CAST(m{s}.c AS INTEGER) AS code_{s}" for s in range(_PQ_M)
    )
    tot = " + ".join(f"m{s}.d" for s in range(_PQ_M))
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {_PQ_GRID}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, qv AS qc FROM e WHERE vec_id < {_PQ_K}),
    d AS (
      SELECT e.vec_id, e.label, c.cid,
         {dcols}
      FROM e, c
    ),
    m AS (
      SELECT vec_id, label,
         {mcols}
      FROM d GROUP BY vec_id, label
    )
    SELECT vec_id, label,
           {codes},
           round(({tot}) / {float(_PQ_GRID) ** 2}, 6) AS recon_err
    FROM m
    """


@register("sim_pq_codes", oracle=_pq_oracle(), tags=("ANN", "PQ"))
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each embedding splits into {_PQ_M} disjoint
    {_PQ_SUB}-dim subvectors, each assigned to its nearest of {_PQ_K}
    codebook entries (deterministic codebook: the subvectors of
    vec_id 0..{_PQ_K - 1}) — the compression behind IVF-PQ, the
    standard billion-vector ANN layout: {_PQ_M} bytes/vector instead of
    {_DIM} floats, with the returned per-vector reconstruction error
    (sum of squared subspace residuals) as the fidelity audit, the same
    ship-with-its-eval discipline as sim_*_recall_eval.  Vectors are
    snapped to a {_PQ_GRID} integer grid first, so every distance is an
    exact BIGINT and argmin ties break on codebook id identically in
    both engines — no float comparison anywhere near a code boundary.

    Scale shape: the codebook is {_PQ_K} rows — a broadcast cross join;
    distances and the per-subspace min(struct) argmin partial-aggregate
    map-side, so the one vec_id exchange carries {_PQ_M} structs per
    vector, not the {_PQ_K}-way candidate fan.  At 100 TB the codebook
    is trained offline (k-means per subspace — sim_kmeans_clusters is
    the building block); assignment, the hot path, is exactly this
    broadcast-GEMM-argmin shape."""
    # fanout keyed on vec_id: the per-row work here is the K-way x M
    # subspace distance battery, which a single-row-group scan would
    # serialize on one core (the k-means starved-scan lesson); keying
    # lets the vec_id argmin groupBy reuse the same exchange.
    e = fanout(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _PQ_GRID).cast("long"),
            ).alias("qv"),
        ),
        "vec_id",
    )
    cb = e.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("qv").alias("qc")
    )
    d = e.crossJoin(cb)
    dist = [
        F.aggregate(
            F.zip_with(
                F.slice("qv", s * _PQ_SUB + 1, _PQ_SUB),
                F.slice("qc", s * _PQ_SUB + 1, _PQ_SUB),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"d{s}")
        for s in range(_PQ_M)
    ]
    scored = d.select("vec_id", "label", "cid", *dist)
    m = scored.groupBy("vec_id", "label").agg(
        *[
            F.min(F.struct(F.col(f"d{s}").alias("d"), F.col("cid").alias("c")))
            .alias(f"m{s}")
            for s in range(_PQ_M)
        ]
    )
    tot = sum(F.col(f"m{s}.d") for s in range(1, _PQ_M)) + F.col("m0.d")
    return m.select(
        "vec_id",
        "label",
        *[F.col(f"m{s}.c").alias(f"code_{s}") for s in range(_PQ_M)],
        F.round(tot / F.lit(float(_PQ_GRID) ** 2), 6).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC) with its recall audit
# ---------------------------------------------------------------------------


def _pq_adc_oracle() -> str:
    def dist(s: int, a: str, b: str) -> str:
        lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB + 1
        return (
            f"CAST(list_sum(list_transform(range({lo}, {hi}), "
            f"i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i]))) AS BIGINT)"
        )

    dcols = ",\n         ".join(
        f"{dist(s, 'e.qv', 'c.qc')} AS d{s}" for s in range(_PQ_M)
    )
    mcols = ",\n         ".join(
        f"min(struct_pack(d := d{s}, c := cid)) AS m{s}" for s in range(_PQ_M)
    )
    lcols = ",\n         ".join(
        f"{dist(s, 'q.qq', 'c.qc')} AS l{s}" for s in range(_PQ_M)
    )
    ljoins = "\n      ".join(
        f"JOIN lut t{s} ON t{s}.cid = m.m{s}.c" for s in range(_PQ_M)
    )
    asum = " + ".join(f"t{s}.l{s}" for s in range(_PQ_M))
    grid2 = float(_PQ_GRID) ** 2
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {_PQ_GRID}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, qv AS qc FROM e WHERE vec_id < {_PQ_K}),
    q AS (SELECT qv AS qq FROM e WHERE vec_id = 0),
    d AS (
      SELECT e.vec_id, c.cid,
         {dcols}
      FROM e, c WHERE e.vec_id <> 0
    ),
    m AS (
      SELECT vec_id,
         {mcols}
      FROM d GROUP BY vec_id
    ),
    lut AS (
      SELECT c.cid,
         {lcols}
      FROM c, q
    ),
    adc AS (
      SELECT m.vec_id, {asum} AS adist
      FROM m
      {ljoins}
    ),
    exact AS (
      SELECT e.vec_id,
             CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                  i -> (e.qv[i]-q.qq[i])*(e.qv[i]-q.qq[i]))) AS BIGINT)
               AS edist
      FROM e, q WHERE e.vec_id <> 0
    ),
    top AS (SELECT vec_id FROM exact ORDER BY edist, vec_id LIMIT 10)
    SELECT a.vec_id,
           round(a.adist / {grid2}, 6) AS adc_dist,
           round(x.edist / {grid2}, 6) AS exact_dist,
           t.vec_id IS NOT NULL AS in_exact_top10
    FROM adc a
    JOIN exact x ON x.vec_id = a.vec_id
    LEFT JOIN top t ON t.vec_id = a.vec_id
    ORDER BY a.adist, a.vec_id LIMIT 10
    """


@register(
    "sim_pq_adc_recall_eval", oracle=_pq_adc_oracle(), tags=("ANN", "PQ", "eval")
)
def sim_pq_adc_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-10 for the query vector
    (vec_id 0) WITH its recall audit — completing the PQ story started
    by sim_pq_codes: the query stays full-precision, each database
    vector is its {_PQ_M}-byte code, and distance is looked up from a
    {_PQ_K}x{_PQ_M} query-to-codebook table instead of touching the
    vector — the scan that makes billion-vector search fit in RAM.
    Each returned row carries its TRUE distance and whether it belongs
    to the exact top-10, so the quantization's ranking damage is
    measured in the result itself (ship-with-its-eval, as for
    IVF/LSH/truncation).  All distances are exact integers on the
    {_PQ_GRID} grid — argmin, LUT, and ranking are engine-exact.

    Scale shape: codes come from the sim_pq_codes assignment
    (broadcast codebook); the LUT is {_PQ_K} rows built from one
    broadcast of the 1-row query; the ADC scan is {_PQ_M} broadcast
    LUT probes per code — no vector arithmetic per candidate; the
    exact side (for the audit only) is the one full GEMM pass."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _PQ_GRID).cast("long"),
        ).alias("qv"),
    )
    cb = e.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("qv").alias("qc")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("qv").alias("qq"))

    def sub_dist(a: str, b: str, s: int):
        return F.aggregate(
            F.zip_with(
                F.slice(a, s * _PQ_SUB + 1, _PQ_SUB),
                F.slice(b, s * _PQ_SUB + 1, _PQ_SUB),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    d = e.filter(F.col("vec_id") != 0).crossJoin(cb)
    scored = d.select(
        "vec_id", "cid", *[sub_dist("qv", "qc", s).alias(f"d{s}") for s in range(_PQ_M)]
    )
    m = scored.groupBy("vec_id").agg(
        *[
            F.min(F.struct(F.col(f"d{s}").alias("d"), F.col("cid").alias("c")))
            .alias(f"m{s}")
            for s in range(_PQ_M)
        ]
    )
    lut = cb.crossJoin(q).select(
        "cid", *[sub_dist("qq", "qc", s).alias(f"l{s}") for s in range(_PQ_M)]
    )
    adc = m
    for s in range(_PQ_M):
        ls = lut.select(F.col("cid").alias(f"c{s}"), f"l{s}")
        adc = adc.join(F.broadcast(ls), F.col(f"m{s}.c") == F.col(f"c{s}"))
    adist = sum(F.col(f"l{s}") for s in range(1, _PQ_M)) + F.col("l0")
    adc = adc.select("vec_id", adist.alias("adist"))
    exact = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("qv", "qq", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("edist"),
        )
    )
    top = exact.orderBy("edist", "vec_id").limit(10).select(
        F.col("vec_id").alias("tvid")
    )
    grid2 = float(_PQ_GRID) ** 2
    return (
        adc.join(exact, "vec_id")
        .join(top, adc["vec_id"] == F.col("tvid"), "left")
        .orderBy("adist", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            F.round(F.col("adist") / grid2, 6).alias("adc_dist"),
            F.round(F.col("edist") / grid2, 6).alias("exact_dist"),
            F.col("tvid").isNotNull().alias("in_exact_top10"),
        )
    )


# ---------------------------------------------------------------------------
# Trained PQ codebook: per-subspace k-means, then the same ADC eval
# ---------------------------------------------------------------------------

#: Lloyd iterations for the per-subspace codebook training (unrolled in
#: both engines; deterministic init = the first _PQ_K subvectors, i.e.
#: exactly the codebook the untrained ADC path uses, so the eval
#: isolates what TRAINING buys).
_PQ_TI = 2


def _pq_trained_oracle() -> str:
    def dist(v: str, c: str) -> str:
        return (
            f"CAST(list_sum(list_transform(range(1, {_PQ_SUB + 1}), "
            f"i -> ({v}[i]-{c}[i])*({v}[i]-{c}[i]))) AS BIGINT)"
        )

    # one Lloyd iteration: assign to nearest centroid, recompute each
    # centroid as the per-dim floored mean of its members (floor of an
    # IEEE-double division of small exact integers — identical in both
    # engines), keep the previous centroid for emptied clusters
    def lloyd(prev: str, a: str, av: str, u: str, out: str) -> str:
        return f"""
    {a} AS (
      SELECT sub.vec_id, sub.s,
             min(struct_pack(d := {dist("sub.v", "c.c")}, c := c.cid)) AS m
      FROM sub JOIN {prev} c USING (s)
      GROUP BY sub.vec_id, sub.s
    ),
    {av} AS (
      SELECT a.s, a.m.c AS cid, d.i AS dim, sub.v[d.i] AS x
      FROM {a} a JOIN sub USING (vec_id, s), range(1, {_PQ_SUB + 1}) d(i)
    ),
    {u} AS (
      SELECT s, cid, list(cx ORDER BY dim) AS c
      FROM (
        SELECT s, cid, dim,
               CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)
                 AS cx
        FROM {av} GROUP BY s, cid, dim
      ) GROUP BY s, cid
    ),
    {out} AS (
      SELECT p.s, p.cid, COALESCE(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN {u} u ON u.s = p.s AND u.cid = p.cid
    )"""

    rounds = ",".join(
        lloyd(f"c{i}", f"a{i + 1}", f"av{i + 1}", f"u{i + 1}", f"c{i + 1}")
        for i in range(_PQ_TI)
    )
    grid2 = float(_PQ_GRID) ** 2
    return f"""
    WITH eq AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {_PQ_GRID}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, t.s,
             list_slice(qv, t.s * {_PQ_SUB} + 1, (t.s + 1) * {_PQ_SUB}) AS v
      FROM eq, range({_PQ_M}) t(s)
    ),
    c0 AS (
      SELECT s, CAST(vec_id AS INT) AS cid, v AS c
      FROM sub WHERE vec_id < {_PQ_K}
    ),{rounds},
    codes AS (
      SELECT sub.vec_id, sub.s,
             min(struct_pack(d := {dist("sub.v", "c.c")}, c := c.cid)).c
               AS cid
      FROM sub JOIN c{_PQ_TI} c USING (s)
      WHERE sub.vec_id <> 0
      GROUP BY sub.vec_id, sub.s
    ),
    qsub AS (SELECT s, v AS qv FROM sub WHERE vec_id = 0),
    lut AS (
      SELECT c.s, c.cid, {dist("q.qv", "c.c")} AS l
      FROM c{_PQ_TI} c JOIN qsub q USING (s)
    ),
    adc AS (
      SELECT k.vec_id, sum(l.l) AS adist
      FROM codes k JOIN lut l ON l.s = k.s AND l.cid = k.cid
      GROUP BY k.vec_id
    ),
    q AS (SELECT qv AS qq FROM eq WHERE vec_id = 0),
    exact AS (
      SELECT e.vec_id,
             CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                  i -> (e.qv[i]-q.qq[i])*(e.qv[i]-q.qq[i]))) AS BIGINT)
               AS edist
      FROM eq e, q WHERE e.vec_id <> 0
    ),
    top AS (SELECT vec_id FROM exact ORDER BY edist, vec_id LIMIT 10)
    SELECT a.vec_id,
           round(a.adist / {grid2}, 6) AS adc_dist,
           round(x.edist / {grid2}, 6) AS exact_dist,
           t.vec_id IS NOT NULL AS in_exact_top10
    FROM adc a
    JOIN exact x ON x.vec_id = a.vec_id
    LEFT JOIN top t ON t.vec_id = a.vec_id
    ORDER BY a.adist, a.vec_id LIMIT 10
    """


@register(
    "sim_pq_trained_recall_eval",
    oracle=_pq_trained_oracle(),
    tags=("ANN", "PQ", "eval"),
)
def sim_pq_trained_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 with a TRAINED PQ codebook — the direct answer to
    the r8 finding that the deterministic codebook, not cell pruning,
    binds the composed path's recall (PERF_NOTES r8): each subspace's
    codebook is refined by 2 unrolled Lloyd iterations (init = the
    untrained codebook, so the delta vs sim_pq_adc_recall_eval is
    exactly what training buys), then the identical ADC ranking and
    in-exact-top10 audit run against it.  Everything stays engine-
    exact: subvectors and distances are integers on the grid; the only
    float step, the centroid-mean update, is floor(double-division of
    small exact integers) — bit-identical across engines — and argmin
    ties break on codebook id.  Emptied clusters keep their previous
    centroid.

    Scale shape: training is the textbook distributed Lloyd —
    assignment joins each (vector, subspace) row against a broadcast
    64-row codebook, the update is one (s, cid, dim) partial-agg
    exchange per iteration; at 100 TB you train on a sample (this
    corpus IS sample-sized) and assignment remains the only
    corpus-wide pass, same as sim_pq_codes."""
    e = fanout(table(spark, sf_dir, "embeddings"))
    eq = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _PQ_GRID).cast("long"),
        ).alias("qv"),
    )
    slices = F.array(
        *[F.slice("qv", s * _PQ_SUB + 1, _PQ_SUB) for s in range(_PQ_M)]
    )
    sub = eq.select("vec_id", F.posexplode(slices).alias("s", "v"))
    cent = sub.filter(F.col("vec_id") < _PQ_K).select(
        "s", F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("c")
    )

    def sdist(v: str, c: str):
        return F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def assign(cb):
        return (
            sub.join(F.broadcast(cb), "s")
            .select(
                "vec_id",
                "s",
                "v",
                F.struct(
                    sdist("v", "c").alias("d"), F.col("cid").alias("cid")
                ).alias("dc"),
            )
            .groupBy("vec_id", "s")
            .agg(F.min("dc").alias("m"))
            .select("vec_id", "s", F.col("m.cid").alias("cid"))
        )

    for _ in range(_PQ_TI):
        a = assign(cent)
        av = a.join(sub, ["vec_id", "s"]).select(
            "s", "cid", F.posexplode("v").alias("dim0", "x")
        )
        upd = (
            av.groupBy("s", "cid", "dim0")
            .agg(
                F.floor(
                    F.sum("x").cast("double") / F.count(F.lit(1))
                )
                .cast("long")
                .alias("cx")
            )
            .groupBy("s", "cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("dim0"), F.col("cx")))
                    ),
                    lambda st: st["cx"],
                ).alias("cu")
            )
        )
        # Checkpoint each Lloyd round's codebook (M*K rows): `cent` is
        # read by the next round's assignment, the update's fallback
        # coalesce, the final assignment AND the ADC LUT — lazily
        # chained, the training subtree re-executed once per consumer
        # per round (exponential in rounds; the r8-before plan dup).
        cent = (
            cent.join(upd, ["s", "cid"], "left")
            .select(
                "s", "cid", F.coalesce(F.col("cu"), F.col("c")).alias("c")
            )
            .localCheckpoint(eager=True)
        )

    codes = assign(cent).filter(F.col("vec_id") != 0)
    qsub = sub.filter(F.col("vec_id") == 0).select(
        "s", F.col("v").alias("qv_s")
    )
    lut = cent.join(qsub, "s").select(
        "s", "cid", sdist("qv_s", "c").alias("l")
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("l").alias("adist"))
    )
    q = eq.filter(F.col("vec_id") == 0).select(F.col("qv").alias("qq"))
    exact = (
        eq.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("qv", "qq", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("edist"),
        )
    )
    top = (
        exact.orderBy("edist", "vec_id")
        .limit(10)
        .select(F.col("vec_id").alias("tvid"))
    )
    grid2 = float(_PQ_GRID) ** 2
    return (
        # SHUFFLED HASH, not broadcast (ADVICE r8): exact is
        # vector-cardinality (unbounded at scale).  Without the hint
        # the planner sort-merge joins it at sf0.01 and sf0.1 (plan
        # diff); the hash join skips that sort without a mandatory
        # driver-side build of the full exact ranking.
        adc.join(exact.hint("shuffle_hash"), "vec_id")
        .join(top, adc["vec_id"] == F.col("tvid"), "left")
        .orderBy("adist", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            F.round(F.col("adist") / grid2, 6).alias("adc_dist"),
            F.round(F.col("edist") / grid2, 6).alias("exact_dist"),
            F.col("tvid").isNotNull().alias("in_exact_top10"),
        )
    )


# ---------------------------------------------------------------------------
# IVF + PQ composed: probe coarse cells, ADC-score only their members
# ---------------------------------------------------------------------------


#: Composed IVF-PQ coarse-probe count.  Chosen from the measured
#: sim_ivf_nprobe_frontier (VERDICT r7 #1): the fixture frontier is
#: LINEAR (isotropic vectors -> recall ~ scan fraction: ~1.4/2.9/5.1/8.7
#: hits of 10 at nprobe 1/2/4/8 over 10 cells), so there is no knee to
#: pick on this data; 4 is the midpoint that buys half the exact recall
#: for ~40% of the scan, vs the old default 2's quarter.  On STRUCTURED
#: embeddings (planted-cluster A/B, tests/test_ops_r8.py) the frontier
#: saturates at nprobe=1-2 and this setting is simply safe headroom.
#: Re-measured composed recall (PERF_NOTES r8) is ~flat in nprobe on
#: every fixture because the 16-entry deterministic codebook is the
#: binding loss term (planted fixture: 5/10 at every nprobe despite
#: PERFECT cells) — train the codebook before buying probes.
#: Re-measure the frontier on real embeddings before shipping a value.
_IVF_PQ_NPROBE = 4


def _ivf_pq_oracle() -> str:
    def dist(s: int, a: str, b: str) -> str:
        lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB + 1
        return (
            f"CAST(list_sum(list_transform(range({lo}, {hi}), "
            f"i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i]))) AS BIGINT)"
        )

    dcols = ",\n         ".join(
        f"{dist(s, 'e.qv', 'c.qc')} AS d{s}" for s in range(_PQ_M)
    )
    mcols = ",\n         ".join(
        f"min(struct_pack(d := d{s}, c := cid)) AS m{s}" for s in range(_PQ_M)
    )
    lcols = ",\n         ".join(
        f"{dist(s, 'q.qq', 'c.qc')} AS l{s}" for s in range(_PQ_M)
    )
    ljoins = "\n      ".join(
        f"JOIN lut t{s} ON t{s}.cid = m.m{s}.c" for s in range(_PQ_M)
    )
    asum = " + ".join(f"t{s}.l{s}" for s in range(_PQ_M))
    grid2 = float(_PQ_GRID) ** 2
    return f"""
    WITH flat AS (
      SELECT vec_id, label, i AS dim, embedding[i]::DOUBLE AS x
      FROM embeddings, range(1, {_DIM + 1}) t(i)
    ),
    centroids AS (
      SELECT label, dim, avg(x) AS cx FROM flat GROUP BY label, dim
    ),
    qflat AS (SELECT dim, x AS qx FROM flat WHERE vec_id = 0),
    cent_scores AS (
      SELECT c.label,
             sum(c.cx * q.qx)
               / (sqrt(sum(c.cx * c.cx)) * sqrt(sum(q.qx * q.qx))) AS ccos
      FROM centroids c JOIN qflat q USING (dim)
      GROUP BY c.label
    ),
    probe AS (SELECT label FROM cent_scores
              ORDER BY ccos DESC, label ASC LIMIT {_IVF_PQ_NPROBE}),
    eq AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {_PQ_GRID}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, qv AS qc FROM eq WHERE vec_id < {_PQ_K}),
    q AS (SELECT qv AS qq FROM eq WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.label, e.qv FROM eq e
      WHERE e.vec_id <> 0 AND e.label IN (SELECT label FROM probe)
    ),
    d AS (
      SELECT e.vec_id, e.label, c.cid,
         {dcols}
      FROM cand e, c
    ),
    m AS (
      SELECT vec_id, label,
         {mcols}
      FROM d GROUP BY vec_id, label
    ),
    lut AS (
      SELECT c.cid,
         {lcols}
      FROM c, q
    ),
    adc AS (
      SELECT m.vec_id, m.label, {asum} AS adist
      FROM m
      {ljoins}
    ),
    exact AS (
      SELECT e.vec_id,
             CAST(list_sum(list_transform(range(1, {_DIM + 1}),
                  i -> (e.qv[i]-q.qq[i])*(e.qv[i]-q.qq[i]))) AS BIGINT)
               AS edist
      FROM cand e, q
    )
    SELECT a.vec_id, a.label,
           round(a.adist / {grid2}, 6) AS adc_dist,
           round(x.edist / {grid2}, 6) AS exact_dist
    FROM adc a JOIN exact x ON x.vec_id = a.vec_id
    ORDER BY a.adist, a.vec_id LIMIT 10
    """


@register("sim_ivf_pq_topk", oracle=_ivf_pq_oracle(), tags=("ANN", "IVF", "PQ"))
def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ end to end — the composed billion-vector search layout:
    the coarse quantizer (per-label mean centroids, as sim_ivf_topk)
    prunes the corpus to _IVF_PQ_NPROBE (= 4) cells (raised from 2
    after the measured frontier — see the constant's sizing note and
    sim_ivf_nprobe_frontier), and candidates inside them
    are ranked by {_PQ_M}-byte PQ codes against the query's
    {_PQ_K}x{_PQ_M} ADC lookup table (as sim_pq_adc_recall_eval) —
    memory touched per candidate is the code, not the vector.  Each
    hit reports its true grid distance alongside the ADC estimate, so
    the compounded approximation (cell pruning + quantization) stays
    measured.  ADC/argmin arithmetic is exact integers on the
    {_PQ_GRID} grid; only the probe's centroid scoring is float (the
    established sim_ivf_topk discipline).

    Scale shape: centroid scoring touches |cells| x dim rows; the
    candidate scan is ~nprobe/|cells| of the corpus with {_PQ_M}
    broadcast LUT probes per row; with the table bucketed by cell id,
    probing is partition pruning.  The exact-distance audit column is
    the only full-width vector read and exists for the eval."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "vec_id", "label", (F.col("dim0") + 1).alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    centroids = flat.groupBy("label", "dim").agg(F.avg("x").alias("cx"))
    qflat = flat.filter(F.col("vec_id") == 0).select(
        "dim", F.col("x").alias("qx")
    )
    cent_scores = (
        centroids.join(qflat, "dim")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("cx") * F.col("qx"))
                / (
                    F.sqrt(F.sum(F.col("cx") * F.col("cx")))
                    * F.sqrt(F.sum(F.col("qx") * F.col("qx")))
                )
            ).alias("ccos")
        )
    )
    probe = (
        cent_scores.orderBy(F.desc("ccos"), F.asc("label"))
        .limit(_IVF_PQ_NPROBE)
        .select("label")
    )
    eq = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _PQ_GRID).cast("long"),
        ).alias("qv"),
    )
    cb = eq.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("qv").alias("qc")
    )
    q = eq.filter(F.col("vec_id") == 0).select(F.col("qv").alias("qq"))

    def sub_dist(a: str, b: str, s: int):
        return F.aggregate(
            F.zip_with(
                F.slice(a, s * _PQ_SUB + 1, _PQ_SUB),
                F.slice(b, s * _PQ_SUB + 1, _PQ_SUB),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    cand = eq.filter(F.col("vec_id") != 0).join(probe, "label")
    scored = cand.crossJoin(cb).select(
        "vec_id", "label", "cid",
        *[sub_dist("qv", "qc", s).alias(f"d{s}") for s in range(_PQ_M)],
    )
    m = scored.groupBy("vec_id", "label").agg(
        *[
            F.min(F.struct(F.col(f"d{s}").alias("d"), F.col("cid").alias("c")))
            .alias(f"m{s}")
            for s in range(_PQ_M)
        ]
    )
    lut = cb.crossJoin(q).select(
        "cid", *[sub_dist("qq", "qc", s).alias(f"l{s}") for s in range(_PQ_M)]
    )
    adc = m
    for s in range(_PQ_M):
        ls = lut.select(F.col("cid").alias(f"c{s}"), f"l{s}")
        adc = adc.join(F.broadcast(ls), F.col(f"m{s}.c") == F.col(f"c{s}"))
    adist = sum(F.col(f"l{s}") for s in range(1, _PQ_M)) + F.col("l0")
    adc = adc.select("vec_id", "label", adist.alias("adist"))
    exact = cand.crossJoin(q).select(
        "vec_id",
        F.aggregate(
            F.zip_with("qv", "qq", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("edist"),
    )
    grid2 = float(_PQ_GRID) ** 2
    return (
        adc.join(exact, "vec_id")
        .orderBy("adist", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "label",
            F.round(F.col("adist") / grid2, 6).alias("adc_dist"),
            F.round(F.col("edist") / grid2, 6).alias("exact_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index: the index as a WRITTEN artifact (VERDICT r7 #5)
# ---------------------------------------------------------------------------

_IVF_PQ_INDEX_PARTS = ("centroids", "codebook", "codes")


def write_ivf_pq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build the IVF-PQ index ONCE and persist it as an on-disk
    artifact — at 100 TB an ANN index is a written pipeline product
    (think a FAISS index build), not a per-query recompute; every
    search session loads it, and a rebuild is an explicit stage with
    its own schedule.  Three parquet parts via the generic artifact
    writer (sources/writers.py):

    - ``centroids``: (label, carr DOUBLE[]) — the coarse-quantizer
      cell means, the only part a probe decision touches (|cells|
      rows — broadcast-sized at any corpus scale with sane nlist);
    - ``codebook``: (cid INT, qc LONG[]) — the PQ codebook on the
      integer grid (the ADC LUT is derived from it per query);
    - ``codes``: (vec_id, label, code_0..code_3) — 4 small ints per
      vector, the only per-corpus-row part; partition/bucket it by
      cell id in production so probing prunes partitions.

    Reuses the oracle-checked sim_pq_codes assignment for the codes
    part, so the persisted codes are bit-identical to the in-session
    path by construction."""
    from ..sources.writers import write_artifact_group

    e = table(spark, sf_dir, "embeddings")
    centroids = (
        e.select("label", F.posexplode("embedding").alias("dim0", "x"))
        .select(
            "label", (F.col("dim0") + 1).alias("dim"),
            F.col("x").cast("double").alias("x"),
        )
        .groupBy("label", "dim")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("cx")))
                ),
                lambda s: s["cx"],
            ).alias("carr")
        )
    )
    eq = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _PQ_GRID).cast("long"),
        ).alias("qv"),
    )
    codebook = eq.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("qv").alias("qc")
    )
    codes = sim_pq_codes(spark, sf_dir).select(
        "vec_id", "label", *[f"code_{s}" for s in range(_PQ_M)]
    )
    write_artifact_group(
        {"centroids": centroids, "codebook": codebook, "codes": codes}, path
    )


def ivf_pq_topk_from_index(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """sim_ivf_pq_topk served from the PERSISTED index: probe the
    stored centroids, prune to the stored codes of the probed cells,
    ADC-rank against a LUT derived from the stored codebook — the
    base table is touched only for the query vector and the
    exact-distance audit column (at scale: one row lookup plus the
    candidate-width audit read).  The round-trip differential
    (tests/test_ops_r8.py) pins this row-identical to the in-session
    sim_ivf_pq_topk, which is what makes the artifact trustworthy:
    persisting the index changes WHERE the structures live, never
    what the search returns."""
    from pyspark.sql import Window as _W  # noqa: F401 (parity w/ module)

    from ..sources.writers import read_artifact_group

    parts = read_artifact_group(spark, path, _IVF_PQ_INDEX_PARTS)
    cent, cb, codes = parts["centroids"], parts["codebook"], parts["codes"]

    e = table(spark, sf_dir, "embeddings")
    qe = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    # probe: same sum-form cosine as the in-session path (the grouped
    # sum over (label, dim) rows), so float association order matches
    flatc = cent.select(
        "label", F.posexplode("carr").alias("dim0", "cx")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "cx")
    qflat = (
        e.filter(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("dim0", "x"))
        .select(
            (F.col("dim0") + 1).alias("dim"),
            F.col("x").cast("double").alias("qx"),
        )
    )
    cent_scores = (
        flatc.join(qflat, "dim")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("cx") * F.col("qx"))
                / (
                    F.sqrt(F.sum(F.col("cx") * F.col("cx")))
                    * F.sqrt(F.sum(F.col("qx") * F.col("qx")))
                )
            ).alias("ccos")
        )
    )
    probe = (
        cent_scores.orderBy(F.desc("ccos"), F.asc("label"))
        .limit(_IVF_PQ_NPROBE)
        .select("label")
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _PQ_GRID).cast("long"),
        ).alias("qq")
    )

    def sub_dist(a: str, b: str, s: int):
        return F.aggregate(
            F.zip_with(
                F.slice(a, s * _PQ_SUB + 1, _PQ_SUB),
                F.slice(b, s * _PQ_SUB + 1, _PQ_SUB),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    lut = cb.crossJoin(q).select(
        "cid", *[sub_dist("qq", "qc", s).alias(f"l{s}") for s in range(_PQ_M)]
    )
    adc = codes.join(probe, "label").filter(
        F.col("vec_id") != 0
    )
    for s in range(_PQ_M):
        ls = lut.select(F.col("cid").alias(f"c{s}"), f"l{s}")
        adc = adc.join(ls, F.col(f"code_{s}") == F.col(f"c{s}"))
    adist = sum(F.col(f"l{s}") for s in range(1, _PQ_M)) + F.col("l0")
    adc = adc.select("vec_id", "label", adist.alias("adist"))
    eq = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _PQ_GRID).cast("long"),
        ).alias("qv"),
    )
    exact = (
        eq.join(adc.select("vec_id"), "vec_id")
        .crossJoin(q)
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("qv", "qq", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("edist"),
        )
    )
    grid2 = float(_PQ_GRID) ** 2
    return (
        adc.join(exact, "vec_id")
        .orderBy("adist", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "label",
            F.round(F.col("adist") / grid2, 6).alias("adc_dist"),
            F.round(F.col("edist") / grid2, 6).alias("exact_dist"),
        )
    )


# ---------------------------------------------------------------------------
# MIPS retrieval: top-k by raw inner product, skew-safe two-phase top-k
# ---------------------------------------------------------------------------

_MIPS_NQ = 5  # query vectors: vec_id 0.._MIPS_NQ-1
_MIPS_K = 3
_MIPS_SALT = 16


@register(
    "sim_mips_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {_MIPS_NQ}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id, e.label,
             round(list_dot_product(e.embedding::DOUBLE[], q.qe), 6) AS ip
      FROM embeddings e, q
      WHERE e.vec_id >= {_MIPS_NQ}
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY ip DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT query_id, vec_id, label, ip, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_MIPS_K}
    """,
    tags=("ANN",),
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product retrieval (MIPS): top-{_MIPS_K} index
    vectors by RAW dot product for each of {_MIPS_NQ} query vectors —
    the recommendation/reranking semantics where magnitude matters
    (cosine deliberately throws it away; a popular item's long vector
    SHOULD outrank an obscure near-parallel one).

    The plan demonstrates the skew-safe per-group top-k shape: with a
    handful of queries and a huge index, ranking directly over
    partitionBy(query_id) funnels the whole scored frame into
    {_MIPS_NQ} hot partitions.  Instead phase 1 ranks within
    (query_id, salt = vec_id % {_MIPS_SALT}) — {_MIPS_SALT}x the
    parallelism, each partition sees ~1/{_MIPS_SALT} of the rows —
    and phase 2 re-ranks only the {_MIPS_SALT}*{_MIPS_K} survivors
    per query.  Output is identical to the single-phase form (any
    global top-k row is also top-k within its salt), which is exactly
    what the single-window oracle checks.  Scoring itself is map-side:
    the {_MIPS_NQ}-row query frame broadcasts, zip_with/aggregate dot
    products stay in whole-stage codegen."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _MIPS_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    ip = F.round(vectors.dot(F.col("embedding"), F.col("qe")), 6)
    scored = (
        e.filter(F.col("vec_id") >= _MIPS_NQ)
        .crossJoin(q)
        .select("query_id", "vec_id", "label", ip.alias("ip"))
    )
    w1 = Window.partitionBy(
        "query_id", F.pmod(F.col("vec_id"), F.lit(_MIPS_SALT))
    ).orderBy(F.desc("ip"), F.asc("vec_id"))
    survivors = scored.withColumn(
        "srnk", F.row_number().over(w1)
    ).filter(F.col("srnk") <= _MIPS_K)
    w2 = Window.partitionBy("query_id").orderBy(F.desc("ip"), F.asc("vec_id"))
    return (
        survivors.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= _MIPS_K)
        .select("query_id", "vec_id", "label", "ip", "rnk")
    )


# ---------------------------------------------------------------------------
# Dead-dimension screen: per-coordinate variance of the embedding matrix
# ---------------------------------------------------------------------------

#: Quantization grid for exact per-dimension moments (1e-6 resolution).
_DIM_Q = 1_000_000


@register(
    "sim_dead_dimension_screen",
    oracle=f"""
    WITH px AS (
      SELECT u.i AS dim,
             CAST(floor(CAST(u.x AS DOUBLE) * {_DIM_Q}) AS BIGINT) AS q
      FROM (
        SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      ) u(x, i)
    ),
    mom AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(q * q) AS BIGINT) AS ss
      FROM px GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n,
           round(CAST(s AS DOUBLE) / n / {_DIM_Q}, 6) AS mean_q,
           round((CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s)
                 / (CAST(n AS DOUBLE) * n)
                 / ({_DIM_Q}::DOUBLE * {_DIM_Q}), 6) AS var_q,
           (ss * n - s * s) = 0 AS is_dead
    FROM mom
    """,
    tags=("ANN", "DQ"),
)
def sim_dead_dimension_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-coordinate mean/variance of the embedding matrix with a
    dead-dimension flag — the screen run before ANY index build: a
    coordinate with (near-)zero variance carries no information but
    still costs memory and dot-product work in every GEMM; a nonzero
    CONSTANT coordinate silently biases inner products (the MIPS
    family) while cosine quietly absorbs it.  Truncation/PQ decisions
    (sim_truncation_recall_eval, sim_pq_codes) should read this table
    first.

    Exactness: raw float32 coordinates are quantized onto a 1e-6 grid
    (floor, exact for any float both engines parse identically), so
    count/sum/sum-of-squares are exact BIGINTs per dimension and the
    dead flag is an INTEGER zero-variance test (ss*n - s*s = 0), not
    a float epsilon.  One posexplode pass (n x dim rows), one groupBy
    on the dim domain — embarrassingly map-side at any scale."""
    e = table(spark, sf_dir, "embeddings")
    px = e.select(
        F.posexplode("embedding").alias("dim0", "x")
    ).select(
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * _DIM_Q).cast("long").alias("q"),
    )
    mom = px.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
    )
    return mom.select(
        "dim",
        "n",
        F.round(F.col("s").cast("double") / F.col("n") / _DIM_Q, 6).alias(
            "mean_q"
        ),
        F.round(
            (F.col("ss").cast("double") * F.col("n")
             - F.col("s").cast("double") * F.col("s"))
            / (F.col("n").cast("double") * F.col("n"))
            / (float(_DIM_Q) * _DIM_Q),
            6,
        ).alias("var_q"),
        ((F.col("ss") * F.col("n") - F.col("s") * F.col("s")) == 0).alias(
            "is_dead"
        ),
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance: diversified top-k retrieval
# ---------------------------------------------------------------------------

#: MMR relevance/diversity trade-off and sizes.  Candidates are the
#: brute-force top-N for the query; the greedy reranks within them.
_MMR_LAMBDA = 0.7
_MMR_CAND = 50
_MMR_K = 10


def _py_cosine(a: list, b: list) -> float:
    """Bit-exact Python mirror of functions.vectors.cosine: sequential
    left-to-right double accumulation, then d / (sqrt(na) * sqrt(nb)).
    The collected float32 components upcast to Python floats exactly,
    so this reproduces the JVM expression's doubles bit-for-bit."""
    import math

    d = na = nb = 0.0
    for x, y in zip(a, b):
        d += x * y
        na += x * x
        nb += y * y
    return d / (math.sqrt(na) * math.sqrt(nb))


@register(
    "sim_mmr_diversified_topk",
    oracle=f"""
    WITH RECURSIVE q AS (
      SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0
    ),
    cand AS (
      SELECT vec_id,
             round(list_cosine_similarity(embedding::DOUBLE[],
                                          (SELECT qe FROM q)), 6) AS simq,
             embedding
      FROM embeddings WHERE vec_id <> 0
      ORDER BY simq DESC, vec_id LIMIT {_MMR_CAND}
    ),
    pair AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    sel(rank, vid, score, picked) AS (
      (SELECT 1 AS rank, vec_id AS vid, {_MMR_LAMBDA!r} * simq AS score,
              [vec_id] AS picked
       FROM cand ORDER BY simq DESC, vec_id LIMIT 1)
      UNION ALL
      (SELECT s.rank + 1, t.vid, t.score, list_append(s.picked, t.vid)
       FROM sel s, LATERAL (
         SELECT c.vec_id AS vid,
                {_MMR_LAMBDA!r} * c.simq
                  - {1 - _MMR_LAMBDA!r} * max(p.s) AS score
         FROM cand c JOIN pair p
           ON p.ia = c.vec_id AND list_contains(s.picked, p.ib)
         WHERE NOT list_contains(s.picked, c.vec_id)
         GROUP BY c.vec_id, c.simq
         ORDER BY score DESC, vid LIMIT 1
       ) t
       WHERE s.rank < {_MMR_K})
    )
    SELECT s.rank, s.vid AS vec_id, c.simq, round(s.score, 6) AS mmr_score
    FROM sel s JOIN cand c ON c.vec_id = s.vid
    """,
    tags=("ANN", "RERANK"),
)
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking — the standard diversity
    pass between "nearest neighbors" and "what you actually show/feed
    the model" (dedup-aware retrieval, diverse few-shot selection):
    greedily pick argmax of lambda*sim(query, d) - (1-lambda)*max
    sim(d, already_picked) over a brute-force top-N candidate pool.

    Architecture: the candidate pool is a DISTRIBUTED broadcast-query
    cosine scan + TakeOrdered top-N (identical shape to
    sim_cosine_topk, linear in corpus size); the greedy itself is
    inherently sequential in k and runs driver-side on the BOUNDED
    N-row pool (N=50 — the same "bounded k x dim collect" exemption as
    the k-means centroid loop).  Pairwise candidate similarities are
    computed in Python mirroring vectors.cosine's exact double
    sequence, and both engines round sims to 6dp BEFORE the greedy so
    argmax ordering is a pure function of the data; scores order on
    raw doubles of those identical 6dp inputs.  The oracle replays the
    greedy as a recursive CTE carrying the picked-list.

    At 100 TB only the candidate scan grows; the rerank stays O(N*k)
    on 50 rows — the canonical two-stage retrieve-then-rerank split."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    simq = F.round(vectors.cosine(F.col("embedding"), F.col("qe")), 6)
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", simq.alias("simq"), "embedding")
        .orderBy(F.desc("simq"), F.asc("vec_id"))
        .limit(_MMR_CAND)
    )
    rows = cand.collect()  # bounded: _MMR_CAND rows
    emb = {r["vec_id"]: list(r["embedding"]) for r in rows}
    simq_by_id = {r["vec_id"]: r["simq"] for r in rows}
    ids = sorted(emb)
    sim = {
        (a, b): round(_py_cosine(emb[a], emb[b]), 6)
        for a in ids
        for b in ids
        if a != b
    }
    picked: list[int] = []
    out = []
    for rank in range(1, min(_MMR_K, len(ids)) + 1):
        best = None
        for c in ids:
            if c in picked:
                continue
            if picked:
                div = max(sim[(c, p)] for p in picked)
                score = _MMR_LAMBDA * simq_by_id[c] - (1 - _MMR_LAMBDA) * div
            else:
                score = _MMR_LAMBDA * simq_by_id[c]
            # argmax with deterministic vec_id tiebreak, mirroring the
            # oracle's ORDER BY score DESC, vid LIMIT 1
            if best is None or score > best[0] or (
                score == best[0] and c < best[1]
            ):
                best = (score, c)
        picked.append(best[1])
        out.append((rank, best[1], simq_by_id[best[1]], best[0]))
    res = local_df(spark, out, "rank int, vec_id long, simq double, raw_score double")
    return res.select(
        "rank", "vec_id", "simq", F.round("raw_score", 6).alias("mmr_score")
    )


# ---------------------------------------------------------------------------
# k-center / farthest-point diverse subset selection
# ---------------------------------------------------------------------------

#: Number of diverse representatives the farthest-point greedy picks.
_KCENTER_K = 8


@register(
    "sim_kcenter_farthest_points",
    oracle=f"""
    WITH RECURSIVE sel(rank, vid, picked, fsim) AS (
      (SELECT 1 AS rank, vec_id AS vid, [vec_id] AS picked,
              NULL::DOUBLE AS fsim
       FROM embeddings WHERE vec_id = 0)
      UNION ALL
      (SELECT s.rank + 1, t.vid, list_append(s.picked, t.vid), t.fsim
       FROM sel s, LATERAL (
         SELECT e.vec_id AS vid,
                max(round(list_cosine_similarity(
                      e.embedding::DOUBLE[], p.embedding::DOUBLE[]), 6))
                  AS fsim
         FROM embeddings e JOIN embeddings p
           ON list_contains(s.picked, p.vec_id)
         WHERE NOT list_contains(s.picked, e.vec_id)
         GROUP BY e.vec_id
         ORDER BY fsim ASC, vid LIMIT 1
       ) t
       WHERE s.rank < {_KCENTER_K})
    )
    SELECT rank, vid AS vec_id, fsim AS max_sim_to_selected
    FROM sel
    """,
    tags=("ANN", "SAMPLE"),
)
def sim_kcenter_farthest_points(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Farthest-point (k-center greedy) diverse subset selection: seed
    at vec_id 0, then repeatedly pick the vector whose maximum cosine
    similarity to everything already selected is SMALLEST — the
    2-approximation to the k-center cover, and the standard way to
    pull a maximally-spread probe set / annotation batch / coreset
    seed out of an embedding corpus.  Complements MMR: MMR reranks a
    relevance-bounded candidate pool; k-center sweeps the WHOLE
    corpus with no query.

    Architecture — the INCREMENTAL form (the 100 TB shape the r6
    version's docstring promised): the state is one checkpointed
    (vec_id, embedding, fsim) frame carrying best-sim-so-far, and each
    of the k-1 rounds folds in exactly ONE new cosine per remaining
    vector (greatest(fsim, cos-to-new-center)) then takes the argmin
    via TakeOrdered(1) — O(n) compute per round instead of the
    rebuild-from-selected form's O(n * |picked|) (which re-paid every
    prior cosine each round: Sum i = O(n k^2 / 2) total, the term that
    bent the 20x sweep point).  The per-round localCheckpoint is the
    state handoff — without it round r's lineage re-executes all r
    prior cosine folds, which is exactly the rebuild cost again.
    Nothing fact-sized reaches the driver (one (id, embedding, fsim)
    row per round; the greedy's sequential k is irreducible: each pick
    conditions the next).  Sims are rounded 6dp before both the max
    fold and the argmin in both engines — max of rounded values equals
    the rounded max the rebuild form computed, so the selection
    sequence is bit-identical to the recursive oracle — and ties break
    on vec_id, so selection is a pure function of the data."""
    import math

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed = e.filter(F.col("vec_id") == 0).collect()[0]
    out = [(1, seed["vec_id"], None)]
    center = list(seed["embedding"])
    # fsim starts at -1.0 (<= any cosine), so the first fold over the
    # seed center initializes it exactly.  "ne" carries each row's own
    # norm so every round's fold is ONE dot per row instead of three
    # (vectors.cosine_pre; the center's norm is folded in Python below
    # — same left-to-right IEEE-double sequence as the aggregate, so
    # the value is bit-identical).
    state = (
        e.filter(F.col("vec_id") != seed["vec_id"])
        .withColumn("fsim", F.lit(-1.0).cast("double"))
        .withColumn("ne", vectors.norm(F.col("embedding")))
        .localCheckpoint(eager=True)
    )
    for rank in range(2, _KCENTER_K + 1):
        cexpr = F.array([F.lit(float(x)) for x in center])
        acc = 0.0
        for x in center:
            acc += float(x) * float(x)
        cn = math.sqrt(acc)
        # eager=False: the argmin collect below materializes this
        # round's fold AND persists it for the next round — one job
        # per round instead of two (r8 opt round; the rounds are the
        # query's entire cost at fixture scale).
        state = state.select(
            "vec_id",
            "embedding",
            F.greatest(
                "fsim",
                F.round(
                    vectors.cosine_pre(
                        F.col("embedding"), cexpr, F.col("ne"), F.lit(cn)
                    ),
                    6,
                ),
            ).alias("fsim"),
            "ne",
        ).localCheckpoint(eager=False)
        nxt = (
            state.orderBy(F.asc("fsim"), F.asc("vec_id"))
            .limit(1)
            .collect()  # bounded: one row per round, k rounds
        )
        if not nxt:  # corpus exhausted before k picks
            break
        nxt = nxt[0]
        out.append((rank, nxt["vec_id"], nxt["fsim"]))
        center = list(nxt["embedding"])
        state = state.filter(F.col("vec_id") != nxt["vec_id"])
    return local_df(spark, out, "rank int, vec_id long, max_sim_to_selected double")


@register_probe("sim_kcenter_farthest_points")
def _probe_kcenter(spark: SparkSession, sf_dir: str) -> int:
    """Work = cosine evaluations the greedy performs: (k-1) rounds x
    (corpus - picked) candidates each — linear in corpus size for
    fixed k, which is what the wall curve's sublinear alpha (fixed
    ~1 s round latency amortizing) should be read against."""
    n = table(spark, sf_dir, "embeddings").count()
    return sum(n - i for i in range(1, _KCENTER_K))


# ---------------------------------------------------------------------------
# Embedding dimension-correlation screen: top correlated dim pairs
# ---------------------------------------------------------------------------


@register(
    "sim_dim_correlation_topk",
    oracle="""
    WITH x AS (
      SELECT vec_id, gs.i AS i, CAST(embedding[gs.i] AS DOUBLE) AS v
      FROM embeddings,
      LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) gs
    ), stats AS (
      SELECT i, sum(v) AS sx, sum(v * v) AS sxx FROM x GROUP BY i
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS nn FROM embeddings
    ), pairs AS (
      SELECT a.i AS di, b.i AS dj, sum(a.v * b.v) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
      GROUP BY a.i, b.i
    )
    SELECT p.di, p.dj,
           round((n.nn * p.sxy - sa.sx * sb.sx)
                 / sqrt((n.nn * sa.sxx - sa.sx * sa.sx)
                      * (n.nn * sb.sxx - sb.sx * sb.sx)), 4) AS corr_r
    FROM pairs p
    JOIN stats sa ON sa.i = p.di
    JOIN stats sb ON sb.i = p.dj
    CROSS JOIN n
    WHERE (n.nn * sa.sxx - sa.sx * sa.sx) > 0
      AND (n.nn * sb.sxx - sb.sx * sb.sx) > 0
    ORDER BY abs(round((n.nn * p.sxy - sa.sx * sb.sx)
                 / sqrt((n.nn * sa.sxx - sa.sx * sa.sx)
                      * (n.nn * sb.sxx - sb.sx * sb.sx)), 4)) DESC,
             p.di ASC, p.dj ASC
    LIMIT 10
    """,
    tags=("ANN", "profiling"),
)
def sim_dim_correlation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redundant-dimension screen: the 10 most-|Pearson|-correlated
    embedding dimension pairs (1-based indices, zero-variance dims
    excluded) — the companion of sim_dead_dimension_screen: dead dims
    carry no signal, near-duplicate dims carry the SAME signal twice,
    and both argue for the JL / PQ compression paths.

    Scale shape: the oracle's self-join materializes n*C(d,2) rows —
    a non-starter at corpus scale.  Here each partition computes its
    LOCAL Gram matrix X^T X (plus column sums and count) with one BLAS
    syrk-shaped numpy matmul inside mapInPandas, emitting O(d^2) rows
    per partition regardless of row count; one groupBy(i,j) merges the
    partials (classic distributed covariance), and the final
    correlation algebra runs on a d^2-row frame.  Data volume into the
    shuffle: partitions x d^2 doubles — independent of n."""
    import numpy as np
    import pandas as pd

    e = fanout(table(spark, sf_dir, "embeddings"))

    def gram_batches(batches):
        g = None
        s = None
        n = 0
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            if g is None:
                d = mat.shape[1]
                g = np.zeros((d, d))
                s = np.zeros(d)
            g += mat.T @ mat
            s += mat.sum(axis=0)
            n += len(mat)
        if g is None:
            yield pd.DataFrame({"i": [], "j": [], "s": []}).astype(
                {"i": "int32", "j": "int32", "s": "float64"}
            )
            return
        d = g.shape[0]
        iu, ju = np.triu_indices(d)  # includes diagonal: sxx when i == j
        rows = {
            "i": np.concatenate([iu + 1, np.arange(1, d + 1), [-1]]),
            "j": np.concatenate([ju + 1, np.full(d, -1), [-1]]),
            "s": np.concatenate([g[iu, ju], s, [float(n)]]),
        }
        out = pd.DataFrame(rows)
        out["i"] = out["i"].astype("int32")
        out["j"] = out["j"].astype("int32")
        yield out

    parts = e.select("embedding").mapInPandas(
        gram_batches, schema="i INT, j INT, s DOUBLE"
    )
    merged = parts.groupBy("i", "j").agg(F.sum("s").alias("s"))
    nn = merged.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("nn")
    )
    dims = merged.filter((F.col("i") > 0) & (F.col("j") == -1)).select(
        F.col("i").alias("k"), F.col("s").alias("sx")
    ).join(
        merged.filter((F.col("i") > 0) & (F.col("j") == F.col("i"))).select(
            F.col("i").alias("k"), F.col("s").alias("sxx")
        ),
        "k",
    )
    pairs = merged.filter(
        (F.col("i") > 0) & (F.col("j") > F.col("i"))
    ).select(F.col("i").alias("di"), F.col("j").alias("dj"),
             F.col("s").alias("sxy"))
    a = dims.select(F.col("k").alias("di"), F.col("sx").alias("sxa"),
                    F.col("sxx").alias("sxxa"))
    b = dims.select(F.col("k").alias("dj"), F.col("sx").alias("sxb"),
                    F.col("sxx").alias("sxxb"))
    var_a = F.col("nn") * F.col("sxxa") - F.col("sxa") * F.col("sxa")
    var_b = F.col("nn") * F.col("sxxb") - F.col("sxb") * F.col("sxb")
    corr = F.round(
        (F.col("nn") * F.col("sxy") - F.col("sxa") * F.col("sxb"))
        / F.sqrt(var_a * var_b),
        4,
    )
    return (
        pairs.join(F.broadcast(a), "di")
        .join(F.broadcast(b), "dj")
        .crossJoin(nn)
        .filter((var_a > 0) & (var_b > 0))
        .select("di", "dj", corr.alias("corr_r"))
        .orderBy(F.abs(F.col("corr_r")).desc(), F.asc("di"), F.asc("dj"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# NDCG@K of IVF retrieval: graded-relevance complement of the recall evals
# ---------------------------------------------------------------------------


@register(
    "sim_ndcg_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < {_RECALL_NQ}
    ),
    flat AS (
      SELECT label, gs.dim, (embedding::DOUBLE[])[gs.dim] AS x
      FROM embeddings,
      LATERAL (SELECT unnest(range(1, 65)) AS dim) gs
    ),
    cent AS (
      SELECT label, dim, avg(x) AS cx FROM flat GROUP BY label, dim
    ),
    cscore AS (
      SELECT q.qid, c.label,
             sum(c.cx * q.qe[c.dim])
               / (sqrt(sum(c.cx * c.cx)) * sqrt(sum(q.qe[c.dim] * q.qe[c.dim])))
               AS ccos
      FROM cent c, q
      GROUP BY q.qid, c.label
    ),
    probes AS (
      SELECT qid, label FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, label)
                 AS rn
        FROM cscore
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    pairs AS (
      SELECT q.qid, s.vec_id, s.label,
             round(list_cosine_similarity(s.embedding::DOUBLE[], q.qe), 6)
               AS c
      FROM q JOIN embeddings s ON s.vec_id <> q.qid
    ),
    exact AS (
      SELECT qid, vec_id, CAST({_RECALL_K} + 1 - rn AS BIGINT) AS rel
      FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
                 AS rn
        FROM pairs
      ) WHERE rn <= {_RECALL_K}
    ),
    ap AS (
      SELECT qid, vec_id, rn FROM (
        SELECT p.qid, p.vec_id,
               row_number() OVER (PARTITION BY p.qid
                                  ORDER BY p.c DESC, p.vec_id) AS rn
        FROM pairs p JOIN probes pr
          ON pr.qid = p.qid AND pr.label = p.label
      ) WHERE rn <= {_RECALL_K}
    ),
    dcg AS (
      SELECT a.qid,
             round(sum(COALESCE(e.rel, 0) / log2(a.rn + 1.0)), 6) AS dcg
      FROM ap a LEFT JOIN exact e
        ON e.qid = a.qid AND e.vec_id = a.vec_id
      GROUP BY a.qid
    ),
    idcg AS (
      SELECT qid, round(sum(rel / log2(rn + 1.0)), 6) AS idcg
      FROM (SELECT qid, rel,
                   row_number() OVER (PARTITION BY qid ORDER BY rel DESC)
                     AS rn
            FROM exact)
      GROUP BY qid
    )
    SELECT i.qid AS query_id,
           COALESCE(d.dcg, 0.0) AS dcg, i.idcg,
           round(COALESCE(d.dcg, 0.0) / i.idcg, 6) AS ndcg
    FROM idcg i LEFT JOIN dcg d ON d.qid = i.qid
    """,
    tags=("ANN", "eval"),
)
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{_RECALL_K} of the IVF path (same per-label centroid cells
    and nprobe={_IVF_NPROBE} as sim_ivf_recall_eval): graded relevance
    rel = K+1-exact_rank for the exact top-{_RECALL_K}, discounted by
    the POSITION the IVF list returns it at.  Recall counts how many of
    the true neighbors come back; NDCG additionally charges the
    approximate index for returning them in the wrong ORDER — the
    metric a retrieval consumer (RAG reranker budget, curriculum
    nearest-neighbor sampling) actually experiences.

    Plan shape is the recall eval's: one (label,dim) aggregate for
    centroids, broadcast query batch, every ranking over the SAME
    (qid)-keyed exchange; DCG/IDCG are per-query sums over ≤K rows.
    Both engines do the identical rel/log2(rank+1) arithmetic and each
    per-query sum is ≤{_RECALL_K} terms, so 6-dp rounding is safely
    inside cross-engine ulp."""
    e = fanout(table(spark, sf_dir, "embeddings")).withColumn(
        # per-ROW norm: one dot per pair below, not three (cosine_pre).
        "ne", vectors.norm(F.col("embedding"))
    )
    q = e.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("ne").alias("nq"),
    )
    flat = e.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select("label", (F.col("dim0") + 1).alias("dim"),
             F.col("x").cast("double").alias("x"))
    cent = (
        flat.groupBy("label", "dim")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("cx")))
                ),
                lambda s: s["cx"],
            ).alias("carr")
        )
    )
    cscore = q.crossJoin(cent).select(
        "qid", "label", vectors.cosine(F.col("carr"), F.col("qe")).alias("ccos")
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("label"))
    probes = (
        cscore.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("qid", "label")
    )
    pairs = e.join(q, e["vec_id"] != q["qid"]).select(
        "qid",
        "vec_id",
        "label",
        F.round(
            vectors.cosine_pre(
                F.col("embedding"), F.col("qe"), F.col("ne"), F.col("nq")
            ),
            6,
        ).alias("c"),
        # exact truth and the probed ranking both read the pair scan —
        # materialize it once (r8 opt round, guide §1.2).
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    exact = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select(
            "qid", "vec_id",
            (F.lit(_RECALL_K + 1) - F.col("rn")).cast("long").alias("rel"),
        )
    )
    ap = (
        pairs.join(F.broadcast(probes), ["qid", "label"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id", "rn")
    )
    dcg = (
        ap.join(
            exact.select(F.col("qid").alias("eqid"),
                         F.col("vec_id").alias("evec"), "rel"),
            (ap["qid"] == F.col("eqid")) & (ap["vec_id"] == F.col("evec")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.round(
                F.sum(
                    F.coalesce(F.col("rel"), F.lit(0)).cast("double")
                    / F.log2(F.col("rn") + 1.0)
                ),
                6,
            ).alias("dcg")
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("rel"))
    idcg = (
        exact.withColumn("irn", F.row_number().over(wr))
        .groupBy("qid")
        .agg(
            F.round(
                F.sum(F.col("rel").cast("double") / F.log2(F.col("irn") + 1.0)),
                6,
            ).alias("idcg")
        )
    )
    return (
        idcg.join(dcg, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            "idcg",
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6
            ).alias("ndcg"),
        )
    )


@register_probe("sim_dim_correlation_topk")
def _probe_dim_correlation(spark: SparkSession, sf_dir: str) -> int:
    """Dominant work: the n x d^2 multiply-adds of the per-partition
    X^T X partials (the shuffle itself is partitions x d^2, constant in
    n — this counts the compute the GEMM performs)."""
    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    d = len(e.select("embedding").head()["embedding"])
    return n * d * d


# ---------------------------------------------------------------------------
# Embedding outlier screen: k-th-nearest-neighbor distance (deterministic)
# ---------------------------------------------------------------------------


@register(
    "sim_knn_distance_outliers",
    oracle="""
    WITH knn AS (
      SELECT vec_id, cos_sim FROM (
        SELECT a.vec_id,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 4)
                 AS cos_sim,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                       b.embedding::DOUBLE[]),
                                4) DESC, b.vec_id) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      ) WHERE rn <= 3
    ),
    scored AS (
      SELECT vec_id, min(cos_sim) AS knn3_sim FROM knn GROUP BY vec_id
    )
    SELECT s.vec_id, e.label, s.knn3_sim
    FROM scored s JOIN embeddings e USING (vec_id)
    ORDER BY s.knn3_sim ASC, s.vec_id ASC
    LIMIT 20
    """,
    tags=("ANN", "DQ"),
)
def sim_knn_distance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier screen by k-th-nearest-neighbor similarity:
    the 20 vectors whose 3rd-nearest neighbor is FURTHEST (lowest
    cosine) — the deterministic stand-in for isolation-forest-style
    outlier removal in embedding-curation pipelines (mislabeled,
    corrupted, or off-distribution vectors sit alone; dense cluster
    members always have close 3rd neighbors).  SemDeDup prunes the
    too-close; this screens the too-far.

    Plan: reuses sim_knn_join_topk's GEMM kernel output (broadcast
    unit-index, per-batch top-k, no n^2 shuffle) and reduces it with
    one vec_id aggregate + TakeOrdered(20); the label join is a
    broadcast of the 20-row result against the dim-sized scan."""
    knn = sim_knn_join_topk(spark, sf_dir)
    scored = knn.groupBy("vec_id").agg(F.min("cos_sim").alias("knn3_sim"))
    labels = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        scored.join(labels, "vec_id")
        .orderBy(F.asc("knn3_sim"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", "label", "knn3_sim")
    )


# ---------------------------------------------------------------------------
# Range-search degree histogram: embedding-density screen
# ---------------------------------------------------------------------------

#: Range-search radius for the density screen.  On the synthetic
#: near-orthogonal fixture embeddings the pairwise-cosine mass sits in
#: [0.3, 0.6] (max 0.48/0.51/0.60 at sf0.001/0.01/0.1), so 0.35 yields
#: a real degree distribution at every SF; production SemDeDup-style
#: curation runs the identical kernel at its own radius — a parameter,
#: not a plan change.
_RANGE_TAU = 0.35


@register(
    "sim_range_degree_histogram",
    oracle=f"""
    WITH deg AS (
      SELECT a.vec_id,
             CAST(count(b.vec_id) AS BIGINT) AS degree
      FROM embeddings a LEFT JOIN embeddings b
        ON a.vec_id <> b.vec_id
       AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4)
           >= {_RANGE_TAU}
      GROUP BY a.vec_id
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_vectors
    FROM deg GROUP BY degree
    """,
    tags=("ANN", "DQ"),
)
def sim_range_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-density screen: for every vector, the number of OTHER
    vectors within cosine >= 0.35 (_RANGE_TAU), rolled up into a
    degree histogram — the sizing input for SemDeDup-style semantic
    dedup (the degree distribution IS the cluster-size forecast: a
    heavy tail means a few dense semantic clumps eat the dedup budget;
    all-zero degrees means the radius is too tight to matter) and for
    choosing k in kNN graph constructions.

    Plan: the executor-side unit-index GEMM (functions/vectors) counts
    per-row neighbors INSIDE each Arrow batch — only (vec_id, degree)
    rows ever exist Spark-side, never the O(n^2) pair set, so the
    query costs the same GEMM as the pair materialization but with
    O(n) output however dense the radius.  Same round-then-threshold
    discipline as the pair kernel, so both engines count the identical
    neighbor sets.  At index sizes past the brute bound the identical
    count runs per LSH/IVF cell (the routed kernels), losing only
    cross-cell recall, never precision."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index_path = f"{sf_dir}/embeddings.parquet"

    def degrees(batches):
        from ..functions.vectors import load_unit_index

        rb = load_unit_index(index_path, "vec_id", "embedding")
        rb_ids = rb.ids
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            norms = np.linalg.norm(mat, axis=1)
            keep = norms > 0
            ids, unit = ids[keep], mat[keep] / norms[keep, None]
            sims = np.round(rb.sims(unit), 4)
            hits = (sims >= _RANGE_TAU) & (ids[:, None] != rb_ids[None, :])
            yield pd.DataFrame(
                {"vec_id": ids, "degree": hits.sum(axis=1).astype("int64")}
            )

    deg = e.mapInPandas(degrees, schema="vec_id LONG, degree LONG")
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vectors"))


# ---------------------------------------------------------------------------
# Sign-bit binary codes + Hamming top-k (binary ANN pre-filter)
# ---------------------------------------------------------------------------

#: Number of query vectors (smallest vec_ids) and neighbors per query.
_HAM_Q = 20
_HAM_K = 5

#: Two 32-bit words hold the sign bits of the 64-dim embeddings
#: (DuckDB range-checks 1<<63, so a single 64-bit word is out; two
#: half-words keep every shift <= 31 and both engines overflow-free).
def _ham_word_sql(half: int) -> str:
    lo, hi = (0, 32) if half == 0 else (32, 64)
    return (
        "aggregate(transform(embedding,"
        f" (x, i) -> IF(x > float(0) AND i >= {lo} AND i < {hi},"
        f" shiftleft(bigint(1), i - {lo}), bigint(0))),"
        " bigint(0), (acc, v) -> acc + v)"
    )


def _ham_word_duck(half: int) -> str:
    lo, hi = (1, 33) if half == 0 else (33, 65)
    return (
        "CAST(list_aggregate(list_transform(embedding,"
        f" (x, i) -> CASE WHEN x > 0 AND i >= {lo} AND i < {hi}"
        f" THEN (1::BIGINT << (i - {lo}))"
        " ELSE 0::BIGINT END), 'sum') AS BIGINT)"
    )


@register(
    "sim_hamming_sign_topk",
    oracle=f"""
    WITH codes AS (
      SELECT vec_id, {_ham_word_duck(0)} AS w0, {_ham_word_duck(1)} AS w1
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM codes
      ORDER BY vec_id LIMIT {_HAM_Q}
    ),
    d AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.q0, c.w0))
                  + bit_count(xor(q.q1, c.w1)) AS BIGINT) AS hamming
      FROM q JOIN codes c ON c.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rnk
      FROM d
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, hamming
    FROM r WHERE rnk <= {_HAM_K}
    """,
    tags=("SIM", "ANN"),
)
def sim_hamming_sign_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-code ANN: collapse each embedding to its 64 SIGN BITS
    (two 32-bit half-words — 8 bytes/vector, a 32x compression of the
    float[64]) and rank neighbors by Hamming distance, the bitwise
    pre-filter stage of binary-hashing retrieval (Charikar's SimHash
    applied to the raw dimensions; cf. the document-side
    dedup_simhash_pairs).  The 20 (_HAM_Q) smallest vec_ids are the
    query set; each reports its 5 (_HAM_K) nearest codes with
    deterministic (distance, vec_id) order.

    Everything is integer bit algebra on the JVM/engine side: the
    word is one higher-order aggregate over the array (no UDF), the
    distance is bit_count(xor) — identical in both engines — and the
    top-k is one window over a broadcast-able Q x n frame.  At 100 TB
    the point IS the word column: a billion codes are 8 GB — scan-
    rankable per partition with two-phase top-k, while the float
    vectors they stand in for are 256 GB; production re-ranks the
    Hamming survivors with exact cosine (sim_truncation_recall_eval
    measures that second stage's recall discipline)."""
    e = table(spark, sf_dir, "embeddings")
    codes = e.select(
        "vec_id",
        F.expr(_ham_word_sql(0)).alias("w0"),
        F.expr(_ham_word_sql(1)).alias("w1"),
    )
    q = (
        codes.orderBy("vec_id")
        .limit(_HAM_Q)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("w0").alias("q0"),
            F.col("w1").alias("q1"),
        )
    )
    pairs = q.join(
        codes, F.col("vec_id") != F.col("query_id")
    )
    ham = F.expr("bit_count(q0 ^ w0) + bit_count(q1 ^ w1)").cast("long")
    w = Window.partitionBy("query_id").orderBy(ham.asc(), F.col("vec_id"))
    ranked = pairs.select(
        "query_id",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.col("vec_id").alias("neighbor_id"),
        ham.alias("hamming"),
    )
    return ranked.filter(F.col("rnk") <= _HAM_K)


# ---------------------------------------------------------------------------
# Embedding norm-distribution screen (norm collapse / outlier scale)
# ---------------------------------------------------------------------------


@register(
    "sim_norm_distribution_screen",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                                x -> x * x), 'sum'))
               AS nrm
      FROM embeddings
    )
    SELECT CAST(floor(nrm * 10) AS BIGINT) AS norm_decibucket,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm
    FROM n GROUP BY 1
    """,
    tags=("SIM", "QUALITY"),
)
def sim_norm_distribution_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding L2-norm histogram in 0.1-wide buckets with per-bucket
    min/max — the five-second sanity screen an embedding pipeline
    runs before ANY cosine math: a spike at bucket 0 is norm collapse
    (dead encoder / zero rows that will NaN a naive normalize), a fat
    right tail means un-normalized mixtures where dot-product ranking
    silently favors long vectors, and a single tight bucket confirms
    pre-normalized inputs.  Complements sim_dead_dimension_screen
    (per-DIMENSION variance) with the per-VECTOR scale view.

    The norm is the same left-fold sum of squares in both engines
    (sequential over the array — no cross-row float order issues),
    bucketed by floor(10*norm) into exact integers; min/max round at
    6dp.  Map-only + one bounded-cardinality groupBy: at 100 TB this
    is a single scan pass whose aggregate is histogram-sized."""
    e = table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x * x,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    n = e.select(nrm.alias("nrm"))
    return n.groupBy(
        F.floor(F.col("nrm") * 10).cast("long").alias("norm_decibucket")
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )
