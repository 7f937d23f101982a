"""Deduplication operators (north-star extension): exact hash dedup,
blocked n-gram Jaccard, MinHash+LSH, SimHash banding, and
embedding-cosine near-dup — the dedup toolbox of a large-scale
training-data pipeline.

Scale design:
- Exact dedup is a hash groupBy — one shuffle on the fingerprint, with
  map-side partial aggregation.
- Pairwise similarity NEVER does an unblocked self-join: Jaccard pairs
  are blocked on (lang, length-bucket), MinHash/SimHash pairs on LSH
  band buckets — candidate generation is a key-equality join, so at
  100 TB the cross-product only happens *within* buckets.
- Signatures (MinHash, SimHash) are computed with built-in higher-order
  functions over token/shingle arrays: map-only, no Python, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfns, vectors
from ..registry import register, register_probe
from ..session import shared
from ..sources.tables import bind, fanout, table

_DUCK_TOKENS = (
    # list_filter guard: DuckDB yields [''] for an empty/whitespace
    # document where Spark textfns.tokens yields [] — filter the
    # empty token so both engines agree on empty docs.
    "list_filter(string_split_regex(trim(text), '\\s+'),"
    " _x -> _x <> '')"
)

#: Max rows per Jaccard GEMM tile (see dedup_ngram_jaccard_pairs).
_JACCARD_TILE = 1024


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
           count(*) AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY 1
    """,
    tags=("DD",),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over normalized-text fingerprints; the keeper
    is min(doc_id) — deterministic, unlike dropDuplicates."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return d.groupBy(fp.alias("fp")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


@register(
    "dedup_exact_events_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id, value
    FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("DD",),
)
def dedup_exact_events_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on a composite key: implemented as a min(struct)
    aggregation — ONE shuffle with map-side partials, cheaper than the
    sort-based window formulation the oracle uses (same semantics because
    (ts, event_id) is unique per key)."""
    ev = table(spark, sf_dir, "events")
    first = F.min(F.struct("ts", "event_id", "value")).alias("first")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(first)
        .select(
            "user_id",
            "event_type",
            F.col("first.event_id").alias("first_event_id"),
            F.col("first.value").alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard near-dup (fully oracle-checkable)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS bucket,
             list_distinct({_DUCK_TOKENS}) AS toks
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS inter,
             len(a.toks) + len(b.toks)
               - len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS uni
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / uni >= 0.8
    """,
    tags=("DD",),
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by token-set Jaccard >= 0.8, blocked on
    (lang, n_chars/100): candidate pairs form only within blocks.

    Tokenization/distinct stays JVM-side (parity with the oracle's
    string_split_regex); pair scoring runs as ONE binary
    incidence-matrix GEMM per block via applyInPandas — n_block^2 set
    intersections collapse into a single M @ M.T, ~10x faster than the
    per-pair array_intersect self-join it replaces. Intersection/union
    counts are exact int64 (float32 GEMM is exact below 2^24); the
    double division and 0.8 threshold happen on those ints, matching
    the oracle bit-for-bit. At 100 TB the same kernel runs per block
    after the groupBy shuffle; a block too big for one matrix tiles
    into row-chunks against the same column space."""
    docs = _bucketed_token_docs(spark, sf_dir)
    pairs = docs.groupBy("lang", "bucket").applyInPandas(
        _jaccard_block_pairs, _BLOCK_PAIRS_SCHEMA
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter").cast("double") / F.col("uni"), 4).alias("jaccard"),
    )


_BLOCK_PAIRS_SCHEMA = "doc_a long, doc_b long, inter long, uni long"


def _bucketed_token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_chars/100 bucket, distinct tokens) — the shared
    blocking frame for the Jaccard pair kernels."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("int").alias("bucket"),
        F.array_distinct(textfns.tokens("text")).alias("toks"),
    )


def _jaccard_block_pairs(pdf):
    """One block's exact Jaccard>=0.8 pairs via a binary
    incidence-matrix GEMM (see dedup_ngram_jaccard_pairs).  Tiling
    caps the GEMM working set: a skewed block of n docs would
    otherwise allocate an n x n similarity matrix in one task; row
    chunks against the full column space bound peak memory at
    tile x n with identical pairs — the jumbo block still runs in ONE
    task (that's the groupBy contract), but it can no longer OOM it,
    only take longer.  Planted-jumbo-block unit test:
    tests/test_dedup_similarity.py."""
    import numpy as np
    import pandas as pd

    tile = _JACCARD_TILE
    n = len(pdf)
    empty = pd.DataFrame(
        {c: pd.Series(dtype="int64") for c in ("doc_a", "doc_b", "inter", "uni")}
    )
    if n < 2:
        return empty
    ids = pdf["doc_id"].to_numpy()
    vocab: dict = {}
    ri, ci = [], []
    for i, toks in enumerate(pdf["toks"]):
        for t in toks:
            ci.append(vocab.setdefault(t, len(vocab)))
            ri.append(i)
    if not vocab:
        return empty
    m = np.zeros((n, len(vocab)), dtype=np.float32)
    m[ri, ci] = 1.0
    sizes = m.sum(axis=1).astype(np.int64)
    outs = []
    for lo in range(0, n, tile):
        hi = min(lo + tile, n)
        inter = (m[lo:hi] @ m.T).astype(np.int64)
        uni = sizes[lo:hi, None] + sizes[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            ok = (inter.astype(np.float64) / uni >= 0.8) & (uni > 0)
        ai, bj = np.where(ok & (ids[lo:hi, None] < ids[None, :]))
        outs.append(
            pd.DataFrame(
                {
                    "doc_a": ids[lo + ai],
                    "doc_b": ids[bj],
                    "inter": inter[ai, bj],
                    "uni": uni[ai, bj],
                }
            )
        )
    return pd.concat(outs, ignore_index=True) if outs else empty


# ---------------------------------------------------------------------------
# Session-shared subtrees (session.share_subtrees)
# ---------------------------------------------------------------------------


def shared_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pairs frame, built once per session while
    `session.share_subtrees` is on and served to every downstream
    consumer (CC, triangles, reports, graph family — ~17 queries), else
    computed fresh.  Sharing also removes the +/-2-4 s session-noise
    band the re-executed GEMM put on every tail query (VERDICT r5 #7).
    The registered query itself always computes fresh so its own bench
    timing stays honest."""
    return shared(
        spark,
        sf_dir,
        "ngram_pairs",
        lambda: dedup_ngram_jaccard_pairs(spark, sf_dir),
    )


def shared_star_forest(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Star-forest edges (u=component root, v=leaf) of the verified
    near-dup graph, shared like shared_ngram_pairs — the production
    shape one step further: a real dedup pipeline labels components
    once and fans out (CC labels, canonical pick, cohesion, size
    histogram, bounded-ANF scope all read the same labels), it does not
    re-contract the graph per report.

    ``pairs``: a caller-materialized (doc_a, doc_b) frame to contract
    while sharing is off — callers that already checkpoint the pair
    list for another subtree (cohesion's triangle counts) pass it so
    the fresh plan does not compute the pairs twice; ignored while
    sharing is on (the shared pairs feed the shared contraction)."""
    from .. import session

    def build() -> DataFrame:
        src = pairs
        if src is None or session._SHARING:
            src = shared_ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
        edges = src.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        return alternating_components(edges)[0]

    return shared(spark, sf_dir, "star_forest", build)


# ---------------------------------------------------------------------------
# MinHash + LSH (md5-based hash60 → fully oracle-checkable)
# ---------------------------------------------------------------------------

_N_HASHES = 16
# 8 bands x 2 rows: LSH S-curve threshold (1/b)^(1/r) ~= 0.35, so pairs
# at the 0.5 verification cutoff are caught with P ~= 1-(1-0.5^2)^8 = 0.9,
# and ~0.7-similar near-dups with P > 0.99.
_BANDS = 8
_MH_PRIME = 2_147_483_647

#: 3-token shingle set in DuckDB (list slicing is 1-based inclusive, so
#: toks[i:i+2] is 3 elements; range() end is exclusive).
_DUCK_SHINGLES = f"""
    docs AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
      FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)
      WHERE len(toks) >= 3
    )
"""

_MINHASH_LSH_ORACLE = f"""
    WITH {_DUCK_SHINGLES},
    sigs AS (
      SELECT doc_id, shingles,
             {textfns.minhash_signature_sql("shingles", _N_HASHES, _MH_PRIME)} AS sig
      FROM docs
    ),
    bands AS (
      SELECT doc_id, t.b AS band_id,
             list_extract(sig, 2 * CAST(t.b AS INTEGER) + 1) * {_MH_PRIME}
               + list_extract(sig, 2 * CAST(t.b AS INTEGER) + 2) AS band_key
      FROM sigs, range(0, {_BANDS}) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s)))
               AS inter,
             len(sa.shingles) + len(sb.shingles)
               - len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s)))
               AS uni
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
    FROM scored
    WHERE CAST(inter AS DOUBLE) / uni >= 0.5
"""


def _minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The plan reuses this subtree 3x (banding + both sides of the
    # verification join); shingling/minhashing are interpreted
    # higher-order fns, so persist the small signature table instead of
    # recomputing it per use (~doc_count * (16 + |shingles|) values).
    return minhash_doc_sigs(table(spark, sf_dir, "documents")).persist()


def minhash_bands(docs: DataFrame) -> DataFrame:
    """Explode (doc_id, sig) rows to (doc_id, band_id, band_key): the
    band key packs the band's {_N_HASHES}//{_BANDS} signature values
    into one collision-free int64 (each value < p ~ 2^31, so
    s0*p + s1 < 2^62). Map-only — works identically on a batch frame
    and on a streaming frame (the streaming near-dup job reuses it)."""
    rows_per_band = _N_HASHES // _BANDS
    return docs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        (
                            F.element_at("sig", b * rows_per_band + 1)
                            * F.lit(_MH_PRIME)
                            + F.element_at("sig", b * rows_per_band + 2)
                        ).alias("band_key"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def minhash_doc_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, sig) from a documents-shaped frame — the
    map-only signature stage shared by the batch LSH query (via
    _minhash_docs, which adds persist) and the streaming near-dup job
    (persist is illegal on a streaming frame; bind works on both).

    Each stage's product is BOUND as a real attribute (Generate
    barrier): without it, project-collapse re-splits the text once per
    shingle window and re-md5s every shingle once per permutation
    (16x) — measured 6.5 s -> ~0.5 s at sf0.1 for the signature
    materialization."""
    b = bind(docs.select("doc_id", "text"), toks=textfns.tokens("text"))
    b = bind(
        b,
        shingles=F.array_distinct(textfns.shingles(F.col("toks"), 3)),
    ).filter(F.size("shingles") > 0)
    b = bind(b, hs=textfns.shingle_hashes(F.col("shingles"), _MH_PRIME))
    return b.select(
        "doc_id",
        "shingles",
        F.array(
            *textfns.minhash_from_hashes(F.col("hs"), _N_HASHES, _MH_PRIME)
        ).alias("sig"),
    )


@register("dedup_minhash_lsh_pairs", oracle=_MINHASH_LSH_ORACLE, tags=("DD", "LSH"))
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) -> LSH banding (8 bands x 2 rows) -> candidate pairs
    -> exact-Jaccard verification >= 0.5.

    Candidate generation is groupBy-free: docs explode to (band_id,
    band_key) rows and self-join on band equality — at scale this is a
    shuffle on band keys, and the quadratic blow-up is confined to
    same-bucket collisions, which is the entire point of LSH. The band
    key packs the band's 2 signature values into one collision-free
    int64 (each value < p ~ 2^31, so s0*p + s1 < 2^62) — exact band
    equality, no hash-collision false candidates, and bit-identical in
    the DuckDB oracle (the md5-based hash60 signature is what makes
    this query hash-checkable rather than rows-only)."""
    docs = _minhash_docs(spark, sf_dir)
    bands = minhash_bands(docs)

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sh = docs.select("doc_id", "shingles")
    verified = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / uni
    return verified.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    ).filter(jac >= 0.5)


# ---------------------------------------------------------------------------
# SimHash (md5-based bit votes → fully oracle-checkable)
# ---------------------------------------------------------------------------


def _simhash_oracle() -> str:
    """DuckDB twin of dedup_simhash_pairs, generated so the 64 vote
    columns stay in lockstep with the Spark expressions."""
    votes = ", ".join(
        f"sum(CASE WHEN ((h{1 if i < 32 else 2} >> {i % 32}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    # bit 63 via two's complement (a summed 1<<63 literal would overflow
    # BIGINT); bits 0..62 are disjoint powers so plain addition == OR.
    sig_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(63)
    )
    sig = f"(CASE WHEN b63 > 0 THEN -9223372036854775808 ELSE 0 END) + {sig_terms}"
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ),
    hs AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(tok), 16, 15))::BIGINT AS h2
      FROM toks
    ),
    votes AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id),
    sigs AS (SELECT doc_id, {sig} AS simhash FROM votes),
    chunks AS (
      SELECT doc_id, simhash, t.c AS chunk_id,
             (simhash >> (CAST(t.c AS INTEGER) * 16)) & 65535 AS chunk_key
      FROM sigs, range(0, 4) t(c)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunks a JOIN chunks b
        ON a.chunk_id = b.chunk_id AND a.chunk_key = b.chunk_key
           AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


@register("dedup_simhash_pairs", oracle=_simhash_oracle(), tags=("DD", "LSH"))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup: per-token bit votes -> sign -> 64-bit
    signature; banding on 4 x 16-bit chunks (pigeonhole: hamming <= 3
    guarantees >= 1 identical chunk) -> verify hamming <= 3 via
    bit_count(xor). Token bits come from two md5 hash60 slices (low 32
    of each), so the signature — and therefore the whole query — is
    bit-identical in the DuckDB oracle.

    The signature is one exploded-token aggregation (single shuffle on
    doc_id with map-side partials); banding reuses the LSH join shape.
    fanout(doc_id) spreads the token explode + 64-bit-vote partials
    across cores when the scan is single-partition, and because it
    hash-partitions on doc_id the vote groupBy reuses the exchange."""
    d = fanout(table(spark, sf_dir, "documents"), "doc_id")
    toks = (
        d.select("doc_id", F.explode(textfns.tokens("text")).alias("tok"))
        .withColumn("h1", textfns.hash60(F.col("tok")))
        .withColumn(
            "h2",
            F.conv(F.substring(F.md5(F.col("tok")), 16, 15), 16, 10).cast("long"),
        )
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(f"h{1 if i < 32 else 2}", i % 32)
                    .bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sig_col = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig_col = term if sig_col is None else sig_col.bitwiseOR(term)
    # NOT checkpointed (measured and rejected, r8 opt round): the chunk
    # self-join's two sides do re-run the 64-bit-vote aggregation, but
    # they execute CONCURRENTLY on idle cores (wall ~ one pass), while
    # an eager checkpoint serializes construction into an extra
    # blocking job — measured 2.1 -> 3.2 s at sf0.1.  At cluster scale
    # the duplicated pass costs real resources; materialize there.
    sigs = votes.select("doc_id", sig_col.alias("simhash"))

    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("simhash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_key")

    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(hamming <= 3)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (oracle-checkable)
# ---------------------------------------------------------------------------


#: Cosine near-dup threshold for the registered pair query.  A
#: PARAMETER, not a plan choice: production embedding dedup runs the
#: identical kernel at 0.9+ (SemDeDup-style), but the synthetic
#: fixture embeddings are near-orthogonal (max pairwise cosine 0.48 /
#: 0.51 / 0.60 at sf0.001/0.01/0.1), so a 0.9 cutoff made the query a
#: vacuous empty-vs-empty green for six rounds until the r7
#: non-vacuous gate flagged it.  0.45 yields a real, hash-checkable
#: pair set at every SF (7 / 14 / 144 pairs).
_COSINE_NEAR_DUP_TAU = 0.45


@register(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 4)
          >= {_COSINE_NEAR_DUP_TAU}
    """,
    tags=("DD", "ANN"),
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= _COSINE_NEAR_DUP_TAU.
    Brute-force O(n^2) pair generation as the correctness baseline (the
    LSH-bucketed scale path is sim_ann_lsh_bucketed in
    operators/similarity.py).

    Each vector is L2-normalized ONCE on the map side (O(n) higher-order
    fn), so per-pair work is a single Arrow-batched dot product
    (functions/vectors.make_dot_pandas) — cosine == dot of unit vectors."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # Scale route: once the index exceeds the broadcast-size bound, the
    # per-worker full-index GEMM below is the wrong plan — switch to
    # the banded LSH kernel (same columns and rounding; exact
    # precision, recall ~99% at cos>=0.9 and ~95% at the fixture's
    # 0.45 tau, no full-index structure in any task).  Fixture-scale
    # runs stay on the exact brute kernel, which is what the oracle
    # checks.
    from . import similarity as _sim

    if (
        _sim.index_row_count(f"{sf_dir}/embeddings.parquet")
        > _sim.BRUTE_INDEX_MAX_ROWS
    ):
        return _sim.banded_cosine_pairs(e, _COSINE_NEAR_DUP_TAU)

    def normalize(ids_np, mat):
        norms = np.linalg.norm(mat, axis=1)
        keep = norms > 0
        return ids_np[keep], mat[keep] / norms[keep, None]

    # Right side: one dense unit matrix (n x d doubles — 1 MB per 2k
    # vectors) loaded EXECUTOR-SIDE from the columnar file and cached
    # per worker (functions/vectors.load_unit_index) — the round-1
    # version collect()ed the whole table through the driver to build
    # a broadcast, which a 100x table would OOM. Each partition of the
    # left side runs ONE GEMM against it instead of materializing
    # |pairs| array rows through a join. At sizes where the right side
    # stops fitting in executor memory, the same kernel runs per LSH
    # bucket — brute force is the baseline, not the scale path.
    index_path = f"{sf_dir}/embeddings.parquet"

    out_schema = "vec_a LONG, vec_b LONG, cos_sim DOUBLE"

    def gemm_pairs(batches):
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
            ai, bj = np.where(
                (sims >= _COSINE_NEAR_DUP_TAU)
                & (a_ids[:, None] < rb_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": rb_ids[bj],
                    "cos_sim": sims[ai, bj],
                }
            )

    return e.mapInPandas(gemm_pairs, schema=out_schema)


# ---------------------------------------------------------------------------
# Connected components over the near-dup graph (iterative algorithm)
# ---------------------------------------------------------------------------

_CC_PAIRS_SQL = f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS bucket,
             list_distinct({_DUCK_TOKENS}) AS toks
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE)
            / (len(a.toks) + len(b.toks)
               - len(list_filter(a.toks, t -> list_contains(b.toks, t)))) >= 0.8
    )
"""


#: Edge-count gate below which connected components runs as ONE
#: driver-side union-find over a bounded collect (<= 16 MB at the
#: gate) instead of the O(log n) star-contraction rounds.  Sizing:
#: each distributed round costs 4+ exchanges and two driver barriers
#: (count + fixpoint check) regardless of data — pure fixed latency
#: on small graphs — while the driver pass is linear: ~16 B/edge for
#: the Arrow collect plus ~100-200 MB of Python union-find dict at
#: the gate's up-to-2M node keys (the real peak — ADVICE r7).  1M
#: edges keeps both far under the host-derived driver heap;
#: production graphs past the gate take the contraction path.  The
#: forced-path differential (tests/test_forced_paths.py) pins both
#: paths to identical star forests.
CC_DRIVER_MAX_EDGES = 1_000_000


def alternating_components(edges: DataFrame, max_rounds: int = 25):
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): alternately hook
    every node's larger neighbors to its minimum neighbor (large-star)
    and its smaller neighbors to their minimum (small-star) until the
    edge set reaches the fixed point — a star forest whose center is
    each component's minimum node id.

    Converges in O(log n) rounds even on path graphs, where plain
    min-label propagation (round 1's implementation) needs O(diameter)
    rounds — the planted-chain unit test in tests/test_dedup_similarity
    pins this. Each round is two groupBy-min + join shuffles plus one
    distinct; localCheckpoint truncates lineage per round.

    ``edges``: DataFrame[src, dst] (any orientation, dups ok).
    Returns (star_edges[u=root, v=leaf], rounds_used; 0 when the
    size-gated driver path ran)."""
    E = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        # lazy checkpoint: the count() below materializes it, so the
        # truncate-lineage barrier and the size probe share ONE job
        # (eager=True would run the plan once for the checkpoint and
        # again for the count).
        .localCheckpoint(eager=False)
    )
    n_edges = E.count()
    if 0 < n_edges <= CC_DRIVER_MAX_EDGES:
        # Size-gated driver-side union-find (same gate discipline as
        # the k-truss broadcast and the brute-vs-IVF router, with its
        # own forced-path differential): below the gate the dedup'd
        # edge list is a bounded collect (16 B/edge -> <= 16 MB), and
        # one union-find pass replaces O(log n) rounds x several
        # exchanges + driver barriers each — the rounds' FIXED latency
        # dominates tiny graphs (measured: the linkage CC spent ~4 s
        # on a ~10^3-edge match graph).  Above the gate, the star
        # contraction is the only path that scales.  Output is
        # bit-identical: a star forest rooted at each component's
        # minimum, which union-by-min-root constructs directly.
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        # Driver footprint, honestly (ADVICE r7): the Arrow collect is
        # ~16 B/edge (<= 16 MB at the gate), but the Python union-find
        # dict over up to ~2M node keys peaks at ~100-200 MB — still
        # far under the host-derived driver heap, and freed when this
        # frame returns.  The result goes back through pandas so the
        # return path stays columnar Arrow (a list-of-tuples
        # createDataFrame would re-serialize ~2M Python tuples through
        # the driver row-by-row).
        import pandas as pd

        pdf = E.toPandas()
        for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        roots = {x: find(x) for x in parent}
        stars = pd.DataFrame(
            {
                "u": [r for x, r in roots.items() if r != x],
                "v": [x for x, r in roots.items() if r != x],
            }
        )
        spark = edges.sparkSession
        if stars.empty:
            return spark.createDataFrame([], schema=E.schema), 0
        return spark.createDataFrame(stars, schema=E.schema), 0
    rounds = 0
    while n_edges and rounds < max_rounds:
        rounds += 1
        # Large-star: at each node u (full neighborhood), hook every
        # LARGER neighbor to m = min(N(u) ∪ {u}).
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        ls = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        E1 = (
            ls.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct()
        )
        # Small-star: at each node v (smaller neighbors only — E1 is
        # canonical u < v), hook them and v itself to their minimum.
        mins = E1.groupBy("v").agg(F.min("u").alias("mn"))
        sm = (
            E1.join(mins, "v")
            .select(F.col("u").alias("a"), F.col("mn").alias("b"))
            .union(mins.select(F.col("v").alias("a"), F.col("mn").alias("b")))
        )
        E2 = (
            sm.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        n2 = E2.count()
        if n2 == n_edges and E2.exceptAll(E).count() == 0:
            E = E2
            break
        E, n_edges = E2, n2
    # Structural guard: a max_rounds exit without reaching the fixpoint
    # could return a non-star-forest edge set, which the membership
    # join downstream would silently turn into duplicate doc_id rows.
    # A star forest has each leaf exactly once and no root that is also
    # a leaf — cheap to assert on the final (small) edge set.
    if n_edges:
        dup_leaves = E.groupBy("v").count().filter(F.col("count") > 1).count()
        root_leaves = E.join(
            E.select(F.col("v").alias("u")).distinct(), "u", "leftsemi"
        ).count()
        if dup_leaves or root_leaves:
            raise RuntimeError(
                f"alternating_components did not converge within "
                f"{max_rounds} rounds ({dup_leaves} duplicated leaves, "
                f"{root_leaves} chained edges) — raise max_rounds"
            )
    return E, rounds


@register(
    "dedup_connected_components",
    oracle=f"""
    {_CC_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    )
    SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    """,
    tags=("DD", "ITER"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Jaccard>=0.8 near-dup graph: every
    document labeled with the min doc_id of its duplicate cluster —
    the step that turns pairwise near-dup hits into keep/drop decisions
    (keep the component min, drop the rest).

    Uses the alternating large-star/small-star algorithm (see
    :func:`alternating_components`) — O(log n) rounds, robust to long
    chains and high-degree skew, unlike the O(diameter) min-label
    propagation it replaces. The oracle is DuckDB's recursive CTE
    computing reachability mins — same fixpoint, declaratively."""
    stars = shared_star_forest(spark, sf_dir)
    membership = stars.select(
        F.col("v").alias("doc_id"), F.col("u").alias("component")
    )
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(membership, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
    )


@register(
    "dedup_canonical_docs",
    oracle=f"""
    {_CC_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    ),
    ranked AS (
      SELECT c.component, d.doc_id, 
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component, doc_id AS kept_doc_id, n_members
    FROM ranked WHERE rn = 1
    """,
    tags=("DD", "ITER"),
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop decision that ends a dedup pipeline: per near-dup
    component, keep the LONGEST document (n_chars, doc_id tiebreak) as
    canonical and report cluster size.  Selection policy lives in one
    window ORDER BY — swapping in a quality score (operators/text.py)
    instead of n_chars is a one-line change.

    Components join back to documents on doc_id (both sides already
    doc-keyed, one co-partitioned shuffle); the argmax is a row_number
    window over component — the cluster-count domain, tiny next to the
    corpus."""
    comp = dedup_connected_components(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = comp.join(d, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("rn") == 1)
        .select("component", F.col("doc_id").alias("kept_doc_id"), "n_members")
    )


def orient_by_degree(pairs: DataFrame) -> DataFrame:
    """Orient each undirected edge (doc_a < doc_b) from its LOWER-
    (degree, id)-ranked endpoint to the higher: columns (src, dst,
    src_deg, dst_deg).  Every vertex's out-degree is then O(sqrt(m))
    amortized (a vertex of degree d only keeps out-edges to >=d-degree
    neighbors), which is what bounds the wedge join under hubs."""
    deg = (
        pairs.select(F.col("doc_a").alias("v"))
        .unionAll(pairs.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = pairs.join(
        deg.select(F.col("v").alias("doc_a"), F.col("deg").alias("deg_a")),
        "doc_a",
    ).join(
        deg.select(F.col("v").alias("doc_b"), F.col("deg").alias("deg_b")),
        "doc_b",
    )
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return e.select(
        F.when(fwd, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(fwd, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(fwd, F.col("deg_a")).otherwise(F.col("deg_b")).alias("src_deg"),
        F.when(fwd, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    )


def wedges_by_degree(oriented: DataFrame) -> DataFrame:
    """Open wedges (x; y, z) with rank(y) < rank(z), generated only at
    each wedge's LOWEST-ranked vertex x — the hub-robust enumeration: a
    celebrity node has out-degree ~0 (every edge points into it), so it
    generates no wedges at all."""
    o1 = oriented.select("src", F.col("dst").alias("y"), F.col("dst_deg").alias("y_deg"))
    o2 = oriented.select("src", F.col("dst").alias("z"), F.col("dst_deg").alias("z_deg"))
    rank_lt = (F.col("y_deg") < F.col("z_deg")) | (
        (F.col("y_deg") == F.col("z_deg")) & (F.col("y") < F.col("z"))
    )
    return o1.join(o2, "src").filter(rank_lt)


def triangles_from_edges(pairs: DataFrame) -> DataFrame:
    """Each triangle exactly once as (a, b, c), a < b < c by id."""
    # Round-robin repartition before the checkpoint: AQE coalesces the
    # byte-small edge list to ~1 partition, but wedge FAN-OUT work per
    # row is huge — without this, a broadcast wedge join runs the whole
    # sum(out-deg^2) generation on one core (see triangle_counts_from_
    # edges; same fix, measured there 21 s -> 3 s on the intersect).
    n_parts = int(
        pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    oriented = (
        orient_by_degree(pairs).repartition(2 * n_parts).localCheckpoint()
    )
    closing = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    wedges = wedges_by_degree(oriented).select("src", "y", "z")
    tri = wedges.join(closing, ["y", "z"])
    # Rank order (src lowest by (deg, id)) is not id order — re-sort the
    # triple to (a < b < c) with least/greatest arithmetic: three long
    # expressions inside whole-stage codegen, no per-row array alloc
    # (array_sort here cost ~10 s on the 17M-triangle sf0.1 output).
    a = F.least("src", "y", "z")
    c = F.greatest("src", "y", "z")
    b = F.col("src") + F.col("y") + F.col("z") - a - c
    return tri.select(a.alias("a"), b.alias("b"), c.alias("c"))


@register(
    "dedup_graph_triangles",
    oracle=f"""
    {_CC_PAIRS_SQL}
    SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
    FROM pairs e1
    JOIN pairs e2 ON e2.doc_a = e1.doc_b
    JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    """,
    tags=("DD", "GRAPH"),
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the Jaccard>=0.8 near-dup graph — the
    cohesion signal that separates true duplicate clusters (near-
    cliques, triangle-dense) from chains of borderline pairs (triangle-
    free), which is how a dedup pipeline decides whether to collapse a
    component aggressively or review it.

    Degree-ordered enumeration (the hub-robust classic): orient each
    edge low-(degree, id) -> high, generate each wedge only at its
    lowest-ranked vertex, probe the closing oriented edge.  Each
    triangle is found exactly once at its lowest-ranked corner and
    re-sorted to (a < b < c) ids, so the output is identical to naive
    id-ordered enumeration — but a celebrity node with degree d no
    longer costs a d^2 wedge blowup (its edges all point INTO it),
    which is the difference between surviving and not surviving a
    100x corpus with a boilerplate hub document.  At 100 TB: two
    equi-joins plus a degree aggregate, all AQE-splittable, no cross
    products anywhere."""
    # Materialize the edge list ONCE — the degree aggregate + wedge +
    # closing joins would otherwise re-run the whole Jaccard GEMM
    # subtree (measured 10 s -> 3 s at sf0.1).
    pairs = (
        shared_ngram_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    return triangles_from_edges(pairs)


def triangle_counts_from_edges(pairs: DataFrame) -> DataFrame:
    """Per-vertex triangle participation counts WITHOUT materializing
    wedges or the triangle list.  The wedge self-join is replaced by a
    per-EDGE sorted-adjacency intersection: collect each vertex's
    degree-ordered out-neighbors once, join the m oriented edges against
    that adjacency (both sides edge-count-sized, nothing
    wedge-count-sized ever exists as rows), and take
    ``array_intersect(N+(u), N+(v))`` per edge — the common out-
    neighbors are exactly the third corners of the triangles closed at
    edge (u, v), each triangle found exactly once.  Corner contributions
    (u and v once per common element, plus every common element) stream
    through one in-codegen explode into a map-side-combined hash
    aggregate, so the only O(triangles) structure is a generator feeding
    partial aggregation — never a shuffled or joined row set.

    Why this beats the wedge join for counting: the sf0.1 near-dup
    graph is near-union-of-cliques — 17.45 M wedges of which 17.4 M
    close — so the wedge join materializes ~17 M join rows that the
    count form provably never needs (measured: the wedge-join count
    variant scaled at alpha~1.04, indistinguishable from enumeration;
    this form drops the graph-side cost to per-edge array work bounded
    by sum_e(d+(u) + d+(v)) <= 2m*sqrt(m)).  Degree-ordered out-
    adjacency keeps every array O(sqrt m) under hubs — the same
    robustness proof as the enumeration path."""
    # Round-robin repartition BEFORE the checkpoint: AQE coalesces the
    # small edge list to ~1 partition, which would serialize the
    # per-edge intersect work (the actual O(sum d+(u)+d+(v)) cost) onto
    # one core — measured 21 s -> 3 s at 10x.  Row-count is tiny; the
    # WORK per row is not, so partition by available cores, not bytes.
    n_parts = int(
        pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    oriented = (
        orient_by_degree(pairs)
        .select("src", "dst")
        .repartition(2 * n_parts)
        .localCheckpoint()
    )
    adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        # both join sides read the adjacency — build the collect_list
        # aggregation once, not once per broadcast (the before-plan had
        # two full Exchange+BroadcastExchange subtrees; r8 opt round).
        .localCheckpoint(eager=True)
    )
    a_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nbrs_u"))
    a_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v"))
    # Inner joins are correct: an edge whose dst has no out-neighbors
    # closes no triangle and contributes nothing to any count.
    e = (
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(a_u, "u")
        .join(a_v, "v")
        .select(
            "u", "v", F.array_intersect("nbrs_u", "nbrs_v").alias("common")
        )
    )
    # Corner stream: each closed triangle contributes its three corners
    # (u, v, and the common element z) as plain longs through one
    # in-codegen generator into a map-side-combined count.  (A weighted
    # struct encoding emitting T+2m rows instead of 3T was measured
    # SLOWER — per-element struct allocation costs more than the extra
    # long rows once the stage is parallel.)
    n = F.size("common")
    corners = e.select(
        F.explode(
            F.concat(
                F.array_repeat(F.col("u"), n),
                F.array_repeat(F.col("v"), n),
                F.col("common"),
            )
        ).alias("doc_id")
    )
    return corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@register(
    "graph_triangle_counts",
    oracle=f"""
    {_CC_PAIRS_SQL},
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    corners AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, count(*) AS n_triangles FROM corners GROUP BY doc_id
    """,
    tags=("DD", "GRAPH"),
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count/statistics form of triangle enumeration — the documented
    SCALE PATH for graph cohesion (VERDICT r3 #1): per-vertex triangle
    counts aggregated directly from the degree-ordered wedge join, never
    materializing the (a, b, c) triple list.  Global triangle count is
    sum(n_triangles)/3; per-component cohesion joins this against
    dedup_connected_components on doc_id.

    Same hub-robust degree-ordered join as dedup_graph_triangles (each
    triangle closed exactly once at its lowest-ranked corner), but the
    match stream ends in a partial-aggregated groupBy instead of a
    17 M-row (at sf0.1; billions at 100x) output sink.  Keep
    dedup_graph_triangles as the oracle-checked enumeration at fixture
    scale; run THIS at corpus scale."""
    pairs = (
        shared_ngram_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    return triangle_counts_from_edges(pairs)


# ---------------------------------------------------------------------------
# Shingle containment near-dup (inverted-index pair generation)
# ---------------------------------------------------------------------------

_CONT_DF_CAP = 50  # drop shingles appearing in more than this many docs
_CONT_NUM, _CONT_DEN = 4, 5  # containment >= 4/5


@register(
    "dedup_shingle_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len({_DUCK_TOKENS}) >= 3 THEN
                 list_transform(range(1, len({_DUCK_TOKENS}) - 1),
                   i -> {_DUCK_TOKENS}[i] || ' ' || {_DUCK_TOKENS}[i+1]
                        || ' ' || {_DUCK_TOKENS}[i+2])
               ELSE [] END)) AS s
      FROM documents
    ),
    keep AS (
      SELECT s FROM sh GROUP BY s HAVING count(*) <= {_CONT_DF_CAP}
    ),
    filt AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n FROM filt GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM filt a JOIN filt b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {_CONT_DEN} * i >= {_CONT_NUM} * least(sa.n, sb.n)
    """,
    tags=("DD",),
)
def dedup_shingle_containment_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sub-document duplication: pairs whose 3-token shingle CONTAINMENT
    (|A∩B| / min(|A|,|B|)) is >= 0.8 — the Lee et al. "Deduplicating
    Training Data" signal that Jaccard misses when a short document is
    embedded inside a long one (union-normalization drowns it).

    Built as an inverted shingle index, NOT a block GEMM: length
    blocking (the Jaccard kernel's strategy) cannot be used here
    because the interesting pairs CROSS length buckets. Plan: explode
    distinct shingles -> document-frequency cap (posting lists longer
    than {_CONT_DF_CAP} docs are dropped — the standard guard that
    keeps a boilerplate shingle from generating |posting|^2 candidate
    pairs; the oracle applies the identical cap, so parity is exact) ->
    self-equi-join on the shingle key -> pair-count aggregation ->
    integer cross-multiplied threshold ({_CONT_DEN}·inter >=
    {_CONT_NUM}·min — no float at the boundary). Every shuffle is on a
    high-cardinality key (shingle, then pair); at 100 TB the df-cap is
    what bounds the join fan-out, exactly as in production near-dup
    pipelines."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(textfns.shingles(F.col("toks"), 3))
        ).alias("s"),
    )
    keep = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _CONT_DF_CAP
    )
    # The capped posting list feeds THREE consumers (both self-join
    # sides + the size aggregate); materialize it once instead of
    # re-running the explode + cap join per consumer (12.5 s -> ~4 s at
    # sf0.1).
    filt = sh.join(keep.select("s"), "s").localCheckpoint()
    sizes = filt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = filt.select(F.col("doc_id").alias("doc_a"), "s")
    b = filt.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    mn = F.least("na", "nb")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(_CONT_DEN * F.col("i") >= _CONT_NUM * mn)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i").cast("double") / mn, 4).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash estimator quality: estimated vs exact Jaccard per verified pair
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_estimate_error",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sigs AS (
      SELECT doc_id, shingles,
             {textfns.minhash_signature_sql("shingles", _N_HASHES, _MH_PRIME)} AS sig
      FROM docs
    ),
    bands AS (
      SELECT doc_id, t.b AS band_id,
             list_extract(sig, 2 * CAST(t.b AS INTEGER) + 1) * {_MH_PRIME}
               + list_extract(sig, 2 * CAST(t.b AS INTEGER) + 2) AS band_key
      FROM sigs, range(0, {_BANDS}) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s)))
               AS inter,
             len(sa.shingles) + len(sb.shingles)
               - len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s)))
               AS uni,
             len(list_filter(range(1, {_N_HASHES} + 1),
                             i -> sa.sig[CAST(i AS INTEGER)]
                                  = sb.sig[CAST(i AS INTEGER)])) AS matches
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard,
           CAST(matches AS DOUBLE) / {_N_HASHES} AS est_jaccard,
           round(abs(CAST(inter AS DOUBLE) / uni
                     - CAST(matches AS DOUBLE) / {_N_HASHES}), 4) AS abs_err
    FROM scored
    WHERE CAST(inter AS DOUBLE) / uni >= 0.5
    """,
    tags=("DD", "LSH", "SKETCH"),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: for every verified near-dup pair,
    the MinHash ESTIMATE of Jaccard (matching signature positions /
    {_N_HASHES}) next to the exact value and their absolute error —
    the "measure, don't guess" check that tells you whether 16
    permutations are enough before trusting estimate-only dedup at
    scale (stderr ~ sqrt(J(1-J)/16) ~ 0.125 at J=0.5).

    est_jaccard is k/{_N_HASHES} — a dyadic rational, exactly
    representable in binary floating point, so no rounding is needed
    for hash parity. Same plan as dedup_minhash_lsh_pairs plus one
    map-side zip_with over the two signatures already present at the
    verification join — zero extra shuffles."""
    docs = _minhash_docs(spark, sf_dir)
    bands = minhash_bands(docs)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sides = docs.select("doc_id", "shingles", "sig")
    joined = cand.join(
        sides.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("shingles", "sh_a")
        .withColumnRenamed("sig", "sig_a"),
        "doc_a",
    ).join(
        sides.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("shingles", "sh_b")
        .withColumnRenamed("sig", "sig_b"),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / uni
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    est = matches.cast("double") / _N_HASHES
    return joined.filter(jac >= 0.5).select(
        "doc_a",
        "doc_b",
        F.round(jac, 4).alias("jaccard"),
        est.alias("est_jaccard"),
        F.round(F.abs(jac - est), 4).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Substring-level dedup: repeated fixed-length token windows across docs
# ---------------------------------------------------------------------------

_SSW_W = 8  # window length in tokens (stride 1 — exhaustive)


@register(
    "dedup_repeated_substring_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t, len({_DUCK_TOKENS}) AS n
      FROM documents
    ),
    eligible AS (
      SELECT doc_id, t, n FROM toks WHERE n >= {_SSW_W}
    ),
    occ AS (
      SELECT doc_id,
             {textfns.DUCK_HASH60.format(
                 col=f"array_to_string(list_slice(t, i.i, i.i + {_SSW_W} - 1), ' ')"
             )} AS wh
      FROM eligible, unnest(range(1, n - {_SSW_W} + 2)) AS i(i)
    ),
    dup AS (
      SELECT wh FROM occ GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT o.doc_id, count(*) AS n_dup_windows
      FROM occ o JOIN dup USING (wh) GROUP BY o.doc_id
    )
    SELECT e.doc_id,
           e.n - {_SSW_W} + 1 AS n_windows,
           coalesce(p.n_dup_windows, 0) AS n_dup_windows,
           round(CAST(coalesce(p.n_dup_windows, 0) AS DOUBLE)
                 / (e.n - {_SSW_W} + 1), 6) AS dup_window_frac
    FROM eligible e LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("DD", "TXT"),
)
def dedup_repeated_substring_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Substring-LEVEL duplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): every {_SSW_W}-token window
    (stride 1) is fingerprinted, and a window is duplicated if its exact
    text occurs in >= 2 distinct documents. Per document: window count,
    duplicated-window count, and the duplicated fraction — the signal
    that catches boilerplate/licence blocks and quoted passages that
    document-level Jaccard/MinHash miss entirely (the containing docs
    are not near-dups; the SPAN is).

    Scale shape (vs the reference's row pipelines, which have no dedup
    at all — north-star extension): tokenize + slide is map-only
    (higher-order functions, one row per token via explode of the
    shingle array); windows travel as 60-bit md5 fingerprints, never as
    text, so the duplicate-counting shuffle carries 16 bytes/window.
    The compact (doc_id, wh) occurrence list feeds both the duplicate
    vote and the join-back, so it is checkpointed once (same rationale
    as the containment posting list). count(DISTINCT doc_id) >= 2 is
    per-fingerprint with map-side partial distinct — no posting-list
    blow-up; at 100 TB this is the streaming-friendly form of the
    suffix-array pass (fixed W trades generality for one-pass
    parallelism). Window totals come from token counts arithmetically
    (n - W + 1) — the totals side never materializes windows."""
    d = bind(
        fanout(table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"),
        toks=textfns.tokens("text"),
    )
    toks = F.col("toks")
    # one tokenize pass: the fingerprint stream AND the window totals
    # both read this frame (totals used to re-run the regex tokenizer;
    # r8 opt round, guide §1.2).  n_windows >= 1 <=> n_tokens >= W, so
    # the totals row set is unchanged.
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        textfns.shingles(toks, _SSW_W).alias("wins"),
    ).filter(F.col("n_tokens") >= _SSW_W).localCheckpoint(eager=True)
    occ = base.select(
        "doc_id", F.explode("wins").alias("win")
    ).select("doc_id", textfns.hash60(F.col("win")).alias("wh"))
    # Two consumers (duplicate vote + join-back): materialize the
    # compact fingerprint stream once instead of re-hashing twice.
    occ = occ.localCheckpoint()
    dup = (
        occ.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )
    per_doc = occ.join(dup, "wh").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    )
    totals = base.select(
        "doc_id",
        (F.col("n_tokens") - _SSW_W + 1).cast("long").alias("n_windows"),
    )
    n_dup = F.coalesce("n_dup_windows", F.lit(0)).cast("long")
    # SHUFFLED HASH, not broadcast (ADVICE r8): per_doc is
    # doc-cardinality — a mandatory broadcast hint would override
    # autoBroadcastJoinThreshold and grow with |documents| at 100 TB.
    # Without this hint the planner broadcasts per_doc at sf0.01 and
    # sf0.1 (plan diff); both sides are doc-cardinality rows of a few
    # longs, so the hash build is bounded per task.
    return totals.join(
        per_doc.hint("shuffle_hash"), "doc_id", "left"
    ).select(
        "doc_id",
        "n_windows",
        n_dup.alias("n_dup_windows"),
        F.round(n_dup.cast("double") / F.col("n_windows"), 6).alias(
            "dup_window_frac"
        ),
    )


@register(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t, len({_DUCK_TOKENS}) AS n
      FROM documents
    ),
    occ AS (
      SELECT doc_id, i.i AS pos,
             {textfns.DUCK_HASH60.format(
                 col=f"array_to_string(list_slice(t, i.i, i.i + {_SSW_W} - 1), ' ')"
             )} AS wh
      FROM toks, unnest(range(1, n - {_SSW_W} + 2)) AS i(i)
      WHERE n >= {_SSW_W}
    ),
    dup AS (
      SELECT wh FROM occ GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
    ),
    dpos AS (
      SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (wh)
    ),
    islands AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dpos
    ),
    spans AS (
      SELECT doc_id, grp, min(pos) AS span_start,
             count(*) + {_SSW_W} - 1 AS span_tokens
      FROM islands GROUP BY doc_id, grp
    )
    SELECT doc_id,
           count(*) AS n_dup_spans,
           CAST(max(span_tokens) AS BIGINT) AS longest_span_tokens,
           CAST(min(span_start) AS BIGINT) AS first_span_start
    FROM spans GROUP BY doc_id
    """,
    tags=("DD", "TXT"),
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge duplicated {_SSW_W}-token windows into MAXIMAL spans via
    gaps-and-islands (pos - row_number() is constant within a run of
    consecutive window positions), reporting per document the span
    count, the longest span's token length, and where duplication
    starts — the span-level output an excision pass (cut the duplicated
    passage, keep the document) needs, where
    dedup_repeated_substring_windows only scores.

    Scale shape: identical fingerprint stream as the window scorer
    (16-byte rows, one wh-keyed duplicate vote), then ONE doc_id
    exchange serves the island window AND both aggregations
    (HashPartitioning(doc_id) satisfies all three). Island detection is
    O(positions) per document — no self-joins, no interval trees."""
    d = bind(
        fanout(table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"),
        toks=textfns.tokens("text"),
    )
    base = d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        textfns.shingles(F.col("toks"), _SSW_W).alias("wins"),
    ).filter(F.col("n_tokens") >= _SSW_W)
    occ = base.select(
        "doc_id", F.posexplode("wins").alias("pos0", "win")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),  # 1-based like the oracle
        textfns.hash60(F.col("win")).alias("wh"),
    )
    occ = occ.localCheckpoint()
    dup = (
        occ.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )
    dpos = occ.join(dup, "wh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dpos.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    spans = islands.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.count(F.lit(1)) + _SSW_W - 1).alias("span_tokens"),
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.max("span_tokens").cast("long").alias("longest_span_tokens"),
        F.min("span_start").cast("long").alias("first_span_start"),
    )


# ---------------------------------------------------------------------------
# Edit-distance verification of LSH candidates (fuzzy near-dup ladder)
# ---------------------------------------------------------------------------

_ED_DEN = 5  # keep pairs with edit_distance <= max_len / _ED_DEN


@register(
    "dedup_edit_distance_pairs",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sigs AS (
      SELECT doc_id, shingles,
             {textfns.minhash_signature_sql("shingles", _N_HASHES, _MH_PRIME)} AS sig
      FROM docs
    ),
    bands AS (
      SELECT doc_id, t.b AS band_id,
             list_extract(sig, 2 * CAST(t.b AS INTEGER) + 1) * {_MH_PRIME}
               + list_extract(sig, 2 * CAST(t.b AS INTEGER) + 2) AS band_key
      FROM sigs, range(0, {_BANDS}) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
           CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE {_ED_DEN} * abs(length(da.text) - length(db.text))
          <= greatest(length(da.text), length(db.text))
      AND {_ED_DEN} * levenshtein(da.text, db.text)
          <= greatest(length(da.text), length(db.text))
    """,
    tags=("DD", "LSH"),
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy dedup: MinHash-LSH candidate pairs verified
    by EXACT Levenshtein distance (keep when edit_distance <=
    max_len/{_ED_DEN}) — the verification rung that catches
    small-edit duplicates (typo fixes, template fills) whose token sets
    already overlap enough to band together but whose similarity is
    character- not token-shaped. Completes the near-dup verification
    ladder: token Jaccard, shingle containment, SimHash/dHash Hamming,
    embedding cosine, and now edit distance.

    Scale shape: candidate generation is the shared LSH band join —
    the O(len^2)-per-pair Levenshtein only ever runs on banded
    candidates, never all pairs; text reaches the verify join via two
    doc-keyed hash joins. The threshold is integer cross-multiplied
    ({_ED_DEN}*ed <= max_len) — no float at the boundary; both
    engines' built-in levenshtein counts unit edits identically."""
    docs = _minhash_docs(spark, sf_dir)
    bands = minhash_bands(docs)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    max_len = F.greatest(F.length("ta"), F.length("tb")).cast("long")
    # ed >= |len_a - len_b|, so length-incompatible pairs fail without
    # the O(len^2) DP — the CASE guard keeps levenshtein unevaluated.
    len_ok = _ED_DEN * F.abs(F.length("ta") - F.length("tb")) <= max_len
    # Thresholded (banded) levenshtein, threshold = floor(max_len/DEN):
    # O(len * len/DEN) per pair instead of the full O(len^2) DP, and
    # d <= floor(max_len/DEN) <=> DEN*d <= max_len for integer d, so
    # "result >= 0" is exactly the old cross-multiplied predicate and
    # the value on kept rows is the same distance (r8 opt round,
    # guide §4.1 — keep the work in a cheaper built-in).
    ed = F.when(
        len_ok,
        F.expr(
            "levenshtein(ta, tb, CAST(greatest(length(ta), length(tb))"
            f" DIV {_ED_DEN} AS INT))"
        ),
    ).cast("long")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(len_ok & (ed >= 0))
        .select(
            "doc_a",
            "doc_b",
            ed.alias("edit_distance"),
            max_len.alias("max_len"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style candidate generation)
# ---------------------------------------------------------------------------

_PFX_NUM, _PFX_DEN = 4, 5  # Jaccard >= 4/5


@register(
    "dedup_prefix_filter_pairs",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, list_distinct({_DUCK_TOKENS}) AS toks
      FROM documents WHERE len({_DUCK_TOKENS}) > 0
    ),
    tok AS (SELECT doc_id, t.w AS w FROM docs, unnest(toks) AS t(w)),
    dfreq AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
    ordered AS (
      SELECT doc_id, list(w ORDER BY df, w) AS ow
      FROM tok JOIN dfreq USING (w) GROUP BY doc_id
    ),
    pfx AS (
      SELECT doc_id, len(ow) AS n, u.w AS w
      FROM (SELECT doc_id, ow,
                   ow[1:(len(ow) - ({_PFX_NUM} * len(ow) + {_PFX_NUM}) // {_PFX_DEN} + 1)]
                     AS p
            FROM ordered) s,
           unnest(p) AS u(w)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pfx a JOIN pfx b
        ON a.w = b.w AND a.doc_id < b.doc_id
           AND {_PFX_DEN} * a.n >= {_PFX_NUM} * b.n
           AND {_PFX_DEN} * b.n >= {_PFX_NUM} * a.n
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS inter,
             len(da.toks) + len(db.toks)
               - len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS uni
      FROM cand c
      JOIN docs da ON da.doc_id = c.doc_a
      JOIN docs db ON db.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
    FROM scored WHERE {_PFX_DEN} * inter >= {_PFX_NUM} * uni
    """,
    tags=("DD",),
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (the PPJoin family,
    Xiao et al.): order each document's distinct tokens rarest-first by
    global document frequency; for Jaccard >= {_PFX_NUM}/{_PFX_DEN},
    two sets can qualify only if they share a token within each
    other's (1 - t)|set| + 1 prefix — so only PREFIX tokens are
    indexed, and candidates come from an equi-join on those rare
    tokens. The third candidate-generation strategy next to
    (lang, length) blocking and LSH banding; unlike blocking it is
    COMPLETE (no cross-block misses), unlike banding it has no
    probabilistic misses — the trade is candidate count, bounded here
    because rarest-first prefixes have short posting lists by
    construction.

    Integer arithmetic at every decision point: the prefix length is
    n - ceil(t*n) + 1 computed as (4n+4) div 5, and the verify is
    {_PFX_DEN}*inter >= {_PFX_NUM}*uni — no float at a boundary.
    One vocabulary-domain df aggregate (broadcast back), one doc-keyed
    ordered-list build, the prefix-token equi-join, then exact verify
    on the two candidate doc-id hash joins."""
    cand = prefix_filter_candidates(spark, sf_dir)
    d = _pfx_docs(spark, sf_dir)
    # Verify on xxhash64(token) LONG arrays, not strings: the verify
    # stage is where this operator's time goes (measured @10x: 49 s of
    # a ~40 s total as a separate stage; 61 M candidates of which 30 M
    # verify — candidate generation is ~50% efficient, so verify work
    # is output-bound and can only be made CHEAPER per pair, not
    # smaller).  Hashing each doc's distinct tokens once and
    # intersecting longs instead of strings cut the stage 49 -> 10 s
    # with bit-identical output: a collision would need two distinct
    # tokens of the SAME document pair to share an xxhash64 value
    # (~25 tokens/doc over a 2^64 space, p < 1e-16 corpus-wide).
    sets = d.select(
        "doc_id", F.transform("toks", lambda w: F.xxhash64(w)).alias("hs")
    )
    da = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ta"))
    db = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    uni = F.size("ta") + F.size("tb") - inter
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(_PFX_DEN * inter >= _PFX_NUM * uni)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / uni, 4).alias("jaccard"),
        )
    )


def _pfx_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenized documents frame shared by candidate-gen and verify."""
    return bind(
        fanout(
            table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        ),
        toks=F.array_distinct(textfns.tokens("text")),
    ).filter(F.size("toks") > 0)


def prefix_filter_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct PPJoin candidate pairs (prefix + length + positional
    filters, pre-verify) — the operator's dominant intermediate, split
    out so the scaling sweep's work probe counts exactly the frame the
    operator runs (VERDICT r4 #4: work-vs-wall in the sweep artifact).
    """
    d = _pfx_docs(spark, sf_dir)
    # NOTE (measured, sf0.1): materializing the tokenized frame here —
    # persist() or localCheckpoint() — does NOT help: the tokenize
    # subtree the self-join duplicates is not the bottleneck (persist
    # 6.1 s vs 5.9 s plain), and a localCheckpoint actively HURTS
    # (82 s) because the stat-less LogicalRDD flips the candidate join
    # strategy.  Keep the declarative form; Catalyst's estimates are
    # better than a blind barrier.
    tok = d.select("doc_id", F.explode("toks").alias("w"))
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok.join(dfreq, "w")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "w"))).alias("arr"))
    )
    ow = F.transform("arr", lambda x: x["w"])
    n = F.size("arr")
    plen = n - F.floor((_PFX_NUM * n + _PFX_NUM) / _PFX_DEN).cast("int") + 1
    # length filter at the candidate join (the PPJoin companion to the
    # prefix): J(A,B) >= t forces t|B| <= |A| <= |B|/t, so cross-size
    # pairs prune before the distinct/verify (integer cross-multiply).
    # (also measured: persisting THIS prefix index — collapsing the
    # duplicated df-count/collect/sort subtree in the self-join — is
    # 5.8 s vs 5.9 s plain at sf0.1; the cost lives in the candidate
    # join + verify, which is the work itself, so no materialization
    # barrier pays for its memory here.)
    pfx = ordered.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(F.slice(ow, 1, plen)).alias("pos0", "w"),
    ).select("doc_id", "n", (F.col("pos0") + 1).alias("i"), "w")
    a, b = pfx.alias("a"), pfx.alias("b")
    # POSITIONAL filter (PPJoin's second prune, on top of the length
    # filter): a match on token w at 1-based prefix positions (i, j)
    # bounds the overlap by 1 + min(|A|-i, |B|-j) — everything before
    # the FIRST common token is disjoint by construction of the shared
    # rarest-first order, and that first common token always lies in
    # both prefixes, so per-match pruning never drops a true pair.
    # J >= N/D forces overlap >= N(|A|+|B|)/(N+D); integer
    # cross-multiply keeps the boundary exact.  Measured at sf0.1:
    # match rows 28.7M -> 12.6M (the distinct's shuffle halves),
    # distinct candidates 6.47M -> 6.10M.
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (_PFX_DEN * F.col("a.n") >= _PFX_NUM * F.col("b.n"))
            & (_PFX_DEN * F.col("b.n") >= _PFX_NUM * F.col("a.n"))
            & (
                (_PFX_NUM + _PFX_DEN)
                * (
                    1
                    + F.least(
                        F.col("a.n") - F.col("a.i"),
                        F.col("b.n") - F.col("b.i"),
                    )
                )
                >= _PFX_NUM * (F.col("a.n") + F.col("b.n"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return cand


@register_probe("dedup_prefix_filter_pairs")
def _probe_prefix_filter(spark: SparkSession, sf_dir: str) -> int:
    """Work = distinct candidate pairs entering verify (the stage whose
    wall time bends at 20x while this count stays linear)."""
    return prefix_filter_candidates(spark, sf_dir).count()


@register_probe("dedup_incremental_cc_labels")
def _probe_incremental_cc(spark: SparkSession, sf_dir: str) -> int:
    """Work = near-dup edge list size (the frame both CC branches and
    the supernode contraction consume)."""
    return shared_ngram_pairs(spark, sf_dir).count()


@register(
    "report_dedup_effect",
    oracle=f"""
    {_CC_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    ),
    ranked AS (
      SELECT d.lang, d.n_chars,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT lang,
           count(*) AS docs_before,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_after,
           CAST(sum(n_chars) AS BIGINT) AS chars_before,
           CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_after,
           round(1.0 - CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END)
                            AS DOUBLE) / sum(n_chars), 4) AS char_savings
    FROM ranked GROUP BY lang
    """,
    tags=("DD", "eval", "ITER"),
)
def report_dedup_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup effectiveness report: per language, document
    and character volume before vs after keeping one canonical doc per
    near-dup component (same keep-longest policy as
    dedup_canonical_docs) — the number a curation run reports to
    justify its compute ('dedup removed N% of chars in lang X').

    Composes the shared pipeline subtrees (Jaccard pairs -> alternating
    components -> per-component argmax) and collapses them onto the
    |langs| domain — the report adds one broadcast-sized aggregation
    to work the pipeline already does."""
    comp = dedup_connected_components(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    joined = comp.join(d, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    flagged = joined.withColumn("rn", F.row_number().over(w))
    kept_chars = F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0))
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_before"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias(
            "docs_after"
        ),
        F.sum("n_chars").cast("long").alias("chars_before"),
        kept_chars.cast("long").alias("chars_after"),
        F.round(
            1.0 - kept_chars.cast("double") / F.sum("n_chars"), 4
        ).alias("char_savings"),
    )


@register(
    "dedup_excise_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t, len({_DUCK_TOKENS}) AS n
      FROM documents
    ),
    occ AS (
      SELECT doc_id, i.i AS pos,
             {textfns.DUCK_HASH60.format(
                 col=f"array_to_string(list_slice(t, i.i, i.i + {_SSW_W} - 1), ' ')"
             )} AS wh
      FROM toks, unnest(range(1, n - {_SSW_W} + 2)) AS i(i)
      WHERE n >= {_SSW_W}
    ),
    dup AS (
      SELECT wh FROM occ GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
    ),
    dpos AS (
      SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (wh)
    ),
    covered AS (
      SELECT DISTINCT doc_id, p.i AS idx
      FROM dpos, unnest(range(pos, pos + {_SSW_W})) AS p(i)
    ),
    affected AS (SELECT DISTINCT doc_id FROM dpos),
    positions AS (
      SELECT tk.doc_id, i.i AS idx, tk.t[i.i] AS tok, tk.n
      FROM toks tk JOIN affected USING (doc_id),
           unnest(range(1, n + 1)) AS i(i)
    ),
    kept AS (
      SELECT p.doc_id, p.idx, p.tok, p.n
      FROM positions p
      LEFT JOIN covered c ON c.doc_id = p.doc_id AND c.idx = p.idx
      WHERE c.idx IS NULL
    )
    SELECT a.doc_id,
           any_value(tk.n) AS n_tokens,
           count(k.idx) AS n_kept,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.idx), '') AS clean_text
    FROM affected a
    JOIN toks tk USING (doc_id)
    LEFT JOIN kept k ON k.doc_id = a.doc_id
    GROUP BY a.doc_id
    """,
    tags=("DD", "TXT"),
)
def dedup_excise_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the substring-dedup decision: for every document containing
    cross-document duplicated {_SSW_W}-token windows, remove every
    covered token and emit the excised text (plus before/after token
    counts) — the final rung of the substring family (score:
    dedup_repeated_substring_windows -> locate: dedup_duplicate_spans
    -> excise: this). A document that is entirely boilerplate excises
    to the empty string rather than disappearing, so downstream filters
    see the drop explicitly.

    Scale shape: the shared 16-byte fingerprint vote; covered indices
    explode from dup windows only (W rows per duplicated window, zero
    for clean docs); the rebuild groups tokens of AFFECTED docs only —
    clean documents, the overwhelming majority at scale, never leave
    the scan."""
    d = bind(
        fanout(table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"),
        toks=textfns.tokens("text"),
    )
    # the window explode, the affected-doc rebuild and the totals all
    # read the tokenized frame — tokenize once (r8 opt round, §1.2).
    base = d.select(
        "doc_id", "toks", F.size("toks").alias("n_tokens")
    ).filter(F.col("n_tokens") >= _SSW_W).localCheckpoint(eager=True)
    occ = base.select(
        "doc_id",
        F.posexplode(textfns.shingles(F.col("toks"), _SSW_W)).alias("pos0", "win"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        textfns.hash60(F.col("win")).alias("wh"),
    )
    occ = occ.localCheckpoint()
    dup = (
        occ.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )
    # the covered-index explode and the affected-doc set both read the
    # duplicated positions — run the vote join once (span-sized rows).
    dpos = occ.join(dup, "wh").select("doc_id", "pos").localCheckpoint(
        eager=True
    )
    covered = dpos.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + _SSW_W - 1)).alias("idx"),
    ).distinct()
    affected = dpos.select("doc_id").distinct()
    positions = base.join(affected, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.posexplode("toks").alias("idx0", "tok"),
    ).select("doc_id", "n_tokens", (F.col("idx0") + 1).alias("idx"), "tok")
    kept = positions.join(covered, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
    )
    totals = base.join(affected, "doc_id").select("doc_id", "n_tokens")
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus (the production shape)
# ---------------------------------------------------------------------------

#: Sources src10..src19 play the "incoming crawl batch"; src0..src9 the
#: already-indexed historical corpus.
_INC_NEW_RE = "^src1[0-9]$"

_INC_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
      FROM (SELECT doc_id, source, {{_DUCK_TOKENS}} AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    sigs AS (
      SELECT doc_id, source, shingles,
             {{sig_sql}} AS sig
      FROM docs
    ),
    bands AS (
      SELECT doc_id, source,
             regexp_matches(source, '{_INC_NEW_RE}') AS is_new,
             t.b AS band_id,
             list_extract(sig, 2 * CAST(t.b AS INTEGER) + 1) * {{prime}}
               + list_extract(sig, 2 * CAST(t.b AS INTEGER) + 2) AS band_key
      FROM sigs, range(0, {{bands}}) t(b)
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_id, m.doc_id AS doc_m
      FROM bands n JOIN bands m
        ON n.band_id = m.band_id AND n.band_key = m.band_key
       AND n.is_new
       AND n.doc_id <> m.doc_id
       AND (NOT m.is_new OR m.doc_id < n.doc_id)
    ),
    scored AS (
      SELECT c.doc_id, c.doc_m,
             round(CAST(len(list_filter(sa.shingles,
                     s -> list_contains(sb.shingles, s))) AS DOUBLE)
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_filter(sa.shingles,
                        s -> list_contains(sb.shingles, s)))), 4) AS jac
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_id
      JOIN sigs sb ON sb.doc_id = c.doc_m
    ),
    verified AS (SELECT * FROM scored WHERE jac >= 0.5),
    agg AS (
      SELECT doc_id, count(*) AS n_matches, min(doc_m) AS duplicate_of,
             arg_min(jac, doc_m) AS jaccard
      FROM verified GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN a.duplicate_of IS NOT NULL THEN 'drop' ELSE 'keep' END
             AS action,
           a.duplicate_of, a.jaccard,
           coalesce(a.n_matches, 0) AS n_matches
    FROM documents d LEFT JOIN agg a USING (doc_id)
    WHERE regexp_matches(d.source, '{_INC_NEW_RE}')
"""


@register(
    "dedup_incremental_new_vs_corpus",
    oracle=_INC_ORACLE.format(
        _DUCK_TOKENS=_DUCK_TOKENS,
        sig_sql=textfns.minhash_signature_sql("shingles", _N_HASHES, _MH_PRIME),
        prime=_MH_PRIME,
        bands=_BANDS,
    ),
    tags=("DD", "LSH", "INCR"),
)
def dedup_incremental_new_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup: an incoming batch (sources src10..src19)
    is checked against the already-indexed corpus (src0..src9) plus
    itself — never corpus-vs-corpus. Every new document gets a verdict:
    ``drop`` with its earliest duplicate (min doc_id over verified
    Jaccard>=0.5 matches, plus that pair's Jaccard) or ``keep``.

    THE production dedup shape at 100 TB: the historical corpus's band
    index is write-once (its (band_id, band_key, doc_id) table persists
    between runs), and each daily batch only (a) computes signatures
    for ITS documents — map-only over the new data — and (b) band-joins
    new-vs-index and new-vs-new. Work per run scales with the batch,
    not the corpus; corpus-vs-corpus pairs (the quadratic bulk that
    full-corpus runs like dedup_minhash_lsh_pairs re-enumerate every
    time) are never generated. The asymmetric candidate predicate
    (match anything old, but only LOWER new ids) keeps batch-internal
    duplicates single-counted while never letting two new docs both
    survive as "original"."""
    docs = _minhash_docs(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    is_new_col = F.col("source").rlike(_INC_NEW_RE)
    tagged = minhash_bands(docs).join(src, "doc_id")
    new_b = tagged.filter(is_new_col).select("doc_id", "band_id", "band_key")
    idx_b = tagged.select(
        "doc_id", "band_id", "band_key", is_new_col.alias("is_new")
    )
    n, m = new_b.alias("n"), idx_b.alias("m")
    cand = (
        n.join(
            m,
            (F.col("n.band_id") == F.col("m.band_id"))
            & (F.col("n.band_key") == F.col("m.band_key"))
            & (F.col("n.doc_id") != F.col("m.doc_id"))
            & (~F.col("m.is_new") | (F.col("m.doc_id") < F.col("n.doc_id"))),
        )
        .select(F.col("n.doc_id").alias("doc_id"), F.col("m.doc_id").alias("doc_m"))
        .distinct()
    )
    sh = docs.select("doc_id", "shingles")
    verified = (
        cand.join(
            sh.withColumnsRenamed({"shingles": "sh_a"}),
            "doc_id",
        )
        .join(
            sh.withColumnsRenamed({"doc_id": "doc_m", "shingles": "sh_b"}),
            "doc_m",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.round(inter.cast("double") / uni, 4)
    hits = verified.select("doc_id", "doc_m", jac.alias("jac")).filter(
        F.col("jac") >= 0.5
    )
    agg = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("doc_m").alias("duplicate_of"),
        F.min_by("jac", "doc_m").alias("jaccard"),
    )
    return (
        src.filter(is_new_col)
        .select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("duplicate_of").isNotNull(), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("action"),
            "duplicate_of",
            "jaccard",
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
        )
    )


def merge_batch_into_labels(
    old_labels: DataFrame, new_edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Merge a batch of new edges into existing component labels WITHOUT
    recomputing the corpus CC — the label-maintenance half of
    incremental dedup (pair detection is dedup_incremental_new_vs_corpus).

    Contraction argument: every old component is one supernode named by
    its label (= its min doc id).  The reduced graph has nodes {old
    labels} ∪ {new doc ids} and the batch's edges with old endpoints
    mapped through their label; connected components of the reduced
    graph give min(labels ∪ new ids) per merged group, which IS the
    full-graph min-id label, because each old label is already the min
    of its old members and ids are globally unique.  So incremental ≡
    full recompute, but the iterative CC runs on O(batch + touched
    components) nodes instead of O(corpus).

    ``old_labels``: DataFrame[doc_id, component] for the existing
    corpus (in production loaded from the previous run's output, never
    recomputed).  ``new_edges``: DataFrame[src, dst], each edge
    touching at least one new (non-corpus) doc.

    Returns ``(relabeled_old, reduced_star)``: the old corpus's
    maintained labels, and the reduced-graph star edges
    DataFrame[node, label] for mapping new doc ids."""
    lab_s = old_labels.withColumnsRenamed(
        {"doc_id": "src", "component": "src_c"}
    )
    lab_d = old_labels.withColumnsRenamed(
        {"doc_id": "dst", "component": "dst_c"}
    )
    reduced = (
        new_edges.join(lab_s, "src", "left")
        .join(lab_d, "dst", "left")
        .select(
            F.coalesce("src_c", F.col("src")).alias("src"),
            F.coalesce("dst_c", F.col("dst")).alias("dst"),
        )
    )
    stars, _ = alternating_components(reduced)
    red = stars.select(F.col("v").alias("node"), F.col("u").alias("label"))
    relabeled_old = (
        old_labels.join(
            red.withColumnsRenamed(
                {"node": "component", "label": "merged"}
            ),
            "component",
            "left",
        )
        .select(
            "doc_id", F.coalesce("merged", F.col("component")).alias("component")
        )
    )
    return relabeled_old, red


@register(
    "dedup_incremental_cc_labels",
    oracle=f"""
    {_CC_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    )
    SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    """,
    tags=("DD", "ITER", "INCR"),
)
def dedup_incremental_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-components LABEL MAINTENANCE (VERDICT r3
    #4): the corpus (sources src0..src9) keeps its existing component
    labels; the incoming batch (src10..src19) contributes only edges
    touching new docs, which are contracted onto old-component
    supernodes and resolved by a CC run over the REDUCED graph —
    O(batch + touched components) iterative work, never O(corpus).
    Output: (doc_id, component) for every document, identical to a full
    recompute (dedup_connected_components) — the oracle is the same
    full-graph recursive CTE, which is exactly the equivalence claim.

    At 100 TB: the previous run's label table is write-once corpus
    state (like the incremental band index); each batch maps its edges
    through it with one broadcast-or-shuffle hash join, then iterates
    only on the contracted graph.  Here the 'previous run' labels are
    computed inline from the corpus-only edge subset so the query is
    self-contained and deterministic at any SF."""
    pairs = shared_ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    src = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").rlike(_INC_NEW_RE).alias("is_new")
    )
    fa = src.withColumnsRenamed({"doc_id": "doc_a", "is_new": "new_a"})
    fb = src.withColumnsRenamed({"doc_id": "doc_b", "is_new": "new_b"})
    # Checkpoint the flagged edge list ONCE: the corpus-CC branch and
    # the reduced-CC branch each materialize their edges eagerly, and
    # without this barrier each re-ran the whole Jaccard GEMM subtree
    # (measured 11.4 -> ~6 s at sf0.1).
    flagged = (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .localCheckpoint()
    )
    old_edges = flagged.filter(~F.col("new_a") & ~F.col("new_b")).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    new_edges = flagged.filter(F.col("new_a") | F.col("new_b")).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # "Previous run" state: corpus-only CC (in production: read back).
    stars_old, _ = alternating_components(old_edges)
    old_labels = (
        src.filter(~F.col("is_new"))
        .select("doc_id")
        .join(
            stars_old.select(
                F.col("v").alias("doc_id"), F.col("u").alias("component")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
    )
    relabeled_old, red = merge_batch_into_labels(old_labels, new_edges)
    new_out = (
        src.filter(F.col("is_new"))
        .select("doc_id")
        .join(
            red.withColumnsRenamed({"node": "doc_id", "label": "component"}),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
    )
    return relabeled_old.unionByName(new_out)


@register(
    "graph_component_cohesion",
    oracle=f"""
    {_CC_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    ),
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    corners AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    vc AS (SELECT doc_id, count(*) AS c FROM corners GROUP BY doc_id),
    agg AS (
      SELECT comp.component,
             count(*) AS n_members,
             CAST(coalesce(sum(vc.c), 0) / 3 AS BIGINT) AS n_triangles
      FROM comp LEFT JOIN vc USING (doc_id)
      GROUP BY comp.component
    )
    SELECT component, n_members, n_triangles,
           CASE WHEN n_members >= 3 THEN
             round(CAST(n_triangles AS DOUBLE)
                   / (n_members * (n_members - 1) * (n_members - 2) / 6), 4)
           END AS triangle_density
    FROM agg WHERE n_members >= 2
    """,
    tags=("DD", "GRAPH", "ITER"),
)
def graph_component_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision metric the triangle family exists FOR: per near-dup
    component, triangle density = triangles / C(k, 3) — near 1.0 means
    a true duplicate cluster (near-clique: collapse aggressively), near
    0 on a k>=3 component means a chain of borderline pairs (review
    before collapsing).  Singletons are excluded (no cohesion to
    measure); 2-member components report NULL density (no triangle is
    possible).

    Composition is the 100 TB story: ONE checkpointed edge list feeds
    both iterative subtrees — alternating-star CC for membership and
    the per-edge adjacency-intersect triangle counts (never a
    wedge-sized row set) — then a component-domain aggregate joins
    them; the metric costs one broadcast-sized rollup on top of work a
    dedup pipeline already does."""
    pairs = (
        shared_ngram_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    # Fresh path contracts the SAME checkpointed pairs that feed the
    # triangle subtree (no double pair computation); a bench session
    # serves the contraction from the shared star-forest cache.
    stars = shared_star_forest(spark, sf_dir, pairs=pairs)
    comp = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(
            stars.select(
                F.col("v").alias("doc_id"), F.col("u").alias("component")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
    )
    vc = triangle_counts_from_edges(pairs)
    agg = (
        comp.join(vc, "doc_id", "left")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.coalesce(F.sum("n_triangles"), F.lit(0)) / 3)
            .cast("long")
            .alias("n_triangles"),
        )
        .filter(F.col("n_members") >= 2)
    )
    k = F.col("n_members")
    density = F.when(
        k >= 3,
        F.round(
            F.col("n_triangles").cast("double") / (k * (k - 1) * (k - 2) / 6),
            4,
        ),
    )
    return agg.select(
        "component", "n_members", "n_triangles",
        density.alias("triangle_density"),
    )


@register_probe("graph_component_cohesion")
def _probe_component_cohesion(spark: SparkSession, sf_dir: str) -> int:
    """Work = the triangle-count stage's per-edge intersect cost,
    sum(outdeg(src) + outdeg(dst)) over the degree-oriented edge list
    (the CC subtree on the same edges is alpha~0.26 and never
    dominates)."""
    oriented = orient_by_degree(
        shared_ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ).select("src", "dst")
    outdeg = oriented.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    du = outdeg.select(F.col("src").alias("u"), F.col("od").alias("du"))
    dv = outdeg.select(F.col("src").alias("v"), F.col("od").alias("dv"))
    per_edge = (
        oriented.join(du, F.col("src") == F.col("u"), "left")
        .join(dv, F.col("dst") == F.col("v"), "left")
        .select(
            (F.coalesce("du", F.lit(0)) + F.coalesce("dv", F.lit(0))).alias(
                "cost"
            )
        )
    )
    row = per_edge.agg(F.sum("cost").alias("w")).collect()[0]
    return int(row["w"] or 0)


def _oriented_outdeg(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(oriented edges, (src, outdeg)) over the degree-oriented
    near-dup edge list — shared base for the triangle-family probes."""
    oriented = orient_by_degree(
        shared_ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ).select("src", "dst")
    return oriented, oriented.groupBy("src").agg(
        F.count(F.lit(1)).alias("od")
    )


@register_probe("graph_triangle_counts")
def _probe_triangle_counts(spark: SparkSession, sf_dir: str) -> int:
    """Work = per-edge adjacency-intersect cost sum(d+(u) + d+(v)) —
    the count form's dominant term (same frame as the cohesion probe)."""
    oriented, outdeg = _oriented_outdeg(spark, sf_dir)
    du = outdeg.select(F.col("src").alias("u"), F.col("od").alias("du"))
    dv = outdeg.select(F.col("src").alias("v"), F.col("od").alias("dv"))
    row = (
        oriented.join(du, F.col("src") == F.col("u"), "left")
        .join(dv, F.col("dst") == F.col("v"), "left")
        .agg(
            F.sum(
                F.coalesce("du", F.lit(0)) + F.coalesce("dv", F.lit(0))
            ).alias("w")
        )
        .collect()[0]
    )
    return int(row["w"] or 0)


@register_probe("dedup_graph_triangles")
def _probe_triangle_enumeration(spark: SparkSession, sf_dir: str) -> int:
    """Work = oriented wedges sum over u of C(d+(u), 2) — the rows the
    enumeration's wedge join materializes before the closing-edge probe."""
    _, outdeg = _oriented_outdeg(spark, sf_dir)
    row = outdeg.agg(
        F.sum(F.col("od") * (F.col("od") - 1) / 2).alias("w")
    ).collect()[0]
    return int(row["w"] or 0)


@register_probe("dedup_edit_distance_pairs")
def _probe_edit_distance(spark: SparkSession, sf_dir: str) -> int:
    """Work = distinct LSH band-join candidates entering the
    Levenshtein verify (each costs at most one O(len^2) DP)."""
    bands = minhash_bands(_minhash_docs(spark, sf_dir))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .count()
    )


# ---------------------------------------------------------------------------
# Cross-language duplicate components (translation-dup screen)
# ---------------------------------------------------------------------------


@register(
    "dedup_cross_lang_components",
    oracle=f"""
    WITH RECURSIVE xpairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_LSH_ORACLE})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM xpairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM xpairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    comp AS (SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node)
    SELECT c.component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
           array_to_string(list_sort(list_distinct(list(d.lang))), ',')
             AS langs
    FROM comp c JOIN documents d USING (doc_id)
    GROUP BY c.component
    HAVING count(DISTINCT d.lang) >= 2
    """,
    tags=("DD", "ITER", "CORPUS", "LSH"),
)
def dedup_cross_lang_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate components spanning two or more LANGUAGE labels —
    translation duplicates (the same content relabeled, worth keeping
    once per language at most) or language-ID errors inside a
    duplicate cluster (worth fixing before per-language mixture
    weights trust the labels).  Monolingual dedup never surfaces
    these; this is the multilingual-corpus screen.

    Edge generation HISTORY is the design lesson: the main pair kernel
    blocks on (lang, bucket) and is therefore structurally incapable
    of a cross-lang edge — components of that graph with n_langs >= 2
    were empty BY CONSTRUCTION, an empty-vs-empty oracle green for six
    rounds until the r7 non-vacuous gate flagged it.  A bucket-only
    rewrite of the exact GEMM kernel fixed the semantics but merged
    every language into each length block — 25x the block FLOPs, an
    89 s 20x sweep point.  The shipped form uses the repo's LSH scale
    path as the PRIMARY plan: edges are dedup_minhash_lsh_pairs'
    lang-agnostic banded candidates verified at shingle-Jaccard >= 0.5
    (md5-based signatures both engines compute bit-identically, so the
    probabilistic candidate set is still hash-exact cross-engine), then
    the alternating-star contraction labels components and one
    doc-keyed join rolls up the per-component distinct-lang list
    (bounded by duplicate-cluster size).  Shingle Jaccard is also the
    semantically honest threshold here: token-SET overlap is inflated
    across languages by shared vocabulary, while shared word ORDER is
    what marks a translation-duplicate pair."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    stars, _ = alternating_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    membership = stars.select(
        F.col("v").alias("doc_id"), F.col("u").alias("component")
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    comp = d.select("doc_id").join(membership, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
    return (
        comp.join(d, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("lang").alias("n_langs"),
            F.array_join(
                F.array_sort(F.collect_set("lang")), ","
            ).alias("langs"),
        )
        .filter(F.col("n_langs") >= 2)
    )


@register_probe("dedup_cross_lang_components")
def _probe_cross_lang(spark: SparkSession, sf_dir: str) -> int:
    """Dominant intermediate: the banded candidate pair list the CC
    subtree contracts (the LSH band join's output)."""
    return dedup_minhash_lsh_pairs(spark, sf_dir).count()


# ---------------------------------------------------------------------------
# Similarity histogram: threshold-tuning report over verified pairs
# ---------------------------------------------------------------------------


@register(
    "report_similarity_histogram",
    oracle=f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS bucket,
             list_distinct({_DUCK_TOKENS}) AS toks
      FROM documents
    ),
    scored AS (
      SELECT CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t)))
                  AS DOUBLE)
             / (len(a.toks) + len(b.toks)
                - len(list_filter(a.toks, t -> list_contains(b.toks, t))))
               AS r
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    -- Threshold on the UNROUNDED ratio, exactly like the Spark pair
    -- generator (dedup_ngram_jaccard_pairs filters raw inter/uni):
    -- filtering on round(r,4) would admit r in [0.79995, 0.8) that
    -- Spark rejects.  Bucketing still uses the rounded value so the
    -- banding stays bit-consistent with the emitted jaccard column.
    hist AS (
      SELECT CAST(floor(round(r, 4) * 100) AS BIGINT) AS sim_pct,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM scored WHERE r >= 0.8 GROUP BY 1
    )
    SELECT sim_pct, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY sim_pct DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_pairs_at_least
    FROM hist
    """,
    tags=("DD", "EVAL"),
)
def report_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity histogram over the verified near-dup pairs: pair
    count per 1%-Jaccard band plus the cumulative count from the top —
    the threshold-tuning report ("raising the cutoff from 0.80 to 0.85
    drops N pairs") that every dedup rollout reads before touching the
    production threshold, off the SAME blocked-GEMM scoring pass the
    dedup family runs (nothing rescored, nothing unblocked).

    Both engines bucket floor(round(j,4)*100) — the identical double
    expression, so banding is bit-consistent; the cumulative sum runs
    over the ~20-row band frame (aggregate-sized)."""
    pairs = shared_ngram_pairs(spark, sf_dir)
    hist = pairs.groupBy(
        F.floor(F.col("jaccard") * 100).cast("long").alias("sim_pct")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.desc("sim_pct")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        "sim_pct",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_least"),
    )


# ---------------------------------------------------------------------------
# Near-dup contamination rate per source
# ---------------------------------------------------------------------------


def _neardup_rate_oracle() -> str:
    return f"""
    {_CC_PAIRS_SQL},
    -- DISTINCT over UNION ALL, not bare UNION: under WITH RECURSIVE
    -- DuckDB skips the dedup of UNION in non-recursive CTEs (the
    -- seed-ball lesson, graph.py) — observed here as 4 duplicated
    -- docs fanning out the LEFT JOIN.
    members AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b FROM pairs
      )
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_dup,
           round(CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS near_dup_rate
    FROM documents d LEFT JOIN members m ON m.doc_id = d.doc_id
    GROUP BY d.source
    """


@register(
    "quality_near_dup_rate_by_source",
    oracle=_neardup_rate_oracle(),
    tags=("DQ", "DEDUP"),
)
def quality_near_dup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which sources are feeding us duplicates?  Per-source count and
    rate of documents that participate in at least one verified
    near-dup pair — the procurement-facing rollup of the dedup
    pipeline (a source whose rate trends up is recrawling itself or
    mirroring another source; cross-source structure lives in
    corpus_source_overlap_matrix, this is the per-source budget
    number).

    The member set is a UNION-distinct over the verified pairs frame
    (edge-count-sized), joined back to the documents dim as a
    broadcast; one groupBy on the source domain.  All counting exact;
    the single rate division is the only float."""
    pairs = shared_ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        d.join(members, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("long")
            .alias("n_near_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_near_dup",
            F.round(
                F.col("n_near_dup").cast("double") / F.col("n_docs"), 6
            ).alias("near_dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Component size histogram (dedup cluster-size distribution)
# ---------------------------------------------------------------------------


@register(
    "dedup_component_size_histogram",
    oracle=f"""
    {_CC_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    membership AS (
      SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    ),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS size
      FROM membership GROUP BY component
    )
    SELECT size,
           CAST(count(*) AS BIGINT) AS n_components,
           CAST(size * count(*) AS BIGINT) AS n_docs,
           CAST((size - 1) * count(*) AS BIGINT) AS n_removable
    FROM sizes GROUP BY size
    """,
    tags=("DD", "ITER"),
)
def dedup_component_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup
    components exist at each size, the docs they hold, and the docs
    keep-one-per-component dedup would remove — the one-page summary
    a data-curation review reads before signing off a threshold
    (a fat tail of giant clusters means the threshold is merging
    unrelated docs; all-size-2 means it may be too strict).

    Reuses the alternating large-star/small-star component labels
    (same kernel as dedup_connected_components — in a bench session
    the shared pairs subtree is cached once) and collapses them twice:
    label -> size, size -> histogram; both rollups combine map-side
    and the output domain is bounded by the largest cluster."""
    stars = shared_star_forest(spark, sf_dir)
    membership = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(
            stars.select(
                F.col("v").alias("doc_id"), F.col("u").alias("component")
            ),
            "doc_id",
            "left",
        )
        .select(F.coalesce("component", F.col("doc_id")).alias("component"))
    )
    sizes = membership.groupBy("component").agg(
        F.count(F.lit(1)).alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_components"),
        (F.col("size") * F.count(F.lit(1))).alias("n_docs"),
        ((F.col("size") - 1) * F.count(F.lit(1))).alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# Survivorship by source: who actually pays for dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_survivorship_by_source",
    oracle=f"""
    {_CC_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (c.component = d.doc_id) AS BIGINT)
             AS n_kept,
           CAST(count(*) FILTER (c.component <> d.doc_id) AS BIGINT)
             AS n_dropped,
           CAST((1000000 * count(*) FILTER (c.component <> d.doc_id))
                // count(*) AS BIGINT) AS drop_ppm
    FROM comp c JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
    tags=("DD", "ITER", "CORPUS"),
)
def dedup_survivorship_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-SOURCE dedup survivorship under the keep-component-min
    policy: how many of each source's documents survive component
    dedup and how many are dropped as duplicates of something else —
    the table that turns a dedup pass into a data-sourcing decision
    (a source whose drop_ppm approaches 10^6 is a re-crawl of content
    already held elsewhere; paying for more of it buys nothing).

    Reuses the session-shared star forest (label once, fan out) plus
    one broadcast-dim join and a 20-row source rollup; drop_ppm is a
    long integer division, exact at any scale.  Keep/drop here must
    agree with dedup_canonical_docs BY CONSTRUCTION: both define the
    survivor as component == doc_id (the component-min root)."""
    stars = shared_star_forest(spark, sf_dir)
    membership = stars.select(
        F.col("v").alias("doc_id"), F.col("u").alias("component")
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = d.join(membership, "doc_id", "left").select(
        "source",
        F.coalesce("component", F.col("doc_id")).alias("component"),
        "doc_id",
    )
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("component") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("component") != F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "n_dropped",
            F.expr("(1000000 * n_dropped) div n_docs").alias("drop_ppm"),
        )
    )


@register(
    "dedup_component_lang_purity",
    oracle=f"""
    {_CC_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    ),
    bylang AS (
      SELECT c.component, d.lang, CAST(count(*) AS BIGINT) AS cnt
      FROM comp c JOIN documents d USING (doc_id)
      GROUP BY c.component, d.lang
    ),
    ranked AS (
      SELECT component, lang, cnt,
             CAST(sum(cnt) OVER (PARTITION BY component) AS BIGINT)
               AS n_members,
             CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
               AS n_langs,
             row_number() OVER (PARTITION BY component
                                ORDER BY cnt DESC, lang) AS rn
      FROM bylang
    )
    SELECT component, n_members, n_langs, lang AS top_lang,
           round(CAST(cnt AS DOUBLE) / n_members, 4) AS purity
    FROM ranked WHERE rn = 1 AND n_members >= 2
    """,
    tags=("DD", "QUALITY"),
)
def dedup_component_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity per near-dup component (clusters of size >= 2):
    member count, distinct languages, the majority language (count
    desc, lang tie-break) and its share — the audit that separates
    true duplicates (purity 1.0) from cross-language contamination or
    translation pairs (purity < 1), and the per-cluster drill-down
    under dedup_cross_lang_components' corpus-level screen.  A
    curation pipeline routes low-purity clusters to translation-dedup
    review instead of blind keep-longest.

    Rides the shared star forest (one contraction serves CC labels,
    canonical pick, cohesion, and this screen); the lang join is
    doc-keyed against the documents scan, and the majority pick is a
    window over the (component, lang) frame — cluster-count
    cardinality, tiny next to the corpus."""
    comp = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .join(
            shared_star_forest(spark, sf_dir).select(
                F.col("v").alias("doc_id"), F.col("u").alias("component")
            ),
            "doc_id",
            "left",
        )
        .select(
            F.coalesce("component", F.col("doc_id")).alias("component"),
            "lang",
        )
    )
    bylang = comp.groupBy("component", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = Window.partitionBy("component")
    wr = Window.partitionBy("component").orderBy(F.desc("cnt"), "lang")
    return (
        bylang.select(
            "component",
            "lang",
            "cnt",
            F.sum("cnt").over(wc).alias("n_members"),
            F.count(F.lit(1)).over(wc).alias("n_langs"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            "component",
            "n_members",
            "n_langs",
            F.col("lang").alias("top_lang"),
            F.round(F.col("cnt").cast("double") / F.col("n_members"), 4).alias(
                "purity"
            ),
        )
    )


# ---------------------------------------------------------------------------
# MinHash banding frontier: recall/cost across (bands x rows) splits
# ---------------------------------------------------------------------------

#: (n_bands, rows_per_band) splits of the SAME 16-hash signature swept
#: by the banding frontier — S-curve thresholds (1/b)^(1/r):
#: 16x1 ~ 0.06 (everything collides), 8x2 ~ 0.35 (the shipped config),
#: 4x4 ~ 0.71, 2x8 ~ 0.92 (high precision, misses borderline dups).
_BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))


@register(
    "dedup_minhash_band_tuning_eval",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sigs AS (
      SELECT doc_id, shingles,
             {textfns.minhash_signature_sql("shingles", _N_HASHES, _MH_PRIME)}
               AS sig
      FROM docs
    ),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _BAND_CONFIGS)})
            c(nb, r)),
    bands AS (
      SELECT s.doc_id, c.nb, c.r, t.b AS band_id,
             md5(array_to_string(
               s.sig[CAST(t.b * c.r + 1 AS INT):CAST(t.b * c.r + c.r AS INT)],
               ',')) AS key
      FROM sigs s, cfg c, unnest(range(0, c.nb)) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.nb, a.r, a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands a JOIN bands b2
        ON a.nb = b2.nb AND a.r = b2.r AND a.band_id = b2.band_id
           AND a.key = b2.key AND a.doc_id < b2.doc_id
    ),
    pairs_u AS (SELECT DISTINCT doc_a, doc_b FROM cand),
    ver AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs_u p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b
      WHERE 2 * len(list_filter(sa.shingles,
                                s -> list_contains(sb.shingles, s)))
            >= len(sa.shingles) + len(sb.shingles)
              - len(list_filter(sa.shingles,
                                s -> list_contains(sb.shingles, s)))
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_union FROM ver),
    percfg AS (
      SELECT nb, r, CAST(count(*) AS BIGINT) AS n_candidates
      FROM cand GROUP BY nb, r
    ),
    found AS (
      SELECT c.nb, c.r, CAST(count(*) AS BIGINT) AS n_found
      FROM cand c JOIN ver v ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
      GROUP BY c.nb, c.r
    )
    SELECT p.nb AS n_bands, p.r AS rows_per_band,
           round(pow(1.0 / p.nb, 1.0 / p.r), 4) AS s_curve_threshold,
           p.n_candidates,
           COALESCE(f.n_found, CAST(0 AS BIGINT)) AS n_found_dups,
           t.n_union AS n_union_dups
    FROM percfg p
    LEFT JOIN found f ON f.nb = p.nb AND f.r = p.r
    CROSS JOIN tot t
    """,
    tags=("DD", "LSH", "eval"),
)
def dedup_minhash_band_tuning_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MinHash BANDING frontier (Mining Massive Datasets' S-curve,
    measured instead of assumed): the same 16-hash signatures split as
    16x1 / 8x2 / 4x4 / 2x8 bands, reporting per config the candidate
    count (cost), the candidates that verify as true >=0.5-Jaccard
    near-dups (recall numerator), and the union of true dups any
    config finds (the shared reference) — the operating-point
    measurement for the dedup pipeline's ONE tunable that matters,
    sibling to the IVF nprobe and multi-probe LSH frontiers.
    Measured at sf0.1: 256 true dups total; 16x1 needs 138,523
    candidates and 8x2 needs 3,866 for all 256, 4x4 finds all 256
    with just 941, and 2x8 drops 19 (237/256) at 484 — on THIS
    corpus' high-Jaccard duplicates 4x4 dominates the shipped 8x2;
    8x2 remains right when the 0.5-0.7 similarity gray zone matters
    (its S-curve threshold 0.35 vs 4x4's 0.71).  That it depends on
    the dup-similarity profile is exactly why this is a registered
    measurement and not a constant.

    Exactness: band keys are md5 over the comma-joined signature
    slice (collision-free packing regardless of rows-per-band, where
    the int64 pack would overflow past r=2); the >=0.5 verification
    is the integer cross-multiply 2*inter >= union.  Plan shape (r9
    opt round, guide §1.2): ONE band self-join feeds everything — the
    per-(doc_a, doc_b) groupBy collects the config set alongside the
    dedup the old per-config ``distinct`` did, the shingle
    verification runs once per unique pair as a flag on that same
    frame, and the per-config counts come from exploding the config
    sets of the verified frame.  The r8 shape re-executed the band
    join + distinct subtree once per consumer (candidates, found,
    truth union = ~4 executions) because the overlap was concurrent;
    this collapses it to one subtree with a LAZY checkpoint shared by
    the two final aggregates (eager checkpoints here measured SLOWER
    in r8 — they serialized the overlapping consumers into blocking
    jobs)."""
    sigs = _minhash_docs(spark, sf_dir)
    band_rows = []
    for nb, r in _BAND_CONFIGS:
        for b in range(nb):
            band_rows.append(
                F.struct(
                    F.lit(nb).alias("nb"),
                    F.lit(r).alias("r"),
                    F.lit(b).alias("band_id"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * r + 1, r),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("key"),
                )
            )
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("bb")
    ).select("doc_id", "bb.nb", "bb.r", "bb.band_id", "bb.key")
    a, b2 = bands.alias("a"), bands.alias("b2")
    # One band self-join; the per-pair groupBy subsumes the old
    # per-(config, pair) distinct AND the unique-pair projection:
    # collect_set dedupes configs within a pair, the grouping key
    # dedupes pairs across bands.
    paircfg = (
        a.join(
            b2,
            (F.col("a.nb") == F.col("b2.nb"))
            & (F.col("a.r") == F.col("b2.r"))
            & (F.col("a.band_id") == F.col("b2.band_id"))
            & (F.col("a.key") == F.col("b2.key"))
            & (F.col("a.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b2.doc_id").alias("doc_b"),
            F.struct(F.col("a.nb").alias("nb"), F.col("a.r").alias("r")).alias(
                "cfg"
            ),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.collect_set("cfg").alias("cfgs"))
    )
    sides = sigs.select("doc_id", "shingles")
    # Broadcast the doc-keyed shingle sides: the default plan sort-merge
    # joined them, SORTING rows that carry the shingle ARRAYS (the same
    # SMJ-sorts-array-payloads failure mode the k-truss fallback
    # documents); the sides are doc-cardinality and belong on the build
    # side (guide §3.1).
    joined = paircfg.join(
        F.broadcast(
            sides.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "shingles", "sh_a"
            )
        ),
        "doc_a",
    ).join(
        F.broadcast(
            sides.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "shingles", "sh_b"
            )
        ),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    # LAZY checkpoint: the two final aggregates (per-config counts, the
    # config-independent truth-union count) share one materialization of
    # the verified pair frame inside the single final job — eager would
    # add a blocking job, and at this cardinality (unique candidate
    # pairs) the cached frame is small.
    verified = joined.select(
        "cfgs", (2 * inter >= uni).alias("is_dup")
    ).localCheckpoint(eager=False)
    tot = verified.filter("is_dup").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_dups")
    )
    percfg = (
        verified.select(F.explode("cfgs").alias("cfg"), "is_dup")
        .groupBy(F.col("cfg.nb").alias("nb"), F.col("cfg.r").alias("r"))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count_if(F.col("is_dup")).alias("n_found"),
        )
    )
    return percfg.crossJoin(tot).select(
        F.col("nb").alias("n_bands"),
        F.col("r").alias("rows_per_band"),
        F.round(
            F.pow(1.0 / F.col("nb"), 1.0 / F.col("r")), 4
        ).alias("s_curve_threshold"),
        "n_candidates",
        F.col("n_found").cast("long").alias("n_found_dups"),
        "n_union_dups",
    )
