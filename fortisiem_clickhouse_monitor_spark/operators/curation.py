"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup/sampling: overlapping context-window chunking (RAG/training
windows), per-domain caps, mixture-weight rebalancing, block-level exact
substring dedup (CCNet/MassiveText-style line dedup re-expressed over
token blocks), and a Gopher-style rule battery.

Everything stays JVM-side (higher-order array functions, windows, one
keyed exchange where a group-by IS the semantics); integer/boolean
outputs are preferred over floats so DuckDB oracles hash bit-identically.

Reference scope note: the reference (chStats.py) has no corpus tooling —
these extend the engine per the brief's LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfns
from ..registry import register
from ..sources.tables import bind, fanout, spread, table

# DuckDB twin of textfns.tokens() (same guard as operators/text.py: an
# empty/whitespace doc must yield [] in both engines).
_DUCK_TOKENS = (
    "list_filter(string_split_regex(trim(text), '\\s+'), _x -> _x <> '')"
)

# ---------------------------------------------------------------------------
# Sliding-window chunking with overlap (RAG / long-context training windows)
# ---------------------------------------------------------------------------

_CW = 32  # window tokens
_CS = 24  # stride tokens (8-token overlap)


@register(
    "text_chunk_sliding_window",
    oracle=f"""
    SELECT d.doc_id, gs.i AS chunk_id,
           len(d.toks[(gs.i * {_CS} + 1):(gs.i * {_CS} + {_CW})]) AS n_tokens,
           array_to_string(
             d.toks[(gs.i * {_CS} + 1):(gs.i * {_CS} + {_CW})], ' ')
             AS chunk_text
    FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents) d,
    LATERAL (SELECT unnest(generate_series(0,
               CAST(greatest(ceil((len(d.toks) - {_CW}) / {_CS}.0), 0) AS INT)
             )) AS i) gs
    WHERE len(d.toks) > 0
    """,
    tags=("TXT", "chunking"),
)
def text_chunk_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking: {_CW}-token windows at a
    {_CS}-token stride (so consecutive chunks share {_CW}-{_CS} tokens of
    context), the standard RAG-indexing / long-context packing step.
    Chunk count per doc = 1 + ceil(max(n - W, 0) / S).

    Pure map-side higher-order expression (sequence → slice →
    posexplode): zero shuffle, scales with scan bandwidth alone at
    100 TB. Contrast pack_token_sequences (corpus.py), which packs
    NON-overlapping windows."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    toks = F.col("toks")
    n = F.size(toks)
    n_starts = (
        F.lit(1)
        + F.greatest(F.ceil((n - F.lit(_CW)) / F.lit(float(_CS))), F.lit(0))
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda i: F.slice(toks, i * _CS + 1, _CW),
    )
    return (
        d.filter(n > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Per-domain document caps (anti-boilerplate / source-dominance control)
# ---------------------------------------------------------------------------

_CAP = 10


@register(
    "corpus_cap_per_source",
    oracle=f"""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) t WHERE rn <= {_CAP}
    """,
    tags=("sampling", "curation"),
)
def corpus_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: keep at most {_CAP} documents per source, ranked
    by a quality proxy (longest first, doc_id tiebreak) — the standard
    guard against one crawl domain dominating the mixture.

    One shuffle on the domain key; each domain ranks independently, so
    a skewed domain costs only its own partition. At 100 TB, pair with
    the salting helpers (functions/skew.py) if one domain is a
    significant fraction of the corpus."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CAP)
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# Mixture-weight rebalancing (deterministic hash-rate subsampling per lang)
# ---------------------------------------------------------------------------

#: Target acceptance per mille per language (en downsampled, zh lightly).
#: Integer thresholds, NOT float rates: 1000*0.3 in binary floating point
#: is 299.999…, so a float-rate formulation truncates differently across
#: engines exactly at the boundary.
_MIX_PERMILLE = {"en": 300, "es": 1000, "de": 1000, "fr": 1000, "zh": 800}
_MIX_DEN = 1000  # hash buckets

_DUCK_MIX_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_PERMILLE.items())
    + " ELSE 0 END"
)


@register(
    "corpus_mixture_sample",
    oracle=f"""
    SELECT doc_id, lang, source,
           CAST({_DUCK_MIX_CASE} AS BIGINT) AS accept_per_mille
    FROM documents
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
          % {_MIX_DEN}
        < ({_DUCK_MIX_CASE})
    """,
    tags=("sampling", "curation"),
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: accept each document with a per-language
    target rate (en 30%, zh 80%, rest 100%) decided by a deterministic
    content-independent hash of the key — reproducible across engines,
    machines, and runs, unlike rand()-based sampling. Rates are exact
    integer per-mille thresholds so no float rounding sits at the
    accept boundary.

    Pure map-side filter (hash60 % buckets < threshold): no shuffle,
    no state; at 100 TB this is the only sampling discipline that stays
    consistent across re-runs over a changing file layout."""
    d = table(spark, sf_dir, "documents")
    permille = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in _MIX_PERMILLE.items() for x in kv]
        )[F.col("lang")],
        F.lit(0),
    ).cast("long")
    bucket = F.pmod(
        textfns.hash60(F.col("doc_id").cast("string")), F.lit(_MIX_DEN)
    )
    return d.filter(bucket < permille).select(
        "doc_id", "lang", "source", permille.alias("accept_per_mille")
    )


# ---------------------------------------------------------------------------
# Block-level exact substring dedup (CCNet/MassiveText line dedup, re-keyed
# to fixed token blocks since the synthetic docs are single-line)
# ---------------------------------------------------------------------------

_BLK = 8  # tokens per block

#: Shared CTE pair (blocks, freq) for block-level dedup — used by the
#: registered stats query and the composite training-data pipeline.
DUCK_BLOCK_CTES = f"""blocks AS (
      SELECT d.doc_id, gs.i AS block_id,
             len(d.toks[(gs.i * {_BLK} + 1):((gs.i + 1) * {_BLK})])
               AS blk_tokens,
             array_to_string(
               d.toks[(gs.i * {_BLK} + 1):((gs.i + 1) * {_BLK})], ' ')
               AS block_text
      FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents) d,
      LATERAL (SELECT unnest(generate_series(0,
                 CAST(ceil(len(d.toks) / {_BLK}.0) AS INT) - 1)) AS i) gs
    ),
    freq AS (
      SELECT block_text, count(DISTINCT doc_id) AS n_docs
      FROM blocks GROUP BY block_text
    )"""


@register(
    "corpus_block_dedup_stats",
    oracle=f"""
    WITH {DUCK_BLOCK_CTES}
    SELECT b.doc_id,
           count(*) AS n_blocks,
           CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_blocks,
           CAST(sum(CASE WHEN f.n_docs >= 2 THEN 0 ELSE b.blk_tokens END)
                AS BIGINT) AS tokens_kept
    FROM blocks b JOIN freq f USING (block_text)
    GROUP BY b.doc_id
    """,
    tags=("dedup", "curation"),
)
def corpus_block_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact block dedup (CCNet-style): split each doc
    into non-overlapping {_BLK}-token blocks, drop every block whose
    exact text occurs in ≥2 distinct documents, report per-doc kept
    counts. This is the cheap exact-substring complement to the
    MinHash/SimHash near-dup family (dedup.py).

    Plan: map-side block explode → one groupBy on the block text (the
    semantic key — dedup IS this exchange) → key-local join back →
    one groupBy doc_id. Both shuffles are on high-cardinality keys, so
    the plan scales linearly; at 100 TB, hash the block text to a
    64-bit key (textfns.hash60) before the exchange to shrink shuffle
    bytes ~10x (kept as plain text here so the oracle joins on the
    same key)."""
    d = bind(spread(table(spark, sf_dir, "documents"), "doc_id"),
             toks=textfns.tokens("text"))
    toks = F.col("toks")
    n_blocks = F.ceil(F.size(toks) / F.lit(_BLK)).cast("int")
    blk = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.slice(toks, i * _BLK + 1, _BLK),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    blocks = d.select(
        "doc_id", F.posexplode(blk).alias("block_id", "block")
    ).select(
        "doc_id",
        "block_id",
        F.size("block").alias("blk_tokens"),
        F.array_join("block", " ").alias("block_text"),
    )
    freq = blocks.groupBy("block_text").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    joined = blocks.join(freq, "block_text")
    dup = F.col("n_docs") >= 2
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_blocks"),
        F.sum(F.when(dup, 0).otherwise(F.col("blk_tokens"))).alias(
            "tokens_kept"
        ),
    )


# ---------------------------------------------------------------------------
# Gopher-style rule battery (Rae et al. 2021 quality heuristics, integerized)
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ("the", "a", "of", "and", "to", "in", "is")


def gopher_flags(toks) -> dict[str, "F.Column"]:
    """The five integerized Gopher rules as named boolean Columns over a
    token-array Column, plus their conjunction under ``passes``. Shared
    by text_gopher_rules and the composite training-data pipeline so
    the two can never drift."""
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("^[A-Za-z]+$")))
    max_freq = F.when(n == 0, F.lit(0)).otherwise(
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda dtok: F.size(F.filter(toks, lambda x: x == dtok)),
            )
        )
    )
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    flags = {
        "n_tokens": n,
        "ok_len": n.between(20, 90),
        "ok_word_len": (sum_len >= 2 * n.cast("long"))
        & (sum_len <= 8 * n.cast("long")),
        "ok_alpha": 10 * n_alpha >= 8 * n,
        "ok_repetition": 8 * max_freq <= n,
        "has_stopword": F.size(
            F.filter(toks, lambda t: F.array_contains(stops, t))
        )
        > 0,
    }
    flags["passes"] = (
        flags["ok_len"]
        & flags["ok_word_len"]
        & flags["ok_alpha"]
        & flags["ok_repetition"]
        & flags["has_stopword"]
    )
    return flags


#: DuckDB twin of the metric columns gopher_flags derives (over a CTE
#: exposing ``toks``); rule predicates below are shared SQL fragments.
DUCK_GOPHER_METRICS = f"""
      SELECT doc_id, toks,
             len(toks) AS n_tokens,
             CAST(list_aggregate(
               list_transform(toks, x -> length(x)), 'sum')
               AS BIGINT) AS sum_len,
             len(list_filter(toks,
               x -> regexp_full_match(x, '[A-Za-z]+'))) AS n_alpha,
             CASE WHEN len(toks) = 0 THEN 0 ELSE
               list_max(list_transform(list_distinct(toks),
                 d -> len(list_filter(toks, x -> x = d)))) END AS max_freq
"""

DUCK_GOPHER_PASS = f"""((n_tokens BETWEEN 20 AND 90)
            AND (sum_len >= 2 * n_tokens AND sum_len <= 8 * n_tokens)
            AND (10 * n_alpha >= 8 * n_tokens)
            AND (8 * max_freq <= n_tokens)
            AND len(list_filter(toks,
                  x -> x IN {_GOPHER_STOPS!r})) > 0)"""


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), m AS (
      {DUCK_GOPHER_METRICS}
      FROM t
    )
    SELECT doc_id, n_tokens,
           (n_tokens BETWEEN 20 AND 90) AS ok_len,
           (sum_len >= 2 * n_tokens AND sum_len <= 8 * n_tokens)
             AS ok_word_len,
           (10 * n_alpha >= 8 * n_tokens) AS ok_alpha,
           (8 * max_freq <= n_tokens) AS ok_repetition,
           len(list_filter(toks,
             x -> x IN {_GOPHER_STOPS!r})) > 0 AS has_stopword,
           {DUCK_GOPHER_PASS} AS passes
    FROM m
    """,
    tags=("TXT", "curation"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule battery (word-count bounds, mean-word-length
    bounds, alphabetic-token ratio, max single-token repetition,
    stopword presence) with thresholds scaled to the fixture corpus.

    Every ratio test is integerized (cross-multiplication: ``10 *
    n_alpha >= 8 * n_tokens`` instead of ``n_alpha / n_tokens >=
    0.8``) so both engines compare exact integers — no float rounding
    can flip a boolean at a threshold. Pure map-side per-doc
    expressions: zero shuffle at any scale. max_freq is O(distinct ×
    tokens) per doc via higher-order functions — fine for documents,
    not for books; the heavy-hitter sketch (advanced.py) is the
    long-doc path. fanout() spreads the per-doc rule evaluation across
    cores when the scan is single-partition (no-op at real scale)."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    fl = gopher_flags(F.col("toks"))
    return d.select(
        "doc_id", *[fl[k].alias(k) for k in (
            "n_tokens", "ok_len", "ok_word_len", "ok_alpha",
            "ok_repetition", "has_stopword", "passes",
        )]
    )


# ---------------------------------------------------------------------------
# Epoch upsampling: replicate rare-language docs a fixed number of epochs
# ---------------------------------------------------------------------------

#: Training epochs per language (inverse of the mixture downsampling:
#: rare languages repeat, en does not).
_EPOCHS = {"en": 1, "es": 2, "de": 2, "fr": 2, "zh": 3}

_DUCK_EPOCH_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _EPOCHS.items())
    + " ELSE 1 END"
)


@register(
    "corpus_upsample_epochs",
    oracle=f"""
    SELECT doc_id, lang, gs.epoch
    FROM documents,
    LATERAL (SELECT unnest(generate_series(1, {_DUCK_EPOCH_CASE}))
             AS epoch) gs
    """,
    tags=("sampling", "curation"),
)
def corpus_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture building by replication: each document appears once per
    training epoch assigned to its language (zh 3x, most 2x, en 1x) —
    the upsampling complement of corpus_mixture_sample's hash
    downsampling, as used when rebalancing toward a target mixture
    without discarding rare-language data.

    explode(sequence(1, n_epochs)) is pure map-side row replication:
    no shuffle, output size = sum of epoch weights — at 100 TB prefer
    replicating doc IDs (and joining text back at read time) over
    materializing repeated text."""
    d = table(spark, sf_dir, "documents")
    n_epochs = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _EPOCHS.items() for x in kv])[
            F.col("lang")
        ],
        F.lit(1),
    )
    return d.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), n_epochs)).alias("epoch"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage: per-doc OOV rate against the corpus top-50 unigrams
# ---------------------------------------------------------------------------

_VOCAB_K = 50


@register(
    "text_oov_rate_top50",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS w FROM documents
    ),
    vocab AS (
      SELECT w FROM toks GROUP BY w
      ORDER BY count(*) DESC, w LIMIT {_VOCAB_K}
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov
    FROM toks t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.doc_id
    """,
    tags=("TXT", "vocab", "eval"),
)
def text_oov_rate_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary application: learn the corpus top-{_VOCAB_K} unigram
    vocabulary (deterministic count-then-word tiebreak), then score
    every document's out-of-vocabulary token count — the coverage
    check run before committing to a tokenizer vocab.

    Two aggregations share the exploded token stream; the learned
    vocab is {_VOCAB_K} rows, so the membership join broadcasts and
    the per-doc score is one doc-keyed exchange. The fanout guard
    spreads the explode when the scan is single-partition."""
    d = fanout(table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.explode(textfns.tokens("text")).alias("w")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_VOCAB_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(vocab, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: per-language quality deciles
# ---------------------------------------------------------------------------

_CURR_STOPS = ("the", "a", "of", "and", "to", "in", "is")


@register(
    "curriculum_quality_deciles",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             (len(list_filter({_DUCK_TOKENS},
                  t -> t IN ('the','a','of','and','to','in','is'))) * 10000)
               // len({_DUCK_TOKENS}) AS score
      FROM documents
      WHERE len({_DUCK_TOKENS}) > 0
    )
    SELECT doc_id, lang, score,
           CAST(ntile(10) OVER (PARTITION BY lang
                                ORDER BY score, doc_id) AS BIGINT) AS decile
    FROM scored
    """,
    tags=("CURATION", "quality"),
)
def curriculum_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: every document gets a per-language
    quality DECILE (ntile over an integerized stopword-density score
    with doc_id tiebreak) — the assignment a curriculum schedule
    consumes (train low deciles early / upsample high deciles late).
    The score is integerized (hits*10000 // n_tokens) so the ordering —
    and therefore every decile boundary — is exact in both engines; the
    doc_id tiebreak makes ntile deterministic under score ties.

    One window over one lang-keyed exchange; at 100 TB a per-lang sort
    of (score, doc_id) int pairs — if a single language outgrows a
    partition, pre-aggregate a score histogram and cut deciles from
    cumulative counts instead (the sketch_histogram_quantiles shape)."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    n = F.size("toks")
    hits = textfns.stopword_hits(F.col("toks"), _CURR_STOPS)
    scored = d.filter(n > 0).select(
        "doc_id",
        "lang",
        F.floor(hits * 10000 / n).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    return scored.select(
        "doc_id", "lang", "score",
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


# ---------------------------------------------------------------------------
# Chunk-stitch detection: doc A's tail tokens == doc B's head tokens
# ---------------------------------------------------------------------------

_STITCH_K = 4  # overlap width in tokens (fixture-sized; production ~50)


@register(
    "text_chunk_stitch_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ),
    hb AS (
      SELECT doc_id,
             array_to_string(toks[1:{_STITCH_K}], ' ') AS head,
             array_to_string(toks[-{_STITCH_K}:], ' ') AS tail
      FROM t WHERE len(toks) >= {_STITCH_K}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail AS overlap
    FROM hb a JOIN hb b ON a.tail = b.head AND a.doc_id <> b.doc_id
    """,
    tags=("TEXT", "DD"),
)
def text_chunk_stitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-stitch detection: ordered pairs where document A ENDS with
    exactly the {_STITCH_K} tokens document B STARTS with — the
    signature of one source document split into overlapping chunks by
    an upstream extractor (sliding-window chunking, pagination splits),
    which a dedup pass keyed on whole-doc or shingle similarity can
    miss when the chunks are long and the overlap short.  Production
    uses ~50-token overlaps; {_STITCH_K} is fixture-sized.

    Scale shape: each doc reduces to one (head, tail) fingerprint row
    — the join is an equi-join on the tail/head STRING (shuffle keyed
    on a short fingerprint, never the text); at 100 TB hash the
    overlap to a 64-bit key and verify the token slice on the matched
    pairs (the candidate/verify discipline used by every LSH family
    here)."""
    toks = textfns.tokens("text")
    hb = (
        table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= _STITCH_K)
        .select(
            "doc_id",
            F.array_join(F.slice("toks", 1, _STITCH_K), " ").alias("head"),
            F.array_join(F.slice("toks", -_STITCH_K, _STITCH_K), " ").alias(
                "tail"
            ),
        )
    )
    a = hb.select(F.col("doc_id").alias("doc_a"), F.col("tail").alias("overlap"))
    b = hb.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("head"))
    return a.join(b, (F.col("overlap") == F.col("head"))).filter(
        F.col("doc_a") != F.col("doc_b")
    ).select("doc_a", "doc_b", "overlap")


# ---------------------------------------------------------------------------
# Annealing schedule: phase assignment from the quality deciles
# ---------------------------------------------------------------------------

#: Fraction of each language's tokens reserved for the final
#: high-quality annealing phase.
_ANNEAL_PCT = 20


@register(
    "corpus_anneal_schedule",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, len({_DUCK_TOKENS}) AS n_toks,
             (len(list_filter({_DUCK_TOKENS},
                  t -> t IN ('the','a','of','and','to','in','is'))) * 10000)
               // len({_DUCK_TOKENS}) AS score
      FROM documents
      WHERE len({_DUCK_TOKENS}) > 0
    ),
    deciled AS (
      SELECT lang, n_toks,
             ntile(10) OVER (PARTITION BY lang
                             ORDER BY score, doc_id) AS decile
      FROM scored
    ),
    summary AS (
      SELECT lang, CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS tokens
      FROM deciled GROUP BY 1, 2
    ),
    cum AS (
      SELECT *,
             CAST(sum(tokens) OVER (PARTITION BY lang ORDER BY decile DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens_from_top,
             CAST(sum(tokens) OVER (PARTITION BY lang) AS BIGINT)
               AS lang_tokens
      FROM summary
    )
    SELECT lang, decile, n_docs, tokens, cum_tokens_from_top,
           CASE WHEN cum_tokens_from_top * 100
                     <= lang_tokens * {_ANNEAL_PCT}
                THEN 'anneal' ELSE 'main' END AS phase
    FROM cum
    """,
    tags=("CURATION", "MIX"),
)
def corpus_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase training schedule from the quality deciles: the final
    "annealing" phase takes the HIGHEST-quality deciles until it holds
    ~{_ANNEAL_PCT}% of each language's tokens, the main phase takes the
    rest — the end-of-training quality upweighting that modern LLM
    recipes apply (anneal on the best data last).

    Consumes the same per-language decile assignment as
    curriculum_quality_deciles, rolled up to the langs x 10 summary —
    after that rollup every window (cumulative-from-top, language
    totals) runs on a metadata-sized frame, so the schedule itself is
    free at any scale; the integer cross-multiplied threshold
    (cum*100 <= total*pct) keeps the phase boundary exact.  Whole
    deciles are assigned, not split docs — the boundary decile lands
    in 'main', biasing the anneal slice slightly under budget
    (deterministic; a doc-level greedy split is the refinement,
    layout_compaction_plan's prefix-sum shape)."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    n = F.size("toks")
    hits = textfns.stopword_hits(F.col("toks"), _CURR_STOPS)
    scored = d.filter(n > 0).select(
        "doc_id",
        "lang",
        n.alias("n_toks"),
        F.floor(hits * 10000 / n).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    deciled = scored.select(
        "lang", "n_toks", F.ntile(10).over(w).cast("long").alias("decile")
    )
    summary = deciled.groupBy("lang", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("tokens"),
    )
    wt = (
        Window.partitionBy("lang")
        .orderBy(F.desc("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("lang")
    cum = summary.select(
        "lang",
        "decile",
        "n_docs",
        "tokens",
        F.sum("tokens").over(wt).cast("long").alias("cum_tokens_from_top"),
        F.sum("tokens").over(wl).cast("long").alias("lang_tokens"),
    )
    return cum.select(
        "lang",
        "decile",
        "n_docs",
        "tokens",
        "cum_tokens_from_top",
        F.when(
            F.col("cum_tokens_from_top") * 100
            <= F.col("lang_tokens") * _ANNEAL_PCT,
            "anneal",
        )
        .otherwise("main")
        .alias("phase"),
    )


# ---------------------------------------------------------------------------
# Quality-classifier calibration: reliability table + per-bin ECE terms
# ---------------------------------------------------------------------------

#: Length-classifier score cap (tokens at which the score saturates at
#: 1.0) and token width of each reliability bin.
_CALIB_SAT = 90
_CALIB_BIN_TOKENS = 10
_CALIB_MAX_BIN = 9


@register(
    "quality_calibration_bins",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), m AS (
      {DUCK_GOPHER_METRICS}
      FROM t
    ), scored AS (
      SELECT least(n_tokens // {_CALIB_BIN_TOKENS}, {_CALIB_MAX_BIN})
               AS bin_id,
             least(CAST(n_tokens AS DOUBLE) / {_CALIB_SAT}, 1.0) AS score,
             CAST({DUCK_GOPHER_PASS} AS INT) AS label
      FROM m
    )
    SELECT bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 6) AS avg_score,
           round(avg(CAST(label AS DOUBLE)), 6) AS pass_rate,
           round(abs(avg(score) - avg(CAST(label AS DOUBLE))), 6)
             AS calibration_gap
    FROM scored
    GROUP BY bin_id
    """,
    tags=("DQ", "curation"),
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a cheap quality classifier: score each
    document ``min(n_tokens/90, 1)`` (a length-saturating proxy of the
    kind used to pre-rank crawl data before an expensive model-based
    filter), label it with the full Gopher rule battery, bucket by
    token decile, and report per-bin mean score vs observed pass rate.
    The weighted sum of ``calibration_gap`` over ``n_docs`` IS the
    expected calibration error (ECE) — kept per-bin so the table shows
    WHERE the classifier is over-confident (short bins can never pass
    ok_len, so their gap is the score itself).

    Plan: pure map-side scoring (the same shared gopher_flags exprs as
    text_gopher_rules, so classifier and label can't drift) followed by
    ONE ≤10-group aggregate — partials combine map-side, output size is
    constant at any corpus scale."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    fl = gopher_flags(F.col("toks"))
    scored = d.select(
        F.least(
            (fl["n_tokens"] / _CALIB_BIN_TOKENS).cast("long"),
            F.lit(_CALIB_MAX_BIN).cast("long"),
        ).alias("bin_id"),
        F.least(
            fl["n_tokens"].cast("double") / _CALIB_SAT, F.lit(1.0)
        ).alias("score"),
        fl["passes"].cast("int").alias("label"),
    )
    return scored.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.avg(F.col("label").cast("double")), 6).alias("pass_rate"),
        F.round(
            F.abs(F.avg("score") - F.avg(F.col("label").cast("double"))), 6
        ).alias("calibration_gap"),
    )


# ---------------------------------------------------------------------------
# Filter funnel: cumulative survivors through the Gopher rule stages
# ---------------------------------------------------------------------------

#: Stage order is part of the contract (funnel numbers depend on it).
_FUNNEL_STAGES = (
    "ok_len", "ok_word_len", "ok_alpha", "ok_repetition", "has_stopword"
)


@register(
    "corpus_filter_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), m AS (
      {DUCK_GOPHER_METRICS}
      FROM t
    ), f AS (
      SELECT n_tokens,
             (n_tokens BETWEEN 20 AND 90) AS c1,
             (n_tokens BETWEEN 20 AND 90)
               AND (sum_len >= 2 * n_tokens AND sum_len <= 8 * n_tokens)
               AS c2,
             (n_tokens BETWEEN 20 AND 90)
               AND (sum_len >= 2 * n_tokens AND sum_len <= 8 * n_tokens)
               AND (10 * n_alpha >= 8 * n_tokens) AS c3,
             (n_tokens BETWEEN 20 AND 90)
               AND (sum_len >= 2 * n_tokens AND sum_len <= 8 * n_tokens)
               AND (10 * n_alpha >= 8 * n_tokens)
               AND (8 * max_freq <= n_tokens) AS c4,
             {DUCK_GOPHER_PASS} AS c5
      FROM m
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS d0,
             CAST(sum(n_tokens) AS BIGINT) AS t0,
             CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN c1 THEN n_tokens ELSE 0 END) AS BIGINT) AS t1,
             CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(sum(CASE WHEN c2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
             CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(sum(CASE WHEN c3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
             CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(sum(CASE WHEN c4 THEN n_tokens ELSE 0 END) AS BIGINT) AS t4,
             CAST(sum(CASE WHEN c5 THEN 1 ELSE 0 END) AS BIGINT) AS d5,
             CAST(sum(CASE WHEN c5 THEN n_tokens ELSE 0 END) AS BIGINT) AS t5
      FROM f
    )
    SELECT 0 AS stage, 'raw' AS rule, d0 AS n_docs, t0 AS n_tokens FROM agg
    UNION ALL SELECT 1, 'ok_len', d1, t1 FROM agg
    UNION ALL SELECT 2, 'ok_word_len', d2, t2 FROM agg
    UNION ALL SELECT 3, 'ok_alpha', d3, t3 FROM agg
    UNION ALL SELECT 4, 'ok_repetition', d4, t4 FROM agg
    UNION ALL SELECT 5, 'has_stopword', d5, t5 FROM agg
    """,
    tags=("DQ", "curation"),
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter funnel: documents and tokens surviving each Gopher rule
    applied CUMULATIVELY in the battery's order — the per-stage
    attrition table a curation run publishes (rule order matters for
    attribution: a doc failing both length and alpha is charged to
    length, the first gate it hit).  Shares gopher_flags, so the
    funnel and text_gopher_rules can never drift.

    One map-side flag evaluation + ONE global aggregate computing all
    six (docs, tokens) pairs as conditional sums — the funnel never
    re-scans per stage; the six output rows are unpivoted from the
    single aggregate row."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    fl = gopher_flags(F.col("toks"))
    cum = []
    cond = F.lit(True)
    for name in _FUNNEL_STAGES:
        cond = cond & fl[name]
        cum.append((name, cond))
    aggs = [
        F.count(F.lit(1)).alias("d0"),
        F.sum(fl["n_tokens"].cast("long")).alias("t0"),
    ]
    for i, (_, c) in enumerate(cum, start=1):
        aggs.append(
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"d{i}")
        )
        aggs.append(
            F.sum(F.when(c, fl["n_tokens"].cast("long")).otherwise(0))
            .cast("long")
            .alias(f"t{i}")
        )
    one = d.agg(*aggs)
    stages = [(0, "raw")] + [
        (i, n) for i, n in enumerate(_FUNNEL_STAGES, start=1)
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(n).alias("rule"),
                F.col(f"d{i}").alias("n_docs"),
                F.col(f"t{i}").alias("n_tokens"),
            )
            for i, n in stages
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.stage", "r.rule", "r.n_docs", "r.n_tokens"
    )
