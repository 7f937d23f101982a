"""Composite corpus-curation pipeline: the end-to-end shape of a
training-data preparation job, chaining the engine's operators —

  exact dedup (keep-first) → quality gate → language allowlist →
  deterministic ordering → cumulative token budget

Each stage is a plain DataFrame transform, so Catalyst fuses the
filters into the scan and the whole pre-budget pipeline is one
map-side pass; only the dedup groupBy and the budget's running sum
shuffle (the latter on a single global ordering — at 100 TB the budget
stage would run per-shard with per-shard budgets, or via a two-pass
partition-prefix-sum; the single-window form is the semantic spec).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import bind, table

_ALLOWED_LANGS = ("en", "es", "de", "fr")
_MIN_CHARS = 100
_TOKEN_BUDGET = 40_000

_BPE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@register(
    "pipeline_corpus_curation",
    oracle=f"""
    WITH deduped AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    ),
    gated AS (
      SELECT d.doc_id, d.lang,
             len(regexp_extract_all(d.text, '{_BPE}')) AS n_pieces
      FROM documents d JOIN deduped USING (doc_id)
      WHERE d.n_chars >= {_MIN_CHARS}
        AND d.lang IN ('en', 'es', 'de', 'fr')
    ),
    budgeted AS (
      SELECT doc_id, lang, n_pieces,
             CAST(sum(n_pieces) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_pieces
      FROM gated
    )
    SELECT doc_id, lang, n_pieces, cum_pieces
    FROM budgeted
    WHERE cum_pieces <= {_TOKEN_BUDGET}
    """,
    tags=("PIPE", "DD", "TXT"),
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus selection: exact-dedup keepers, >= 100 chars,
    allowlisted language, then take documents in doc_id order until the
    cumulative BPE-piece count exceeds the budget. The deterministic
    ordering makes the selected set reproducible run-over-run — the
    property a training-data snapshot needs."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    keepers = d.groupBy(fp.alias("fp")).agg(F.min("doc_id").alias("doc_id"))
    n_pieces = F.size(F.regexp_extract_all("text", F.lit(_BPE), 0))
    gated = (
        d.join(keepers.select("doc_id"), "doc_id")
        .filter(
            (F.col("n_chars") >= _MIN_CHARS)
            & F.col("lang").isin(*_ALLOWED_LANGS)
        )
        .select("doc_id", "lang", n_pieces.alias("n_pieces"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return (
        gated.withColumn("cum_pieces", F.sum("n_pieces").over(w))
        .filter(F.col("cum_pieces") <= _TOKEN_BUDGET)
        .select("doc_id", "lang", "n_pieces", "cum_pieces")
    )


# ---------------------------------------------------------------------------
# Training-data prep: rules gate → block-dedup gate → mixture → pack sizing
# ---------------------------------------------------------------------------

_DUP_NUM = 5  # keep docs with < 1/5 duplicated blocks


def _training_prep_oracle() -> str:
    from .corpus import _WINDOW
    from .curation import (
        _DUCK_MIX_CASE,
        _DUCK_TOKENS,
        _MIX_DEN,
        DUCK_BLOCK_CTES,
        DUCK_GOPHER_METRICS,
        DUCK_GOPHER_PASS,
    )

    return f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), m AS (
      {DUCK_GOPHER_METRICS}
      FROM t
    ),
    {DUCK_BLOCK_CTES},
    bstats AS (
      SELECT b.doc_id, count(*) AS n_blocks,
             CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_blocks
      FROM blocks b JOIN freq f USING (block_text)
      GROUP BY b.doc_id
    )
    SELECT d.doc_id, d.lang, d.source, m.n_tokens,
           CAST(ceil(m.n_tokens / {_WINDOW}.0) AS BIGINT) AS n_chunks
    FROM m
    JOIN documents d USING (doc_id)
    JOIN bstats USING (doc_id)
    WHERE {DUCK_GOPHER_PASS}
      AND {_DUP_NUM} * n_dup_blocks <= n_blocks
      AND (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT)
            % {_MIX_DEN}
          < ({_DUCK_MIX_CASE})
    """


@register(
    "pipeline_training_data_prep",
    oracle=_training_prep_oracle(),
    tags=("PIPE", "DD", "TXT", "curation"),
)
def pipeline_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second flagship pipeline, composing the curation family
    end-to-end the way a pretraining-data job would:

      Gopher rule gate (curation.gopher_flags) →
      block-level exact-dedup gate (< 20% duplicated blocks) →
      per-language mixture rebalancing (hash-deterministic) →
      pack sizing (how many {_WINDOW}-token training chunks each
      surviving doc yields)

    The rule gate and mixture filter are pure map-side expressions that
    Catalyst pushes into the scan; the only exchanges are the block
    dedup's (block-key groupBy + doc-key re-aggregation) and the final
    doc_id equi-join — at 100 TB the join key is the high-cardinality
    doc id, so the plan has no skew pinch-points."""
    from .corpus import _WINDOW
    from .curation import (
        _MIX_DEN,
        _MIX_PERMILLE,
        corpus_block_dedup_stats,
        gopher_flags,
    )
    from ..functions import textfns

    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    fl = gopher_flags(F.col("toks"))
    permille = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in _MIX_PERMILLE.items() for x in kv]
        )[F.col("lang")],
        F.lit(0),
    ).cast("long")
    bucket = F.pmod(
        textfns.hash60(F.col("doc_id").cast("string")), F.lit(_MIX_DEN)
    )
    base = d.filter(fl["passes"] & (bucket < permille)).select(
        "doc_id", "lang", "source", fl["n_tokens"].alias("n_tokens")
    )
    bstats = corpus_block_dedup_stats(spark, sf_dir).select(
        "doc_id", "n_blocks", "n_dup_blocks"
    )
    return (
        base.join(bstats, "doc_id")
        .filter(_DUP_NUM * F.col("n_dup_blocks") <= F.col("n_blocks"))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            F.ceil(F.col("n_tokens") / F.lit(float(_WINDOW)))
            .cast("long")
            .alias("n_chunks"),
        )
    )
