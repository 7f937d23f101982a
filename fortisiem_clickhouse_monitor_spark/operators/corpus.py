"""Corpus-curation operators for LLM training-data pipelines
(north-star extension beyond the reference's monitoring surface;
complements operators/text.py and operators/dedup.py).

Covers the vocabulary / relevance / packing / sampling side of a
pretraining pipeline:

* n-gram vocabulary building (`text_bigram_vocab_topk`),
* TF-IDF term extraction per document (`text_tfidf_top_terms`),
* BM25 relevance scoring against a query (`text_bm25_scores`),
* fixed-window token sequence packing (`pack_token_sequences`),
* deterministic stratified sampling (`sample_stratified_per_lang`),
* benchmark decontamination via n-gram overlap (`corpus_decontaminate_ngram`).

Everything is built-in DataFrame ops: tokenization stays JVM-side via
higher-order array functions (functions/textfns.py), statistics are
ordinary aggregates, and ranking is windowed with explicit tiebreaks.
At 100 TB: the explode(tokens) streams are map-local until their
group-by, the per-term statistics aggregate onto the (small) vocabulary
domain, and corpus-level scalars (N, avgdl) are 1-row broadcast joins —
never unpartitioned windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfns
from ..registry import register
from ..sources.fixtures import local_df
from ..sources.tables import bind, fanout, spread, table

# DuckDB twin of textfns.tokens()
_DUCK_TOKENS = (
    # list_filter guard: DuckDB yields [''] for an empty/whitespace
    # document where Spark textfns.tokens yields [] — filter the
    # empty token so both engines agree on empty docs.
    "list_filter(string_split_regex(trim(text), '\\s+'),"
    " _x -> _x <> '')"
)


# ---------------------------------------------------------------------------
# Vocabulary: top-k bigrams across the corpus
# ---------------------------------------------------------------------------


@register(
    "text_bigram_vocab_topk",
    oracle=f"""
    WITH grams AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM (SELECT {_DUCK_TOKENS} AS toks FROM documents) t
    )
    SELECT gram, count(*) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT 50
    """,
    tags=("TXT", "vocab"),
)
def text_bigram_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram vocabulary with deterministic tiebreak — the
    first step of building a tokenizer/vocab over a corpus.  The
    bigram explode is map-local; the count aggregates partially before
    the single shuffle on the gram key, and the top-k lowers to
    TakeOrderedAndProject (no global sort). fanout() spreads the
    shingle explode across cores when the scan is single-partition
    (no-op at real scale)."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    grams = d.select(
        F.explode(textfns.shingles(F.col("toks"), 2)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# TF-IDF: top terms per document
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS f,
             sum(count(*)) OVER (PARTITION BY doc_id) AS dl
      FROM toks GROUP BY doc_id, term
    ), stats AS (
      SELECT doc_id, term, f, dl,
             count(*) OVER (PARTITION BY term) AS df,
             (SELECT count(*) FROM documents) AS n_docs
      FROM tf
    )
    SELECT doc_id, term,
           round((CAST(f AS DOUBLE) / dl)
                 * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
    FROM stats
    QUALIFY row_number() OVER (
      PARTITION BY doc_id
      ORDER BY (CAST(f AS DOUBLE) / dl) * ln(CAST(n_docs AS DOUBLE) / df) DESC,
               term) <= 3
    """,
    tags=("TXT", "vocab"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms.  tf is one explode+group pass;
    the corpus size N is a 1-row broadcast.  Ranking uses a term-name
    tiebreak so results are deterministic under ties (common in a small
    vocabulary).

    Shuffle layout: documents are hash-partitioned by doc_id ONCE up
    front — that single exchange satisfies the tf group-by, the dl
    window, and the final rank window (HashPartitioning(doc_id) clusters
    every doc-keyed stage).  Document frequency is the one genuinely
    term-keyed statistic, so it aggregates onto the (tiny) vocabulary
    domain and broadcasts back, instead of dragging the postings through
    a term-partitioned window and then re-shuffling them to doc_id."""
    raw = table(spark, sf_dir, "documents")
    d = spread(raw, "doc_id")
    n_docs = raw.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode(textfns.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("f"))
        .withColumn("dl", F.sum("f").over(Window.partitionBy("doc_id")))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = tf.join(df, "term").join(n_docs)
    score = (F.col("f").cast("double") / F.col("dl")) * F.log(
        F.col("n_docs").cast("double") / F.col("df")
    )
    w = Window.partitionBy("doc_id").orderBy(score.desc(), "term")
    return (
        stats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", F.round(score, 4).alias("tfidf"))
    )


# ---------------------------------------------------------------------------
# BM25: relevance of every document to a fixed query
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "table", "merge")
_K1, _B = 1.2, 0.75


@register(
    "text_bm25_scores",
    oracle=f"""
    WITH dls AS (
      SELECT doc_id, len({_DUCK_TOKENS}) AS dl FROM documents
    ), corpus AS (
      SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dls
    ), tf AS (
      SELECT doc_id, term, count(*) AS f
      FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents) t
      WHERE term IN ('spark', 'table', 'merge')
      GROUP BY doc_id, term
    ), idf AS (
      SELECT term,
             ln((n_docs - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
      FROM tf, corpus GROUP BY term, n_docs
    )
    SELECT doc_id,
           round(sum(idf * f * ({_K1} + 1)
                     / (f + {_K1} * (1 - {_B} + {_B} * dl / avgdl))), 4)
             AS bm25
    FROM tf JOIN idf USING (term) JOIN dls USING (doc_id), corpus
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    tags=("TXT", "similarity"),
)
def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) of every document against a fixed query —
    the standard lexical-relevance scorer for corpus filtering.  The
    term filter lands immediately after the explode, so only query-term
    postings ever aggregate; corpus stats (N, avgdl) and the per-term
    idf table are 1-row / |query|-row broadcasts.

    Shuffle layout: deliberately NOT the repartition-documents-first
    pattern used by text_tfidf_top_terms — the query-term filter makes
    tf tiny, so the only doc-count-sized shuffle here is dls, which is
    two integer columns; co-locating by pre-partitioning would shuffle
    full document text instead.  The top-20 lowers to
    TakeOrderedAndProject — no global sort."""
    d = table(spark, sf_dir, "documents")
    dls = d.select("doc_id", F.size(textfns.tokens("text")).alias("dl"))
    corpus = dls.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode(textfns.tokens("text")).alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(corpus)
        .select(
            "term",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ).alias("idf"),
        )
    )
    contrib = F.col("idf") * F.col("f") * (_K1 + 1) / (
        F.col("f") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .join(dls, "doc_id")
        .join(corpus)
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Sequence packing: fixed token windows per document
# ---------------------------------------------------------------------------

_WINDOW = 64


@register(
    "pack_token_sequences",
    oracle=f"""
    SELECT d.doc_id, gs.i AS chunk_id,
           len(d.toks[(gs.i * {_WINDOW} + 1):((gs.i + 1) * {_WINDOW})])
             AS n_tokens,
           array_to_string(
             d.toks[(gs.i * {_WINDOW} + 1):((gs.i + 1) * {_WINDOW})], ' ')
             AS chunk_text
    FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents) d,
    LATERAL (SELECT unnest(generate_series(
               0, CAST(ceil(len(d.toks) / {_WINDOW}.0) AS INT) - 1)) AS i) gs
    """,
    tags=("TXT", "packing"),
)
def pack_token_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window sequence packing: split each document's token
    stream into {_WINDOW}-token training chunks (final chunk ragged) —
    the standard pre-tokenization step before batching examples.
    Chunking is a pure map-side higher-order expression (sequence →
    slice → posexplode); zero shuffle, so at 100 TB it scales with
    scan bandwidth alone."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    toks = F.col("toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(_WINDOW)).cast("int")
    chunks = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(toks, i * _WINDOW + 1, _WINDOW),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk")
    ).select(
        "doc_id",
        "chunk_id",
        F.size("chunk").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Stratified sampling: deterministic k docs per language
# ---------------------------------------------------------------------------


@register(
    "sample_stratified_per_lang",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) t WHERE rn <= 20
    """,
    tags=("sampling",),
)
def sample_stratified_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: exactly 20 documents per language, chosen by
    a content-independent hash order (md5 of the key) so the sample is
    deterministic, reproducible across engines, and unbiased by storage
    order — the same discipline as `sample_content_hash`.  One shuffle
    on the stratum key; each stratum ranks independently."""
    d = table(spark, sf_dir, "documents")
    order = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(order, "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap against a held-out eval slice
# ---------------------------------------------------------------------------


@register(
    "corpus_decontaminate_ngram",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(
               CASE WHEN len({_DUCK_TOKENS}) >= 3 THEN
                 list_transform(range(1, len({_DUCK_TOKENS}) - 1),
                   i -> {_DUCK_TOKENS}[i] || ' ' || {_DUCK_TOKENS}[i+1]
                        || ' ' || {_DUCK_TOKENS}[i+2])
               ELSE [] END)) AS s
      FROM documents
    ), ev AS (
      SELECT DISTINCT s FROM sh WHERE source = 'src0'
    )
    SELECT doc_id, count(*) AS n_contaminated_shingles
    FROM sh JOIN ev USING (s)
    WHERE source <> 'src0'
    GROUP BY doc_id
    """,
    tags=("CORPUS", "DD"),
)
def corpus_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    3-token shingle with the held-out eval slice (source='src0' stands in
    for the benchmark set), reporting how many of their distinct shingles
    are contaminated.  The eval shingle set is distinct-ed and broadcast —
    benchmarks are tiny next to a 100 TB training corpus, so the probe is
    a map-side hash-semi lookup on the exploded shingle stream with no
    shuffle of the training side except one doc_id exchange (which the
    final per-doc count reuses).

    The doc_id repartition happens BEFORE shingling: explode and
    broadcast join both preserve partitioning, so the one shuffle the
    groupBy needs anyway is moved ahead of the expensive tokenize+
    shingle work, spreading it across all cores even when the input
    arrives as a single small parquet split (and, at scale, pre-
    balancing skewed document sizes)."""
    d = bind(spread(table(spark, sf_dir, "documents"), "doc_id"),
             toks=textfns.tokens("text"))
    sh = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(textfns.shingles(F.col("toks"), 3))
        ).alias("s"),
    )
    eval_sh = (
        sh.filter(F.col("source") == "src0")
        .select(F.col("s").alias("es"))
        .distinct()
    )
    return (
        sh.filter(F.col("source") != "src0")
        .join(eval_sh, F.col("s") == F.col("es"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


_BIN_BUDGET = 256


@register(
    "pack_greedy_bins",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, len({_DUCK_TOKENS}) AS n_tokens FROM documents
    ),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
      FROM sized
    )
    SELECT doc_id, lang, n_tokens,
           tokens_before // {_BIN_BUDGET} AS bin_id,
           tokens_before % {_BIN_BUDGET} AS bin_offset
    FROM cum
    """,
    tags=("TXT", "packing"),
)
def pack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document greedy sequence packing: concatenate documents in
    doc_id order into fixed {budget}-token training bins (documents may
    straddle a boundary — the downstream chunker splits them), reporting
    each document's bin and offset. The streaming-concatenation
    counterpart to pack_token_sequences' per-document windows — the op
    that turns a curated corpus into dense fixed-length samples.

    Scale shape: ONE running-sum window partitioned by lang — packing
    is inherently sequential per stream, so the parallel unit is the
    language (at 100 TB: partition by (lang, shard) where shard =
    doc_id bucket, giving as many independent pack streams as wanted;
    bins are then (shard, bin_id) pairs — same plan, finer key)."""
    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(textfns.tokens("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = sized.withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("tokens_before") / _BIN_BUDGET).alias("bin_id"),
        F.pmod("tokens_before", F.lit(_BIN_BUDGET)).alias("bin_offset"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling: hashed n-gram log-likelihood ratio
# ---------------------------------------------------------------------------

_DSIR_NB = 8192  # hashed feature buckets (fixed-size LM regardless of vocab)
_DSIR_K = 200  # documents selected
_DSIR_TARGET_LANG = "en"

_DUCK_BIGRAMS = (
    f"CASE WHEN len({_DUCK_TOKENS}) >= 2 THEN "
    f"list_transform(range(1, len({_DUCK_TOKENS})), "
    f"i -> {_DUCK_TOKENS}[i] || ' ' || {_DUCK_TOKENS}[i+1]) "
    f"ELSE [] END"
)


@register(
    "corpus_dsir_select",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, lang,
             {textfns.DUCK_HASH60.format(col="f.f")} % {_DSIR_NB} AS bucket
      FROM documents,
           unnest(list_concat({_DUCK_TOKENS}, {_DUCK_BIGRAMS})) AS f(f)
    ),
    tc AS (SELECT bucket, count(*) AS ct FROM feats
           WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bucket),
    rc AS (SELECT bucket, count(*) AS cr FROM feats GROUP BY bucket),
    tot AS (SELECT (SELECT sum(ct) FROM tc) AS tt,
                   (SELECT sum(cr) FROM rc) AS rt),
    lm AS (
      SELECT rc.bucket,
             ln((coalesce(tc.ct, 0) + 1.0) / (tot.tt + {_DSIR_NB}))
             - ln((rc.cr + 1.0) / (tot.rt + {_DSIR_NB})) AS lp
      FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot
    ),
    scored AS (
      SELECT f.doc_id, f.lang, count(*) AS n_feats,
             round(sum(lm.lp), 4) AS weight
      FROM feats f JOIN lm USING (bucket)
      GROUP BY f.doc_id, f.lang
    )
    SELECT doc_id, lang, n_feats, weight
    FROM scored ORDER BY weight DESC, doc_id LIMIT {_DSIR_K}
    """,
    tags=("CORPUS", "quality"),
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by the log-likelihood ratio of a TARGET-domain
    hashed n-gram LM (here: the '{_DSIR_TARGET_LANG}'-labeled slice)
    over the RAW-corpus LM, and keep the top {_DSIR_K} — the importance
    weighting that selects web documents "most like" a trusted corpus.
    Features are unigrams + bigrams hashed into {_DSIR_NB} buckets
    (add-one smoothed), so the LM is FIXED-SIZE no matter the vocabulary.

    Scale shape: one explode pass feeds both LM counts and scoring (the
    raw-count aggregation collapses map-side onto the {_DSIR_NB}-bucket
    domain); both LMs and their totals are a <= {_DSIR_NB}-row broadcast,
    so the only corpus-sized exchange is the per-doc weight aggregation;
    top-K is TakeOrderedAndProject (per-partition heaps, no global
    sort). Ordering is on the ROUNDED weight with doc_id tiebreak, so
    the selected set is reproducible across engines and runs."""
    d = bind(spread(table(spark, sf_dir, "documents"), "doc_id"),
             toks=textfns.tokens("text"))
    toks = F.col("toks")
    feats = d.select(
        "doc_id",
        "lang",
        F.explode(F.concat(toks, textfns.shingles(toks, 2))).alias("f"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(textfns.hash60(F.col("f")), F.lit(_DSIR_NB)).alias("bucket"),
    ).localCheckpoint(eager=True)
    # Target and raw LM counts in ONE pass: the separate tc/rc
    # aggregations (plus their join) re-executed the tokenize+hash
    # explode per consumer; a conditional count over the same groupBy
    # reads each feature row once (r8 opt round, guide §1.2) — and the
    # checkpoint above means the scoring join below re-reads the
    # hashed features instead of re-tokenizing the corpus a third
    # time.  sum(CASE lang=target) == the old LEFT-JOINed coalesced
    # count for every bucket rc contained (all of them).
    lm = feats.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    tot = lm.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("rt"))
    lp = F.log((F.col("ct") + 1.0) / (F.col("tt") + _DSIR_NB)) - F.log(
        (F.col("cr") + 1.0) / (F.col("rt") + _DSIR_NB)
    )
    lm = lm.crossJoin(tot).select("bucket", lp.alias("lp"))
    scored = (
        feats.join(F.broadcast(lm), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("lp"), 4).alias("weight"),
        )
    )
    return scored.orderBy(F.desc("weight"), "doc_id").limit(_DSIR_K)


# ---------------------------------------------------------------------------
# Tokenizer training: one BPE iteration's merge-candidate pair counts
# ---------------------------------------------------------------------------

_BPE_TOPK = 20


@register(
    "vocab_bpe_merge_pairs",
    oracle=f"""
    WITH tf AS (
      SELECT t.w AS w, count(*) AS c
      FROM documents, unnest({_DUCK_TOKENS}) AS t(w)
      GROUP BY t.w
    ),
    pairs AS (
      SELECT substr(w, i.i, 2) AS pair, c
      FROM tf, unnest(range(1, length(w))) AS i(i)
    )
    SELECT pair, CAST(sum(c) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT {_BPE_TOPK}
    """,
    tags=("TXT", "vocab"),
)
def vocab_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration: the top-{_BPE_TOPK} adjacent
    character pairs by corpus frequency — the merge candidates a
    byte-pair-encoding tokenizer would fuse next (Sennrich et al.
    2016). The defining scale trick is COMPRESSION BEFORE EXPANSION:
    pair enumeration runs over the DISTINCT-token frequency table
    (|vocab| rows), never the raw token stream, so a trillion-token
    corpus enumerates pairs over mere millions of distinct words and
    weights them by the count — subsequent merge rounds would rerun
    the same plan over the re-segmented vocab table only.

    Shuffles: one token-keyed exchange builds tf (map-side partials),
    one pair-keyed exchange sums weights onto the tiny pair domain,
    top-k lowers to TakeOrderedAndProject."""
    d = fanout(table(spark, sf_dir, "documents"))
    tf = (
        d.select(F.explode(textfns.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mk_pairs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.col("w").substr(i, F.lit(2)),
    )
    pairs = tf.filter(F.length("w") >= 2).select(
        "c", F.explode(mk_pairs).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# Phrase mining: pointwise mutual information over adjacent token pairs
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


@register(
    "vocab_phrase_pmi_topk",
    oracle=f"""
    WITH toks AS (
      SELECT t.w AS w
      FROM documents,
           unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                              _x -> _x <> '')) AS t(w)
    ),
    uni AS (SELECT w, count(*) AS u FROM toks GROUP BY w),
    ut AS (SELECT sum(u) AS t FROM uni),
    bi AS (
      SELECT g.gram AS gram, count(*) AS b
      FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i+1])) AS gram
        FROM (SELECT {_DUCK_TOKENS} AS tk FROM documents) s
      ) g
      GROUP BY g.gram HAVING count(*) >= {_PMI_MIN_COUNT}
    ),
    bt AS (
      SELECT sum(len(tk) - 1) AS tb
      FROM (SELECT {_DUCK_TOKENS} AS tk FROM documents) s
      WHERE len(tk) >= 2
    )
    SELECT gram, b AS n_pair,
           round(ln((CAST(b AS DOUBLE) / bt.tb)
                    / ((CAST(ua.u AS DOUBLE) / ut.t)
                       * (CAST(ub.u AS DOUBLE) / ut.t))), 4) AS pmi
    FROM bi
    JOIN uni ua ON ua.w = string_split(bi.gram, ' ')[1]
    JOIN uni ub ON ub.w = string_split(bi.gram, ' ')[2]
    CROSS JOIN ut CROSS JOIN bt
    ORDER BY pmi DESC, gram LIMIT {_PMI_TOPK}
    """,
    tags=("TXT", "vocab"),
)
def vocab_phrase_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase mining by pointwise mutual information (the word2vec-
    phrases recipe): adjacent token pairs occurring >= {_PMI_MIN_COUNT}
    times ranked by ln(P(ab) / (P(a)P(b))) — high-PMI pairs are
    collocations worth fusing into single vocabulary units before
    tokenizer training.

    Scale shape: one bound tokenize pass feeds unigram counts, bigram
    counts, and both corpus totals; all statistics aggregate onto
    vocabulary-sized domains with map-side partials, the unigram table
    broadcasts to the (HAVING-pruned) bigram table, and the top-k
    lowers to TakeOrderedAndProject — the fact table is scanned, never
    joined."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    uni = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("u"))
    )
    ut = uni.agg(F.sum("u").alias("t"))
    bi = (
        d.select(F.explode(textfns.shingles(F.col("toks"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("b"))
        .filter(F.col("b") >= _PMI_MIN_COUNT)
    )
    bt = (
        d.select(F.size("toks").alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.sum(F.col("n") - 1).alias("tb"))
    )
    ua = uni.select(F.col("w").alias("wa"), F.col("u").alias("u_a"))
    ub = uni.select(F.col("w").alias("wb"), F.col("u").alias("u_b"))
    scored = (
        bi.withColumn("wa", F.split_part("gram", F.lit(" "), F.lit(1)))
        .withColumn("wb", F.split_part("gram", F.lit(" "), F.lit(2)))
        .join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(ut)
        .crossJoin(bt)
    )
    pmi = F.log(
        (F.col("b").cast("double") / F.col("tb"))
        / (
            (F.col("u_a").cast("double") / F.col("t"))
            * (F.col("u_b").cast("double") / F.col("t"))
        )
    )
    return (
        scored.select(
            "gram", F.col("b").alias("n_pair"), F.round(pmi, 4).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "gram")
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# Per-source dataset card: the release report a corpus ships with
# ---------------------------------------------------------------------------


@register(
    "corpus_source_report",
    oracle=f"""
    WITH base AS (
      SELECT source, lang, doc_id,
             len({_DUCK_TOKENS}) AS n_toks,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             CASE WHEN len({_DUCK_TOKENS}) > 0 THEN
               CAST(len(list_filter({_DUCK_TOKENS},
                    t -> t IN ('the','a','of','and','to','in','is')))
                    AS DOUBLE) / len({_DUCK_TOKENS}) END AS stop_ratio
      FROM documents
    ),
    mix AS (
      SELECT source, lang, count(*) AS c FROM base GROUP BY source, lang
    ),
    ent AS (
      SELECT source,
             round(-sum((c * 1.0 / t) * ln(c * 1.0 / t)), 4) AS lang_entropy
      FROM (SELECT source, c,
                   sum(c) OVER (PARTITION BY source) AS t FROM mix)
      GROUP BY source
    )
    SELECT b.source,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           count(DISTINCT lang) AS n_langs,
           count(*) - count(DISTINCT fp) AS n_dup_docs,
           round(avg(stop_ratio), 4) AS avg_stop_ratio,
           any_value(e.lang_entropy) AS lang_entropy
    FROM base b JOIN ent e USING (source)
    GROUP BY b.source
    """,
    tags=("CORPUS", "eval"),
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: document count, token volume, language
    count and Shannon entropy of the language mix, within-source exact
    duplicates, and mean stopword density — the one-page release report
    a corpus snapshot ships with (and the screen that surfaces a
    domain gone bad before training does).

    One bound tokenize feeds every statistic; everything aggregates
    onto the |sources| and |source x lang| domains with map-side
    partials — the corpus is scanned once and never joined against
    itself (the entropy side-table is domain-sized and rejoins on
    source)."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    n = F.size("toks")
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    stop = textfns.stopword_hits(F.col("toks"), textfns.STOPWORDS["en"])
    base = d.select(
        "source",
        "lang",
        n.alias("n_toks"),
        fp.alias("fp"),
        F.when(n > 0, stop.cast("double") / n).alias("stop_ratio"),
    )
    mix = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    t = F.sum("c").over(Window.partitionBy("source"))
    p = F.col("c").cast("double") / F.col("t")
    ent = (
        mix.withColumn("t", t)
        .groupBy("source")
        .agg(F.round(-F.sum(p * F.log(p)), 4).alias("lang_entropy"))
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.count_distinct("lang").alias("n_langs"),
            (F.count(F.lit(1)) - F.count_distinct("fp")).alias("n_dup_docs"),
            F.round(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
        )
        .join(ent, "source")
    )


@register(
    "pack_bin_manifests",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, len({_DUCK_TOKENS}) AS n_tokens FROM documents
    ),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
      FROM sized
    ),
    spans AS (
      SELECT doc_id, lang, n_tokens, tokens_before,
             tokens_before // {_BIN_BUDGET} AS first_bin,
             (tokens_before + n_tokens - 1) // {_BIN_BUDGET} AS last_bin
      FROM cum WHERE n_tokens > 0
    ),
    pieces AS (
      SELECT lang, b.b AS bin_id, doc_id,
             greatest(0, tokens_before - b.b * {_BIN_BUDGET}) AS off,
             least(n_tokens, (b.b + 1) * {_BIN_BUDGET} - tokens_before)
               - greatest(0, b.b * {_BIN_BUDGET} - tokens_before) AS len
      FROM spans, unnest(range(first_bin, last_bin + 1)) AS b(b)
    )
    SELECT lang, bin_id,
           count(*) AS n_pieces,
           CAST(sum(len) AS BIGINT) AS bin_tokens,
           to_json(list(struct_pack(off := off, doc_id := doc_id, len := len)
                        ORDER BY off, doc_id)) AS manifest_json
    FROM pieces GROUP BY lang, bin_id
    """,
    tags=("TXT", "packing"),
)
def pack_bin_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader-side bookkeeping of greedy packing: for every
    {_BIN_BUDGET}-token training bin, the ordered MANIFEST of document
    pieces inside it — (offset-in-bin, doc_id, piece length), with
    straddling documents split across consecutive bins — exactly what a
    training data loader needs to rebuild attention-mask boundaries
    (no cross-document attention) without retokenizing anything.

    Same single per-lang running-sum window as pack_greedy_bins; the
    piece explode adds at most one row per (doc, straddled bin), and
    the manifest nest is one groupBy on (lang, bin) reusing the lang
    exchange. Nested array<struct> output — the comparator canonizes
    structs by field name, so the manifest is hash-checked too."""
    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(textfns.tokens("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = sized.withColumn(
        "tokens_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
    ).filter(F.col("n_tokens") > 0)
    first_bin = F.floor(F.col("tokens_before") / _BIN_BUDGET).cast("long")
    last_bin = F.floor(
        (F.col("tokens_before") + F.col("n_tokens") - 1) / _BIN_BUDGET
    ).cast("long")
    spans = cum.select(
        "doc_id", "lang", "n_tokens", "tokens_before",
        first_bin.alias("first_bin"), last_bin.alias("last_bin"),
    )
    pieces = spans.select(
        "lang",
        "doc_id",
        "n_tokens",
        "tokens_before",
        F.explode(F.sequence("first_bin", "last_bin")).alias("bin_id"),
    ).select(
        "lang",
        "bin_id",
        "doc_id",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("tokens_before") - F.col("bin_id") * _BIN_BUDGET,
        ).alias("off"),
        (
            F.least(
                F.col("n_tokens").cast("long"),
                (F.col("bin_id") + 1) * _BIN_BUDGET - F.col("tokens_before"),
            )
            - F.greatest(
                F.lit(0).cast("long"),
                F.col("bin_id") * _BIN_BUDGET - F.col("tokens_before"),
            )
        ).alias("len"),
    )
    # JSON-serialized manifest (the repo's struct-parity discipline, see
    # nest_items_per_order): identical field order on both engines makes
    # the nested payload a hash-checkable plain string.
    manifest = F.to_json(
        F.array_sort(F.collect_list(F.struct("off", "doc_id", "len")))
    )
    return pieces.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_pieces"),
        F.sum("len").cast("long").alias("bin_tokens"),
        manifest.alias("manifest_json"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split assignment
# ---------------------------------------------------------------------------

#: 256 hash buckets: [0,204) train (~80%), [204,230) val (~10%), rest test.
_SPLIT_TRAIN, _SPLIT_VAL = 204, 230


@register(
    "corpus_train_val_test_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                WHEN bucket < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    tags=("SAMPLE", "SPLIT"),
)
def corpus_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-hash bucket
    (md5 first byte -> 256 buckets -> ~80/10/10): the split every
    training pipeline needs, computed so that (a) membership is a pure
    function of doc_id — stable across engines, runs, repartitions, and
    corpus growth (a doc added tomorrow lands in the same split it
    would have today, unlike any rank- or random()-based split), and
    (b) it is a map-only projection — no shuffle, no state, trivially
    correct at any scale. Downstream writers partition by the split
    column to produce physically separated outputs."""
    d = table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    return d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN, F.lit("train"))
        .when(bucket < _SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def _split_leakage_oracle() -> str:
    from .dedup import _MINHASH_LSH_ORACLE

    return f"""
    WITH lsh AS ({_MINHASH_LSH_ORACLE}),
    s AS (
      SELECT doc_id,
             CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                  WHEN bucket < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                 AS bucket
        FROM documents
      )
    )
    SELECT p.doc_a, p.doc_b, p.jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM lsh p
    JOIN s sa ON sa.doc_id = p.doc_a
    JOIN s sb ON sb.doc_id = p.doc_b
    WHERE sa.split <> sb.split
    """


@register(
    "quality_split_leakage_pairs",
    oracle=_split_leakage_oracle(),
    tags=("DD", "LSH", "SPLIT", "eval"),
)
def quality_split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: verified near-dup pairs
    (MinHash-LSH, Jaccard >= 0.5) whose endpoints land in DIFFERENT
    train/val/test splits — each row is an eval document whose
    near-duplicate sits in training data, i.e. a leak that silently
    inflates eval metrics.  The content-hash split is deliberately
    blind to content similarity (membership is a pure function of
    doc_id), so near-dup clusters DO straddle splits unless this audit
    gates them — the standard fix being split-by-component (assign
    whole dedup components, not documents): this query is exactly the
    list of pairs that fix would rehome.

    Pure composition of two oracle-proven subtrees (the LSH pair
    generation and the md5-bucket split assignment) plus two hash
    joins on doc id against the map-only split projection — the audit
    adds no new shuffle shape and runs at the cost of the dedup pass a
    pipeline already does."""
    from .dedup import dedup_minhash_lsh_pairs

    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    splits = corpus_train_val_test_split(spark, sf_dir).select(
        "doc_id", "split"
    )
    sa = splits.withColumnsRenamed({"doc_id": "doc_a", "split": "split_a"})
    sb = splits.withColumnsRenamed({"doc_id": "doc_b", "split": "split_b"})
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
    )


def _split_by_component_oracle() -> str:
    from .dedup import _MINHASH_LSH_ORACLE

    return f"""
    WITH RECURSIVE lsh AS ({_MINHASH_LSH_ORACLE}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM lsh
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM lsh
    ),
    cc(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS component FROM cc GROUP BY node
    )
    SELECT doc_id, component,
           CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                WHEN bucket < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, component,
             ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 2))::BIGINT
               AS bucket
      FROM comp
    )
    """


@register(
    "corpus_split_by_component",
    oracle=_split_by_component_oracle(),
    tags=("SAMPLE", "SPLIT", "DD", "ITER"),
)
def corpus_split_by_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAK-FREE train/val/test split: the fix for what
    quality_split_leakage_pairs finds.  Near-dup components (connected
    components over the verified MinHash-LSH pairs — the same pair set
    the audit uses, so the guarantee is airtight by construction) are
    assigned as WHOLE units: every member inherits the split chosen by
    the md5-bucket of the component's min doc id.  Singletons hash
    exactly as in corpus_train_val_test_split would hash their own id,
    so the two splits agree everywhere dedup found nothing — only
    documents with a cross-split near-duplicate move.

    tests/test_corpus_quality.py pins the invariant: re-running the
    leakage audit against THESE splits returns zero rows.  Scale shape:
    the LSH + CC work is what a dedup pipeline already runs; the split
    itself is one map-side hash of the component label."""
    from .dedup import alternating_components, dedup_minhash_lsh_pairs

    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    stars, _ = alternating_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
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
    bucket = F.conv(
        F.substring(F.md5(F.col("component").cast("string")), 1, 2), 16, 10
    ).cast("long")
    return comp.select(
        "doc_id",
        "component",
        F.when(bucket < _SPLIT_TRAIN, F.lit("train"))
        .when(bucket < _SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Negative sampling: per-customer parts they never ordered
# ---------------------------------------------------------------------------

_NEG_K = 5       # negatives kept per customer
_NEG_DRAWS = 10  # deterministic candidate draws per customer


@register(
    "corpus_negative_samples",
    oracle=f"""
    WITH pos AS (
      SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    users AS (SELECT DISTINCT custkey FROM pos),
    draws AS (
      SELECT u.custkey, t.i AS draw_i,
             1 + ('0x' || substr(md5(CAST(u.custkey AS VARCHAR) || ':'
                                 || CAST(t.i AS VARCHAR)), 1, 8))::BIGINT
               % (SELECT count(*) FROM part) AS cand
      FROM users u, range({_NEG_DRAWS}) t(i)
    ),
    negs AS (
      SELECT d.custkey, d.cand, CAST(min(d.draw_i) AS BIGINT) AS draw_i
      FROM draws d
      ANTI JOIN pos p ON p.custkey = d.custkey AND p.partkey = d.cand
      GROUP BY d.custkey, d.cand
    ),
    ranked AS (
      SELECT custkey, cand AS neg_partkey, draw_i,
             CAST(row_number() OVER (PARTITION BY custkey
                                     ORDER BY draw_i, cand) AS BIGINT)
               AS rank
      FROM negs
    )
    SELECT custkey, neg_partkey, draw_i, rank
    FROM ranked WHERE rank <= {_NEG_K}
    """,
    tags=("SAMPLE", "ML"),
)
def corpus_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommendation-style
    training data: for every customer, {_NEG_K} parts they have NEVER
    ordered, drawn by hashing (custkey, draw index) into the part key
    space and anti-joining the positives — the (user, item~) pairs a
    two-tower / matrix-factorization trainer consumes alongside the
    positive interactions.

    Scale shape — this is the candidate-generation form that survives
    100 TB: the naive "all parts a user didn't order" is |users| x
    |parts| (a cartesian), while this generates exactly {_NEG_DRAWS}
    hash-derived candidates per user (O(|users|) rows), anti-joins the
    positive set once on (custkey, partkey), dedups, and keeps the
    first {_NEG_K} by draw order.  Sampling is a pure function of
    (custkey, i) — same md5-bucket determinism as
    corpus_train_val_test_split, so the sample is stable across runs,
    engines, and repartitions, and the DuckDB twin is hash-exact.  A
    production variant raises draws adaptively for power users whose
    positives swallow candidates; the fixed-draw form keeps the plan
    one anti-join + one window."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_custkey").alias("custkey"),
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("partkey")
    )
    pos = o.join(li, "l_orderkey").select("custkey", "partkey").distinct()
    n_parts = table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    users = pos.select("custkey").distinct()
    draws = (
        users.crossJoin(n_parts)
        .select(
            "custkey",
            F.explode(
                F.sequence(F.lit(0), F.lit(_NEG_DRAWS - 1))
            ).alias("draw_i"),
            "n_parts",
        )
        .select(
            "custkey",
            "draw_i",
            # 1 + (hash % n): p_partkey spans [1, n_parts], so the bare
            # modulus would emit the nonexistent partkey 0 as a
            # "negative sample" and could never draw the last part.
            (
                F.lit(1)
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("custkey").cast("string"),
                                F.col("draw_i").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n_parts")
            ).alias("cand"),
        )
    )
    negs = (
        draws.join(
            pos,
            (draws["custkey"] == pos["custkey"])
            & (draws["cand"] == pos["partkey"]),
            "left_anti",
        )
        .groupBy("custkey", "cand")
        .agg(F.min("draw_i").cast("long").alias("draw_i"))
    )
    w = Window.partitionBy("custkey").orderBy("draw_i", "cand")
    return (
        negs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _NEG_K)
        .select(
            "custkey",
            F.col("cand").alias("neg_partkey"),
            "draw_i",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Temporal holdout: time-based train/test split summary
# ---------------------------------------------------------------------------


@register(
    "corpus_temporal_holdout_summary",
    oracle="""
    WITH ep AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ep
      FROM events
    ),
    cut AS (
      SELECT min(ep) + (max(ep) - min(ep)) * 8 // 10 AS cutoff FROM ep
    ),
    per_user AS (
      SELECT user_id,
             CAST(count(*) FILTER (ep < (SELECT cutoff FROM cut))
                  AS BIGINT) AS n_before,
             CAST(count(*) FILTER (ep >= (SELECT cutoff FROM cut))
                  AS BIGINT) AS n_after
      FROM ep GROUP BY user_id
    )
    SELECT (SELECT CAST(cutoff AS BIGINT) FROM cut) AS cutoff_epoch,
           CAST(sum(n_before) AS BIGINT) AS n_train_events,
           CAST(sum(n_after) AS BIGINT) AS n_test_events,
           CAST(count(*) FILTER (n_before > 0) AS BIGINT) AS n_train_users,
           CAST(count(*) FILTER (n_after > 0) AS BIGINT) AS n_test_users,
           CAST(count(*) FILTER (n_before > 0 AND n_after > 0) AS BIGINT)
             AS n_shared_users
    FROM per_user
    """,
    tags=("SAMPLE", "SPLIT", "ML"),
)
def corpus_temporal_holdout_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temporal holdout split report: events before the 80%-of-timespan
    cutoff are train, at-or-after are test — the split an
    event-prediction model needs (hash splits leak the future into
    training; this is the time-correct alternative to
    corpus_train_val_test_split), summarized as event/user counts per
    side plus the shared-user count (users active on both sides are the
    only ones a sequential model can be evaluated on).

    The cutoff is exact integer epoch arithmetic (min + 8*(max-min)
    div 10), so membership is deterministic and the DuckDB twin is
    hash-exact.  Plan: one min/max aggregate for the cutoff (1-row
    broadcast), ONE per-user conditional aggregate, one 1-row rollup —
    at 100 TB that is a single user_id exchange, the same shape as the
    funnel family."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("ep")
    )
    cut = ev.agg(
        (
            F.min("ep")
            + F.expr("(max(ep) - min(ep)) * 8 div 10")
        ).alias("cutoff")
    )
    per_user = (
        ev.crossJoin(cut)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ep") < F.col("cutoff"), 1).otherwise(0)
            ).alias("n_before"),
            F.sum(
                F.when(F.col("ep") >= F.col("cutoff"), 1).otherwise(0)
            ).alias("n_after"),
            F.first("cutoff").alias("cutoff"),
        )
    )
    return per_user.agg(
        F.first("cutoff").cast("long").alias("cutoff_epoch"),
        F.sum("n_before").alias("n_train_events"),
        F.sum("n_after").alias("n_test_events"),
        F.sum(F.when(F.col("n_before") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_train_users"),
        F.sum(F.when(F.col("n_after") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_test_users"),
        F.sum(
            F.when((F.col("n_before") > 0) & (F.col("n_after") > 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_shared_users"),
    )


# ---------------------------------------------------------------------------
# Water-filling mixture allocator: fair token budget across sources
# ---------------------------------------------------------------------------

#: Token budget as a fraction of the corpus: budget = total * 19 div 20.
_WF_NUM, _WF_DEN = 19, 20


@register(
    "corpus_mixture_waterfill",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    b AS (
      SELECT CAST(sum(avail) * {_WF_NUM} // {_WF_DEN} AS BIGINT) AS budget,
             CAST(count(*) AS BIGINT) AS n
      FROM src
    ),
    ranked AS (
      SELECT source, avail,
             CAST(row_number() OVER w AS BIGINT) AS i,
             CAST(coalesce(sum(avail) OVER (
               ORDER BY avail, source ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS p_before
      FROM src WINDOW w AS (ORDER BY avail, source)
    ),
    flagged AS (
      SELECT r.*, b.budget, b.n,
             r.avail * (b.n - r.i + 1) + r.p_before <= b.budget AS sat
      FROM ranked r CROSS JOIN b
    ),
    kk AS (
      SELECT coalesce(max(CASE WHEN sat THEN i END), 0) AS k,
             coalesce(max(CASE WHEN sat THEN p_before + avail END), 0)
               AS p_k
      FROM flagged
    )
    SELECT f.source, f.avail AS available_tokens,
           CASE WHEN f.sat THEN f.avail
                ELSE (f.budget - kk.p_k) // (f.n - kk.k) END
             AS allocated_tokens,
           f.sat AS fully_satisfied
    FROM flagged f CROSS JOIN kk
    """,
    tags=("CORPUS", "ML"),
)
def corpus_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token allocation across sources: given a corpus
    budget ({_WF_NUM}/{_WF_DEN} of total tokens), small sources keep
    everything and the budget left over is split EVENLY among the
    large ones (the max-min-fair allocation) — the principled answer
    to "how much of each source goes into the mixture" when capping
    dominant sources is the goal (corpus_cap_per_source caps by doc
    count; this solves the global token version).

    Closed form instead of iteration: sort sources by availability;
    source i is fully satisfied iff avail_i * (n - i + 1) +
    prefix_before_i <= budget (it fits even if every later source got
    the same), the water level is (budget - P_k) div (n - k) over the
    k satisfied sources' complement.  All integer arithmetic — the cap
    under-allocates at most n-1 remainder tokens (documented).

    Scale shape: the per-source frame IS the aggregate (one doc-keyed
    pass), so every window here runs on a #sources-sized frame —
    single-partition by design, like the Heaps decile frame; the
    budget is a 1-row broadcast."""
    from ..functions.textfns import tokens as _tok
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(_tok(F.col("text")))).cast("long").alias("avail")
    )
    b = src.agg(
        F.expr(f"CAST(sum(avail) * {_WF_NUM} div {_WF_DEN} AS BIGINT)").alias(
            "budget"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("avail", "source")
    ranked = src.select(
        "source",
        "avail",
        F.row_number().over(w).cast("long").alias("i"),
        F.coalesce(
            F.sum("avail").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("p_before"),
    )
    flagged = ranked.crossJoin(b).withColumn(
        "sat",
        F.col("avail") * (F.col("n") - F.col("i") + 1) + F.col("p_before")
        <= F.col("budget"),
    )
    kk = flagged.agg(
        F.coalesce(
            F.max(F.when(F.col("sat"), F.col("i"))), F.lit(0)
        ).alias("k"),
        F.coalesce(
            F.max(F.when(F.col("sat"), F.col("p_before") + F.col("avail"))),
            F.lit(0),
        ).alias("p_k"),
    )
    return flagged.crossJoin(kk).select(
        "source",
        F.col("avail").alias("available_tokens"),
        F.when(F.col("sat"), F.col("avail"))
        .otherwise(
            F.expr("CAST((budget - p_k) div (n - k) AS BIGINT)")
        )
        .alias("allocated_tokens"),
        F.col("sat").alias("fully_satisfied"),
    )


# ---------------------------------------------------------------------------
# DoReMi-shaped iterative mixture reweighting (integer fixed point)
# ---------------------------------------------------------------------------

_DOREMI_ROUNDS = 3
_DOREMI_SCALE = 1_000_000  # weights sum to ~1e6 after each renorm
_DOREMI_DAMP = 16          # excess DIV damp -> per-round multiplier


def _doremi_oracle() -> str:
    rounds = []
    prev = "w0"
    for r in range(1, _DOREMI_ROUNDS + 1):
        rounds.append(
            f"""ref{r} AS (
      SELECT sum(w.weight * d.mean_milli) // sum(w.weight) AS ref
      FROM {prev} w JOIN doms d ON d.source = w.source
    ),
    up{r} AS (
      SELECT w.source,
             w.weight * ({_DOREMI_SCALE}
               + greatest(least((SELECT ref FROM ref{r}) - d.mean_milli,
                                {_DOREMI_SCALE} // 4),
                          -({_DOREMI_SCALE} // 4)) // {_DOREMI_DAMP})
               // {_DOREMI_SCALE} AS raw
      FROM {prev} w JOIN doms d ON d.source = w.source
    ),
    w{r} AS (
      SELECT source,
             raw * {_DOREMI_SCALE} // (SELECT sum(raw) FROM up{r})
               AS weight
      FROM up{r}
    )"""
        )
        prev = f"w{r}"
    joined = ",\n    ".join(rounds)
    return f"""
    WITH doms AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             (sum(n_chars) * 1000) // count(*) AS mean_milli
      FROM documents GROUP BY source
    ),
    w0 AS (
      SELECT source,
             CAST({_DOREMI_SCALE} // (SELECT count(*) FROM doms)
                  AS BIGINT) AS weight
      FROM doms
    ),
    {joined}
    SELECT d.source, d.n_docs,
           CAST(d.mean_milli AS BIGINT) AS mean_chars_milli,
           CAST(w.weight AS BIGINT) AS weight_ppm
    FROM doms d JOIN {prev} w ON w.source = d.source
    """


@register(
    "corpus_doremi_mixture",
    oracle=_doremi_oracle(),
    tags=("SAMPLE", "ML", "ITER"),
)
def corpus_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-shaped iterative domain reweighting (Xie et al., "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    start uniform over sources, then for {_DOREMI_ROUNDS} rounds move
    weight multiplicatively toward domains whose difficulty proxy
    exceeds the CURRENT-WEIGHTED corpus reference, renormalizing each
    round.  The reference shifts as the weights shift, so the rounds
    genuinely interact — this is a fixed-point iteration, not a
    closed-form reweighting.  (Difficulty proxy here: mean document
    length in milli-chars, standing in for the proxy-model excess
    loss the paper trains; the ALGORITHM — weighted reference,
    clamped multiplicative update, renorm — is the part that must be
    exact and scale.)

    All integer: means in milli-chars, weights in ppm, excess clamped
    to ±SCALE/4 then damped by DIV {_DOREMI_DAMP}; Spark `DIV` and
    DuckDB `//` truncate identically on negatives, so the unrolled
    CTE twin is hash-exact.  Scale shape: ONE data-sized pass (the
    per-source rollup); every round then runs on the |sources|-row
    summary — broadcast-sized by construction, the same
    aggregate-then-iterate discipline as the water-filling mixture."""
    d = table(spark, sf_dir, "documents")
    doms = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("(sum(n_chars) * 1000) DIV count(*)").alias("mean_milli"),
    ).localCheckpoint(eager=True)
    # The fixed-point rounds run DRIVER-SIDE on the |sources|-row
    # summary (bounded: one (source, mean) pair per domain — the same
    # "bounded k-row collect" exemption as the k-means centroid loop):
    # as lazily-chained crossJoin/agg rounds, each round cost 2 scalar
    # broadcasts + Catalyst planning over an exponentially duplicated
    # tiny tree — ~20 jobs to rescale 5 rows (r8 opt round; measured
    # 1.9 -> ~0.6 s at sf0.1).  `tdiv` reproduces SQL DIV (truncation
    # toward zero — Python's // floors, which differs on negatives) so
    # every weight is bit-identical to the unrolled-CTE oracle.
    rows = doms.select("source", "mean_milli").collect()
    means = {r["source"]: int(r["mean_milli"]) for r in rows}

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    clamp_hi = _DOREMI_SCALE // 4
    # empty corpus -> empty weight table -> empty join, as before
    wts = {s: tdiv(_DOREMI_SCALE, len(rows)) for s in means} if rows else {}
    for _ in range(_DOREMI_ROUNDS if rows else 0):
        # Degenerate-input guard (ADVICE r8): if every weight truncated
        # to zero (only possible when n_sources > _DOREMI_SCALE), stop
        # iterating instead of raising ZeroDivisionError at
        # query-construction time — unreachable at any tested SF (the
        # fixtures have single-digit sources), so reachable rounds are
        # bit-identical to the unrolled-CTE oracle.
        if sum(wts.values()) == 0:
            break
        ref = tdiv(
            sum(wts[s] * means[s] for s in means),
            sum(wts[s] for s in means),
        )
        raw = {
            s: tdiv(
                wts[s]
                * (
                    _DOREMI_SCALE
                    + tdiv(
                        max(min(ref - means[s], clamp_hi), -clamp_hi),
                        _DOREMI_DAMP,
                    )
                ),
                _DOREMI_SCALE,
            )
            for s in means
        }
        tot = sum(raw.values())
        if tot == 0:  # same degenerate-input guard as above
            break
        wts = {s: tdiv(raw[s] * _DOREMI_SCALE, tot) for s in means}
    w = local_df(
        spark, [(s, wts[s]) for s in sorted(wts)], "source string, weight long"
    )
    return (
        doms.join(w, "source")
        .select(
            "source",
            "n_docs",
            F.col("mean_milli").cast("long").alias("mean_chars_milli"),
            F.col("weight").cast("long").alias("weight_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Padding-waste report: arrival-order vs length-sorted batching
# ---------------------------------------------------------------------------

_PAD_B = 32


@register(
    "pack_padding_waste_report",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_toks
      FROM documents
    ),
    naive AS (
      SELECT n_toks,
             (row_number() OVER (ORDER BY doc_id) - 1) // {_PAD_B} AS b
      FROM lens
    ),
    srt AS (
      SELECT n_toks,
             (row_number() OVER (ORDER BY n_toks, doc_id) - 1) // {_PAD_B}
               AS b
      FROM lens
    ),
    nw AS (
      SELECT CAST(sum(cnt * mx - s) AS BIGINT) AS waste
      FROM (SELECT b, count(*) AS cnt, max(n_toks) AS mx,
                   sum(n_toks) AS s FROM naive GROUP BY b)
    ),
    sw AS (
      SELECT CAST(sum(cnt * mx - s) AS BIGINT) AS waste
      FROM (SELECT b, count(*) AS cnt, max(n_toks) AS mx,
                   sum(n_toks) AS s FROM srt GROUP BY b)
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS total_tokens
      FROM lens
    )
    SELECT t.n_docs, t.total_tokens,
           nw.waste AS naive_pad_tokens,
           sw.waste AS sorted_pad_tokens,
           round(CAST(nw.waste AS DOUBLE) / (t.total_tokens + nw.waste), 6)
             AS naive_pad_frac,
           round(CAST(sw.waste AS DOUBLE) / (t.total_tokens + sw.waste), 6)
             AS sorted_pad_frac
    FROM tot t, nw, sw
    """,
    tags=("PACK", "EVAL"),
)
def pack_padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many pad tokens does batch shape cost?  Fixed-size batches
    of {_PAD_B} docs pad every member to the batch max length; this
    report prices that waste under ARRIVAL order (doc_id) vs
    LENGTH-SORTED order — the measured justification for bucketed
    batching in a training loader (length-sorting routinely cuts pad
    fraction several-fold; the residual is the within-batch length
    spread that only packing, pack_token_sequences, removes).

    Per-batch waste is count*max - sum over exact BIGINT token
    counts; batch assignment is (rank-1) DIV {_PAD_B} with doc_id
    tiebreaks, so both engines bucket identically.  The global
    row_number is presentation-scale here; at 100 TB the sort becomes
    a range-partitioned sort (the engine's default for orderBy) and
    the report is unchanged."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    lens = d.select(
        "doc_id", F.size("toks").cast("long").alias("n_toks")
    )

    def waste(ordered_rank) -> DataFrame:
        b = ((ordered_rank - 1) / _PAD_B).cast("long").alias("b")
        return (
            lens.select("n_toks", b)
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.max("n_toks").alias("mx"),
                F.sum("n_toks").alias("s"),
            )
            .agg(
                F.sum(F.col("cnt") * F.col("mx") - F.col("s"))
                .cast("long")
                .alias("waste")
            )
        )

    nw = waste(F.row_number().over(Window.orderBy("doc_id")))
    sw = waste(F.row_number().over(Window.orderBy("n_toks", "doc_id")))
    tot = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
    )
    nw = nw.select(F.col("waste").alias("naive_pad_tokens"))
    sw = sw.select(F.col("waste").alias("sorted_pad_tokens"))
    return (
        tot.crossJoin(nw)
        .crossJoin(sw)
        .select(
            "n_docs",
            "total_tokens",
            "naive_pad_tokens",
            "sorted_pad_tokens",
            F.round(
                F.col("naive_pad_tokens").cast("double")
                / (F.col("total_tokens") + F.col("naive_pad_tokens")),
                6,
            ).alias("naive_pad_frac"),
            F.round(
                F.col("sorted_pad_tokens").cast("double")
                / (F.col("total_tokens") + F.col("sorted_pad_tokens")),
                6,
            ).alias("sorted_pad_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic per-epoch shuffle plan (training-loader ordering)
# ---------------------------------------------------------------------------

_SHUF_EPOCHS = 3
_SHUF_SHARDS = 8


@register(
    "corpus_epoch_shuffle_plan",
    oracle=f"""
    WITH ep AS (SELECT unnest(generate_series(0, {_SHUF_EPOCHS - 1})) AS epoch),
    keyed AS (
      SELECT e.epoch, d.doc_id,
             (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                                  CAST(e.epoch AS VARCHAR)), 1, 15))::BIGINT)
               AS h
      FROM documents d, ep e
    )
    SELECT epoch, doc_id,
           CAST(h % {_SHUF_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY epoch, h % {_SHUF_SHARDS}
                                   ORDER BY h, doc_id) AS BIGINT)
             AS pos_in_shard
    FROM keyed
    """,
    tags=("CORPUS", "MIX"),
)
def corpus_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch training shuffle WITHOUT RNG state: epoch e's order
    for a doc is hash60(doc_id:e) — every worker can compute any
    doc's shard and position independently, resuming mid-epoch needs
    no shuffle file, and each epoch is a fresh permutation (the
    hash-in-place-of-RNG discipline shared with the walk corpus and
    the negative sampler).  Output is the loader's plan: (epoch, doc,
    shard, position), shard = h % {_SHUF_SHARDS}, position = rank of
    h within the shard.

    The {_SHUF_EPOCHS}-row epoch dim broadcasts; position ranking
    exchanges on (epoch, shard) — {_SHUF_EPOCHS}x{_SHUF_SHARDS}
    balanced partitions (hash-uniform by construction, measured by
    profile_join_key_skew's methodology), never a global sort."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    ep = spark.range(_SHUF_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("epoch").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    keyed = d.crossJoin(ep).select(
        "epoch", "doc_id", h.alias("h")
    )
    shard = F.pmod(F.col("h"), F.lit(_SHUF_SHARDS)).cast("long")
    w = Window.partitionBy("epoch", shard).orderBy("h", "doc_id")
    return keyed.select(
        "epoch",
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled multilingual sampling mixture
# ---------------------------------------------------------------------------

#: Sampling temperature: weights proportional to corpus_size^TAU.
#: tau=1 reproduces natural frequency; tau->0 approaches uniform.
_MIX_TAU = 0.7


@register(
    "corpus_temperature_mixture",
    oracle=f"""
    WITH sz AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(n_chars) AS BIGINT) AS total,
             sum(pow(n_chars, {_MIX_TAU!r})) AS z
      FROM sz
    )
    SELECT s.lang, s.n_docs, s.n_chars,
           round(s.n_chars / CAST(t.total AS DOUBLE), 6) AS natural_share,
           round(pow(s.n_chars, {_MIX_TAU!r}) / t.z, 6) AS sample_weight,
           round(pow(s.n_chars, {_MIX_TAU!r}) / t.z
                 * t.total / s.n_chars, 4) AS effective_epochs
    FROM sz s CROSS JOIN tot t
    """,
    tags=("CORPUS", "SAMPLE"),
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (the multilingual-LM
    standard from mBERT/XLM-R onward): sampling weight proportional to
    corpus_size^tau with tau={_MIX_TAU}, which upsamples small
    languages and damps the head without ever inverting the order.
    Reports, per language: natural share, temperature weight, and the
    effective epoch count (weight * total / size — how many times the
    language's data is seen per pass of the mixed corpus; >1 means
    repetition, flagging overfit risk on tiny languages).

    Scale shape: one map-side-combined rollup onto the |langs| domain
    plus a 1-row broadcast total — no fact-sized exchange; pow runs on
    the summary frame.  Round-6 absorbs libm pow ULP variation across
    engines."""
    d = table(spark, sf_dir, "documents")
    sz = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    tot = sz.agg(
        F.sum("n_chars").alias("total"),
        F.sum(F.pow("n_chars", F.lit(_MIX_TAU))).alias("z"),
    )
    w = F.pow("n_chars", F.lit(_MIX_TAU)) / F.col("z")
    return sz.crossJoin(tot).select(
        "lang",
        "n_docs",
        "n_chars",
        F.round(
            F.col("n_chars") / F.col("total").cast("double"), 6
        ).alias("natural_share"),
        F.round(w, 6).alias("sample_weight"),
        F.round(
            w * F.col("total") / F.col("n_chars"), 4
        ).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# Split/label independence screen (chi-square per split)
# ---------------------------------------------------------------------------


@register(
    "quality_label_balance_by_split",
    oracle=f"""
    WITH b AS (
      SELECT label,
             CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                  WHEN bucket < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT label,
                   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 2))
                     ::BIGINT AS bucket
            FROM embeddings)
    ),
    obs AS (
      SELECT split, label, CAST(count(*) AS BIGINT) AS o
      FROM b GROUP BY 1, 2
    ),
    margins AS (
      SELECT split, CAST(sum(o) AS BIGINT) AS n_split FROM obs GROUP BY 1
    ),
    labels AS (
      SELECT label, CAST(sum(o) AS BIGINT) AS n_label FROM obs GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    grid AS (
      SELECT m.split, m.n_split, l.label,
             CAST(m.n_split * l.n_label AS DOUBLE) / t.n AS e,
             coalesce(o.o, 0) AS o
      FROM margins m CROSS JOIN labels l CROSS JOIN tot t
      LEFT JOIN obs o ON o.split = m.split AND o.label = l.label
    )
    SELECT split, n_split AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_labels,
           round(sum((o - e) * (o - e) / e), 4) AS chi2
    FROM grid GROUP BY 1, 2
    """,
    tags=("DQ", "SPLIT"),
)
def quality_label_balance_by_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Are the train/val/test splits label-balanced?  Applies the same
    md5-bucket split as corpus_train_val_test_split to the embeddings
    table's labels and reports, per split, the chi-square statistic
    against the corpus-wide label marginals (expected = split_size *
    label_share).  A healthy hash split should sit near the chi2
    distribution's bulk; a large value means the split is confounded
    with the label — the eval set isn't measuring what you think.

    The contingency grid is densified (margins x labels, missing cells
    o=0) so absent combinations still contribute their full expected
    mass instead of silently shrinking the statistic.

    Scale shape: one map-side-combined rollup onto the (split, label)
    domain; every later frame is domain-sized (3 x |labels|) — the
    screen costs one fact scan regardless of corpus size."""
    e = table(spark, sf_dir, "embeddings")
    bucket = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    split = (
        F.when(bucket < _SPLIT_TRAIN, F.lit("train"))
        .when(bucket < _SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    obs = (
        e.select(split.alias("split"), "label")
        .groupBy("split", "label")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    margins = obs.groupBy("split").agg(F.sum("o").alias("n_split"))
    labels = obs.groupBy("label").agg(F.sum("o").alias("n_label"))
    tot = obs.agg(F.sum("o").alias("n"))
    grid = (
        margins.crossJoin(labels)
        .crossJoin(tot)
        .join(obs, ["split", "label"], "left")
        .select(
            "split",
            "n_split",
            "label",
            (
                (F.col("n_split") * F.col("n_label")).cast("double")
                / F.col("n")
            ).alias("e"),
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    chi = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return grid.groupBy(
        "split", F.col("n_split").alias("n_vecs")
    ).agg(
        F.count(F.lit(1)).alias("n_labels"),
        F.round(F.sum(chi), 4).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Packed-bin attention efficiency (block-diagonal mask utilization)
# ---------------------------------------------------------------------------


@register(
    "pack_attention_mask_stats",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, len({_DUCK_TOKENS}) AS n_tokens FROM documents
    ),
    cum AS (
      SELECT lang, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS b
      FROM sized
    ),
    seg AS (
      SELECT c.lang, k.k AS bin_id,
             least((k.k + 1) * {_BIN_BUDGET}, c.b + c.n_tokens)
               - greatest(k.k * {_BIN_BUDGET}, c.b) AS seg_len
      FROM cum c, LATERAL (
        SELECT unnest(range(c.b // {_BIN_BUDGET},
                            (c.b + c.n_tokens - 1) // {_BIN_BUDGET} + 1))
          AS k
      ) k
      WHERE c.n_tokens > 0
    ),
    bins AS (
      SELECT lang, bin_id,
             CAST(count(*) AS BIGINT) AS n_segs,
             CAST(sum(seg_len) AS BIGINT) AS fill,
             CAST(sum(seg_len * (seg_len + 1) // 2) AS BIGINT) AS useful
      FROM seg GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_segs) AS BIGINT) AS n_segments,
           round(sum(fill) / (count(*) * {_BIN_BUDGET} * 1.0), 4)
             AS fill_ratio,
           round(sum(useful)
                 / CAST(sum(fill * (fill + 1) // 2) AS DOUBLE), 6)
             AS attention_utilization
    FROM bins GROUP BY lang
    """,
    tags=("TXT", "packing"),
)
def pack_attention_mask_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block-diagonal attention efficiency of the packed training
    bins: when documents are concatenated into fixed {budget}-token
    samples and attention is masked to document boundaries (the
    FlashAttention varlen / "packing with proper masking" setup), the
    fraction of causal attention pairs that survive the mask is
    sum(l_i*(l_i+1)/2) / (L*(L+1)/2) per bin — this reports it per
    language next to raw fill.  Low utilization means many tiny
    documents per bin (compute wasted re-deriving the mask's zeros is
    gone, but so is context); it is THE metric for choosing sequence
    length vs corpus length distribution.

    Shares pack_greedy_bins' packing spec exactly (same running-sum
    placement, documents straddle boundaries and are SPLIT into
    per-bin segments here, the downstream chunker's view).  Every
    quantity is integer until the two final ratios — cross-engine
    exact.

    Scale shape: the running-sum window is the packing op's inherent
    sequential-per-stream shape (parallel unit = lang, finer shard key
    at scale per pack_greedy_bins); the segment explode adds at most
    ceil(n/B)+1 rows per doc; everything then collapses onto the
    (lang, bin) domain map-side."""
    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(textfns.tokens("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = sized.select(
        "lang",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("b"),
    ).filter(F.col("n_tokens") > 0)
    k = F.explode(
        F.sequence(
            (F.col("b") / _BIN_BUDGET).cast("long"),
            ((F.col("b") + F.col("n_tokens") - 1) / _BIN_BUDGET).cast(
                "long"
            ),
        )
    ).alias("bin_id")
    seg_len = F.least(
        (F.col("bin_id") + 1) * _BIN_BUDGET,
        F.col("b") + F.col("n_tokens"),
    ) - F.greatest(F.col("bin_id") * _BIN_BUDGET, F.col("b"))
    seg = cum.select("lang", k, "b", "n_tokens").select(
        "lang", "bin_id", seg_len.alias("seg_len")
    )
    bins = seg.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum("seg_len").alias("fill"),
        F.sum(
            (F.col("seg_len") * (F.col("seg_len") + 1) / 2).cast("long")
        ).alias("useful"),
    )
    tot_pairs = (F.col("fill") * (F.col("fill") + 1) / 2).cast("long")
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_segs").alias("n_segments"),
        F.round(
            F.sum("fill")
            / (F.count(F.lit(1)) * _BIN_BUDGET).cast("double"),
            4,
        ).alias("fill_ratio"),
        F.round(
            F.sum("useful") / F.sum(tot_pairs).cast("double"), 6
        ).alias("attention_utilization"),
    )


# ---------------------------------------------------------------------------
# Truncation budget: per-language length caps and what they would cost
# ---------------------------------------------------------------------------


@register(
    "corpus_truncation_budget",
    oracle=f"""
    WITH sized AS (
      SELECT lang, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    caps AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             round(quantile_cont(n_tokens, 0.95), 6) AS cap_p95,
             round(quantile_cont(n_tokens, 0.99), 6) AS cap_p99
      FROM sized GROUP BY lang
    )
    SELECT c.lang, c.n_docs, c.total_tokens, c.cap_p95, c.cap_p99,
           CAST(sum(CASE WHEN s.n_tokens > c.cap_p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_over_p95,
           round(sum(greatest(s.n_tokens - c.cap_p95, 0)), 6)
             AS tokens_lost_at_p95
    FROM caps c JOIN sized s USING (lang)
    GROUP BY c.lang, c.n_docs, c.total_tokens, c.cap_p95, c.cap_p99
    """,
    tags=("sampling", "curation"),
)
def corpus_truncation_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length truncation budget per language: the p95/p99
    token-count caps and — for the p95 cap — how many documents exceed
    it and how many tokens truncating there would discard.  The table a
    context-length decision is made from: a cap that loses 0.1% of
    tokens is free, one that loses 5% calls for hierarchical chunking
    (text_chunk_sliding_window) instead of truncation.

    Two passes over the per-doc size frame (percentiles need the
    distribution BEFORE the overage sums can be taken against it):
    both group by lang, the second joins the |langs|-row caps frame
    back as a broadcast.  percentile_cont semantics match the engine's
    other percentile queries; overage arithmetic happens on exact
    BIGINT token counts against the one interpolated double."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    sized = d.select(
        "lang", F.size("toks").cast("long").alias("n_tokens")
    )
    caps = sized.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.95)"), 6).alias("cap_p95"),
        F.round(F.expr("percentile(n_tokens, 0.99)"), 6).alias("cap_p99"),
    )
    return (
        sized.join(F.broadcast(caps), "lang")
        .groupBy("lang", "n_docs", "total_tokens", "cap_p95", "cap_p99")
        .agg(
            F.sum(F.when(F.col("n_tokens") > F.col("cap_p95"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_over_p95"),
            F.round(
                F.sum(F.greatest(F.col("n_tokens") - F.col("cap_p95"),
                                 F.lit(0.0))),
                6,
            ).alias("tokens_lost_at_p95"),
        )
    )


# ---------------------------------------------------------------------------
# Budgeted proportional allocation (largest remainder) + the drawn sample
# ---------------------------------------------------------------------------

_ALLOC_BUDGET = 100


@register(
    "sample_budget_allocation",
    oracle=f"""
    WITH strata AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(count(*)) OVER () AS BIGINT) AS n
      FROM documents GROUP BY lang
    ),
    quota AS (
      SELECT lang, n_h, n,
             CAST({_ALLOC_BUDGET} * n_h // n AS BIGINT) AS floor_alloc,
             CAST(({_ALLOC_BUDGET} * n_h) % n AS BIGINT) AS rem
      FROM strata
    ),
    ranked AS (
      SELECT lang, n_h, floor_alloc, rem,
             CAST(row_number() OVER (ORDER BY rem DESC, lang)
                  AS BIGINT) AS rr,
             CAST({_ALLOC_BUDGET}
                  - sum(floor_alloc) OVER () AS BIGINT) AS leftover
      FROM quota
    )
    SELECT lang, n_h,
           floor_alloc + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
             AS allocation
    FROM ranked
    """,
    tags=("sampling", "curation"),
)
def sample_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted proportional stratified allocation: split a fixed
    labeling/eval budget of {_ALLOC_BUDGET} documents across languages
    proportional to stratum size, integerized by the largest-remainder
    (Hamilton) method — allocations sum EXACTLY to the budget, every
    stratum gets its floor, and the leftover units go to the largest
    fractional remainders (ties to the lexicographically first
    language, encoded in the ranking in both engines).  The companion
    of sample_stratified_per_lang (which takes a FIXED count per
    stratum): this one answers "I can afford N annotations — how many
    from each language?".

    Entirely integer arithmetic: floor quota = B*n_h div N, remainder
    = (B*n_h) mod N — no float ever enters the allocation, so the
    rounding boundary can never flip between engines.  One
    |strata|-row aggregate and two windows on that frame."""
    d = table(spark, sf_dir, "documents")
    strata = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_h"))
    strata = strata.select(
        "lang", "n_h", F.sum("n_h").over(Window.partitionBy()).alias("n")
    )
    quota = strata.select(
        "lang",
        "n_h",
        "n",
        F.expr(f"({_ALLOC_BUDGET} * n_h) div n").alias("floor_alloc"),
        ((_ALLOC_BUDGET * F.col("n_h")) % F.col("n")).alias("rem"),
    )
    wr = Window.orderBy(F.desc("rem"), F.asc("lang"))
    ranked = quota.select(
        "lang",
        "n_h",
        "floor_alloc",
        F.row_number().over(wr).cast("long").alias("rr"),
        (
            F.lit(_ALLOC_BUDGET)
            - F.sum("floor_alloc").over(Window.partitionBy())
        ).cast("long").alias("leftover"),
    )
    return ranked.select(
        "lang",
        "n_h",
        (
            F.col("floor_alloc")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("allocation"),
    )


# ---------------------------------------------------------------------------
# Balanced class downsampling (hash-deterministic, no RNG)
# ---------------------------------------------------------------------------


@register(
    "sample_balanced_label_downsample",
    oracle="""
    WITH sized AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_before
      FROM embeddings GROUP BY label
    ),
    floor_n AS (SELECT CAST(min(n_before) AS BIGINT) AS m FROM sized),
    ranked AS (
      SELECT label, vec_id,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM embeddings
    ),
    kept AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(vec_id) AS BIGINT) AS kept_id_sum
      FROM ranked, floor_n WHERE rn <= m GROUP BY label
    )
    SELECT s.label, s.n_before, k.n_kept, k.kept_id_sum,
           f.m AS target_per_class
    FROM sized s JOIN kept k USING (label) CROSS JOIN floor_n f
    """,
    tags=("CORPUS", "SAMPLE"),
)
def sample_balanced_label_downsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Balanced class downsampling: every label keeps exactly
    min-class-size rows, chosen by content-independent md5 hash order
    (with id tie-break) — the RNG-free majority-class downsample that
    precedes any classifier fine-tune on skewed labels, deterministic
    across engines, runs, and partitionings (same hash-order
    discipline as corpus_train_val_test_split's bucket assignment).
    Reported per label: before/after counts, the kept-id checksum
    (pins the exact selected SET, not just its size), and the target.

    Scale shape: one count rollup, a 1-row broadcast of the floor,
    and one rank window per label partition — the rank runs on the
    label exchange, the same shuffle the per-class cap needs anyway.
    A skewed majority label ranks in parallel across its partition's
    sort spill; nothing driver-side."""
    e = table(spark, sf_dir, "embeddings")
    sized = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_before"))
    floor_n = sized.agg(F.min("n_before").cast("long").alias("m"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = e.select(
        "label", "vec_id", F.row_number().over(w).alias("rn")
    )
    kept = (
        ranked.crossJoin(floor_n)
        .filter(F.col("rn") <= F.col("m"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("vec_id").cast("long").alias("kept_id_sum"),
        )
    )
    return (
        sized.join(kept, "label")
        .crossJoin(floor_n)
        .select(
            "label",
            "n_before",
            "n_kept",
            "kept_id_sum",
            F.col("m").alias("target_per_class"),
        )
    )


# ---------------------------------------------------------------------------
# Span-corruption plan: deterministic T5-style mask spans
# ---------------------------------------------------------------------------

_SC_BLOCK = 20   # tokens per block -> one span per block
_SC_MAX_OFF = 17  # span start offset in [0, 16]; 16 + max len 4 = block


@register(
    "corpus_span_corruption_plan",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t,
             len({_DUCK_TOKENS}) AS n
      FROM documents
    ),
    blocks AS (
      SELECT doc_id, t, b.b AS block
      FROM toks,
      unnest(range(0, CAST(floor(CAST(n AS DOUBLE) / {_SC_BLOCK})
                           AS BIGINT))) AS b(b)
      WHERE n >= {_SC_BLOCK}
    ),
    spans AS (
      SELECT doc_id, block,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                 || CAST(block AS VARCHAR)), 1, 6))::BIGINT
               % {_SC_MAX_OFF} AS start_off,
             2 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                     || CAST(block AS VARCHAR)), 7, 6))::BIGINT
               % 3 AS span_len,
             t
      FROM blocks
    )
    SELECT doc_id, block,
           CAST({_SC_BLOCK} * block + start_off + 1 AS BIGINT) AS span_start,
           CAST(span_len AS BIGINT) AS span_len,
           array_to_string(
             list_slice(t, {_SC_BLOCK} * block + start_off + 1,
                        {_SC_BLOCK} * block + start_off + span_len), ' ')
             AS span_text
    FROM spans
    """,
    tags=("CORPUS",),
)
def corpus_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLAN: one mask span per complete
    20-token block — hash-chosen offset (0-16) and length (2-4, mean
    3), giving the canonical ~15% corruption rate (3/20) with spans
    that never overlap or cross blocks BY CONSTRUCTION, so the plan
    needs no sequential merge pass.  Rows are (doc, block, span_start,
    span_len, span_text); emitting the masked text makes the plan an
    auditable artifact (and lets the oracle check token content, not
    just offsets).  Pretraining-data prep consumes this as the mask
    table for denoising objectives; RNG-free hashing means the same
    corpus always corrupts identically — reproducible across runs,
    engines, and partitionings.

    Scale shape: tokenize + block-explode is map-only (one row per
    block, 1/20th of token count); the span arithmetic is per-row
    integer hashing — no shuffle anywhere, embarrassingly parallel at
    any corpus size."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", textfns.tokens(F.col("text")).alias("t")
    )
    blocks = (
        d.withColumn("n", F.size("t"))
        .filter(F.col("n") >= _SC_BLOCK)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor(F.col("n") / _SC_BLOCK).cast("long") - 1,
                )
            ).alias("block"),
        )
    )
    h = F.md5(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("block").cast("string")
        )
    )
    start_off = F.pmod(
        F.conv(F.substring(h, 1, 6), 16, 10).cast("long"), _SC_MAX_OFF
    )
    span_len = 2 + F.pmod(
        F.conv(F.substring(h, 7, 6), 16, 10).cast("long"), 3
    )
    span_start = (_SC_BLOCK * F.col("block") + start_off + 1).cast("long")
    return blocks.select(
        "doc_id",
        "block",
        span_start.alias("span_start"),
        span_len.cast("long").alias("span_len"),
        F.array_join(
            F.slice(F.col("t"), span_start.cast("int"), span_len.cast("int")),
            " ",
        ).alias("span_text"),
    )
