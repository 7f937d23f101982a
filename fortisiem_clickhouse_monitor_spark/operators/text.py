"""Text analysis over the `documents` table (north-star extension:
language-ID heuristic, quality scoring, token counting, document
fingerprinting). All tokenization/shingling is built-in higher-order
functions over arrays — JVM-side, columnar, no UDFs — so at 100 TB these
are embarrassingly parallel map-only stages (no shuffle at all except
where a group-by is the point of the query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfns
from ..registry import register, register_probe
from ..sources.tables import bind, fanout, spread, table

# DuckDB twin of textfns.tokens()
_DUCK_TOKENS = (
    # list_filter guard: DuckDB yields [''] for an empty/whitespace
    # document where Spark textfns.tokens yields [] — filter the
    # empty token so both engines agree on empty docs.
    "list_filter(string_split_regex(trim(text), '\\s+'),"
    " _x -> _x <> '')"
)


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_DUCK_TOKENS}) AS n_tokens,
           len(list_distinct({_DUCK_TOKENS})) AS n_distinct,
           floor(CAST(list_aggregate(list_transform({_DUCK_TOKENS},
                                                    t -> length(t)), 'sum')
                      AS DOUBLE)
                 * 100.0 / len({_DUCK_TOKENS})) / 100.0 AS avg_token_len
    FROM documents
    """,
    tags=("TXT",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: total, distinct, and mean token length (derived
    from char count minus separators — formula mirrored in the oracle)."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    toks = F.col("toks")
    n = F.size(toks)
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        # floor-to-2dp, not round: .x75-style half-boundaries are common
        # for int-sum / int-count ratios, and HALF_UP vs binary-round
        # diverges across engines exactly there.
        (
            F.floor(
                F.aggregate(
                    F.transform(toks, lambda t: F.length(t)),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ).cast("double")
                * 100.0
                / n
            )
            / 100.0
        ).alias("avg_token_len"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(CAST(len(list_filter({_DUCK_TOKENS},
                 t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                 / len({_DUCK_TOKENS}), 4) AS stop_ratio,
           round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / length(text), 4) AS digit_ratio,
           round(least(CAST(len({_DUCK_TOKENS}) AS DOUBLE) / 100.0, 1.0), 4)
             AS length_score
    FROM documents
    """,
    tags=("TXT",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: stopword ratio, digit ratio, length score
    (the components a pretraining-data filter thresholds on)."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    toks = F.col("toks")
    n = F.size(toks)
    stop_hits = textfns.stopword_hits(toks, textfns.STOPWORDS["en"])
    return d.select(
        "doc_id",
        F.round(stop_hits.cast("double") / n, 4).alias("stop_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
            / F.length("text"),
            4,
        ).alias("digit_ratio"),
        F.round(F.least(n.cast("double") / 100.0, F.lit(1.0)), 4).alias(
            "length_score"
        ),
    )


@register(
    "text_repetition_ratio",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.w AS w
      FROM documents,
           unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                              _x -> _x <> '')) AS t(w)
    ), counts AS (
      SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w
    )
    SELECT doc_id,
           round(max(c) * 1.0 / sum(c), 6) AS top_word_ratio,
           round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_token_ratio
    FROM counts GROUP BY doc_id
    """,
    tags=("TXT",),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rules family): fraction of
    tokens taken by the single most frequent token, and the duplicate-token
    fraction (1 - distinct/total).  Shaped as explode -> two-level
    aggregation rather than per-row array gymnastics: the (doc_id, token)
    partial count combines map-side, both group-bys share the doc_id
    shuffle key, and nothing holds a whole document's vocabulary in one
    row — so a 100 GB partition of documents streams through unchanged."""
    d = table(spark, sf_dir, "documents")
    # One shuffle, not two: partition whole documents by doc_id BEFORE the
    # explode — HashPartitioning(doc_id) satisfies the clustering need of
    # both downstream group-bys ((doc_id, w) and (doc_id)), and shuffling
    # compact documents once is cheaper than shuffling the exploded token
    # stream twice.
    counts = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(textfns.tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_word_ratio"),
        F.round(1.0 - F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
            "dup_token_ratio"
        ),
    )


def _duck_hits(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_DUCK_TOKENS}, t -> t IN ({inlist})))"


def _lang_guess_exprs(toks):
    """(hits dict, guess Column): per-language stopword hit counts and
    the argmax guess with fixed priority tiebreak (en > es > de > fr).
    Shared by text_lang_guess and the confusion-matrix evaluation."""
    hits = {
        lang: textfns.stopword_hits(toks, words)
        for lang, words in textfns.STOPWORDS.items()
    }
    guess = (
        F.when(
            hits["en"] >= F.greatest(hits["es"], hits["de"], hits["fr"]), "en"
        )
        .when(hits["es"] >= F.greatest(hits["de"], hits["fr"]), "es")
        .when(hits["de"] >= hits["fr"], "de")
        .otherwise("fr")
    )
    return hits, guess


#: DuckDB twin of the guess CASE (callers interpolate into queries).
def _duck_lang_guess() -> str:
    h = {lang: _duck_hits(w) for lang, w in textfns.STOPWORDS.items()}
    return f"""CASE
             WHEN {h['en']} >= greatest({h['es']}, {h['de']}, {h['fr']})
               THEN 'en'
             WHEN {h['es']} >= greatest({h['de']}, {h['fr']}) THEN 'es'
             WHEN {h['de']} >= {h['fr']} THEN 'de'
             ELSE 'fr'
           END"""


@register(
    "text_lang_guess",
    oracle=f"""
    SELECT doc_id,
           {_duck_hits(textfns.STOPWORDS['en'])} AS en_hits,
           {_duck_hits(textfns.STOPWORDS['es'])} AS es_hits,
           {_duck_hits(textfns.STOPWORDS['de'])} AS de_hits,
           {_duck_hits(textfns.STOPWORDS['fr'])} AS fr_hits,
           CASE
             WHEN {_duck_hits(textfns.STOPWORDS['en'])} >= greatest(
                  {_duck_hits(textfns.STOPWORDS['es'])},
                  {_duck_hits(textfns.STOPWORDS['de'])},
                  {_duck_hits(textfns.STOPWORDS['fr'])}) THEN 'en'
             WHEN {_duck_hits(textfns.STOPWORDS['es'])} >= greatest(
                  {_duck_hits(textfns.STOPWORDS['de'])},
                  {_duck_hits(textfns.STOPWORDS['fr'])}) THEN 'es'
             WHEN {_duck_hits(textfns.STOPWORDS['de'])} >=
                  {_duck_hits(textfns.STOPWORDS['fr'])} THEN 'de'
             ELSE 'fr'
           END AS lang_guess
    FROM documents
    """,
    tags=("TXT",),
)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts, argmax
    with a fixed priority tiebreak (en > es > de > fr)."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    hits, guess = _lang_guess_exprs(F.col("toks"))
    return d.select(
        "doc_id",
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["de"].alias("de_hits"),
        hits["fr"].alias("fr_hits"),
        guess.alias("lang_guess"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents
    """,
    tags=("TXT",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercased text
    — the exact-dedup key (operators/dedup.py builds on this)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("fp"),
    )


@register(
    "text_shingle_stats",
    oracle=f"""
    SELECT doc_id,
           greatest(len({_DUCK_TOKENS}) - 2, 0) AS n_shingles,
           CASE WHEN len({_DUCK_TOKENS}) >= 3 THEN
             len(list_distinct(list_transform(
                   range(1, len({_DUCK_TOKENS}) - 1),
                   i -> {_DUCK_TOKENS}[i] || ' ' || {_DUCK_TOKENS}[i+1]
                        || ' ' || {_DUCK_TOKENS}[i+2])))
           ELSE 0 END AS n_distinct_shingles
    FROM documents
    """,
    tags=("TXT",),
)
def text_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-token shingling (the MinHash input): shingle count and distinct
    shingle count per document. fanout() spreads the per-doc shingle
    build across cores when the scan is single-partition (no-op at real
    scale)."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    toks = F.col("toks")
    sh = textfns.shingles(toks, 3)
    return d.select(
        "doc_id",
        F.greatest(F.size(toks) - 2, F.lit(0)).alias("n_shingles"),
        F.size(F.array_distinct(sh)).alias("n_distinct_shingles"),
    )


@register(
    "text_bpe_token_estimate",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
             AS n_bpe_pieces,
           round(
             CAST(n_chars AS DOUBLE)
               / greatest(len(regexp_extract_all(
                   text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')), 1),
             4) AS chars_per_piece
    FROM documents
    """,
    tags=("TXT",),
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token-count estimate via a GPT-2-ish pre-tokenizer
    regex (letter runs, single digits, punctuation) — the standard
    cheap proxy for LLM token budgeting over a corpus. Pure map-side
    regexp_extract_all; no shuffle."""
    d = table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0)
    n = F.size(pieces)
    return d.select(
        "doc_id",
        n.alias("n_bpe_pieces"),
        F.round(
            F.col("n_chars").cast("double") / F.greatest(n, F.lit(1)), 4
        ).alias("chars_per_piece"),
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
_PHONE_RE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"


@register(
    "text_redact_pii",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_IPV4_RE}', '<IP>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_IPV4_RE}')) AS n_ips,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones
    FROM documents
    """,
    tags=("TXT", "PII"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails / IPv4 / phone patterns -> typed
    placeholders) with per-document match counts for audit — a
    map-only stage at any scale (the regexes stay in the RE2/Java
    common subset so the oracle's RE2 and Spark's java.util.regex
    agree).  Order matters: emails first, so host-like substrings
    inside addresses are not half-redacted as IPs."""
    d = table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _IPV4_RE, "<IP>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_IPV4_RE), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phones"),
    )


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text,
           length(text) - length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             AS n_chars_removed
    FROM documents
    """,
    tags=("TXT",),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, collapse whitespace
    runs, trim) — the pre-pass that makes exact-hash dedup catch
    trivially-different duplicates.  Pure map stage; the removed-char
    count gives the cheap audit metric."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        (F.length("text") - F.length(norm)).alias("n_chars_removed"),
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ),
    tc AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM tc)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(avg(ln((tc.c + 1.0) / (tot.total + tot.vocab))), 4)
             AS avg_logprob
    FROM toks t JOIN tc USING (term) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    tags=("TXT", "quality"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score — the classic perplexity
    proxy for pretraining-data filtering (docs whose average token
    log-probability under the corpus's own add-one-smoothed unigram LM
    is an outlier are boilerplate or gibberish).

    Scale shape: ONE explode pass feeds both the LM (groupBy term —
    map-side partials collapse each partition to its vocabulary) and
    the scoring join; term probabilities are a |vocab|-row broadcast,
    the 1-row corpus totals ride along in it, so the only
    corpus-sized exchanges are the term count and the final
    doc-keyed average."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.explode(textfns.tokens("text")).alias("term"))
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = tc.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    probs = tc.crossJoin(tot).select(
        "term",
        F.log((F.col("c") + 1.0) / (F.col("total") + F.col("vocab"))).alias("lp"),
    )
    return (
        toks.join(F.broadcast(probs), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix against the labeled lang column
# ---------------------------------------------------------------------------


@register(
    "text_lang_confusion_matrix",
    oracle=f"""
    SELECT lang AS actual_lang,
           {_duck_lang_guess()} AS guessed_lang,
           count(*) AS n
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("TXT", "eval"),
)
def text_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-evaluation step: confusion matrix of the stopword
    language-ID heuristic against the labeled `lang` column — per
    (actual, guessed) document counts. The `zh` row is the designed
    blind spot (no zh stopword list: every zh doc falls through the
    tiebreak chain), which is exactly what this evaluation surfaces.

    One map-side guess expression + one groupBy on a 20-cell domain:
    the shuffle carries at most |langs|^2 partial rows per task at any
    corpus size."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    _, guess = _lang_guess_exprs(F.col("toks"))
    return (
        d.select(F.col("lang").alias("actual_lang"), guess.alias("guessed_lang"))
        .groupBy("actual_lang", "guessed_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, g.g AS gram
      FROM (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents) s,
           unnest(CASE WHEN len(tk) >= 2 THEN
                    list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i+1])
                  ELSE [] END) AS g(g)
    ),
    bc AS (SELECT gram, count(*) AS cab FROM grams GROUP BY gram),
    ctx AS (
      SELECT string_split(gram, ' ')[1] AS a, sum(cab) AS ca
      FROM bc GROUP BY 1
    ),
    vocab AS (
      SELECT count(DISTINCT t.w) AS v
      FROM documents, unnest({_DUCK_TOKENS}) AS t(w)
    )
    SELECT g.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln((bc.cab + 1.0) / (ctx.ca + vocab.v))), 4)
             AS avg_logprob
    FROM grams g
    JOIN bc USING (gram)
    JOIN ctx ON ctx.a = string_split(g.gram, ' ')[1]
    CROSS JOIN vocab
    GROUP BY g.doc_id
    """,
    tags=("TXT", "quality"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram language-model quality score: per document,
    the mean ln P(w_i | w_{i-1}) under the corpus's own add-one-smoothed
    bigram LM (contexts = bigram-table marginals, V = unigram
    vocabulary) — the sharper perplexity proxy one step up the LM
    ladder from text_unigram_logprob (word-salad documents score low
    here even when their unigram mix looks natural).

    Scale shape: one bound tokenize feeds the bigram stream; bigram
    counts, context marginals (derived from the bigram table, not a
    second corpus pass), and the vocabulary scalar all aggregate onto
    vocabulary-sized domains and broadcast back onto the doc-keyed
    stream — the only corpus-sized exchanges are the bigram count and
    the per-doc average."""
    d = bind(spread(table(spark, sf_dir, "documents"), "doc_id"),
             toks=textfns.tokens("text"))
    grams = d.select(
        "doc_id", F.explode(textfns.shingles(F.col("toks"), 2)).alias("gram")
    )
    bc = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cab"))
    ctx = (
        bc.withColumn("a", F.split_part("gram", F.lit(" "), F.lit(1)))
        .groupBy("a")
        .agg(F.sum("cab").alias("ca"))
    )
    vocab = (
        d.select(F.explode("toks").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    lp_tbl = (
        bc.withColumn("a", F.split_part("gram", F.lit(" "), F.lit(1)))
        .join(ctx, "a")
        .crossJoin(vocab)
        .select(
            "gram",
            F.log((F.col("cab") + 1.0) / (F.col("ca") + F.col("v"))).alias("lp"),
        )
    )
    return (
        grams.join(F.broadcast(lp_tbl), "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit: corpus-health power-law slope
# ---------------------------------------------------------------------------

_ZIPF_TOP = 1000


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKENS}) AS w FROM documents
    ),
    freq AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY w
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM freq
    ),
    top AS (SELECT * FROM ranked WHERE r <= {_ZIPF_TOP})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM freq) AS n_vocab,
           CAST(count(*) AS BIGINT) AS n_fit,
           round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
             AS zipf_slope,
           round(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
             AS r2
    FROM top
    """,
    tags=("TEXT", "DQ"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
    the top-{_ZIPF_TOP} tokens — natural corpora sit near -1, and a
    corpus that drifts far off (template spam flattens the head,
    boilerplate dedup failures fatten it) fails the power-law sanity
    check long before any model trains on it.  Frequencies are exact
    BIGINTs and ranks are fully tie-broken (freq desc, token), so both
    engines fit the SAME point set and the 6-dp-rounded moments match
    — the repo's established regr_* discipline.

    Scale shape: one token-count exchange (map-side combined), then a
    top-{_ZIPF_TOP} rank over the VOCAB summary (not the token
    stream) and a single-row moment aggregate; the global row_number
    sorts |vocab| rows — at 100 TB replace with rank-over-top-K
    pre-filter via approx thresholds, same fit."""
    from ..functions import textfns

    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(textfns.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    vocab_n = freq.agg(F.count(F.lit(1)).alias("n_vocab"))
    ranked = freq.select(
        "f", F.row_number().over(Window.orderBy(F.desc("f"), "w")).alias("r")
    ).filter(F.col("r") <= _ZIPF_TOP)
    # 1-row crossJoin: the vocab total rides along without a
    # driver-side action.
    return ranked.crossJoin(vocab_n).agg(
        F.first("n_vocab").alias("n_vocab"),
        F.count(F.lit(1)).alias("n_fit"),
        F.expr(
            "round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)"
        ).alias("zipf_slope"),
        F.expr(
            "round(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)"
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty curve: how much of each doc is new to the corpus so far
# ---------------------------------------------------------------------------

_DUCK_SHINGLES3 = (
    f"list_distinct(list_transform(range(1, len({_DUCK_TOKENS}) - 1), "
    f"i -> {_DUCK_TOKENS}[i] || ' ' || {_DUCK_TOKENS}[i+1] || ' ' "
    f"|| {_DUCK_TOKENS}[i+2]))"
)


@register(
    "text_ngram_novelty_curve",
    oracle=f"""
    WITH ds AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES3}) AS s
      FROM documents WHERE len({_DUCK_TOKENS}) >= 3
    ),
    firsts AS (SELECT s, min(doc_id) AS first_doc FROM ds GROUP BY s)
    SELECT ds.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = ds.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = ds.doc_id THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS novelty
    FROM ds JOIN firsts f USING (s)
    GROUP BY ds.doc_id
    """,
    tags=("TEXT", "DD", "EVAL"),
)
def text_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in ingestion (doc_id) order: the
    fraction of a doc's distinct 3-token shingles never seen in any
    EARLIER doc — the curve dataset builders watch to decide when a
    source is mined out (novelty decays toward zero as a crawl starts
    refetching itself), and the per-doc score that ranks documents by
    marginal information for curriculum or dedup triage.  'Seen
    earlier' is min(doc_id) per shingle, so the definition is exact
    and order-stable, not a sketch.

    Scale shape (r5 rewrite): the output has no shingle text, so the
    shingle-keyed join back — which carried every (doc, shingle) pair
    through the exchange TWICE as raw 3-token strings — is gone
    entirely.  ``n_shingles`` is computed pre-explode as
    ``size(array_distinct(shingles))`` (zero shuffle); the only
    pair-sized exchange is a map-side-combined ``min(doc_id)`` keyed on
    ``xxhash64`` of the shingle, so the wire moves fixed-width longs,
    not strings (the PPJoin verify proved this exact trade at
    dedup.py:1669: 49→10 s @10×); ``n_novel`` is then a
    shingle-cardinality count of ``first_doc`` longs, and the final
    join is doc-cardinality.  A 64-bit collision merging two distinct
    shingles is ~n²/2^65 per doc — negligible, and the DuckDB oracle
    keeps plain strings so the check would catch any real drift."""
    toks = textfns.tokens("text")
    per_doc = (
        bind(
            fanout(table(spark, sf_dir, "documents")
                   .select("doc_id", "text")),
            sh=F.array_distinct(textfns.shingles(toks, 3)),
        )
        .select("doc_id", "sh")
        .filter(F.size("sh") >= 1)
    )
    pairs = per_doc.select(
        "doc_id",
        F.explode(
            F.transform("sh", lambda s: F.xxhash64(s))
        ).alias("h"),
    )
    firsts = pairs.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy("first_doc").agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        per_doc.select("doc_id", F.size("sh").alias("n_shingles"))
        .join(novel, F.col("doc_id") == F.col("first_doc"), "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long")
            .alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0))
                / F.col("n_shingles").cast("double"),
                4,
            ).alias("novelty"),
        )
    )


@register_probe("text_ngram_novelty_curve")
def _probe_novelty_curve(spark: SparkSession, sf_dir: str) -> int:
    """Work = (doc, shingle) rows entering the min-doc aggregate — the
    only pair-sized exchange after the r5 hashed rewrite."""
    toks = textfns.tokens("text")
    row = (
        table(spark, sf_dir, "documents")
        .select(F.size(F.array_distinct(textfns.shingles(toks, 3))).alias("n"))
        .agg(F.sum("n").alias("w"))
        .collect()[0]
    )
    return int(row["w"] or 0)


# ---------------------------------------------------------------------------
# Source-overlap matrix: pairwise shingle containment between sources
# ---------------------------------------------------------------------------


@register(
    "corpus_source_overlap_matrix",
    oracle=f"""
    WITH ds AS (
      SELECT DISTINCT source, s FROM (
        SELECT source, unnest({_DUCK_SHINGLES3}) AS s
        FROM documents WHERE len({_DUCK_TOKENS}) >= 3
      )
    ),
    tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY source
    ),
    pair AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM ds a JOIN ds b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, ta.n AS n_a, tb.n AS n_b, n_common,
           round(n_common / CAST(ta.n + tb.n - n_common AS DOUBLE), 6)
             AS jaccard,
           round(n_common / CAST(ta.n AS DOUBLE), 6) AS containment_a
    FROM pair
    JOIN tot ta ON ta.source = pair.src_a
    JOIN tot tb ON tb.source = pair.src_b
    """,
    tags=("TEXT", "DD", "CORPUS"),
)
def corpus_source_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise 3-shingle overlap between corpus SOURCES: for every
    source pair sharing at least one shingle, the exact distinct-shingle
    Jaccard and the containment of the smaller-keyed side — the
    corpus-level "which crawls are refetching each other" matrix that
    decides source-level dedup order before any per-document pass (a
    mirror pair shows up here long before per-doc near-dup joins are
    affordable).

    Scale shape: the per-source shingle SETS are built in one
    map-side-combined distinct keyed on (source, xxhash64(shingle)) —
    fixed-width longs on the wire, never shingle strings (the novelty
    curve and PPJoin verify proved that trade).  The pair join is on the
    shingle-hash key, and its fan-out per shingle is bounded by the
    number of SOURCES holding it — a dimension-sized constant (≤20
    here), not a data-sized one — so candidate rows stay O(shingles ×
    sources), and everything after is a |sources|² aggregate.  The
    DuckDB twin keeps raw strings, so a real hash-collision drift would
    fail the gate."""
    toks = textfns.tokens("text")
    sh = (
        bind(
            fanout(table(spark, sf_dir, "documents")
                   .select("source", "text")),
            sh=F.array_distinct(textfns.shingles(toks, 3)),
        )
        .select(
            "source",
            F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("h"),
        )
        .distinct()
    )
    tot = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.withColumnRenamed("source", "src_a")
    b = sh.withColumnRenamed("source", "src_b").withColumnRenamed("h", "h_b")
    pair = (
        a.join(
            b,
            (F.col("h") == F.col("h_b"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ta = tot.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    )
    tb = tot.select(
        F.col("source").alias("src_b"), F.col("n").alias("n_b")
    )
    return (
        pair.join(ta, "src_a")
        .join(tb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common") / F.col("n_a").cast("double"), 6
            ).alias("containment_a"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps' law: vocabulary growth along the corpus
# ---------------------------------------------------------------------------


@register(
    "text_heaps_law_curve",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
    per_doc AS (
      SELECT doc_id,
             (doc_id * 10) // ((SELECT mx FROM mx) + 1) AS bucket,
             len({_DUCK_TOKENS}) AS n_tokens
      FROM documents
    ),
    docs_agg AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM per_doc GROUP BY bucket
    ),
    firsts AS (
      SELECT t, min(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest(list_distinct({_DUCK_TOKENS})) AS t
        FROM documents
      ) GROUP BY t
    ),
    vocab_new AS (
      SELECT (first_doc * 10) // ((SELECT mx FROM mx) + 1) AS bucket,
             CAST(count(*) AS BIGINT) AS vocab_new
      FROM firsts GROUP BY 1
    )
    SELECT d.bucket AS decile, d.n_docs, d.n_tokens,
           coalesce(v.vocab_new, 0) AS vocab_new,
           CAST(sum(d.n_tokens) OVER (ORDER BY d.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_cum,
           CAST(sum(coalesce(v.vocab_new, 0)) OVER (ORDER BY d.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
    FROM docs_agg d LEFT JOIN vocab_new v ON v.bucket = d.bucket
    """,
    tags=("TEXT", "CORPUS"),
)
def text_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law growth curve: cumulative distinct vocabulary vs
    cumulative token count along the corpus in doc_id order, bucketed
    into id-range deciles — the saturation diagnostic a corpus builder
    reads before deciding whether more of the same source still buys
    new vocabulary (flat vocab_cum growth = the source is mined out;
    compare text_ngram_novelty_curve, which asks the same question of
    3-gram novelty).

    Each token's contribution is charged to the decile of its FIRST
    containing doc (min doc_id) — one token-keyed min aggregate, the
    novelty-curve shape; per-decile token totals are a doc-keyed
    aggregate; the cumulative sums run over the 10-row decile frame
    (aggregate-sized, safely single-partition).  At 100 TB the token
    exchange keys become xxhash64 longs first (the exact fix measured
    on the novelty curve); tokens here are single whitespace words, so
    the key is already narrow."""
    from ..functions.textfns import tokens

    d = table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("mx"))
    per_doc = d.crossJoin(mx).select(
        "doc_id",
        F.expr("(doc_id * 10) div (mx + 1)").alias("bucket"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    docs_agg = per_doc.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    firsts = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("t"),
        )
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vocab_new = (
        firsts.crossJoin(mx)
        .groupBy(F.expr("(first_doc * 10) div (mx + 1)").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("vocab_new"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_agg.withColumnRenamed("bucket", "decile")
        .join(
            vocab_new.withColumnRenamed("bucket", "decile"), "decile", "left"
        )
        .withColumn("vocab_new", F.coalesce("vocab_new", F.lit(0)))
        .select(
            "decile",
            "n_docs",
            "n_tokens",
            "vocab_new",
            F.sum("n_tokens").over(w).cast("long").alias("tokens_cum"),
            F.sum("vocab_new").over(w).cast("long").alias("vocab_cum"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility report per language
# ---------------------------------------------------------------------------


@register(
    "text_tokenizer_fertility_by_lang",
    oracle=r"""
    WITH per_doc AS (
      SELECT lang, n_chars,
             len(string_split_regex(trim(text), '\s+')) AS n_words,
             len(regexp_extract_all(
               text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_pieces
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
           round(CAST(sum(n_pieces) AS DOUBLE) / sum(n_words), 4)
             AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(n_pieces), 4)
             AS chars_per_piece
    FROM per_doc GROUP BY lang
    """,
    tags=("TXT", "ML"),
)
def text_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish pieces per whitespace
    word, and chars per piece — THE tokenizer-equity report a
    multilingual pretraining run reads (a language with 2x fertility
    pays 2x the compute per word and fits half the content per
    context window; it drives both mixture weights and
    vocabulary-size decisions).

    Builds on the same GPT-2-ish pre-tokenizer regex as
    text_bpe_token_estimate (that query is per-document; this is the
    per-language corpus rollup).  Map-side regex + ONE partial-
    aggregated groupBy on lang — no shuffle carries document text,
    only the 4-counter summaries."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    pieces = F.regexp_extract_all(
        "text", F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0
    )
    per_doc = d.select(
        "lang",
        "n_chars",
        F.size(words).alias("n_words"),
        F.size(pieces).alias("n_pieces"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_pieces").cast("long").alias("total_pieces"),
        F.round(
            F.sum("n_pieces").cast("double") / F.sum("n_words"), 4
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_pieces"), 4
        ).alias("chars_per_piece"),
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: Cohen's kappa (chance-corrected agreement)
# ---------------------------------------------------------------------------


@register(
    "text_lang_id_kappa",
    oracle=f"""
    WITH cm AS (
      SELECT lang AS a, {_duck_lang_guess()} AS g,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN a = g THEN n ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM cm
    ),
    r AS (SELECT a AS l, CAST(sum(n) AS BIGINT) AS rn FROM cm GROUP BY a),
    c AS (SELECT g AS l, CAST(sum(n) AS BIGINT) AS cn FROM cm GROUP BY g),
    rc AS (
      SELECT CAST(coalesce(sum(r.rn * c.cn), 0) AS BIGINT) AS s_rc
      FROM r JOIN c ON r.l = c.l
    )
    SELECT t.n_docs, t.n_agree,
           round(CAST(t.n_agree AS DOUBLE) / t.n_docs, 6) AS accuracy,
           round(CAST(rc.s_rc AS DOUBLE) / (t.n_docs * t.n_docs), 6)
             AS expected_accuracy,
           CASE WHEN t.n_docs * t.n_docs - rc.s_rc = 0 THEN NULL
                ELSE round(CAST(t.n_docs * t.n_agree - rc.s_rc AS DOUBLE)
                           / (t.n_docs * t.n_docs - rc.s_rc), 6)
           END AS kappa
    FROM tot t, rc
    """,
    tags=("TXT", "eval"),
)
def text_lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the stopword language-ID heuristic against
    the labeled lang column — the chance-corrected scalar the
    confusion matrix (text_lang_confusion_matrix) summarizes to.
    Plain accuracy flatters a classifier on skewed label mixes; kappa
    subtracts the agreement the marginals alone would produce.

    Exact-arithmetic shape: kappa = (po-pe)/(1-pe) algebraically
    rearranged to (N*agree - sum_l r_l*c_l) / (N^2 - sum_l r_l*c_l),
    so BOTH numerator and denominator are exact BIGINTs from the
    confusion matrix's row/column marginals — one final division, no
    float accumulation; pe = 1 (single-label degenerate matrix) makes
    kappa undefined, guarded to NULL in both engines.  Everything downstream of the |langs|^2-cell
    matrix is metadata-sized at any corpus scale."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    _, guess = _lang_guess_exprs(F.col("toks"))
    cm = (
        d.select(F.col("lang").alias("a"), guess.alias("g"))
        .groupBy("a", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cm.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("a") == F.col("g"), F.col("n")).otherwise(0))
        .alias("n_agree"),
    )
    r = cm.groupBy(F.col("a").alias("l")).agg(F.sum("n").alias("rn"))
    c = cm.groupBy(F.col("g").alias("l")).agg(F.sum("n").alias("cn"))
    rc = (
        r.join(c, "l")
        .agg(
            F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0))
            .cast("long")
            .alias("s_rc")
        )
    )
    return tot.crossJoin(rc).select(
        "n_docs",
        "n_agree",
        F.round(F.col("n_agree").cast("double") / F.col("n_docs"), 6).alias(
            "accuracy"
        ),
        F.round(
            F.col("s_rc").cast("double") / (F.col("n_docs") * F.col("n_docs")),
            6,
        ).alias("expected_accuracy"),
        F.when(
            F.col("n_docs") * F.col("n_docs") - F.col("s_rc") == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (F.col("n_docs") * F.col("n_agree") - F.col("s_rc")).cast(
                    "double"
                )
                / (F.col("n_docs") * F.col("n_docs") - F.col("s_rc")),
                6,
            )
        )
        .alias("kappa"),
    )


# ---------------------------------------------------------------------------
# CCNet-style per-language perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------


@register(
    "text_ccnet_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS term FROM documents
    ),
    tc AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    tot AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS vocab
      FROM tc GROUP BY lang
    ),
    ce AS (
      SELECT t.doc_id, t.lang,
             round(-avg(ln((tc.c + 1.0) / (tot.total + tot.vocab))), 4)
               AS doc_ce
      FROM toks t
      JOIN tc ON tc.lang = t.lang AND tc.term = t.term
      JOIN tot ON tot.lang = t.lang
      GROUP BY 1, 2
    ),
    bucketed AS (
      SELECT lang, doc_ce,
             CASE ntile(3) OVER (PARTITION BY lang
                                 ORDER BY doc_ce, doc_id)
               WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
             END AS bucket
      FROM ce
    )
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(doc_ce), 4) AS min_ce,
           round(max(doc_ce), 4) AS max_ce,
           round(avg(doc_ce), 4) AS avg_ce
    FROM bucketed GROUP BY 1, 2
    """,
    tags=("TXT", "quality"),
)
def text_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet's head/middle/tail corpus split, per language: score every
    document's cross-entropy under its OWN language's add-one-smoothed
    unigram LM, rank within the language, and cut into perplexity
    tertiles — the standard recipe for turning a raw web crawl into
    quality tiers before mixing (head = most fluent, tail = candidate
    discard).  Output is the per-(lang, bucket) profile: doc count and
    the ce range each bucket spans.

    Determinism: per-doc cross-entropy is rounded to 4dp BEFORE
    ranking and ties break on doc_id, so the tertile assignment is a
    pure function of the data in both engines (no float-boundary
    flips); min/max are order-insensitive.

    Scale shape: one explode pass feeds the per-lang LM (map-side
    partials onto the (lang, term) domain) and the scoring join; term
    log-probs broadcast at |lang|*|vocab|.  The ntile window
    partitions by lang over the DOC-level frame — at 100 TB replace
    the exact rank with per-lang approx thresholds (the screen is the
    same); documented as this operator's scale note rather than
    silently pretending the window is free."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", "lang", F.explode(textfns.tokens("text")).alias("term")
    )
    tc = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    tot = tc.groupBy("lang").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    probs = tc.join(tot, "lang").select(
        "lang",
        "term",
        F.log(
            (F.col("c") + 1.0) / (F.col("total") + F.col("vocab"))
        ).alias("lp"),
    )
    ce = (
        toks.join(F.broadcast(probs), ["lang", "term"])
        .groupBy("doc_id", "lang")
        .agg(F.round(-F.avg("lp"), 4).alias("doc_ce"))
    )
    tile = F.ntile(3).over(
        Window.partitionBy("lang").orderBy("doc_ce", "doc_id")
    )
    bucketed = ce.select(
        "lang",
        "doc_ce",
        F.when(tile == 1, "head")
        .when(tile == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("doc_ce"), 4).alias("min_ce"),
        F.round(F.max("doc_ce"), 4).alias("max_ce"),
        F.round(F.avg("doc_ce"), 4).alias("avg_ce"),
    )


# ---------------------------------------------------------------------------
# Bigram conditional entropy rate per language
# ---------------------------------------------------------------------------


@register(
    "text_ngram_entropy_rate",
    oracle=f"""
    WITH grams AS (
      SELECT lang,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1]))
               AS gram
      FROM (SELECT lang, {_DUCK_TOKENS} AS toks FROM documents) t
    ),
    c12 AS (
      SELECT lang, gram, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2
    ),
    c1 AS (
      SELECT lang, string_split(gram, ' ')[1] AS w1,
             CAST(sum(c) AS BIGINT) AS c1
      FROM c12 GROUP BY 1, 2
    ),
    joined AS (
      SELECT b.lang, b.c, m.c1,
             CAST(sum(b.c) OVER (PARTITION BY b.lang) AS BIGINT) AS n
      FROM c12 b JOIN c1 m
        ON m.lang = b.lang AND m.w1 = string_split(b.gram, ' ')[1]
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS vocab_bigrams,
           round(-sum((c / CAST(n AS DOUBLE))
                      * ln(c / CAST(c1 AS DOUBLE))), 6) AS entropy_rate,
           round(exp(-sum((c / CAST(n AS DOUBLE))
                          * ln(c / CAST(c1 AS DOUBLE)))), 4)
             AS perplexity
    FROM joined GROUP BY lang
    """,
    tags=("TXT", "vocab"),
)
def text_ngram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy rate per language, H(w2 | w1) =
    -sum p(w1,w2) ln p(w2|w1), with its exp() as perplexity — the
    corpus-level "how predictable is the next token" number that
    separates natural prose from boilerplate/templated text (low
    entropy rate = generated/repetitive; the complement of the
    per-document logprob scores, which rank docs, where this
    characterizes the LANGUAGE).

    All probabilities are ratios of exact BIGINT counts (the w1
    marginal sums the bigram counts, so conditionals are consistent by
    construction); the entropy sum's order noise is absorbed by the
    6dp round.

    Scale shape: the bigram explode is map-local (shingles over the
    token array) and both count rollups combine map-side onto
    (lang, gram) / (lang, w1) domains; the marginal join keys on the
    (lang, w1) prefix of the bigram domain — vocabulary-sized frames
    only after the first aggregation."""
    d = bind(
        fanout(table(spark, sf_dir, "documents")),
        toks=textfns.tokens("text"),
    )
    grams = d.select(
        "lang", F.explode(textfns.shingles(F.col("toks"), 2)).alias("gram")
    )
    c12 = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    w1 = F.element_at(F.split(F.col("gram"), " "), 1).alias("w1")
    c1 = c12.select("lang", w1, "c").groupBy("lang", "w1").agg(
        F.sum("c").alias("c1")
    )
    joined = c12.select("lang", "gram", "c", w1).join(c1, ["lang", "w1"])
    n = F.sum("c").over(Window.partitionBy("lang"))
    terms = joined.select(
        "lang",
        "c",
        "c1",
        n.alias("n"),
    )
    h = -F.sum(
        (F.col("c") / F.col("n").cast("double"))
        * F.log(F.col("c") / F.col("c1").cast("double"))
    )
    return terms.groupBy("lang").agg(
        F.max("n").alias("n_bigrams"),
        F.count(F.lit(1)).alias("vocab_bigrams"),
        F.round(h, 6).alias("entropy_rate"),
        F.round(F.exp(h), 4).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# PII incidence rollup per source (procurement-facing screen)
# ---------------------------------------------------------------------------


@register(
    "privacy_pii_rate_by_source",
    oracle=f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN len(regexp_extract_all(text, '{_EMAIL_RE}'))
                          + len(regexp_extract_all(text, '{_IPV4_RE}'))
                          + len(regexp_extract_all(text, '{_PHONE_RE}')) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_pii,
           CAST(sum(len(regexp_extract_all(text, '{_EMAIL_RE}')))
                AS BIGINT) AS n_emails,
           CAST(sum(len(regexp_extract_all(text, '{_IPV4_RE}')))
                AS BIGINT) AS n_ips,
           CAST(sum(len(regexp_extract_all(text, '{_PHONE_RE}')))
                AS BIGINT) AS n_phones
    FROM documents GROUP BY source
    """,
    tags=("TXT", "PII", "DQ"),
)
def privacy_pii_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII incidence — the rollup a data-procurement review
    reads before text_redact_pii runs at scale: how many documents from
    each source carry ANY match, and the per-pattern match volumes.
    Shares text_redact_pii's exact regex battery (same RE2/Java common
    subset) so the screen and the scrubber can never disagree about
    what counts as PII.

    Map-side regex counting + one |sources|-group aggregate with
    map-side partials; output is bounded by source cardinality at any
    corpus size."""
    d = fanout(table(spark, sf_dir, "documents"))
    n_em = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
    n_ip = F.size(F.regexp_extract_all("text", F.lit(_IPV4_RE), 0))
    n_ph = F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
    return (
        d.select("source", n_em.alias("e"), n_ip.alias("i"), n_ph.alias("p"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("e") + F.col("i") + F.col("p") > 0, 1).otherwise(0)
            ).cast("long").alias("n_with_pii"),
            F.sum("e").cast("long").alias("n_emails"),
            F.sum("i").cast("long").alias("n_ips"),
            F.sum("p").cast("long").alias("n_phones"),
        )
    )


# ---------------------------------------------------------------------------
# Sentence segmentation stats (document-prep profiling)
# ---------------------------------------------------------------------------

#: Sentence boundary: one or more of .!? followed by whitespace or EOS.
#: Kept in the RE2/Java common subset (no lookbehind).
_SENT_SPLIT_RE = r"[.!?]+(\s+|$)"


@register(
    "text_sentence_stats",
    oracle=f"""
    WITH sents AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 string_split_regex(text, '{_SENT_SPLIT_RE}'),
                 s -> trim(s)),
               s -> s <> '') AS ss
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ss) AS INT) AS n_sentences,
           CAST(CASE WHEN len(ss) = 0 THEN 0 ELSE
             list_aggregate(list_transform(ss, s -> length(s)), 'max')
           END AS INT) AS max_sentence_chars,
           CAST(CASE WHEN len(ss) = 0 THEN 0 ELSE
             list_aggregate(list_transform(ss, s -> length(s)), 'sum')
           END AS BIGINT) AS sum_sentence_chars
    FROM sents
    """,
    tags=("TXT",),
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation profile per document (count, longest
    sentence, total sentence chars) — the pre-chunking statistic that
    decides whether sentence-aligned packing is viable for a source or
    whether it degenerates to fixed-window chunking (one giant
    unsegmentable "sentence" = a minified/code-like doc).  The
    splitter is a deliberate regex approximation (terminal punctuation
    run + whitespace), identical in both engines; abbreviation-aware
    segmentation is a model call outside the engine.

    Pure map-side higher-order expressions over the token arrays —
    zero shuffle at any scale."""
    d = fanout(table(spark, sf_dir, "documents"))
    ss = F.filter(
        F.transform(
            F.split(F.col("text"), _SENT_SPLIT_RE),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    d = bind(d, ss=ss)
    lens = F.transform(F.col("ss"), lambda s: F.length(s))
    n = F.size(F.col("ss"))
    return d.select(
        "doc_id",
        n.alias("n_sentences"),
        F.when(n == 0, F.lit(0)).otherwise(F.array_max(lens)).alias(
            "max_sentence_chars"
        ),
        F.when(n == 0, F.lit(0).cast("long")).otherwise(
            F.aggregate(
                lens, F.lit(0).cast("long"), lambda acc, x: acc + x
            )
        ).alias("sum_sentence_chars"),
    )


# ---------------------------------------------------------------------------
# Term burstiness: boilerplate detection via document-frequency dispersion
# ---------------------------------------------------------------------------

_BURST_MIN_CF = 10  # ignore rare terms: dispersion of a 3-hit word is noise


@register(
    "vocab_burstiness_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.w AS w
      FROM documents,
           unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                              _x -> _x <> '')) AS t(w)
    ),
    stats AS (
      SELECT w,
             CAST(count(*) AS BIGINT) AS cf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY w
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT w AS term, cf, df,
           round(CAST(cf AS DOUBLE) / df, 6) AS burstiness,
           round(CAST(df AS DOUBLE) / nd.n_docs, 6) AS doc_coverage
    FROM stats CROSS JOIN nd
    WHERE cf >= {_BURST_MIN_CF}
    ORDER BY CAST(cf AS DOUBLE) / df DESC, w
    LIMIT 30
    """,
    tags=("TXT", "curation"),
)
def vocab_burstiness_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church/Gale dispersion): collection frequency
    over document frequency for every term with cf >= {_BURST_MIN_CF},
    top 30.  A term that appears 400 times across 380 documents
    (burstiness ~1) is ordinary vocabulary; 400 times across 8
    documents (burstiness 50) is boilerplate, a template, or a
    repetition artifact — the curation signal that feeds stopword-
    augmentation and repetition filters, complementary to
    text_repetition_ratio (which reads one doc at a time and cannot
    see CROSS-document repetition).

    One explode + one (term) aggregate — cf and df partial-combine
    map-side (count + count distinct over the doc-clustered token
    stream); the n_docs scalar broadcasts onto the term frame.  The
    ORDER BY recomputes the ratio rather than referencing the rounded
    alias so ranking is identical in both engines at full double
    precision."""
    d = table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", F.explode(textfns.tokens("text")).alias("w")
    )
    stats = toks.groupBy("w").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.filter(F.col("cf") >= _BURST_MIN_CF)
        .crossJoin(nd)
        .select(
            F.col("w").alias("term"),
            "cf",
            "df",
            F.round(F.col("cf").cast("double") / F.col("df"), 6).alias(
                "burstiness"
            ),
            F.round(
                F.col("df").cast("double") / F.col("n_docs"), 6
            ).alias("doc_coverage"),
        )
        .orderBy(
            (F.col("cf").cast("double") / F.col("df")).desc(),
            F.asc("term"),
        )
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken): local dedup anchors
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # window: guarantee one fingerprint per 4 consecutive shingles
_WINNOW_CHECK_P = 1_000_000_007


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id, i,
             {textfns.DUCK_HASH60.format(col="sh")} AS h
      FROM (
        SELECT doc_id, gs.i AS i,
               toks[gs.i] || ' ' || toks[gs.i+1] || ' ' || toks[gs.i+2] AS sh
        FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
        LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 1)))
                 AS i) gs
        WHERE len(toks) >= 3
      )
    ),
    m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM hs GROUP BY 1),
    win AS (
      SELECT h.doc_id, gs.j, h.i, h.h
      FROM hs h JOIN m USING (doc_id),
      LATERAL (SELECT unnest(range(greatest(h.i - {_WINNOW_W} + 1, 1),
                                   least(h.i,
                                         greatest(m.n_sh - {_WINNOW_W} + 1,
                                                  1)) + 1)) AS j) gs
    ),
    rm AS (
      SELECT doc_id, j,
             min_by(i, h::HUGEINT * 1000000 - i) AS sel_i,
             min(h) AS sel_h
      FROM win GROUP BY doc_id, j
    ),
    fps AS (
      SELECT DISTINCT doc_id, sel_i, sel_h FROM rm
    )
    SELECT f.doc_id, m.n_sh AS n_shingles,
           CAST(count(*) AS BIGINT) AS n_fps,
           CAST(sum(sel_h % {_WINNOW_CHECK_P}) AS BIGINT) AS fp_checksum,
           round(CAST(m.n_sh AS DOUBLE) / count(*), 4) AS compression
    FROM fps f JOIN m ON m.doc_id = f.doc_id
    GROUP BY f.doc_id, m.n_sh
    """,
    tags=("TXT", "dedup"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, the MOSS algorithm):
    slide a {_WINNOW_W}-window over the 3-gram shingle hash sequence
    and keep each window's minimum (rightmost on ties — a composite min key in both engines).  The selected positions are LOCAL
    fingerprints: any shared substring of >= w+k-1 tokens between two
    documents is GUARANTEED to share a fingerprint — the locality
    property whole-doc hashing (text_fingerprint) and MinHash (a
    global sample) both lack, which is why plagiarism/passage-level
    dedup pipelines use winnowing anchors.  Output: per-doc
    fingerprint density + an exact checksum over the selected hashes
    (the full anchor set is join bait for a passage-dedup pass, not a
    report).

    Plan: shingle hashes are map-side; each position explodes into the
    <= {_WINNOW_W} windows containing it, one (doc, window) aggregate
    takes the rightmost-min, and the distinct + final rollup reuse the
    doc_id clustering.  Edge docs shorter than the window winnow over
    the truncated window (one fingerprint minimum), so short docs
    still anchor."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    sh = textfns.shingles(F.col("toks"), 3)
    hs = (
        d.filter(F.size("toks") >= 3)
        .select("doc_id", F.posexplode(sh).alias("i0", "shingle"))
        .select(
            "doc_id",
            (F.col("i0") + 1).alias("i"),
            textfns.hash60(F.col("shingle")).alias("h"),
        )
        # the per-doc shingle count and the window explode both read
        # the hashed shingle stream — tokenize+md5 once (r8 opt round,
        # guide §1.2).
        .localCheckpoint(eager=True)
    )
    m = hs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    last_start = F.greatest(F.col("n_sh") - _WINNOW_W + 1, F.lit(1))
    win = (
        hs.join(m, "doc_id")
        .select(
            "doc_id",
            "i",
            "h",
            F.explode(
                F.sequence(
                    F.greatest(F.col("i") - _WINNOW_W + 1, F.lit(1)),
                    F.least(F.col("i").cast("long"), last_start),
                )
            ).alias("j"),
        )
    )
    rm = win.groupBy("doc_id", "j").agg(
        F.min(F.struct(F.col("h"), (-F.col("i")).alias("ni"))).alias("sel")
    )
    fps = rm.select(
        "doc_id",
        (-F.col("sel.ni")).alias("sel_i"),
        F.col("sel.h").alias("sel_h"),
    ).distinct()
    return (
        fps.join(m, "doc_id")
        .groupBy("doc_id", "n_sh")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(F.col("sel_h") % _WINNOW_CHECK_P)
            .cast("long")
            .alias("fp_checksum"),
            F.round(
                F.col("n_sh").cast("double") / F.count(F.lit(1)), 4
            ).alias("compression"),
        )
        .select(
            "doc_id",
            F.col("n_sh").alias("n_shingles"),
            "n_fps",
            "fp_checksum",
            "compression",
        )
    )


# ---------------------------------------------------------------------------
# Passage-level near-dup candidates from shared winnowing anchors
# ---------------------------------------------------------------------------

#: Anchors shared by more docs than this are boilerplate, not passages
#: (the standard LSH hot-bucket cap, applied to anchor hashes).
_ANCHOR_MAX_DOCS = 50
_ANCHOR_MIN_SHARED = 2  # one shared anchor is noise; two is a passage


def _winnow_anchor_sql() -> str:
    from ..functions import textfns as tf

    return f"""
    hs AS (
      SELECT doc_id, i,
             {tf.DUCK_HASH60.format(col="sh")} AS h
      FROM (
        SELECT doc_id, gs.i AS i,
               toks[gs.i] || ' ' || toks[gs.i+1] || ' ' || toks[gs.i+2] AS sh
        FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
        LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 1)))
                 AS i) gs
        WHERE len(toks) >= 3
      )
    ),
    m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM hs GROUP BY 1),
    win AS (
      SELECT h.doc_id, gs.j, h.i, h.h
      FROM hs h JOIN m USING (doc_id),
      LATERAL (SELECT unnest(range(greatest(h.i - {_WINNOW_W} + 1, 1),
                                   least(h.i,
                                         greatest(m.n_sh - {_WINNOW_W} + 1,
                                                  1)) + 1)) AS j) gs
    ),
    rm AS (
      SELECT doc_id, j,
             min_by(i, h::HUGEINT * 1000000 - i) AS sel_i,
             min(h) AS sel_h
      FROM win GROUP BY doc_id, j
    ),
    anchors AS (
      SELECT DISTINCT doc_id, sel_h AS h FROM rm
    ),
    hot AS (
      SELECT h FROM anchors GROUP BY h
      HAVING count(*) BETWEEN 2 AND {_ANCHOR_MAX_DOCS}
    ),
    kept AS (SELECT a.* FROM anchors a JOIN hot USING (h))
    """


@register(
    "dedup_passage_anchor_pairs",
    oracle=f"""
    WITH
    {_winnow_anchor_sql()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_anchors
    FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {_ANCHOR_MIN_SHARED}
    """,
    tags=("dedup", "TXT"),
)
def dedup_passage_anchor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level near-dup candidates: document pairs sharing >=
    {_ANCHOR_MIN_SHARED} winnowing anchors (text_winnowing_fingerprints'
    selection, deduped per doc).  Winnowing's guarantee makes this the
    PASSAGE complement of the whole-doc dedup family: two documents
    sharing any run of >= w+k-1 tokens MUST share an anchor, so a
    copied paragraph inside two otherwise-different documents — which
    document-level Jaccard dilutes below every threshold — still
    surfaces here.

    Scale shape is the LSH band-join discipline: anchors joined on
    their hash with a hot-anchor cap ({_ANCHOR_MAX_DOCS} docs — beyond
    that an anchor is boilerplate, the signal
    vocab_burstiness_top_terms reads), so pair fan-out per anchor is
    bounded and the join stays an equi-join on a pruned frame.  No
    all-pairs path at any scale."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    sh = textfns.shingles(F.col("toks"), 3)
    hs = (
        d.filter(F.size("toks") >= 3)
        .select("doc_id", F.posexplode(sh).alias("i0", "shingle"))
        .select(
            "doc_id",
            (F.col("i0") + 1).alias("i"),
            textfns.hash60(F.col("shingle")).alias("h"),
        )
        # count + window explode both read the hashed shingle stream —
        # tokenize+md5 once (r8 opt round, guide §1.2).
        .localCheckpoint(eager=True)
    )
    m = hs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    last_start = F.greatest(F.col("n_sh") - _WINNOW_W + 1, F.lit(1))
    win = hs.join(m, "doc_id").select(
        "doc_id",
        "i",
        "h",
        F.explode(
            F.sequence(
                F.greatest(F.col("i") - _WINNOW_W + 1, F.lit(1)),
                F.least(F.col("i").cast("long"), last_start),
            )
        ).alias("j"),
    )
    rm = win.groupBy("doc_id", "j").agg(
        F.min(F.struct(F.col("h"), (-F.col("i")).alias("ni"))).alias("sel")
    )
    # the hot-anchor vote and the pair join both read the anchor set —
    # run the window argmax (the dominant explode+agg) once.
    anchors = (
        rm.select("doc_id", F.col("sel.h").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hot = (
        anchors.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(
            (F.col("nd") >= 2) & (F.col("nd") <= _ANCHOR_MAX_DOCS)
        )
        .select("h")
    )
    kept = anchors.join(hot, "h")
    a = kept.select(F.col("h"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("h"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_anchors"))
        .filter(F.col("shared_anchors") >= _ANCHOR_MIN_SHARED)
    )


@register_probe("text_winnowing_fingerprints")
def _probe_winnowing(spark: SparkSession, sf_dir: str) -> int:
    """Dominant work: the window-membership explode — ~w rows per
    shingle position into the per-window argmax."""
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    n_sh = (
        d.filter(F.size("toks") >= 3)
        .agg(F.sum(F.size("toks") - 2).alias("s"))
        .collect()[0]["s"]
    )
    return int(n_sh) * _WINNOW_W


@register_probe("dedup_passage_anchor_pairs")
def _probe_passage_pairs(spark: SparkSession, sf_dir: str) -> int:
    """Dominant work: winnowing (shared with the fingerprint probe)
    plus the anchor-join candidate fan-in sum(nd^2) over kept
    hashes — the quantity the hot-anchor cap bounds."""
    base = _probe_winnowing(spark, sf_dir)
    d = bind(fanout(table(spark, sf_dir, "documents")),
             toks=textfns.tokens("text"))
    sh = textfns.shingles(F.col("toks"), 3)
    hs = (
        d.filter(F.size("toks") >= 3)
        .select("doc_id", F.posexplode(sh).alias("i0", "shingle"))
        .select("doc_id", (F.col("i0") + 1).alias("i"),
                textfns.hash60(F.col("shingle")).alias("h"))
    )
    m = hs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    last_start = F.greatest(F.col("n_sh") - _WINNOW_W + 1, F.lit(1))
    win = hs.join(m, "doc_id").select(
        "doc_id", "i", "h",
        F.explode(F.sequence(
            F.greatest(F.col("i") - _WINNOW_W + 1, F.lit(1)),
            F.least(F.col("i").cast("long"), last_start),
        )).alias("j"),
    )
    rm = win.groupBy("doc_id", "j").agg(
        F.min(F.struct(F.col("h"), (-F.col("i")).alias("ni"))).alias("sel")
    )
    anchors = rm.select("doc_id", F.col("sel.h").alias("h")).distinct()
    fanin = (
        anchors.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= _ANCHOR_MAX_DOCS))
        .agg(F.sum(F.col("nd") * F.col("nd")).alias("s"))
        .collect()[0]["s"]
    )
    return base + int(fanin or 0)


# ---------------------------------------------------------------------------
# Inverted index build: postings lists with document/collection freq
# ---------------------------------------------------------------------------

#: Report the top-N tokens by document frequency ...
_INV_TOP = 50
#: ... with postings capped at the first P doc_ids (ascending).
_INV_P = 20


@register(
    "text_inverted_index_postings",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents
    ),
    cf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY token
    ),
    dt AS (SELECT DISTINCT token, doc_id FROM tok),
    postings AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df,
             (list(doc_id ORDER BY doc_id))[1:{_INV_P}] AS posting_head
      FROM dt GROUP BY token
    ),
    ranked AS (
      SELECT p.token, p.df, c.cf, p.posting_head,
             row_number() OVER (ORDER BY p.df DESC, p.token) AS rn
      FROM postings p JOIN cf c USING (token)
    )
    SELECT token, df, cf, posting_head
    FROM ranked WHERE rn <= {_INV_TOP}
    """,
    tags=("TXT", "INDEX"),
)
def text_inverted_index_postings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inverted-index construction — the core retrieval/decontamination
    artifact a corpus pipeline materializes next to the corpus itself:
    per token, document frequency, collection frequency, and the head
    of the sorted postings list (first 20 doc_ids, _INV_P), reported
    for the 50 highest-df tokens (_INV_TOP; ties lexicographic).

    Scale shape: explode -> one partial-aggregating groupBy(token) for
    cf, one distinct + groupBy(token) for df and postings.  The
    postings HEAD is the point: collect_set is bounded per token only
    because the output is capped at P ids — a full postings list for a
    stopword would be |corpus|-sized in one task (the classic index-
    build skew), so production shards postings by (token, doc_id
    range) and this query reports only the head block.  Top-N
    selection is a row_number over the token summary, not the corpus."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    tok = d.select("doc_id", F.explode("toks").alias("token"))
    cf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cf"))
    dt = tok.distinct()
    postings = dt.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.slice(F.sort_array(F.collect_list("doc_id")), 1, _INV_P).alias(
            "posting_head"
        ),
    )
    w = Window.orderBy(F.col("df").desc(), "token")
    ranked = postings.join(cf, "token").select(
        "token", "df", "cf", "posting_head",
        F.row_number().over(w).alias("rn"),
    )
    return ranked.filter(F.col("rn") <= _INV_TOP).drop("rn")


# ---------------------------------------------------------------------------
# TextRank keywords: weighted PageRank over token co-occurrence
# ---------------------------------------------------------------------------

_TR_ITERS = 6
_TR_SCALE = 1_000_000
_TR_TOP = 20


def _textrank_oracle() -> str:
    rounds = []
    prev = "r0"
    for k in range(1, _TR_ITERS + 1):
        rounds.append(
            f"""r{k} AS (
      SELECT e.b AS token,
             CAST(150000 + (85 * CAST(sum((p.pr * e.w) // s.s) AS BIGINT))
                  // 100 AS BIGINT) AS pr
      FROM eagg e
      JOIN strength s ON s.token = e.a
      JOIN {prev} p ON p.token = e.a
      GROUP BY e.b)"""
        )
        prev = f"r{k}"
    joined = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS (
      SELECT g.g AS pair
      FROM (SELECT {_DUCK_TOKENS} AS tk FROM documents) s,
           unnest(CASE WHEN len(tk) >= 2 THEN
                    list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i+1])
                  ELSE [] END) AS g(g)
    ),
    e0 AS (
      SELECT string_split(pair, ' ')[1] AS a,
             string_split(pair, ' ')[2] AS b,
             CAST(count(*) AS BIGINT) AS w
      FROM pairs
      WHERE string_split(pair, ' ')[1] <> string_split(pair, ' ')[2]
      GROUP BY 1, 2
    ),
    eagg AS (
      SELECT a, b, CAST(sum(w) AS BIGINT) AS w
      FROM (SELECT a, b, w FROM e0
            UNION ALL SELECT b AS a, a AS b, w FROM e0)
      GROUP BY a, b
    ),
    strength AS (
      SELECT a AS token, CAST(sum(w) AS BIGINT) AS s FROM eagg GROUP BY a
    ),
    r0 AS (
      SELECT token, CAST({_TR_SCALE} AS BIGINT) AS pr FROM strength
    ),
    {joined}
    SELECT token, pr FROM {prev} ORDER BY pr DESC, token LIMIT {_TR_TOP}
    """


@register(
    "text_textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("TXT", "graph"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004) corpus keywords: weighted
    PageRank over the token co-occurrence graph (edge = adjacent token
    pair, weight = corpus co-occurrence count, symmetrized), damping
    0.85, 6 fixed-point rounds (_TR_ITERS), top 20 tokens — keyword
    extraction as a GRAPH centrality, the classic unsupervised
    alternative to TF-IDF's frequency lens (text_tfidf_top_terms ranks
    what is distinctive; TextRank ranks what is structurally central).

    Same integer fixed-point discipline as graph_pagerank_top20
    (graph.py:119): ranks are BIGINT micro-units, each round
    contributes (pr * w) // strength per edge — the weighted
    generalization of pr // degree — so both engines iterate
    bit-identically and need no convergence tolerance.  Scale shape:
    tokenize -> one bigram groupBy builds the edge list (vocabulary-
    sized, not corpus-sized); each round is one broadcast join of the
    rank vector against the static edge list + one groupBy — the
    rank vector is |vocab| rows, orders of magnitude under the token
    stream it summarizes."""
    d = bind(table(spark, sf_dir, "documents"), toks=textfns.tokens("text"))
    n = F.size("toks")
    prs = d.filter(n >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, n - 1).alias("a"),
                F.slice("toks", 2, n - 1).alias("b"),
            )
        ).alias("p")
    )
    e0 = (
        prs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    eagg = (
        e0.unionByName(
            e0.select(
                F.col("b").alias("a"), F.col("a").alias("b"), "w"
            )
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    strength = eagg.groupBy("a").agg(F.sum("w").cast("long").alias("s"))
    # r9 note: co-partitioning ed on the round key "b" (the
    # LPA/pagerank treatment) was MEASURED SLOWER here (1.9 -> 2.0 s
    # pinned): the co-occurrence edge list is vocabulary-cardinality —
    # the per-round exchange it would remove is already tiny.
    ed = eagg.join(strength, "a").localCheckpoint(eager=True)
    ranks = strength.select(
        F.col("a").alias("token"),
        F.lit(_TR_SCALE).cast("long").alias("pr"),
    )
    for _ in range(_TR_ITERS):
        contrib = ed.join(
            ranks, ed["a"] == ranks["token"]
        ).select(F.col("b"), F.expr("(pr * w) DIV s").alias("c"))
        ranks = contrib.groupBy("b").agg(
            F.expr(
                "CAST(150000 + (85 * CAST(sum(c) AS BIGINT)) DIV 100"
                " AS BIGINT)"
            ).alias("pr")
        ).select(F.col("b").alias("token"), "pr")
    return ranks.orderBy(F.desc("pr"), "token").limit(_TR_TOP)


# ---------------------------------------------------------------------------
# Jelinek-Mercer interpolated bigram LM score
# ---------------------------------------------------------------------------

#: Interpolation weight on the bigram term (the unigram gets 1 - it).
_JM_L_NUM, _JM_L_DEN = 7, 10


@register(
    "text_bigram_jm_logprob",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, g.g AS gram
      FROM (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents) s,
           unnest(CASE WHEN len(tk) >= 2 THEN
                    list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i+1])
                  ELSE [] END) AS g(g)
    ),
    bc AS (SELECT gram, count(*) AS cab FROM grams GROUP BY gram),
    ctx AS (
      SELECT string_split(gram, ' ')[1] AS a, sum(cab) AS ca
      FROM bc GROUP BY 1
    ),
    uni AS (
      SELECT t.w, count(*) AS cw
      FROM documents, unnest({_DUCK_TOKENS}) AS t(w)
      GROUP BY t.w
    ),
    tot AS (SELECT sum(cw) AS n FROM uni)
    SELECT g.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(({_JM_L_NUM} / {_JM_L_DEN}.0)
                        * bc.cab / ctx.ca
                        + (1 - {_JM_L_NUM} / {_JM_L_DEN}.0)
                        * uni.cw / tot.n)), 4) AS avg_logprob_jm
    FROM grams g
    JOIN bc USING (gram)
    JOIN ctx ON ctx.a = string_split(g.gram, ' ')[1]
    JOIN uni ON uni.w = string_split(g.gram, ' ')[2]
    CROSS JOIN tot
    GROUP BY g.doc_id
    """,
    tags=("TXT", "quality"),
)
def text_bigram_jm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM score per document:
    mean ln(0.7 * P_ML(w|a) + 0.3 * P_ML(w)) — the OTHER classic
    smoothing next to text_bigram_logprob's add-one (add-one bleeds
    probability mass to the V-sized unseen space and is famously
    pessimal for large V; interpolation backs off to the unigram
    instead, the form Chen & Goodman showed dominates it).  Scoring
    both ways brackets a document's real LM fluency.

    Same scale shape as the sibling (one tokenize; bigram/context/
    unigram tables all vocabulary-sized and broadcast back onto the
    gram stream); zero-probability grams cannot occur because every
    scored gram was observed (cab >= 1), so the ln never sees 0 even
    though JM, unlike add-one, assigns unseen bigrams mass only
    through the unigram term."""
    # One tokenize pass: the gram stream, the unigram table and the
    # bigram table all re-ran the regex tokenizer per consumer when
    # lazily chained (3 full passes; r8 opt round, guide §1.2).  The
    # token frame and the exploded gram stream are each materialized
    # once; the count tables below are vocabulary-sized.
    tk = bind(spread(table(spark, sf_dir, "documents"), "doc_id"),
              toks=textfns.tokens("text")).select(
        "doc_id", "toks"
    ).localCheckpoint(eager=True)
    grams = tk.select(
        "doc_id", F.explode(textfns.shingles(F.col("toks"), 2)).alias("gram")
    ).localCheckpoint(eager=True)
    bc = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cab"))
        .localCheckpoint(eager=True)
    )
    ctx = (
        bc.withColumn("a", F.split_part("gram", F.lit(" "), F.lit(1)))
        .groupBy("a")
        .agg(F.sum("cab").alias("ca"))
    )
    uni = (
        tk.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
        # read by both the total and the interpolation join.
        .localCheckpoint(eager=True)
    )
    tot = uni.agg(F.sum("cw").alias("n"))
    lam = F.lit(_JM_L_NUM) / F.lit(float(_JM_L_DEN))
    lp_tbl = (
        bc.withColumn("a", F.split_part("gram", F.lit(" "), F.lit(1)))
        .withColumn("w", F.split_part("gram", F.lit(" "), F.lit(2)))
        .join(ctx, "a")
        .join(uni, "w")
        .crossJoin(tot)
        .select(
            "gram",
            F.log(
                lam * F.col("cab") / F.col("ca")
                + (1 - lam) * F.col("cw") / F.col("n")
            ).alias("lp"),
        )
    )
    return (
        grams.join(F.broadcast(lp_tbl), "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("avg_logprob_jm"),
        )
    )
