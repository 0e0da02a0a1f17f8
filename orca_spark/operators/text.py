"""Token and language basics over the documents table.

Token counts, the type-token quality score, the stopword ratio, word
and document frequencies, content fingerprints, the readability proxy,
BPE-style token estimates, per-language corpus profiles and top terms,
and the nucleus (top-p) vocabulary.

All hot-path expressions are built-in SQL functions (split / filter /
size / regexp) — JVM-side, whole-stage codegen, no Python UDFs — so a
100 TB documents table is one scan + narrow transforms with zero
shuffles except where an aggregate is requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_spark.registry import register
from orca_spark.tables import load

# tiny per-language marker-word lists for the n-gram/stopword language
# heuristic; the synthetic corpus tags true lang in `lang` so the
# heuristic's accuracy is itself measurable (see lang_id_accuracy).
_STOPWORDS = ["the", "a", "value", "table"]


def tokens(col) -> Column:
    """Whitespace tokenization (single-space corpus → exact)."""
    return F.split(col, " ")


@register(
    "text_token_counts",
    oracle="""
        SELECT doc_id,
               CAST(length(text) AS BIGINT)                          AS n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT)          AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
        FROM documents
    """,
    description="token counting: chars, whitespace tokens, distinct tokens",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


@register(
    "text_quality_score",
    oracle="""
        SELECT doc_id,
               round(len(list_distinct(string_split(text, ' ')))
                     / len(string_split(text, ' ')), 4)                    AS ttr,
               round((length(text) - length(replace(text, ' ', '')))
                     / nullif(length(text), 0), 4)                         AS space_ratio,
               round(length(text) / len(string_split(text, ' ')), 4)      AS avg_token_len,
               CASE WHEN len(string_split(text, ' ')) >= 20
                         AND len(list_distinct(string_split(text, ' ')))
                             / len(string_split(text, ' ')) > 0.25
                    THEN 1 ELSE 0 END                                      AS passes_quality
        FROM documents
    """,
    description="quality scoring: type-token ratio, whitespace ratio, avg "
    "token length, and a pass/fail gate — the standard pre-training filters",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks).cast("double")
    n_chars = F.length("text").cast("double")
    ttr = F.size(F.array_distinct(toks)) / n_tok
    # nullif: an empty text has 0 chars — NULL ratio (both engines), not
    # an ANSI divide-by-zero abort
    space_ratio = (
        n_chars - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    ) / F.nullif(n_chars, F.lit(0.0))
    return d.select(
        "doc_id",
        F.round(ttr, 4).alias("ttr"),
        F.round(space_ratio, 4).alias("space_ratio"),
        F.round(n_chars / n_tok, 4).alias("avg_token_len"),
        F.when((F.size(toks) >= 20) & (ttr > 0.25), 1).otherwise(0).alias("passes_quality"),
    )


@register(
    "text_lang_stopword_ratio",
    oracle=f"""
        SELECT doc_id, lang,
               round(len(list_filter(string_split(text, ' '),
                          w -> w IN ({", ".join(repr(w) for w in _STOPWORDS)})))
                     / len(string_split(text, ' ')), 4) AS stopword_ratio
        FROM documents
    """,
    description="language-ID heuristic input: marker-word (stopword) ratio "
    "per document",
)
def text_lang_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    hits = F.size(F.filter(toks, lambda w: w.isin(_STOPWORDS)))
    return d.select(
        "doc_id",
        "lang",
        F.round(hits / F.size(toks).cast("double"), 4).alias("stopword_ratio"),
    )


@register(
    "text_word_frequencies",
    oracle="""
        SELECT w AS word, count(*) AS freq,
               count(DISTINCT doc_id) AS doc_freq
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    """,
    description="corpus term + document frequencies (explode → two-phase agg; "
    "at 100 TB this is the canonical skew case — AQE skew handling applies)",
)
def text_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    exploded = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    return exploded.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


@register(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    """,
    description="document fingerprint: md5 of whitespace-normalized, "
    "lowercased text (content-defined identity for exact dedup)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace("text", r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(F.encode(normalized, "UTF-8")).alias("fingerprint"),
    )


_VOWELS = "[aeiouAEIOU]+"
_SENT = "[.!?]+"


@register(
    "text_readability_proxy",
    oracle=f"""
        WITH per_doc AS (
            SELECT lang,
                   len(list_filter(string_split(text, ' '),
                                   t -> t <> '')) AS w,
                   len(regexp_extract_all(text, '{_SENT}')) AS s,
                   len(regexp_extract_all(text, '{_VOWELS}')) AS vg
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
        ),
        agg AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(w) AS BIGINT) AS words,
                   CAST(sum(s) AS BIGINT) AS sentences,
                   CAST(sum(vg) AS BIGINT) AS vowel_groups
            FROM per_doc GROUP BY lang
        )
        SELECT lang, n_docs, words, sentences, vowel_groups,
               round(206.835
                     - 1.015 * (words * 1.0 / nullif(sentences, 0))
                     - 84.6 * (vowel_groups * 1.0 / nullif(words, 0)),
                     4) AS flesch_proxy
        FROM agg
    """,
    description="per-language Flesch-style reading-ease proxy: words "
    "per sentence and vowel-group runs per word (the syllable "
    "stand-in) through the standard 206.835 formula — a deterministic "
    "ranking signal separating prose from listings/run-ons, not a "
    "true-syllable measurement; all counts are BIGINT regex counts, "
    "the formula applies to exact-integer ratios, rounded at the "
    "surface",
)
def text_readability_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    per_doc = docs.select(
        "lang",
        F.size(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("w"),
        F.regexp_count("text", F.lit(_SENT)).alias("s"),
        F.regexp_count("text", F.lit(_VOWELS)).alias("vg"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.sum("s").cast("long").alias("sentences"),
        F.sum("vg").cast("long").alias("vowel_groups"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "words",
        "sentences",
        "vowel_groups",
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words") / F.nullif(F.col("sentences"), F.lit(0)))
            - F.lit(84.6)
            * (F.col("vowel_groups") / F.nullif(F.col("words"), F.lit(0))),
            4,
        ).alias("flesch_proxy"),
    )


# ---------------------------------------------------------------------------
# BPE-style token estimates and per-language corpus profiles
# ---------------------------------------------------------------------------


@register(
    "text_bpe_token_estimate",
    oracle=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\w{1,4}')) AS BIGINT) AS n_bpe_tokens,
               round(length(text)
                     / nullif(len(regexp_extract_all(text, '\w{1,4}')), 0), 4)
                   AS chars_per_token
        FROM documents
    """,
    description="BPE-ish token count estimate: greedy <=4-char word-chunk "
    "regex (the standard ~4 chars/token heuristic), all codegen'd",
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    chunks = F.regexp_extract_all("text", F.lit(r"\w{1,4}"), 0)
    n = F.size(chunks)
    return d.select(
        "doc_id",
        n.cast("long").alias("n_bpe_tokens"),
        # nullif: a doc with no word chars (empty text) is NULL, not an
        # ANSI divide-by-zero abort
        F.round(
            F.length("text") / F.nullif(n.cast("double"), F.lit(0.0)), 4
        ).alias("chars_per_token"),
    )


@register(
    "text_lang_stats",
    oracle="""
        SELECT lang,
               count(*) AS n_docs,
               round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
               round(avg(len(list_distinct(string_split(text, ' ')))
                         / len(string_split(text, ' '))), 4) AS avg_ttr,
               round(CAST(sum(n_chars) AS DOUBLE), 2) AS total_chars
        FROM documents
        GROUP BY lang
    """,
    description="per-language corpus profile: doc counts, token lengths, "
    "type-token ratios (the aggregate view behind language-aware sampling)",
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(toks)) / F.size(toks).cast("double")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.size(toks).cast("double")), 4).alias("avg_tokens"),
        F.round(F.avg(ttr), 4).alias("avg_ttr"),
        F.round(F.sum(F.col("n_chars").cast("double")), 2).alias("total_chars"),
    )


@register(
    "text_top_terms_per_lang",
    oracle="""
        SELECT lang, word, freq
        FROM (
            SELECT lang, w AS word, count(*) AS freq,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, w) AS rn
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY lang, w
        )
        WHERE rn <= 5
    """,
    description="top-5 terms per language: the frequency profile that "
    "distinguishes languages in this corpus (explode → agg → window top-k)",
)
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("word"))
    freq = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("freq"))
    w = W.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("word"))
    return (
        freq.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "word", "freq")
    )


# ---------------------------------------------------------------------------
# Nucleus (top-p) vocabulary: per language, the smallest prefix of the
# frequency-sorted vocabulary whose cumulative mass reaches p — the
# coverage-based cut for tokenizer-vocab sizing and stopword induction
# ---------------------------------------------------------------------------


_TOP_P_NUM = 1  # the nucleus threshold as an exact rational: 1/2
_TOP_P_DEN = 2


@register(
    "text_nucleus_vocab",
    oracle=f"""
        WITH tok AS (
            SELECT lang, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE text IS NOT NULL
        ),
        freq AS (
            SELECT lang, word, count(*) AS freq
            FROM tok GROUP BY lang, word
        ),
        cum AS (
            SELECT lang, word, freq,
                   sum(freq) OVER (PARTITION BY lang) AS total,
                   sum(freq) OVER (
                       PARTITION BY lang ORDER BY freq DESC, word
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_freq
            FROM freq
        )
        SELECT lang, word, CAST(freq AS BIGINT) AS freq,
               round(freq / total, 6) AS prob,
               round(cum_freq / total, 6) AS cum_prob
        FROM cum
        WHERE (cum_freq - freq) * {_TOP_P_DEN} < total * {_TOP_P_NUM}
    """,
    description=f"nucleus (top-p={_TOP_P_NUM}/{_TOP_P_DEN}) vocabulary: "
    "per-lang token frequencies, frequency-sorted cumulative-mass "
    "window, keep the minimal prefix covering p of all occurrences — "
    "the coverage-based alternative to a fixed top-k term list",
)
def text_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the explode+count is the one heavy shuffle (partial-agged
    map-side, (lang, word) keys); the windows then run on the
    AGGREGATED vocabulary (|vocab| rows per lang, not token
    occurrences). Per-lang vocabulary outgrowing one partition is the
    window's pinch point; the two-pass partial/offset pattern
    (window_distribution_scalable) is the documented escape.

    Determinism: the nucleus filter is PURE INTEGER arithmetic —
    ``(cum_freq - freq) * den < total * num`` keeps a term iff the mass
    strictly before it is short of p (the minimal covering prefix,
    never empty) — so there is no floating cumulative sum whose
    engine-specific addition order could flip a strict-< boundary.
    The float columns are display-only single divisions of identical
    integers, bit-equal on both engines before rounding."""
    tok = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("lang", F.explode(F.split("text", " ")).alias("word"))
    )
    freq = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("freq"))
    per_lang = W.partitionBy("lang")
    order = (
        W.partitionBy("lang")
        .orderBy(F.col("freq").desc(), "word")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = freq.select(
        "lang",
        "word",
        "freq",
        F.sum("freq").over(per_lang).alias("total"),
        F.sum("freq").over(order).alias("cum_freq"),
    )
    return cum.where(
        (F.col("cum_freq") - F.col("freq")) * _TOP_P_DEN
        < F.col("total") * _TOP_P_NUM
    ).select(
        "lang",
        "word",
        "freq",
        F.round(F.col("freq") / F.col("total"), 6).alias("prob"),
        F.round(F.col("cum_freq") / F.col("total"), 6).alias("cum_prob"),
    )
