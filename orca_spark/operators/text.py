"""Text-analysis operators for training-data pipelines.

All hot-path expressions are built-in SQL functions (split / filter /
size / regexp) — JVM-side, whole-stage codegen, no Python UDFs — so a
100 TB documents table is one scan + narrow transforms with zero
shuffles except where an aggregate is requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

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
