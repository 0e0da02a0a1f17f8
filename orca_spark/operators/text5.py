"""Text quality batch 3: corpus-hygiene filters a pretraining pipeline
runs before anything else — repetition signals, PII scrubbing, and the
composed keep/drop gate (the Gopher/C4-style rule stack).

All pure codegen'd SQL: token arrays via ``split``/``array_distinct``,
n-gram frequencies via explode + two-level aggregation (shuffles on
(doc_id, gram) then doc_id — both map-side-combinable), regex scrubbing
via ``regexp_replace``/``regexp_count``. No Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load

# deliberately RE2-compatible patterns (no backrefs/lookarounds) so the
# Spark (java.util.regex) and DuckDB (RE2) sides match byte-for-byte
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_LONG_NUM = r"\d{4,}"


@register(
    "text_repetition_signals",
    oracle="""
        WITH tk AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS g
            FROM tk
        ),
        gcounts AS (
            SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
        ),
        gstats AS (
            SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_grams
            FROM gcounts GROUP BY doc_id
        )
        SELECT tk.doc_id,
               CAST(len(t) AS BIGINT)                                AS n_tokens,
               round(1.0 - len(list_distinct(t)) * 1.0 / len(t), 6)  AS dup_token_frac,
               round(top_c * 1.0 / n_grams, 6)                       AS top_bigram_frac
        FROM tk JOIN gstats ON tk.doc_id = gstats.doc_id
    """,
    description="Gopher-style repetition signals: duplicate-token "
    "fraction (1 - distinct/total, array math — no shuffle) and "
    "top-bigram fraction (explode → (doc,gram) count → per-doc max; two "
    "map-side-combinable aggregations). High values flag the "
    "boilerplate/spam documents a pretraining filter drops first",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.split("text", " ").alias("t"))
    n = F.size("t")
    dup = F.round(
        F.lit(1.0) - F.size(F.array_distinct("t")) * F.lit(1.0) / n, 6
    )
    base = tk.select(
        "doc_id", n.cast("long").alias("n_tokens"), dup.alias("dup_token_frac")
    )
    # guard the window: sequence(1, 0) would produce [1, 0] (step -1)
    # and index past a 1-token array — single-token docs have no bigrams
    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("t", i), F.element_at("t", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = tk.select("doc_id", F.explode(bigrams).alias("g"))
    gstats = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_grams"))
    )
    top = F.round(F.col("top_c") * F.lit(1.0) / F.col("n_grams"), 6)
    return base.join(gstats, "doc_id").select(
        "doc_id", "n_tokens", "dup_token_frac", top.alias("top_bigram_frac")
    )


@register(
    "text_pii_scrub",
    oracle=f"""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
                       '{_IPV4}', '<IP>', 'g'),
                   '{_LONG_NUM}', '<NUM>', 'g')                       AS scrubbed,
               CAST(len(regexp_extract_all(text, '{_EMAIL}'))
                    + len(regexp_extract_all(text, '{_IPV4}'))
                    + len(regexp_extract_all(text, '{_LONG_NUM}'))
                    AS BIGINT)                                        AS n_redactions
        FROM documents
    """,
    description="PII scrubbing: emails, IPv4 addresses and long digit "
    "runs replaced with typed placeholders (RE2-compatible patterns so "
    "the oracle matches byte-for-byte), plus the per-doc redaction "
    "count — one codegen'd projection, no shuffle, no Python",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL, "<EMAIL>"), _IPV4, "<IP>"
        ),
        _LONG_NUM,
        "<NUM>",
    )
    count = (
        F.regexp_count("text", F.lit(_EMAIL))
        + F.regexp_count("text", F.lit(_IPV4))
        + F.regexp_count("text", F.lit(_LONG_NUM))
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        count.cast("long").alias("n_redactions"),
    )


@register(
    "documents_quality_filter",
    oracle="""
        WITH s AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        sig AS (
            SELECT doc_id,
                   len(t)                                   AS n_tokens,
                   1.0 - len(list_distinct(t)) * 1.0 / len(t) AS dup_frac,
                   list_contains(t, 'the')                  AS has_marker
            FROM s
        )
        SELECT doc_id,
               concat_ws(',',
                   CASE WHEN n_tokens < 20 THEN 'too_short' END,
                   CASE WHEN n_tokens > 10000 THEN 'too_long' END,
                   CASE WHEN dup_frac > 0.85 THEN 'too_repetitive' END,
                   CASE WHEN NOT has_marker THEN 'no_marker_words' END
               )                                            AS drop_reasons,
               (n_tokens >= 20 AND n_tokens <= 10000
                AND dup_frac <= 0.85 AND has_marker)        AS keep
        FROM sig
    """,
    description="composed quality gate (the C4/Gopher rule stack): "
    "length bounds, duplicate-token ceiling, marker-word presence — "
    "emits keep + the comma-joined drop reasons so filter tuning can "
    "attribute losses per rule; single codegen'd projection",
)
def documents_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    sig = d.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        (F.lit(1.0) - F.size(F.array_distinct(t)) * F.lit(1.0) / F.size(t)).alias(
            "dup_frac"
        ),
        F.array_contains(t, "the").alias("has_marker"),
    )
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_tokens") < 20, "too_short"),
        F.when(F.col("n_tokens") > 10000, "too_long"),
        F.when(F.col("dup_frac") > 0.85, "too_repetitive"),
        F.when(~F.col("has_marker"), "no_marker_words"),
    )
    keep = (
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 10000)
        & (F.col("dup_frac") <= 0.85)
        & F.col("has_marker")
    )
    return sig.select("doc_id", reasons.alias("drop_reasons"), keep.alias("keep"))


@register(
    "text_tokens_udtf",
    oracle="""
        SELECT doc_id, t.w AS token, t.i AS token_idx
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(tk) + 1),
                          j -> {'w': tk[j], 'i': CAST(j - 1 AS INT)})) AS t
            FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        )
    """,
    description="Python UDTF (user-defined TABLE function, Spark 3.5+): "
    "each document lateral-expands into (token, index) rows through a "
    "generator-style class UDTF — the row-producing Python shape that "
    "complements the Arrow column paths; oracle is the equivalent "
    "posexplode, proving the UDTF expansion value-exact. For pure "
    "tokenization the codegen'd posexplode is the production choice — "
    "the UDTF shape is for expansions with real Python logic per row",
)
def text_tokens_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, token_idx int")
    class Tokenize:
        def eval(self, text: str):
            if text is None:  # NULL text -> no rows, like string_split
                return
            for i, w in enumerate(text.split(" ")):
                yield w, i

    spark.udtf.register("orca_tokenize", Tokenize)
    docs = load(spark, sf_dir, "documents")
    return spark.sql(
        "SELECT doc_id, t.token, t.token_idx "
        "FROM {docs}, LATERAL orca_tokenize(text) t",
        docs=docs.select("doc_id", "text"),
    )
