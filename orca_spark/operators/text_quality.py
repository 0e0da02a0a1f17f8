"""Document quality rules: the filters a pretraining pipeline runs
before anything else.

* Repetition signals, PII scrubbing and the composed keep/drop gate
  (``text_repetition_signals``, ``text_pii_scrub``,
  ``documents_quality_filter``), plus the Python-UDTF tokenizer.
* The published Gopher / MassiveText rules (Rae et al. 2021, "Scaling
  Language Models", appendix A1.1) as an exact integer scorecard
  (``text_gopher_quality_rules``): word-count and mean-word-length
  bounds, bullet-line and ellipsis-line fractions, symbol-to-word
  ratio and minimum stopword hits. Fractions are ppm via integer
  division and mean word length is in centi-chars, so the scorecard is
  cross-engine hash-exact.
* The zlib compression-ratio signal (``text_compression_ratio``): low
  ratio = boilerplate/repetition, near 1 = high-entropy noise. zlib is
  deterministic at a fixed level but no SQL engine exposes it, so this
  one is behavior-tested (rows-only) through an Arrow-batched
  ``mapInPandas`` kernel.
* The C4 cleaning rules (Raffel et al. 2020, §2.2) as a page-level
  integer scorecard (``text_c4_filter_rules``): terminal punctuation,
  at least 3 sentences, mean words-per-sentence >= 5 (centi-words), and
  no "lorem ipsum", curly brace or "javascript". The synthetic corpus
  is punctuation-free word soup, so its sentence columns are degenerate
  there; planted fixtures in tests/test_r08_ops.py pin the
  discriminating behavior.
* The per-source percentile gate (``quality_percentile_gate``): keep
  each source's top quintile by token count, so one fixed threshold
  does not misfire across heterogeneous sources.

Everything except the compression kernel is codegen'd SQL; the rule
scorecards are shuffle-free row-local maps, scan-bound at any scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

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


# ---------------------------------------------------------------------------
# Gopher rules and the compression-ratio signal
# ---------------------------------------------------------------------------


# Gopher A1.1 thresholds (ppm where fractional)
_MIN_WORDS, _MAX_WORDS = 50, 100_000
_MIN_MWL_C, _MAX_MWL_C = 300, 1000  # mean word length in [3, 10] chars
_MAX_BULLET_PPM = 900_000  # <= 90% of lines bullet-started
_MAX_ELLIPSIS_PPM = 300_000  # <= 30% of lines ellipsis-ended
_MAX_HASH_PPM = 100_000  # '#' symbols <= 10% of words
_MIN_STOPWORD_HITS = 2
_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@register(
    "text_gopher_quality_rules",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks,
                   string_split(text, chr(10)) AS lines
            FROM documents WHERE text IS NOT NULL
        ),
        m AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(CASE WHEN len(toks) = 0 THEN 0
                        ELSE len(array_to_string(toks, '')) * 100 // len(toks)
                        END AS BIGINT) AS mean_word_len_c,
                   CAST(len(list_filter(lines,
                            l -> l LIKE '-%' OR l LIKE '*%'))
                        * 1000000 // len(lines) AS BIGINT) AS bullet_ppm,
                   CAST(len(list_filter(lines, l -> l LIKE '%...'))
                        * 1000000 // len(lines) AS BIGINT) AS ellipsis_ppm,
                   CAST(CASE WHEN len(toks) = 0 THEN 0
                        ELSE (len(array_to_string(toks, ''))
                              - len(replace(array_to_string(toks, ''), '#', '')))
                             * 1000000 // len(toks)
                        END AS BIGINT) AS hash_ppm,
                   CAST(len(list_intersect(toks,
                            [{", ".join(repr(s) for s in _STOPWORDS)}]))
                        AS BIGINT) AS n_stopword_hits
            FROM scored
        )
        SELECT *,
               (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                AND mean_word_len_c BETWEEN {_MIN_MWL_C} AND {_MAX_MWL_C}
                AND bullet_ppm <= {_MAX_BULLET_PPM}
                AND ellipsis_ppm <= {_MAX_ELLIPSIS_PPM}
                AND hash_ppm <= {_MAX_HASH_PPM}
                AND n_stopword_hits >= {_MIN_STOPWORD_HITS}) AS keep
        FROM m
    """,
    description="the published Gopher/MassiveText document-quality "
    "rules (Rae et al. 2021 A1.1) as an exact integer scorecard: word "
    "count, mean word length (centi-chars), bullet-started and "
    "ellipsis-ended line fractions (ppm), '#'-symbol-per-word ppm, "
    "stopword hits, and the composed keep flag — the standard web "
    "first-pass filter; all-integer arithmetic, shuffle-free row-local "
    "map",
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    lines = F.split("text", "\n")
    # tok_chars derives from the already-computed toks column in a
    # second select — tokenizing once per row, not twice (split+filter
    # dominates this scan-bound operator on web-scale docs)
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        lines.alias("lines"),
    ).withColumn("tok_chars", F.length(F.array_join(F.col("toks"), "")))
    m = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.size("lines").cast("long").alias("n_lines"),
        # every ppm/centi multiply is widened to BIGINT *before* the
        # multiply: size()/length() are INT, and INT * 1000000 overflows
        # (ANSI ARITHMETIC_OVERFLOW) past ~2147 qualifying lines / ~21M
        # chars — exactly the web-scale docs this filter exists for.
        F.when(F.size("toks") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("CAST(tok_chars AS BIGINT) * 100 div size(toks)"))
        .alias("mean_word_len_c"),
        F.expr(
            "CAST(size(filter(lines, l -> l LIKE '-%' OR l LIKE '*%')) "
            "AS BIGINT) * 1000000 div size(lines)"
        )
        .cast("long")
        .alias("bullet_ppm"),
        F.expr(
            "CAST(size(filter(lines, l -> l LIKE '%...')) AS BIGINT) "
            "* 1000000 div size(lines)"
        )
        .cast("long")
        .alias("ellipsis_ppm"),
        F.when(F.size("toks") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST(tok_chars - length(replace(concat_ws('', toks), '#', ''))"
                " AS BIGINT) * 1000000 div size(toks)"
            )
        )
        .alias("hash_ppm"),
        F.size(
            F.array_intersect("toks", F.array(*[F.lit(s) for s in _STOPWORDS]))
        )
        .cast("long")
        .alias("n_stopword_hits"),
    )
    return m.withColumn(
        "keep",
        F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
        & F.col("mean_word_len_c").between(_MIN_MWL_C, _MAX_MWL_C)
        & (F.col("bullet_ppm") <= _MAX_BULLET_PPM)
        & (F.col("ellipsis_ppm") <= _MAX_ELLIPSIS_PPM)
        & (F.col("hash_ppm") <= _MAX_HASH_PPM)
        & (F.col("n_stopword_hits") >= _MIN_STOPWORD_HITS),
    )


def _compress_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched zlib scoring kernel (module scope: picklable, and
    testable without Spark)."""
    import zlib

    for pdf in batches:
        raw = pdf["text"].str.encode("utf-8")
        raw_len = raw.str.len().astype("int64")
        comp_len = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "raw_bytes": raw_len,
                "zlib_bytes": comp_len,
                "ratio_ppm": comp_len * 1_000_000 // raw_len.clip(lower=1),
            }
        )


@register(
    "text_compression_ratio",
    # no oracle: zlib is not expressible in SQL — behavior-tested in
    # tests/test_r08_ops.py (repetition compresses, randomness doesn't,
    # determinism across runs) and rows-only checked by the driver
    description="zlib-6 compression ratio per document (ppm): the "
    "entropy-style quality signal — near-zero flags boilerplate/"
    "repetition, near-1e6 flags high-entropy noise, both standard cut "
    "ends in web-corpus curation; Arrow-batched mapInPandas (zlib is "
    "deterministic at a fixed level but not expressible in SQL, so "
    "this operator is behavior-tested rather than oracled), pure "
    "row-local map, zero shuffles",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    return docs.mapInPandas(
        _compress_batches,
        "doc_id bigint, raw_bytes bigint, zlib_bytes bigint, ratio_ppm bigint",
    )


# ---------------------------------------------------------------------------
# C4 cleaning rules
# ---------------------------------------------------------------------------


_MIN_SENTENCES = 3
_MIN_WPS_CENTI = 500  # mean words per sentence >= 5.00


@register(
    "text_c4_filter_rules",
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                                        t -> t <> '')) AS BIGINT) AS n_words,
                   CAST(len(list_filter(
                            string_split_regex(text, '[.!?]'),
                            s -> trim(s) <> '')) AS BIGINT) AS n_sentences,
                   (rtrim(text) LIKE '%.' OR rtrim(text) LIKE '%!'
                    OR rtrim(text) LIKE '%?') AS ends_terminal,
                   contains(text, '{{') AS has_brace,
                   contains(lower(text), 'lorem ipsum') AS has_lorem,
                   contains(lower(text), 'javascript') AS has_javascript
            FROM documents WHERE text IS NOT NULL
        )
        SELECT *,
               CAST(CASE WHEN n_sentences = 0 THEN 0
                    ELSE n_words * 100 // n_sentences END AS BIGINT)
                   AS wps_centi,
               (ends_terminal
                AND n_sentences >= {_MIN_SENTENCES}
                AND CASE WHEN n_sentences = 0 THEN 0
                    ELSE n_words * 100 // n_sentences END
                    >= {_MIN_WPS_CENTI}
                AND NOT has_brace AND NOT has_lorem
                AND NOT has_javascript) AS keep
        FROM m
    """,
    description="the published C4 cleaning rules (Raffel et al. 2020 "
    "§2.2) as a page-level integer scorecard: terminal-punctuation "
    "ending, sentence count >= 3, mean words-per-sentence (centi-words) "
    ">= 5, and the lorem-ipsum / curly-brace / javascript content "
    "flags, plus the composed keep flag — shuffle-free row-local map, "
    "all-integer arithmetic",
)
def text_c4_filter_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    m = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != F.lit("")))
        .cast("long")
        .alias("n_words"),
        F.size(
            F.filter(
                F.split("text", r"[.!?]"), lambda s: F.trim(s) != F.lit("")
            )
        )
        .cast("long")
        .alias("n_sentences"),
        (
            F.rtrim(F.col("text")).like("%.")
            | F.rtrim(F.col("text")).like("%!")
            | F.rtrim(F.col("text")).like("%?")
        ).alias("ends_terminal"),
        F.col("text").contains("{").alias("has_brace"),
        F.lower("text").contains("lorem ipsum").alias("has_lorem"),
        F.lower("text").contains("javascript").alias("has_javascript"),
    )
    wps = F.when(F.col("n_sentences") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("n_words * 100 div n_sentences")
    )
    return m.withColumn("wps_centi", wps).withColumn(
        "keep",
        F.col("ends_terminal")
        & (F.col("n_sentences") >= _MIN_SENTENCES)
        & (F.col("wps_centi") >= _MIN_WPS_CENTI)
        & ~F.col("has_brace")
        & ~F.col("has_lorem")
        & ~F.col("has_javascript"),
    )


# ---------------------------------------------------------------------------
# Per-source percentile gate
# ---------------------------------------------------------------------------


_GATE_PCT = 0.8  # keep percent_rank >= 0.8: the top quintile per source


@register(
    "quality_percentile_gate",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                        AS BIGINT) AS n_words
            FROM documents WHERE text IS NOT NULL
        ),
        ranked AS (
            SELECT doc_id, source, n_words,
                   percent_rank() OVER (PARTITION BY source ORDER BY n_words)
                       AS pr,
                   max(n_words) OVER (PARTITION BY source) AS mx
            FROM scored
        )
        SELECT doc_id, source, n_words, pr FROM ranked
        WHERE pr >= {_GATE_PCT} OR n_words = mx
    """,
    description="per-source adaptive quality gate: keep each source's "
    f"top quintile by token count (percent_rank >= {_GATE_PCT} within "
    "source), and ALWAYS its best document(s) — for a source with few "
    "docs percent_rank=(rank-1)/(n-1) never reaches the cutoff (a "
    "single-doc source scores 0), so without the max-escape entire "
    "small sources would be silently discarded; percentile cutoffs "
    "normalize quality filtering across heterogeneous domains where "
    "one fixed threshold misfires; percent_rank is integer-derived "
    "((rank-1)/(n-1)), so the value is cross-engine exact",
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one source-keyed window over (doc_id, source, n_words) —
    the window input is three narrow columns, not the text; skewed
    sources are the data's own skew (a single source's ranking cannot
    be salted without changing the semantics, but the per-row state is
    12 bytes). Ties share a percent_rank in both engines, so the gate
    is deterministic without a tiebreak column."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = docs.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", " "), lambda t: t != F.lit(""))).cast(
            "long"
        ).alias("n_words"),
    )
    w = W.partitionBy("source").orderBy("n_words")
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .withColumn("mx", F.max("n_words").over(W.partitionBy("source")))
        .where((F.col("pr") >= _GATE_PCT) | (F.col("n_words") == F.col("mx")))
        .select("doc_id", "source", "n_words", "pr")
    )
