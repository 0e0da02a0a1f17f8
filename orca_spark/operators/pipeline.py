"""End-to-end pretraining-corpus build as ONE declarative plan.

The showcase composition: the hygiene stages this engine provides as
individual operators — quality gate (documents_quality_filter), exact
dedup survivors (dedup), content-hash split assignment
(documents_train_val_test) — chained into a single
DataFrame plan that ends in the per-(split, lang) corpus card a data
curator actually reads: document counts, token totals, source
diversity, mean repetition. Because every stage is declarative,
Catalyst fuses the gates into the scan and the whole pipeline costs
two shuffles (the dedup group and the final rollup) — composition adds
ZERO extra passes over the corpus.

Stage constants deliberately mirror the standalone operators
(documents_quality_filter's C4/Gopher thresholds,
documents_train_val_test's md5-nibble split), so the composite is consistent with its parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load

# documents_train_val_test's content-hash split: a pure function of the text
_SPLIT_CASE_SQL = (
    "CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train' "
    "WHEN substr(md5(text), 1, 1) < 'e' THEN 'val' ELSE 'test' END"
)


@register(
    "pipeline_pretrain_corpus",
    oracle=f"""
        WITH sig AS (
            SELECT doc_id, text, lang, source,
                   len(string_split(text, ' ')) AS n_tokens,
                   1.0 - len(list_distinct(string_split(text, ' '))) * 1.0
                         / len(string_split(text, ' ')) AS dup_frac,
                   list_contains(string_split(text, ' '), 'the') AS has_marker
            FROM documents WHERE text IS NOT NULL
        ),
        kept AS (
            SELECT * FROM sig
            WHERE n_tokens >= 20 AND n_tokens <= 10000
              AND dup_frac <= 0.85 AND has_marker
        ),
        surv AS (
            SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
        ),
        corpus AS (
            SELECT k.* FROM kept k JOIN surv s ON k.doc_id = s.doc_id
        )
        SELECT {_SPLIT_CASE_SQL} AS split, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               round(avg(dup_frac), 4) AS avg_dup_frac
        FROM corpus
        GROUP BY 1, 2
    """,
    description="the full corpus-hygiene pipeline as one plan: "
    "C4/Gopher quality gate -> exact-dedup survivors (min doc_id per "
    "content hash) -> content-hash train/val/test split -> per-(split, "
    "lang) corpus card (docs, tokens, source diversity, repetition); "
    "composition adds zero extra corpus passes",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the quality signals are per-row expressions Catalyst fuses
    into the scan; the dedup group shuffles 8-byte xxhash64 keys (the
    dedup_exact convention — the oracle groups on md5, an equivalent
    partition of identical texts); the survivor join is doc_id-keyed;
    the final rollup partial-aggregates onto a (3 × |langs|)-row card.
    Two shuffles total for the whole pipeline.

    Determinism: gates are integer/boolean, survivor choice is min
    doc_id within exact-text groups (hash-function-independent), the
    split is a pure function of content, and the single float output
    (avg dup_frac) is rounded (4) per convention."""
    t = F.split("text", " ")
    sig = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "text",
            "lang",
            "source",
            F.size(t).alias("n_tokens"),
            (
                F.lit(1.0) - F.size(F.array_distinct(t)) * F.lit(1.0) / F.size(t)
            ).alias("dup_frac"),
            F.array_contains(t, "the").alias("has_marker"),
        )
    )
    kept = sig.where(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 10000)
        & (F.col("dup_frac") <= 0.85)
        & F.col("has_marker")
    )
    surv = (
        kept.groupBy(F.xxhash64("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    corpus = kept.join(surv, "doc_id")
    return (
        corpus.select(F.expr(_SPLIT_CASE_SQL).alias("split"), "lang", "n_tokens",
                      "source", "dup_frac")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("source").alias("n_sources"),
            F.round(F.avg("dup_frac"), 4).alias("avg_dup_frac"),
        )
    )
