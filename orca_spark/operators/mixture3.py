"""Mixture batch 3: the two steps between a scored corpus and a data
loader — quality-bucket mix scheduling and exact token-budget
apportionment.

``corpus_ccnet_mix_schedule`` composes the CCNet quality partition
(Wenzek et al. 2020: per-language head/middle/tail terciles by
corpus-fit LM score; training keeps head+middle) with the alpha=0.5
temperature weights (mixture2's exact integer sqrt): the output is the
sampling schedule a curation run hands the loader — per (lang, kept
bucket), document/token mass and the within-language sampling weight.
This is literally CCNet's published tail-drop feeding the published
multilingual rebalancing schedule, as one plan.

``corpus_token_budget_allocation`` turns mixing weights into an exact
allocation: given a global budget of B tokens, each (lang, source)
shard receives floor(B·root/T) plus one of the L = B − Σfloor leftover
tokens by LARGEST REMAINDER (Hamilton apportionment) — the standard
exact method that guarantees Σ alloc = B with no float in sight.
Ties on remainder break by (lang, source) so the allocation is total
and reproducible. A zero-mass shard (root 0) has remainder 0 and since
L < #shards-with-positive-remainder it can never receive a leftover
token — no special-casing needed, asserted in tests.

Scale: both end in model-sized manifests. The schedule's only window
is CCNet's own per-lang ntile over one row per DOCUMENT (what CCNet
runs; an approx-quantile cut replaces it if even that is too wide);
the apportionment's global windows run over the (lang, source)
manifest — thousands of rows at any corpus size. All weight/allocation
arithmetic is BIGINT (B·root ≤ 1e9·1e7 at 100 TB — no overflow), so
both manifests are cross-engine hash-exact.

Reference parity: core.clj has no corpus surface (SURVEY §2.5);
LLM-pipeline extension alongside mixture.py/mixture2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from orca_spark.operators.mixture2 import _with_isqrt
from orca_spark.operators.text_lm import unigram_logprob_df
from orca_spark.registry import register
from orca_spark.tables import load

_BUDGET = 1_000_000_000  # global token budget B for the apportionment


@register(
    "corpus_ccnet_mix_schedule",
    oracle="""
        WITH docs AS (SELECT doc_id, lang, text FROM documents
                      WHERE text IS NOT NULL AND lang IS NOT NULL),
        tok AS (
            SELECT doc_id, w
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM docs)
            WHERE w <> ''
        ),
        counts AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        total AS (SELECT sum(c) AS total FROM counts),
        scored AS (
            -- the ntile ORDER key is the 1e-4 fixed-point INTEGER of
            -- the rounded score: ordering doubles would let a last-ulp
            -- summation difference near a tercile boundary flip a
            -- doc's bucket (membership amplifies a 4th-decimal drift
            -- into whole-row changes); both engines derive the same
            -- integer from the same rounded double
            SELECT tok.doc_id,
                   CAST(round(round(avg(ln(counts.c / total.total)), 4)
                              * 10000) AS BIGINT) AS s_e4,
                   CAST(count(*) AS BIGINT) AS doc_tokens
            FROM tok JOIN counts ON counts.w = tok.w CROSS JOIN total
            GROUP BY tok.doc_id
        ),
        terciled AS (
            SELECT docs.lang, scored.doc_tokens,
                   ntile(3) OVER (PARTITION BY docs.lang
                                  ORDER BY scored.s_e4 DESC, scored.doc_id)
                       AS t
            FROM scored JOIN docs ON docs.doc_id = scored.doc_id
        ),
        kept AS (
            SELECT lang,
                   CASE t WHEN 1 THEN 'head' ELSE 'middle' END AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(doc_tokens) AS BIGINT) AS n_tokens
            FROM terciled WHERE t <= 2
            GROUP BY lang, t
        ),
        rooted AS (
            SELECT *, CAST(CASE
                WHEN s * s > n_tokens THEN s - 1
                WHEN (s + 1) * (s + 1) <= n_tokens THEN s + 1
                ELSE s END AS BIGINT) AS root
            FROM (SELECT *,
                         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)))
                              AS BIGINT) AS s
                  FROM kept)
        )
        SELECT lang, bucket, n_docs, n_tokens,
               CAST(CASE WHEN sum(root) OVER (PARTITION BY lang) = 0
                    THEN NULL
                    ELSE root * 1000000
                         // sum(root) OVER (PARTITION BY lang)
                    END AS BIGINT) AS weight_ppm
        FROM rooted
    """,
    description="CCNet tail-drop feeding the sqrt-temperature sampler "
    "as one plan: per-language head/middle/tail terciles by corpus-fit "
    "unigram score (Wenzek et al. 2020), tail dropped, then alpha=0.5 "
    "integer-sqrt sampling weights across each language's two kept "
    "buckets — the per-(lang, bucket) schedule a loader samples from; "
    "one per-lang document-level ntile window, model-sized manifest, "
    "BIGINT ppm weights with the explicit zero-mass NULL contract",
)
def corpus_ccnet_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    # fixed-point INTEGER ordering key (see the oracle's scored note):
    # bucket membership must not hinge on a double's last ulp
    scored = unigram_logprob_df(docs).select(
        "doc_id",
        F.round(F.col("avg_logprob") * 10000).cast("long").alias("s_e4"),
        F.col("n_tokens").alias("doc_tokens"),
    )
    terciled = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "doc_tokens",
        F.ntile(3)
        .over(W.partitionBy("lang").orderBy(F.desc("s_e4"), F.col("doc_id")))
        .alias("t"),
    )
    kept = (
        terciled.where(F.col("t") <= 2)
        .groupBy("lang", "t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            F.when(F.col("t") == 1, "head").otherwise("middle").alias("bucket"),
            "n_docs",
            "n_tokens",
        )
    )
    rooted = _with_isqrt(kept)
    wlang = W.partitionBy("lang")
    return rooted.withColumn("_den", F.sum("root").over(wlang)).select(
        "lang",
        "bucket",
        "n_docs",
        "n_tokens",
        # zero-mass guard FIRST (ANSI div raises on 0): scored docs have
        # >= 1 token so root >= 1 whenever a row exists, but the
        # contract is explicit, not inherited (mixture2's rule)
        F.when(F.col("_den") == 0, F.lit(None))
        .otherwise(F.expr("root * 1000000 div _den"))
        .cast("long")
        .alias("weight_ppm"),
    )


@register(
    "corpus_token_budget_allocation",
    oracle=f"""
        WITH sized AS (
            SELECT lang, source,
                   CAST(len(list_filter(string_split(text, ' '),
                                        t -> t <> '')) AS BIGINT) AS n_toks
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
              AND source IS NOT NULL
        ),
        agg AS (
            SELECT lang, source, CAST(sum(n_toks) AS BIGINT) AS n_tokens
            FROM sized GROUP BY lang, source
        ),
        rooted AS (
            SELECT *, CAST(CASE
                WHEN s * s > n_tokens THEN s - 1
                WHEN (s + 1) * (s + 1) <= n_tokens THEN s + 1
                ELSE s END AS BIGINT) AS root
            FROM (SELECT *,
                         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)))
                              AS BIGINT) AS s
                  FROM agg)
        ),
        quota AS (
            SELECT lang, source, n_tokens, root,
                   sum(root) OVER () AS t,
                   {_BUDGET} * root AS q
            FROM rooted
        ),
        based AS (
            SELECT lang, source, n_tokens, root,
                   CASE WHEN t = 0 THEN NULL ELSE q // t END AS base,
                   CASE WHEN t = 0 THEN NULL ELSE q % t END AS rem
            FROM quota
        ),
        ranked AS (
            SELECT *,
                   {_BUDGET} - sum(base) OVER () AS leftover,
                   row_number() OVER (ORDER BY rem DESC, lang, source)
                       AS rk
            FROM based
        )
        SELECT lang, source, n_tokens, root,
               CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_tokens
        FROM ranked
    """,
    description=f"exact token-budget apportionment: a global budget of "
    f"{_BUDGET} tokens split across (lang, source) shards proportional "
    "to sqrt(token mass) by LARGEST REMAINDER (Hamilton): floor share "
    "plus one leftover token to the largest fractional remainders, "
    "ties broken by shard key — sums to the budget EXACTLY, all BIGINT "
    "arithmetic, zero-mass shards provably receive nothing; global "
    "windows run over the model-sized shard manifest only",
)
def corpus_token_budget_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    agg = (
        docs.select("lang", "source", F.size(toks).cast("long").alias("n_toks"))
        .groupBy("lang", "source")
        .agg(F.sum("n_toks").cast("long").alias("n_tokens"))
    )
    rooted = _with_isqrt(agg)
    wall = W.partitionBy()  # the manifest is model-sized; see docstring
    quota = rooted.select(
        "lang",
        "source",
        "n_tokens",
        "root",
        F.sum("root").over(wall).alias("_t"),
        (F.lit(_BUDGET) * F.col("root")).alias("_q"),
    )
    based = quota.select(
        "lang",
        "source",
        "n_tokens",
        "root",
        # T = 0 (every shard empty-token): explicit NULL allocation in
        # both engines rather than an ANSI divide-by-zero
        F.when(F.col("_t") == 0, F.lit(None))
        .otherwise(F.expr("_q div _t"))
        .alias("base"),
        F.when(F.col("_t") == 0, F.lit(None))
        .otherwise(F.expr("_q % _t"))
        .alias("rem"),
    )
    ranked = based.select(
        "*",
        (F.lit(_BUDGET) - F.sum("base").over(wall)).alias("_leftover"),
        F.row_number()
        .over(W.orderBy(F.desc("rem"), F.col("lang"), F.col("source")))
        .alias("_rk"),
    )
    return ranked.select(
        "lang",
        "source",
        "n_tokens",
        "root",
        (
            F.col("base")
            + F.when(F.col("_rk") <= F.col("_leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )
