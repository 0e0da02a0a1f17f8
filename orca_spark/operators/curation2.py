"""Corpus curation, round 8 batch 2: DSIR importance weights, CCNet
perplexity buckets, and an inverted-index build.

``corpus_dsir_importance`` is the importance-resampling weight from
DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"): score each document by the mean log-ratio of
a TARGET-domain unigram LM to the CORPUS unigram LM, add-1 smoothed
over the corpus vocabulary. Documents that look more like the target
domain (here: ``source = 'src0'``, standing in for "high-quality
reference corpus") get positive weights and are preferentially
resampled. DSIR proper uses hashed n-gram features; raw unigrams are
the same estimator on an unhashed feature space — the hashing is a
memory bound, not a semantics change, and the hashed variant drops in
by keying on ``xxhash64(w) % B`` instead of ``w``.

``corpus_ccnet_perplexity_buckets`` is the CCNet quality partition
(Wenzek et al. 2020): score each document with a corpus-fit LM
(here the unigram perplexity proxy the quality family already uses),
then split each language into head / middle / tail terciles by score.
CCNet keeps head+middle for LM training; the bucket summary (doc
counts + score range per bucket) is the audit artifact a curation run
records.

``retrieval_inverted_index`` builds the postings summary of a search
index: per term, document frequency, collection frequency, and the
top-scoring posting (highest tf, ties to the lowest doc_id). This is
the BM25/TF-IDF sibling that materializes the index-side statistics
instead of query-side scores.

Determinism: every probability is a ratio of BIGINT counts (exact in
binary fp at any realistic corpus size), ``ln`` of the same double is
the same double both engines (established by the green logprob/KL
family), and every ordering ties back to doc_id. ntile ordering is
(score DESC, doc_id) — total, so tercile assignment is reproducible.

Scale: all three are explode → partial-aggregable groupBys keyed by
term or doc — map-side combine applies, no windows over the token
stream, no joins wider than term-keyed. The DSIR target-LM and the
scalar totals ride as broadcasts. The only window is CCNet's per-lang
ntile over one row per DOCUMENT (not per token) — at 100 TB that is
the standard sort-by-score-within-lang and is exactly what CCNet runs;
if even that is too wide, the tercile cut points can come from an
approx-quantile pass and the window disappears.

Reference parity: core.clj (683 LoC) has no text surface; this is the
LLM-pipeline extension family (SURVEY §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark.operators.text_lm import _tokens, unigram_logprob_df
from orca_spark.registry import register
from orca_spark.tables import load

_DSIR_TARGET = "src0"

_TOK_SQL = """
    SELECT doc_id, source, w
    FROM (SELECT doc_id, source,
                 unnest(string_split(text, ' ')) AS w
          FROM documents WHERE text IS NOT NULL)
    WHERE w <> ''
"""


@register(
    "corpus_dsir_importance",
    oracle=f"""
        WITH tok AS ({_TOK_SQL}),
        cc AS (SELECT w, count(*) AS c_c FROM tok GROUP BY 1),
        ct AS (SELECT w, count(*) AS c_t FROM tok
               WHERE source = '{_DSIR_TARGET}' GROUP BY 1),
        scal AS (
            SELECT CAST(sum(c_c) AS BIGINT) AS total_c,
                   CAST(count(*) AS BIGINT) AS v
            FROM cc
        ),
        tt AS (SELECT CAST(COALESCE(sum(c_t), 0) AS BIGINT) AS total_t
               FROM ct)
        SELECT tok.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(ln(
                   ((COALESCE(ct.c_t, 0) + 1) * (scal.total_c + scal.v))
                   * 1.0
                   / ((cc.c_c + 1) * (tt.total_t + scal.v))
               )), 4) AS dsir_logratio
        FROM tok
        JOIN cc ON cc.w = tok.w
        LEFT JOIN ct ON ct.w = tok.w
        CROSS JOIN scal CROSS JOIN tt
        GROUP BY tok.doc_id
    """,
    description="DSIR importance weight per document (Xie et al. 2023): "
    "mean add-1-smoothed log-ratio of the target-domain unigram LM "
    "(source=src0) to the corpus LM — token explode, two partial-agg "
    "count tables, term-keyed join, scalar totals broadcast",
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = (
        docs.select("doc_id", "source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    cc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_c"))
    ct = (
        tok.where(F.col("source") == _DSIR_TARGET)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    scal = cc.agg(
        F.sum("c_c").alias("total_c"), F.count(F.lit(1)).alias("v")
    )
    tt = ct.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("total_t"))
    return (
        tok.join(cc, "w")
        .join(ct, "w", "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(
                        (
                            (F.coalesce(F.col("c_t"), F.lit(0)) + 1)
                            * (F.col("total_c") + F.col("v"))
                        ).cast("double")
                        / (
                            (F.col("c_c") + 1)
                            * (F.col("total_t") + F.col("v"))
                        ).cast("double")
                    )
                ),
                4,
            ).alias("dsir_logratio"),
        )
    )


@register(
    "corpus_ccnet_perplexity_buckets",
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
            SELECT tok.doc_id,
                   round(avg(ln(counts.c / total.total)), 4) AS s
            FROM tok JOIN counts ON counts.w = tok.w CROSS JOIN total
            GROUP BY tok.doc_id
        ),
        terciled AS (
            SELECT docs.lang, scored.s,
                   ntile(3) OVER (PARTITION BY docs.lang
                                  ORDER BY scored.s DESC, scored.doc_id)
                       AS t
            FROM scored JOIN docs ON docs.doc_id = scored.doc_id
        )
        SELECT lang,
               CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                      ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(s) AS min_logprob,
               max(s) AS max_logprob
        FROM terciled
        GROUP BY lang, t
    """,
    description="CCNet head/middle/tail quality terciles per language "
    "(Wenzek et al. 2020): corpus-fit unigram perplexity proxy, "
    "per-lang ntile(3) over one row per document, bucket audit summary",
)
def corpus_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    scored = unigram_logprob_df(docs).select(
        "doc_id", F.col("avg_logprob").alias("s")
    )
    terciled = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "s",
        F.ntile(3)
        .over(W.partitionBy("lang").orderBy(F.desc("s"), F.col("doc_id")))
        .alias("t"),
    )
    return terciled.groupBy("lang", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("s").alias("min_logprob"),
        F.max("s").alias("max_logprob"),
    ).select(
        "lang",
        F.when(F.col("t") == 1, "head")
        .when(F.col("t") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
        "n_docs",
        "min_logprob",
        "max_logprob",
    )


@register(
    "retrieval_inverted_index",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents WHERE text IS NOT NULL)
            WHERE w <> ''
        ),
        tf AS (SELECT w, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
        agg AS (
            SELECT w, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(tf) AS BIGINT) AS cf
            FROM tf GROUP BY 1
        ),
        top AS (
            SELECT w, doc_id AS top_doc_id, CAST(tf AS BIGINT) AS top_tf
            FROM (SELECT w, doc_id, tf,
                         row_number() OVER (PARTITION BY w
                                            ORDER BY tf DESC, doc_id) AS rn
                  FROM tf)
            WHERE rn = 1
        )
        SELECT agg.w AS term, agg.df, agg.cf, top.top_doc_id, top.top_tf
        FROM agg JOIN top ON top.w = agg.w
        WHERE agg.df >= 2
    """,
    description="inverted-index postings summary: per term with df>=2, "
    "document frequency, collection frequency, and the top posting "
    "(max tf, ties to lowest doc_id) via a partial-aggregable "
    "max(struct) — two term-keyed shuffles, no windows",
)
def retrieval_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tf = (
        _tokens(docs)
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # arg-max as one partial-aggregable agg: max over (tf, -doc_id)
    # orders ties to the LOWEST doc_id without a per-term window.
    return (
        tf.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
            F.max(
                F.struct(
                    F.col("tf").alias("tf"), (-F.col("doc_id")).alias("nd")
                )
            ).alias("top"),
        )
        .where(F.col("df") >= 2)
        .select(
            F.col("w").alias("term"),
            "df",
            "cf",
            (-F.col("top.nd")).cast("long").alias("top_doc_id"),
            F.col("top.tf").cast("long").alias("top_tf"),
        )
    )
