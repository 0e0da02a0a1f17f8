"""Hybrid retrieval: reciprocal-rank fusion of a lexical (BM25) and a
semantic (embedding-cosine) ranking — the standard two-tower retrieval
composition (RRF, k=60), used in corpus slicing and retrieval-based
decontamination where neither signal alone suffices.

Both rankings reuse proven components: ``text_lm.bm25_scores_df`` for the
lexical list and the broadcast-query cosine scan from the similarity
family for the semantic list.  Fusion is rank-only (RRF's point): no
score calibration needed across the two signals.  Each ranking is
computed on ROUNDED scores with id tie-breaks, so the fused output is
deterministic across engines and the whole operator oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_spark.io import rows_to_df
from orca_spark.operators.similarity import _with_norm, dot, load_embeddings
from orca_spark.operators.text_lm import _BM25_QUERY, bm25_scores_df
from orca_spark.registry import register
from orca_spark.tables import load

_RRF_K = 60
_TOP = 10
_SEM_LIST = 100  # semantic candidate-list size: RRF fuses TRUNCATED lists
_QUERY_VEC_ID = 0  # deterministic query: document 0's embedding


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
        WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        tok AS (
            SELECT doc_id, w
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs)
            WHERE w <> ''
        ),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        tfq AS (
            SELECT doc_id, w, count(*) AS tf FROM tok
            WHERE w IN {str(tuple(_BM25_QUERY))}
            GROUP BY 1, 2
        ),
        dfq AS (SELECT w, count(*) AS df FROM tfq GROUP BY 1),
        n AS (SELECT count(*) AS n FROM docs),
        avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
        lex AS (
            SELECT tfq.doc_id,
                   round(sum(
                       ln(1.0 + (n.n - dfq.df + 0.5) / (dfq.df + 0.5))
                       * tfq.tf * (1.2 + 1.0)
                       / (tfq.tf + 1.2 * (1.0 - 0.75
                          + 0.75 * dl.dl / avgdl.avgdl))
                   ), 4) AS bm25
            FROM tfq
            JOIN dl ON dl.doc_id = tfq.doc_id
            JOIN dfq ON dfq.w = tfq.w
            CROSS JOIN n CROSS JOIN avgdl
            GROUP BY tfq.doc_id
        ),
        lexr AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
            FROM lex
        ),
        q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
            WHERE vec_id = {_QUERY_VEC_ID} AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0
        ),
        sem AS (
            SELECT e.vec_id AS doc_id,
                   round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
            FROM embeddings e CROSS JOIN q
            WHERE e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x <> 0)) > 0 AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
        ),
        semt AS (
            SELECT doc_id, cos FROM sem
            ORDER BY cos DESC, doc_id LIMIT {_SEM_LIST}
        ),
        semr AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
            FROM semt
        )
        SELECT doc_id,
               CAST(sem_rank AS BIGINT) AS sem_rank,
               CAST(lex_rank AS BIGINT) AS lex_rank,
               round(coalesce(1.0 / ({_RRF_K} + sem_rank), 0)
                     + coalesce(1.0 / ({_RRF_K} + lex_rank), 0), 6) AS rrf
        FROM semr FULL JOIN lexr USING (doc_id)
        ORDER BY rrf DESC, doc_id
        LIMIT {_TOP}
    """,
    description=f"hybrid retrieval via reciprocal-rank fusion (k="
    f"{_RRF_K}): BM25 ranking over the query terms {_BM25_QUERY} fused "
    "with an embedding-cosine ranking against a fixed query vector — "
    "rank-only fusion needs no score calibration across the two "
    f"signals; the semantic list is TRUNCATED to its top-{_SEM_LIST} "
    "before ranking (RRF is defined over truncated lists); both lists "
    "rank on rounded scores with id tie-breaks so the fused top-10 is "
    "deterministic and fully oracle-checked",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the lexical list reuses BM25's broadcast-scalars shape
    (only docs matching a query term are scored, so its rank window is
    list-sized by construction).  The semantic side is one
    broadcast-query corpus scan whose candidates are truncated to the
    top-_SEM_LIST via orderBy+limit — Spark compiles that to
    TakeOrderedAndProject (per-partition heap top-K, merge of K-sized
    partials), so the subsequent rank window runs on at most _SEM_LIST
    rows, never on a corpus-sized single partition.  Docs outside the
    truncated list contribute 0 to the fusion (the RRF convention).
    The fused top-k compiles to TakeOrdered as well.  For query
    BATCHES see retrieval_hybrid_rrf_batch, which bounds the per-query
    truncation with a two-phase bucketed top-K."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    emb = load_embeddings(spark, sf_dir)

    lex = bm25_scores_df(docs)
    wl = W.orderBy(F.col("bm25").desc(), "doc_id")
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )

    q = F.broadcast(
        _with_norm(emb.where(F.col("vec_id") == _QUERY_VEC_ID), "qn").select(
            F.col("e").alias("qe"), "qn"
        )
    )
    sem = _with_norm(emb, "en").crossJoin(q).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            dot("qe", "e", validated=True) / (F.col("qn") * F.col("en")), 4
        ).alias("cos"),
    )
    # truncate BEFORE ranking: orderBy+limit compiles to
    # TakeOrderedAndProject, so the rank window below sees at most
    # _SEM_LIST rows instead of the whole corpus.
    sem_top = sem.orderBy(F.col("cos").desc(), "doc_id").limit(_SEM_LIST)
    ws = W.orderBy(F.col("cos").desc(), "doc_id")
    semr = sem_top.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("sem_rank")
    )

    fused = semr.join(lexr, "doc_id", "full")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (_RRF_K + F.col("sem_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("lex_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select("doc_id", "sem_rank", "lex_rank", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_TOP)
    )


# batch form: three concurrent hybrid queries, each a (terms, vector) pair
_BATCH = {
    0: ("join", "hash"),
    1: ("scan", "table"),
    2: ("merge", "sort"),
}
_TOP_BATCH = 5


@register(
    "retrieval_hybrid_rrf_batch",
    oracle=f"""
        WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        tok AS (
            SELECT doc_id, w
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs)
            WHERE w <> ''
        ),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        qt AS (
            SELECT * FROM (VALUES
                (0, 'join'), (0, 'hash'),
                (1, 'scan'), (1, 'table'),
                (2, 'merge'), (2, 'sort')) AS t(query_id, w)
        ),
        tfq AS (
            SELECT qt.query_id, tok.doc_id, tok.w, count(*) AS tf
            FROM tok JOIN qt ON tok.w = qt.w
            GROUP BY 1, 2, 3
        ),
        dfq AS (
            SELECT query_id, w, count(*) AS df FROM tfq GROUP BY 1, 2
        ),
        n AS (SELECT count(*) AS n FROM docs),
        avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
        lex AS (
            SELECT tfq.query_id, tfq.doc_id,
                   round(sum(
                       ln(1.0 + (n.n - dfq.df + 0.5) / (dfq.df + 0.5))
                       * tfq.tf * (1.2 + 1.0)
                       / (tfq.tf + 1.2 * (1.0 - 0.75
                          + 0.75 * dl.dl / avgdl.avgdl))
                   ), 4) AS bm25
            FROM tfq
            JOIN dl ON dl.doc_id = tfq.doc_id
            JOIN dfq ON dfq.w = tfq.w AND dfq.query_id = tfq.query_id
            CROSS JOIN n CROSS JOIN avgdl
            GROUP BY 1, 2
        ),
        lexr AS (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY bm25 DESC, doc_id) AS lex_rank
            FROM lex
        ),
        q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings
            WHERE vec_id IN (0, 1, 2) AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0
        ),
        sem AS (
            SELECT q.query_id, e.vec_id AS doc_id,
                   round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
            FROM embeddings e CROSS JOIN q
            WHERE e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x <> 0)) > 0 AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
        ),
        semr AS (
            SELECT query_id, doc_id, sem_rank FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, doc_id)
                           AS sem_rank
                FROM sem
            ) WHERE sem_rank <= {_SEM_LIST}
        ),
        fused AS (
            SELECT query_id, doc_id,
                   CAST(sem_rank AS BIGINT) AS sem_rank,
                   CAST(lex_rank AS BIGINT) AS lex_rank,
                   round(coalesce(1.0 / (60 + sem_rank), 0)
                         + coalesce(1.0 / (60 + lex_rank), 0), 6) AS rrf
            FROM semr FULL JOIN lexr USING (query_id, doc_id)
        )
        SELECT query_id, doc_id, sem_rank, lex_rank, rrf
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rrf DESC, doc_id) AS rk
            FROM fused
        )
        WHERE rk <= {_TOP_BATCH}
    """,
    description="BATCHED hybrid retrieval: three (term-set, vector) "
    "queries served by ONE plan — BM25 generalizes to a (query, term) "
    "table join, the semantic side broadcasts all query vectors and "
    f"truncates each query's candidate list to its top-{_SEM_LIST} "
    "via a rank filter Spark rewrites to a map-side partial group "
    "limit (no corpus-sized window partition reaches the exchange), "
    "and every window partitions by query_id; per-query "
    "top-5 by reciprocal-rank fusion. The same plan serves thousands "
    "of queries — the production form the single-query operator's "
    "docstring promises",
)
def retrieval_hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the per-query semantic top-K cannot use orderBy+limit
    (that is a single global list), so it is expressed as
    ``row_number() OVER (PARTITION BY query_id ...) <= _SEM_LIST`` and
    Spark's WindowGroupLimit rule rewrites it into the two-phase
    pattern automatically: a PARTIAL group-limit runs map-side before
    the exchange (each input split ships at most _SEM_LIST rows per
    query), so the post-shuffle rank window sees at most
    splits x _SEM_LIST candidates per query, never the corpus.
    ``test_plans.py`` pins the Partial node's presence.  The result is
    exactly the per-query top-_SEM_LIST by (cos DESC, doc_id), so the
    oracle states it directly."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    emb = load_embeddings(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    qt = F.broadcast(
        rows_to_df(
            spark,
            [(qid, w) for qid, terms in _BATCH.items() for w in terms],
            "query_id int, w string",
        )
    )
    tfq = (
        tok.join(qt, "w")
        .groupBy("query_id", "doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tfq.groupBy("query_id", "w").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * F.col("tf") * (1.2 + 1.0) / (
        F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    lex = (
        tfq.join(dl, "doc_id")
        .join(F.broadcast(dfq), ["query_id", "w"])
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(avgdl))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("bm25"))
    )
    wl = W.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    lexr = lex.select(
        "query_id",
        "doc_id",
        F.row_number().over(wl).cast("long").alias("lex_rank"),
    )

    q = F.broadcast(
        _with_norm(emb.where(F.col("vec_id") < 3), "qn").select(
            F.col("vec_id").cast("int").alias("query_id"),
            F.col("e").alias("qe"),
            "qn",
        )
    )
    sem = _with_norm(emb, "en").crossJoin(q).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.round(
            dot("qe", "e", validated=True) / (F.col("qn") * F.col("en")), 4
        ).alias("cos"),
    )
    ws = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "doc_id")
    semr = sem.select(
        "query_id",
        "doc_id",
        F.row_number().over(ws).cast("long").alias("sem_rank"),
    ).where(F.col("sem_rank") <= _SEM_LIST)

    fused = semr.join(lexr, ["query_id", "doc_id"], "full")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (_RRF_K + F.col("sem_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("lex_rank")), F.lit(0.0)),
        6,
    )
    wf = W.partitionBy("query_id").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.select("query_id", "doc_id", "sem_rank", "lex_rank", rrf.alias("rrf"))
        .withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= _TOP_BATCH)
        .drop("rk")
    )
