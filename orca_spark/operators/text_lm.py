"""Term weighting and corpus language models.

* TF-IDF top terms and BM25 query scores (``text_tfidf_top_terms``,
  ``text_bm25_query_scores``) plus the unigram log-probability
  perplexity proxy; ``bm25_scores_df`` and ``unigram_logprob_df`` are
  the frame-level builders retrieval and curation reuse.
* The add-1-smoothed bigram LM and document-level PMI collocations
  (``text_bigram_logprob``, ``text_pmi_pairs``).
* Positional phrase search (``text_phrase_topbigram_docs``): the
  corpus's most frequent bigram probed back into the positional index.
* The hashing trick (``text_feature_hashing``, Weinberger et al. 2009;
  MLlib's HashingTF is the same construction): token counts in a fixed
  64-bucket space. The hash is md5-derived so both engines compute the
  same dimensions.

Scale: one token explode, partial-aggregated counts, vocabulary-keyed
joins back and scalar corpus statistics as one-row broadcasts; no
driver-side loops and no Python in the hot path. Rankings run on the
ROUNDED score with a term tiebreak, so ordering is deterministic
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load

_TOP_TERMS = 3
_BM25_K1 = 1.2
_BM25_B = 0.75
# query terms for the registered BM25 scoring (common corpus terms)
_BM25_QUERY = ("join", "hash", "scan")


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, w) pairs: whitespace tokens with empties dropped —
    consistent with the text.py family's space tokenizer, minus the
    empty tokens that double spaces produce (a term weight for ''
    is meaningless)."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )


def tfidf_terms_df(docs: DataFrame, top: int = _TOP_TERMS) -> DataFrame:
    """Top-``top`` TF-IDF terms per document.

    idf is the smoothed sklearn form ln((N+1)/(df+1)) + 1 — never
    negative, never divides by zero, and keeps corpus-wide terms at a
    small positive weight instead of exactly zero (which would make
    every such term tie at 0.0 and leave top-k selection to the
    tiebreak). The document-frequency table is vocabulary-sized: small
    enough to broadcast on most corpora, but left as an equi-join so
    AQE picks broadcast vs shuffle from actual stats — at 100 TB a
    web-scale vocabulary (1e8+ terms) must shuffle on the term key.
    """
    tok = _tokens(docs)
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                4,
            ).alias("tfidf"),
        )
    )
    win = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= top)
        .select("doc_id", "term", "tfidf", "rank")
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
        WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM tok WHERE w <> '' GROUP BY 1, 2),
        dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n FROM docs),
        scored AS (
            SELECT tf.doc_id, tf.w AS term,
                   round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 4) AS tfidf
            FROM tf JOIN dfreq USING (w) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, rank
        FROM (
            SELECT doc_id, term, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, term) AS rank
            FROM scored
        )
        WHERE rank <= {_TOP_TERMS}
    """,
    description=f"top-{_TOP_TERMS} TF-IDF terms per document (smoothed "
    "idf, rank on rounded score + term tiebreak): per-document salient "
    "terms for tagging/quality pipelines — one token explode, partial-"
    "agg counts, vocabulary-keyed df join, scalar N broadcast",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return tfidf_terms_df(docs)


def bm25_scores_df(
    docs: DataFrame,
    query_terms: tuple[str, ...] = _BM25_QUERY,
    k1: float = _BM25_K1,
    b: float = _BM25_B,
) -> DataFrame:
    """BM25 score of every document against a fixed query term set.

    Robertson idf ln(1 + (N-df+0.5)/(df+0.5)); per-term contribution
    idf·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)). Document length is the
    non-empty token count; N/avgdl are one-row broadcast scalars; the
    per-term document frequency is a |query|-row broadcast. Only
    documents containing at least one query term appear (the retrieval
    contract) — a corpus with no matches yields an empty frame, not an
    error."""
    tok = _tokens(docs)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tfq = (
        tok.where(F.col("w").isin(*query_terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tfq.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    idf = F.log(
        1.0
        + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tfq.join(dl, "doc_id")
        .join(F.broadcast(dfq), "w")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(avgdl))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 4).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )


@register(
    "text_bm25_query_scores",
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
        avgdl AS (SELECT avg(dl) AS avgdl FROM dl)
        SELECT tfq.doc_id,
               round(sum(
                   ln(1.0 + (n.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tfq.tf * ({_BM25_K1} + 1.0)
                   / (tfq.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * dl.dl / avgdl.avgdl))
               ), 4) AS bm25,
               CAST(count(*) AS BIGINT) AS n_terms_matched
        FROM tfq
        JOIN dl ON dl.doc_id = tfq.doc_id
        JOIN dfq ON dfq.w = tfq.w
        CROSS JOIN n CROSS JOIN avgdl
        GROUP BY tfq.doc_id
    """,
    description=f"BM25 (k1={_BM25_K1}, b={_BM25_B}) of every document "
    f"against the query terms {_BM25_QUERY}: Robertson idf, length-"
    "normalized tf saturation — retrieval-grade scoring for targeted "
    "corpus slicing/decontamination; scalars (N, avgdl) and the "
    "query-sized df table ride as broadcasts",
)
def text_bm25_query_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return bm25_scores_df(docs)


def unigram_logprob_df(docs: DataFrame) -> DataFrame:
    """Mean unigram log-probability per document — the standard
    perplexity-proxy quality score (docs whose tokens are improbable
    under the corpus unigram LM are boilerplate/garbled/off-language
    candidates; very high scores flag repetitive boilerplate).

    p(w) = count(w)/total over the whole corpus; score = mean over the
    document's token OCCURRENCES (repeats count) of ln p(w). Shape:
    token explode -> partial-agg term counts -> term-keyed join back ->
    one per-doc avg; corpus total rides as a one-row broadcast. Every
    token's probability is > 0 by construction (it was counted), so no
    smoothing is needed for scoring the training corpus itself; scoring
    NEW text against these counts needs the add-k variant."""
    tok = _tokens(docs)
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("total"))
    return (
        tok.join(counts, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log(F.col("c") / F.col("total"))), 4).alias(
                "avg_logprob"
            ),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


@register(
    "text_unigram_logprob",
    oracle="""
        WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        tok AS (
            SELECT doc_id, w
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs)
            WHERE w <> ''
        ),
        counts AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        total AS (SELECT sum(c) AS total FROM counts)
        SELECT tok.doc_id,
               round(avg(ln(counts.c / total.total)), 4) AS avg_logprob,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM tok
        JOIN counts ON counts.w = tok.w
        CROSS JOIN total
        GROUP BY tok.doc_id
    """,
    description="mean unigram log-probability per document (corpus-fit "
    "LM, repeats counted): the perplexity-proxy quality filter — token "
    "explode, partial-agg term counts, term-keyed join, per-doc avg; "
    "corpus total as a one-row broadcast",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return unigram_logprob_df(docs)


# ---------------------------------------------------------------------------
# Bigram LM scoring and PMI collocations
# ---------------------------------------------------------------------------


# PMI co-occurrence support floors (absolute, integer — the filters
# must be exact on both engines at every corpus size)
_PMI_MIN_DF = 2  # a term must appear in >= 2 documents
_PMI_MIN_PAIR = 2  # a pair must co-occur in >= 2 documents


@register(
    "text_bigram_logprob",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents WHERE text IS NOT NULL
        ),
        big AS (
            SELECT a.doc_id, a.w AS w1, b.w AS w2
            FROM tok a JOIN tok b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        c12 AS (
            SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2
        ),
        c1 AS (
            SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1
        ),
        v AS (SELECT count(DISTINCT w) AS vocab FROM tok)
        SELECT big.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ln((c12.c12 + 1) / (c1.c1 + v.vocab))), 4)
                   AS avg_logprob
        FROM big
        JOIN c12 ON big.w1 = c12.w1 AND big.w2 = c12.w2
        JOIN c1  ON big.w1 = c1.w1
        CROSS JOIN v
        GROUP BY big.doc_id
    """,
    description="per-document mean log-probability under an "
    "add-1-smoothed corpus-trained bigram LM (perplexity-proxy quality "
    "signal); counts shuffle on (w1,w2) with map-side partial "
    "aggregation, scoring is a vocab-keyed join back onto the bigram "
    "stream",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the bigram count table is vocab²-bounded (in practice far
    smaller — observed bigrams only) and aggregates with map-side
    combine before its (w1, w2) shuffle; the per-document average is
    one shuffle on doc_id. The scoring joins key on w1 / (w1, w2) —
    Zipf-skewed, so the AQE skew-join split (enabled session-wide) is
    the escape when a stopword bigram floods one reducer. The vocab
    size is a one-row broadcast (scalar subquery → literal).

    Determinism: c12/c1/V are exact integers computed from the same
    tokenization on both engines; ln() of an identical double is
    bit-identical; only the per-document MEAN's addition order is
    engine-specific, so it is rounded (4) on both sides — the
    engine-wide float-aggregate convention.

    Bigrams via posexplode + a pos+1 self-join rather than array
    slicing: identical shape to the oracle's generate_subscripts join,
    and the join is doc_id-local (one shuffle both sides share).

    The bigram stream feeds two passes (count training, then scoring);
    at a real corpus, persist() it — here the plan recomputes it once,
    the declarative form Catalyst can still pipeline at tiny SF.
    Context counts c1 roll up from the aggregated c12 table (Σ_w2),
    never from a third corpus scan."""
    tok = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    )
    big = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.w").alias("w1"),
            F.col("b.w").alias("w2"),
        )
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # context counts derived from the ALREADY-AGGREGATED bigram table
    # (Σ_w2 c12), not a third scan of the corpus-sized bigram stream —
    # the rollup is vocab-sized
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = tok.agg(F.countDistinct("w").alias("vocab"))
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("c12") + 1) / (F.col("c1") + F.col("vocab"))).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
    )


@register(
    "text_pmi_pairs",
    oracle=f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents WHERE text IS NOT NULL
        ),
        df AS (
            SELECT w, count(*) AS df FROM dt GROUP BY w
            HAVING count(*) >= {_PMI_MIN_DF}
        ),
        ft AS (SELECT dt.doc_id, dt.w FROM dt JOIN df ON dt.w = df.w),
        n AS (
            SELECT count(DISTINCT doc_id) AS n_docs
            FROM documents WHERE text IS NOT NULL
        ),
        pairs AS (
            SELECT a.w AS w1, b.w AS w2, count(*) AS c12
            FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.w < b.w
            GROUP BY a.w, b.w
            HAVING count(*) >= {_PMI_MIN_PAIR}
        )
        SELECT p.w1, p.w2, CAST(p.c12 AS BIGINT) AS c12,
               round(ln((p.c12 * n.n_docs) / (d1.df * d2.df)), 4) AS pmi
        FROM pairs p
        JOIN df d1 ON p.w1 = d1.w
        JOIN df d2 ON p.w2 = d2.w
        CROSS JOIN n
    """,
    description="document-level PMI collocations: distinct doc-term "
    "pairs, df floor, within-doc self-join (w1 < w2), "
    "ln(c12*N/(df1*df2)) — phrase-induction / collocation mining over "
    "co-occurrence counts",
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the within-document self-join is the quadratic hazard;
    it runs AFTER the document-frequency floor, so per-document width
    is bounded by the frequent vocabulary actually present (at a real
    corpus, raise _PMI_MIN_DF or cap per-document distinct terms —
    both are one-line filters on `ft`). The join is doc_id-keyed (one
    shared shuffle); pair counts partial-aggregate map-side. The df
    side of the scoring joins is vocab-sized.

    Determinism: all counts are integers from identical tokenization;
    the PMI expression is a single ln of one double division computed
    from identical integers — bit-equal on both engines — and rounded
    (4) for display only. The support floors are integer HAVING
    clauses, so no float threshold can flip membership."""
    dt = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
        # GLOBAL distinct, matching the oracle's SELECT DISTINCT: the
        # per-row array_distinct dedupes within one document row, but a
        # corpus carrying duplicate doc_id rows would double-count df
        # and pair co-occurrence without this
        .distinct()
    )
    df_tbl = (
        dt.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= _PMI_MIN_DF)
    )
    ft = dt.join(df_tbl.select("w"), "w")
    n_docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    pairs = (
        ft.alias("a")
        .join(
            ft.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= _PMI_MIN_PAIR)
    )
    return (
        pairs.join(df_tbl.select(F.col("w").alias("w1"), F.col("df").alias("df1")), "w1")
        .join(df_tbl.select(F.col("w").alias("w2"), F.col("df").alias("df2")), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log((F.col("c12") * F.col("n_docs")) / (F.col("df1") * F.col("df2"))),
                4,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Positional phrase search
# ---------------------------------------------------------------------------


@register(
    "text_phrase_topbigram_docs",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents WHERE text IS NOT NULL
        ),
        big AS (
            SELECT a.doc_id, a.w AS w1, b.w AS w2
            FROM tok a JOIN tok b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        top AS (
            SELECT w1, w2 FROM big
            GROUP BY w1, w2
            ORDER BY count(*) DESC, w1, w2
            LIMIT 1
        )
        SELECT big.doc_id, big.w1, big.w2,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM big JOIN top ON big.w1 = top.w1 AND big.w2 = top.w2
        GROUP BY big.doc_id, big.w1, big.w2
    """,
    description="positional phrase search: the corpus's most frequent "
    "bigram (integer count, lexicographic tiebreak) probed back into "
    "the positional index — every containing document with its "
    "occurrence count; the one-row phrase table broadcasts",
)
def text_phrase_topbigram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the bigram stream is built once (posexplode + doc-local
    pos+1 self-join, the text_bigram_logprob shape); the argmax phrase
    is a one-row top-k (TakeOrderedAndProject, never a global sort)
    that broadcasts back over the stream, so the probe is a broadcast
    semi-filter — the corpus is scanned, never shuffled, for the
    match. Occurrence counts partial-aggregate on doc_id.

    Determinism: counts and the (count desc, w1, w2) tiebreak are pure
    integer/string comparisons — no floats anywhere."""
    tok = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    )
    big = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.w").alias("w1"),
            F.col("b.w").alias("w2"),
        )
    )
    top = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(1)
        .select("w1", "w2")
    )
    return (
        big.join(F.broadcast(top), ["w1", "w2"])
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select("doc_id", "w1", "w2", "n_occurrences")
    )


# ---------------------------------------------------------------------------
# Hashing-trick featurizer
# ---------------------------------------------------------------------------


_DIMS = 64


@register(
    "text_feature_hashing",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS w
            FROM documents WHERE text IS NOT NULL
        ),
        hashed AS (
            SELECT doc_id,
                   CAST(CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)
                        % {_DIMS} AS BIGINT) AS dim
            FROM tok
        ),
        sparse AS (
            SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS weight
            FROM hashed GROUP BY doc_id, dim
        )
        SELECT doc_id, dim, weight,
               CAST(sum(weight * weight) OVER (PARTITION BY doc_id)
                    AS BIGINT) AS doc_sq_norm
        FROM sparse
    """,
    description=f"hashing-trick featurizer: token counts hashed into a "
    f"fixed {_DIMS}-bucket space (md5-derived dimension so both engines "
    "bucket identically), emitted sparse as (doc_id, dim, weight) with "
    "the per-doc squared norm — vocabulary-free, stateless, constant "
    "width: the featurizer for unbounded vocabularies and streaming "
    "scoring; one explode + one map-side-combined groupBy, no joins",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("w"),
    )
    hashed = tok.select(
        "doc_id",
        F.pmod(F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long"), F.lit(_DIMS))
        .cast("long")
        .alias("dim"),
    )
    sparse = hashed.groupBy("doc_id", "dim").agg(
        F.count(F.lit(1)).alias("weight")
    )
    return sparse.withColumn(
        "doc_sq_norm",
        F.sum(F.col("weight") * F.col("weight")).over(W.partitionBy("doc_id")),
    )
