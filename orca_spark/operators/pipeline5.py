"""Incremental (IVM) form of the curation manifest (r09 verdict item
8a): re-running ``pipeline_full_curation`` on a DELTA of newly-ingested
documents without rescanning the curated history.

The batch pipeline recomputes everything per run; at 100 TB of history
plus a daily 0.1 TB ingest that is a 1000x overspend. The incremental
contract is the one `dedup_minhash_incremental` and
`ivm_incremental_agg` established: history is summarized ONCE into
model-sized (or narrow hash-keyed) artifacts, and the per-ingest job
touches only the DELTA plus those artifacts —

* the exact-dedup index: DISTINCT 8-byte content hashes of gated
  history docs (never raw text);
* the near-dedup index: DISTINCT leading-prefix fingerprints of
  history exact-survivors;
* the FROZEN DSIR scoring model: the history survivor corpus's term
  count tables (vocab-sized) and the two scalar totals;
* the history manifest itself: per-(lang, source) doc/token counts
  and the SUM of per-doc fixed-point DSIR scores (sums, not averages,
  so the merge is associative).

The delta pass gates the new docs, anti-joins both indexes (a delta
doc byte-identical to ANY history doc is a known duplicate; likewise
its leading prefix), dedups within the delta, scores survivors with
the frozen model (an unseen term costs c=0 and the add-1 smoothing
absorbs it — the published apply-importance-weights-to-new-data
recipe, Xie 2023's deployment shape), and full-outer-merges the delta
manifest into the history manifest, recomputing the sqrt-temperature
weights and block capacities over the merged token counts.

Semantics vs a full recompute: the delta here is the doc_id tail (the
newest fifth of the corpus), so exact/prefix survivor choice is
IDENTICAL to the batch pipeline (min doc_id always lands in history
when a cross-boundary collision exists). The ONE documented divergence
is the frozen scoring model: delta docs are scored against the history
snapshot's term distribution, not the merged one — the standard IVM
trade (importance models retrain on a schedule, not per ingest). The
oracle mirrors the incremental semantics exactly, so the driver hash
checks what the operator claims.

Scale: history text feeds only the four artifact builders above (in
production those are READ from parquet — dedup_minhash_incremental's
persisted-index pattern — and this plan's history CTEs disappear; the
oracled form computes them inline so the whole contract stays
hash-checkable). Everything delta-sided is |delta|-proportional: two
8-byte-hash anti-joins + two hash-keyed dedup shuffles, term-keyed
joins against the vocab-sized frozen model with the two scalars as
one-row broadcasts, and a model-sized manifest merge. No corpus-sized
shuffle exists anywhere in the delta path.

Determinism: same fixed-point rules as pipeline4 — per-doc dsir
integerized to 1e-4 units so every rollup and the merge are exact
BIGINT; one double division per output group for the average; isqrt
integer-verified; ANSI-safe `div` with the explicit zero-mass NULL
contract on the weight.

Reference parity: core.clj has no corpus surface (SURVEY §2.5);
LLM-pipeline composition family (pipeline.py/pipeline3.py/pipeline4.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from orca_spark.operators.curation2 import _DSIR_TARGET
from orca_spark.operators.mixture2 import _with_isqrt
from orca_spark.operators.pipeline4 import (
    _BLOCK,
    _GATE_STOPWORD_HITS,
    _MAX_MWL_C,
    _MAX_WORDS,
    _MIN_MWL_C,
    _MIN_WORDS,
    _PREFIX_TOKS,
    _STOP_LIST,
    gated_docs,
)
from orca_spark.registry import register

# the delta is the doc_id tail: ids above 4/5 of the max id play the
# newly-ingested batch at any sf (sf0.01: ids 400..499)
_SPLIT_NUM, _SPLIT_DEN = 4, 5

def dsir_scores(
    tok: DataFrame,
    cc: DataFrame,
    ct: DataFrame,
    scal: DataFrame,
    tt: DataFrame,
    frozen: bool,
) -> DataFrame:
    """Per-doc fixed-point DSIR score against a term-count model
    (cc: per-term corpus counts, ct: per-term target counts, scal:
    (total_c, v), tt: (total_t,)). ``frozen=True`` left-joins the model
    — an unseen term costs c=0 and the add-1 smoothing absorbs it, the
    apply-importance-weights-to-new-data shape (Xie 2023). Shared by
    the batch IVM delta pass and the streaming curation twin
    (streaming.ingest), which reads the same model from its persisted
    parquet form."""
    how = "left" if frozen else "inner"
    cc_term = F.coalesce(F.col("c_c"), F.lit(0)) if frozen else F.col("c_c")
    return (
        tok.join(cc, "w", how)
        .join(ct, "w", "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(
                    F.log(
                        (
                            (F.coalesce(F.col("c_t"), F.lit(0)) + 1)
                            * (F.col("total_c") + F.col("v"))
                        ).cast("double")
                        / (
                            (cc_term + 1)
                            * (F.col("total_t") + F.col("v"))
                        ).cast("double")
                    )
                )
                * 10000
            )
            .cast("long")
            .alias("dsir_e4")
        )
    )


def group_manifest(corpus: DataFrame, per_doc: DataFrame) -> DataFrame:
    """Per-(lang, source) manifest SUMS — associative, so any partition
    of the corpus (history/delta, micro-batches) merges exactly."""
    return (
        corpus.select("doc_id", "lang", "source", "n_words")
        .join(per_doc, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            F.sum("dsir_e4").cast("long").alias("sum_dsir_e4"),
        )
    )


def finalize_manifest(merged: DataFrame) -> DataFrame:
    """Weight/packing recompute over a merged manifest carrying
    (lang, source, n_docs, n_tokens, sum_dsir_e4, n_docs_delta):
    sqrt-temperature weights per lang, block capacities, merged DSIR
    average from the associative sums. Shared by the batch IVM form
    and the streaming twin — both must produce byte-identical output
    from the same merged sums."""
    rooted = _with_isqrt(merged)
    wlang = W.partitionBy("lang")
    return (
        rooted.withColumn("_den", F.sum("root").over(wlang))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "n_docs_delta",
            F.when(F.col("_den") == 0, F.lit(None))
            .otherwise(F.expr("root * 1000000 div _den"))
            .cast("long")
            .alias("weight_ppm"),
            F.expr(f"(n_tokens + {_BLOCK} - 1) div {_BLOCK}")
            .cast("long")
            .alias("n_blocks"),
            # merged average from the associative sums: exact BIGINT sum,
            # one double division by an exact count
            F.round(F.col("sum_dsir_e4") * F.lit(1.0) / F.col("n_docs"))
            .cast("long")
            .alias("avg_dsir_e4"),
        )
    )


_GATE_SQL = f"""
        base AS (
            SELECT doc_id, lang, source, text,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
              AND source IS NOT NULL
        ),
        sig AS (
            SELECT *, CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(CASE WHEN len(toks) = 0 THEN 0
                        ELSE len(array_to_string(toks, '')) * 100
                             // len(toks) END AS BIGINT) AS mwl_c,
                   len(list_intersect(toks, [{_STOP_LIST}])) AS stop_hits
            FROM base
        ),
        kept AS (
            SELECT doc_id, lang, source, text, toks, n_words FROM sig
            WHERE n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
              AND mwl_c BETWEEN {_MIN_MWL_C} AND {_MAX_MWL_C}
              AND stop_hits >= {_GATE_STOPWORD_HITS}
        ),
        thr AS (SELECT max(doc_id) * {_SPLIT_NUM} // {_SPLIT_DEN} AS thr
                FROM kept)
"""


@register(
    "pipeline_curation_incremental",
    oracle=f"""
        WITH {_GATE_SQL},
        h_kept AS (SELECT k.* FROM kept k CROSS JOIN thr
                   WHERE doc_id <= thr.thr),
        d_kept AS (SELECT k.* FROM kept k CROSS JOIN thr
                   WHERE doc_id > thr.thr),
        -- persisted-artifact twin 1: the exact-dedup hash index
        h_surv1 AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
                    FROM h_kept GROUP BY 1),
        h_exact AS (SELECT k.* FROM h_kept k
                    JOIN h_surv1 s ON s.doc_id = k.doc_id),
        -- persisted-artifact twin 2: the prefix near-dedup index
        h_surv2 AS (SELECT array_to_string(
                        list_slice(toks, 1, {_PREFIX_TOKS}), ' ') AS p,
                        min(doc_id) AS doc_id
                    FROM h_exact GROUP BY 1),
        h_corpus AS (SELECT e.* FROM h_exact e
                     JOIN h_surv2 s ON s.doc_id = e.doc_id),
        -- persisted-artifact twin 3: the FROZEN scoring model
        h_tok AS (SELECT doc_id, source, unnest(toks) AS w FROM h_corpus),
        cc AS (SELECT w, count(*) AS c_c FROM h_tok GROUP BY 1),
        ct AS (SELECT w, count(*) AS c_t FROM h_tok
               WHERE source = '{_DSIR_TARGET}' GROUP BY 1),
        scal AS (SELECT CAST(sum(c_c) AS BIGINT) AS total_c,
                        CAST(count(*) AS BIGINT) AS v FROM cc),
        tt AS (SELECT CAST(COALESCE(sum(c_t), 0) AS BIGINT) AS total_t
               FROM ct),
        h_per_doc AS (
            SELECT h_tok.doc_id,
                   CAST(round(avg(ln(
                       ((COALESCE(ct.c_t, 0) + 1) * (scal.total_c + scal.v))
                       * 1.0
                       / ((cc.c_c + 1) * (tt.total_t + scal.v))
                   )) * 10000) AS BIGINT) AS dsir_e4
            FROM h_tok
            JOIN cc ON cc.w = h_tok.w
            LEFT JOIN ct ON ct.w = h_tok.w
            CROSS JOIN scal CROSS JOIN tt
            GROUP BY h_tok.doc_id
        ),
        -- persisted-artifact twin 4: the history manifest (SUMS so the
        -- merge is associative)
        h_manifest AS (
            SELECT c.lang, c.source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(c.n_words) AS BIGINT) AS n_tokens,
                   CAST(sum(p.dsir_e4) AS BIGINT) AS sum_dsir_e4
            FROM h_corpus c JOIN h_per_doc p USING (doc_id)
            GROUP BY 1, 2
        ),
        -- the per-ingest delta pass: anti-join both indexes, dedup
        -- within the delta, score with the FROZEN model
        d1 AS (SELECT * FROM d_kept
               WHERE md5(text) NOT IN (SELECT h FROM h_surv1)),
        d_surv1 AS (SELECT min(doc_id) AS doc_id FROM d1
                    GROUP BY md5(text)),
        d_exact AS (SELECT k.* FROM d1 k JOIN d_surv1 USING (doc_id)),
        d2 AS (SELECT * FROM d_exact
               WHERE array_to_string(list_slice(toks, 1, {_PREFIX_TOKS}),
                                     ' ')
                     NOT IN (SELECT p FROM h_surv2)),
        d_surv2 AS (SELECT min(doc_id) AS doc_id FROM d2
                    GROUP BY array_to_string(
                        list_slice(toks, 1, {_PREFIX_TOKS}), ' ')),
        d_corpus AS (SELECT e.* FROM d2 e JOIN d_surv2 USING (doc_id)),
        d_tok AS (SELECT doc_id, unnest(toks) AS w FROM d_corpus),
        d_per_doc AS (
            -- frozen model: LEFT joins, an unseen term costs c=0 and
            -- the add-1 smoothing absorbs it
            SELECT d_tok.doc_id,
                   CAST(round(avg(ln(
                       ((COALESCE(ct.c_t, 0) + 1) * (scal.total_c + scal.v))
                       * 1.0
                       / ((COALESCE(cc.c_c, 0) + 1)
                          * (tt.total_t + scal.v))
                   )) * 10000) AS BIGINT) AS dsir_e4
            FROM d_tok
            LEFT JOIN cc ON cc.w = d_tok.w
            LEFT JOIN ct ON ct.w = d_tok.w
            CROSS JOIN scal CROSS JOIN tt
            GROUP BY d_tok.doc_id
        ),
        d_manifest AS (
            SELECT c.lang, c.source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(c.n_words) AS BIGINT) AS n_tokens,
                   CAST(sum(p.dsir_e4) AS BIGINT) AS sum_dsir_e4
            FROM d_corpus c JOIN d_per_doc p USING (doc_id)
            GROUP BY 1, 2
        ),
        merged AS (
            SELECT COALESCE(h.lang, d.lang) AS lang,
                   COALESCE(h.source, d.source) AS source,
                   COALESCE(h.n_docs, 0) + COALESCE(d.n_docs, 0) AS n_docs,
                   CAST(COALESCE(h.n_tokens, 0) + COALESCE(d.n_tokens, 0)
                        AS BIGINT) AS n_tokens,
                   COALESCE(h.sum_dsir_e4, 0) + COALESCE(d.sum_dsir_e4, 0)
                       AS sum_dsir_e4,
                   CAST(COALESCE(d.n_docs, 0) AS BIGINT) AS n_docs_delta
            FROM h_manifest h
            FULL JOIN d_manifest d
              ON h.lang = d.lang AND h.source = d.source
        ),
        cand AS (
            SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                          AS s
            FROM merged
        ),
        rooted AS (
            SELECT lang, source, n_docs, n_tokens, sum_dsir_e4,
                   n_docs_delta,
                   CAST(CASE WHEN s * s > n_tokens THEN s - 1
                        WHEN (s + 1) * (s + 1) <= n_tokens THEN s + 1
                        ELSE s END AS BIGINT) AS root
            FROM cand
        )
        SELECT lang, source,
               CAST(n_docs AS BIGINT) AS n_docs,
               n_tokens, n_docs_delta,
               CAST(CASE WHEN sum(root) OVER (PARTITION BY lang) = 0
                    THEN NULL
                    ELSE root * 1000000
                         // sum(root) OVER (PARTITION BY lang)
                    END AS BIGINT) AS weight_ppm,
               CAST((n_tokens + {_BLOCK} - 1) // {_BLOCK} AS BIGINT)
                   AS n_blocks,
               CAST(round(sum_dsir_e4 * 1.0 / n_docs) AS BIGINT)
                   AS avg_dsir_e4
        FROM rooted
    """,
    description="INCREMENTAL curation manifest (IVM form of "
    "pipeline_full_curation): the doc_id-tail delta is gated, "
    "anti-joined against the history exact-hash and prefix-fingerprint "
    "indexes, deduped within itself, DSIR-scored with the FROZEN "
    "history model (left joins + add-1 smoothing absorb unseen terms), "
    "and full-outer-merged into the history manifest (associative "
    "BIGINT sums), recomputing sqrt-temperature weights and block "
    "capacities over the merged counts — per-ingest cost proportional "
    "to the delta plus model-sized artifacts, never a history rescan",
)
def pipeline_curation_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The gated corpus feeds BOTH split sides and, through them, every
    # history artifact and the delta pass — a dozen-plus references to
    # the same gate+tokenize subtree. Left lazy, Spark plans each
    # model-sized artifact as a broadcast build side whose job re-runs
    # the whole gate single-threaded inside the BroadcastExchange
    # collect (~36 one-task jobs per execution). Materialize it ONCE as
    # a parallel job and let everything downstream read the blocks; the
    # checkpoint is the operator's own linear working set (gated docs,
    # no pairwise blowup), recomputed from parquet on every invocation.
    kept = gated_docs(spark, sf_dir).localCheckpoint(eager=True)
    thr = F.broadcast(
        kept.agg(
            F.expr(
                f"max(doc_id) * {_SPLIT_NUM} div {_SPLIT_DEN}"
            ).alias("thr")
        )
    )
    # the split threshold derives from the GATED corpus's max id on both
    # engines (_GATE_SQL's thr CTE is FROM kept), so the two can't
    # disagree when the max-id holder fails the gate
    kept = kept.crossJoin(thr)
    h_kept = kept.where(F.col("doc_id") <= F.col("thr")).drop("thr")
    d_kept = kept.where(F.col("doc_id") > F.col("thr")).drop("thr")

    # --- history snapshot artifacts (read from parquet in production;
    # computed inline here so the oracle can hash-check the contract).
    # Survivor SELECTION is a window min over the dedup key — one
    # shuffle, against the groupBy+self-join form's two (agg exchange +
    # join exchange) for the identical keep-min-doc_id semantics. The
    # key-only index frames (h_surv1/h_surv2) are still built for the
    # delta anti-joins.
    prefix = F.xxhash64(F.concat_ws(" ", F.slice("toks", 1, _PREFIX_TOKS)))
    w_hash = W.partitionBy(F.xxhash64("text"))
    h_exact = (
        h_kept.withColumn("_m", F.min("doc_id").over(w_hash))
        .where(F.col("doc_id") == F.col("_m"))
        .drop("_m")
    )
    w_pref = W.partitionBy(prefix)
    h_corpus = (
        h_exact.withColumn("_m", F.min("doc_id").over(w_pref))
        .where(F.col("doc_id") == F.col("_m"))
        .drop("_m")
    )
    h_surv1 = h_kept.select(F.xxhash64("text").alias("h")).distinct()
    h_surv2 = h_exact.select(prefix.alias("p")).distinct()

    h_tok = h_corpus.select("doc_id", "source", F.explode("toks").alias("w"))
    cc = h_tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_c"))
    ct = (
        h_tok.where(F.col("source") == _DSIR_TARGET)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    scal = cc.agg(F.sum("c_c").alias("total_c"), F.count(F.lit(1)).alias("v"))
    tt = ct.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("total_t"))

    h_manifest = group_manifest(h_corpus, dsir_scores(h_tok, cc, ct, scal, tt, frozen=False))

    # --- the per-ingest delta pass
    d1 = d_kept.withColumn("h", F.xxhash64("text")).join(
        h_surv1, "h", "left_anti"
    )
    d_exact = (
        d1.withColumn("_m", F.min("doc_id").over(W.partitionBy("h")))
        .where(F.col("doc_id") == F.col("_m"))
        .drop("_m", "h")
    )
    d2 = d_exact.withColumn("p", prefix).join(
        h_surv2, "p", "left_anti"
    )
    d_corpus = (
        d2.withColumn("_m", F.min("doc_id").over(W.partitionBy("p")))
        .where(F.col("doc_id") == F.col("_m"))
        .drop("_m", "p")
    )
    d_tok = d_corpus.select("doc_id", F.explode("toks").alias("w"))
    d_manifest = group_manifest(
        d_corpus, dsir_scores(d_tok, cc, ct, scal, tt, frozen=True)
    )

    # --- associative manifest merge + weight/packing recompute
    h = h_manifest.alias("h")
    d = d_manifest.alias("d")
    merged = h.join(
        d,
        (F.col("h.lang") == F.col("d.lang"))
        & (F.col("h.source") == F.col("d.source")),
        "full",
    ).select(
        F.coalesce(F.col("h.lang"), F.col("d.lang")).alias("lang"),
        F.coalesce(F.col("h.source"), F.col("d.source")).alias("source"),
        (
            F.coalesce(F.col("h.n_docs"), F.lit(0))
            + F.coalesce(F.col("d.n_docs"), F.lit(0))
        )
        .cast("long")
        .alias("n_docs"),
        (
            F.coalesce(F.col("h.n_tokens"), F.lit(0))
            + F.coalesce(F.col("d.n_tokens"), F.lit(0))
        )
        .cast("long")
        .alias("n_tokens"),
        (
            F.coalesce(F.col("h.sum_dsir_e4"), F.lit(0))
            + F.coalesce(F.col("d.sum_dsir_e4"), F.lit(0))
        )
        .cast("long")
        .alias("sum_dsir_e4"),
        F.coalesce(F.col("d.n_docs"), F.lit(0))
        .cast("long")
        .alias("n_docs_delta"),
    )
    return finalize_manifest(merged)
