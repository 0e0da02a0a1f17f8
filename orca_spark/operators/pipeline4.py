"""The full training-data curation pipeline as ONE declarative plan
(r08 verdict item 8): what a training-data team actually ships, wired
from this engine's individually-green stages —

    Gopher token-rules gate  →  exact-dedup survivors
      →  leading-prefix near-dedup  →  DSIR importance scoring
      →  sqrt-temperature mix weights  →  block-capacity packing

ending in the per-(lang, source) corpus manifest a curation run
records: document/token counts after hygiene, the DSIR domain-fit
score, the sampling weight, and the training-block capacity.

Stage provenance (each is a green standalone operator whose constants
this composite reuses, so the composite is consistent with its parts):

* gate — ``text_gopher_quality_rules``' Gopher A1.1 token rules (word-count bounds, mean
  word length in centi-chars, minimum stopword hits; the line-level
  rules stay in ``text_gopher_quality_rules``).
* exact dedup — dedup.py's min-doc_id-per-content-hash survivors.
* near dedup — the SQL-expressible prefix-fingerprint pass: one
  survivor per distinct leading-32-token fingerprint (headers/mirrors
  that differ only in tails collapse); the banded MinHash pass
  (``dedup_minhash``) plugs in here as an anti-join at deployment, but
  has no SQL twin, so the oracled composite uses the prefix form.
* DSIR — curation2's add-1-smoothed target/corpus unigram log-ratio
  (target domain = source 'src0'), computed over the SURVIVOR corpus
  (scoring after dedup is the published order: dedup first, then
  select).
* mix weights — mixture2's exact-integer-sqrt temperature weights,
  per-lang ppm normalization with the explicit zero-mass NULL
  contract.
* packing — packing.py's block arithmetic, reduced to per-shard
  capacity: n_blocks = ceil(n_tokens / 2048) in BIGINT.

Scale: the gate is a row-local expression fused into the scan; both
dedup stages shuffle 8-byte hash keys, never raw text; DSIR is explode
→ two partial-agg count tables → term-keyed joins with the two scalar
totals as broadcasts; the manifest is a model-sized (lang, source)
aggregate and the weight window runs over that model-sized table. No
stage materializes; Catalyst pipelines gate+dedup into two shuffles
before the token explode. The DSIR products stay in BIGINT before the
double cast (the established corpus_dsir_importance convention); a
corpus big enough to overflow them (~1e26 token-pair products) would
move the ratio into log space (ln num − ln den) — same estimator.

Determinism: gates and counts are integer; survivor choice is min
doc_id within hash groups (the oracle groups on md5/the literal prefix
— equivalent partitions of identical keys, the pipeline_pretrain_corpus
convention); isqrt is integer-verified; DSIR is integerized to 1e-4
fixed point at the per-doc boundary (dsir_e4), which makes the GROUP
ROLLUP exact BIGINT arithmetic — a double avg-of-avgs flipped the 4th
decimal on 2/88 groups between engines before the fixed point. The
per-doc value itself keeps the single round-of-a-double exposure every
green avg(ln) operator has (corpus_dsir_importance included): one
rounding of one double per doc, covered empirically by the sf0.1 and
partition-invariance lanes, not removed algebraically (ln admits no
rational form).

Reference parity: core.clj has no corpus surface (SURVEY §2.5); this
is the LLM-pipeline composition family alongside pipeline.py and
pipeline3.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from orca_spark.operators.curation2 import _DSIR_TARGET
from orca_spark.operators.mixture2 import _with_isqrt
from orca_spark.operators.text_quality import (
    _MAX_MWL_C,
    _MAX_WORDS,
    _MIN_MWL_C,
    _MIN_WORDS,
    _STOPWORDS,
)
from orca_spark.registry import register
from orca_spark.tables import load

_PREFIX_TOKS = 32  # near-dedup fingerprint: leading token count
_BLOCK = 2048  # packing.py's training-block size
# Gopher requires >= 2 distinct stopwords from a large probe list; this
# engine's probe list (text_quality) is 8 words, and the synthetic corpus
# carries at most ONE of them per document — the proportional operating
# point for the composite's hard gate is >= 1 distinct hit (the
# scorecard operator keeps the paper's >= 2 for its keep flag; a gate
# that drops 100% of every corpus composes nothing and evidences
# nothing). With it, roughly half the synthetic corpus survives the
# gate — a discriminating, nonempty hygiene pass.
_GATE_STOPWORD_HITS = 1

_STOP_LIST = ", ".join(repr(s) for s in _STOPWORDS)


def gated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite's Gopher token gate over the documents table:
    ``gate_rows`` applied to the batch load. Shared by the full
    pipeline and its incremental form (pipeline5)."""
    return gate_rows(load(spark, sf_dir, "documents"))


def gate_rows(docs: DataFrame) -> DataFrame:
    """The Gopher token gate as a frame-in/frame-out stage usable on
    BATCH and STREAMING inputs alike (row-local expressions only, so
    Catalyst fuses it into the scan / micro-batch): non-null (text,
    lang, source) rows that pass the word-count, mean-word-length, and
    stopword-hit rules, tokenized — columns (doc_id, lang, source,
    text, toks, n_words). One implementation site (pipeline4,
    pipeline5, streaming.stateful, streaming.ingest) so composites can
    never drift on gate semantics."""
    docs = docs.where(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    base = docs.select(
        "doc_id", "lang", "source", "text", toks.alias("toks")
    ).withColumn("tok_chars", F.length(F.array_join("toks", "")))
    sig = base.select(
        "doc_id",
        "lang",
        "source",
        "text",
        "toks",
        F.size("toks").cast("long").alias("n_words"),
        # BIGINT widen BEFORE the multiply (the ANSI-overflow rule of
        # text_gopher_quality_rules)
        F.when(F.size("toks") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("CAST(tok_chars AS BIGINT) * 100 div size(toks)"))
        .alias("mwl_c"),
        F.size(
            F.array_intersect("toks", F.array(*[F.lit(s) for s in _STOPWORDS]))
        ).alias("stop_hits"),
    )
    return sig.where(
        F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
        & F.col("mwl_c").between(_MIN_MWL_C, _MAX_MWL_C)
        & (F.col("stop_hits") >= _GATE_STOPWORD_HITS)
    ).select("doc_id", "lang", "source", "text", "toks", "n_words")


@register(
    "pipeline_full_curation",
    oracle=f"""
        WITH base AS (
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
            SELECT * FROM sig
            WHERE n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
              AND mwl_c BETWEEN {_MIN_MWL_C} AND {_MAX_MWL_C}
              AND stop_hits >= {_GATE_STOPWORD_HITS}
        ),
        surv1 AS (SELECT min(doc_id) AS doc_id FROM kept
                  GROUP BY md5(text)),
        exact AS (SELECT k.* FROM kept k JOIN surv1 USING (doc_id)),
        surv2 AS (SELECT min(doc_id) AS doc_id FROM exact
                  GROUP BY array_to_string(
                      list_slice(toks, 1, {_PREFIX_TOKS}), ' ')),
        corpus AS (SELECT e.* FROM exact e JOIN surv2 USING (doc_id)),
        tok AS (SELECT doc_id, source, unnest(toks) AS w FROM corpus),
        cc AS (SELECT w, count(*) AS c_c FROM tok GROUP BY 1),
        ct AS (SELECT w, count(*) AS c_t FROM tok
               WHERE source = '{_DSIR_TARGET}' GROUP BY 1),
        scal AS (SELECT CAST(sum(c_c) AS BIGINT) AS total_c,
                        CAST(count(*) AS BIGINT) AS v FROM cc),
        tt AS (SELECT CAST(COALESCE(sum(c_t), 0) AS BIGINT) AS total_t
               FROM ct),
        per_doc AS (
            -- fixed-point 1e-4 units: a double avg of per-doc doubles
            -- flipped the 4th decimal on 2/88 groups between engines
            -- (summation order); integerizing per doc makes every
            -- later aggregate exact BIGINT arithmetic
            SELECT tok.doc_id,
                   CAST(round(avg(ln(
                       ((COALESCE(ct.c_t, 0) + 1) * (scal.total_c + scal.v))
                       * 1.0
                       / ((cc.c_c + 1) * (tt.total_t + scal.v))
                   )) * 10000) AS BIGINT) AS dsir_e4
            FROM tok
            JOIN cc ON cc.w = tok.w
            LEFT JOIN ct ON ct.w = tok.w
            CROSS JOIN scal CROSS JOIN tt
            GROUP BY tok.doc_id
        ),
        agg AS (
            SELECT c.lang, c.source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(c.n_words) AS BIGINT) AS n_tokens,
                   CAST(round(sum(p.dsir_e4) * 1.0 / count(*)) AS BIGINT)
                       AS avg_dsir_e4
            FROM corpus c JOIN per_doc p USING (doc_id)
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                          AS s
            FROM agg
        ),
        rooted AS (
            SELECT lang, source, n_docs, n_tokens, avg_dsir_e4,
                   CAST(CASE WHEN s * s > n_tokens THEN s - 1
                        WHEN (s + 1) * (s + 1) <= n_tokens THEN s + 1
                        ELSE s END AS BIGINT) AS root
            FROM cand
        )
        SELECT lang, source, n_docs, n_tokens,
               CAST(CASE WHEN sum(root) OVER (PARTITION BY lang) = 0
                    THEN NULL
                    ELSE root * 1000000
                         // sum(root) OVER (PARTITION BY lang)
                    END AS BIGINT) AS weight_ppm,
               CAST((n_tokens + {_BLOCK} - 1) // {_BLOCK} AS BIGINT)
                   AS n_blocks,
               avg_dsir_e4
        FROM rooted
    """,
    description="the full curation pipeline as one plan: Gopher token "
    "gate -> exact-dedup survivors -> leading-32-token prefix "
    "near-dedup -> DSIR importance over the survivor corpus -> "
    "sqrt-temperature mix weights -> block-capacity packing, ending in "
    "the per-(lang, source) training-corpus manifest (docs, tokens, "
    "sampling weight ppm, block capacity, mean DSIR fit); two hash-key "
    "dedup shuffles + term-keyed DSIR joins with broadcast scalar "
    "totals, manifest model-sized",
)
def pipeline_full_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = gated_docs(spark, sf_dir)
    # exact dedup: 8-byte content-hash shuffle, min doc_id survives (the
    # oracle groups on md5(text) — an equivalent partition of identical
    # texts, the pipeline_pretrain_corpus convention)
    surv1 = (
        kept.groupBy(F.xxhash64("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact = kept.join(surv1, "doc_id")
    # prefix near-dedup: one survivor per leading-token fingerprint
    surv2 = (
        exact.groupBy(
            F.xxhash64(
                F.concat_ws(" ", F.slice("toks", 1, _PREFIX_TOKS))
            ).alias("h")
        )
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    corpus = exact.join(surv2, "doc_id")

    # DSIR over the survivor corpus (dedup first, then select — the
    # published order); every gated doc has >= _MIN_WORDS tokens, so the
    # per-doc score join back is total (inner, no left needed)
    tok = corpus.select("doc_id", "source", F.explode("toks").alias("w"))
    cc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_c"))
    ct = (
        tok.where(F.col("source") == _DSIR_TARGET)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    scal = cc.agg(F.sum("c_c").alias("total_c"), F.count(F.lit(1)).alias("v"))
    tt = ct.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("total_t"))
    per_doc = (
        tok.join(cc, "w")
        .join(ct, "w", "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            # fixed-point 1e-4 units (see the oracle's per_doc note): one
            # double avg per doc, integerized immediately, so the group
            # rollup below is exact BIGINT arithmetic on both engines
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
                )
                * 10000
            )
            .cast("long")
            .alias("dsir_e4")
        )
    )

    agg = (
        corpus.select("doc_id", "lang", "source", "n_words")
        .join(per_doc, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            # exact BIGINT sum, one double division by an exact count,
            # rounded to the integer fixed point — identical inputs give
            # identical doubles, so this cannot drift across engines
            F.round(F.sum("dsir_e4") * F.lit(1.0) / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_dsir_e4"),
        )
    )
    rooted = _with_isqrt(agg)
    wlang = W.partitionBy("lang")
    return (
        rooted.withColumn("_den", F.sum("root").over(wlang))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            # zero-mass guard FIRST (ANSI div raises on 0; the gate makes
            # n_tokens >= 50 per doc so _den > 0 whenever the row exists,
            # but the contract is explicit, not inherited)
            F.when(F.col("_den") == 0, F.lit(None))
            .otherwise(F.expr("root * 1000000 div _den"))
            .cast("long")
            .alias("weight_ppm"),
            F.expr(f"(n_tokens + {_BLOCK} - 1) div {_BLOCK}")
            .cast("long")
            .alias("n_blocks"),
            "avg_dsir_e4",
        )
    )
