"""Composed curation batch 6 (r11 verdict item 8): the two policy
compositions a production curation run executes as ONE job —

* ``pipeline_multimodal_curation`` — the multimodal corpus build:
  quality gate → exact text dedup → image (phash) near-dup drop →
  per-(lang, source) manifest with stage-level drop accounting. The
  novelty vs the text-only pipelines is the third stage: documents
  whose PPM payloads hash within hamming 6 of a lower-id survivor are
  dropped through the banded index shape (4×16-bit band keys, the
  persisted-index form multimodal7 registers incrementally), so a
  scraped-twice image corpus loses its near-identical variants even
  when the TEXT differs. Keep-first greedy by doc_id among banded
  candidates — deliberately NOT connected-components canonical (that
  policy is dedup_connected_components' job); documented, not hidden.

* ``pipeline_decontaminate_scrub`` — decontamination at BOTH
  granularities in one pass: corpus docs exactly matching a benchmark
  ('src0') doc are dropped (the dedup_bloom_decontaminate policy, same
  bloom-pruned zero-shuffle shape), and the survivors then have every
  word-8-gram that appears ANYWHERE in the benchmark scrubbed from
  their text (the span-scrub machinery pointed across corpora) — the
  Lee et al. 2022 observation that benchmark overlap hides in spans,
  not just whole documents. Output is the span-scrub accounting
  contract of ``spans.scrub_finale`` (n_tokens / n_scrubbed / integer
  ppm / kept-text md5), driver value-checked per document.

Both compositions are fully value-oracled: the gate is _GATE-parity
SQL (pipeline4), exact dedup groups md5 in the oracle vs xxhash64 in
the plan (the scrub_hashed equivalence — output exposes no hash), the
phash chain re-derives through multimodal7's pixel-exact SQL, and the
span scrub is gram-string SQL vs hashed-gram plan.

Scale contracts are per stage and asserted in tests/test_plans.py:
gate is row-local at the scan; both dedups shuffle 8-byte keys; the
phash pair search is banded (never all-pairs); the benchmark gram set
is a broadcast; no Python outside the one Arrow phash kernel.

Reference parity: core.clj has no corpus surface (SURVEY §2.5);
LLM-pipeline composition family (pipeline.py .. pipeline5.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.operators.multimodal7 import _PPM_TILE_SQL, phash_ppm_table
from orca_spark.operators.pipeline4 import gated_docs
from orca_spark.operators.pipeline5 import _GATE_SQL
from orca_spark.operators.spans import (
    _SPAN_N,
    positioned_grams,
    scrub_finale,
    span_cover,
    span_tokens,
)
from orca_spark.registry import register
from orca_spark.tables import load

_MAX_HAMMING = 6   # multimodal7 family convention


# ---------------------------------------------------------------------------
# (a) gate → exact text dedup → phash near-dup drop → manifest
# ---------------------------------------------------------------------------


@register(
    "pipeline_multimodal_curation",
    oracle=f"""
        WITH {_GATE_SQL},
        surv1 AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
                  FROM kept GROUP BY 1),
        exact AS MATERIALIZED (
            SELECT k.* FROM kept k JOIN surv1 s ON s.doc_id = k.doc_id
        ),
        {_PPM_TILE_SQL},
        phx AS MATERIALIZED (
            SELECT e.doc_id, ph.u, ph.phash
            FROM exact e JOIN ph ON ph.doc_id = e.doc_id
        ),
        drops AS (
            SELECT DISTINCT b.doc_id
            FROM phx a JOIN phx b ON a.doc_id < b.doc_id
            WHERE (((xor(a.u, b.u) >> 0)  & 65535) = 0
                OR ((xor(a.u, b.u) >> 16) & 65535) = 0
                OR ((xor(a.u, b.u) >> 32) & 65535) = 0
                OR ((xor(a.u, b.u) >> 48) & 65535) = 0)
              AND bit_count(xor(a.phash, b.phash)) <= {_MAX_HAMMING}
        ),
        final AS (
            SELECT * FROM exact
            WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        ),
        g AS (SELECT lang, source, count(*) AS docs_gated
              FROM kept GROUP BY 1, 2),
        e AS (SELECT lang, source, count(*) AS docs_exact
              FROM exact GROUP BY 1, 2),
        f AS (SELECT lang, source, count(*) AS docs_out,
                     sum(n_words) AS tokens_out
              FROM final GROUP BY 1, 2)
        SELECT g.lang, g.source,
               CAST(g.docs_gated AS BIGINT) AS docs_gated,
               CAST(g.docs_gated - COALESCE(e.docs_exact, 0) AS BIGINT)
                   AS text_dupes_dropped,
               CAST(COALESCE(e.docs_exact, 0) - COALESCE(f.docs_out, 0)
                    AS BIGINT) AS phash_dropped,
               CAST(COALESCE(f.docs_out, 0) AS BIGINT) AS docs_out,
               CAST(COALESCE(f.tokens_out, 0) AS BIGINT) AS tokens_out
        FROM g
        LEFT JOIN e ON e.lang = g.lang AND e.source = g.source
        LEFT JOIN f ON f.lang = g.lang AND f.source = g.source
    """,
    description="end-to-end MULTIMODAL curation build as one plan: "
    "Gopher gate -> exact text dedup (8-byte hash keys) -> image "
    "near-dup drop through the production PPM decode->phash chain with "
    "banded 4x16-bit candidates (hamming<=6, keep-first by doc_id) -> "
    "per-(lang,source) manifest accounting every stage's drops; fully "
    "value-oracled — the oracle re-derives the gate, the dedup "
    "grouping, all 64 phash bits per pixel, band recall, and the "
    "manifest sums independently",
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the gate is row-local at the scan; exact dedup shuffles
    xxhash64 longs; the phash stage is one Arrow map (row-local
    synthesis+decode+DCT, zero shuffles) followed by a banded 2-byte-
    key self-join (never all-pairs) whose drop set anti-joins back on
    doc_id; the manifest is three map-side-combinable aggregates on
    (lang, source). Each dedup stage's ingest-once/probe-delta twin is
    already registered (streaming.stateful exact state store,
    multimodal7 phash index) — this is the batch composition those
    indexes serve."""
    kept = gated_docs(spark, sf_dir).localCheckpoint(eager=False)
    surv1 = kept.groupBy(F.xxhash64("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    exact = kept.join(surv1.select("doc_id"), "doc_id").localCheckpoint(
        eager=False  # feeds the phash map, the drop anti-join, and `e`
    )

    ph = phash_ppm_table(exact.select("doc_id", "text"))
    banded = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(f"(phash >> {16 * i}) & 65535").alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "phash", "bk.band", "bk.key")
    drops = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            )
            <= _MAX_HAMMING
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    final = exact.join(drops, "doc_id", "left_anti")

    g = kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("docs_gated")
    )
    e = exact.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("docs_exact")
    )
    f = final.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("docs_out"),
        F.sum("n_words").alias("tokens_out"),
    )
    return (
        g.join(e, ["lang", "source"], "left")
        .join(f, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.col("docs_gated").cast("long").alias("docs_gated"),
            (
                F.col("docs_gated") - F.coalesce("docs_exact", F.lit(0))
            )
            .cast("long")
            .alias("text_dupes_dropped"),
            (
                F.coalesce("docs_exact", F.lit(0))
                - F.coalesce("docs_out", F.lit(0))
            )
            .cast("long")
            .alias("phash_dropped"),
            F.coalesce("docs_out", F.lit(0)).cast("long").alias("docs_out"),
            F.coalesce("tokens_out", F.lit(0))
            .cast("long")
            .alias("tokens_out"),
        )
    )


# ---------------------------------------------------------------------------
# (b) benchmark decontamination: doc drop + span scrub in one pass
# ---------------------------------------------------------------------------


@register(
    "pipeline_decontaminate_scrub",
    oracle=f"""
        WITH bench AS MATERIALIZED (
            SELECT text,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents WHERE source = 'src0' AND text IS NOT NULL
        ),
        corpus AS MATERIALIZED (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
            WHERE source <> 'src0' AND text IS NOT NULL
              AND md5(text) NOT IN (SELECT md5(text) FROM bench)
        ),
        bgrams AS MATERIALIZED (
            SELECT DISTINCT array_to_string(
                       list_slice(toks, i, i + {_SPAN_N - 1}), ' ') AS gram
            FROM bench,
                 UNNEST(generate_series(1, len(toks) - {_SPAN_N - 1})) AS g(i)
            WHERE len(toks) >= {_SPAN_N}
        ),
        grams AS (
            SELECT doc_id, i,
                   array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}),
                                   ' ') AS gram
            FROM corpus,
                 UNNEST(generate_series(1, len(toks) - {_SPAN_N - 1})) AS g(i)
            WHERE len(toks) >= {_SPAN_N}
        ),
        cov AS (
            SELECT DISTINCT g.doc_id, u.t AS idx
            FROM grams g JOIN bgrams USING (gram),
                 UNNEST(generate_series(g.i, g.i + {_SPAN_N - 1})) AS u(t)
        ),
        nsc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scrubbed
                FROM cov GROUP BY doc_id),
        pos AS (SELECT c.doc_id, p.i AS idx, c.toks[p.i] AS tok
                FROM corpus c,
                     UNNEST(generate_series(1, len(c.toks))) AS p(i)),
        keep AS (
            SELECT p.doc_id,
                   md5(coalesce(string_agg(p.tok, ' ' ORDER BY p.idx), ''))
                       AS kept_md5
            FROM pos p
            LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.idx = p.idx
            WHERE c.idx IS NULL
            GROUP BY p.doc_id
        )
        SELECT c.doc_id, c.source,
               CAST(len(c.toks) AS BIGINT) AS n_tokens,
               CAST(coalesce(nsc.n_scrubbed, 0) AS BIGINT) AS n_scrubbed,
               CAST(CASE WHEN len(c.toks) = 0 THEN NULL
                    ELSE coalesce(nsc.n_scrubbed, 0) * 1000000
                         // len(c.toks) END AS BIGINT) AS scrubbed_ppm,
               coalesce(keep.kept_md5, md5('')) AS kept_md5
        FROM corpus c
        LEFT JOIN nsc USING (doc_id)
        LEFT JOIN keep USING (doc_id)
    """,
    description=f"benchmark decontamination at BOTH granularities in "
    "one pass: corpus docs byte-identical to any benchmark ('src0') doc "
    "are dropped (the bloom-pruned exact policy), then every word-"
    f"{_SPAN_N}-gram of the survivors that appears anywhere in the "
    "benchmark is scrubbed from their text — span-level overlap removed, "
    "not just whole-doc matches (Lee 2022's ExactSubstr applied across "
    "corpora); dedup_span_scrub accounting contract with driver "
    "value-checked kept-text md5; fully oracled (md5-vs-xxhash64 "
    "grouping equivalence on both the doc key and the gram key)",
)
def pipeline_decontaminate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the benchmark side (eval sets — thousands-to-millions of
    rows, never corpus-scale) compiles to a distinct hashed-gram set
    that BROADCASTS; the corpus side tokenizes once (persisted), drops
    exact matches via an 8-byte-hash anti-join, joins its hashed grams
    against the broadcast, and the scrub finale is dedup_span_scrub's:
    (doc_id, idx)-keyed distinct + anti-join + doc-keyed aggregate.
    Zero corpus-sized wide-key shuffles; the gram STRING never leaves
    the scan (xxhash64 keys, scrub_hashed's contract)."""
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    h = F.xxhash64("text").alias("h")
    bench = span_tokens(d.where(F.col("source") == "src0"), h)
    corpus = (
        span_tokens(d.where(F.col("source") != "src0"), "source", h)
        .join(F.broadcast(bench.select("h").distinct()), "h", "left_anti")
        .drop("h")
        .localCheckpoint(eager=False)  # tokenize once, consume thrice
    )
    bgrams = (
        positioned_grams(bench, "gram_h", hashed=True)
        .select("gram_h")
        .distinct()
    )
    grams = positioned_grams(corpus, "gram_h", hashed=True)
    cov = span_cover(grams.join(F.broadcast(bgrams), "gram_h"))
    return scrub_finale(corpus, cov, extra_cols=("source",))
