"""Corpus statistics: vocabulary coverage, distribution drift and
lexical diversity — the monitoring a training-data pipeline runs per
ingest batch and per source.

* Vocabulary/OOV (``text_vocab_oov``): the top-N vocabulary by
  DOCUMENT frequency (robust to one spammy doc), broadcast, scoring each
  document's out-of-vocabulary rate. PSI (``source_length_psi``): each
  source's length distribution against the corpus over fixed buckets
  (PSI > 0.2 = "the source changed"). Source token cosine and text
  canonicalization ride along.
* Unigram KL per source (``source_unigram_kl``):
  KL(src || corpus) = sum_t (c_st / C_s) * ln((c_st * C) / (C_s * c_t)),
  finite without smoothing because every source term is a corpus term;
  each log takes a ratio of exact BIGINT products. Pairwise JSD
  (``source_unigram_jsd``) is its symmetric companion, bounded by ln 2.
* Zipf fit (``text_zipf_exponent``): OLS of ln(freq) on ln(rank) per
  language, ranks from a tie-broken row_number.
* Cross-source trigram novelty (``source_ngram_novelty``): the ppm
  share of a source's distinct trigrams found in no other source.
* Hapax/TTR, per-source exact-dup rate and sentence shapes
  (``text_hapax_ttr_by_lang``, ``corpus_dedup_rate_by_source``,
  ``text_sentence_stats``).
* N-gram entropy rate (``text_ngram_entropy_rate``): unigram H1, bigram
  H2 and H(w2 | w1) = H2 - H1 in nats — natural text's context
  predicts, so the rate sits well below H1.

Determinism: counts are BIGINT; each float term derives from exact
integer counts, so per-term doubles are bit-identical across engines
and only final sums are rounded.

Scale: every surface aggregates the one corpus scan down to
vocabulary- or source-sized tables (map-side combined) before any
join; nothing joins document pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_spark.registry import register
from orca_spark.tables import load

_VOCAB_N = 16  # the driver corpus has ~31 distinct tokens; 16 leaves a
# real OOV tail. Production sizing (32k-256k) changes nothing
# structurally — the vocab stays broadcast-range either way.

_N_BUCKETS = 12
_BUCKET_W = 50  # n_chars in [0, 600) across the corpus; cap the tail


@register(
    "text_vocab_oov",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        df AS (
            SELECT token, count(DISTINCT doc_id) AS dfreq
            FROM tok GROUP BY token
        ),
        vocab AS (
            SELECT token FROM df
            ORDER BY dfreq DESC, token ASC LIMIT {_VOCAB_N}
        ),
        per AS (
            SELECT doc_id,
                   count(*) AS n_tokens,
                   sum(CASE WHEN token NOT IN (SELECT token FROM vocab)
                            THEN 1 ELSE 0 END) AS n_oov
            FROM tok GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_oov AS BIGINT) AS n_oov,
               round(n_oov * 1.0 / n_tokens, 6) AS oov_rate
        FROM per
    """,
    description=f"vocabulary build + OOV scoring: top-{_VOCAB_N} tokens "
    "by document frequency (ties broken by token for determinism), "
    "broadcast anti-join scores every doc's out-of-vocabulary token "
    "rate — the batch-health signal that catches mis-languaged or "
    "corrupted ingests; df-count shuffles once map-side-combined, the "
    "vocab itself is model-sized and broadcast",
)
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dfreq = (
        tok.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("dfreq"))
    )
    wv = W.orderBy(F.col("dfreq").desc(), F.col("token").asc())
    # rank the (tiny: distinct-token-sized) df table on a single task —
    # at web scale the df table is still only vocabulary-sized (< 10M
    # rows), and the two-phase form (per-partition top-N then merge)
    # drops in if it ever isn't
    vocab = (
        dfreq.withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") <= _VOCAB_N)
        .select("token")
    )
    totals = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    oov = (
        tok.join(F.broadcast(vocab), "token", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    return (
        totals.join(oov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.round(
                F.coalesce("n_oov", F.lit(0)) * F.lit(1.0) / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


@register(
    "source_length_psi",
    oracle=f"""
        WITH bucketed AS (
            SELECT source,
                   least(CAST(floor(n_chars / {_BUCKET_W}) AS BIGINT),
                         {_N_BUCKETS - 1}) AS bucket
            FROM documents
        ),
        grid AS (
            SELECT s.source, b.bucket
            FROM (SELECT DISTINCT source FROM bucketed) s
            CROSS JOIN (SELECT unnest(range({_N_BUCKETS})) AS bucket) b
        ),
        src AS (
            SELECT source, bucket, count(*) AS c
            FROM bucketed GROUP BY source, bucket
        ),
        tot AS (
            SELECT bucket, count(*) AS c FROM bucketed GROUP BY bucket
        ),
        sums AS (
            SELECT CAST(sum(c) AS DOUBLE) AS n_all FROM tot
        ),
        persrc AS (
            SELECT source, CAST(sum(c) AS DOUBLE) AS n_src FROM src GROUP BY source
        ),
        terms AS (
            SELECT g.source,
                   (coalesce(s.c, 0) + 0.5) / (p.n_src + {0.5 * _N_BUCKETS!r}) AS p,
                   (coalesce(t.c, 0) + 0.5) / (m.n_all + {0.5 * _N_BUCKETS!r}) AS q
            FROM grid g
            LEFT JOIN src s ON g.source = s.source AND g.bucket = s.bucket
            LEFT JOIN tot t ON g.bucket = t.bucket
            CROSS JOIN sums m
            JOIN persrc p ON g.source = p.source
        )
        SELECT source, round(sum((p - q) * ln(p / q)), 6) AS psi
        FROM terms GROUP BY source
    """,
    description=f"population stability index per source: each source's "
    f"n_chars distribution over {_N_BUCKETS} fixed {_BUCKET_W}-char "
    "buckets vs the whole corpus, Laplace-smoothed so empty buckets "
    "stay finite — the per-ingest drift monitor (PSI > 0.2 flags a "
    "changed source); two partial-agg passes plus a broadcast of the "
    "bucket-count tables, which are grid-sized, never corpus-sized",
)
def source_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucketed = d.select(
        "source",
        F.least(
            F.floor(F.col("n_chars") / _BUCKET_W).cast("long"),
            F.lit(_N_BUCKETS - 1),
        ).alias("bucket"),
    )
    src = bucketed.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("c"))
    tot = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    grid = (
        bucketed.select("source")
        .distinct()
        .crossJoin(
            spark.range(_N_BUCKETS).select(F.col("id").alias("bucket"))
        )
    )
    n_all = tot.agg(F.sum("c").cast("double").alias("n_all"))
    persrc = src.groupBy("source").agg(F.sum("c").cast("double").alias("n_src"))
    smooth = 0.5 * _N_BUCKETS
    terms = (
        grid.join(src, ["source", "bucket"], "left")
        .withColumnRenamed("c", "sc")
        .join(F.broadcast(tot.withColumnRenamed("c", "tc")), "bucket", "left")
        .crossJoin(F.broadcast(n_all))
        .join(F.broadcast(persrc), "source")
        .select(
            "source",
            (
                (F.coalesce("sc", F.lit(0)) + 0.5)
                / (F.col("n_src") + F.lit(smooth))
            ).alias("p"),
            (
                (F.coalesce("tc", F.lit(0)) + 0.5)
                / (F.col("n_all") + F.lit(smooth))
            ).alias("q"),
        )
    )
    psi = F.round(
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
    )
    return terms.groupBy("source").agg(psi.alias("psi"))


@register(
    "source_token_cosine",
    oracle="""
        WITH c AS (
            SELECT source, token, CAST(count(*) AS DOUBLE) AS c
            FROM (
                SELECT source, unnest(string_split(text, ' ')) AS token
                FROM documents
            )
            GROUP BY source, token
        ),
        n AS (
            SELECT source, sqrt(sum(c * c)) AS nrm FROM c GROUP BY source
        )
        SELECT a.source AS source_a, b.source AS source_b,
               round(sum(a.c * b.c) / (max(na.nrm) * max(nb.nrm)), 6) AS cosine
        FROM c a
        JOIN c b ON a.token = b.token AND a.source < b.source
        JOIN n na ON na.source = a.source
        JOIN n nb ON nb.source = b.source
        GROUP BY a.source, b.source
    """,
    description="pairwise source similarity: cosine between per-source "
    "unigram count vectors — corpus reduces to a vocabulary-sized "
    "(source, token) count table first (one map-side-combinable "
    "shuffle), the pairwise stage then joins that MODEL-sized table "
    "with itself on token; the mix-monitoring view that shows which "
    "ingest sources are near-duplicates of each other",
)
def source_token_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = c.groupBy("source").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = c.select(
        F.col("source").alias("source_a"), "token", F.col("c").alias("ca")
    )
    b = c.select(
        F.col("source").alias("source_b"), "token", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "token")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = F.broadcast(n.select(F.col("source").alias("source_a"), F.col("nrm").alias("na")))
    nb = F.broadcast(n.select(F.col("source").alias("source_b"), F.col("nrm").alias("nb")))
    return (
        dots.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )


@register(
    "text_canonicalize",
    oracle="""
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')) AS canonical,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS canonical_hash
        FROM documents
        WHERE text IS NOT NULL
    """,
    description="canonicalization before hashing: lowercase, strip "
    "non-alphanumerics, collapse whitespace runs, trim — the "
    "normalization pass that makes exact dedup robust to cosmetic "
    "variation ('Hello,  World!' == 'hello world'); emits the "
    "canonical form and its md5, one codegen'd projection with "
    "RE2-compatible patterns so the oracle matches byte-for-byte",
)
def text_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id", canon.alias("canonical"), F.md5(canon).alias("canonical_hash")
    )


# ---------------------------------------------------------------------------
# Per-source unigram KL divergence from the corpus
# ---------------------------------------------------------------------------


@register(
    "source_unigram_kl",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS w
            FROM documents
            WHERE text IS NOT NULL AND source IS NOT NULL
        ),
        st AS (
            SELECT source, w, CAST(count(*) AS BIGINT) AS c_st
            FROM tok GROUP BY source, w
        ),
        ct AS (SELECT w, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY w),
        totals AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS c_s FROM st GROUP BY source),
        corpus AS (SELECT CAST(sum(c_t) AS BIGINT) AS c FROM ct)
        SELECT s.source,
               t.c_s AS n_tokens,
               round(sum((s.c_st * 1.0 / t.c_s)
                         * ln((s.c_st * corpus.c) * 1.0 / (t.c_s * ct.c_t))), 4)
                   AS kl_nats
        FROM st s
        JOIN ct USING (w)
        JOIN totals t USING (source)
        CROSS JOIN corpus
        GROUP BY s.source, t.c_s
    """,
    description="per-source unigram KL divergence from the corpus "
    "distribution (nats): the domain-shift score behind mixture "
    "curation — near-zero = redundant with the bulk, high = novel "
    "vocabulary; finite without smoothing since source vocab is a "
    "subset of corpus vocab, each log term a ratio of exact BIGINT "
    "products, final sum rounded at the surface",
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    tok = docs.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("w"),
    )
    st = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_st"))
    ct = st.groupBy("w").agg(F.sum("c_st").alias("c_t"))
    totals = st.groupBy("source").agg(F.sum("c_st").alias("c_s"))
    corpus = ct.agg(F.sum("c_t").alias("c"))
    return (
        st.join(ct, "w")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(corpus))
        .groupBy("source", F.col("c_s").alias("n_tokens"))
        .agg(
            F.round(
                F.sum(
                    (F.col("c_st") / F.col("c_s"))
                    * F.log(
                        (F.col("c_st") * F.col("c"))
                        / (F.col("c_s") * F.col("c_t"))
                    )
                ),
                4,
            ).alias("kl_nats")
        )
    )


# ---------------------------------------------------------------------------
# Zipf-law fit of the token frequency distribution
# ---------------------------------------------------------------------------


@register(
    "text_zipf_exponent",
    oracle="""
        WITH tok AS (
            SELECT lang, unnest(list_filter(string_split(text, ' '),
                                            t -> t <> '')) AS w
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
        ),
        counts AS (
            SELECT lang, w, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY lang, w
        ),
        ranked AS (
            SELECT lang,
                   ln(row_number() OVER (PARTITION BY lang
                                         ORDER BY c DESC, w)) AS x,
                   ln(c) AS y
            FROM counts
        ),
        fit AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_tokens_vocab,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(y * y) AS syy,
                   sum(x * y) AS sxy
            FROM ranked GROUP BY lang
        )
        SELECT lang, n_tokens_vocab,
               round((n_tokens_vocab * sxy - sx * sy)
                     / nullif(n_tokens_vocab * sxx - sx * sx, 0), 4) AS slope,
               round(pow(n_tokens_vocab * sxy - sx * sy, 2)
                     / nullif((n_tokens_vocab * sxx - sx * sx)
                              * (n_tokens_vocab * syy - sy * sy), 0), 4)
                   AS r2
        FROM fit
    """,
    description="per-language Zipf fit: OLS slope and r-squared of "
    "ln(freq) on ln(rank) over the unigram table — natural text sits "
    "near slope -1, flatter flags synthetic/templated mass, steeper "
    "flags degenerate repetition; ranks are integer-derived with a "
    "token tie-break, regression runs on the vocabulary-sized count "
    "table with a lang-partitioned window, floats rounded at the "
    "surface",
)
def text_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    tok = docs.select(
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("w"),
    )
    counts = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    rw = W.partitionBy("lang").orderBy(F.col("c").desc(), F.col("w"))
    ranked = counts.select(
        "lang",
        F.log(F.row_number().over(rw).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    fit = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens_vocab"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n_tokens_vocab") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n_tokens_vocab") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n_tokens_vocab") * F.col("syy") - F.col("sy") * F.col("sy")
    return fit.select(
        "lang",
        "n_tokens_vocab",
        F.round(num / F.expr("nullif(n_tokens_vocab * sxx - sx * sx, 0)"), 4).alias(
            "slope"
        ),
        F.round(
            F.pow(num, F.lit(2)) / F.when(denx * deny == 0, None).otherwise(denx * deny),
            4,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Cross-source trigram novelty
# ---------------------------------------------------------------------------


_N = 3  # trigrams


@register(
    "source_ngram_novelty",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS ts
            FROM documents
            WHERE text IS NOT NULL AND source IS NOT NULL
        ),
        grams AS (
            SELECT DISTINCT source,
                   array_to_string(list_slice(ts, i, i + {_N - 1}), ' ') AS g
            FROM toks, UNNEST(generate_series(1, len(ts) - {_N - 1})) AS t(i)
            WHERE len(ts) >= {_N}
        ),
        spread AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_sources
            FROM grams GROUP BY g
        )
        SELECT gr.source,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN sp.n_sources = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(sum(CASE WHEN sp.n_sources = 1 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS novelty_ppm
        FROM grams gr JOIN spread sp USING (g)
        GROUP BY gr.source
    """,
    description=f"per-source {_N}-gram novelty: of each source's "
    "distinct word trigrams, the count and ppm share found in no other "
    "source — the set-level complement of source_unigram_kl (high "
    "novelty = irreplaceable material, zero = pure redundancy); one "
    "explode, gram-keyed distinct + source-spread counts, no pair "
    "joins, all-BIGINT output",
)
def source_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    toks = docs.select(
        "source",
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("ts"),
    ).where(F.size("ts") >= _N)
    grams = (
        toks.select(
            "source",
            F.explode(F.expr(f"sequence(1, size(ts) - {_N - 1})")).alias("i"),
            "ts",
        )
        .select(
            "source",
            F.array_join(F.expr(f"slice(ts, i, {_N})"), " ").alias("g"),
        )
        .distinct()
    )
    spread = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_sources"))
    return (
        grams.join(spread, "g")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn("novelty_ppm", F.expr("n_novel * 1000000 div n_grams"))
    )


# ---------------------------------------------------------------------------
# Hapax/TTR, source JSD, per-source dup rate, sentence shapes
# ---------------------------------------------------------------------------


_SENT_RE = "[.!?]+"


@register(
    "text_hapax_ttr_by_lang",
    oracle="""
        WITH tok AS (
            SELECT lang, unnest(list_filter(string_split(text, ' '),
                                            t -> t <> '')) AS w
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
        ),
        counts AS (
            SELECT lang, w, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY lang, w
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS vocab_size,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hapax_count,
               round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 4) AS hapax_ratio,
               round(count(*) * 1.0 / sum(c), 4) AS ttr
        FROM counts GROUP BY lang
    """,
    description="per-language lexical diversity: vocabulary size, token "
    "count, hapax count/ratio (tokens seen exactly once), type-token "
    "ratio — the one-scan diversity screen (low hapax share flags "
    "templated mass, very high flags tokenizer/OCR damage); computed "
    "on the vocabulary-sized count table, counts BIGINT, ratios of "
    "exact integers rounded at the surface",
)
def text_hapax_ttr_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    tok = docs.select(
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("w"),
    )
    counts = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("n_tokens"),
        hapax.alias("hapax_count"),
        F.round(hapax / F.count(F.lit(1)), 4).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 4).alias("ttr"),
    )


@register(
    "source_unigram_jsd",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS w
            FROM documents
            WHERE text IS NOT NULL AND source IS NOT NULL
        ),
        st AS (
            SELECT source, w, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY source, w
        ),
        totals AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n
            FROM st GROUP BY source
        ),
        pairs AS (
            SELECT a.source AS source_a, a.n AS na,
                   b.source AS source_b, b.n AS nb
            FROM totals a JOIN totals b ON a.source < b.source
        ),
        ja AS (
            SELECT p.source_a, p.source_b, s.w, s.c AS ca
            FROM pairs p JOIN st s ON s.source = p.source_a
        ),
        jb AS (
            SELECT p.source_a, p.source_b, s.w, s.c AS cb
            FROM pairs p JOIN st s ON s.source = p.source_b
        ),
        merged AS (
            SELECT COALESCE(ja.source_a, jb.source_a) AS source_a,
                   COALESCE(ja.source_b, jb.source_b) AS source_b,
                   COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
            FROM ja FULL JOIN jb
              ON ja.source_a = jb.source_a
             AND ja.source_b = jb.source_b
             AND ja.w = jb.w
        ),
        terms AS (
            SELECT m.source_a, m.source_b,
                   (CASE WHEN ca > 0 THEN
                        (ca * 1.0 / p.na)
                        * ln((ca * 1.0 / p.na)
                             / ((ca * 1.0 / p.na + cb * 1.0 / p.nb) / 2))
                    ELSE 0.0 END)
                 + (CASE WHEN cb > 0 THEN
                        (cb * 1.0 / p.nb)
                        * ln((cb * 1.0 / p.nb)
                             / ((ca * 1.0 / p.na + cb * 1.0 / p.nb) / 2))
                    ELSE 0.0 END) AS t
            FROM merged m
            JOIN pairs p USING (source_a, source_b)
        )
        SELECT source_a, source_b, round(0.5 * sum(t), 4) AS jsd_nats
        FROM terms GROUP BY source_a, source_b
    """,
    description="pairwise Jensen-Shannon divergence (nats, bounded by "
    "ln 2) between source unigram distributions: the symmetric, "
    "always-finite companion to source_unigram_kl, feeding "
    "which-sources-are-interchangeable mixture decisions; per-term "
    "values derive from exact BIGINT counts (bit-identical across "
    "engines), only the order-dependent final sum is rounded; the "
    "pair join is (source-pairs x vocab)-sized with broadcast totals",
)
def source_unigram_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    tok = docs.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("w"),
    )
    st = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    totals = st.groupBy("source").agg(F.sum("c").alias("n"))
    pairs = (
        totals.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
        .join(
            totals.select(
                F.col("source").alias("source_b"), F.col("n").alias("nb")
            ),
            F.col("source_a") < F.col("source_b"),
        )
    )
    ja = pairs.select("source_a", "source_b").join(
        st.select(F.col("source").alias("source_a"), "w", F.col("c").alias("ca")),
        "source_a",
    )
    jb = pairs.select("source_a", "source_b").join(
        st.select(F.col("source").alias("source_b"), "w", F.col("c").alias("cb")),
        "source_b",
    )
    merged = (
        ja.join(jb, ["source_a", "source_b", "w"], "full_outer")
        .select(
            "source_a",
            "source_b",
            F.coalesce("ca", F.lit(0).cast("long")).alias("ca"),
            F.coalesce("cb", F.lit(0).cast("long")).alias("cb"),
        )
        .join(F.broadcast(pairs), ["source_a", "source_b"])
    )
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    mid = (p + q) / F.lit(2)
    term = F.when(F.col("ca") > 0, p * F.log(p / mid)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cb") > 0, q * F.log(q / mid)).otherwise(F.lit(0.0))
    return (
        merged.select("source_a", "source_b", term.alias("t"))
        .groupBy("source_a", "source_b")
        .agg(F.round(F.lit(0.5) * F.sum("t"), 4).alias("jsd_nats"))
    )


@register(
    "corpus_dedup_rate_by_source",
    oracle="""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
               CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dups,
               round((count(*) - count(DISTINCT text)) * 100.0
                     / count(*), 4) AS dup_pct
        FROM documents
        WHERE text IS NOT NULL AND source IS NOT NULL
        GROUP BY source
    """,
    description="per-source exact-duplicate share (docs minus distinct "
    "texts, as a percentage): the first number a curation run reports "
    "and the prior for ordering expensive near-dup passes; one "
    "source-keyed aggregation, counts BIGINT, percentage a ratio of "
    "exact integers rounded at the surface",
)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: countDistinct over full text shuffles text values;
    at 100 TB swap the distinct key to xxhash64(text) (the engine's
    8-byte dedup key rule, dedup.py) — kept as the raw column here so
    the oracle comparison is hash-function-free."""
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    n = F.count(F.lit(1))
    u = F.countDistinct("text")
    return docs.groupBy("source").agg(
        n.alias("n_docs"),
        u.alias("n_unique"),
        (n - u).alias("n_dups"),
        F.round((n - u) * F.lit(100.0) / n, 4).alias("dup_pct"),
    )


@register(
    "text_sentence_stats",
    oracle=f"""
        WITH per_doc AS (
            SELECT lang,
                   len(regexp_extract_all(text, '{_SENT_RE}')) AS n_sent,
                   len(list_filter(string_split(text, ' '),
                                   t -> t <> '')) AS n_words
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_sent) AS BIGINT) AS n_sentences,
               CAST(sum(n_words) AS BIGINT) AS n_words,
               round(sum(n_sent) * 1.0 / count(*), 4) AS sents_per_doc,
               round(sum(n_words) * 1.0 / nullif(sum(n_sent), 0), 4)
                   AS words_per_sentence
        FROM per_doc GROUP BY lang
    """,
    description="per-language sentence-shape profile: sentence count "
    "(runs of terminal punctuation), word count, sentences per doc, "
    "mean words per sentence — the C4-style structural quality signal "
    "separating prose from listings/tables; regex counting is one "
    "narrow map before a lang-keyed aggregation, counts BIGINT, "
    "ratios rounded at the surface",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    per_doc = docs.select(
        "lang",
        F.regexp_count("text", F.lit(_SENT_RE)).alias("n_sent"),
        F.size(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("n_words"),
    )
    ns = F.sum("n_sent")
    nw = F.sum("n_words")
    nd = F.count(F.lit(1))
    return per_doc.groupBy("lang").agg(
        nd.alias("n_docs"),
        ns.cast("long").alias("n_sentences"),
        nw.cast("long").alias("n_words"),
        F.round(ns / nd, 4).alias("sents_per_doc"),
        F.round(nw / F.nullif(ns, F.lit(0)), 4).alias("words_per_sentence"),
    )


# ---------------------------------------------------------------------------
# N-gram entropy rate
# ---------------------------------------------------------------------------


@register(
    "text_ngram_entropy_rate",
    oracle="""
        WITH tk AS (
            SELECT lang, list_filter(string_split(text, ' '),
                                     t -> t <> '') AS t
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
        ),
        uni AS (
            SELECT lang, unnest(t) AS w FROM tk
        ),
        uc AS (
            SELECT lang, w, CAST(count(*) AS BIGINT) AS c
            FROM uni GROUP BY lang, w
        ),
        un AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM uc GROUP BY lang),
        h1 AS (
            SELECT uc.lang,
                   sum(-(uc.c * 1.0 / un.n) * ln(uc.c * 1.0 / un.n)) AS h
            FROM uc JOIN un USING (lang) GROUP BY uc.lang
        ),
        bi AS (
            SELECT lang,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i + 1])) AS g
            FROM tk WHERE len(t) >= 2
        ),
        bc AS (
            SELECT lang, g, CAST(count(*) AS BIGINT) AS c
            FROM bi GROUP BY lang, g
        ),
        bn AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM bc GROUP BY lang),
        h2 AS (
            SELECT bc.lang,
                   sum(-(bc.c * 1.0 / bn.n) * ln(bc.c * 1.0 / bn.n)) AS h
            FROM bc JOIN bn USING (lang) GROUP BY bc.lang
        )
        SELECT h1.lang,
               round(h1.h, 4) AS h1_nats,
               round(h2.h, 4) AS h2_nats,
               round(h2.h - h1.h, 4) AS cond_entropy_nats
        FROM h1 JOIN h2 USING (lang)
    """,
    description="per-language unigram entropy, bigram entropy, and the "
    "conditional entropy rate H(w2|w1) = H2 - H1 in nats: the "
    "information-theoretic prose detector (natural text's context "
    "predicts, so the rate sits well below H1; templated/shuffled "
    "text's doesn't) ranking sources before model-based scoring; "
    "per-term values derive from exact BIGINT counts, final sums "
    "rounded — the KL/JSD contract; languages with no bigrams are "
    "omitted by the inner join",
)
def text_ngram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    tk = docs.select(
        "lang",
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("t"),
    )

    def entropy(counts: DataFrame) -> DataFrame:
        n = counts.groupBy("lang").agg(F.sum("c").alias("n"))
        p = F.col("c") / F.col("n")
        return (
            counts.join(F.broadcast(n), "lang")
            .groupBy("lang")
            .agg(F.sum(-p * F.log(p)).alias("h"))
        )

    uc = (
        tk.select("lang", F.explode("t").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("t", i), F.element_at("t", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bc = (
        tk.select("lang", F.explode(bigrams).alias("g"))
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    h1 = entropy(uc).withColumnRenamed("h", "ha")
    h2 = entropy(bc).withColumnRenamed("h", "hb")
    return h1.join(h2, "lang").select(
        "lang",
        F.round("ha", 4).alias("h1_nats"),
        F.round("hb", 4).alias("h2_nats"),
        F.round(F.col("hb") - F.col("ha"), 4).alias("cond_entropy_nats"),
    )
