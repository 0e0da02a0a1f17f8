"""Span-level text operators: winnowing fingerprints and n-gram Jaccard,
training-input layout, shared-prefix boilerplate, and word-gram
duplicate-span dedup.

* Winnowing (Schleimer, Wilkerson, Aiken, SIGMOD'03 — the MOSS scheme,
  ``text_winnowing_fingerprints``): hash every token 3-gram, slide a
  window of ``_WIN`` gram hashes, keep each window's minimum. Any shared
  token run of length >= 3 + _WIN - 1 yields a shared fingerprint while
  only ~2/(_WIN+1) of the grams are stored.
* Exact 3-gram-set Jaccard >= 0.8 pairs by prefix filtering
  (``dedup_ngram_jaccard``, the SSJoin/PPJoin family): each doc's gram
  set is ordered by document frequency and only its first
  ``|g| - ceil(t*|g|) + 1`` grams are indexed — two sets with
  Jaccard >= t must share a prefix gram, so recall is 1 and work is
  bounded by rare-gram buckets, not n². Grams ride as ``xxhash64``
  longs; the oracle intersects gram strings — identical absent a 64-bit
  collision.
* Training-input layout: overlapping chunk windows, concatenation
  packing within 16 md5 partitions, the content-hash train/val/test
  split, and the train/test leakage check over winnowing fingerprints
  (fingerprint-keyed, never document-pairwise).
* Shared-prefix boilerplate: the manifest of leading-token prefixes
  held by many documents (the CCNet/C4-style header detector exact
  dedup misses because bodies differ) and the strip accounting that
  applies it — one prefix definition for both, so the strip can never
  remove a prefix the manifest did not flag.
* Duplicate spans (Lee et al. 2022, "Deduplicating Training Data Makes
  Language Models Better") at word-``_SPAN_N``-gram granularity: the
  coverage diagnostic, the cross-document scrub (a gram is duplicated
  when ``count(DISTINCT doc_id) > 1`` and every occurrence is excised),
  and the paper's ExactSubstr form (a gram is duplicated when it occurs
  more than once anywhere, within-document repeats included, and the
  corpus-first occurrence survives). The paper works on maximal
  repeated substrings from a suffix array; at fixed gram width the cover
  is the union of per-gram decisions, so a token inside one gram's
  canonical span can still be excised by an overlapping gram whose
  canonical copy lives elsewhere — a conservative (never
  under-scrubbing) approximation.

Every span scrub, ``pipeline_decontaminate_scrub`` included, runs one
pipeline: tokens (``span_tokens`` or ``guarded_tokens``) →
``positioned_grams`` → a cover of (doc_id, idx) token positions built on
``span_cover`` (``cross_doc_cover``, ``keep_one_cover`` or a broadcast
join) → ``scrub_finale``; none of its stages joins document pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark.registry import REGISTRY, register
from orca_spark.tables import load, widen


# ---------------------------------------------------------------------------
# Winnowing fingerprints and exact n-gram Jaccard
# ---------------------------------------------------------------------------


_N = 3          # token n-gram width
_WIN = 4        # winnowing window (in grams)
_JACCARD_T = 0.8


def _gram_structs(doc: DataFrame, expr) -> DataFrame:
    """(doc_id, n_grams, pos, gram-expr) for every token 3-gram; docs
    shorter than _N tokens have no grams and drop out (their near-dup
    handling belongs to the token-set paths in dedup.py)."""
    toks = F.split(F.col("text"), " ")
    d = doc.select("doc_id", toks.alias("tk")).where(F.size("tk") >= _N)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("tk") - (_N - 1)),
        lambda i: expr(
            F.concat_ws(
                " ",
                F.element_at("tk", i.cast("int")),
                F.element_at("tk", (i + 1).cast("int")),
                F.element_at("tk", (i + 2).cast("int")),
            )
        ),
    )
    return d.select(
        "doc_id",
        (F.size("tk") - (_N - 1)).alias("n_grams"),
        F.posexplode(grams).alias("pos0", "g"),
    ).select("doc_id", "n_grams", (F.col("pos0") + 1).alias("pos"), "g")


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS tk
            FROM documents
            WHERE len(string_split(text, ' ')) >= {_N}
        ),
        g0 AS (
            SELECT doc_id, len(tk) - {_N - 1} AS n_grams,
                   unnest(list_transform(range(1, len(tk) - {_N - 2}),
                       i -> {{'pos': i,
                             'h': substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 16)}})) AS ph
            FROM t
        ),
        wm AS (
            SELECT doc_id, ph.pos AS pos, n_grams,
                   min(ph.h) OVER (PARTITION BY doc_id ORDER BY ph.pos
                        ROWS BETWEEN CURRENT ROW AND {_WIN - 1} FOLLOWING) AS fp
            FROM g0
        )
        SELECT DISTINCT doc_id, fp
        FROM wm
        WHERE pos <= greatest(n_grams - {_WIN - 1}, 1)
    """,
    description="winnowing document fingerprints (MOSS): md5 of each "
    f"token {_N}-gram, min over a {_WIN}-gram sliding window, distinct — "
    "guarantees shared fingerprints for any sufficiently long shared run "
    "while keeping ~2/(w+1) of the grams; codegen'd, one shuffle",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_fingerprints(load(spark, sf_dir, "documents"))


def winnowing_fingerprints(doc: DataFrame) -> DataFrame:
    """(doc_id, text) → distinct (doc_id, fp) winnowing fingerprints."""
    grams = _gram_structs(doc, lambda s: F.substring(F.md5(s), 1, 16))
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN - 1)
    return (
        grams.withColumn("fp", F.min("g").over(w))
        # full windows only; docs with < _WIN grams keep their single
        # all-grams window (pos 1, frame shrinks at the tail)
        .where(F.col("pos") <= F.greatest(F.col("n_grams") - (_WIN - 1), F.lit(1)))
        .select("doc_id", "fp")
        .distinct()
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(tk) - {_N - 2}),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
            FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
            WHERE len(tk) >= {_N}
        ),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.g, b.g)) AS inter,
                   len(a.g) AS sa, len(b.g) AS sb
            FROM s a JOIN s b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               round(inter::DOUBLE / (sa + sb - inter), 4) AS jaccard
        FROM p
        WHERE inter::DOUBLE / (sa + sb - inter) >= {_JACCARD_T}
    """,
    description=f"exact {_N}-gram-set Jaccard >= {_JACCARD_T} pairs via "
    "prefix filtering (SSJoin): grams globally ordered by document "
    "frequency, only the |g|-ceil(t|g|)+1 rarest indexed, candidates "
    "bucket-joined on prefix grams (recall 1 by the prefix theorem), "
    "then verified with array_intersect — O(candidates), never n^2; "
    "oracle runs the all-pairs form",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sets = (
        _gram_structs(d, lambda s: F.xxhash64(s))
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("g")).alias("g"))
        .select("doc_id", "g", F.size("g").alias("sz"))
    )
    exploded = sets.select("doc_id", "sz", F.explode("g").alias("gh"))
    freq = exploded.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    # global total order (df asc, gh asc): prefixes prefer rare grams,
    # shrinking candidate buckets; any total order preserves recall
    rn = F.row_number().over(W.partitionBy("doc_id").orderBy("df", "gh"))
    prefix_len = F.col("sz") - F.ceil(F.lit(_JACCARD_T) * F.col("sz")) + 1
    prefix = (
        exploded.join(freq, "gh")
        .withColumn("rn", rn)
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "gh")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), (F.col("a.gh") == F.col("b.gh"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ga = sets.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("g_a"), F.col("sz").alias("sa"))
    gb = sets.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"), F.col("sz").alias("sb"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    jac = inter / (F.col("sa") + F.col("sb") - inter)
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .where(jac >= _JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Training-input layout: chunks, packing, splits, cross-split leakage
# ---------------------------------------------------------------------------


_CHUNK = 50     # tokens per window
_STRIDE = 40    # window stride (10-token overlap)
_BUDGET = 256   # tokens per packed training sequence

# split boundaries on the first md5 nibble of the text: 0-b train (12/16),
# c-d val (2/16), e-f test (2/16)
_SPLIT_CASE_SQL = (
    "CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train' "
    "WHEN substr(md5(text), 1, 1) < 'e' THEN 'val' ELSE 'test' END"
)


@register(
    "text_chunk_windows",
    oracle=f"""
        SELECT doc_id, ch.i AS chunk_idx, ch.c AS chunk_text,
               ch.n AS n_chunk_tokens
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(0, ((len(tk) - 1) // {_STRIDE}) + 1),
                       i -> {{'i': i,
                             'c': array_to_string(tk[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}], ' '),
                             'n': least({_CHUNK}, len(tk) - i*{_STRIDE})}})) AS ch
            FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        )
    """,
    description=f"overlapping token windows per document (size {_CHUNK}, "
    f"stride {_STRIDE}): the long-document chunking pass before "
    "tokenization — split/sequence/slice codegen, shuffle-free",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    chunks = F.expr(
        f"transform(sequence(0, cast((size(split(text, ' ')) - 1) / {_STRIDE} as int)), "
        f"i -> named_struct("
        f"'c', concat_ws(' ', slice(split(text, ' '), i*{_STRIDE} + 1, {_CHUNK})), "
        f"'n', least({_CHUNK}, size(split(text, ' ')) - i*{_STRIDE})))"
    )
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "ch")
    ).select(
        "doc_id",
        "chunk_idx",
        F.col("ch.c").alias("chunk_text"),
        F.col("ch.n").alias("n_chunk_tokens"),
    )


@register(
    "text_greedy_pack",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS part,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        placed AS (
            SELECT doc_id, part, n_tokens,
                   CAST(sum(n_tokens) OVER (PARTITION BY part ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM sized
        )
        SELECT doc_id, part, n_tokens,
               CAST((cum - n_tokens) // {_BUDGET} AS BIGINT) AS pack_id,
               CAST((cum - n_tokens) % {_BUDGET} AS BIGINT) AS pack_offset
        FROM placed
    """,
    description=f"concatenation packing into {_BUDGET}-token training "
    "sequences: docs streamed in deterministic order within 16 md5 "
    "partitions, each tagged with the pack it starts in and its offset "
    "— one window cumsum per partition, no global ordering, "
    "reproducible across engines and partitionings",
)
def text_greedy_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("part"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = W.partitionBy("part").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    placed = sized.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return placed.select(
        "doc_id",
        "part",
        "n_tokens",
        (start / _BUDGET).cast("long").alias("pack_id"),
        (start % _BUDGET).cast("long").alias("pack_offset"),
    )


@register(
    "documents_train_val_test",
    oracle=f"""
        SELECT doc_id, {_SPLIT_CASE_SQL} AS split
        FROM documents
    """,
    description="deterministic train/val/test split (~75/12.5/12.5) on "
    "the CONTENT md5 nibble: membership is a pure function of the "
    "document text — stable under repartitioning, re-ingestion, and "
    "engine choice; identical duplicates always land in the same split",
)
def documents_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.expr(_SPLIT_CASE_SQL).alias("split"))


@register(
    "dedup_cross_split_contamination",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_SPLIT_CASE_SQL} AS split, string_split(text, ' ') AS tk
            FROM documents
            WHERE len(string_split(text, ' ')) >= 3
        ),
        g0 AS (
            SELECT doc_id, split, len(tk) - 2 AS n_grams,
                   unnest(list_transform(range(1, len(tk) - 1),
                       i -> {{'pos': i,
                             'h': substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 16)}})) AS ph
            FROM t
        ),
        wm AS (
            SELECT doc_id, split, ph.pos AS pos, n_grams,
                   min(ph.h) OVER (PARTITION BY doc_id ORDER BY ph.pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM g0
        ),
        fps AS (
            SELECT DISTINCT doc_id, split, fp
            FROM wm WHERE pos <= greatest(n_grams - 3, 1)
        )
        SELECT te.doc_id, count(DISTINCT te.fp) AS n_shared_fps
        FROM fps te
        JOIN (SELECT DISTINCT fp FROM fps WHERE split = 'train') tr
          ON te.fp = tr.fp
        WHERE te.split = 'test'
        GROUP BY te.doc_id
    """,
    description="train/test decontamination: test documents sharing a "
    "winnowing fingerprint with ANY train document, with the shared-"
    "fingerprint count — the leakage check before every eval. Join is "
    "fingerprint-keyed (train side deduplicated to distinct "
    "fingerprints), never document-pairwise",
)
def dedup_cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    split = d.select("doc_id", F.expr(_SPLIT_CASE_SQL).alias("split"))
    fps = winnowing_fingerprints(d).join(split, "doc_id")
    train_fps = fps.where(F.col("split") == "train").select("fp").distinct()
    test_fps = fps.where(F.col("split") == "test")
    return (
        test_fps.join(train_fps, "fp")
        .groupBy("doc_id")
        .agg(F.count_distinct("fp").alias("n_shared_fps"))
    )


# ---------------------------------------------------------------------------
# Shared-prefix boilerplate: the manifest and its strip accounting
# ---------------------------------------------------------------------------


_K = 5  # prefix length (tokens)
_MIN_DOCS = 3  # prefixes shared by fewer docs are not boilerplate


@register(
    "text_prefix_boilerplate",
    oracle=f"""
        WITH pre AS (
            SELECT doc_id, source,
                   array_to_string(
                       list_filter(string_split(text, ' '),
                                   t -> t <> '')[1:{_K}], ' ') AS prefix
            FROM documents
            WHERE text IS NOT NULL
        )
        SELECT prefix,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM pre
        WHERE prefix <> ''
        GROUP BY prefix
        HAVING count(*) >= {_MIN_DOCS}
    """,
    description=f"shared leading-{_K}-token prefixes held by >= "
    f"{_MIN_DOCS} documents, with doc and distinct-source counts: the "
    "header/cookie-banner/template-opening detector exact dedup misses "
    "because bodies differ — the returned manifest is the strip list a "
    "boilerplate-removal pass consumes; one prefix-keyed aggregation "
    "over exact string keys, all counts BIGINT",
)
def text_prefix_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    prefix = F.concat_ws(
        " ",
        F.slice(
            F.filter(F.split("text", " "), lambda t: t != F.lit("")),
            1,
            _K,
        ),
    )
    return (
        docs.select(prefix.alias("prefix"), "source")
        .where(F.col("prefix") != "")
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .where(F.col("n_docs") >= _MIN_DOCS)
    )


@register(
    "text_boilerplate_strip_accounting",
    oracle=f"""
        WITH pre AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
            WHERE text IS NOT NULL AND doc_id IS NOT NULL
        ),
        keyed AS (
            SELECT doc_id, toks,
                   array_to_string(toks[1:{_K}], ' ') AS prefix
            FROM pre WHERE len(toks) > 0
        ),
        flagged AS (
            SELECT prefix FROM keyed
            GROUP BY prefix HAVING count(*) >= {_MIN_DOCS}
        )
        SELECT k.doc_id, k.prefix,
               CAST(len(k.toks) AS BIGINT) AS n_tokens_before,
               CAST(greatest(len(k.toks) - {_K}, 0) AS BIGINT)
                   AS n_tokens_after
        FROM keyed k JOIN flagged f USING (prefix)
    """,
    description=f"boilerplate strip accounting: every document whose "
    f"leading {_K} tokens match a shared (>= {_MIN_DOCS} docs) prefix, "
    "with token counts before/after removal — the committed record of "
    "what a boilerplate pass stripped and its token cost, sharing one "
    "prefix definition with the detection manifest so application can "
    "never outrun detection; broadcast semi-join of docs against the "
    "flagged set, all BIGINT counts",
)
def text_boilerplate_strip_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    keyed = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.concat_ws(" ", F.slice(toks, 1, _K)).alias("prefix"),
    ).where(F.col("n_toks") > 0)
    flagged = (
        keyed.groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _MIN_DOCS)
        .select("prefix")
    )
    return keyed.join(F.broadcast(flagged), "prefix").select(
        "doc_id",
        "prefix",
        F.col("n_toks").alias("n_tokens_before"),
        F.greatest(F.col("n_toks") - _K, F.lit(0).cast("long")).alias(
            "n_tokens_after"
        ),
    )


# ---------------------------------------------------------------------------
# Duplicate spans: one word-gram pipeline
# ---------------------------------------------------------------------------


_SPAN_N = 8  # word-gram width (Lee et al. use 50 BPE tokens; 8 words ~ parity)
_SHIFT = 1 << 32  # pk = doc_id * 2^32 + i : order-isomorphic to (doc_id, i)


def span_tokens(docs: DataFrame, *cols) -> DataFrame:
    """(doc_id, *cols, toks): each document's space-separated tokens
    with the empty ones (double spaces) dropped."""
    return docs.select(
        "doc_id",
        *cols,
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("toks"),
    )


def guarded_tokens(docs: DataFrame, opname: str) -> DataFrame:
    """(doc_id, toks) with both pk-packing guards asserted once per
    DOCUMENT at the tokenize boundary (O(docs), not O(grams)):
    doc_id ∈ [0, 2^31) and size(toks) < 2^32 - _SPAN_N, because a
    silent BIGINT overflow (or a broken (doc_id, i) order-isomorphism)
    would silently move the canonical copy. NULL doc_id passes through
    (dropped by the joins like every other NULL key — raising here
    would let filter/projection reordering abort on rows an upstream
    filter already excluded, the hazard similarity._guard_width
    documents); only genuinely out-of-range values raise."""
    return docs.select(
        F.expr(
            "case when doc_id is null then doc_id "
            "when doc_id between 0 and 2147483647 then doc_id "
            f"else raise_error(concat('{opname}: doc_id ', "
            "cast(doc_id as string), ' outside [0, 2^31) — pk packing "
            "would overflow')) end"
        ).alias("doc_id"),
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("toks"),
    ).select(
        "doc_id",
        F.expr(
            f"case when size(toks) >= {(1 << 32) - _SPAN_N} then "
            f"raise_error(concat('{opname}: document ', "
            "cast(doc_id as string), ' has ', cast(size(toks) as string), "
            "' tokens — gram positions would overflow the pk packing')) "
            "else toks end"
        ).alias("toks"),
    )


def positioned_grams(toks: DataFrame, key: str, hashed: bool) -> DataFrame:
    """(doc_id, i, <key>): every word-_SPAN_N-gram of each document with
    its 1-based start position ``i``; documents shorter than the gram
    width emit none. ``hashed`` keys grams by ``xxhash64(gram)`` LONGS
    (8-byte shuffle keys) instead of the gram string — the 100 TB form;
    grouping by the hash is equivalent to grouping by the string absent
    a 64-bit collision."""
    gram = f"concat_ws(' ', slice(toks, i, {_SPAN_N}))"
    if hashed:
        gram = f"xxhash64({gram})"
    return (
        toks.where(F.size("toks") >= _SPAN_N)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_SPAN_N - 1}),"
                    f" i -> {gram})"
                )
            ).alias("p0", key),
        )
        .select("doc_id", (F.col("p0") + 1).alias("i"), key)
    )


def doc_spread(grams: DataFrame, key: str) -> DataFrame:
    """(<key>, nd): the number of distinct documents each gram occurs in
    — a gram-keyed aggregate whose countDistinct partials combine
    map-side."""
    return grams.groupBy(key).agg(F.countDistinct("doc_id").alias("nd"))


def span_cover(hits: DataFrame) -> DataFrame:
    """Distinct (doc_id, idx) token positions covered by the
    _SPAN_N-token span starting at each hit's ``i``: a bounded
    _SPAN_N× explode and a (doc_id, idx)-keyed distinct."""
    return hits.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("i"), F.col("i") + F.lit(_SPAN_N - 1))
        ).alias("idx"),
    ).distinct()


def cross_doc_cover(grams: DataFrame, key: str) -> DataFrame:
    """Cover of every occurrence of a gram that appears in more than one
    document; spans repeated only within one document survive."""
    dup = doc_spread(grams, key).where(F.col("nd") > 1).select(key)
    return span_cover(grams.join(dup, key))


def keep_one_cover(grams: DataFrame, key: str) -> DataFrame:
    """Cover of every NON-canonical occurrence of a gram that occurs
    more than once anywhere. The canonical occurrence is the
    corpus-first one, the minimum of ``pk = doc_id·2^32 + i``; pk is
    derived here from (doc_id, i), so gram streams (and the hashed
    form's checkpoint) never store it, and min(pk) rides the gram-keyed
    aggregate as an 8-byte map-side-combinable partial next to the
    count."""
    pk = F.col("doc_id") * F.lit(_SHIFT) + F.col("i")
    gd = (
        grams.groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"), F.min(pk).alias("min_pk"))
        .where(F.col("cnt") > 1)
        .select(key, "min_pk")
    )
    return span_cover(grams.join(gd, key).where(pk != F.col("min_pk")))


def scrub_finale(
    base: DataFrame, cov: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The span-scrub accounting contract over (doc_id, toks[, extra])
    and a (doc_id, idx) scrub cover: per-doc scrub count, kept-text md5
    via the (doc_id, idx)-keyed anti-join (kept-text order pinned by
    array_sort on (idx, tok) structs), BIGINT truncating-division ppm
    (NULL for zero-token docs)."""
    nsc = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_scrubbed"))
    pos = base.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("idx"), "tok")
    keep = (
        pos.join(cov, ["doc_id", "idx"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(idx, tok))), s -> s.tok)"
                    ),
                )
            ).alias("kept_md5")
        )
    )
    return (
        base.join(nsc, "doc_id", "left")
        .join(keep, "doc_id", "left")
        .select(
            "doc_id",
            *extra_cols,
            F.size("toks").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_scrubbed"), F.lit(0))
            .cast("long")
            .alias("n_scrubbed"),
            F.when(F.size("toks") == 0, F.lit(None))
            .otherwise(
                F.expr("coalesce(n_scrubbed, 0) * 1000000 div size(toks)")
            )
            .cast("long")
            .alias("scrubbed_ppm"),
            F.coalesce(F.col("kept_md5"), F.md5(F.lit(""))).alias("kept_md5"),
        )
    )


@register(
    "dedup_span_coverage",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
            SELECT doc_id, array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}), ' ') AS gram
            FROM toks, UNNEST(generate_series(1, len(toks) - {_SPAN_N - 1})) AS g(i)
            WHERE len(toks) >= {_SPAN_N}
        ),
        gd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY gram)
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
               round(sum(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_frac
        FROM grams g JOIN gd USING (gram)
        GROUP BY g.doc_id
    """,
    description=f"duplicate-span coverage (Lee et al. 2022) at word-"
    f"{_SPAN_N}-gram granularity: per document, the count and fraction "
    "of its gram positions whose gram appears in at least one OTHER "
    "document — the partial-overlap diagnostic document-level dedup "
    "misses; docs shorter than the gram width are omitted",
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two shuffles — gram-keyed (countDistinct doc partials are
    map-side combined) and doc_id-keyed — both over the exploded gram
    stream, never a doc-pair join. Gram keys here are the gram STRINGS
    for oracle parity; at 100 TB key by ``xxhash64(gram)`` instead
    (8-byte shuffle keys, collision odds ~n²/2⁶⁴ — the standard trade
    every suffix-dedup pipeline makes). The gram stream is consumed
    twice (the count and the join-back) — at scale persist or
    checkpoint it between the two so documents scan once."""
    # the documents parquet arrives as ONE split at test scale and the
    # tokenize + gram fan-out below is the dense per-row compute feeding
    # the first aggregation — run it wide (measured 0.83 s in ONE task
    # of the gram-checkpoint job at sf0.1 in the hashed form); widen()
    # is a no-op once the scan has >= core splits
    docs = widen(load(spark, sf_dir, "documents").where(F.col("text").isNotNull()))
    grams = positioned_grams(span_tokens(docs), "gram", hashed=False)
    return (
        grams.join(doc_spread(grams, "gram"), "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_spans",
            F.round(F.col("dup_spans") / F.col("n_spans"), 4).alias("dup_frac"),
        )
    )


@register(
    "dedup_span_scrub",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
            SELECT doc_id, i,
                   array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}),
                                   ' ') AS gram
            FROM toks,
                 UNNEST(generate_series(1, len(toks) - {_SPAN_N - 1})) AS g(i)
            WHERE len(toks) >= {_SPAN_N}
        ),
        gd AS (SELECT gram FROM grams
               GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
        cov AS (SELECT DISTINCT g.doc_id, u.t AS idx
                FROM grams g JOIN gd USING (gram),
                     UNNEST(generate_series(g.i, g.i + {_SPAN_N - 1})) AS u(t)),
        nsc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scrubbed
                FROM cov GROUP BY doc_id),
        pos AS (SELECT t.doc_id, p.i AS idx, t.toks[p.i] AS tok
                FROM toks t,
                     UNNEST(generate_series(1, len(t.toks))) AS p(i)),
        keep AS (
            SELECT p.doc_id,
                   md5(coalesce(string_agg(p.tok, ' ' ORDER BY p.idx), ''))
                       AS kept_md5
            FROM pos p
            LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.idx = p.idx
            WHERE c.idx IS NULL
            GROUP BY p.doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(coalesce(nsc.n_scrubbed, 0) AS BIGINT) AS n_scrubbed,
               CAST(CASE WHEN len(t.toks) = 0 THEN NULL
                    ELSE coalesce(nsc.n_scrubbed, 0) * 1000000
                         // len(t.toks) END AS BIGINT) AS scrubbed_ppm,
               coalesce(keep.kept_md5, md5('')) AS kept_md5
        FROM toks t
        LEFT JOIN nsc USING (doc_id)
        LEFT JOIN keep USING (doc_id)
    """,
    description=f"span-level scrubbing (the ACTION form of "
    f"dedup_span_coverage — the CROSS-DOCUMENT restriction of Lee et "
    f"al. 2022's ExactSubstr dedup at word-{_SPAN_N}-gram granularity; "
    "spans repeated only WITHIN one document survive by design): every "
    "token covered by a gram that also appears in another document is "
    "excised, and each "
    "document reports its token count, scrubbed-token count, exact "
    "scrubbed_ppm (BIGINT; NULL for zero-token docs), and the md5 of "
    "the surviving tokens space-joined in order — so the driver "
    "value-checks the reconstructed text, not just the accounting; "
    "docs shorter than the gram width pass through unscrubbed",
)
def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the same never-pairwise shape as the diagnostic sibling —
    gram-keyed shuffle for the cross-doc count, join-back to the
    (positioned) gram stream, a bounded _SPAN_N× explode of duplicate
    span STARTS into covered indices, one distinct and one anti-join
    both keyed (doc_id, idx), and a doc-keyed final aggregate whose
    kept-text order is pinned by array_sort on (idx, tok) structs.
    Gram keys stay strings for oracle parity; at 100 TB key by
    ``xxhash64(gram)`` (8-byte shuffle keys) and persist the gram
    stream between its two consumers, exactly as the sibling's note
    says. The 1e6 ppm is integer div — cross-engine exact."""
    # the documents parquet arrives as ONE split at test scale and the
    # tokenize + gram fan-out below is the dense per-row compute feeding
    # the first aggregation — run it wide (measured 0.83 s in ONE task
    # of the gram-checkpoint job at sf0.1 in the hashed form); widen()
    # is a no-op once the scan has >= core splits
    docs = widen(load(spark, sf_dir, "documents").where(F.col("text").isNotNull()))
    toks = span_tokens(docs)
    grams = positioned_grams(toks, "gram", hashed=False)
    return scrub_finale(toks, cross_doc_cover(grams, "gram"))


@register(
    "dedup_span_scrub_hashed",
    # Same oracle as dedup_span_scrub: the output exposes no hash, and
    # grouping grams by xxhash64(gram) is equivalent to grouping by the
    # gram string absent a 64-bit collision (probability ~ n_grams^2 /
    # 2^65 — immaterial at any tested scale, and a collision would fail
    # the driver hash loudly rather than silently).
    oracle=REGISTRY["dedup_span_scrub"].oracle,
    description=f"the 100 TB form of dedup_span_scrub the sibling's "
    f"docstring promises: gram keys are xxhash64(gram) LONGS (8-byte "
    f"shuffle keys, never the gram string), and the positioned gram "
    f"stream is persisted between its two consumers (the cross-doc "
    f"count and the join-back) so the corpus is tokenized once; output "
    f"and oracle identical to the string-keyed sibling — word-"
    f"{_SPAN_N}-gram cross-document ExactSubstr scrubbing with "
    f"value-checked kept-text md5",
)
def dedup_span_scrub_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale contract (the reason this variant exists): every shuffle
    key in the plan is a LONG — ``gram_h = xxhash64(gram)`` for the
    duplicate count and its join-back, ``(doc_id, idx)`` for coverage
    and the anti-join, ``doc_id`` for the final aggregate. The gram
    STRING is projected away before the first exchange, so shuffle
    width is independent of gram text size (~8 bytes vs ~50+). The
    positioned (doc_id, i, gram_h) stream is localCheckpoint-persisted
    and feeds both consumers without re-tokenizing. Asserted in
    tests/test_plans.py: no gram string in any hashpartitioning."""
    # NOTE (r12, measured): unlike the string-keyed siblings above, do
    # NOT widen() this scan. Here the gram stream is localCheckpoint'd,
    # so the single-task fan-out is paid ONCE — and the A/B showed the
    # added round-robin exchange plus the 32-partition checkpointed RDD
    # feeding every downstream stage costs MORE than the one task saves
    # at sf0.1 (median 2.11 -> 2.69 s widened). At cluster scale the
    # scan has many splits and widen() would be a no-op anyway.
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = span_tokens(docs)
    grams = positioned_grams(toks, "gram_h", hashed=True).localCheckpoint(
        eager=False  # tokenize once, consume twice
    )
    return scrub_finale(toks, cross_doc_cover(grams, "gram_h"))


@register(
    "dedup_span_exactsubstr",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
            SELECT doc_id, i,
                   doc_id * {_SHIFT} + i AS pk,
                   array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}),
                                   ' ') AS gram
            FROM toks,
                 UNNEST(generate_series(1, len(toks) - {_SPAN_N - 1})) AS g(i)
            WHERE len(toks) >= {_SPAN_N}
        ),
        gd AS (SELECT gram, min(pk) AS min_pk FROM grams
               GROUP BY gram HAVING count(*) > 1),
        cov AS (SELECT DISTINCT g.doc_id, u.t AS idx
                FROM grams g JOIN gd USING (gram),
                     UNNEST(generate_series(g.i, g.i + {_SPAN_N - 1})) AS u(t)
                WHERE g.pk <> gd.min_pk),
        nsc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scrubbed
                FROM cov GROUP BY doc_id),
        pos AS (SELECT t.doc_id, p.i AS idx, t.toks[p.i] AS tok
                FROM toks t,
                     UNNEST(generate_series(1, len(t.toks))) AS p(i)),
        keep AS (
            SELECT p.doc_id,
                   md5(coalesce(string_agg(p.tok, ' ' ORDER BY p.idx), ''))
                       AS kept_md5
            FROM pos p
            LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.idx = p.idx
            WHERE c.idx IS NULL
            GROUP BY p.doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(coalesce(nsc.n_scrubbed, 0) AS BIGINT) AS n_scrubbed,
               CAST(CASE WHEN len(t.toks) = 0 THEN NULL
                    ELSE coalesce(nsc.n_scrubbed, 0) * 1000000
                         // len(t.toks) END AS BIGINT) AS scrubbed_ppm,
               coalesce(keep.kept_md5, md5('')) AS kept_md5
        FROM toks t
        LEFT JOIN nsc USING (doc_id)
        LEFT JOIN keep USING (doc_id)
    """,
    description=f"FULL ExactSubstr form (Lee et al. 2022) at word-"
    f"{_SPAN_N}-gram granularity — closes both gaps of the cross-doc "
    "restriction (dedup_span_scrub): duplication counts total "
    "OCCURRENCES (within-doc self-repeats qualify), and the paper's "
    "'all but one' is honored — the corpus-first occurrence of each "
    "duplicated gram (min doc_id*2^32+position) survives while every "
    "other occurrence's span is excised; same accounting contract as "
    "the sibling (n_tokens, n_scrubbed, integer scrubbed_ppm, kept-text "
    "md5) so both forms compare per document; gram-granular cover-union "
    "caveat documented in the module docstring",
)
def dedup_span_exactsubstr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical never-pairwise shape as dedup_span_scrub — one
    gram-keyed shuffle whose aggregate now also carries ``min(pk)`` (an
    8-byte map-side-combinable partial next to the count), the
    join-back filtered to non-canonical occurrences, the bounded
    {_SPAN_N}x span explode, (doc_id, idx)-keyed distinct + anti-join,
    doc-keyed finale. Gram keys stay strings for oracle parity; the
    100 TB form keys by xxhash64(gram) and persists the gram stream,
    exactly as dedup_span_scrub_hashed demonstrates for the sibling.
    ``pk = doc_id·2^32 + i`` is order-isomorphic to (doc_id, i) and
    exact for doc_id < 2^31 — asserted once per DOCUMENT at the
    tokenize boundary (O(docs), not O(grams)), because a silent BIGINT
    overflow would silently move the canonical copy."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = guarded_tokens(docs, "dedup_span_exactsubstr")
    grams = positioned_grams(toks, "gram", hashed=False)
    return scrub_finale(toks, keep_one_cover(grams, "gram"))


@register(
    "dedup_span_exactsubstr_hashed",
    # Same oracle as the string-keyed sibling: the output exposes no
    # hash, and grouping grams by xxhash64(gram) is equivalent to
    # grouping by the gram string absent a 64-bit collision (~n_grams²/
    # 2^65 — immaterial, and a collision would fail the driver hash
    # loudly). The dedup_span_scrub_hashed convention, applied to the
    # paper-exact form (r11 verdict item 6 — it was the one span
    # operator still shuffling gram strings).
    oracle=REGISTRY["dedup_span_exactsubstr"].oracle,
    description=f"the 100 TB form of dedup_span_exactsubstr its "
    f"docstring promises: gram keys are xxhash64(gram) LONGS (8-byte "
    f"shuffle keys, never the gram string), the positioned gram stream "
    f"is persisted between its two consumers, and the canonical-copy "
    f"min(pk) rides the same hashed-gram aggregate; output and oracle "
    f"identical to the string-keyed sibling — keep-one word-{_SPAN_N}-"
    f"gram ExactSubstr (within-doc repeats included) with value-checked "
    f"kept-text md5",
)
def dedup_span_exactsubstr_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale contract (asserted in tests/test_plans.py): every shuffle
    key in the plan is a LONG or (doc_id, idx)/doc_id composite — the
    gram STRING is hashed (``gram_h = xxhash64(gram)``) and projected
    away before the first exchange, so shuffle width is independent of
    gram text size; the (doc_id, i, pk, gram_h) stream is
    localCheckpoint-persisted and feeds both the duplicate aggregate
    and the join-back without re-tokenizing."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = guarded_tokens(docs, "dedup_span_exactsubstr_hashed")
    grams = positioned_grams(toks, "gram_h", hashed=True).localCheckpoint(
        eager=False  # tokenize+hash once, consume twice
    )
    return scrub_finale(toks, keep_one_cover(grams, "gram_h"))


def _selfrepeat_oracle() -> str:
    cross = REGISTRY["dedup_span_scrub"].oracle
    paper = REGISTRY["dedup_span_exactsubstr"].oracle
    return f"""
        WITH a AS (SELECT * FROM ({cross})),
        e AS (SELECT * FROM ({paper})),
        src AS (SELECT doc_id, source FROM documents WHERE text IS NOT NULL)
        SELECT src.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(a.n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(a.n_scrubbed) AS BIGINT) AS crossdoc_scrubbed,
               CAST(sum(e.n_scrubbed) AS BIGINT) AS exactsubstr_scrubbed,
               CAST(sum(e.n_scrubbed) - sum(a.n_scrubbed) AS BIGINT)
                   AS keepone_delta
        FROM src
        JOIN a USING (doc_id)
        JOIN e USING (doc_id)
        GROUP BY src.source
    """


@register(
    "corpus_selfrepeat_profile",
    oracle=_selfrepeat_oracle(),
    description="per-source comparison of the two span-dedup policies: "
    "tokens removed by the cross-document scrub vs the paper-exact "
    "keep-one ExactSubstr form, aggregated by source with the signed "
    "delta — positive delta is within-doc self-repeat mass the cross-"
    "doc policy missed (templated/boilerplate-heavy sources), negative "
    "is canonical-copy mass it over-removed; the policy-selection "
    "signal a curation build reads before committing to either scrub",
)
def corpus_selfrepeat_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the profile adds two doc_id-keyed equi-joins and one
    source-keyed aggregate on top of the two scrub pipelines — all
    8-byte keys, all map-side combinable. The pipelines themselves
    dominate; at 100 TB persist the tokenized/gram streams they share
    (both consume the identical gram relation — the docstrings of both
    registered forms state the persist point)."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    from orca_spark.registry import REGISTRY

    cross = REGISTRY["dedup_span_scrub"].fn(spark, sf_dir).select(
        "doc_id",
        F.col("n_tokens").alias("a_tokens"),
        F.col("n_scrubbed").alias("a_scrubbed"),
    )
    paper = REGISTRY["dedup_span_exactsubstr"].fn(spark, sf_dir).select(
        "doc_id", F.col("n_scrubbed").alias("e_scrubbed")
    )
    return (
        docs.select("doc_id", "source")
        .join(cross, "doc_id")
        .join(paper, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("a_tokens").cast("long").alias("n_tokens"),
            F.sum("a_scrubbed").cast("long").alias("crossdoc_scrubbed"),
            F.sum("e_scrubbed").cast("long").alias("exactsubstr_scrubbed"),
            (F.sum("e_scrubbed") - F.sum("a_scrubbed"))
            .cast("long")
            .alias("keepone_delta"),
        )
    )
