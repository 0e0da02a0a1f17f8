"""Embedding similarity search over ``array<float>`` columns.

* ``similarity_brute_topk`` — exact cosine top-k for a bounded query
  set: broadcast the queries, stream the corpus once, rank per query.
  At 100 TB the corpus side stays partition-parallel with no shuffle
  until the (tiny) per-query top-k aggregation.
* ``similarity_lsh_topk`` — the scale path: random-hyperplane (sign)
  LSH buckets; candidates only within matching buckets. Approximate —
  recall vs brute force is asserted in tests, not the SQL oracle.

All vector math is built-in higher-order functions (``zip_with`` /
``aggregate``) evaluated JVM-side — a deterministic left-to-right fold,
matching DuckDB's sequential list kernels; remaining ulp noise is
absorbed by rounding to 4 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark import memo
from orca_spark.io import rows_to_df
from orca_spark.registry import register
from orca_spark.tables import load

_N_QUERIES = 10    # query set: vec_id < 10
_TOP_K = 5


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


_DIM = 64  # embedding width of the corpus tables


def dot(a, b, dim: int | None = _DIM, *, validated: bool = False) -> Column:
    """Dot product of two array<double> columns, or of a column against a
    driver-side literal vector (pass ``b`` as a plain Python list).

    With ``dim`` given (the hot path — corpus embeddings are fixed-width)
    the sum is STATICALLY EXPANDED into a flat left-associated chain of
    multiply-adds, which stays inside whole-stage codegen. The
    ``aggregate``/``zip_with`` higher-order fold (the ``dim=None``
    fallback for unknown widths) is evaluated per-element in the
    interpreter — measured ~30× slower on pair-heavy queries. The
    left-associated chain performs the IDENTICAL IEEE addition sequence
    as the fold (whose first step is 0.0 + x₀ = x₀ exactly), so results
    are bit-equal and oracle hashes are unaffected.

    Pass ``a``/``b`` as column-NAME strings whenever the names are known:
    the chain is then assembled as one SQL string and parsed JVM-side in
    a single call, where the Column-object form costs ~4·dim py4j round
    trips (~0.6 s per 64-wide dot of pure driver latency — it dominated
    plan construction for every pair query). Literal vectors likewise
    ride as SQL literals, never as ``F.array(*lits)`` (not constant-
    folded; re-materializes the array per term at runtime).

    Width safety: the static expansion indexes ``a[dim-1]``, and Spark's
    non-ANSI out-of-range array access yields NULL — a narrower input
    would produce silently-wrong (NULL) dots. Expanded forms over
    UNVALIDATED inputs are therefore wrapped in a size guard that RAISES
    on width mismatch. Pass ``validated=True`` for frames whose width
    was already asserted ONCE at the load boundary
    (``load_embeddings``) — the bare chain is then emitted with no
    per-row CASE/size() branching. This matters because the guard cost
    is per EVALUATION: on pair queries (brute/IVF/LSH scoring joins)
    dot() runs O(n·candidates) times, so an O(1)-per-row guard becomes
    O(pairs) overhead protecting rows that were all validated at the
    O(n) scan. (NULL inputs still propagate through the bare chain —
    ``NULL[i]`` is NULL — so null semantics are unchanged.)
    """
    if isinstance(b, (list, tuple)):
        vec = [float(v) for v in b]
        if isinstance(a, str):
            chain = _sql_dot_lit(a, vec)
            if validated:
                return F.expr(chain)
            return F.expr(_guard_width(chain, [a], len(vec)))
        expr = a[0] * F.lit(vec[0])
        for i in range(1, len(vec)):
            expr = expr + a[i] * F.lit(vec[i])
        if validated:
            return expr
        return (
            F.when(a.isNull(), F.lit(None).cast("double"))
            .when(F.size(a) == len(vec), expr)
            .otherwise(_raise_width(len(vec), a))
        )
    if isinstance(a, str) and isinstance(b, str) and dim is not None:
        chain = "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(dim)) + ")"
        if validated:
            return F.expr(chain)
        return F.expr(_guard_width(chain, [a, b], dim))
    if dim is not None:
        expr = a[0] * b[0]
        for i in range(1, dim):
            expr = expr + a[i] * b[i]
        if validated:
            return expr
        return (
            F.when(a.isNull() | b.isNull(), F.lit(None).cast("double"))
            .when((F.size(a) == dim) & (F.size(b) == dim), expr)
            .otherwise(_raise_width(dim, a))
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _guard_width(expr_sql: str, cols: list[str], dim: int) -> str:
    """Wrap an expanded dot chain in a width assertion (SQL-string form).

    NULL inputs yield NULL, they never raise: Catalyst gives no
    evaluation-order guarantee between filters — a join-key null check
    derived from this expression can be pushed BELOW the upstream
    ``embedding IS NOT NULL`` filter and evaluate the guard on rows the
    pipeline already excluded. A NULL result is dropped by whichever
    null filter eventually runs; only a genuinely wrong width raises.
    """
    null_cond = " or ".join(f"{c} is null" for c in cols)
    cond = " and ".join(f"size({c}) = {dim}" for c in cols)
    sizes = ", ".join(f"' ', cast(size({c}) as string)" for c in cols)
    return (
        f"(case when {null_cond} then null when {cond} then {expr_sql} else "
        f"raise_error(concat('dot(): expected array width {dim}, got',{sizes})) end)"
    )


def _raise_width(dim: int, col) -> Column:
    # reached only with non-null input (the null branch precedes it)
    return F.raise_error(
        F.concat(
            F.lit(f"dot(): expected array width {dim}, got "),
            F.size(col).cast("string"),
        )
    )


def cosine(a, b, dim: int | None = _DIM, *, validated: bool = False) -> Column:
    return dot(a, b, dim, validated=validated) / (
        F.sqrt(dot(a, a, dim, validated=validated))
        * F.sqrt(dot(b, b, dim, validated=validated))
    )


def _with_norm(df: DataFrame, out: str) -> DataFrame:
    """Attach the L2 norm once per vector: pair queries then do ONE dot
    per pair instead of three (the two self-dots hoist out of the join).
    Input contract: ``df`` comes from ``load_embeddings`` (width already
    validated), so the norm uses the bare unguarded chain."""
    return df.withColumn(out, F.sqrt(dot("e", "e", validated=True)))


def load_embeddings(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """Load the embeddings table with NULL vectors dropped, the width
    asserted, and the vector upcast to double as ``e``.

    Contract: a missing (NULL) embedding is EXCLUDED — real corpora
    always have vectorization gaps and a null row must not abort a
    corpus-wide dedup; a ZERO-NORM embedding is likewise EXCLUDED (an
    encoder-failure artifact with no direction: every cosine against it
    divides by zero, which under ANSI mode aborts the whole job — the
    exclusion runs once at the scan via a short-circuiting exists());
    a WRONG-WIDTH embedding RAISES here, once per
    row at the scan (silently-wrong similarity scores are worse than a
    loud failure). Downstream dot()/cosine() calls on the returned
    frame pass ``validated=True`` and skip their per-evaluation width
    guards — the whole point of asserting at the load boundary: the
    check runs O(n) times at the scan instead of O(pairs) times inside
    the scoring joins. Extra columns pass through by name."""
    emb = load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
        & F.exists("embedding", lambda x: x != 0)
        # a NULL ELEMENT is the same class of encoder-failure artifact
        # as a zero-norm vector: every dot against it is NULL, and NULL
        # scores rank differently across engines (NULLS FIRST/LAST) —
        # exclude at the scan, same as the other two contract rules
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    checked = F.expr(
        f"case when embedding is null then embedding"
        f" when size(embedding) = {_DIM} then embedding"
        f" else raise_error(concat('load_embeddings: expected array width {_DIM},"
        f" got ', cast(size(embedding) as string))) end"
    )
    return emb.select("vec_id", _as_double(checked).alias("e"), *cols)


def brute_topk_df(emb: DataFrame, queries: DataFrame, k: int = _TOP_K) -> DataFrame:
    """Exact cosine top-k: ``emb``/``queries`` are (id, e array<double>)
    DataFrames; queries broadcast, corpus streamed once."""
    q = F.broadcast(
        _with_norm(queries, "qn").select(
            F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), "qn"
        )
    )
    scored = _with_norm(emb, "en").join(q, F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        # rank on the ROUNDED value + id tiebreak so ordering is
        # deterministic across engines despite last-ulp fold noise
        F.round(
            dot("qe", "e", validated=True) / (F.col("qn") * F.col("en")), 4
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "similarity_brute_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND vec_id < {_N_QUERIES}),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(q.e, c.e)
                         / (sqrt(list_dot_product(q.e, q.e))
                            * sqrt(list_dot_product(c.e, c.e))), 4) AS cosine
            FROM q JOIN c ON q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        )
        WHERE rank <= {_TOP_K}
    """,
    description=f"exact cosine top-{_TOP_K} for {_N_QUERIES} query vectors: "
    "broadcast queries × streamed corpus, window rank per query",
)
def similarity_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return brute_topk_df(emb, emb.where(F.col("vec_id") < _N_QUERIES))


@register(
    "similarity_norms",
    oracle="""
        SELECT vec_id, label,
               round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0
    """,
    description="per-vector L2 norm (narrow map, no shuffle)",
)
def similarity_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir, "label")
    return emb.select("vec_id", "label", F.round(F.sqrt(dot("e", "e", validated=True)), 4).alias("l2_norm"))


@register(
    "embedding_near_dup_pairs",
    oracle="""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        scored AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS raw
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, round(raw, 4) AS cosine
        FROM scored WHERE raw >= 0.4
    """,
    description="embedding-cosine near-dup pairs (threshold 0.4), EXACT "
    "all-pairs form: the oracle-checkable verification baseline for "
    "embedding_near_dup_pairs_ivf (similarity2.py), which prunes via "
    "k-means cluster buckets and is the form to run at 100 TB — same "
    "split as dedup_jaccard_exact vs dedup_minhash",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return threshold_pairs(_all_pairs(spark, sf_dir), 0.4).select(
        "vec_a", "vec_b", F.round("raw", 4).alias("cosine")
    )


def _all_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact ``a.vec_id < b.vec_id`` self-join of the normed
    embeddings. The nested-loop expansion inherits the stream side's
    input splits; a small parquet reads as 1-2 splits, serializing the
    O(n²) scoring onto as many tasks — so that side is spread across the
    executors first."""
    emb = _with_norm(load_embeddings(spark, sf_dir), "n")
    a = emb.repartition(spark.sparkContext.defaultParallelism * 2, "vec_id")
    return a.alias("a").join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))


def threshold_pairs(joined: DataFrame, threshold: float) -> DataFrame:
    """Pairs of an ``a``/``b``-aliased embedding join (each side carrying
    ``vec_id``, the validated vector ``e`` and its norm ``n``) whose
    cosine is at least ``threshold``, as ``(vec_a, vec_b, raw)``.

    The threshold filters the join (Catalyst pushes it into the join
    condition); the survivors then cross an exchange keyed on BOTH ids
    and ``raw`` is rescored behind it, so the candidate scan and the
    cosine projection run in separate codegen stages. Measured at sf0.1
    on 4 cores (warm medians, identical result hashes): with the
    exchange vs without it, the exact scan takes 3.3 vs 27.4 s, the IVF
    scan 3.9 vs 44.6 s, and the semantic scan about 6 vs 56 s. With AQE
    off the largest generated method is about 30 KB fused and 15.3-15.6
    KB split, both under the 64 KB method limit: the slowdown is not an
    interpreted fallback, but the split is needed.

    An exchange keyed on ``vec_a`` alone is not enough: the spread side
    of every pair join is hash-partitioned on ``vec_id`` (which
    ``vec_a`` aliases), and whenever ``spark.sql.shuffle.partitions``
    equals that spread's count ``EnsureRequirements`` drops the exchange
    as redundant. No join output is partitioned on ``(vec_a, vec_b)``,
    so this exchange always stays. The rescore touches survivors only."""
    raw = dot("a.e", "b.e", validated=True) / (F.col("a.n") * F.col("b.n"))
    survivors = (
        joined.where(raw >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.e").alias("ea"),
            F.col("b.e").alias("eb"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .repartition("vec_a", "vec_b")
    )
    rescore = dot("ea", "eb", validated=True) / (F.col("na") * F.col("nb"))
    return survivors.select("vec_a", "vec_b", rescore.alias("raw"))


@register(
    "embedding_label_centroids",
    oracle="""
        WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        dims AS (
            SELECT label, i, avg(v[i]) AS c
            FROM e, generate_series(1, 64) AS t(i)
            GROUP BY label, i
        )
        SELECT label,
               round(sqrt(sum(c * c)), 4) AS centroid_norm,
               count(*)                   AS dim
        FROM dims
        GROUP BY label
    """,
    description="per-label centroid L2 norm: posexplode → per-dimension "
    "mean → norm (the cluster-quality statistic for IVF-style indexing)",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir, "label")
    dims = emb.select("label", F.posexplode("e").alias("i", "x"))
    cent = dims.groupBy("label", "i").agg(F.avg("x").alias("c"))
    return cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 4).alias("centroid_norm"),
        F.count(F.lit(1)).alias("dim"),
    )


def annotate_lexical_jaccard(sem: DataFrame, docs: DataFrame) -> DataFrame:
    """Annotate semantic candidate pairs ``(doc_a, doc_b, raw)`` with
    their token-set Jaccard.

    Intersections are keyed by the (small) candidate set — never the
    token×token self-join, whose hot words make it quadratic on any real
    corpus — and the candidates are scanned once: each pair is
    left-joined to its first doc's tokens, then to the second doc's equal
    tokens, and ``count(tb.w)`` counts the shared ones. A pair whose docs
    have no tokens or share none keeps its row with ``i = 0``. Shared by
    the exact (oracle) and IVF-bucketed (scale) forms of the
    semantic-vs-lexical view.
    """
    tok = docs.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    out = (
        sem.join(tok.alias("ta"), F.col("ta.doc_id") == F.col("doc_a"), "left")
        .join(
            tok.alias("tb"),
            (F.col("tb.doc_id") == F.col("doc_b")) & (F.col("ta.w") == F.col("tb.w")),
            "left",
        )
        .groupBy("doc_a", "doc_b", "raw")
        .agg(F.count("tb.w").alias("i"))
        .join(sizes.alias("za"), F.col("za.doc_id") == F.col("doc_a"), "left")
        .join(sizes.alias("zb"), F.col("zb.doc_id") == F.col("doc_b"), "left")
    )
    jac = F.coalesce(
        F.col("i") / (F.col("za.sz") + F.col("zb.sz") - F.col("i")), F.lit(0.0)
    )
    return out.select(
        "doc_a", "doc_b",
        F.round("raw", 4).alias("cosine"),
        F.round(jac, 4).alias("jaccard"),
    )



@register(
    "semantic_vs_lexical_dedup",
    oracle="""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x <> 0)) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        sem AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS raw
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        ),
        tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
                FROM documents),
        sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT s.doc_a, s.doc_b,
               round(s.raw, 4) AS cosine,
               round(coalesce(i / (sa.sz + sb.sz - i), 0), 4) AS jaccard
        FROM sem s
        LEFT JOIN inter ON inter.doc_a = s.doc_a AND inter.doc_b = s.doc_b
        LEFT JOIN sizes sa ON sa.doc_id = s.doc_a
        LEFT JOIN sizes sb ON sb.doc_id = s.doc_b
        WHERE s.raw >= 0.4
    """,
    description="semantic dedup cross-checked with lexical: embedding-"
    "cosine candidate pairs annotated with their token-set Jaccard "
    "(doc_id aligns with vec_id in this corpus) — the agreement view a "
    "dedup pipeline uses to tune thresholds. Exact oracle-checked form; "
    "at 100 TB source the cosine stage from embedding_near_dup_pairs_ivf "
    "and the Jaccard stage from the MinHash candidate path (both exist), "
    "or run this view on a stratified sample",
)
def semantic_vs_lexical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sem = threshold_pairs(_all_pairs(spark, sf_dir), 0.4).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"), "raw"
    )
    return annotate_lexical_jaccard(sem, load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# scale path: IVF (coarse-quantizer cluster pruning)
# ---------------------------------------------------------------------------

def _sql_dot_lit(col: str, vec: list[float]) -> str:
    """SQL text for ``col · literal-vector`` as a flat multiply-add chain.

    Expressions over literal vectors are built as SQL STRINGS and parsed
    once JVM-side: composing them from PySpark Column objects costs one
    py4j round-trip per node (measured ~6 s of pure driver time for the
    PQ encode expression), while f-string assembly plus one ``F.expr``
    is milliseconds for the identical plan. ``repr(float)`` round-trips
    exactly and the ``D`` suffix forces a DOUBLE literal (a bare
    ``1.5`` parses as DECIMAL in Spark SQL), so the parsed literals are
    bit-identical to ``F.lit``.
    """
    return "(" + " + ".join(f"{col}[{i}]*{v!r}D" for i, v in enumerate(vec)) + ")"


# past this many centroids the literal argmin expression (k×dim terms)
# stops being the right plan: codegen limits, multi-MiB task binaries,
# and per-row O(k·dim) work — switch to the broadcast-join argmin whose
# PLAN size is k-independent (the k rows ride in a broadcast relation)
_LITERAL_K_MAX = 8


def ivf_assign(emb: DataFrame, centroids: list[tuple[int, list[float]]], nprobe: int = 1):
    """Attach nearest-centroid cluster ids (``clusters array<int>``).

    Dispatches on quantizer size: up to ``_LITERAL_K_MAX`` centroids the
    argmin is a shuffle-free codegen'd literal expression; past that it
    becomes a broadcast-join + aggregation whose plan size is
    k-independent (the ``k ≈ √n`` sizing at 100 TB needs k in the
    thousands — a literal expression that wide exceeds whole-stage-
    codegen limits and ships multi-MiB task binaries).
    """
    if len(centroids) > _LITERAL_K_MAX:
        return ivf_assign_join(emb, centroids, nprobe=nprobe)
    return ivf_assign_literal(emb, centroids, nprobe=nprobe)


def centroid_structs_sql(centroids: list[tuple[int, list[float]]]) -> str:
    """The (d, cid) struct list for a literal centroid argmin: d =
    ‖c‖² − 2x·c with ‖c‖² folded to a literal. Shared by the assign
    path and clustering's inertia expression so their distance
    arithmetic can never desynchronize (same formula, same summation
    order, same tie-break field order)."""
    return ", ".join(
        f"named_struct('d', {sum(x * x for x in vec)!r}D - 2.0D*{_sql_dot_lit('e', vec)}, "
        f"'cid', {cid})"
        for cid, vec in centroids
    )


def ivf_assign_literal(
    emb: DataFrame, centroids: list[tuple[int, list[float]]], nprobe: int = 1
):
    """Literal-expression argmin (small k). ``centroids`` is a small
    driver-side list (cluster_id, vector) — broadcast as literals into a
    codegen'd argmin; corpus pass is shuffle-free.

    Distance uses the expanded form ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²: the
    per-row ‖x‖² is constant across centroids so the argmin only needs
    ‖c‖² − 2x·c — one static dot per centroid instead of two array
    materializations (‖c‖² folds to a literal at plan time). Ties and
    float noise break deterministically on cid via the struct sort.
    """
    structs = centroid_structs_sql(centroids)
    probed = (
        f"transform(slice(array_sort(array({structs})), 1, {nprobe}), s -> s.cid)"
    )
    # one width assertion for the whole argmin (the per-centroid chains
    # inside are unguarded _sql_dot_lit text — guarding each would add k
    # redundant size() checks per row)
    dim = len(centroids[0][1])
    return emb.withColumn("clusters", F.expr(_guard_width(probed, ["e"], dim)))


def ivf_assign_join(
    emb: DataFrame, centroids: list[tuple[int, list[float]]], nprobe: int = 1
):
    """Broadcast-join argmin (large k): k-independent PLAN size.

    The centroid table rides as a BroadcastHashJoin build side (constant
    join key — every probe row matches all k build rows, which is the
    point: score each row against each centroid), distances are ONE
    generic ``e[i]*cvec[i]`` chain evaluated per joined row, and the
    per-row argmin is an aggregation back on the row key. Costs one
    shuffle on ``vec_id`` (the aggregation) that the literal path
    avoids — the price of a plan whose size doesn't grow with k.
    Distance formula and (d, cid) tie-breaking are bit-identical to
    ``ivf_assign_literal`` (same ‖c‖² − 2x·c form, same left-to-right
    summation order), so the two paths pick identical clusters.
    """
    spark = emb.sparkSession
    dim = len(centroids[0][1])
    cdf = rows_to_df(
        spark,
        [(cid, [float(v) for v in vec], float(sum(v * v for v in vec)))
         for cid, vec in centroids],
        "cid int, cvec array<double>, c2 double",
    )
    carried = [c for c in emb.columns]
    # fan each row out to every centroid id, then equi-join the broadcast
    # centroid table on cid: a BroadcastHashJoin (a bare cross join would
    # plan as BroadcastNestedLoopJoin — same physics at k rows, but BHJ
    # keeps the plan inside the cartesian-free contract the pair
    # generators assert, and survives clusters that ban nested-loop joins)
    fanned = emb.withColumn(
        "cid", F.explode(F.lit([cid for cid, _ in centroids]))
    )
    joined = fanned.join(F.broadcast(cdf), "cid")
    d = F.col("c2") - F.lit(2.0) * dot("e", "cvec", dim, validated=True)
    scored = joined.withColumn("_d", d)
    picked = scored.groupBy("vec_id").agg(
        *[F.first(c).alias(c) for c in carried if c != "vec_id"],
        F.expr(
            f"transform(slice(array_sort(collect_list(struct(_d, cid))), 1, {nprobe}),"
            " s -> s.cid)"
        ).alias("clusters"),
    )
    return picked.select(*carried, "clusters")


_KMEANS_SAMPLE = 4096


def kmeans_centroids(
    emb: DataFrame, iters: int = 10, cache_key: str | None = None, k: int = 8
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means for the coarse quantizer, trained driver-side on
    a bounded deterministic sample.

    At 100 TB you NEVER train a k<=100-centroid quantizer on the full
    corpus — a few thousand vectors bound the centroid error, and the
    distributed part of IVF is the corpus ASSIGNMENT pass, not the
    training. The sample is the first ``_KMEANS_SAMPLE`` vec_ids (a
    bounded TakeOrdered, deterministic across runs and engines); Lloyd's
    over a (4096 x 64) float array is microseconds of numpy. Seeding is
    k-means-free and deterministic: vec_id-bucket means over the sample
    (8 buckets), matching the previous distributed implementation's
    seeding scheme.

    ``k`` defaults to 8 (the corpus label count): THIS corpus is near-
    uniform (max pairwise cosine ≈ 0.5), so finer quantization buys no
    extra pruning at the registered 0.4 threshold but multiplies the
    argmin expression width (k×dim terms — past ~4k terms it exceeds
    whole-stage-codegen limits and falls back to interpretation) and
    splits genuinely-similar pairs across cells (measured recall drop).
    At 100 TB with CLUSTERED embeddings the standard ``k ≈ √n`` sizing
    applies — raise ``k`` with a broadcast centroid-table join replacing
    the literal argmin past k≈64.

    ``cache_key`` (the corpus dir) memoizes the trained quantizer per
    corpus (``orca_spark.memo``), rebuilt when the corpus files change.
    """
    if cache_key is not None:
        return memo.cached(
            cache_key,
            ("centroids", k, iters),
            lambda: kmeans_centroids(emb, iters, k=k),
        )
    import numpy as np

    rows = emb.select("vec_id", "e").orderBy("vec_id").limit(_KMEANS_SAMPLE).collect()
    x = np.array([list(r.e) for r in rows], dtype=np.float64)
    ids = np.array([int(r.vec_id) for r in rows])
    # seed: per-(vec_id % k) bucket means — deterministic, no RNG
    seed_key = ids % k
    cents = np.stack(
        [
            x[seed_key == c].mean(axis=0) if (seed_key == c).any() else x[c % len(x)]
            for c in range(k)
        ]
    )
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        moved = False
        for c in range(k):
            m = assign == c
            if m.any():
                nc = x[m].mean(axis=0)
                if not np.array_equal(nc, cents[c]):
                    cents[c] = nc
                    moved = True
        if not moved:
            break
    return [(c, [float(v) for v in cents[c]]) for c in range(k)]


def ivf_topk_df(
    emb: DataFrame,
    queries: DataFrame,
    k: int = _TOP_K,
    nprobe: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF ANN: corpus assigned to its nearest coarse centroid (k-means
    quantizer), queries probe the ``nprobe`` nearest clusters; cosine
    scoring touches only those clusters' members
    (~nprobe/n_clusters of the corpus)."""
    from orca_spark.tables import widen

    cents = kmeans_centroids(emb, cache_key=cache_key)
    # norms attached ONCE per side before the bucket join: cosine()
    # inline would re-evaluate both self-dot chains per candidate pair
    # (3 chains/pair -> 1 chain + 2 column refs). The hoisted sqrt runs
    # the identical expression, so scores are bit-equal to the inline
    # form and the recall-floor tests see the same sets. widen() spreads
    # the assignment off the source's single test-scale split, and the
    # localCheckpoint materializes the index BEHIND A BARRIER — without
    # it Catalyst's projection collapse inlines the k×dim argmin
    # expression into every downstream reference (measured: a 682 KB
    # physical plan with the argmin duplicated 5×, evaluated interpreted
    # at 9.5 s/run; with the barrier the scoring join reads plain
    # columns). Same device and same rationale as ivf_near_dup_pairs /
    # pq_topk_df: the index build is the step a deployment persists.
    corpus = (
        _with_norm(ivf_assign(widen(emb), cents, nprobe=1), "en")
        .select("vec_id", "e", "en", F.element_at("clusters", 1).alias("cluster"))
        .localCheckpoint(eager=True)
    )
    # the (bounded) query side gets the same barrier: its nprobe-argmin
    # would otherwise re-inline under the qn/explode references and keep
    # the scoring-join plan hundreds of KB of interpreted expression
    qside = (
        _with_norm(ivf_assign(queries, cents, nprobe=nprobe), "qn")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            "qn",
            "clusters",
        )
        .localCheckpoint(eager=True)
    )
    q = F.broadcast(
        qside.select("query_id", "qe", "qn", F.explode("clusters").alias("cluster"))
    )
    scored = corpus.join(q, ["cluster"]).where(
        F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot("qe", "e", validated=True) / (F.col("qn") * F.col("en")), 4
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "similarity_ivf_topk",
    oracle=None,  # cluster pruning is approximate; recall vs brute force
    # asserted in tests/test_similarity.py
    description="IVF ANN: label-seeded coarse centroids, corpus assigned "
    "to nearest centroid, queries probe 2 clusters — candidate set "
    "~nprobe/n_clusters of the corpus",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir, "label")
    return ivf_topk_df(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), nprobe=2, cache_key=sf_dir
    )


# ---------------------------------------------------------------------------
# scale path: sign-LSH bucketing
# ---------------------------------------------------------------------------

# 8 planes → 256 buckets: enough selectivity to cut candidate sets ~256×
# at scale while keeping near-duplicate recall ≈ 1 (miss probability for a
# pair at angle θ is 1-(1-θ/π)^8 ≈ 8θ/π for small θ). Production lever for
# higher recall at the same selectivity: multi-probe (flip one bit per probe).
_N_PLANES = 8


def _hyperplanes(dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed)."""
    import random

    rng = random.Random(7)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(_N_PLANES)]


def lsh_bucket(col, dim: int = 64) -> Column:
    """Sign-LSH bucket id: bit j = sign(embedding · plane_j).

    ``col`` may be a column-name string (preferred — the whole 8-plane
    expression is assembled as one SQL string, see ``_sql_dot_lit``) or
    a Column (py4j-heavier fallback for computed inputs).
    """
    if isinstance(col, str):
        bits = " + ".join(
            f"(case when {_sql_dot_lit(col, plane)} > 0D then {1 << j}L else 0L end)"
            for j, plane in enumerate(_hyperplanes(dim))
        )
        # one width guard around the whole bucket expression: the
        # unguarded per-plane chains would silently yield NULL dots (and
        # so a wrong bucket) for a narrower vector; NULL input -> NULL
        # bucket (see _guard_width)
        return F.expr(_guard_width(f"({bits})", [col], dim))
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(_hyperplanes(dim)):
        d = dot(col, plane)
        bit = F.when(d > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + F.shiftleft(bit, j)
    return bucket


def _lsh_oracle() -> str:
    """DuckDB twin of the sign-LSH top-k.

    Approximate vs GROUND TRUTH (recall floor asserted in
    tests/test_similarity.py), but DETERMINISTIC as a function: the
    hyperplanes are fixed-seed literals and the bucket bit is the sign
    of a left-associated double chain — the oracle replays the SAME
    chain (same ``repr`` literals, same operand order, DuckDB lists are
    1-indexed) so the dots are bit-identical IEEE sequences and the
    signs cannot disagree. Scoring/rank reuse the proven
    similarity_brute_topk form (list_dot_product + round-4 + id
    tiebreak); multiprobe is unnest over the 9 xor'd bucket ids — a
    candidate has ONE bucket so a pair matches at most one probe, same
    as the Spark explode+equi-join. Same argument that converted the
    minhash/simhash family from rows-only this round.
    """
    contract = (
        "embedding IS NOT NULL"
        " AND len(list_filter(embedding, x -> x <> 0)) > 0"
        " AND len(list_filter(embedding, x -> x IS NULL)) = 0"
    )
    bits = " + ".join(
        "(CASE WHEN ("
        + " + ".join(f"e[{i + 1}]*({v!r}::DOUBLE)" for i, v in enumerate(plane))
        + f") > 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(_hyperplanes(_DIM))
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << j})" for j in range(_N_PLANES)])
    return f"""
        WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings WHERE {contract}),
        b AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS n,
                     ({bits}) AS bucket
              FROM c),
        q AS (SELECT vec_id, e, n, unnest([{probes}]) AS pbucket
              FROM b WHERE vec_id < {_N_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, cb.vec_id AS neighbor_id,
                   round(list_dot_product(q.e, cb.e) / (q.n * cb.n), 4) AS cosine
            FROM q JOIN b cb ON cb.bucket = q.pbucket AND q.vec_id <> cb.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        )
        WHERE rank <= {_TOP_K}
    """


@register(
    "similarity_lsh_topk",
    oracle=_lsh_oracle(),
    description="ANN scale path: random-hyperplane LSH buckets, cosine "
    "top-k within multi-probed buckets (candidate set ~ 9n/256 per query); "
    "deterministic fixed-seed planes make the banded output fully "
    "hash-oracled (recall vs brute force asserted in tests)",
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return lsh_topk_df(emb, emb.where(F.col("vec_id") < _N_QUERIES))


def lsh_topk_df(
    emb: DataFrame, queries: DataFrame, k: int = _TOP_K, multiprobe: bool = True
) -> DataFrame:
    """ANN top-k within sign-LSH buckets (approximate; see tests for the
    recall floor vs brute force).

    ``multiprobe=True`` probes the query's bucket plus every bucket at
    hamming distance 1 (flip one hyperplane sign) — 9 buckets instead
    of 1, recovering near-neighbors that landed just across one
    hyperplane, at ~9× the (still tiny) candidate cost.
    """
    from orca_spark.tables import widen

    # norms hoisted out of the bucket join (same device as ivf_topk_df:
    # one self-dot chain per ROW instead of two per candidate pair,
    # bit-equal scores); widen() spreads the per-row bucket hashing off
    # the source's single test-scale split
    bucketed = _with_norm(widen(emb), "en").withColumn("bucket", lsh_bucket("e"))
    qb = _with_norm(queries, "qn").withColumn("bucket", lsh_bucket("e"))
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(_N_PLANES)],
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    q = F.broadcast(
        qb.select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            "qn",
            F.col("bucket").alias("qbucket"),
        )
    )
    scored = (
        bucketed.join(
            q,
            (F.col("bucket") == F.col("qbucket")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot("qe", "e", validated=True) / (F.col("qn") * F.col("en")), 4
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
