"""Scalar-quantized (int8) similarity search — the compressed-domain
ANN path that is still EXACTLY oracle-able.

``similarity_sq8_topk`` quantizes every embedding to 64 signed-byte
codes with a per-vector symmetric scale (``q_i = floor(x_i·127/amax +
0.5)``, ``amax = max|x_i|``) and ranks neighbors by the cosine of the
QUANTIZED vectors. This is the standard memory/bandwidth scale lever
(FAISS ``SQ8``): the corpus representation shrinks 4× vs float32 (16×
vs the float64 compute form), scans move 4× less data, and the scoring
dot is small-integer arithmetic.

Why this one gets a full value oracle when PQ/LSH/IVF are rows-only:
the per-vector scale CANCELS in the cosine, so the score is
``dot(q_a,q_b) / (|q_a|·|q_b|)`` over small integers — every partial
sum is an exact integer below 2^53 in ANY summation order, which makes
the score bit-reproducible across Spark's codegen'd left-fold, numpy
BLAS, and DuckDB's list kernels. The only float ops are the final two
sqrts and one divide, identical IEEE everywhere, then round(4). The
quantization itself is deterministic too: one multiply, one divide,
one add, one floor per element over exactly-representable inputs.

Scale contract: quantization is a narrow per-row map at the scan (no
shuffle); the query set broadcasts; the corpus streams once; the only
shuffle is the tiny per-query top-k window. Composes with the IVF
bucketing in similarity.py — quantize within buckets for the full
FAISS IVF+SQ8 shape (PQ's sibling, similarity2.py, already shows the
bucketed candidate generation).

Reference parity: the reference (core.clj) has no similarity surface;
LLM-pipeline extension (SURVEY §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from orca_spark.operators.similarity import (
    _N_QUERIES,
    _TOP_K,
    dot,
    load_embeddings,
)
from orca_spark.registry import register

_EMB_OK = (
    "embedding IS NOT NULL"
    " AND len(list_filter(embedding, x -> x <> 0)) > 0"
    " AND len(list_filter(embedding, x -> x IS NULL)) = 0"
)


def sq8_quantize(emb: DataFrame) -> DataFrame:
    """(vec_id, e) → (vec_id, q array<bigint>, qn double): symmetric
    per-vector int8 codes and the L2 norm of the code vector. ``amax``
    > 0 is a load_embeddings contract (zero-norm vectors excluded), so
    the divide cannot hit zero. |x_i| ≤ amax ⇒ the code lands in
    [-127, 127] with no clamp branch."""
    return (
        emb.withColumn(
            "amax", F.array_max(F.transform("e", lambda x: F.abs(x)))
        )
        .withColumn(
            "q",
            F.expr(
                "transform(e, x ->"
                " cast(floor(x * 127.0 / amax + 0.5) as bigint))"
            ),
        )
        .withColumn("qn", F.sqrt(dot("q", "q", validated=True)))
        .select("vec_id", "q", "qn")
    )


@register(
    "similarity_sq8_topk",
    oracle=f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE {_EMB_OK}
        ),
        qz AS (
            SELECT vec_id,
                   CAST(list_transform(e, x ->
                        floor(x * 127.0
                              / list_max(list_transform(e, y -> abs(y)))
                              + 0.5)) AS DOUBLE[]) AS q
            FROM base
        ),
        scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   round(list_dot_product(a.q, b.q)
                         / (sqrt(list_dot_product(a.q, a.q))
                            * sqrt(list_dot_product(b.q, b.q))), 4)
                       AS cosine_q
            FROM qz a JOIN qz b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {_N_QUERIES}
        )
        SELECT query_id, neighbor_id, cosine_q, rank
        FROM (
            SELECT query_id, neighbor_id, cosine_q,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine_q DESC, neighbor_id)
                       AS rank
            FROM scored
        )
        WHERE rank <= {_TOP_K}
    """,
    description=f"int8 scalar-quantized cosine top-{_TOP_K} for "
    f"{_N_QUERIES} query vectors (FAISS-SQ8 shape): per-vector "
    "symmetric codes floor(x*127/amax + 0.5), ranking on the cosine of "
    "the CODE vectors (scales cancel) — small-integer dots are exact in "
    "any summation order, so unlike PQ/LSH/IVF this compressed-domain "
    "path is fully value-oracled; quantize is a narrow scan-side map "
    "(4x less corpus bandwidth), queries broadcast, corpus streams once",
)
def similarity_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = sq8_quantize(load_embeddings(spark, sf_dir))
    q = F.broadcast(
        emb.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("qn").alias("qqn"),
        )
    )
    scored = emb.join(q, F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        # integer dot cast to double is exact; rank on the ROUNDED value
        # + id tiebreak, same determinism recipe as similarity_brute_topk
        F.round(
            dot("qq", "q", validated=True).cast("double")
            / (F.col("qqn") * F.col("qn")),
            4,
        ).alias("cosine_q"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_q").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine_q", "rank")
    )


_SRP_BANDS = 4          # 64 sign bits -> 4 x 16-bit band keys
_SRP_WIDTH = 16
_INC_THRESHOLD = 0.4    # family convention (_NEAR_DUP_THRESHOLD)


def srp_band_keys(emb: DataFrame) -> DataFrame:
    """(vec_id, e, q, qn) → exploded (vec_id, q, qn, band, key): 16-bit
    sign-pattern band keys (axis-aligned SRP — the embedding analog of
    SimHash banding).

    Sign bits are EXACT on floats (x > 0 has no rounding), which is the
    whole reason this banding was chosen over float-kmeans IVF buckets
    for the incremental index: every stage of the probe stays
    deterministic, so the driver can hash-check band recall itself —
    the r11 verdict's Done criterion for this operator. The kmeans-
    bucketed float forms (ivf/gram/PQ) remain the rows-only siblings.
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    " + ".join(
                        f"(case when e[{_SRP_WIDTH * b + j}] > 0d"
                        f" then {1 << j}L else 0L end)"
                        for j in range(_SRP_WIDTH)
                    )
                ).alias("key"),
            )
            for b in range(_SRP_BANDS)
        ]
    )
    return emb.select(
        "vec_id", "q", "qn", F.explode(bands).alias("bk")
    ).select("vec_id", "q", "qn", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


_SRP_KEY_SQL = (
    "list_sum(list_transform(range(0, 16), j -> "
    "CASE WHEN e[16*b + j + 1] > 0 THEN (1::BIGINT << j) ELSE 0 END))"
)


@register(
    "similarity_sq8_incremental",
    # FULL value oracle — the first embedding-ANN probe the driver can
    # hash: history (even ids) and probe (odd + replayed %10) both
    # re-derive in SQL because every stage is deterministic — sign-band
    # keys (float > 0 is exact), int8 codes (floor arithmetic), integer
    # code dots (summation-order exact), and the final two sqrts + one
    # divide + round(4), identical IEEE everywhere (the
    # similarity_sq8_topk precedent). The persisted parquet index is
    # deterministic per vector, so deriving history's bands from the
    # embeddings table replicates its content exactly — the
    # dedup_phash_incremental oracle convention.
    oracle=f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE {_EMB_OK}
        ),
        qz AS MATERIALIZED (
            SELECT vec_id, e,
                   CAST(list_transform(e, x ->
                        floor(x * 127.0
                              / list_max(list_transform(e, y -> abs(y)))
                              + 0.5)) AS DOUBLE[]) AS q
            FROM base
        ),
        bnd AS MATERIALIZED (
            SELECT vec_id, b, {_SRP_KEY_SQL} AS k
            FROM qz, UNNEST(range({_SRP_BANDS})) AS bb(b)
        ),
        cand AS (
            SELECT DISTINCT p.vec_id AS new_id, h.vec_id AS hist_id
            FROM bnd p JOIN bnd h ON p.b = h.b AND p.k = h.k
            WHERE (p.vec_id % 2 = 1 OR p.vec_id % 10 = 0)
              AND h.vec_id % 2 = 0
        ),
        scored AS (
            SELECT new_id, hist_id,
                   round(list_dot_product(a.q, b.q)
                         / (sqrt(list_dot_product(a.q, a.q))
                            * sqrt(list_dot_product(b.q, b.q))), 4)
                       AS cosine_q
            FROM cand
            JOIN qz a ON a.vec_id = new_id
            JOIN qz b ON b.vec_id = hist_id
        )
        SELECT new_id, hist_id, cosine_q
        FROM scored WHERE cosine_q >= {_INC_THRESHOLD}
        ORDER BY new_id, hist_id
    """,
    description="incremental embedding near-dup against a PERSISTED "
    "SQ8+SRP index — the ingest-once/probe-delta shape for the one "
    "family that lacked it (exact: streaming.stateful, minhash: "
    "dedup3, phash: "
    "multimodal7): history vectors (even ids) write 16-bit sign-band "
    "keys + int8 codes to parquet ONCE; the new batch (odd ids + "
    "re-ingested %10 vectors, so re-submitted content is guaranteed "
    "detected) quantizes itself, probes the stored index by (band, key) "
    "equi-join, and scores the integer code cosine >= 0.4 — cost "
    "proportional to the new batch + collisions, never a history "
    "rescan; sign-band + integer-dot determinism makes even the band "
    "recall driver-hashable, unlike the float-kmeans IVF buckets",
)
def similarity_sq8_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale contract (asserted in tests/test_plans.py): the history
    side of the probe plan reads ONLY the parquet index — the
    embeddings table is scanned once, for the new batch; the index
    equi-join is a 2-byte-key hash join; the int8 codes ride the index
    rows (4x narrower than float32, 8x than the double compute form),
    so probe bandwidth is the compressed representation."""
    from orca_spark.operators.io_ops import scratch_path

    emb = load_embeddings(spark, sf_dir)
    hist = sq8_quantize_with_e(emb.where(F.col("vec_id") % 2 == 0))
    new = sq8_quantize_with_e(
        emb.where((F.col("vec_id") % 2 == 1) | (F.col("vec_id") % 10 == 0))
    )

    idx_path = scratch_path("sq8_srp_index", sf_dir)
    srp_band_keys(hist).write.mode("overwrite").parquet(idx_path)

    probe = srp_band_keys(new).select(
        F.col("vec_id").alias("new_id"),
        F.col("q").alias("qa"),
        F.col("qn").alias("qna"),
        "band",
        "key",
    )
    idx = spark.read.parquet(idx_path).select(
        F.col("vec_id").alias("hist_id"),
        F.col("q").alias("qb"),
        F.col("qn").alias("qnb"),
        "band",
        "key",
    )
    cand = (
        probe.join(idx, ["band", "key"])
        .select("new_id", "hist_id", "qa", "qna", "qb", "qnb")
        .dropDuplicates(["new_id", "hist_id"])
    )
    scored = cand.select(
        "new_id",
        "hist_id",
        F.round(
            dot("qa", "qb", validated=True).cast("double")
            / (F.col("qna") * F.col("qnb")),
            4,
        ).alias("cosine_q"),
    )
    return (
        scored.where(F.col("cosine_q") >= _INC_THRESHOLD)
        .select("new_id", "hist_id", "cosine_q")
        .orderBy("new_id", "hist_id")
    )


def sq8_quantize_with_e(emb: DataFrame) -> DataFrame:
    """sq8_quantize keeping the raw double vector ``e`` alongside the
    codes — the band keys come from e's signs, the scoring from q."""
    return (
        emb.withColumn(
            "amax", F.array_max(F.transform("e", lambda x: F.abs(x)))
        )
        .withColumn(
            "q",
            F.expr(
                "transform(e, x ->"
                " cast(floor(x * 127.0 / amax + 0.5) as bigint))"
            ),
        )
        .withColumn("qn", F.sqrt(dot("q", "q", validated=True)))
        .select("vec_id", "e", "q", "qn")
    )


def _subq(sql: str) -> str:
    """Wrap a registered oracle (itself a WITH...SELECT) so it can be a
    CTE body — DuckDB accepts CTEs inside derived tables."""
    return f"(SELECT * FROM ({sql}))"


def _recall_oracle() -> str:
    from orca_spark.registry import REGISTRY

    brute = REGISTRY["similarity_brute_topk"].oracle
    sq8 = REGISTRY["similarity_sq8_topk"].oracle
    return f"""
        WITH b AS {_subq(brute)},
        s AS {_subq(sq8)},
        ov AS (
            SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_overlap
            FROM b JOIN s USING (query_id, neighbor_id)
            GROUP BY b.query_id
        ),
        base AS (
            SELECT query_id, CAST(count(*) AS BIGINT) AS n_brute
            FROM b GROUP BY query_id
        )
        SELECT base.query_id, base.n_brute,
               CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
               CAST(coalesce(ov.n_overlap, 0) * 1000000 // base.n_brute
                    AS BIGINT) AS recall_ppm
        FROM base LEFT JOIN ov USING (query_id)
    """


@register(
    "similarity_sq8_recall_audit",
    oracle=_recall_oracle(),
    description=f"index-QA composition: per-query recall@{_TOP_K} of "
    "the int8 scalar-quantized ranking against exact brute-force cosine "
    "— the audit you run on a sampled query set before trusting a "
    "compressed index at scale; joins the two top-k sets on "
    "(query_id, neighbor_id) and reports overlap + integer recall_ppm; "
    "fully value-oracled because BOTH sides are (the first ANN recall "
    "number in the registry the driver can hash, not just floor-assert)",
)
def similarity_sq8_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the audit itself joins two k·|queries|-row frames — model-
    sized regardless of corpus. The cost is the two upstream corpus
    scans; at 100 TB run the audit on the SAME cached scan (both paths
    consume load_embeddings(...) — persist it) or on a bounded query
    sample, which is how recall audits are run in practice anyway."""
    from orca_spark.registry import REGISTRY

    brute = REGISTRY["similarity_brute_topk"].fn(spark, sf_dir)
    sq8 = REGISTRY["similarity_sq8_topk"].fn(spark, sf_dir)
    ov = (
        brute.join(sq8, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    base = brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_brute"))
    return base.join(ov, "query_id", "left").select(
        "query_id",
        F.col("n_brute").cast("long").alias("n_brute"),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        F.expr("coalesce(n_overlap, 0) * 1000000 div n_brute")
        .cast("long")
        .alias("recall_ppm"),
    )
