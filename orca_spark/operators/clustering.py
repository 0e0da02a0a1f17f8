"""Distributed k-means (Lloyd's) over the embeddings corpus.

``similarity.kmeans_centroids`` trains a small coarse quantizer on a
bounded driver-side sample — the right call for a k<=100 IVF index.
This module is the complementary FULL-CORPUS form: when the cluster
structure itself is the product (topic discovery, SemDeDup's cluster
stage, data-mix curation at k ≈ √n), every iteration must scan the
whole corpus, and the iteration has to be a distributed job:

* **assign**: the same argmin used by IVF (``ivf_assign`` — literal
  codegen'd expression for small k, k-independent broadcast join past
  ``_LITERAL_K_MAX``), one scan, no shuffle for the literal path;
* **recompute**: per-dimension means via ``posexplode`` →
  ``groupBy(cid, dim)`` — a map-side-combinable aggregation whose
  output is exactly k×dim rows regardless of corpus size.  The k×dim
  result (a few KiB) is collected and re-broadcast as next round's
  literals — the only driver materialization, bounded by the MODEL
  size, not the data;
* **inertia**: the convergence signal, one sum over the assigned
  scan's min-distance (computed in the same pass via the expanded
  ‖x‖² − 2x·c + ‖c‖² form the assign path already evaluates).

Iterations are Spark jobs over the same cached scan; lineage does not
grow (each round's centroids are fresh literals, not a chained plan),
so no checkpointing is needed — the key structural difference from the
pointer-jumping loops in ``dedup.connected_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.operators.similarity import (
    _DIM,
    centroid_structs_sql,
    dot,
    ivf_assign,
    kmeans_centroids,
    load_embeddings,
)
from orca_spark.registry import register
from orca_spark.session import conf_scope

_K = 8
_ITERS = 5


def kmeans_fit(
    emb: DataFrame,
    k: int = _K,
    iters: int = _ITERS,
    dim: int = _DIM,
    compute_inertia: bool = True,
) -> tuple[list[tuple[int, list[float]]], list[float]]:
    """Full-corpus Lloyd's: returns (centroids, per-iteration inertia).

    ``inertia`` has one entry per EXECUTED iteration — early stop at the
    centroid fixed point can make it shorter than ``iters``.

    Seeding is deterministic and distributed: per-(vec_id % k) bucket
    means over the WHOLE corpus (one aggregation pass), the same scheme
    the sample-trained quantizer uses, so both trainers start from the
    same point on corpora where the sample is the corpus.

    Each iteration runs: assign (argmin over k centroids), then ONE
    exploded aggregation producing (cid, dim) means AND per-cid counts
    AND the summed min-distance — all from the same shuffle.  Empty
    clusters keep their previous centroid (the standard Lloyd's rule).
    """
    emb = emb.persist()
    # The loop's per-round jobs are model-sized aggregations (k×dim rows
    # out): AQE's runtime re-planning buys nothing for that fixed
    # two-stage shape but costs an extra scheduling round + driver
    # re-optimization per iteration — measured ~2× on the whole fit at
    # sf0.1, and the same fixed overhead per round on a cluster
    # (guide §1.2: config after algorithm — the algorithm here is
    # per-round model-sized aggregation, which AQE cannot improve).
    spark = emb.sparkSession
    try:
        with conf_scope(spark, {"spark.sql.adaptive.enabled": "false"}):
            # distributed deterministic seed: bucket means of vec_id % k
            seeded = emb.withColumn("cid", (F.col("vec_id") % k).cast("int"))
            cents = _recompute(seeded, k, dim, prev=None)
            inertia: list[float] = []
            for _ in range(iters):
                if compute_inertia:
                    # convergence signal: sum over rows of min_c ‖x − c‖², via
                    # the SAME struct-sort literal expression the assign path
                    # codegens (‖x‖² added back outside the argmin) — one agg
                    # job per round. Fixed-iteration fits skip it: it is a
                    # full extra corpus scan per round bought purely for the
                    # convergence readout.
                    stats = emb.agg(
                        F.sum(
                            _min_d2_sql(cents) + dot("e", "e", dim, validated=True)
                        ).alias("inertia")
                    ).collect()[0]
                    inertia.append(float(stats["inertia"]))
                assigned = ivf_assign(emb, cents, nprobe=1).select(
                    "e", F.col("clusters")[0].alias("cid")
                )
                new_cents = _recompute(assigned, k, dim, prev=dict(cents))
                # early stop: the update is driver-side model data, so the
                # fixed-point check is free — converged corpora skip the
                # remaining iterations' scans. Epsilon tolerance, NOT exact
                # equality: on a multi-executor cluster avg()'s partial-merge
                # order varies run to run, so a converged assignment can
                # still produce last-ulp-different centroids — exact
                # comparison would silently never fire there (the sample
                # trainer's array_equal check is safe only because numpy is
                # single-process deterministic).
                moved = max(
                    abs(x - y)
                    for (_, a), (_, b) in zip(cents, new_cents)
                    for x, y in zip(a, b)
                )
                cents = new_cents
                if moved < 1e-9:
                    break
            return cents, inertia
    finally:
        emb.unpersist()


def _min_d2_sql(centroids: list[tuple[int, list[float]]]):
    """min_c (‖c‖² − 2x·c) via the SAME struct builder the assign path
    codegens (centroid_structs_sql) — inertia and assignment share one
    distance expression by construction, not by convention."""
    structs = centroid_structs_sql(centroids)
    return F.expr(f"element_at(array_sort(array({structs})), 1).d")


def _recompute(
    assigned: DataFrame,
    k: int,
    dim: int,
    prev: dict[int, list[float]] | None,
) -> list[tuple[int, list[float]]]:
    """New centroids: per-(cid, dim) means via one exploded aggregation.

    Output is k×dim rows — model-sized, safe to collect at any corpus
    scale.  (Measured alternative: ``dim`` parallel ``sum(e[i])``
    column aggregates shuffle less — k rows of partial sums vs n·dim
    exploded rows — but ran 1.5× SLOWER end-to-end at sf0.1: 64 wide
    sum expressions with per-row bounds checks lose to the exploded
    hash-agg's tight generate+combine loop.  Keep the measured
    winner; revisit only with a profile at real scale.)  A cluster
    that captured no rows keeps its previous centroid (or, at seed
    time, the zero vector — impossible with vec_id-modulo seeding on
    a non-empty corpus).
    """
    means = (
        assigned.select("cid", F.posexplode("e").alias("d", "v"))
        .groupBy("cid", "d")
        .agg(F.avg("v").alias("m"))
        .collect()
    )
    by_cid: dict[int, list[float]] = {}
    for r in means:
        by_cid.setdefault(int(r.cid), [0.0] * dim)[int(r.d)] = float(r.m)
    out = []
    for cid in range(k):
        if cid in by_cid:
            out.append((cid, by_cid[cid]))
        elif prev is not None and cid in prev:
            out.append((cid, prev[cid]))
        else:
            out.append((cid, [0.0] * dim))
    return out


@register(
    "embeddings_kmeans_distributed",
    oracle=None,  # iterative refinement — not SQL-expressible; gated by
    # tests/test_clustering.py: inertia monotonicity + planted-cluster
    # purity on the mixture-of-Gaussians corpus
    description=f"full-corpus distributed Lloyd's k-means (k={_K}, "
    f"{_ITERS} iters): assignment reuses the IVF argmin (codegen'd "
    "literal / broadcast-join past k~64), recomputation is one "
    "map-side-combinable (cid, dim) aggregation collecting only the "
    "k x dim model; emits per-cluster sizes and centroid norms",
)
def embeddings_kmeans_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    cents, _ = kmeans_fit(emb, compute_inertia=False)
    # Final per-cluster sizes: the aggregation output is at most k rows —
    # MODEL-sized, so it is collected like every other model artifact in
    # this module and re-joined as a LOCAL relation. The previous form
    # kept `sizes` as a lazy subtree under the left join, which planned
    # it as the join's BUILD side: the whole assign+aggregate pass ran
    # inside a single-threaded BroadcastExchange collect (measured 3.4 s
    # of a 8.6 s query at sf0.1 — an Exchange the plan doesn't need,
    # guide §2.4/§5). Collecting the k-row aggregate directly runs the
    # scan as a normal parallel job and the remaining join is
    # local-relation × local-relation.
    sizes_rows = (
        ivf_assign(emb, cents, nprobe=1)
        .select(F.col("clusters")[0].alias("cluster_id"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
        .collect()
    )
    sizes = rows_to_df(
        spark,
        [(int(r.cluster_id), int(r.n_assigned)) for r in sizes_rows],
        "cluster_id int, n_assigned long",
    )
    cdf = rows_to_df(
        spark,
        [(cid, vec) for cid, vec in cents], "cluster_id int, c array<double>"
    ).select(
        "cluster_id",
        F.round(F.sqrt(dot("c", "c", validated=True)), 4).alias("centroid_norm"),
    )
    # LEFT join from the centroid frame: a cluster that captured no rows
    # still appears, with n_assigned = 0 (an empty cluster is a finding,
    # not a row to drop)
    return (
        cdf.join(sizes, "cluster_id", "left")
        .select(
            "cluster_id",
            F.coalesce("n_assigned", F.lit(0)).alias("n_assigned"),
            "centroid_norm",
        )
        .orderBy("cluster_id")
    )


@register(
    "embeddings_kmeans_vs_sampled",
    oracle=None,  # comparison of two trainers — behavior-tested
    description="trainer-agreement diagnostic: full-corpus Lloyd's vs "
    "the bounded-sample quantizer on the same corpus — per cluster_id "
    "the cosine between the two trainers' centroids (on the sf corpora "
    "the sample IS the corpus, so agreement is near-exact; divergence "
    "on a real corpus measures sample sufficiency for the IVF index)",
)
def embeddings_kmeans_vs_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    full, _ = kmeans_fit(emb, compute_inertia=False)
    sampled = kmeans_centroids(emb, k=_K, cache_key=sf_dir)
    rows = []
    smap = dict(sampled)
    for cid, vec in full:
        rows.append((cid, vec, smap[cid]))
    df = rows_to_df(
        spark, rows, "cluster_id int, c_full array<double>, c_sample array<double>"
    )
    cos = dot("c_full", "c_sample", validated=True) / (
        F.sqrt(dot("c_full", "c_full", validated=True))
        * F.sqrt(dot("c_sample", "c_sample", validated=True))
    )
    return df.select(
        "cluster_id", F.round(cos, 4).alias("trainer_cosine")
    ).orderBy("cluster_id")
