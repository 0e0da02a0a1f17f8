"""Distributed k-means: the properties that gate the no-oracle query.

Lloyd's guarantees inertia never increases across iterations; on the
planted mixture-of-Gaussians corpus the full-corpus trainer must
recover the planted clusters (high purity).  Agreement with the
sample-trained quantizer is asserted where the sample IS the corpus.
"""

import numpy as np
import pytest

from orca_spark.operators.clustering import kmeans_fit
from orca_spark.operators.similarity import ivf_assign, load_embeddings
from tests.conftest import SF_DIR
from tests.test_similarity import N_CLUSTERS, clustered_dir  # noqa: F401


def test_inertia_monotone_nonincreasing(spark):
    emb = load_embeddings(spark, SF_DIR)
    _, inertia = kmeans_fit(emb, k=8, iters=4)
    # early stop may execute fewer than `iters` iterations; one entry
    # per executed iteration is the contract
    assert 1 <= len(inertia) <= 4
    for a, b in zip(inertia, inertia[1:]):
        assert b <= a * (1 + 1e-9), f"inertia increased: {inertia}"
    assert inertia[-1] > 0


def test_recovers_planted_clusters(spark, clustered_dir):  # noqa: F811
    d, x = clustered_dir
    emb = load_embeddings(spark, d)
    cents, inertia = kmeans_fit(emb, k=N_CLUSTERS, iters=5)
    assert inertia[-1] <= inertia[0]
    assigned = ivf_assign(emb, cents, nprobe=1).select(
        "vec_id", "clusters"
    ).collect()
    got = {int(r.vec_id): int(r.clusters[0]) for r in assigned}
    # purity: each learned cluster is dominated by one planted label
    by_cid: dict[int, list[int]] = {}
    for vid, cid in got.items():
        by_cid.setdefault(cid, []).append(vid % N_CLUSTERS)
    n_total = len(got)
    n_major = sum(
        int(np.bincount(labels).max()) for labels in by_cid.values()
    )
    assert n_major / n_total >= 0.95, f"purity {n_major / n_total:.3f}"


def test_trainers_agree_when_sample_is_corpus(spark):
    from orca_spark.queries import queries

    rows = queries()["embeddings_kmeans_vs_sampled"](spark, SF_DIR).collect()
    assert len(rows) == 8
    for r in rows:
        # not exact: the trainers share seeding and update rule but sum in
        # different orders (numpy vs Spark avg) and run different iteration
        # counts; on the near-uniform corpus boundary flips amplify the
        # drift. High directional agreement is the contract.
        assert r.trainer_cosine >= 0.95, (
            f"cluster {r.cluster_id}: trainer cosine {r.trainer_cosine}"
        )


def test_centroid_frames_reach_jvm_without_python_worker(spark):
    """The centroid and cluster-size tables embeddings_kmeans_distributed
    builds on the driver are Arrow-fed: no PythonRDD in the lineage of
    the frame it returns."""
    from orca_spark.queries import queries

    df = queries()["embeddings_kmeans_distributed"](spark, SF_DIR)
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert df.count() == 8
