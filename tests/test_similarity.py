"""Behavioral tests for similarity search: exactness of the brute-force
path on planted vectors, and a recall floor for the LSH scale path."""

import math
import random

import pytest
from pyspark.sql import functions as F

from orca_spark.operators.similarity import brute_topk_df, lsh_bucket, lsh_topk_df

DIM = 64


def _vec(rng):
    return [rng.gauss(0.0, 1.0) for _ in range(DIM)]


@pytest.fixture(scope="module")
def emb(spark):
    rng = random.Random(123)
    rows = [(i, _vec(rng)) for i in range(100)]
    # plant: vec 50 is an exact copy of vec 0; vec 51 a tiny perturbation
    rows[50] = (50, rows[0][1])
    rows[51] = (51, [x + 0.01 for x in rows[0][1]])
    return spark.createDataFrame(rows, "vec_id long, e array<double>")


def test_brute_topk_finds_planted_duplicate(emb):
    q = emb.where(F.col("vec_id") == 0)
    top = brute_topk_df(emb, q, k=3).orderBy("rank").collect()
    assert top[0].neighbor_id == 50 and top[0].cosine == 1.0
    assert top[1].neighbor_id == 51 and top[1].cosine > 0.999


def test_lsh_bucket_deterministic_and_colocates_duplicates(emb):
    b = emb.select("vec_id", lsh_bucket(F.col("e")).alias("bucket")).collect()
    buckets = {r.vec_id: r.bucket for r in b}
    assert buckets[0] == buckets[50]  # identical vectors share a bucket
    b2 = {r.vec_id: r.bucket for r in
          emb.select("vec_id", lsh_bucket(F.col("e")).alias("bucket")).collect()}
    assert buckets == b2  # fixed hyperplanes → stable bucketing


def test_ivf_topk_finds_planted_duplicate(emb):
    from orca_spark.operators.similarity import ivf_topk_df

    q = emb.where(F.col("vec_id") == 0)
    top = ivf_topk_df(emb, q, k=3, nprobe=2).orderBy("rank").collect()
    # identical vector maps to the identical nearest centroid → always found
    assert top[0].neighbor_id == 50 and top[0].cosine == 1.0
    brute = {r.neighbor_id: r.cosine for r in brute_topk_df(emb, q, k=100).collect()}
    for r in top:  # scores within probed clusters must match brute force
        assert math.isclose(brute[r.neighbor_id], r.cosine, abs_tol=1e-9)


def test_ivf_near_dup_recall_and_precision(spark):
    """The cluster-bucketed near-dup path must be a strict subset of the
    exact pair set (verification is exact cosine — no false positives)
    with recall >= 0.9 on the real corpus at nprobe=3."""
    from tests.conftest import SF_DIR
    from orca_spark.queries import queries

    q = queries()
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q["embedding_near_dup_pairs"](spark, SF_DIR).collect()
    }
    ivf = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q["embedding_near_dup_pairs_ivf"](spark, SF_DIR).collect()
    }
    assert set(ivf) <= set(exact)
    for pair, c in ivf.items():  # same measure, clusters only prune
        assert math.isclose(exact[pair], c, abs_tol=1e-9)
    assert len(ivf) / len(exact) >= 0.9


def test_pq_topk_matches_ivf_when_shortlist_covers(emb):
    """With the ADC shortlist >= the probe-set size, PQ must return
    exactly the IVF ranking (reconstruction error can only reorder the
    shortlist CUT, never the exact re-rank) — and find the planted dup."""
    from orca_spark.operators.similarity import ivf_topk_df
    from orca_spark.operators.similarity2 import pq_topk_df

    q = emb.where(F.col("vec_id") == 0)
    pq = pq_topk_df(emb, q, k=3, nprobe=2, shortlist=1000).orderBy("rank").collect()
    ivf = ivf_topk_df(emb, q, k=3, nprobe=2).orderBy("rank").collect()
    assert [(r.neighbor_id, r.cosine) for r in pq] == [
        (r.neighbor_id, r.cosine) for r in ivf
    ]
    assert pq[0].neighbor_id == 50 and pq[0].cosine == 1.0


def test_pq_topk_recall_floor_on_corpus(spark):
    """PQ with the registered shortlist must not lose recall vs plain IVF
    on the real corpus (ADC pre-ranking is a cost optimization, not a
    quality trade at this shortlist size)."""
    from tests.conftest import SF_DIR
    from orca_spark.queries import queries

    q = queries()
    def topk_sets(name):
        out = {}
        for r in q[name](spark, SF_DIR).collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    brute, ivf, pq = (
        topk_sets("similarity_brute_topk"),
        topk_sets("similarity_ivf_topk"),
        topk_sets("similarity_pq_topk"),
    )
    rec_ivf = sum(len(brute[k] & ivf.get(k, set())) / len(brute[k]) for k in brute) / len(brute)
    rec_pq = sum(len(brute[k] & pq.get(k, set())) / len(brute[k]) for k in brute) / len(brute)
    assert rec_pq >= rec_ivf - 0.05


def test_lsh_topk_exact_within_bucket(emb):
    """The LSH path must return exactly the brute-force ranking restricted
    to the query's bucket — approximation comes only from bucketing."""
    q = emb.where(F.col("vec_id") == 0)
    lsh = lsh_topk_df(emb, q, k=5).orderBy("rank").collect()
    # planted exact duplicate is in the same bucket, so it must be rank 1
    assert lsh[0].neighbor_id == 50 and lsh[0].cosine == 1.0
    brute = {r.neighbor_id: r.cosine for r in brute_topk_df(emb, q, k=100).collect()}
    for r in lsh:
        assert math.isclose(brute[r.neighbor_id], r.cosine, abs_tol=1e-9)


def test_semantic_vs_lexical_bucketed_subset_of_exact(spark):
    """The bucketed semantic-vs-lexical view must agree with the exact
    (oracle-checked) form on every pair it emits — same cosine, same
    jaccard — and keep the IVF recall floor."""
    from tests.conftest import SF_DIR
    from orca_spark.queries import queries

    q = queries()
    exact = {
        (r.doc_a, r.doc_b): (r.cosine, r.jaccard)
        for r in q["semantic_vs_lexical_dedup"](spark, SF_DIR).collect()
    }
    bucketed = {
        (r.doc_a, r.doc_b): (r.cosine, r.jaccard)
        for r in q["semantic_vs_lexical_dedup_bucketed"](spark, SF_DIR).collect()
    }
    assert set(bucketed) <= set(exact)
    for pair, (c, j) in bucketed.items():
        ec, ej = exact[pair]
        assert math.isclose(ec, c, abs_tol=1e-9)
        assert math.isclose(ej, j, abs_tol=1e-9)
    assert len(bucketed) / len(exact) >= 0.9


def _df_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_ivf_assign_join_matches_literal_at_k64(emb):
    """The k-independent broadcast-join argmin must pick exactly the
    clusters the literal-expression argmin picks (same distance form,
    same tie-break), and the dispatcher must route k=64 through the
    join path with a BroadcastHashJoin plan — not a mega-expression."""
    from orca_spark.operators.similarity import (
        _LITERAL_K_MAX,
        ivf_assign,
        ivf_assign_join,
        ivf_assign_literal,
    )

    rng = random.Random(7)
    cents = [(i, _vec(rng)) for i in range(64)]
    lit = {r.vec_id: list(r.clusters)
           for r in ivf_assign_literal(emb, cents, nprobe=3).collect()}
    jn = {r.vec_id: list(r.clusters)
          for r in ivf_assign_join(emb, cents, nprobe=3).collect()}
    assert lit == jn
    dispatched = ivf_assign(emb, cents, nprobe=3)
    plan = _df_plan(dispatched)
    assert "BroadcastHashJoin" in plan
    # small k stays on the shuffle-free literal path
    small = ivf_assign(emb, cents[:_LITERAL_K_MAX], nprobe=1)
    assert "BroadcastHashJoin" not in _df_plan(small)
    assert "Exchange" not in _df_plan(small)


def test_pq_encode_join_matches_literal(emb):
    """The codebook-independent broadcast-join PQ encoder must emit
    byte-identical codes to the literal-expression encoder, and the
    dispatcher must route oversized codebooks through the join path."""
    from orca_spark.operators.similarity import ivf_assign, kmeans_centroids
    from orca_spark.operators.similarity2 import (
        pq_encode,
        pq_encode_join,
        pq_encode_literal,
        train_pq,
    )

    cents = kmeans_centroids(emb)
    assigned = ivf_assign(emb, cents, nprobe=1).select(
        "vec_id", "e", F.element_at("clusters", 1).alias("cluster")
    )
    books = train_pq(emb, cents)
    lit = {r.vec_id: list(r.codes)
           for r in pq_encode_literal(assigned, cents, books).collect()}
    jn = {r.vec_id: list(r.codes)
          for r in pq_encode_join(assigned, cents, books).collect()}
    assert lit == jn
    big = train_pq(emb, cents, ncodes=32)
    plan = _df_plan(pq_encode(assigned, cents, big))
    assert "BroadcastHashJoin" in plan


def test_gram_near_dup_agrees_with_exact(spark):
    """The Arrow gram-matrix form must emit (a subset of) the exact pair
    set with the IVF recall floor; cosines may differ from the SQL fold
    only by one final-rounding step (numpy's blocked summation)."""
    from tests.conftest import SF_DIR
    from orca_spark.queries import queries

    q = queries()
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q["embedding_near_dup_pairs"](spark, SF_DIR).collect()
    }
    gram = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q["embedding_near_dup_pairs_gram"](spark, SF_DIR).collect()
    }
    # same cluster structure as the ivf form -> same candidate recall
    assert len(set(gram) & set(exact)) / len(exact) >= 0.9
    for pair in set(gram) & set(exact):
        assert abs(gram[pair] - exact[pair]) <= 1.01e-4, pair
    # near-threshold ulp flips may add/drop pairs only AT the threshold
    for pair in set(gram) - set(exact):
        assert abs(gram[pair] - 0.4) <= 1.01e-4, pair


# ---------------------------------------------------------------------------
# planted clustered corpus: the IVF pruning claim as a measured property
# ---------------------------------------------------------------------------

N_CLUSTERS = 16
PER_CLUSTER = 30
N_TWINS = 40
CLUSTER_THRESHOLD = 0.997


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    """Mixture of 16 Gaussians on a ring (dims 0-1 of 64) + 40 planted
    near-dup twins. The sf-corpus embeddings are near-uniform (max
    pairwise cosine ~0.5, ~82% of pairs survive the cluster buckets), so
    the recall floor there says nothing about PRUNING; this corpus is
    what IVF is for, and lets the candidate fraction be asserted.
    vec_id % 16 == true cluster, so the quantizer's bucket-mean seeding
    starts at the planted truth."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(42)
    n_base = N_CLUSTERS * PER_CLUSTER
    means = np.zeros((N_CLUSTERS, DIM))
    ang = 2 * np.pi * np.arange(N_CLUSTERS) / N_CLUSTERS
    means[:, 0], means[:, 1] = np.cos(ang), np.sin(ang)
    base = means[np.arange(n_base) % N_CLUSTERS] + rng.normal(0, 0.02, (n_base, DIM))
    twins = base[:N_TWINS] + rng.normal(0, 0.001, (N_TWINS, DIM))
    x = np.vstack([base, twins]).astype(np.float32)
    ids = np.arange(len(x))  # twin of base b is 480+b: (480+b) % 16 == b % 16
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([list(map(float, v)) for v in x], pa.list_(pa.float32())),
            "label": pa.array([str(i % N_CLUSTERS) for i in ids], pa.string()),
        }
    )
    d = tmp_path_factory.mktemp("clustered_sf")
    pq.write_table(table, str(d / "embeddings.parquet"))
    return str(d), x


def test_ivf_prunes_and_recalls_on_clustered_corpus(spark, clustered_dir):
    """The 100 TB claim, measured: on a clustered corpus the k=16 /
    nprobe=2 bucket join must (a) consider < 30% of all pairs as
    candidates and (b) still find >= 97% of the true near-dup pairs."""
    import numpy as np

    from orca_spark.operators.similarity import ivf_assign, kmeans_centroids, load_embeddings
    from orca_spark.operators.similarity2 import ivf_near_dup_pairs

    d, x = clustered_dir
    x64 = x.astype(np.float64)
    nrm = np.linalg.norm(x64, axis=1)
    gram = (x64 @ x64.T) / np.outer(nrm, nrm)
    iu, ju = np.triu_indices(len(x64), 1)
    truth = {
        (int(i), int(j)) for i, j in zip(iu[gram[iu, ju] >= CLUSTER_THRESHOLD],
                                         ju[gram[iu, ju] >= CLUSTER_THRESHOLD])
    }
    assert len(truth) >= N_TWINS  # every planted twin pair is a true dup

    emb = load_embeddings(spark, d)
    cents = kmeans_centroids(emb, k=N_CLUSTERS)
    assert len(cents) == N_CLUSTERS
    assigned = ivf_assign(emb, cents, nprobe=2).select("vec_id", "clusters").collect()
    masks = np.zeros(len(x64), dtype=np.int64)
    for r in assigned:
        for c in r.clusters:
            masks[int(r.vec_id)] |= 1 << int(c)
    cand_frac = ((masks[iu] & masks[ju]) != 0).mean()
    assert cand_frac < 0.30, f"bucket join kept {cand_frac:.1%} of all pairs"
    assert cand_frac > 0.02  # sanity: buckets exist and overlap somewhere

    found_rows = ivf_near_dup_pairs(
        emb, threshold=CLUSTER_THRESHOLD, nprobe=2, k=N_CLUSTERS
    ).collect()
    found = {(int(r.vec_a), int(r.vec_b)) for r in found_rows}
    recall = len(found & truth) / len(truth)
    assert recall >= 0.97, f"recall {recall:.3f} on {len(truth)} true pairs"
    # precision guard: nothing far below the threshold may be emitted
    # (epsilon absorbs numpy-vs-SQL last-ulp summation differences)
    loose = {
        (int(i), int(j)) for i, j in zip(iu[gram[iu, ju] >= CLUSTER_THRESHOLD - 1e-4],
                                         ju[gram[iu, ju] >= CLUSTER_THRESHOLD - 1e-4])
    }
    assert found <= loose


# ---------------------------------------------------------------------------
# skewed cluster: the gram scorer's salting escape hatch as a measured
# property (VERDICT r05 #6 — the last untested 100 TB claim in this family)
# ---------------------------------------------------------------------------

N_GIANT = 360
N_OTHER = 40
SALT = 4


@pytest.fixture(scope="module")
def skewed_dir(tmp_path_factory):
    """One template family of 360 near-identical vectors (the one-giant-
    cluster shape a boilerplate-heavy corpus produces) plus 40 spread
    across 4 other directions — k-means MUST put the family in one cell,
    so the unsalted gram batch is ~360 rows and salting has real work."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    giant_mean = np.zeros(DIM)
    giant_mean[0] = 1.0
    giant = giant_mean + rng.normal(0, 0.01, (N_GIANT, DIM))
    other_means = np.zeros((4, DIM))
    for i in range(4):
        other_means[i, i + 1] = 1.0
    other = other_means[np.arange(N_OTHER) % 4] + rng.normal(
        0, 0.05, (N_OTHER, DIM)
    )
    x = np.vstack([giant, other]).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(x)), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in x], pa.list_(pa.float32())
            ),
        }
    )
    d = tmp_path_factory.mktemp("skewed_sf")
    pq.write_table(table, str(d / "embeddings.parquet"))
    return str(d)


def test_gram_salting_bounds_batch_and_preserves_pairs(spark, skewed_dir):
    """salt=4 must (a) emit the IDENTICAL pair set with identical rounded
    cosines as salt=1 and (b) shrink the largest Arrow batch to well
    under the giant cluster's size — the memory contract documented in
    gram_near_dup_pairs, now asserted instead of promised."""
    from orca_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
        load_embeddings,
    )
    from orca_spark.operators.similarity2 import gram_near_dup_pairs

    emb = load_embeddings(spark, skewed_dir)

    unsalted = {
        (r.vec_a, r.vec_b): r.cosine
        for r in gram_near_dup_pairs(emb, threshold=0.9).collect()
    }
    salted = {
        (r.vec_a, r.vec_b): r.cosine
        for r in gram_near_dup_pairs(emb, threshold=0.9, salt=SALT).collect()
    }
    # every giant-family pair survives in both; values digit-identical
    assert salted == unsalted
    assert len(unsalted) >= (N_GIANT * (N_GIANT - 1)) // 2

    # replicate the operator's keying to measure group cardinalities:
    # unsalted max group ~= the giant cluster; salted max block must be
    # bounded by ~2g/salt (pigeonhole slack for the hash split)
    from orca_spark.tables import widen

    cents = kmeans_centroids(emb)
    keyed = (
        ivf_assign(widen(emb), cents, nprobe=3)
        .select("vec_id", F.explode("clusters").alias("c"))
        .withColumn("shard", F.pmod(F.xxhash64("vec_id"), F.lit(SALT)))
    )
    g_max = keyed.groupBy("c").count().agg(F.max("count")).collect()[0][0]
    assert g_max >= N_GIANT  # the skew actually exists

    blocks = (
        keyed.select(
            "c",
            "shard",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(SALT - 1)),
                        lambda q: F.struct(
                            F.least(F.col("shard"), q).alias("i"),
                            F.greatest(F.col("shard"), q).alias("j"),
                        ),
                    )
                )
            ).alias("blk"),
        )
        .groupBy("c", "blk.i", "blk.j")
        .count()
    )
    blk_max = blocks.agg(F.max("count")).collect()[0][0]
    bound = int(2 * g_max / SALT * 1.4)  # 40% slack for hash imbalance
    assert blk_max <= bound, (blk_max, g_max, bound)


# ---------------------------------------------------------------------------
# exactly-once bitmask: semantic identity with the array form, at the
# ANSI boundary bits (the mask path replaces array_intersect/array_min
# in ivf_near_dup_pairs — see the codegen note there)
# ---------------------------------------------------------------------------


def test_mask_once_matches_array_min_at_boundary_bits(spark):
    """For every pair of 2-cluster membership sets over boundary ids
    (0, 1, 30, 31, 61, 62 — 62 is the largest id the k <= 63 guard
    admits) and every shared cluster c, the bitmask no-shared-bit-below-c
    test must equal (c == min(intersection)), and must evaluate without
    ANSI overflow at the top bit."""
    import itertools

    ids = [0, 1, 30, 31, 61, 62]
    sets = [list(s) for s in itertools.combinations(ids, 2)]
    rows = []
    for sa in sets:
        for sb in sets:
            inter = sorted(set(sa) & set(sb))
            for c in inter:
                rows.append((sa, sb, c, c == inter[0]))
    assert rows
    df = spark.createDataFrame(
        rows, "ca array<int>, cb array<int>, c int, want boolean"
    )
    mask = (
        "aggregate({0}, CAST(0 AS BIGINT),"
        " (m, x) -> m | shiftleft(CAST(1 AS BIGINT), x))"
    )
    got = df.selectExpr(
        "want",
        f"(({mask.format('ca')} & {mask.format('cb')})"
        " & (shiftleft(CAST(1 AS BIGINT), c) - 1)) = 0 AS got",
    ).collect()
    for r in got:
        assert r.got == r.want


def test_ivf_array_once_path_above_mask_limit(spark, clustered_dir):
    """k > 63 switches the exactly-once filter to the array_intersect
    form (cluster ids no longer fit a BIGINT mask) — the branch a real
    k ~ sqrt(n) deployment runs. It must flow through the same
    survivor rescore (similarity.threshold_pairs) and still recover the
    planted twins."""
    import numpy as np

    from orca_spark.operators.similarity import load_embeddings
    from orca_spark.operators.similarity2 import ivf_near_dup_pairs

    d, x = clustered_dir
    emb = load_embeddings(spark, d)
    found_rows = ivf_near_dup_pairs(
        emb, threshold=CLUSTER_THRESHOLD, nprobe=2, k=70
    ).collect()
    found = {(int(r.vec_a), int(r.vec_b)) for r in found_rows}
    # the planted twin pairs (base b, twin 480+b) are 0.001-sigma apart
    # — cosine far above the threshold; with 70 clusters over 16 true
    # modes a twin can straddle a quantizer boundary, so assert a floor
    twins = {(b, N_CLUSTERS * PER_CLUSTER + b) for b in range(N_TWINS)}
    recall = len(found & twins) / len(twins)
    assert recall >= 0.9, f"twin recall {recall:.2f} on the array path"
    # precision: nothing below the threshold (minus last-ulp slack)
    x64 = x.astype(np.float64)
    nrm = np.linalg.norm(x64, axis=1)
    for va, vb in found:
        cos = float(x64[va] @ x64[vb] / (nrm[va] * nrm[vb]))
        assert cos >= CLUSTER_THRESHOLD - 1e-4, (va, vb, cos)
