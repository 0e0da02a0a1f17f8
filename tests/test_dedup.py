"""Behavioral tests for the probabilistic dedup paths (MinHash/SimHash)
on planted near-duplicates — the checks the SQL oracle can't express."""

import pytest
from pyspark.sql import functions as F

from orca_spark.operators.dedup import (
    minhash_near_dup_pairs,
    minhash_signatures,
    simhash_signatures,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the tall green trees "
    "near the old stone bridge by the quiet river bank at dawn"
)


@pytest.fixture(scope="module")
def planted(spark):
    near = BASE.replace("quiet river", "noisy river")  # one token changed
    unrelated = " ".join(f"w{i}" for i in range(40))
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, near), (4, unrelated)],
        "doc_id long, text string",
    )


def test_minhash_finds_planted_near_dups(planted):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_near_dup_pairs(planted, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup: jaccard 1 on shingles
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near dup found
    assert not any(4 in p for p in pairs)  # unrelated never pairs


def test_minhash_signature_deterministic(planted):
    s1 = minhash_signatures(planted).orderBy("doc_id").collect()
    s2 = minhash_signatures(planted).orderBy("doc_id").collect()
    assert [r.sig for r in s1] == [r.sig for r in s2]
    # identical docs → identical signatures
    assert s1[0].sig == s1[1].sig


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_simhash_hamming_behavior(planted):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(planted).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical simhash
    assert hamming(sigs[1], sigs[3]) <= 12  # one-token edit → few bits flip
    assert hamming(sigs[1], sigs[4]) > 12  # unrelated text → far


def test_connected_components_known_graph(spark):
    """Two components + an isolated node, with a chain to force multiple
    propagation rounds."""
    from orca_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    # component {1,2,3,4} as a chain (diameter 3), component {5,6}, isolated 7, 8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_minhash_includes_short_documents(spark):
    """Docs shorter than the shingle width fall back to token-set
    signatures instead of silently dropping out of candidacy."""
    d = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "totally different pair here")],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_near_dup_pairs(d, threshold=0.9).collect()
    }
    assert pairs == {(1, 2): 1.0}


def test_simhash_pairs_exact_vs_bruteforce(planted):
    """The chunk-bucketed pair query must equal brute-force hamming<=3
    over the signatures (pigeonhole guarantees exactness for k<=3)."""
    from orca_spark.operators.dedup2 import simhash_pairs

    sigs = {r.doc_id: r.simhash for r in simhash_signatures(planted).collect()}
    ids = sorted(sigs)
    want = {
        (a, b): hamming(sigs[a], sigs[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if hamming(sigs[a], sigs[b]) <= 3
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(simhash_signatures(planted)).collect()
    }
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 0  # identical docs pair at distance 0


def test_cc_minhash_edges_equal_exact_edges(spark):
    """The registered clustering (MinHash+LSH edge source, n=1 shingles)
    must produce the same clusters as exact all-pairs edges on the real
    corpus — the LSH stage only prunes, recall is 1 at j>=0.9."""
    from tests.conftest import SF_DIR
    from orca_spark.operators.dedup import (
        connected_components,
        dedup_connected_components,
        dedup_jaccard_exact,
    )
    from orca_spark.tables import load

    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup_connected_components(spark, SF_DIR).collect()
    }
    d = load(spark, SF_DIR, "documents")
    exact_edges = dedup_jaccard_exact(spark, SF_DIR).select("doc_a", "doc_b")
    want = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(d.select("doc_id"), exact_edges).collect()
    }
    assert got == want


def test_connected_components_nonconvergence_raises(spark):
    from orca_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long"
    )
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k, None) for k in keys}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, chain, max_iter=2)
    # the loop's scoped width and AQE setting are restored on the raise
    assert {k: spark.conf.get(k, None) for k in keys} == before


def test_multimodal_decode_plumbing(spark):
    """Arrow-batched decode stub: schema + deterministic fake features."""
    from orca_spark.operators.multimodal import attach_payload, decode_images

    df = spark.createDataFrame([(1, "abcd"), (2, "xy")], "doc_id long, text string")
    out = decode_images(attach_payload(df)).orderBy("doc_id").collect()
    assert [f.name for f in decode_images(attach_payload(df)).schema.fields] == [
        "doc_id", "n_bytes", "width", "height", "n_channels", "feature_mean",
    ]
    assert out[0].n_bytes == 4 and out[1].n_bytes == 2
    assert out[0].width == 5 and out[0].height == 5  # len % 640 + 1, len % 480 + 1
    assert out[0].n_channels == 3


def test_winnowing_shared_run_guarantee(spark):
    """Winnowing's core property (SIGMOD'03): two documents sharing a
    token run of length >= n + w - 1 + (w - 1) grams must share at least
    one fingerprint, and unrelated texts share none."""
    from orca_spark.operators.text3 import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"intro words {shared} tail one"),
            (2, f"other prefix {shared} different ending"),
            (3, "completely unrelated tokens nothing in common here at all"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs).collect()
    by_doc = {i: {r.fp for r in fps if r.doc_id == i} for i in (1, 2, 3)}
    assert by_doc[1] & by_doc[2], "long shared run must yield a shared fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_short_doc_keeps_one_fingerprint(spark):
    from orca_spark.operators.text3 import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "just three tokens"), (2, "ab"), (3, "four little tokens here")],
        "doc_id long, text string",
    )
    rows = winnowing_fingerprints(docs).collect()
    per_doc = {i: [r for r in rows if r.doc_id == i] for i in (1, 2, 3)}
    assert len(per_doc[1]) == 1  # one gram -> one fingerprint
    assert len(per_doc[2]) == 0  # < n tokens: no grams (token-set paths cover it)
    assert len(per_doc[3]) >= 1


def test_rep_pairs_adaptive_bitmask_at_vocab_64(spark):
    """Exactly 64 distinct tokens exercises bit 63 (the sign bit of the
    long mask): planted near-identical sets must still pair, and the
    pair set must equal the brute-force one."""
    import itertools

    from pyspark.sql import functions as F

    from orca_spark.operators.dedup import _rep_pairs_adaptive

    vocab = [f"w{i:02d}" for i in range(64)]
    docs = []
    # doc 0/1: differ by one token of 40 (J = 39/41 ≈ 0.95); doc 2: disjointish
    docs.append((0, " ".join(vocab[:40])))
    docs.append((1, " ".join(vocab[1:41])))
    docs.append((2, " ".join(vocab[20:])))
    d = spark.createDataFrame(docs, "doc_id long, text string")
    reps = d.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(F.transform(F.split("text", " "), lambda t: F.xxhash64(t)))
        ).alias("ts"),
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in _rep_pairs_adaptive(reps, threshold=0.9).collect()
    }
    sets = {i: set(t.split(" ")) for i, t in docs}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter / len(sets[a] | sets[b]) >= 0.9:
            want.add((a, b))
    assert got == want and (0, 1) in got


def test_rep_pairs_adaptive_fallback_above_64_vocab(spark):
    """65+ distinct tokens must take the MinHash fallback and still find
    the planted high-Jaccard pair."""
    from pyspark.sql import functions as F

    from orca_spark.operators.dedup import _rep_pairs_adaptive

    vocab = [f"tok{i:03d}" for i in range(80)]
    docs = [
        (0, " ".join(vocab[:40])),
        (1, " ".join(vocab[1:41])),   # J ≈ 0.95 vs doc 0
        (2, " ".join(vocab[40:])),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    reps = d.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(F.transform(F.split("text", " "), lambda t: F.xxhash64(t)))
        ).alias("ts"),
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in _rep_pairs_adaptive(reps, threshold=0.9).collect()
    }
    assert got == {(0, 1)}


def test_simhash_pairs_nonempty_on_standard_corpus(spark):
    """The registered simhash-pairs query ships rows-only to the driver
    (no oracle is possible for hamming buckets) — pin its behavior
    locally instead: the standard corpus' planted near-dups must surface
    as at least one hamming<=3 candidate pair, and every emitted pair's
    hamming must actually be <=3 when recomputed from the signatures."""
    from orca_spark.queries import queries
    from tests.conftest import SF_DIR

    q = queries()
    pairs = q["dedup_simhash_pairs"](spark, SF_DIR).collect()
    assert len(pairs) >= 1
    sigs = {r.doc_id: r.simhash for r in q["dedup_simhash"](spark, SF_DIR).collect()}
    for r in pairs:
        # signatures are signed 64-bit longs — mask before popcount
        ham = bin((sigs[r.doc_a] ^ sigs[r.doc_b]) & ((1 << 64) - 1)).count("1")
        assert ham <= 3, (r.doc_a, r.doc_b, ham)
