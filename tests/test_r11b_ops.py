"""Round-11 batch-3 operators: the paper-exact ExactSubstr span dedup
(within-doc repeats + keep-one canonical copy) and the int8
scalar-quantized similarity path. DuckDB value agreement is exercised
by tests/test_adversarial_corpus.py / test_sf01_oracle.py; these pin
the SEMANTICS directly on planted inputs."""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from orca_spark.queries import queries

_Q = queries()


def _write_docs(d, rows):
    """rows: (doc_id, text, lang, source)"""
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] else 0 for r in rows], pa.int64()
            ),
        }
    )
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def _write_embeddings(d, rows):
    """rows: (vec_id, embedding, label)"""
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(str(d), "embeddings.parquet"))
    return str(d)


def _md5_words(words):
    return hashlib.md5(" ".join(words).encode()).hexdigest()


# ---------------------------------------------------------------- text

_G = "a b c d e f g h".split()  # one 8-gram
_U1 = "u1 u2 u3 u4 u5 u6 u7 u8".split()
_U2 = "v1 v2 v3 v4 v5 v6 v7 v8".split()


def test_exactsubstr_scrubs_within_doc_repeat_keeping_first(spark, tmp_path):
    """The defining case the cross-doc form misses: one document whose
    8-gram repeats internally (separated so the two occurrences share
    no gram positions). The FIRST occurrence survives (canonical), the
    second is excised; no other document mentions the gram."""
    sep = [f"s{i}" for i in range(8)]  # unique spacer, no dup grams
    words = _G + sep + _G
    sf = _write_docs(tmp_path, [(1, " ".join(words), "en", "web")])
    row = _Q["dedup_span_exactsubstr"](spark, sf).collect()[0]
    assert row.n_tokens == 24
    # spacer grams straddle the boundary: any 8-window other than the
    # two pure _G windows mixes spacer tokens and is unique — only the
    # SECOND pure occurrence (positions 17-24) is covered
    assert row.n_scrubbed == 8
    assert row.kept_md5 == _md5_words(_G + sep)

    # the cross-doc restriction keeps everything here (single doc)
    scrub = _Q["dedup_span_scrub"](spark, sf).collect()[0]
    assert scrub.n_scrubbed == 0


def test_exactsubstr_cross_doc_keeps_exactly_one_copy(spark, tmp_path):
    """Three docs share a gram: the lowest (doc_id, position) copy
    survives, the other two are scrubbed — vs dedup_span_scrub which
    excises all three."""
    sf = _write_docs(
        tmp_path,
        [
            (1, " ".join(_U1 + _G), "en", "web"),   # gram at pos 9 — NOT canonical vs doc 1? pk order: (1,9)
            (2, " ".join(_G + _U2), "en", "web"),   # gram at pos 1 — pk (2,1) > (1,9)
            (3, " ".join(_G), "en", "web"),
        ],
    )
    rows = {r.doc_id: r for r in _Q["dedup_span_exactsubstr"](spark, sf).collect()}
    # canonical = min pk = doc 1 (its gram starts at position 9; doc_id
    # dominates the packed key, so doc 1 wins regardless of position)
    assert rows[1].n_scrubbed == 0
    assert rows[1].kept_md5 == _md5_words(_U1 + _G)
    assert rows[2].n_scrubbed == 8
    assert rows[2].kept_md5 == _md5_words(_U2)
    assert rows[3].n_scrubbed == 8
    assert rows[3].kept_md5 == _md5_words([])

    scrub = {r.doc_id: r for r in _Q["dedup_span_scrub"](spark, sf).collect()}
    assert [scrub[i].n_scrubbed for i in (1, 2, 3)] == [8, 8, 8]


def test_exactsubstr_within_doc_canonical_is_first_position(spark, tmp_path):
    """Same doc, repeat at positions 1 and 17: position breaks the tie
    inside one doc_id — the position-1 copy survives."""
    sep = [f"t{i}" for i in range(8)]
    sf = _write_docs(tmp_path, [(7, " ".join(_G + sep + _G), "en", "web")])
    row = _Q["dedup_span_exactsubstr"](spark, sf).collect()[0]
    assert row.kept_md5 == _md5_words(_G + sep)


def test_exactsubstr_short_and_unique_docs_pass_through(spark, tmp_path):
    sf = _write_docs(
        tmp_path,
        [
            (1, "only seven words here no gram", "en", "web"),
            (2, " ".join(_U1), "en", "web"),
        ],
    )
    rows = {r.doc_id: r for r in _Q["dedup_span_exactsubstr"](spark, sf).collect()}
    assert rows[1].n_scrubbed == 0 and rows[1].scrubbed_ppm == 0
    assert rows[2].n_scrubbed == 0
    assert rows[2].kept_md5 == _md5_words(_U1)


def test_span_coverage_counts_grams_shared_across_docs(spark, tmp_path):
    """dedup_span_coverage counts a gram position as duplicated only when
    its gram occurs in another DOCUMENT: a gram shared by two docs
    counts in both, a within-doc repeat does not (nd counts distinct
    docs), docs under 8 tokens are omitted, and the empty tokens of
    double spaces are dropped before the grams are cut."""
    rep = "p1 p2 p3 p4 p5 p6 p7 p8".split()
    sf = _write_docs(
        tmp_path,
        [
            # 11 tokens once the double space's empty token is dropped:
            # 4 grams, the one at position 3 is _G
            (1, "x1  x2 " + " ".join(_G) + " y1", "en", "web"),
            (2, " ".join(_G) + " z1", "en", "web"),  # 2 grams, first is _G
            (3, " ".join(rep + rep), "en", "web"),  # repeat inside one doc
            (4, "short doc here", "en", "web"),
            # 8 split pieces but 7 tokens: no gram once empties drop
            (5, "q1 q2 q3  q4 q5 q6 q7", "en", "web"),
        ],
    )
    rows = {
        r.doc_id: (r.n_spans, r.dup_spans, r.dup_frac)
        for r in _Q["dedup_span_coverage"](spark, sf).collect()
    }
    assert rows == {1: (4, 1, 0.25), 2: (2, 1, 0.5), 3: (9, 0, 0.0)}


# ---------------------------------------------------------- similarity


def _unit(vec):
    v = np.asarray(vec, dtype=np.float64)
    return (v / np.linalg.norm(v)).astype(np.float32).tolist()


def test_sq8_codes_match_numpy_and_stay_in_int8_range(spark, tmp_path):
    """The quantizer's exact contract: floor(x*127/amax + 0.5) per
    element, codes within [-127, 127]."""
    from orca_spark.operators.similarity import load_embeddings
    from orca_spark.operators.similarity5 import sq8_quantize

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(20, 64)).astype(np.float32)
    sf = _write_embeddings(
        tmp_path, [(i, vecs[i].tolist(), 0) for i in range(20)]
    )
    out = {
        r.vec_id: np.array(r.q)
        for r in sq8_quantize(load_embeddings(spark, sf)).collect()
    }
    for i in range(20):
        x = vecs[i].astype(np.float64)
        amax = np.abs(x).max()
        expect = np.floor(x * 127.0 / amax + 0.5)
        assert (out[i] == expect).all(), f"vec {i} codes diverge"
        assert np.abs(out[i]).max() <= 127


def test_sq8_topk_recall_vs_brute_on_clustered_corpus(spark, tmp_path):
    """On a corpus with genuine neighborhood structure, int8 cosine
    must preserve the brute-force top-5 almost perfectly (the planted
    gaps are orders of magnitude above 1/127 quantization noise)."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 64))
    rows = []
    for i in range(40):
        c = centers[i % 4]
        rows.append((i, _unit(c + 0.05 * rng.normal(size=64)), i % 4))
    sf = _write_embeddings(tmp_path, rows)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in _Q["similarity_brute_topk"](spark, sf).collect()
    }
    sq8 = {
        (r.query_id, r.neighbor_id)
        for r in _Q["similarity_sq8_topk"](spark, sf).collect()
    }
    assert len(brute) == len(sq8) > 0
    recall = len(brute & sq8) / len(brute)
    assert recall >= 0.9, f"sq8 top-k recall {recall} below floor"


def test_sq8_identical_vectors_score_exactly_one(spark, tmp_path):
    """Two identical vectors quantize identically, so their quantized
    cosine is exactly 1.0 — no float smear allowed in the integer
    domain."""
    v = _unit(np.arange(1, 65))
    w = _unit(np.cos(np.arange(64) + 0.5))
    sf = _write_embeddings(
        tmp_path, [(0, v, 0), (11, v, 0), (12, w, 1), (13, w, 1)]
    )
    got = {
        r.neighbor_id: r.cosine_q
        for r in _Q["similarity_sq8_topk"](spark, sf).collect()
        if r.query_id == 0
    }
    assert got[11] == 1.0
    assert got[12] == got[13] != 1.0


# ------------------------------------------------------- compositions


def test_sq8_recall_audit_perfect_on_well_separated_corpus(spark, tmp_path):
    """Widely separated vectors: quantization noise (~1e-3) cannot
    reorder a top-5 whose margins are ~0.5, so the audit must report
    recall_ppm = 1_000_000 for every query."""
    rng = np.random.default_rng(3)
    # 5 ORTHOGONAL cluster centers, 6 members each: every query's top-5
    # is its 5 cluster-mates at cosine ~0.999 vs ~0 cross-cluster — the
    # rank-5/rank-6 margin is ~1, unreachable by 1/127 quantization
    # noise, so SET recall must be perfect (within-set rank may swap,
    # which the audit correctly ignores)
    base = np.linalg.qr(rng.normal(size=(64, 5)))[0].T
    rows = [(i, _unit(base[i % 5] + 0.02 * rng.normal(size=64)), i % 5)
            for i in range(30)]
    sf = _write_embeddings(tmp_path, rows)
    out = {r.query_id: r for r in
           _Q["similarity_sq8_recall_audit"](spark, sf).collect()}
    assert set(out) == set(range(10))
    for qid, r in out.items():
        assert r.n_brute == 5
        assert r.recall_ppm == 1_000_000, (qid, r)


def test_sq8_recall_audit_accounts_overlap_not_rank(spark, tmp_path):
    """The audit counts SET overlap — a rank swap inside the top-k must
    not reduce recall. Hard to plant a guaranteed swap, so assert the
    invariant directly: n_overlap equals the recomputed intersection of
    the two top-k sets."""
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 64))
    rows = [(i, _unit(centers[i % 4] + 0.1 * rng.normal(size=64)), i % 4)
            for i in range(40)]
    sf = _write_embeddings(tmp_path, rows)
    brute = {}
    for r in _Q["similarity_brute_topk"](spark, sf).collect():
        brute.setdefault(r.query_id, set()).add(r.neighbor_id)
    sq8 = {}
    for r in _Q["similarity_sq8_topk"](spark, sf).collect():
        sq8.setdefault(r.query_id, set()).add(r.neighbor_id)
    audit = {r.query_id: r for r in
             _Q["similarity_sq8_recall_audit"](spark, sf).collect()}
    for qid, r in audit.items():
        assert r.n_overlap == len(brute[qid] & sq8.get(qid, set())), qid
        assert r.recall_ppm == r.n_overlap * 1_000_000 // r.n_brute


def test_selfrepeat_profile_splits_policy_mass_by_source(spark, tmp_path):
    """One source holds a self-repeating doc (positive keepone_delta:
    the paper form scrubs mass the cross-doc form keeps), the other a
    cross-doc duplicate pair (negative delta: keep-one retains the
    canonical copy the cross-doc form removes)."""
    sep = [f"s{i}" for i in range(8)]
    w = [f"w{i}" for i in range(8)]  # source A's OWN gram — must not
    # collide with source B's, or the cross-doc policy scrubs A too
    sf = _write_docs(
        tmp_path,
        [
            # source A: within-doc repeat — crossdoc scrubs 0, paper 8
            (1, " ".join(w + sep + w), "en", "A"),
            # source B: cross-doc pair — crossdoc scrubs 8+8, paper
            # keeps the doc-2 canonical copy and scrubs only doc 3
            (2, " ".join(_G), "en", "B"),
            (3, " ".join(_G), "en", "B"),
        ],
    )
    out = {r.source: r for r in
           _Q["corpus_selfrepeat_profile"](spark, sf).collect()}
    a, b = out["A"], out["B"]
    assert (a.n_docs, a.n_tokens) == (1, 24)
    assert (a.crossdoc_scrubbed, a.exactsubstr_scrubbed) == (0, 8)
    assert a.keepone_delta == 8  # self-repeat mass the cross-doc form missed
    assert (b.n_docs, b.n_tokens) == (2, 16)
    assert (b.crossdoc_scrubbed, b.exactsubstr_scrubbed) == (16, 8)
    assert b.keepone_delta == -8  # canonical copy the cross-doc form over-removed
