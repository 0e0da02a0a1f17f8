"""Behavioral pins for the round-7 operators, on planted inputs where
the expected answer is computable by hand (the oracle suite covers the
cross-engine agreement; these pin the SEMANTICS)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orca_spark.queries import queries


def _write_docs(d, rows):
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1] or "") for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_sequence_pack_conserves_tokens_and_orders_blocks(spark, tmp_path):
    # 4 docs x 1000 tokens in one shard under BLOCK=2048: docs 1-3 START
    # in block 0 (cumulative offsets 0/1000/2000 all < 2048; doc 3
    # straddles the boundary), doc 4 (offset 3000) starts in block 1
    rows = [(i, " ".join(["tok"] * 1000), "en", "s0") for i in (1, 2, 3, 4)]
    d = _write_docs(tmp_path, rows)
    out = {r.block_id: r for r in queries()["corpus_sequence_pack"](spark, d).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_docs == 3 and out[0].n_tokens == 3000
    assert out[1].n_docs == 1 and out[1].n_tokens == 1000
    assert out[0].fill_pct == 3000 * 100 // 2048  # straddler pushes past 100
    # conservation: every doc's tokens land in exactly one block
    assert sum(r.n_tokens for r in out.values()) == 4000


def test_chunk_windows_cover_every_token_exactly_ceil(spark, tmp_path):
    # 70 tokens, width 64, stride 32 -> chunks at 0 (len 64) and 32 (len 38)
    d = _write_docs(tmp_path, [(1, " ".join(["t"] * 70), "en", "s0")])
    got = sorted(
        (r.chunk_id, r.start_tok, r.len_tok)
        for r in queries()["corpus_chunk_windows"](spark, d).collect()
    )
    assert got == [(0, 0, 64), (1, 32, 38)]
    # short doc: one clipped chunk
    # rewritten in place: the memoized relation must notice on its own
    d2 = _write_docs(tmp_path, [(1, "a b c", "en", "s0")])
    got2 = [
        (r.chunk_id, r.start_tok, r.len_tok)
        for r in queries()["corpus_chunk_windows"](spark, d2).collect()
    ]
    assert got2 == [(0, 0, 3)]


def test_triangle_census_on_planted_clique(spark, tmp_path):
    # 4 identical docs = K4 (every pair jaccard 1): C(4,3)=4 triangles,
    # 6 edges, 12 wedges, clustering 1.0
    rows = [(i, "alpha beta gamma delta", "en", "s0") for i in range(4)]
    # plus an isolated doc that joins nothing
    rows.append((9, "zeta eta theta iota kappa", "en", "s0"))
    d = _write_docs(tmp_path, rows)
    r = queries()["graph_triangle_census"](spark, d).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.wedges) == (4, 6, 4, 12)
    assert r.clustering == 1.0


def test_burst_detection_flags_planted_burst(spark, tmp_path):
    import pandas as pd

    base = pd.Timestamp("2024-01-01")
    rows = []
    eid = 0
    # 23 calm hours of 10 events + one 300-event burst hour
    for h in range(24):
        n = 300 if h == 12 else 10
        for _ in range(n):
            rows.append((eid, base + pd.Timedelta(hours=h, minutes=1), 1, "click", 1.0, "{}"))
            eid += 1
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "events.parquet"))
    got = queries()["events_burst_hours"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert got[0].cnt == 300 and got[0].hour.hour == 12
    assert got[0].zscore > 4


def test_survivors_weighted_mass(spark, tmp_path):
    rows = [(1, "dup text", "en", "s0"), (2, "dup text", "en", "s0"),
            (3, "dup text", "en", "s0"), (4, "unique one", "en", "s0")]
    d = _write_docs(tmp_path, rows)
    got = {r.doc_id: r for r in queries()["dedup_survivors_weighted"](spark, d).collect()}
    assert set(got) == {1, 4}
    assert got[1].n_copies == 3 and got[1].mass_ppm == 3_000_000 // 4
    assert got[4].n_copies == 1 and got[4].mass_ppm == 250_000


def test_source_kl_zero_for_identical_distributions(spark, tmp_path):
    # two sources with the SAME unigram distribution -> KL 0 for both;
    # a third with disjoint vocabulary -> strictly positive
    rows = [
        (1, "a a b", "en", "s0"),
        (2, "a a b", "en", "s1"),
        (3, "zzz zzz qqq", "en", "s2"),
    ]
    d = _write_docs(tmp_path, rows)
    got = {r.source: r for r in queries()["source_unigram_kl"](spark, d).collect()}
    # s0/s1 each differ from the corpus mix (which includes s2 mass), so
    # not zero — but they must be EQUAL to each other and below s2
    assert got["s0"].kl_nats == got["s1"].kl_nats
    assert got["s2"].kl_nats > got["s0"].kl_nats > 0


def test_ngram_novelty_planted(spark, tmp_path):
    rows = [
        (1, "a b c d", "en", "shared1"),   # grams: "a b c", "b c d"
        (2, "a b c d", "en", "shared2"),   # same grams -> 0 novelty both
        (3, "x y z w", "en", "unique"),    # grams nobody else has
    ]
    d = _write_docs(tmp_path, rows)
    got = {r.source: r for r in queries()["source_ngram_novelty"](spark, d).collect()}
    assert got["shared1"].novelty_ppm == 0 and got["shared2"].novelty_ppm == 0
    assert got["unique"].novelty_ppm == 1_000_000
    assert got["unique"].n_grams == 2 and got["unique"].n_novel == 2


def test_truncation_fidelity_zero_when_tail_is_zero(spark, tmp_path):
    """Vectors whose mass lives entirely in the first 16 dims must show
    zero truncation error at every width."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = []
    for i in range(40):
        v = np.zeros(64, dtype=np.float32)
        v[:16] = rng.normal(size=16).astype(np.float32)
        vecs.append((i, [float(x) for x in v], 0))
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([v[2] for v in vecs], pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "embeddings.parquet"))
    got = queries()["embedding_dim_truncation_fidelity"](spark, str(tmp_path)).collect()
    assert {r.width for r in got} == {16, 32, 48}
    for r in got:
        assert r.mean_abs_err == 0.0 and r.flip_ppm == 0, r


def test_chunk_dedup_index_planted(spark, tmp_path):
    """Two docs sharing identical text chunk identically; every shared
    chunk survives exactly once with the minimal owner and copy count 2;
    a unique doc's chunks survive with count 1."""
    shared = " ".join(f"t{i}" for i in range(70))  # 2 chunks (0, 32)
    rows = [(1, shared, "en", "s0"), (2, shared, "en", "s0"),
            (3, "completely different words here", "en", "s0")]
    d = _write_docs(tmp_path, rows)
    got = queries()["pipeline_chunk_dedup_index"](spark, d).collect()
    by_owner = {}
    for r in got:
        by_owner.setdefault(r.doc_id, []).append(r)
    assert set(by_owner) == {1, 3}  # doc 2's chunks deduped away
    assert sorted(r.chunk_id for r in by_owner[1]) == [0, 1]
    assert all(r.n_copies == 2 for r in by_owner[1])
    assert len(by_owner[3]) == 1 and by_owner[3][0].n_copies == 1
    assert by_owner[3][0].len_tok == 4
