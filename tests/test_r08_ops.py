"""Behavioral pins for the round-8 operators on planted inputs with
hand-computable answers (the oracle suite covers cross-engine
agreement; these pin the SEMANTICS)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from orca_spark.queries import queries


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


def test_rag_corpus_dedups_chunks_and_ranks_by_coverage(spark, tmp_path):
    # docs 1 and 2 are identical 10-token texts -> ONE surviving chunk
    # (owner = doc 1, n_copies 2); doc 3 is distinct (n_copies 1); doc 4
    # has NULL lang -> excluded by the embed-join stage. Coverage rank
    # puts the 2-copy chunk first; cumulative tokens 10 then 20, both
    # far under the 4096 budget.
    shared = " ".join(f"w{i}" for i in range(10))
    distinct = " ".join(f"x{i}" for i in range(10))
    _write_docs(
        tmp_path,
        [
            (1, shared, "en", "s"),
            (2, shared, "en", "s"),
            (3, distinct, "en", "s"),
            (4, " ".join(f"y{i}" for i in range(10)), None, "s"),
        ],
    )
    _write_embeddings(
        tmp_path,
        [(1, [1.0, 0.0], 7), (2, [0.0, 1.0], 8), (3, [1.0, 1.0], 9),
         (4, [0.5, 0.5], 4)],
    )
    rows = sorted(
        queries()["pipeline_rag_corpus"](spark, str(tmp_path)).collect(),
        key=lambda r: r.rnk,
    )
    assert [(r.doc_id, r.chunk_id, r.n_copies, r.owner_label, r.rnk,
             r.cum_tokens) for r in rows] == [
        (1, 0, 2, 7, 1, 10),
        (3, 0, 1, 9, 2, 20),
    ]
    assert all(r.lang == "en" for r in rows)
    assert rows[0].len_tok == 10 and rows[0].start_tok == 0


def test_rag_corpus_budget_is_a_hard_cut(spark, tmp_path):
    # 70 identical-lang docs of 64 tokens each, all distinct: 64 chunks
    # fill the 4096-token budget exactly; docs 65+ are straddlers/out.
    docs = [
        (i, " ".join(f"d{i}t{j}" for j in range(64)), "en", "s")
        for i in range(1, 71)
    ]
    _write_docs(tmp_path, docs)
    _write_embeddings(tmp_path, [(i, [1.0, 0.0], i) for i in range(1, 71)])
    rows = queries()["pipeline_rag_corpus"](spark, str(tmp_path)).collect()
    assert len(rows) == 64  # 4096 // 64, hard cut
    assert max(r.cum_tokens for r in rows) == 4096
    # all copies unique -> rank falls back to doc_id order
    assert sorted(r.doc_id for r in rows) == list(range(1, 65))


class _FakeListState:
    def __init__(self):
        self._rows, self._set = [], False

    def exists(self):
        return self._set

    def get(self):
        return iter(self._rows)

    def put(self, rows):
        self._rows, self._set = list(rows), True


class _FakeMapState:
    def __init__(self):
        self._m = {}

    def containsKey(self, k):
        return k in self._m

    def getValue(self, k):
        return self._m[k]

    def updateValue(self, k, v):
        self._m[k] = v

    def iterator(self):
        return iter(self._m.items())


class _FakeValueState:
    def __init__(self):
        self._v, self._set = None, False

    def exists(self):
        return self._set

    def get(self):
        return self._v

    def update(self, v):
        self._v, self._set = v, True


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getListState(self, name, schema):
        return self.states.setdefault(name, _FakeListState())

    def getMapState(self, name, kschema, vschema):
        return self.states.setdefault(name, _FakeMapState())

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _FakeValueState())


def test_tws_last_k_fold_trims_across_micro_batches():
    """The ListState buffer must stay at K rows no matter how arrivals
    split across micro-batches — including a later batch displacing an
    earlier batch's survivors (availableNow's single batch never
    exercises the carry-over path; this does)."""
    import pandas as pd

    from orca_spark.streaming.stateful import make_last_k_processor

    proc = make_last_k_processor()
    proc.init(_FakeHandle())
    b1 = pd.DataFrame({"event_id": [5, 1, 3], "value": [1.00, 2.00, 3.00]})
    out1 = list(proc.handleInputRows((7,), iter([b1]), None))[0]
    assert out1.loc[0, "n_kept"] == 3 and out1.loc[0, "max_event_id"] == 5
    assert out1.loc[0, "cents_kept"] == 600
    assert out1.loc[0, "n_seen"] == 3
    # batch 2: ids 10 and 4 displace 1 and 3; survivor set {10, 5, 4}
    b2 = pd.DataFrame({"event_id": [10, 4], "value": [0.50, 0.25]})
    out2 = list(proc.handleInputRows((7,), iter([b2]), None))[0]
    assert out2.loc[0, "max_event_id"] == 10
    assert out2.loc[0, "n_kept"] == 3
    assert out2.loc[0, "cents_kept"] == 50 + 100 + 25  # ids 10, 5, 4
    # the reducer's progress column is strictly monotonic even when
    # max_event_id would tie (the stale-row pick found in r08 review)
    assert out2.loc[0, "n_seen"] == 5
    # batch 3: id 7 displaces 4 — max_event_id TIES with batch 2 while
    # cents change; only n_seen distinguishes the final emission
    b3 = pd.DataFrame({"event_id": [7], "value": [9.00]})
    out3 = list(proc.handleInputRows((7,), iter([b3]), None))[0]
    assert out3.loc[0, "max_event_id"] == 10  # tie with out2
    assert out3.loc[0, "cents_kept"] == 50 + 100 + 900  # ids 10, 7, 5
    assert out3.loc[0, "n_seen"] == 6  # the only monotonic signal


def test_tws_cents_round_half_away_from_zero_like_sql():
    """Python round() / pandas .round() are banker's (half-to-even);
    SQL round() in Spark AND DuckDB is half away from zero. The TWS
    kernels fold cents in Python, so an exact-half value (0.125 * 100
    = 12.5, representable) diverged from the oracle before the r08
    review fix."""
    import pandas as pd

    from orca_spark.streaming.stateful import (
        cents_half_away,
        make_last_k_processor,
        make_timer_flush_processor,
    )

    def cents(v):
        return int(cents_half_away([v])[0])

    assert cents(0.125) == 13       # round() would give 12
    assert cents(-0.125) == -13     # away from zero, not up
    assert cents(0.124) == 12
    # duckdb-verified double-path cases: 2.675*100 is EXACTLY 267.5 in
    # binary (ties away -> 268), 1.005*100 is 100.49999999999999 (no
    # tie -> 100; floor(x+0.5)-style helpers can double-round here)
    assert cents(2.675) == 268
    assert cents(1.005) == 100

    # one call over a whole column gives the same per-value answers
    probe = [0.125, -0.125, 0.124, 2.675, 1.005, -7.25, 0.0, 1e10, -1e10]
    assert list(cents_half_away(probe)) == [
        13, -13, 12, 268, 100, -725, 0, 10**12, -(10**12)
    ]

    proc = make_last_k_processor()
    proc.init(_FakeHandle())
    b = pd.DataFrame({"event_id": [1], "value": [0.125]})
    out = list(proc.handleInputRows((1,), iter([b]), None))[0]
    assert out.loc[0, "cents_kept"] == 13

    class _Handle:
        def __init__(self):
            self.states, self.timers = {}, []

        def getValueState(self, name, schema):
            return self.states.setdefault(name, _FakeValueState())

        def registerTimer(self, ts):
            self.timers.append(ts)

    tproc = make_timer_flush_processor()
    tproc.init(_Handle())
    list(tproc.handleInputRows((1,), iter([pd.DataFrame({"value": [0.125, -0.125]})]), None))
    flushed = list(tproc.handleExpiredTimer((1,), None, None))[0]
    assert flushed.loc[0, "cents_total"] == 0  # 13 + (-13)


def test_tws_type_counts_fold_accumulates_across_micro_batches():
    import pandas as pd

    from orca_spark.streaming.stateful import make_type_count_processor

    proc = make_type_count_processor()
    proc.init(_FakeHandle())
    b1 = pd.DataFrame({"event_type": ["click", "click", "view"]})
    list(proc.handleInputRows((1,), iter([b1]), None))
    b2 = pd.DataFrame({"event_type": ["click", "purchase"]})
    out = list(proc.handleInputRows((1,), iter([b2]), None))[0]
    got = dict(zip(out["event_type"], out["n_events"]))
    assert got == {"click": 3, "view": 1, "purchase": 1}
    assert set(out["user_id"]) == {1}


def test_cusum_changepoint_finds_planted_level_shift(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    _H = 3_600_000_000
    _BASE = 1_700_000_000_000_000
    rows = []
    eid = 0
    # 1 event/hour for hours 0-5, 3/hour for hours 6-11: mean is 2, the
    # scaled CUSUM bottoms exactly at the last low-regime hour (idx 6,
    # h-offset 5): S*n = 12*6 - 6*24 = -72, strictly below both
    # neighbors (-60)
    for h in range(12):
        for _ in range(1 if h < 6 else 3):
            rows.append((eid, _BASE + h * _H, 1, "shift", 1.0))
            eid += 1
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "events.parquet"))
    got = queries()["events_cusum_changepoint"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.cp_idx, r.s_scaled, r.n_hours, r.total_events) == (6, -72, 12, 24)
    assert r.cp_hour == (_BASE // 1_000_000 // 3600) + 5


def test_gopher_rules_flag_planted_documents(spark, tmp_path):
    good = "the quick brown fox jumps over that lazy dog and friends " * 6
    bullets = "\n".join("- item" for _ in range(10))
    short = "the end"
    _write_docs(
        tmp_path, [(1, good.strip(), "en", "s"), (2, bullets, "en", "s"),
                   (3, short, "en", "s")]
    )
    got = {r.doc_id: r for r in
           queries()["text_gopher_quality_rules"](spark, str(tmp_path)).collect()}
    assert got[1].keep is True
    assert got[1].n_words == 66 and got[1].n_stopword_hits >= 2
    assert got[2].keep is False and got[2].bullet_ppm == 1_000_000
    assert got[3].keep is False and got[3].n_words == 2


def test_compression_ratio_orders_repetition_below_noise(spark, tmp_path):
    import random

    rng = random.Random(7)
    rep = "abcdef " * 500
    noise = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(3500))
    _write_docs(tmp_path, [(1, rep, "en", "s"), (2, noise, "en", "s")])
    got = {r.doc_id: r for r in
           queries()["text_compression_ratio"](spark, str(tmp_path)).collect()}
    assert got[1].ratio_ppm < got[2].ratio_ppm
    assert got[1].ratio_ppm < 100_000  # repetition crushes
    assert got[2].ratio_ppm > 500_000  # noise barely compresses
    assert got[1].raw_bytes == len(rep.encode())
    # kernel determinism: the registered map is a pure function
    import pandas as pd

    from orca_spark.operators.text_quality import _compress_batches

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [rep, noise]})
    a = next(_compress_batches(iter([pdf])))
    b = next(_compress_batches(iter([pdf])))
    assert a.equals(b)


def test_dimension_profile_planted_moments(spark, tmp_path):
    _write_docs(tmp_path, [(1, "x", "en", "s")])
    _write_embeddings(
        tmp_path, [(1, [1.0, -2.0], 0), (2, [3.0, 0.0], 1)]
    )
    got = {r.dim: r for r in
           queries()["embedding_dimension_profile"](spark, str(tmp_path)).collect()}
    assert set(got) == {0, 1}
    d0, d1 = got[0], got[1]
    assert (d0.n, d0.n_neg, d0.n_zero) == (2, 0, 0)
    assert (d0.min_v, d0.max_v, d0.mean_v, d0.var_v) == (1.0, 3.0, 2.0, 1.0)
    assert (d1.n, d1.n_neg, d1.n_zero) == (2, 1, 1)
    assert (d1.mean_v, d1.var_v) == (-1.0, 1.0)


def _write_orders_customers(d, orders, customers):
    """orders: (o_orderkey, o_custkey, ts_us); customers: (c_custkey, c_nationkey)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
            "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(orders), pa.string()),
            "o_totalprice": pa.array([100.0] * len(orders), pa.float64()),
            "o_orderdate": pa.array([o[2] for o in orders], pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * len(orders), pa.string()),
        }
    )
    pq.write_table(t, os.path.join(str(d), "orders.parquet"))
    c = pa.table(
        {
            "c_custkey": pa.array([x[0] for x in customers], pa.int64()),
            "c_name": pa.array(["c"] * len(customers), pa.string()),
            "c_nationkey": pa.array([x[1] for x in customers], pa.int32()),
            "c_acctbal": pa.array([0.0] * len(customers), pa.float64()),
            "c_mktsegment": pa.array(["BUILDING"] * len(customers), pa.string()),
        }
    )
    pq.write_table(c, os.path.join(str(d), "customer.parquet"))
    return str(d)


_DAY_US = 86_400_000_000
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def test_interval_overlap_counts_concurrent_orders(spark, tmp_path):
    # cust 1: orders on day 0, day 10 (30d windows overlap), day 100
    # (disjoint) -> 3 orders, exactly 1 overlapping pair; cust 2 has a
    # single order -> no pair row at all
    _write_orders_customers(
        tmp_path,
        [
            (1, 1, _EPOCH_2024),
            (2, 1, _EPOCH_2024 + 10 * _DAY_US),
            (3, 1, _EPOCH_2024 + 100 * _DAY_US),
            (4, 2, _EPOCH_2024),
        ],
        [(1, 0), (2, 0)],
    )
    rows = queries()["orders_interval_overlap_pairs"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert (rows[0].o_custkey, rows[0].n_orders, rows[0].n_overlap_pairs) == (1, 3, 1)


def test_running_distinct_first_seen_rewrite(spark, tmp_path):
    # nation 0: cust 1 orders in Jan and Feb, cust 2 first orders in Feb
    _write_orders_customers(
        tmp_path,
        [
            (1, 1, _EPOCH_2024),
            (2, 1, _EPOCH_2024 + 40 * _DAY_US),
            (3, 2, _EPOCH_2024 + 41 * _DAY_US),
        ],
        [(1, 0), (2, 0)],
    )
    rows = {r.month: r for r in
            queries()["orders_running_distinct_customers"](spark, str(tmp_path)).collect()}
    jan, feb = rows["2024-01"], rows["2024-02"]
    assert (jan.active_customers, jan.new_customers, jan.cumulative_distinct) == (1, 1, 1)
    assert (feb.active_customers, feb.new_customers, feb.cumulative_distinct) == (2, 1, 2)


def test_sqrt_mix_weights_integer_exact(spark, tmp_path):
    # en: s1 has 16 tokens (root 4), s2 has 4 (root 2) -> 666666/333333
    _write_docs(
        tmp_path,
        [
            (1, " ".join(["w"] * 16), "en", "s1"),
            (2, " ".join(["w"] * 4), "en", "s2"),
        ],
    )
    rows = {r.source: r for r in
            queries()["corpus_sqrt_mix_weights"](spark, str(tmp_path)).collect()}
    assert (rows["s1"].root, rows["s2"].root) == (4, 2)
    assert (rows["s1"].weight_ppm, rows["s2"].weight_ppm) == (666666, 333333)


def test_recursive_paths_bounded_expansion(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    _H = 3_600_000_000
    # one user: view -> click -> purchase; edges {view>click,
    # click>purchase}; depth<=3 paths: the 2 edges + view>click>purchase
    rows = [
        (1, _EPOCH_2024 + 0 * _H, 1, "view", 1.0),
        (2, _EPOCH_2024 + 1 * _H, 1, "click", 1.0),
        (3, _EPOCH_2024 + 2 * _H, 1, "purchase", 1.0),
    ]
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(t, os.path.join(str(tmp_path), "events.parquet"))
    got = {r.path: r.depth for r in
           queries()["sql_recursive_type_paths"](spark, str(tmp_path)).collect()}
    assert got == {"view>click": 1, "click>purchase": 1, "view>click>purchase": 2}


def test_null_safe_join_keeps_null_lang_cohort(spark, tmp_path):
    _write_docs(
        tmp_path,
        [(1, "a", "en", "s"), (2, "b", "en", "s"), (3, "c", None, "s")],
    )
    rows = {r.doc_id: r for r in
            queries()["join_null_safe_eq"](spark, str(tmp_path)).collect()}
    assert len(rows) == 3  # the NULL-lang doc is NOT dropped
    assert rows[1].lang_n_docs == 2
    assert rows[3].lang is None and rows[3].lang_n_docs == 1


def test_benford_digits_from_cents_strings(spark, tmp_path):
    # totals 1.00, 10.00, 19.99, 25.00 -> cents 100, 1000, 1999, 2500
    # -> leading digits 1,1,1,2
    _write_orders_customers(
        tmp_path,
        [(1, 1, _EPOCH_2024), (2, 1, _EPOCH_2024), (3, 1, _EPOCH_2024),
         (4, 1, _EPOCH_2024)],
        [(1, 0)],
    )
    import pyarrow.parquet as pq_
    import pyarrow as pa_

    t = pq_.read_table(os.path.join(str(tmp_path), "orders.parquet"))
    t = t.set_column(
        t.schema.get_field_index("o_totalprice"),
        "o_totalprice",
        pa_.array([1.00, 10.00, 19.99, 25.00], pa_.float64()),
    )
    pq_.write_table(t, os.path.join(str(tmp_path), "orders.parquet"))
    got = {r.digit: r for r in
           queries()["orders_benford_deviation"](spark, str(tmp_path)).collect()}
    assert got[1].n == 3 and got[2].n == 1
    assert got[1].obs_ppm == 750000 and got[2].obs_ppm == 250000
    assert got[1].exp_ppm == 301029  # int(log10(2) * 1e6)


def test_phash_identity_perturbation_and_separation(spark, tmp_path):
    # docs 1 and 2 share text -> identical tiles -> hamming 0 pair;
    # doc 3 is unrelated -> no pair with 1/2 (independent md5 bytes:
    # expected hamming ~32, far above the 6 cutoff)
    _write_docs(
        tmp_path,
        [(1, "the same text", "en", "s"), (2, "the same text", "en", "s"),
         (3, "completely different words here", "en", "s")],
    )
    rows = queries()["multimodal_phash_neardup"](spark, str(tmp_path)).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in rows] == [(1, 2, 0)]


def test_phash_kernel_locality():
    """A 1-byte tile perturbation must move few hash bits (locality),
    and the kernel must be deterministic."""
    import numpy as np

    from orca_spark.operators.multimodal4 import phash64

    rng = np.random.RandomState(11)
    tile = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    h1 = phash64(tile)
    assert h1 == phash64(tile.copy())
    bumped = tile.copy()
    bumped[3, 4] = (int(bumped[3, 4]) + 8) % 256
    h2 = phash64(bumped)
    assert bin((h1 ^ h2) & ((1 << 64) - 1)).count("1") <= 16


def test_dynamic_gap_sessions_split_by_type_timeout(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    _M = 60_000_000  # one minute in µs
    # user 1: click@0 opens [0, 5m); view@3m falls inside and EXTENDS
    # the session to 3m+30m = 33m (its own slow gap); click@40m is past
    # 33m -> new session [40m, 45m). The per-event gap is what makes
    # the first session survive 33 minutes while the lone click's
    # would have closed at 5.
    rows = [
        (1, _EPOCH_2024 + 0 * _M, 1, "click", 1.0),
        (2, _EPOCH_2024 + 3 * _M, 1, "view", 1.0),
        (3, _EPOCH_2024 + 40 * _M, 1, "click", 1.0),
    ]
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(t, os.path.join(str(tmp_path), "events.parquet"))
    got = sorted(
        queries()["events_session_window_dynamic_gap"](spark, str(tmp_path)).collect(),
        key=lambda r: r.session_start_us,
    )
    assert [(r.n_events,
             (r.session_start_us - _EPOCH_2024) // _M,
             (r.session_end_us - _EPOCH_2024) // _M) for r in got] == [
        (2, 0, 33),
        (1, 40, 45),
    ]


def test_tws_timer_flush_fold_without_transport():
    """The timer processor's fold: silent data path, flush on expiry,
    state carried across micro-batches."""
    import pandas as pd

    from orca_spark.streaming.stateful import make_timer_flush_processor

    class _FakeValueState:
        def __init__(self):
            self._v, self._set = None, False

        def exists(self):
            return self._set

        def get(self):
            return self._v

        def update(self, v):
            self._v, self._set = v, True

    class _Handle:
        def __init__(self):
            self.states, self.timers = {}, []

        def getValueState(self, name, schema):
            return self.states.setdefault(name, _FakeValueState())

        def registerTimer(self, ts):
            self.timers.append(ts)

    proc = make_timer_flush_processor()
    h = _Handle()
    proc.init(h)
    b1 = pd.DataFrame({"value": [1.25, 2.50]})
    assert list(proc.handleInputRows((9,), iter([b1]), None)) == []  # silent
    b2 = pd.DataFrame({"value": [0.25]})
    assert list(proc.handleInputRows((9,), iter([b2]), None)) == []
    assert h.timers == [1, 1]  # re-armed each batch
    out = list(proc.handleExpiredTimer((9,), None, None))[0]
    assert (out.loc[0, "n_events"], out.loc[0, "cents_total"]) == (3, 400)


def test_dsir_importance_prefers_target_like_documents(spark, tmp_path):
    # Corpus: a:3 b:2 c:2 -> total_c=7, V=3. Target (src0) = doc 1
    # only: a:2 b:1 -> total_t=3. Add-1 weight(w) =
    # ln(((c_t+1)*(total_c+V)) / ((c_c+1)*(total_t+V))).
    import math

    _write_docs(
        tmp_path,
        [
            (1, "a a b", "en", "src0"),
            (2, "a b", "en", "web"),
            (3, "c c", "en", "web"),
        ],
    )
    rows = {
        r.doc_id: r
        for r in queries()["corpus_dsir_importance"](
            spark, str(tmp_path)
        ).collect()
    }
    w_a = math.log((3 * 10) / (4 * 6))
    w_b = math.log((2 * 10) / (3 * 6))
    w_c = math.log((1 * 10) / (3 * 6))
    assert rows[1].n_tokens == 3
    assert rows[1].dsir_logratio == round((2 * w_a + w_b) / 3, 4)
    assert rows[3].dsir_logratio == round(w_c, 4)
    # target-like docs score positive, off-target negative
    assert rows[1].dsir_logratio > 0 > rows[3].dsir_logratio


def test_ccnet_terciles_partition_each_language_by_score(spark, tmp_path):
    # 6 en docs -> terciles of 2; buckets must be score-ordered
    # (head = best = highest mean logprob) and exhaustive.
    _write_docs(
        tmp_path,
        [
            (1, "a a a a", "en", "s"),
            (2, "a a a b", "en", "s"),
            (3, "a a b b", "en", "s"),
            (4, "a b b c", "en", "s"),
            (5, "b c c d", "en", "s"),
            (6, "c d d e", "en", "s"),
        ],
    )
    rows = {
        r.bucket: r
        for r in queries()["corpus_ccnet_perplexity_buckets"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == {"head", "middle", "tail"}
    assert all(r.n_docs == 2 for r in rows.values())
    assert rows["head"].min_logprob >= rows["middle"].max_logprob
    assert rows["middle"].min_logprob >= rows["tail"].max_logprob


def test_inverted_index_postings_and_tie_break(spark, tmp_path):
    # x: tf (d1,2),(d2,1); y: (d1,1),(d2,2); t: (d1,1),(d2,1) tie ->
    # lowest doc_id wins; z appears in one doc -> df 1, filtered.
    _write_docs(
        tmp_path,
        [
            (1, "x x y t", "en", "s"),
            (2, "x y y t", "en", "s"),
            (3, "z", "en", "s"),
        ],
    )
    rows = {
        r.term: r
        for r in queries()["retrieval_inverted_index"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == {"x", "y", "t"}
    assert (rows["x"].df, rows["x"].cf, rows["x"].top_doc_id,
            rows["x"].top_tf) == (2, 3, 1, 2)
    assert (rows["y"].df, rows["y"].cf, rows["y"].top_doc_id,
            rows["y"].top_tf) == (2, 3, 2, 2)
    assert (rows["t"].df, rows["t"].cf, rows["t"].top_doc_id,
            rows["t"].top_tf) == (2, 2, 1, 1)


def _write_events_hours(d, rows):
    """rows: (event_id, hour_offset, event_type, n_in_hour spread as
    n separate events at distinct minutes)"""
    ids, ts, types = [], [], []
    eid = 0
    for hour_off, etype, n in rows:
        for k in range(n):
            ids.append(eid)
            ts.append(_EPOCH_2024 + hour_off * 3_600_000_000 + k * 60_000_000)
            types.append(etype)
            eid += 1
    t = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([1] * len(ids), pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array([1.0] * len(ids), pa.float64()),
            "props": pa.array(["{}"] * len(ids), pa.string()),
        }
    )
    pq.write_table(t, os.path.join(str(d), "events.parquet"))
    return str(d)


def test_theilsen_median_slope_resists_outlier_hour(spark, tmp_path):
    # type a: counts 1,2,3 over three hours -> every pairwise slope is
    # exactly 1/hr. type b: an outlier first hour (5) then flat 1s ->
    # OLS would report a strong negative trend; the Theil-Sen median of
    # the 6 pairwise slopes is avg(-4/3, 0) = -2/3 per hour.
    _write_events_hours(
        tmp_path,
        [(0, "a", 1), (1, "a", 2), (2, "a", 3),
         (0, "b", 5), (1, "b", 1), (2, "b", 1), (3, "b", 1)],
    )
    rows = {
        r.event_type: r
        for r in queries()["events_theilsen_trend"](spark, str(tmp_path)).collect()
    }
    assert (rows["a"].n_pairs, rows["a"].slope_fp) == (3, 65536)
    import math
    assert rows["b"].n_pairs == 6
    assert rows["b"].slope_fp == math.floor((-4 / 3 + 0) / 2 * 65536)  # -43691


def test_kaplan_meier_counts_censored_customers(spark, tmp_path):
    # cust 1 orders on days 0,10,20 (gaps 10,10; censored span 0);
    # cust 2 on days 0,5 (gap 5; censored 15); cust 3 on day 20 only
    # (censored 0 -- a 1-order customer still enters the risk set).
    # Event times: t=5 (n_risk 4 of 6 obs at risk) -> S=3/4;
    # t=10 (n_risk 3, d=2) -> S = 3/4 * 1/3 = 1/4.
    _write_orders_customers(
        tmp_path,
        [
            (1, 1, _EPOCH_2024),
            (2, 1, _EPOCH_2024 + 10 * _DAY_US),
            (3, 1, _EPOCH_2024 + 20 * _DAY_US),
            (4, 2, _EPOCH_2024),
            (5, 2, _EPOCH_2024 + 5 * _DAY_US),
            (6, 3, _EPOCH_2024 + 20 * _DAY_US),
        ],
        [(1, 0), (2, 0), (3, 0)],
    )
    rows = {
        r.t_days: r
        for r in queries()["orders_survival_km"](spark, str(tmp_path)).collect()
    }
    assert set(rows) == {5, 10}
    assert (rows[5].n_risk, rows[5].n_events, rows[5].n_censored) == (4, 1, 0)
    assert rows[5].survival_fp == 49152  # 0.75 * 2^16
    assert (rows[10].n_risk, rows[10].n_events) == (3, 2)
    assert rows[10].survival_fp == 16384  # 0.25 * 2^16


def test_c4_rules_keep_and_reject(spark, tmp_path):
    good = (
        "This is good. It has three sentences here today. "
        "And enough words per sentence overall."
    )
    _write_docs(
        tmp_path,
        [
            (1, good, "en", "s"),
            (2, "short. no. bad.", "en", "s"),          # wps < 5
            (3, "Lorem ipsum dolor sit amet. filler words here too. "
                "and this ends properly.", "en", "s"),  # lorem ipsum
            (4, "code { sample without terminal", "en", "s"),  # brace
            (5, "Enable JavaScript to view. second sentence is here. "
                "third one closes it out.", "en", "s"),  # javascript
            (6, "no terminal punctuation at all", "en", "s"),
        ],
    )
    rows = {
        r.doc_id: r
        for r in queries()["text_c4_filter_rules"](spark, str(tmp_path)).collect()
    }
    assert rows[1].keep
    assert (rows[1].n_sentences, rows[1].n_words, rows[1].wps_centi) == (3, 15, 500)
    assert not rows[2].keep and rows[2].wps_centi == 100
    assert not rows[3].keep and rows[3].has_lorem
    assert not rows[4].keep and rows[4].has_brace and not rows[4].ends_terminal
    assert not rows[5].keep and rows[5].has_javascript
    assert not rows[6].keep and rows[6].n_sentences == 1


def _write_q2_star(d):
    """Minimal star for q2: two EUROPE suppliers tie on part 1's min
    unit cost (both rows must survive); a cheaper AMERICA supplier must
    NOT win; part 2 fails the size/type filter."""
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([1, 1, 1, 1, 2], pa.int64()),
            "l_partkey": pa.array([1, 1, 1, 2, 1], pa.int64()),
            "l_suppkey": pa.array([10, 11, 12, 10, 10], pa.int64()),
            "l_linenumber": pa.array([1, 2, 3, 4, 1], pa.int32()),
            "l_quantity": pa.array([2.0, 4.0, 1.0, 1.0, 4.0], pa.float64()),
            "l_extendedprice": pa.array(
                [20.0, 40.0, 5.0, 7.0, 80.0], pa.float64()
            ),
            "l_discount": pa.array([0.0] * 5, pa.float64()),
            "l_tax": pa.array([0.0] * 5, pa.float64()),
            "l_returnflag": pa.array(["N"] * 5, pa.string()),
            "l_linestatus": pa.array(["O"] * 5, pa.string()),
            "l_shipdate": pa.array([_EPOCH_2024] * 5, pa.timestamp("us")),
        }),
        os.path.join(str(d), "lineitem.parquet"),
    )
    pq.write_table(
        pa.table({
            "p_partkey": pa.array([1, 2], pa.int64()),
            "p_name": pa.array(["brass widget", "odd part"], pa.string()),
            "p_brand": pa.array(["Brand#1"] * 2, pa.string()),
            "p_type": pa.array(["STANDARD", "STANDARD"], pa.string()),
            "p_size": pa.array([15, 50], pa.int32()),
            "p_retailprice": pa.array([1.0, 1.0], pa.float64()),
        }),
        os.path.join(str(d), "part.parquet"),
    )
    pq.write_table(
        pa.table({
            "s_suppkey": pa.array([10, 11, 12], pa.int64()),
            "s_name": pa.array(["eu-a", "eu-b", "us-c"], pa.string()),
            "s_nationkey": pa.array([1, 1, 2], pa.int32()),
            "s_acctbal": pa.array([100.0, 200.0, 300.0], pa.float64()),
        }),
        os.path.join(str(d), "supplier.parquet"),
    )
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array([1, 2], pa.int32()),
            "n_name": pa.array(["FRANCE", "BRAZIL"], pa.string()),
            "n_regionkey": pa.array([1, 2], pa.int32()),
        }),
        os.path.join(str(d), "nation.parquet"),
    )
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array([1, 2], pa.int32()),
            "r_name": pa.array(["EUROPE", "AMERICA"], pa.string()),
        }),
        os.path.join(str(d), "region.parquet"),
    )
    return str(d)


def test_q2_min_cost_ties_kept_region_enforced(spark, tmp_path):
    # part 1 unit costs: supp 10 -> min(10.0, 20.0) = 10.0, supp 11 ->
    # 10.0 (tie, BOTH kept), supp 12 (AMERICA, cost 5.0) excluded by
    # region BEFORE the min; part 2 excluded by the size filter.
    _write_q2_star(tmp_path)
    rows = sorted(
        queries()["q2_min_cost_supplier"](spark, str(tmp_path)).collect(),
        key=lambda r: r.supp_name,
    )
    assert [(r.partkey, r.supp_name, r.nation, r.unit_cost_fp) for r in rows] == [
        (1, "eu-a", "FRANCE", 10 * 65536),
        (1, "eu-b", "FRANCE", 10 * 65536),
    ]
    assert rows[0].acctbal == 100.0 and rows[1].acctbal == 200.0


def test_audio_features_planted_waveform(spark, tmp_path):
    # stub decode: UTF-8 bytes centered at 64. "K!" -> samples [11, -31]:
    # one zero crossing, energy 121+961=1082, peak 31, no silence
    # (|s| > 2 both), no clip. "@" -> [0]: zero sample counts as
    # silence, zero energy. "~~~~" -> [62]*4: every sample clipped
    # (>=60), no crossings.
    _write_docs(
        tmp_path,
        [(1, "K!", "en", "s"), (2, "@", "en", "s"), (3, "~~~~", "en", "s")],
    )
    rows = {
        r.doc_id: r
        for r in queries()["multimodal_audio_features"](
            spark, str(tmp_path)
        ).collect()
    }
    import math
    a = rows[1]
    assert (a.n_samples, a.energy, a.n_zero_cross, a.peak) == (2, 1082, 1, 31)
    assert a.rms_fp == math.floor(math.sqrt(1082 / 2) * 65536)
    assert (a.silence_ppm, a.n_clipped) == (0, 0)
    assert (rows[2].energy, rows[2].silence_ppm) == (0, 1_000_000)
    assert (rows[3].n_clipped, rows[3].n_zero_cross) == (4, 0)


def test_video_scene_cuts_planted_frames(spark, tmp_path):
    # 64 'a' + 64 'z': frame sums 64*97=6208, 64*122=7808 -> delta 1600
    # >= 512 -> one cut. 128 'a': delta 0 -> no cut. 63 bytes -> zero
    # whole frames.
    _write_docs(
        tmp_path,
        [
            (1, "a" * 64 + "z" * 64, "en", "s"),
            (2, "a" * 128, "en", "s"),
            (3, "a" * 63, "en", "s"),
        ],
    )
    rows = {
        r.doc_id: r
        for r in queries()["multimodal_video_scene_cuts"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (rows[1].n_frames, rows[1].n_cuts, rows[1].max_delta,
            rows[1].first_frame_sum) == (2, 1, 1600, 6208)
    assert (rows[2].n_frames, rows[2].n_cuts, rows[2].max_delta) == (2, 0, 0)
    assert rows[3].n_frames == 0


def test_chi2_uniform_table_has_zero_contributions(spark, tmp_path):
    # 2 segments x 2 nations, perfectly uniform -> expected == observed
    # == 1, contribution 0 everywhere; expected_fp = 1.0 * 2^16.
    _write_orders_customers(
        tmp_path,
        [(1, 1, _EPOCH_2024)],
        [(1, 0), (2, 0), (3, 1), (4, 1)],
    )
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    # rewrite customer with alternating segments; add nation table
    _pq.write_table(
        _pa.table({
            "c_custkey": _pa.array([1, 2, 3, 4], _pa.int64()),
            "c_name": _pa.array(["c"] * 4, _pa.string()),
            "c_nationkey": _pa.array([0, 1, 0, 1], _pa.int32()),
            "c_acctbal": _pa.array([0.0] * 4, _pa.float64()),
            "c_mktsegment": _pa.array(
                ["BUILDING", "BUILDING", "MACHINERY", "MACHINERY"],
                _pa.string(),
            ),
        }),
        os.path.join(str(tmp_path), "customer.parquet"),
    )
    _pq.write_table(
        _pa.table({
            "n_nationkey": _pa.array([0, 1], _pa.int32()),
            "n_name": _pa.array(["KENYA", "PERU"], _pa.string()),
            "n_regionkey": _pa.array([0, 0], _pa.int32()),
        }),
        os.path.join(str(tmp_path), "nation.parquet"),
    )
    rows = queries()["customer_segment_nation_chi2"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 4
    assert all(r.observed == 1 for r in rows)
    assert all(r.expected_fp == 65536 for r in rows)
    assert all(r.contrib_fp == 0 for r in rows)


def test_prefix_suffix_overlap_catches_stitch_boundary(spark, tmp_path):
    # doc 2 begins with doc 1's last 4 tokens (pagination re-crawl);
    # doc 3 shares no boundary; doc 4 is too short to index.
    _write_docs(
        tmp_path,
        [
            (1, "intro words here then p1 p2 p3 p4", "en", "s"),
            (2, "p1 p2 p3 p4 continues the next page", "en", "s"),
            (3, "completely different text body here now", "en", "s"),
            (4, "too short", "en", "s"),
        ],
    )
    rows = queries()["dedup_prefix_suffix_overlap"](
        spark, str(tmp_path)
    ).collect()
    assert [(r.tail_doc_id, r.head_doc_id, r.boundary_key) for r in rows] == [
        (1, 2, "p1 p2 p3 p4")
    ]


def test_corpora_never_hit_container_branches():
    """The r12 audio/video oracles replicate the documented STUB branch
    only — valid because a corpus text would have to be a byte-valid
    RIFF/WAVE or YUV4MPEG2 stream (and valid UTF-8) to reach the real
    container parse. Make that assumption structural: no text in any
    driver sf dir may even carry the magic prefixes the dispatchers
    check (the degenerate-corpus harness covers its own fixtures via
    the value-level oracle compare)."""
    import duckdb

    from conftest import SF_DIR, SF_DIR_ORACLE

    # The dirs the suite ACTUALLY runs against (env overrides included)
    # plus the bench corpus — a guard that only ever looked at hardcoded
    # paths would go vacuously green on a relocated checkout while the
    # oracles' stub-branch assumption silently stopped being checked.
    dirs = {SF_DIR, SF_DIR_ORACLE,
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")}
    paths = [os.path.join(d, "documents.parquet") for d in sorted(dirs)]
    found = [p for p in paths if os.path.exists(p)]
    assert found, f"no documents corpus found under any of {paths}"
    con = duckdb.connect()
    for path in found:
        n = con.execute(
            f"SELECT count(*) FROM '{path}' WHERE text LIKE 'RIFF%'"
            f" OR text LIKE 'YUV4MPEG2%'"
        ).fetchone()[0]
        assert n == 0, f"{path}: {n} texts carry a container magic prefix"
