"""Behavior gates for the r05 batch-3 operators whose semantics a SQL
oracle can't express: BPE merge training (iterative argmax) and label
propagation (iterative majority vote). The oracled siblings
(text_bigram_logprob, text_pmi_pairs, graph_neardup_degree,
events_ewma_smoothed) are gated by test_queries_oracle.py and the
adversarial corpus harness like every other oracled query."""

import uuid

import pytest
from pyspark.sql import functions as F

from orca_spark.operators.bpe import bpe_train
from orca_spark.operators.graph import label_propagation
from tests.conftest import jobs_in_group


# ---------------------------------------------------------------- BPE


def python_bpe(word_freqs: dict[str, int], n_merges: int) -> list[tuple]:
    """Reference BPE trainer (Sennrich et al. 2016), pure Python."""
    vocab = {w: [c for c in w] for w in word_freqs}
    merges = []
    for rank in range(n_merges):
        counts: dict[tuple, int] = {}
        for w, syms in vocab.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        # same tiebreak as the engine: count desc, left asc, right asc
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, n))
        joined = left + right
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(joined)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


_BPE_CORPUS = {
    "low": 5,
    "lower": 2,
    "lowest": 2,
    "newer": 6,
    "new": 3,
    "wider": 3,
}


@pytest.fixture(scope="module")
def bpe_words(spark):
    return spark.createDataFrame(
        list(_BPE_CORPUS.items()), "word string, freq long"
    )


def test_bpe_matches_python_reference(bpe_words):
    got = bpe_train(bpe_words, n_merges=6)
    want = python_bpe(_BPE_CORPUS, n_merges=6)
    assert got == want


def test_bpe_merge_counts_monotone_enough(bpe_words):
    """Each recorded pair_count is positive, and the first merge is the
    global best pair of the raw character corpus ('e','r' at freq 11)."""
    got = bpe_train(bpe_words, n_merges=4)
    assert all(n > 0 for _, _, _, n in got)
    assert (got[0][1], got[0][2], got[0][3]) == ("e", "r", 11)


def test_bpe_exhausts_and_stops_early(spark):
    """A vocabulary of single characters has no adjacent pairs after
    enough merges: the trainer must stop instead of looping."""
    words = spark.createDataFrame([("ab", 1)], "word string, freq long")
    got = bpe_train(words, n_merges=10)
    assert len(got) == 1  # one merge fuses the only pair; then nothing
    assert (got[0][1], got[0][2]) == ("a", "b")


def test_bpe_deterministic(bpe_words):
    assert bpe_train(bpe_words, n_merges=5) == bpe_train(bpe_words, n_merges=5)


# every symbol the rewrite's mask or SQL text could confuse: the mask
# chars themselves, a quote, a backslash, the unit separator, a non-BMP
# emoji, left == right runs, and 1-char and empty words; nine merges
# exhaust it, so n_merges=10 ends on the early stop
_PLANTED = {
    "aaaa": 4,
    "aaa": 3,
    "L'R": 3,
    "\\S": 2,
    "P0\x1f": 2,
    "\U0001F600\U0001F600": 2,
    "R": 5,
    "": 1,
}


def test_bpe_planted_symbols_match_python_reference(spark):
    words = spark.createDataFrame(list(_PLANTED.items()), "word string, freq long")
    want = python_bpe(_PLANTED, n_merges=10)
    assert len(want) < 10
    assert bpe_train(words, n_merges=10) == want


def _train_in_group(spark, words, n_merges: int):
    sc = spark.sparkContext
    group = "bpe-train-" + uuid.uuid4().hex
    sc.setJobGroup(group, "bpe_train")
    try:
        merges = bpe_train(words, n_merges=n_merges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return merges, jobs_in_group(spark, group)


_LOOP_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


@pytest.fixture
def wide_session(spark):
    """A plain session left at the default 200 shuffle partitions."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")
    return s


def _wide_words(s):
    # through a shuffle, so the vocabulary cut reads the session's width
    return (
        s.createDataFrame(list(_BPE_CORPUS.items()), "word string, freq long")
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
    )


def test_bpe_train_runs_one_job_per_merge(bpe_words, spark):
    merges, jobs = _train_in_group(spark, bpe_words, n_merges=6)
    assert len(merges) == 6
    assert len(jobs) <= 6 + 2, jobs


def test_bpe_rounds_stay_within_default_parallelism(wide_session):
    s = wide_session
    merges, jobs = _train_in_group(s, _wide_words(s), n_merges=4)
    assert len(merges) == 4
    tracker, cap = s.sparkContext.statusTracker(), s.sparkContext.defaultParallelism
    # one job per merge, the last ones in the group
    tasks = [
        tracker.getStageInfo(sid).numTasks
        for jid in jobs[-len(merges) :]
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert tasks and max(tasks) <= cap, (tasks, cap)


@pytest.mark.parametrize("raises", [False, True])
def test_bpe_loop_scope_restores_confs(wide_session, monkeypatch, raises):
    s = wide_session
    words = _wide_words(s)
    before = {k: s.conf.get(k, None) for k in _LOOP_CONFS}
    seen = []
    collect = type(words).collect

    def spy(df):
        seen.append({k: s.conf.get(k, None) for k in _LOOP_CONFS})
        if raises and len(seen) == 2:
            raise RuntimeError("failed mid-loop")
        return collect(df)

    monkeypatch.setattr(type(words), "collect", spy)
    if raises:
        with pytest.raises(RuntimeError, match="failed mid-loop"):
            bpe_train(words, n_merges=4)
    else:
        assert len(bpe_train(words, n_merges=4)) == 4
    monkeypatch.undo()
    # each round's argmax ran with AQE off at a derived width ...
    assert seen and all(c["spark.sql.adaptive.enabled"] == "false" for c in seen)
    assert all(c["spark.sql.shuffle.partitions"] != "200" for c in seen)
    # ... and the session reads back what it had before the loop
    assert {k: s.conf.get(k, None) for k in _LOOP_CONFS} == before


def test_bpe_merge_table_reaches_jvm_without_python_worker(spark):
    """text_bpe_train_merges builds its merge table from driver-side rows
    as Arrow record batches: no PythonRDD in its lineage."""
    from orca_spark.queries import queries
    from tests.conftest import SF_DIR

    df = queries()["text_bpe_train_merges"](spark, SF_DIR)
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert [r["rank"] for r in df.collect()] == list(range(6))


# ------------------------------------------------- label propagation

_CLUSTER_A = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)
_CLUSTER_B = (
    "one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """Two near-dup clusters (one token changed per member) + one
    isolated doc. doc_id % 5 == 0 rows are seeds."""
    rows = [
        # cluster A: seed 10 is labeled 'aa'; 11/12 near-dups unlabeled
        (10, _CLUSTER_A, "aa"),
        (11, _CLUSTER_A.replace("kappa", "kappa2"), "xx"),
        (12, _CLUSTER_A.replace("sigma", "sigma2"), "xx"),
        # cluster B: seed 20 labeled 'bb'; 21 near-dup unlabeled
        (20, _CLUSTER_B, "bb"),
        # NB: the changed token must not be a substring of another
        # ("nine" would also hit "nineteen" and change TWO tokens,
        # dropping Jaccard to 18/22 < 0.9)
        (21, _CLUSTER_B.replace("twelve", "twelve2"), "xx"),
        # isolated non-seed: must stay NULL
        (31, " ".join(f"z{i}" for i in range(30)), "xx"),
        # isolated seed: keeps its own label
        (40, " ".join(f"q{i}" for i in range(30)), "cc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_label_propagation_spreads_seed_labels(planted_docs):
    out = {r.doc_id: r.label for r in label_propagation(planted_docs).collect()}
    assert out[10] == "aa" and out[11] == "aa" and out[12] == "aa"
    assert out[20] == "bb" and out[21] == "bb"
    assert out[31] is None  # unreached non-seed
    assert out[40] == "cc"  # isolated seed clamped


def test_label_propagation_seeds_never_flip(planted_docs):
    """A seed inside a cluster dominated by another label keeps its own:
    doc 15 (seed, label 'zz') is a near-dup of cluster A."""
    extra = planted_docs.sparkSession.createDataFrame(
        [(15, _CLUSTER_A.replace("beta", "beta2"), "zz")],
        "doc_id long, text string, lang string",
    )
    out = {
        r.doc_id: r.label
        for r in label_propagation(planted_docs.unionAll(extra)).collect()
    }
    assert out[15] == "zz"  # clamped despite 'aa' neighbors
    # and its presence doesn't flip the cluster (seed 10 + majority)
    assert out[11] == "aa"


def test_label_propagation_deterministic(planted_docs):
    a = sorted(map(tuple, label_propagation(planted_docs).collect()))
    b = sorted(map(tuple, label_propagation(planted_docs).collect()))
    assert a == b


# ------------------------------------------------------- EWMA sanity


def test_ewma_constant_series_is_constant(spark, tmp_path):
    """EWMA of a constant series equals the constant at every step —
    pins the weight normalization (an unnormalized head would bias
    early rows toward zero)."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "event_id": range(1, 13),
            "ts": pd.date_range("2024-01-01", periods=12, freq="h"),
            "user_id": [1] * 12,
            "event_type": ["t"] * 12,
            "value": [7.5] * 12,
            "props": ["{}"] * 12,
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    rows.to_parquet(sf / "events.parquet")
    from orca_spark.operators.event_series import events_ewma_smoothed

    out = events_ewma_smoothed(spark, str(sf))
    vals = [r.ewma for r in out.collect()]
    assert len(vals) == 12 and all(v == 7.5 for v in vals)


def test_label_propagation_simhash_scale_path(spark):
    """The banded (SimHash hamming <= 3) edge variant spreads seed labels
    through clusters whose members are near-identical — the regime the
    banding is built for (longer docs, small relative change) — and
    agrees with the exact-Jaccard form there. Short docs with larger
    relative edits may fall below the hamming threshold: that is the
    documented recall trade of the scale path, not a defect."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the birds sing in the "
        "tall green trees near the old stone bridge by the quiet river "
        "bank at dawn as the sun rises slowly over the misty hills"
    )
    rows = [
        (50, base, "aa"),  # seed (50 % 5 == 0)
        (51, base.replace("quiet", "noisy"), "xx"),
        (52, base.replace("misty", "foggy"), "xx"),
        (61, " ".join(f"r{i}" for i in range(40)), "xx"),  # isolated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from orca_spark.operators.dedup import simhash_signatures
    from orca_spark.operators.dedup2 import simhash_pairs

    edges = simhash_pairs(simhash_signatures(docs)).select("doc_a", "doc_b")
    banded = {r.doc_id: r.label for r in label_propagation(docs, edges=edges).collect()}
    assert banded[50] == "aa" and banded[51] == "aa" and banded[52] == "aa"
    assert banded[61] is None
    exact = {r.doc_id: r.label for r in label_propagation(docs).collect()}
    assert banded == exact  # scale path agrees with the baseline here


def test_observed_metrics_total_on_empty_events(spark, tmp_path):
    """Zero-row input: the observation's sums are NULL and the metrics
    row must carry them as NULLs (float(None) crashed here before),
    matching the oracle's aggregate-over-nothing row."""
    import pandas as pd

    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame(
        {
            "event_id": pd.Series([], dtype="int64"),
            "ts": pd.Series([], dtype="datetime64[ns]"),
            "user_id": pd.Series([], dtype="int64"),
            "event_type": pd.Series([], dtype="object"),
            "value": pd.Series([], dtype="float64"),
            "props": pd.Series([], dtype="object"),
        }
    ).to_parquet(sf / "events.parquet")
    from orca_spark.operators.scalars3 import events_observed_ingest_metrics

    row = events_observed_ingest_metrics(spark, str(sf)).collect()[0]
    assert row.n_rows == 0
    assert row.n_null_user is None and row.total_value is None


# ------------------------------------------------------- whitening


def test_whitening_identity_covariance(spark):
    """On an anisotropic planted corpus (one dominant direction), the
    whitened corpus covariance must be ~identity, the whitened mean
    ~zero, and the transform deterministic."""
    import numpy as np

    rng = np.random.default_rng(7)
    d = 64
    base = rng.normal(size=(300, d))
    base[:, 0] *= 10.0  # dominant direction
    base[:, 1] *= 0.2   # squashed direction
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, e array<double>")
    from orca_spark.operators.whitening import whiten

    out = whiten(emb, dim=d)
    W = np.array(
        sorted((r.vec_id, list(r.w)) for r in out.collect()),
        dtype=object,
    )
    M = np.array([w for _, w in W], dtype=np.float64)
    assert np.abs(M.mean(axis=0)).max() < 1e-6  # centered
    cov = np.cov(M, rowvar=False, bias=True)
    off = cov - np.eye(d)
    assert np.abs(off).max() < 0.05  # ~identity (eps-damped)

    out2 = whiten(emb, dim=d)
    M2 = np.array(
        [w for _, w in sorted((r.vec_id, list(r.w)) for r in out2.collect())],
        dtype=np.float64,
    )
    assert np.array_equal(M, M2)  # deterministic
