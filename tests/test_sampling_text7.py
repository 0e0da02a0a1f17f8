"""Behavior tests for weighted sampling, vocab/OOV, and PSI drift.

The registered queries are value-checked against DuckDB; these pin the
semantic properties on planted corpora (weight dominance, known OOV
rates, zero-vs-large drift) that the oracle equivalence can't express.
"""

import pytest

from orca_spark.operators.corpus_stats import source_length_psi, text_vocab_oov
from orca_spark.operators.sampling import _K_PER_GROUP, sample_weighted_per_lang
from tests.conftest import SF_DIR


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_weighted_sample_exactly_k_per_group_and_deterministic(spark):
    out1 = sample_weighted_per_lang(spark, SF_DIR).collect()
    out2 = sample_weighted_per_lang(spark, SF_DIR).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    per_lang: dict[str, int] = {}
    for r in out1:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
        assert 1 <= r.sample_rank <= _K_PER_GROUP
    for lang, n in per_lang.items():
        assert n <= _K_PER_GROUP


def test_weighted_sample_heavy_item_dominates(spark, tmp_path):
    # one doc carries ~all the weight: A-ES must always select it
    rows = [(i, "t", "en", "s", 1) for i in range(200)]
    rows.append((999, "t", "en", "s", 10**9))
    _write_documents(spark, tmp_path, rows)
    picked = {
        r.doc_id for r in sample_weighted_per_lang(spark, str(tmp_path)).collect()
    }
    assert 999 in picked
    assert len(picked) == _K_PER_GROUP


def test_vocab_oov_planted(spark, tmp_path):
    # vocab (top-16 by df) = the 16 'common*' tokens present in every
    # doc; the per-doc 'rare*' tokens are OOV
    common = " ".join(f"common{i}" for i in range(16))
    rows = [
        (i, f"{common} rare{i}a rare{i}b", "en", "s", 100) for i in range(30)
    ]
    _write_documents(spark, tmp_path, rows)
    out = text_vocab_oov(spark, str(tmp_path)).collect()
    assert len(out) == 30
    for r in out:
        assert r.n_tokens == 18
        assert r.n_oov == 2
        assert r.oov_rate == pytest.approx(2 / 18, abs=1e-6)


def test_psi_zero_for_identical_sources_large_for_shifted(spark, tmp_path):
    # the reference (global) mix is dominated by src_same, so src_same
    # scores as stable while the small all-long src_shifted drifts; a
    # 50/50 split would make BOTH sources drift vs global — correct PSI
    # behavior, but not the scenario the alarm line is calibrated for
    rows = []
    for i in range(580):
        rows.append((i, "t", "en", "src_same", (i % 10) * 50 + 10))
    for i in range(580, 600):
        rows.append((i, "t", "en", "src_shifted", 580))
    _write_documents(spark, tmp_path, rows)
    psi = {
        r.source: r.psi for r in source_length_psi(spark, str(tmp_path)).collect()
    }
    assert psi["src_shifted"] > 1.0
    assert psi["src_same"] < 0.2
