"""Partition-count invariance for every oracled query (round 9).

The engine's determinism contract says every oracled query's VALUES are
a pure function of the data — independent of how Spark happens to split
scans and shuffles. Violations are real but probabilistic: a float sum
whose partial-aggregation order depends on partitioning only flips a
rounded output when the true value sits near a rounding boundary, so a
query can pass the DuckDB oracle at one partitioning for rounds and
fail at another (corpus_sequence_pack in r07, privacy_t_closeness_audit
caught by the sf0.1 lane in r09 — both this exact class).

This lane tests the contract DIRECTLY instead of waiting for a lucky
boundary: each oracled query runs twice at sf0.01 under deliberately
different partitioning regimes — few wide shuffle partitions + tiny
scan splits vs many narrow partitions + default splits — and the two
results must be byte-identical after the driver-style normalization.
Unlike the DuckDB compare, this catches order-dependence even when both
orders happen to round identically against the oracle today.

Opt-in (minutes, not CI material): ``ORCA_PART_INVARIANCE=1 python -m
pytest tests/test_partition_invariance.py``. Committed evidence of the
last run lives in PARTITION_INVARIANCE.log at the repo root.

Side-effecting queries (orc_/csv_/json_/streaming_/bucketed_ builders)
are excluded as in the other blind-construction harnesses: their
writes/drains are exercised elsewhere, and streaming state semantics
are keyed, not partition-ordered.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from orca_spark.registry import REGISTRY
import orca_spark.queries  # noqa: F401  (populates the registry)
from orca_spark.session import conf_scope
from tests.conftest import SF_DIR_ORACLE, SIDE_EFFECTING_PREFIXES, normalize

pytestmark = pytest.mark.skipif(
    os.environ.get("ORCA_PART_INVARIANCE") != "1",
    reason="partition-invariance pass is opt-in: ORCA_PART_INVARIANCE=1",
)

# two regimes that disagree on both scan splitting and shuffle fan-out;
# AQE stays ON (the production setting) so its coalescing is part of
# what must not change values either
_CONF_A = {
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.files.maxPartitionBytes": str(1 << 20),
}
_CONF_B = {
    "spark.sql.shuffle.partitions": "37",
    "spark.sql.files.maxPartitionBytes": str(128 << 20),
}

NAMES = sorted(
    name
    for name, spec in REGISTRY.items()
    if spec.oracle is not None and not name.startswith(SIDE_EFFECTING_PREFIXES)
)


def _run_under(spark, fn, conf: dict[str, str]) -> pd.DataFrame:
    with conf_scope(spark, conf):
        return normalize(fn(spark, SF_DIR_ORACLE).toPandas())


def test_all_oracled_queries_are_covered():
    """The lane derives its list from the registry, so a new oracled
    query is covered the day it lands; this guard only pins the
    exclusion rule to the shared constant."""
    for name in NAMES:
        assert not name.startswith(SIDE_EFFECTING_PREFIXES)
    # 271 at this writing (298 oracled minus the side-effecting
    # builders); the floor only guards against the list silently
    # collapsing, the registry derivation keeps it complete
    assert len(NAMES) >= 250


def _clear_corpus_memos() -> None:
    """Drop every per-corpus memo (relations and model artifacts alike)
    so BOTH regimes genuinely recompute their model artifacts — a memo
    surviving from regime A would trivially make regime B agree on the
    artifact and mask partition-dependence in the training step itself."""
    from orca_spark import memo

    memo.clear()


@pytest.mark.parametrize("name", NAMES)
def test_values_invariant_to_partitioning(spark, name):
    spec = REGISTRY[name]
    _clear_corpus_memos()
    a = _run_under(spark, spec.fn, _CONF_A)
    _clear_corpus_memos()
    b = _run_under(spark, spec.fn, _CONF_B)
    assert len(a) == len(b), f"{name}: row count changed with partitioning"
    pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)
