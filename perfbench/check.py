"""Output checks: registered queries against their DuckDB oracles.

The comparison is the repository's oracle harness (``tests/conftest.py``):
columns sorted by name and rows by value, integer and float widths
widened to eight bytes, the same dtype family on both sides, then an
exact frame match.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.conftest import _dtype_kind, normalize


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal, else a one-line reason."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        if len(got) and _dtype_kind(got[c]) != _dtype_kind(want[c]):
            return f"dtype family of {c}: {got[c].dtype} != {want[c].dtype}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return " ".join(str(e).split())[:300]
    return None


def oracle_results(corpus_dir: str, tables: list[str], oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL over the corpus's parquet tables in DuckDB."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        return {name: con.execute(sql).df() for name, sql in oracles.items()}
    finally:
        con.close()
