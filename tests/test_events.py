"""Events family: the shared dense hour series and per-user grid on
planted frames."""

import datetime

from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.operators.event_series import _user_grid, hourly_series


def _events(spark):
    rows = [
        ("a", datetime.datetime(2024, 1, 1, 10, 5)),
        ("a", datetime.datetime(2024, 1, 1, 10, 40)),
        ("b", datetime.datetime(2024, 1, 1, 13, 20)),
        # garbage event times: none of them may reach the spine
        ("a", None),
        ("b", datetime.datetime(1969, 12, 31, 23)),
        ("a", datetime.datetime(2200, 1, 1)),
    ]
    return rows_to_df(spark, rows, "event_type string, ts timestamp")


def test_hourly_series_fills_the_span_with_null_hours(spark):
    rows = sorted(hourly_series(_events(spark), [], n=F.count(F.lit(1))).collect())
    lo = rows[0].h
    assert [r.h - lo for r in rows] == [0, 1, 2, 3]
    assert [r.n for r in rows] == [2, None, None, 1]


def test_hourly_series_crosses_keys_with_the_global_span(spark):
    got = hourly_series(_events(spark), ["event_type"], n=F.count(F.lit(1)))
    assert got.columns == ["event_type", "h", "n"]
    rows = sorted(got.collect())
    lo = min(r.h for r in rows)
    assert [(r.event_type, r.h - lo, r.n) for r in rows] == [
        ("a", 0, 2),
        ("a", 1, None),
        ("a", 2, None),
        ("a", 3, None),
        ("b", 0, None),
        ("b", 1, None),
        ("b", 2, None),
        ("b", 3, 1),
    ]


def test_user_grid_keeps_a_null_users_events(spark):
    at = datetime.datetime
    rows = [
        (None, at(2024, 1, 1, 1), 0.5),
        (None, at(2024, 1, 1, 13), 1.5),
        (7, at(2024, 1, 1, 2), 2.0),
        (7, at(2024, 1, 1, 3), 1.0),
    ]
    ev = rows_to_df(spark, rows, "user_id long, ts timestamp, value double")
    got = _user_grid(ev, n=F.count(F.lit(1)), v=F.sum("value"))
    assert got.columns == ["user_id", "bucket", "n", "v"]
    assert sorted(got.collect(), key=lambda r: (r.user_id is not None, r)) == [
        (None, at(2024, 1, 1, 0), 1, 0.5),
        (None, at(2024, 1, 1, 6), None, None),
        (None, at(2024, 1, 1, 12), 1, 1.5),
        (7, at(2024, 1, 1, 0), 2, 3.0),
    ]
