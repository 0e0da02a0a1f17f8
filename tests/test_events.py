"""Events family: the shared dense hour series on a planted frame."""

import datetime

from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.operators.event_series import hourly_series


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
