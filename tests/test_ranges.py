"""Behavioral exactness tests for the bucketized interval join and the
prefix-filtered n-gram Jaccard join: both promise EXACT results with
sub-quadratic plans, so each is checked against the naive quadratic
computation on randomized inputs."""

import datetime
import itertools
import random

from pyspark.sql import functions as F


def _naive_interval_matches(points, intervals):
    out = set()
    for pid, key, ts in points:
        for iid, ikey, lo, hi in intervals:
            if key == ikey and lo <= ts < hi:
                out.add((pid, iid))
    return out


def test_interval_join_exact_vs_naive(spark):
    from orca_spark.operators.ranges import interval_join

    rng = random.Random(11)
    base = datetime.datetime(2024, 1, 1)
    points = [
        (i, rng.randrange(5), base + datetime.timedelta(seconds=rng.randrange(86400)))
        for i in range(300)
    ]
    intervals = []
    for j in range(80):
        lo = base + datetime.timedelta(seconds=rng.randrange(86400))
        # widths from sub-bucket to multi-bucket to exercise the fan-out
        hi = lo + datetime.timedelta(seconds=rng.choice([60, 1800, 3600, 7200, 90000]))
        intervals.append((j, rng.randrange(5), lo, hi))
    p = spark.createDataFrame(
        points, "pid long, k long, ts timestamp"
    )
    iv = spark.createDataFrame(
        intervals, "iid long, k long, lo timestamp, hi timestamp"
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(p, iv, ["k"], "ts", "lo", "hi", bucket_seconds=3600)
        .select("pid", "iid")
        .collect()
    }
    assert got == _naive_interval_matches(points, intervals)


def test_interval_join_boundary_semantics(spark):
    """[lo, hi): inclusive start, exclusive end — including points exactly
    on a bucket boundary."""
    from orca_spark.operators.ranges import interval_join

    base = datetime.datetime(2024, 1, 1)
    p = spark.createDataFrame(
        [
            (1, 0, base),                                    # == lo: in
            (2, 0, base + datetime.timedelta(hours=1)),      # == hi: out
            (3, 0, base + datetime.timedelta(minutes=59, seconds=59)),  # in
            (4, 1, base + datetime.timedelta(minutes=30)),   # wrong key: out
        ],
        "pid long, k long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(10, 0, base, base + datetime.timedelta(hours=1))],
        "iid long, k long, lo timestamp, hi timestamp",
    )
    got = {
        r.pid
        for r in interval_join(p, iv, ["k"], "ts", "lo", "hi", bucket_seconds=3600).collect()
    }
    assert got == {1, 3}


def test_prefix_filter_jaccard_exact_vs_naive(spark):
    """The prefix theorem guarantee: the bucketed join finds EVERY pair
    with Jaccard >= t, on a corpus engineered with hot and rare grams."""
    from orca_spark.operators.spans import _JACCARD_T, dedup_ngram_jaccard
    from orca_spark.tables import load

    sf = "/root/testdata/sf0.001"
    docs = [(r.doc_id, r.text) for r in load(spark, sf, "documents").collect()]

    def grams(text):
        t = text.split(" ")
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    naive = set()
    gsets = {d: grams(t) for d, t in docs if len(grams(t)) > 0}
    for (da, ga), (db, gb) in itertools.combinations(sorted(gsets.items()), 2):
        inter = len(ga & gb)
        if inter and inter / (len(ga) + len(gb) - inter) >= _JACCARD_T:
            naive.add((da, db))
    got = {
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf).collect()
    }
    assert got == naive
