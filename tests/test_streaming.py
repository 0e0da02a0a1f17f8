"""Streaming semantics the SQL oracle can't express: append-mode
finalization under watermarks, and re-run determinism."""

from pyspark.sql import functions as F

from orca_spark.streaming.jobs import run_to_memory, stream_table
from tests.conftest import SF_DIR


def test_append_mode_emits_only_finalized_windows(spark):
    """In append mode a window is emitted only once the watermark passes
    its end; with one availableNow batch the trailing window(s) near
    max(ts) stay open and unemitted — strictly fewer rows than complete
    mode, and a subset of it."""
    def agg(df):
        return (
            df.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("bucket"), "n")
        )

    complete = {
        (r.bucket, r.n) for r in run_to_memory(agg(stream_table(spark, SF_DIR, "events")), "complete").collect()
    }
    appended = {
        (r.bucket, r.n) for r in run_to_memory(agg(stream_table(spark, SF_DIR, "events")), "append").collect()
    }
    assert appended  # watermark passed for all but the trailing window(s)
    assert len(appended) < len(complete)
    assert appended <= complete  # finalized windows agree exactly


def test_streaming_rerun_deterministic(spark):
    from orca_spark.queries import queries

    q = queries()["streaming_hourly_counts"]
    a = sorted(map(tuple, q(spark, SF_DIR).collect()))
    b = sorted(map(tuple, q(spark, SF_DIR).collect()))
    assert a == b


def test_watermark_drops_late_data_for_finalized_windows(spark, tmp_path):
    """Append-mode watermark contract: once a window is FINALIZED and
    emitted, a record for it arriving in a later micro-batch is dropped
    — the emitted result is never contradicted or duplicated. (A late
    record for a not-yet-emitted window may still legally merge, which
    is why the late row here arrives two batches after its window.)"""
    import os
    import datetime

    d = str(tmp_path / "stream_src")
    os.makedirs(d)
    base = datetime.datetime(2024, 6, 1, 10, 0, 0)

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, "ts timestamp, k long")
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{name}")
        for root, _, files in os.walk(f"{d}/{name}"):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    # batch 0: 10:00-12:00 (nothing emitted yet — initial watermark is 0)
    write_file(
        "a",
        [(base + datetime.timedelta(minutes=m), 1) for m in (0, 30, 110, 120)],
        1_000_000,
    )
    # batch 1: 13:00 — watermark reaches 12:50, finalizing h10/h11/...
    write_file("b", [(base + datetime.timedelta(hours=3), 1)], 2_000_000)
    # batch 2: a LATE row for the already-emitted h10 window + on-time 14:00
    write_file(
        "c",
        [
            (base + datetime.timedelta(minutes=5), 1),
            (base + datetime.timedelta(hours=4), 1),
        ],
        3_000_000,
    )
    stream = (
        spark.readStream.schema("ts timestamp, k long")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{d}/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "n")
    )
    rows = run_to_memory(agg, "append").collect()
    got = {(r.bucket, r.n) for r in rows}
    h10 = datetime.datetime(2024, 6, 1, 10, 0, 0)
    h11 = datetime.datetime(2024, 6, 1, 11, 0, 0)
    h12 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    # h10 was emitted with 2 rows when the watermark passed it; the late
    # 10:05 row must neither update it nor re-emit it
    assert (h10, 2) in got, got
    assert len(rows) == len(got), "append re-emitted a finalized window"
    assert (h11, 1) in got and (h12, 1) in got, got
    # the 13:00 and 14:00 windows are still open at the final watermark
    # (13:50 < their window ends) and must not emit
    assert len(got) == 3, got


def test_incremental_ingest_second_run_reads_only_new_files(spark):
    """The checkpoint contract: run 2 must process exactly the rows of
    the newly-arrived files, never reprocess run 1's."""
    import shutil

    from pyspark.sql import functions as F

    from orca_spark.operators.io_ops import scratch_path
    from orca_spark.streaming.ingest import ingest_in_passes
    from orca_spark.tables import load
    from tests.conftest import SF_DIR

    base = scratch_path("incr_ingest_test", SF_DIR)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = load(spark, SF_DIR, "events")
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    n_a, n_b = a.count(), b.count()

    def sink(w):
        return w.format("parquet").option("path", out_dir).outputMode("append")

    # a third pass lands no new rows and must process nothing
    rows = ingest_in_passes(spark, [a, b, a.limit(0)], in_dir, ckpt, sink)
    assert rows[0] == n_a
    assert rows[1] == n_b
    assert rows[2] == 0
    assert spark.read.parquet(out_dir).count() == n_a + n_b


def test_ingest_in_passes_streams_the_written_schema(spark):
    """The pass-ingest helper takes its stream schema from the frame it
    wrote instead of running an inference job over the landed files;
    the two must agree, or the stream would read the files with a
    schema Spark itself would not infer."""
    import shutil

    from orca_spark.operators.io_ops import scratch_path
    from orca_spark.streaming.ingest import ingest_in_passes
    from orca_spark.tables import load

    base = scratch_path("ingest_schema_test", SF_DIR)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, ckpt = f"{base}/in", f"{base}/ckpt"
    seen = []

    def consume(batch_df, _epoch):
        seen.append(batch_df.schema)
        batch_df.write.format("noop").mode("overwrite").save()

    def sink(w):
        return w.foreachBatch(consume)

    ev = load(spark, SF_DIR, "events")
    assert ingest_in_passes(spark, [ev], in_dir, ckpt, sink) == [ev.count()]
    assert seen, "the pass ran no micro-batch"
    want = spark.read.parquet(in_dir).schema
    assert all(s == want for s in seen), (seen, want)


def test_tws_gated_or_matching_oracle(spark, duck):
    """transformWithStateInPandas registers only where its protobuf
    dependency works; when available it must match the batch oracle,
    when not the registry must not advertise it."""
    import pytest as _pytest

    from orca_spark.registry import REGISTRY
    from orca_spark.streaming.stateful import tws_available

    if not tws_available():
        assert "streaming_tws_user_running_max" not in REGISTRY
        _pytest.skip("TWS protobuf dependency unavailable in this env")
    from tests.conftest import SF_DIR, compare_query

    spec = REGISTRY["streaming_tws_user_running_max"]
    compare_query(spark, duck, spec.fn, spec.oracle, SF_DIR)


def test_tws_processor_logic_without_transport(spark):
    """The TWS wire protocol needs google.protobuf, but the processor's
    fold logic doesn't — drive make_running_max() against a fake state
    handle, feeding each user's events as two split Arrow-style batches
    plus a second invocation (state carry-over), and require exact
    agreement with the batch groupBy oracle. This is the reproducible
    execution of the registered branch's semantics in images where the
    operator itself is protobuf-gated."""
    import pandas as pd

    from orca_spark.streaming.stateful import make_running_max
    from orca_spark.tables import load

    class FakeValueState:
        def __init__(self):
            self._v, self._set = None, False

        def exists(self):
            return self._set

        def get(self):
            return self._v

        def update(self, v):
            self._v, self._set = v, True

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    ev = (
        load(spark, SF_DIR, "events")
        .select("user_id", "value")
        .where("user_id IS NOT NULL AND value IS NOT NULL")
    )
    pdf = ev.toPandas()
    want = (
        pdf.groupby("user_id")["value"]
        .agg(n_events="count", max_value="max")
        .reset_index()
    )

    got = {}
    for uid, grp in pdf.groupby("user_id"):
        proc = make_running_max()
        proc.init(FakeHandle())
        half = len(grp) // 2
        # first micro-batch: two Arrow batches in one call
        out1 = list(
            proc.handleInputRows((uid,), iter([grp.iloc[:half], grp.iloc[half:half]]), None)
        )
        # second micro-batch: the rest, folded onto carried state
        out2 = list(proc.handleInputRows((uid,), iter([grp.iloc[half:]]), None))
        proc.close()
        final = pd.concat(out1 + out2).iloc[-1]
        got[uid] = (int(final.n_events), float(final.max_value))

    for _, row in want.iterrows():
        assert got[row.user_id] == (int(row.n_events), float(row.max_value)), row
