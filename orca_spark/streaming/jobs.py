"""Structured Streaming operators over the events stream.

The reference has no streaming at all (SURVEY.md §2.5); these are the
engine's stream-processing surface, built the way a production topology
would be: ``readStream`` → watermark → windowed/stateful aggregation →
sink. Locally the parquet events table drives the stream with
``availableNow`` + a memory sink so each job runs to completion
synchronously and its result is oracle-checkable against the batch
semantics — the same code pointed at a Kafka source runs continuously.

Scale notes: watermarks bound state (late data beyond 1 hour is
dropped); windowed aggregations shuffle once on (window, key);
``applyInPandasWithState`` keeps per-key state in the state store with
Arrow-batched Python transitions. The state store is RocksDB
(``spark.sql.streaming.stateStore.providerClass`` in ``session.py``) —
the default HDFS-backed provider keeps every active key in executor
heap, which at 100 TB/day watermark state is an OOM; RocksDB spills
state off-heap/on-disk with identical semantics, and the whole suite
runs against it.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from orca_spark.registry import register


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream (schema pinned from the batch
    footer; nanosecond ts column normalized to a µs timestamp exactly
    like tables.load does for batch)."""
    from orca_spark.tables import load

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file-stream sources want a directory; select just the events table
    # out of the shared sf_dir with a glob filter
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    for field in batch_schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
            )
        elif field.dataType.simpleString() == "timestamp_ntz":
            # naive parquet timestamps read as TIMESTAMP_NTZ break
            # withWatermark (requires TIMESTAMP); UTC session tz makes
            # this cast value-preserving
            stream = stream.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return stream


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Run a stream over everything available now, wait for it to finish
    and return the finished query (its ``recentProgress`` holds the
    per-batch metrics)."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_to_memory(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a bounded stream to completion into a memory sink and return
    the materialized result table."""
    name = "orca_stream_" + uuid.uuid4().hex[:12]
    drain(df.writeStream.outputMode(output_mode).format("memory").queryName(name))
    return df.sparkSession.table(name)


@register(
    "streaming_hourly_counts",
    oracle="""
        SELECT date_trunc('hour', ts) AS bucket,
               event_type,
               count(*)               AS n_events,
               round(sum(value), 4)   AS total_value
        FROM events
        WHERE ts IS NOT NULL  -- F.window drops NULL event times
        GROUP BY 1, 2
    """,
    description="Structured Streaming: watermark + 1h tumbling window agg "
    "driven to completion (availableNow); oracle is the batch semantics",
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("bucket"), "event_type", "n_events", "total_value"
    )


@register(
    "streaming_session_window",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL  -- the watermark drops NULL event times
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id, ts,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
            FROM flagged
        )
        SELECT user_id,
               min(ts)  AS session_start,
               max(ts)  AS session_end,
               count(*) AS n_events
        FROM sessions
        GROUP BY user_id, sid
    """,
    description="native session_window (30-min gap) in a streaming job; "
    "oracle is the lag+cumsum batch sessionization",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    out = run_to_memory(agg, "complete")
    return out.select("user_id", "session_start", "session_end", "n_events")


@register(
    "streaming_static_join",
    oracle="""
        SELECT c_mktsegment, event_type, count(*) AS n
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """,
    description="stream-static join: streaming events enriched against the "
    "static customer dim (dim broadcast per micro-batch), then windowless "
    "grouped count in complete mode",
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_spark.tables import load

    ev = stream_events(spark, sf_dir)
    dim = F.broadcast(load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    joined = ev.join(dim, ev.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(agg, "complete").select("c_mktsegment", "event_type", "n")


@register(
    "streaming_foreach_batch_orc",
    oracle="""
        SELECT event_type,
               count(*)             AS n,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY event_type
    """,
    description="exactly-once streaming sink: foreachBatch writes each "
    "micro-batch to an epoch-keyed ORC directory (idempotent overwrite "
    "per epoch — replays after failure rewrite the same epoch, never "
    "duplicate), then the ORC output is read back and aggregated",
)
def streaming_foreach_batch_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from orca_spark.operators.io_ops import scratch_path

    out = scratch_path("stream_orc_sink", sf_dir)
    ckpt = scratch_path("stream_orc_ckpt", sf_dir)
    for p in (out, ckpt):  # fresh run: reprocess everything deterministically
        shutil.rmtree(p, ignore_errors=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch-keyed overwrite = idempotent: a retried epoch replaces its
        # own directory instead of appending duplicates
        batch_df.write.mode("overwrite").orc(f"{out}/epoch={epoch_id}")

    ev = stream_events(spark, sf_dir)
    drain(ev.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt))
    back = spark.read.orc(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


_STATE_SCHEMA = "n bigint, total double"
_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _count_events(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-user running (count, sum(value)).

    State lives in the state store; each micro-batch folds its rows in.
    This is the template for any custom stateful op the built-in
    windows can't express.
    """
    if state.hasTimedOut:
        n, total = state.get
        state.remove()
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


@register(
    "streaming_stateful_user_totals",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY user_id
    """,
    description="applyInPandasWithState custom stateful operator "
    "(per-user running totals), update mode, driven to completion",
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).select("user_id", "value")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _count_events,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(updated, "update")
    # update mode emits one row per key per micro-batch; the last emit per
    # key is the final state (single availableNow batch → already final,
    # but keep it robust to multi-batch runs)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("total_value", 4).alias("total_value"))
    )
