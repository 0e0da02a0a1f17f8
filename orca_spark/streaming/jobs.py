"""Structured Streaming plumbing and the stateless streaming queries.

The reference has no streaming at all (SURVEY.md §2.5); this package is
the engine's stream-processing surface, split the way Structured
Streaming splits a query: a source, an incremental query and a sink.

* this module: the corpus stream source (``stream_table``), the one
  bounded-run driver (``drain``, ``run_to_memory``) and the stateless
  or watermark-bounded queries — tumbling, session and sliding
  windows, the stream-static and stream-stream joins, and the two
  ingest-time dedups;
* ``stateful``: arbitrary per-key state (``applyInPandasWithState`` and
  the ``transformWithStateInPandas`` family);
* ``ingest``: sinks and multi-pass ingest (foreachBatch ORC sink,
  checkpointed incremental ingest, upsert snapshot, the JSONL Python
  source, the streaming curation manifest).

Locally a parquet corpus table drives each stream with ``availableNow``
and a memory sink, so each job runs to completion synchronously and its
result is oracle-checkable against the batch semantics — the same code
pointed at a Kafka source runs continuously.

Scale notes: watermarks bound state (late data beyond the delay is
dropped); windowed aggregations shuffle once on (window, key). A
stream-stream join buffers both sides in the state store, and the
watermarks plus the time-range join condition make that state finite.
``dropDuplicatesWithinWatermark`` evicts a key's dedup state once the
watermark passes its event time, so dedup state is bounded by (arrival
rate x watermark delay), not by lifetime key cardinality. The state
store is RocksDB (``spark.sql.streaming.stateStore.providerClass`` in
``session.py``) — the default HDFS-backed provider keeps every active
key in executor heap, which at 100 TB/day watermark state is an OOM;
RocksDB spills state off-heap/on-disk with identical semantics, and the
whole suite runs against it.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from orca_spark.registry import register
from orca_spark.tables import normalize_timestamps, parquet_schema


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Corpus table ``name`` as a bounded stream. Its schema is the batch
    table's, read from the footer by ``tables.parquet_schema`` (no job);
    timestamp columns are normalized to µs TIMESTAMPs by
    ``tables.normalize_timestamps``, exactly as ``tables.load`` does for
    batch."""
    # file-stream sources want a directory; select just this table out
    # of the shared sf_dir with a glob filter
    stream = (
        spark.readStream.schema(parquet_schema(spark, f"{sf_dir}/{name}.parquet"))
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return normalize_timestamps(stream)


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
    ev = stream_table(spark, sf_dir, "events")
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
    ev = stream_table(spark, sf_dir, "events")
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

    ev = stream_table(spark, sf_dir, "events")
    dim = F.broadcast(load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    joined = ev.join(dim, ev.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(agg, "complete").select("c_mktsegment", "event_type", "n")


@register(
    "streaming_sliding_window_counts",
    oracle="""
        WITH base AS (
            SELECT ts, event_type FROM events
            WHERE ts IS NOT NULL AND epoch_us(ts) > 0
        ),
        assigned AS (
            SELECT event_type,
                   to_timestamp(
                       (epoch_us(ts) // 900000000) * 900
                       - o.k * 900
                   ) AS w_start
            FROM base, UNNEST(generate_series(0, 3)) AS o(k)
        )
        SELECT CAST(w_start AS TIMESTAMP) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM assigned
        GROUP BY 1, 2
    """,
    description="sliding-window streaming aggregation: 1-hour windows "
    "sliding every 15 minutes (each event counted in 4 overlapping "
    "windows — the rolling-SLA shape where a spike is visible within "
    "one slide interval); the batch oracle expands the assignment rule "
    "explicitly (floor-to-slide minus offset*slide), checking the "
    "window math value-for-value; state is overlap-factor x keys, "
    "watermark-bounded",
)
def streaming_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events").select("ts", "event_type")
    # explicit event-time admission, same rule as
    # streaming_dedup_within_watermark (NULL and epoch-0 rows behave
    # nondeterministically at the initial watermark)
    ev = ev.where(F.col("ts").isNotNull() & (F.col("ts") > F.timestamp_micros(F.lit(0))))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )


@register(
    "streaming_click_purchase_attribution",
    oracle="""
        SELECT c.event_id                          AS click_id,
               p.event_id                          AS purchase_id,
               c.user_id                           AS user_id,
               epoch_us(p.ts) - epoch_us(c.ts)     AS lag_us
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    description="stream-stream inner join: each purchase attributed to "
    "the same user's clicks in the preceding hour, both sides "
    "watermarked (1h) with a time-range join condition so the join "
    "state is evicted at the watermark horizon — bounded state at any "
    "stream length; oracle is the identical batch join",
)
def streaming_click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = run_to_memory(joined, output_mode="append")
    return out.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


@register(
    "streaming_dedup_user_event_types",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    description="streaming ingestion dedup: dropDuplicatesWithinWatermark "
    "on (user_id, event_type) with a 2h watermark — emits each key's "
    "first arrival, state evicted at the watermark horizon (bounded "
    "store, unlike plain dropDuplicates); oracle is the batch DISTINCT",
)
def streaming_dedup_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events")
    deduped = (
        ev.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(deduped, output_mode="append")


# The emitted row per key is whichever duplicate arrived first in
# micro-batch order — nondeterministic across file split orderings — so
# the query below projects the surviving KEYS only, which are
# deterministic. Its batch oracle is the same DISTINCT under the
# watermark's admission rules: NULL event times never pass an event-time
# operator, and rows at-or-before the INITIAL watermark (epoch 0) are
# dropped as late on arrival — the engine-wide epoch-0 trap, asserted by
# the degenerate-corpus suite.
@register(
    "streaming_dedup_within_watermark",
    oracle="""
        SELECT DISTINCT user_id, event_type
        FROM events
        -- the watermark drops NULL event times, and
        -- dropDuplicatesWithinWatermark drops rows at-or-before the
        -- INITIAL watermark (epoch 0) — the engine-wide epoch-0 trap
        WHERE ts IS NOT NULL AND epoch_us(ts) > 0
    """,
    description="dropDuplicatesWithinWatermark over the event stream: "
    "watermark-evictable dedup state (bounded by rate x delay, not "
    "lifetime key cardinality) — the exactly-once-per-key gate for "
    "at-least-once ingest; the registered surface projects the "
    "deterministic surviving key set (first-arrival payloads depend "
    "on micro-batch file order), proven against batch DISTINCT under "
    "the watermark's NULL-event-time exclusion",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events").select("ts", "user_id", "event_type")
    # Admission is made EXPLICIT before the stateful operator: whether
    # the operator itself drops a NULL or epoch-0 event time turned out
    # to vary run-to-run (the row straddles the initial-watermark
    # boundary), and a stateful op fed nondeterministic input is
    # unverifiable. Production streams do the same — garbage event
    # times are filtered before they can poison watermark state.
    ev = ev.where(F.col("ts").isNotNull() & (F.col("ts") > F.timestamp_micros(F.lit(0))))
    deduped = (
        ev.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    out = run_to_memory(deduped, "append")
    return out.select("user_id", "event_type").distinct()
