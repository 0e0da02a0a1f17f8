"""Streaming batch 6: foreachBatch upsert into a keyed snapshot —
the streaming MERGE INTO topology.

``streaming_incremental_ingest`` (jobs4) proves append-only exactly-
once across invocations. This job proves the OTHER production sink
shape: each micro-batch UPSERTS into a keyed snapshot table — latest
record per (user_id, event_type) — by reading the current snapshot,
unioning the batch, recompacting (the SCD1 window), and publishing a
new snapshot version. Versioned-directory publish stands in for the
transactional swap a table format (Delta/Iceberg) provides; the merge
itself is the same plan a MERGE INTO compiles to.

Correctness does not depend on how the stream is micro-batched: the
recompaction keeps the GLOBAL latest record per key under the
deterministic (ts, event_id) order, so any batch partition of the
input converges to the batch oracle — which is exactly
``events_changelog_compact``'s SQL, making the job oracle-checkable
despite arbitrary batching.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_spark.registry import register
from orca_spark.streaming.jobs import drain

_KEY = ["user_id", "event_type"]


def _compact(df: DataFrame) -> DataFrame:
    """Latest record per key — identical ordering to
    events_changelog_compact (relational7.py): ts DESC, event_id DESC."""
    w = W.partitionBy(*_KEY).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "streaming_upsert_snapshot",
    oracle="""
        SELECT user_id, event_type, ts AS latest_ts, value AS latest_value
        FROM (
            SELECT user_id, event_type, ts, value,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    description="foreachBatch upsert (streaming MERGE INTO): each "
    "micro-batch merges into a keyed latest-record snapshot via "
    "union + SCD1 recompaction and publishes a new snapshot version; "
    "batch-partition-invariant by construction, so the batch changelog "
    "compaction SQL is its exact oracle",
)
def streaming_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the per-batch merge cost is one window shuffle over
    snapshot ∪ batch — snapshot-sized, not history-sized (the append
    sink would grow with history; the snapshot is bounded by live
    keys). On a real deployment the versioned-parquet publish becomes
    a Delta/Iceberg MERGE INTO (transactional swap), and with RocksDB
    state the same semantics are available fully inside the engine via
    transformWithStateInPandas (jobs5) when per-key state fits the
    store. The input is split into two availableNow passes sharing one
    checkpoint, so the upsert also exercises cross-invocation
    exactly-once file tracking."""
    from orca_spark.operators.io_ops import scratch_path
    from orca_spark.tables import load

    base = scratch_path("upsert_snap", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, ckpt = f"{base}/in", f"{base}/ckpt"
    state = {"version": 0}

    def snap_dir(v: int) -> str:
        return f"{base}/snap_v{v}"

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = state["version"]
        batch_keyed = batch_df.select("user_id", "event_type", "ts", "value", "event_id")
        if cur == 0:
            merged = _compact(batch_keyed)
        else:
            prev = batch_df.sparkSession.read.parquet(snap_dir(cur))
            merged = _compact(prev.unionByName(batch_keyed))
        merged.write.parquet(snap_dir(cur + 1))
        state["version"] = cur + 1

    ev = load(spark, sf_dir, "events")
    batch = F.coalesce(F.pmod(F.col("event_id"), F.lit(2)), F.lit(0))
    ev.where(batch == 0).write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema

    def run_pass() -> None:
        drain(
            spark.readStream.schema(schema)
            .parquet(in_dir)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
        )

    run_pass()
    ev.where(batch == 1).write.mode("append").parquet(in_dir)
    run_pass()

    return (
        spark.read.parquet(snap_dir(state["version"]))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("latest_ts"),
            F.col("value").alias("latest_value"),
        )
    )
