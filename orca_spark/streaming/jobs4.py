"""Streaming batch 4: checkpointed incremental ingest — the
"incremental batch" topology that processes a growing directory
exactly once per file across separate job INVOCATIONS.

The other streaming jobs prove semantics within one run.  This one
proves the property production pipelines actually rely on: the
checkpoint carries the processed-file log across restarts, so run N+1
touches only files that arrived since run N — reprocessing cost is
proportional to the NEW data, never the table.  At 100 TB that is the
difference between a nightly job reading 1 TB and one reading 100.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.streaming.jobs import drain


def run_available_now(
    spark: SparkSession, in_dir: str, schema, out_dir: str, ckpt: str
) -> int:
    """One incremental pass: stream whatever is new in ``in_dir`` into
    the exactly-once parquet sink, return rows processed THIS pass."""
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = drain(
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    return sum(int(p["numInputRows"]) for p in q.recentProgress)


@register(
    "streaming_incremental_ingest",
    oracle="""
        SELECT event_type,
               count(*)             AS n,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY event_type
    """,
    description="checkpointed incremental ingest: the events table "
    "arrives as two separate file batches; two availableNow runs share "
    "one checkpoint, so the second run processes ONLY the new files "
    "(asserted in tests/test_streaming.py via per-run numInputRows) "
    "and the exactly-once parquet sink accumulates each row once — "
    "the grow-only directory topology where reprocessing cost tracks "
    "new data, not table size",
)
def streaming_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_spark.operators.io_ops import scratch_path
    from orca_spark.tables import load

    base = scratch_path("incr_ingest", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"

    ev = load(spark, sf_dir, "events")  # ts already µs-normalized
    # coalesce: the two batches must PARTITION the table — a NULL
    # event_id satisfies neither `% 2 == 0` nor `% 2 == 1` and would be
    # silently dropped from the ingest
    # pmod, not %: Spark's % takes the dividend's sign, so a negative
    # odd id would yield -1 and fall out of both batches
    batch = F.coalesce(F.pmod(F.col("event_id"), F.lit(2)), F.lit(0))
    ev.where(batch == 0).write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    run_available_now(spark, in_dir, schema, out_dir, ckpt)
    # the "next day": more files land in the same directory
    ev.where(batch == 1).write.mode("append").parquet(in_dir)
    run_available_now(spark, in_dir, schema, out_dir, ckpt)

    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
