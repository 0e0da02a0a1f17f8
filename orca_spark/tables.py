"""Test-table loaders for the driver's synthetic TPC-H-ish star schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orca_spark import memo

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet scan — columnar, pushdown-capable.

    Filters/projections applied by callers reach the scan via Catalyst
    (check ``PushedFilters``/``ReadSchema`` in ``.explain``), so at
    100 TB a query touching 2 columns of lineitem reads 2 column chunks,
    not the table.

    The resolved relation (file listing + footers, ~0.1-0.3 s per read)
    is memoized in ``orca_spark.memo``; queries still plan and scan anew.
    """
    key = ("relation", spark.sparkContext.applicationId, name)
    return memo.cached(sf_dir, key, lambda: _read(spark, sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # The repository's corpora store events.ts as TIMESTAMP(MICROS), which
    # Spark reads as TIMESTAMP directly. The bigint branch is the
    # defensive path for an external corpus written as TIMESTAMP(NANOS):
    # Spark's parquet reader rejects NANOS by default, so it reads as a
    # long (legacy conf set in configure_session) and is truncated to
    # microseconds — exactly what DuckDB does when it surfaces the column
    # as TIMESTAMP (µs).
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Defensive: if the session reads naive parquet timestamps as
            # TIMESTAMP_NTZ (inferTimestampNTZ on), normalize to TIMESTAMP —
            # under the UTC session tz this is value-preserving, and
            # watermarks / unix_micros / window ops require TIMESTAMP.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def widen(df: DataFrame) -> DataFrame:
    """Repartition to executor width ONLY when the input is narrower
    (single-row-group files at test scale). At cluster scale a scan
    already has thousands of splits — an unconditional repartition
    there would shuffle the whole table just to REDUCE parallelism to
    the core count.

    Precondition: ``df`` is scan-rooted (the operators' table loaders).
    The split estimate is the scan's FILE list — ``df.rdd
    .getNumPartitions()`` would be exact but forces physical planning on
    every call, and under AQE can partially execute a plan containing
    an exchange. File count under-counts splits only for files larger
    than ``maxPartitionBytes`` — inputs already wider than the core
    count, where skipping the repartition is the right call anyway. A
    non-scan input (no files, e.g. ``createDataFrame`` in tests) is
    returned as-is: such frames are born at ``defaultParallelism``.

    The target is ``defaultParallelism`` (executor width), NOT
    ``spark.sql.shuffle.partitions``, deliberately (ADVICE r12): widen
    exists to spread SCAN-SIDE per-row compute (fan-outs, hash chains)
    over the cores before the first exchange; every downstream shuffle
    re-keys at the session's shuffle width regardless, so matching it
    here would buy nothing while making the scan stage's task count
    depend on a tuning knob rather than the hardware.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < par:
        return df.repartition(par)
    return df
