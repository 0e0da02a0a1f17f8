"""Test-table loaders for the driver's synthetic TPC-H-ish star schema."""

from __future__ import annotations

import json

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

    The schema comes from :func:`parquet_schema`: one footer read, no
    job. The resolved relation is memoized in ``orca_spark.memo``;
    queries still plan and scan anew.
    """
    key = ("relation", spark.sparkContext.applicationId, name)
    return memo.cached(sf_dir, key, lambda: _read(spark, sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    return normalize_timestamps(spark.read.schema(parquet_schema(spark, path)).parquet(path))


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Every timestamp column of a parquet read as a TIMESTAMP (µs).

    The repository's corpora store events.ts as TIMESTAMP(MICROS), which
    Spark reads as TIMESTAMP directly. The bigint branch is the
    defensive path for an external corpus written as TIMESTAMP(NANOS):
    Spark's parquet reader rejects NANOS by default, so it reads as a
    long (legacy conf set in configure_session) and is truncated to
    microseconds — exactly what DuckDB does when it surfaces the column
    as TIMESTAMP (µs). Works on batch and streaming frames alike.
    """
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


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The data schema ``spark.read.parquet(path)`` infers, without its
    job. Partition columns of a ``key=value`` directory tree are not part
    of it: ``spark.read.schema(...)`` adds them from the paths, as it
    does after inference.

    With ``mergeSchema`` off, Spark's inference (``ParquetUtils
    .inferSchema``) runs a one-task job that reads ONE footer:
    ``_common_metadata``, else ``_metadata``, else the first data file
    by path. This reads that footer on the driver and converts it with
    Spark's own ``ParquetFileFormat.readSchemaFromFooter`` and a
    converter built from the session's conf, so the Spark row-metadata
    key, ``nanosAsLong``, ``inferTimestampNTZ`` and ``binaryAsString``
    apply as they do there.
    """
    jvm = spark._jvm  # noqa: SLF001
    state = spark._jsparkSession.sessionState()  # noqa: SLF001
    conf = state.newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    status = fs.getFileStatus(root)
    footer = status.getPath() if status.isFile() else _footer_file(fs, status.getPath())
    if footer is None:
        raise ValueError(f"Unable to infer schema for Parquet at {path}: no data files")
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(footer, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(footer, meta),
        pq.ParquetToSparkSchemaConverter(state.conf()),
    )
    # a file source's relation schema is all-nullable (``asNullable``)
    return T.StructType.fromJson(json.loads(schema.toNullable().json()))


# inference's order of preference: summary files first, then data files
_FOOTER_RANK = {"_common_metadata": 0, "_metadata": 1}


def _footer_file(fs, root):
    """The one file whose footer Spark's inference reads under ``root``
    (see :func:`parquet_schema`), first by path within its rank; ``None``
    when there is none. The listing skips what a file index skips: names
    starting with ``_`` (unless they hold ``=``) or ``.``, and
    ``._COPYING_`` files — summary files excepted."""
    files, dirs = [], [root]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            path = st.getPath()
            name = path.getName()
            hidden = (
                (name.startswith("_") and "=" not in name)
                or name.startswith(".")
                or name.endswith("._COPYING_")
            )
            if hidden and not name.startswith(tuple(_FOOTER_RANK)):
                continue
            if st.isDirectory():
                dirs.append(path)
            else:
                files.append((_FOOTER_RANK.get(name, 2), path.toString(), path))
    return min(files, key=lambda f: f[:2])[2] if files else None


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
