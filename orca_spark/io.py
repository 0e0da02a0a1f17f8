"""ORC (and parquet) sources/sinks — the heart of the reference.

The reference encodes row-seqs to ORC through hand-managed
``VectorizedRowBatch``es (``/root/reference/src/orca/core.clj:622-671``)
and decodes ORC to columnar frames (``core.clj:60-89``). Spark's
vectorized ORC datasource does the batching, null bitmaps, stripe
flushing, compression, and predicate pushdown natively, so the module
surface is thin option-mapping:

* ``:overwrite?``      → ``mode("overwrite")``       (core.clj:627-628)
* ``:stripe-size``     → ``orc.stripe.size``         (core.clj:632-635)
* ``:row-index-stride``→ ``orc.row.index.stride``    (core.clj:632-635)
* ``:batch-size``      → internal to Spark's writer (always vectorized;
  the reference's 1024-row default, core.clj:670, has no user knob here)
* compression          → ``option("compression", ...)`` — reference
  golden files show ZLIB and uncompressed (test-resources/*.orc)

Row-seq writes (``write-rows``, core.clj:662-671) batch rows
column-wise before encoding, as the reference fills
``VectorizedRowBatch``es (core.clj:637-638,670): :func:`rows_to_df`
checks and converts each row with Spark's own verifier and converters,
builds one Arrow array per column, and hands the table to
``createDataFrame``, so rows reach the JVM as Arrow record batches
with no pickling and no Python worker.

Error-tolerant writes (bad cell → null + warn, core.clj:443-450) are
reproduced by :func:`coerce_or_null` — an explicit ``try_cast``
projection, because Spark's writer (correctly) throws on type
mismatches. Nested cells are kept when they verify against their
column's type and nulled otherwise.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal
from typing import Any, Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import _create_converter, _make_type_verifier


def write_orc(
    df: DataFrame,
    path: str,
    *,
    overwrite: bool = True,
    stripe_size: int | None = None,
    row_index_stride: int | None = None,
    compression: str | None = None,
    partition_by: list[str] | None = None,
    orc_options: dict | None = None,
    memory_pool: float | None = None,
    enforce_buffer_size: bool | None = None,
) -> None:
    """Write a DataFrame as ORC with the reference's writer knobs.

    Distributed sink: each task writes its partition as an ORC file;
    ``partition_by`` produces hive-style directory partitioning for
    partition pruning on later reads (essential at 100 TB).

    ``orc_options`` passes any further ``orc.*`` table properties through
    (e.g. ``orc.compress.size``, ``orc.bloom.filter.columns``).
    ``memory_pool`` (fraction of heap the ORC writers may buffer,
    ``:orc-memory-pool``) and ``enforce_buffer_size``
    (``:enforce-buffer-size?``) mirror core.clj:624-635: the former is a
    JVM-wide hadoop conf (applied to the session, since the ORC memory
    manager is per-JVM), the latter a per-write option.
    """
    hconf = None
    prev_pool = None
    if memory_pool is not None:
        # must go to the live hadoop conf: spark.hadoop.* session confs
        # are only read at context startup. Save the previous value and
        # restore it after the write — the conf is JVM-wide, and leaving
        # it set would silently apply this write's knob to every later
        # ORC write in the session.
        hconf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
        prev_pool = hconf.get("hive.exec.orc.memory.pool")
        hconf.set("hive.exec.orc.memory.pool", str(memory_pool))
    writer = df.write.mode("overwrite" if overwrite else "errorifexists")
    if enforce_buffer_size is not None:
        writer = writer.option(
            "orc.buffer.size.enforce", "true" if enforce_buffer_size else "false"
        )
    for k, v in (orc_options or {}).items():
        writer = writer.option(k, str(v))
    if stripe_size is not None:
        writer = writer.option("orc.stripe.size", str(stripe_size))
    if row_index_stride is not None:
        writer = writer.option("orc.row.index.stride", str(row_index_stride))
    if compression is not None:
        # reference files show ZLIB + uncompressed; Spark also offers
        # snappy/zstd/lz4 — zstd is the right default at scale.
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.orc(path)
    finally:
        if hconf is not None:
            if prev_pool is None:
                hconf.unset("hive.exec.orc.memory.pool")
            else:
                hconf.set("hive.exec.orc.memory.pool", prev_pool)


def read_orc(spark: SparkSession, path: str, *, merge_schema: bool = False) -> DataFrame:
    """Open ORC file(s) as a DataFrame (``read-vectors``, core.clj:79-89).

    Schema comes from the footer; scans are vectorized with predicate
    pushdown and column pruning. ``merge_schema=True`` unions struct
    fields across files (the cross-file half of the reference's
    merge lattice, core.clj:378-429).
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.orc(path)


def read_frame(spark: SparkSession, path: str) -> dict[str, list]:
    """ORC file → driver-side columnar frame ``{col → list}``.

    Exact analog of the reference's ``read-vectors`` return value
    (core.clj:79-89). Only for small results — the distributed answer
    is :func:`read_orc`.
    """
    from orca_spark.frame import to_frame

    return to_frame(read_orc(spark, path))


def write_rows(
    spark: SparkSession,
    path: str,
    rows: Iterable[Any],
    schema: str | T.StructType,
    *,
    overwrite: bool = True,
    lenient: bool = False,
    **orc_opts: Any,
) -> None:
    """Row-seq → ORC file (``write-rows``, core.clj:662-671).

    ``rows`` may be dicts (fields matched by name) or tuples
    (positional), matching the reference's map/sequential row writers
    (core.clj:610-620). ``schema`` is a DDL string or StructType —
    the reference likewise takes an explicit schema (core.clj:626).
    Rows reach the JVM as Arrow record batches, the analog of the
    reference's ``VectorizedRowBatch`` (core.clj:637-638,670); see
    :func:`rows_to_df`. ``lenient=True`` reproduces the reference's
    cell-error→null tolerance (core.clj:443-450), nested columns
    included.
    """
    write_orc(rows_to_df(spark, rows, schema, lenient=lenient), path, overwrite=overwrite, **orc_opts)


def rows_to_df(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: str | T.StructType,
    *,
    lenient: bool = False,
) -> DataFrame:
    """Driver-side rows → DataFrame, as Arrow record batches.

    The one way ``orca_spark`` builds a frame from local rows: the
    DataFrame :func:`write_rows` writes, and every operator's small
    driver-built table (merge lists, centroids, query batches). No row
    is pickled through a Python worker.

    Strict rows pass the check ``createDataFrame(..., verifySchema=True)``
    runs (a bad cell raises). Lenient rows keep the reference's
    bad-cell → null rule: scalar cells are stringified and cast with
    :func:`coerce_or_null`; a nested (array, map, struct) cell is kept
    when Spark's verifier accepts it for its column's type, else null.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    if not lenient:
        verify = _make_type_verifier(schema)
        for r in rows:
            verify(r)
        return _arrow_df(spark, rows, schema)
    raw = T.StructType(
        [T.StructField(f.name, f.dataType if _nested(f.dataType) else T.StringType()) for f in schema.fields]
    )
    cells = [_keep_if_valid(f.dataType) if _nested(f.dataType) else _stringify for f in schema.fields]
    names = schema.names
    lenient_rows = []
    for r in rows:
        vals = [r.get(n) for n in names] if isinstance(r, dict) else list(r) + [None] * (len(names) - len(r))
        lenient_rows.append(tuple(cell(v) for cell, v in zip(cells, vals)))
    return coerce_or_null(_arrow_df(spark, lenient_rows, raw), schema)


def _nested(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.ArrayType, T.MapType, T.StructType))


def _stringify(v: Any) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"  # JVM-style, not Python's 'True'
    return str(v)


def _keep_if_valid(dtype: T.DataType) -> Callable[[Any], Any]:
    verify = _make_type_verifier(dtype)

    def keep(v):
        try:
            verify(v)
        except (TypeError, ValueError):  # PySpark's type/value errors subclass these
            return None
        return v

    return keep


def _arrow_df(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Verified rows → DataFrame through one Arrow array per column.

    Each row goes through Spark's ``_create_converter`` and
    ``StructType.toInternal``, as ``createDataFrame(list)`` does, so
    values keep their meaning: timestamps become Spark's internal UTC
    microseconds (naive datetimes read in local time), dates epoch days.
    Maps travel as arrays of key/value structs and are rebuilt with
    ``map_from_entries``: Spark re-assembles a nested Arrow map without
    its null mask under pyarrow < 17, which would turn a null map into
    an empty one.
    """
    to_tuple = _create_converter(schema)
    internal = [schema.toInternal(to_tuple(r)) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(schema.fields)
    wire = _wire_type(schema)
    arrays = []
    for f, w, col in zip(schema.fields, wire.fields, columns):
        conv = _wire_value(f.dataType)
        values = [conv(v) for v in col] if conv else list(col)
        arrays.append(pa.array(values, type=to_arrow_type(w.dataType)))
    df = spark.createDataFrame(pa.Table.from_arrays(arrays, names=schema.names), wire)
    rebuilt = {
        f.name: _rebuild_maps(F.col(f"`{f.name.replace('`', '``')}`"), f.dataType)
        for f in schema.fields
        if _has_map(f.dataType)
    }
    return df.withColumns(rebuilt) if rebuilt else df


def _wire_type(dtype: T.DataType) -> T.DataType:
    """``dtype`` with every map replaced by an array of key/value structs."""
    if isinstance(dtype, T.MapType):
        # all nullable: Spark rebuilds nested Arrow structs with nullable fields
        entry = T.StructType(
            [
                T.StructField("key", _wire_type(dtype.keyType)),
                T.StructField("value", _wire_type(dtype.valueType)),
            ]
        )
        return T.ArrayType(entry)
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_wire_type(dtype.elementType), dtype.containsNull)
    if isinstance(dtype, T.StructType):
        return T.StructType([T.StructField(f.name, _wire_type(f.dataType), f.nullable) for f in dtype.fields])
    return dtype


_DECIMAL_CTX = Context(prec=38)  # holds any decimal(38, s), where the default 28 digits would not


def _wire_value(dtype: T.DataType) -> Callable[[Any], Any] | None:
    """Internal value → the value Arrow takes for ``_wire_type(dtype)``;
    ``None`` when the two are the same."""
    if isinstance(dtype, T.DecimalType):
        # Spark rounds HALF_UP to the column's scale; Arrow would raise
        q = Decimal(1).scaleb(-dtype.scale)
        return lambda v: None if v is None else v.quantize(q, ROUND_HALF_UP, _DECIMAL_CTX)
    if isinstance(dtype, T.ArrayType):
        conv = _wire_value(dtype.elementType)
        return conv and (lambda v: None if v is None else [conv(x) for x in v])
    if isinstance(dtype, T.MapType):
        kc = _wire_value(dtype.keyType) or _same
        vc = _wire_value(dtype.valueType) or _same
        return lambda v: None if v is None else [(kc(k), vc(x)) for k, x in v.items()]
    if isinstance(dtype, T.StructType):
        convs = [_wire_value(f.dataType) or _same for f in dtype.fields]
        if all(c is _same for c in convs):
            return None
        return lambda v: None if v is None else tuple(c(x) for c, x in zip(convs, v))
    return None


def _same(v: Any) -> Any:
    return v


def _rebuild_maps(col, dtype: T.DataType):
    """Catalyst expression turning ``col`` of ``_wire_type(dtype)`` back
    into ``dtype``."""
    if not _has_map(dtype):
        return col
    if isinstance(dtype, T.MapType):
        k, v = dtype.keyType, dtype.valueType
        if _has_map(k) or _has_map(v):
            col = F.transform(
                col,
                lambda e: F.struct(
                    _rebuild_maps(e["key"], k).alias("key"),
                    _rebuild_maps(e["value"], v).alias("value"),
                ),
            )
        return F.map_from_entries(col)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _rebuild_maps(x, dtype.elementType))
    fields = [_rebuild_maps(col[f.name], f.dataType).alias(f.name) for f in dtype.fields]
    return F.when(col.isNotNull(), F.struct(*fields))


def _has_map(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _has_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_has_map(f.dataType) for f in dtype.fields)
    return False


def coerce_or_null(df: DataFrame, target: T.StructType | str) -> DataFrame:
    """Lenient projection: each column cast to its target type, cell
    becoming NULL (never failing the job) on a bad value.

    Parity with ``write-value``'s error containment (core.clj:443-450)
    and the string-probe coercions (core.clj:278-303). Pure Catalyst
    expressions (``try_cast`` / ``try_to_timestamp``) — whole-stage
    codegen, no Python in the hot path.
    """
    if isinstance(target, str):
        target = T.StructType.fromDDL(target)
    cols = []
    for field in target.fields:
        c = F.col(field.name) if field.name in df.columns else F.lit(None)
        cols.append(_try_cast(c, field.dataType).alias(field.name))
    return df.select(*cols)


def _try_cast(col, dtype: T.DataType):
    if isinstance(dtype, T.TimestampType):
        # bare numbers are epoch-millis in the reference (core.clj:469-470);
        # check digits FIRST — Spark's try_to_timestamp would otherwise
        # read '1500' as the year 1500
        return F.when(
            col.rlike(r"^[+-]?\d+$"),
            F.timestamp_millis(col.try_cast(T.LongType())),
        ).otherwise(F.try_to_timestamp(col))
    if isinstance(dtype, T.DateType):
        return col.try_cast(T.DateType())
    return col.try_cast(dtype)
