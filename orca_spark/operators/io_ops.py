"""ORC round-trip as a verified query — the reference's core capability.

The reference is an ORC encode/decode library
(``/root/reference/src/orca/core.clj:622-671`` write,
``core.clj:79-89`` read); here the round trip runs distributed through
Spark's vectorized ORC datasource, and the oracle checks that what went
through ORC aggregates identically to the parquet original.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.io import read_orc, write_orc
from orca_spark.registry import register
from orca_spark.tables import load

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


def scratch_path(name: str, sf_dir: str) -> str:
    """Writable path for a query's side artifacts (ORC round-trips,
    persisted indexes), namespaced by corpus tag.

    The returned path is asserted to live OUTSIDE ``sf_dir``: the DuckDB
    oracles read the same corpus, and every writer in the engine goes
    through here, so corpus immutability is structural."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join(_SCRATCH, f"{name}_{tag}")
    # realpath, not abspath: a symlinked corpus (or scratch) path must
    # not slip past the containment check on spelling alone
    sf_abs = os.path.realpath(sf_dir)
    out_abs = os.path.realpath(out)
    # ValueError, not assert: the guard must hold under python -O too,
    # and must also reject out == sf_dir, not just strict descendants
    if out_abs == sf_abs or out_abs.startswith(sf_abs + os.sep):
        raise ValueError(
            f"scratch_path {out!r} would write under the immutable corpus "
            f"dir {sf_dir!r} — the DuckDB oracles read the same corpus"
        )
    return out


@register(
    "orc_roundtrip_agg",
    oracle="""
        SELECT l_returnflag,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(sum(l_quantity), 2)      AS sum_qty,
               count(*)                       AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_returnflag
    """,
    description="parquet → ORC write (zlib, reference's golden-file codec) "
    "→ ORC read → aggregate; oracle aggregates the original directly, so "
    "the hash match proves lossless ORC round-trip",
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    path = scratch_path("orc_roundtrip", sf_dir)
    write_orc(li, path, compression="zlib")
    back = read_orc(spark, path)
    return back.groupBy("l_returnflag").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "orc_roundtrip_nested",
    oracle="""
        SELECT o_orderpriority,
               count(*)                 AS n,
               round(sum(line_count), 2) AS total_lines
        FROM (
            SELECT o.o_orderkey, o.o_orderpriority,
                   CAST(count(l.l_orderkey) AS DOUBLE) AS line_count
            FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority
        )
        GROUP BY o_orderpriority
    """,
    description="ORC round-trip of nested types (array<struct> lines per "
    "order) — exercises list/struct vectors (reference core.clj:540-579); "
    "oracle checks the re-flattened aggregate",
)
def orc_roundtrip_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # build a nested row: order + array of line structs
    nested = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            # when() → null for unmatched orders; collect_list drops nulls,
            # so orders with no lines get an empty array (matches the
            # oracle's count(l.l_orderkey) = 0)
            F.collect_list(
                F.when(
                    li.l_orderkey.isNotNull(),
                    F.struct("l_linenumber", "l_quantity", "l_extendedprice"),
                )
            ).alias("lines")
        )
    )
    path = scratch_path("orc_nested", sf_dir)
    write_orc(nested, path, compression="zlib")
    back = read_orc(spark, path)
    return (
        back.select(
            "o_orderpriority", F.size("lines").cast("double").alias("line_count")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("line_count"), 2).alias("total_lines"),
        )
    )
