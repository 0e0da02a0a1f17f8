"""Operational health: monthly return rates.

``lineitem_return_rates`` — monthly return-flag share per ship month:
the merchandising health series (a rising 'R' share is the earliest
quality regression signal in order data), reported with line counts so
small months can't masquerade as trends.

Determinism: BIGINT count arithmetic end to end; the share divides
exact integers (identical doubles both engines) and rounds at the
surface.

Scale: one map-side-combinable aggregation to month cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load


@register(
    "lineitem_return_rates",
    oracle="""
        SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
                   AS ym,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned,
               round(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                     * 100.0 / count(*), 4) AS return_pct
        FROM lineitem
        WHERE l_shipdate IS NOT NULL AND l_returnflag IS NOT NULL
        GROUP BY 1
    """,
    description="monthly return-flag share over shipped lines: the "
    "merchandising quality series (a rising 'R' share is the earliest "
    "regression signal in order data), with line counts so thin months "
    "can't read as trends; one aggregation to month cardinality, "
    "BIGINT counts, share rounded at the surface",
)
def lineitem_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull() & F.col("l_returnflag").isNotNull()
    )
    ret = F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
    n = F.count(F.lit(1))
    return li.groupBy(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ym")
    ).agg(
        n.alias("n_lines"),
        ret.cast("long").alias("n_returned"),
        F.round(ret * F.lit(100.0) / n, 4).alias("return_pct"),
    )
