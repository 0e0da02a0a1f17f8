"""Relational surface, batch 2: subqueries, grouping sets, unpivot,
exact percentiles, arg-extremes, and more TPC-H query shapes.

Same design rules as relational.py: declarative plans (Catalyst handles
pushdown/reorder), constant-size dims broadcast, floating aggregates
rounded identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load


@register(
    "q4_order_priority",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
    """,
    description="TPC-H Q4: EXISTS semi-join + grouped count",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate)
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q10_returned_items",
    oracle="""
        SELECT c_custkey, c_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               n_name
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    description="TPC-H Q10: returned-item revenue per customer, top 20",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle="""
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    description="TPC-H Q14: conditional-revenue ratio over a fact-dim join",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


@register(
    "correlated_subquery_above_avg",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
                                  WHERE i.o_custkey = o.o_custkey)
    """,
    description="correlated scalar subquery: orders more than 2x their "
    "customer's average (decorrelated to a join on the agg)",
)
def correlated_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    avg = o.groupBy(F.col("o_custkey").alias("k")).agg(F.avg("o_totalprice").alias("a"))
    return (
        o.join(avg, o.o_custkey == avg.k)
        .where(F.col("o_totalprice") > 2 * F.col("a"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    description="explicit GROUPING SETS (subset of cube, one expand)",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "pivot_native",
    oracle="""
        SELECT c_mktsegment,
               round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS total_F,
               round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0), 2) AS total_O,
               round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 0), 2) AS total_P
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    """,
    description="native pivot on order status (explicit value list — no "
    "extra distinct-scan pass at scale)",
)
def pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    piv = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .sum("o_totalprice")
    )
    return piv.select(
        "c_mktsegment",
        *[F.round(F.coalesce(F.col(s), F.lit(0.0)), 2).alias(f"total_{s}") for s in ["F", "O", "P"]],
    )


@register(
    "unpivot_customer_measures",
    oracle="""
        SELECT c_custkey, measure, round(val, 4) AS val
        FROM (
            SELECT c_custkey, 'acctbal' AS measure, c_acctbal AS val FROM customer
            UNION ALL
            SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
        )
    """,
    description="unpivot/melt wide columns into (measure, value) rows",
)
def unpivot_customer_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return (
        c.unpivot("c_custkey", ["acctbal", "nationkey"], "measure", "val")
        .select("c_custkey", "measure", F.round("val", 4).alias("val"))
    )


@register(
    "percentiles_exact",
    oracle="""
        SELECT l_returnflag,
               round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50,
               round(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p95,
               round(min(l_extendedprice), 4) AS lo,
               round(max(l_extendedprice), 4) AS hi
        FROM lineitem
        GROUP BY l_returnflag
    """,
    description="exact interpolated percentiles per group (at 100 TB use "
    "approx_percentile — see test_approx_stats)",
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95"),
        F.round(F.min("l_extendedprice"), 4).alias("lo"),
        F.round(F.max("l_extendedprice"), 4).alias("hi"),
    )


@register(
    "arg_extremes",
    oracle="""
        SELECT o_custkey,
               arg_max(o_orderkey, o_totalprice) AS biggest_order,
               arg_min(o_orderkey, o_totalprice) AS smallest_order
        FROM orders
        GROUP BY o_custkey
    """,
    description="arg-max/arg-min per group (max_by/min_by; single agg pass, "
    "no window shuffle)",
)
def arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE: ties on o_totalprice would be engine-dependent; o_totalprice
    # is a continuous double, collision-free in this corpus.
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
    )


@register(
    "array_agg_sorted",
    oracle="""
        SELECT n_nationkey,
               array_to_string(list(s_suppkey ORDER BY s_suppkey), ',') AS suppliers
        FROM nation JOIN supplier ON n_nationkey = s_nationkey
        GROUP BY n_nationkey
    """,
    description="grouped array aggregation with deterministic (sorted) "
    "element order; emitted as a joined string so the comparison surface "
    "is scalar (array renderings differ between engines)",
)
def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = F.broadcast(load(spark, sf_dir, "nation"))
    s = load(spark, sf_dir, "supplier")
    return (
        n.join(s, n.n_nationkey == s.s_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("s_suppkey")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("suppliers")
        )
    )
