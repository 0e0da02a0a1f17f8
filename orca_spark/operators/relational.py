"""Relational operator surface: scan/filter/project/join/agg/window/
sort/set-ops over DataFrames.

The reference has none of these (SURVEY.md §2.5) — they come free with
Spark, but each is registered as a verified query so the engine's
surface is proven against a DuckDB oracle, and each is written the way
it must be written at 100 TB:

* filters/projections first, so Catalyst pushes them into the scan;
* small dimensions (region/nation: 5 and 25 rows at any scale factor)
  broadcast explicitly; fact-fact joins left to AQE (sort-merge with
  runtime skew splitting);
* aggregates expressed with built-in functions only — whole-stage
  codegen, map-side partial aggregation, no Python in the hot path;
* every floating aggregate rounded identically in Spark and oracle so
  summation-order ulps can't flip the comparison hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load


# ---------------------------------------------------------------------------
# scan / filter / project
# ---------------------------------------------------------------------------

@register(
    "filter_project",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount), 4) AS net_price
        FROM lineitem
        WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
    description="predicate + projection pushed down to the parquet scan",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        )
    )


@register(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
    description="distinct (hash aggregate, map-side partial)",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "sort_limit",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    description="global top-k: TakeOrderedAndProject, no full sort at scale",
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition
    # top-100 then a driver merge — O(k) memory, no global shuffle.
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                        AS sum_qty,
               round(sum(l_extendedprice), 2)                                   AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               round(avg(l_quantity), 4)                                        AS avg_qty,
               round(avg(l_extendedprice), 4)                                   AS avg_price,
               round(avg(l_discount), 6)                                        AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1: wide grouped aggregate, the flagship scan+agg",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    description="TPC-H Q6: tight-range filter to a single global aggregate",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "stats_extendedprice",
    oracle="""
        SELECT round(sum(l_extendedprice), 2) AS s_sum,
               min(l_extendedprice)           AS s_min,
               max(l_extendedprice)           AS s_max,
               count(*)                       AS s_count
        FROM lineitem
    """,
    description="the reference's one aggregate: stats (core.clj:220-226); "
    "count is row count incl. nulls",
)
def stats_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.sum("l_extendedprice"), 2).alias("s_sum"),
        F.min("l_extendedprice").alias("s_min"),
        F.max("l_extendedprice").alias("s_max"),
        F.count(F.lit(1)).alias("s_count"),
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*)                  AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="hierarchical subtotals via ROLLUP (expand + single shuffle)",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*)                       AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="all grouping-set combinations via CUBE",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_distinct_count",
    oracle="""
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_customers,
               count(*)                  AS n_orders
        FROM orders
        GROUP BY o_orderpriority
    """,
    description="exact distinct count (expand + two-phase agg); at scale "
    "prefer approx_count_distinct (HLL) — see agg_approx_distinct test",
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    description="TPC-H Q3: selective dim filter → fact join → grouped top-k",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    # customer is 1.5M rows/TB-scale — shuffle join with AQE; the filtered
    # segment (~1/5) is still too big to assume broadcastable at 100 TB,
    # so no explicit broadcast hint here; AQE will pick one when it fits.
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    description="TPC-H Q5: 6-table star join; region/nation broadcast "
    "(constant-size dims), facts sort-merge under AQE",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    # region (5 rows) and nation (25 rows) are constant-size at ANY scale
    # factor — always broadcast.
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@register(
    "join_broadcast_nation",
    oracle="""
        SELECT n_name, count(*) AS n_customers,
               round(avg(c_acctbal), 4) AS avg_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    description="broadcast hash join with a constant-size dim (no shuffle "
    "of the fact side for the join)",
)
def join_broadcast_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


@register(
    "semi_join_active_customers",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    description="left-semi join (EXISTS): no row duplication, build side "
    "reduced before the join",
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "anti_join_inactive_customers",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    description="left-anti join (NOT EXISTS): customers with no big-ticket "
    "order (every customer has *some* order in this corpus, so the filter "
    "keeps the anti-join non-trivial)",
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000).select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "outer_join_order_counts",
    oracle="""
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    description="left outer join preserving customers with zero orders "
    "(count(col) skips the nulls the outer join introduces)",
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------

@register(
    "set_union",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        UNION
        SELECT o_custkey AS custkey FROM orders
    """,
    description="UNION (distinct) of key sets",
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.union(o).distinct()


@register(
    "set_intersect",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
    """,
    description="INTERSECT (distinct)",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.intersect(o)


@register(
    "set_except",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    description="EXCEPT (distinct): customers with no urgent order",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.subtract(o)  # subtract == EXCEPT DISTINCT


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------

@register(
    "window_topk_orders",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    description="top-k per group via row_number window (single shuffle on "
    "the partition key)",
)
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_running_total",
    oracle="""
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        FROM orders
    """,
    description="running sum per customer (ordered frame, deterministic "
    "accumulation order)",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "window_lag_gap",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day',
                    lag(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS BIGINT) AS days_since_prev
        FROM orders
    """,
    description="lag + date arithmetic: days since customer's previous order",
)
def window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).cast("long").alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# scalar function surface
# ---------------------------------------------------------------------------

@register(
    "scalar_string_math",
    oracle="""
        SELECT p_partkey,
               upper(p_name)                       AS name_upper,
               CAST(length(p_name) AS BIGINT)      AS name_len,
               substr(p_type, 1, 5)                AS type_prefix,
               CASE WHEN p_size >= 0
                    THEN round(sqrt(p_size), 4) END AS size_sqrt,
               round(abs(p_retailprice - 1000.0), 2) AS price_dist,
               concat(coalesce(p_brand, ''), '#', coalesce(p_type, ''))
                                                   AS brand_type
        FROM part
    """,
    description="built-in scalar functions (string/math) — all JVM-side, "
    "whole-stage codegen",
)
def scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        # negative size: NULL, aligned on both engines (Spark sqrt would
        # give NaN, DuckDB would raise — neither is the other's behavior)
        F.when(F.col("p_size") >= 0, F.round(F.sqrt("p_size"), 4)).alias("size_sqrt"),
        F.round(F.abs(F.col("p_retailprice") - 1000.0), 2).alias("price_dist"),
        # explicit coalesce: concat_ws SKIPS nulls and their separator
        # ('type' not '#type'), DuckDB concat treats them as '' — align
        F.concat(
            F.coalesce("p_brand", F.lit("")), F.lit("#"), F.coalesce("p_type", F.lit(""))
        ).alias("brand_type"),
    )


@register(
    "scalar_dates",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT)    AS order_year,
               CAST(month(o_orderdate) AS INT)   AS order_month,
               count(*)                          AS n,
               round(sum(o_totalprice), 2)       AS total
        FROM orders
        GROUP BY 1, 2
    """,
    description="date part extraction + grouped agg",
)
def scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "case_when_banding",
    oracle="""
        SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                    WHEN o_totalprice < 300000 THEN 'medium'
                    ELSE 'large' END AS price_band,
               o_orderstatus,
               count(*) AS n
        FROM orders
        GROUP BY 1, 2
    """,
    description="CASE WHEN banding + grouped count",
)
def case_when_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(band.alias("price_band"), F.col("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# revenue shares and series: ABC/Pareto classes, seasonal decomposition
# ---------------------------------------------------------------------------


@register(
    "orders_pareto_classes",
    oracle="""
        WITH rev AS (
            SELECT o_custkey,
                   sum(CAST(o_totalprice AS DECIMAL(18,4))) AS revenue
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, revenue,
                   round(CAST(sum(revenue) OVER (
                             ORDER BY revenue DESC, o_custkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW
                         ) AS DOUBLE)
                         / CAST(sum(revenue) OVER () AS DOUBLE),
                         4) AS cum_share
            FROM rev
        )
        SELECT o_custkey, CAST(round(revenue, 2) AS DOUBLE) AS revenue,
               cum_share,
               CASE WHEN cum_share <= 0.80 THEN 'A'
                    WHEN cum_share <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    """,
    description="ABC/Pareto revenue classes: decimal-exact per-customer "
    "revenue, global cumulative-share window (revenue-desc with key "
    "tiebreak), banded into A (<=80%), B (<=95%), C",
)
def orders_pareto_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the per-customer aggregate partial-aggregates map-side;
    the cumulative window is a GLOBAL sort over the aggregated (one row
    per customer) frame — the documented single-partition pinch point,
    same trade-off as any exact cumulative share. When customers
    outgrow one partition, the scalable form is the two-pass
    window_distribution_scalable pattern (per-partition partials +
    broadcast offsets) already in this engine; the classification
    logic is unchanged.

    Determinism: revenue accumulates in DECIMAL(18,4) (the relational7
    money pattern) — double sums differ from the oracle by summation
    order, and here an ulp flip would also REORDER near-equal customers
    under the revenue-desc window, cascading into every later
    cum_share. Exact decimals make the sort order and the cumulative
    sums bit-identical on both engines; the single decimal→double
    division then rounds identically, so the band CASE sees the same
    number."""
    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("revenue"))
    )
    cum = W.orderBy(F.col("revenue").desc(), "o_custkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    whole = W.partitionBy()
    ranked = rev.withColumn(
        "cum_share",
        F.round(
            F.sum("revenue").over(cum).cast("double")
            / F.sum("revenue").over(whole).cast("double"),
            4,
        ),
    )
    return ranked.select(
        "o_custkey",
        F.round("revenue", 2).cast("double").alias("revenue"),
        "cum_share",
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


_MA = 12  # centered moving-average width (months)


@register(
    "orders_seasonal_decomposition",
    oracle=f"""
        WITH monthly AS (
            SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                        AS BIGINT) AS ym,
                   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders
            WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
            GROUP BY 1
        ),
        win AS (
            SELECT ym, cents,
                   CAST(sum(cents) OVER w AS BIGINT) AS wsum,
                   CAST(count(*) OVER w AS BIGINT) AS wn
            FROM monthly
            WINDOW w AS (ORDER BY ym
                         ROWS BETWEEN {_MA // 2 - 1} PRECEDING
                                  AND {_MA // 2} FOLLOWING)
        )
        SELECT ym,
               CAST(round(cents / 100.0, 2) AS DOUBLE) AS revenue,
               CASE WHEN wn = {_MA}
                    THEN round(wsum / 100.0 / {_MA}, 4) END AS trend,
               CASE WHEN wn = {_MA}
                    THEN round(cents * {_MA} * 1.0 / wsum, 4) END
                   AS seasonal_ratio
        FROM win
    """,
    description=f"classical seasonal decomposition of monthly revenue: "
    f"centered {_MA}-month moving-average trend (NULL where the window "
    "is incomplete, never a silently-shortened average) and the "
    "month/trend seasonal ratio — the demand-planning baseline; "
    "revenue rides as BIGINT cents so every surfaced value derives "
    "from exact integers, ratios rounded at the surface; one "
    "aggregation to |months| rows, then a model-sized ordered window",
)
def orders_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    monthly = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("ym")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("cents")
    )
    w = W.orderBy("ym").rowsBetween(-(_MA // 2 - 1), _MA // 2)
    win = monthly.select(
        "ym",
        "cents",
        F.sum("cents").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    full = F.col("wn") == _MA
    return win.select(
        "ym",
        F.round(F.col("cents") / F.lit(100.0), 2).cast("double").alias("revenue"),
        F.when(full, F.round(F.col("wsum") / 100.0 / _MA, 4)).alias("trend"),
        F.when(
            full,
            F.round(F.col("cents") * _MA * F.lit(1.0) / F.col("wsum"), 4),
        ).alias("seasonal_ratio"),
    )
