"""Spark 4 engine-surface coverage: VARIANT, lateral joins, pure SQL.

Three operators whose POINT is the engine surface they exercise — the
Spark-4-era APIs a user migrating a modern warehouse workload expects,
each with a value-level DuckDB oracle like every other query:

* ``events_props_variant_extract`` — the semi-structured VARIANT type:
  ``try_parse_json`` → ``variant_get`` typed extraction → aggregate.
  VARIANT is Spark 4's open-ended JSON column (schema-on-read without
  a declared struct); this is the path for property bags whose keys
  drift. Malformed documents parse to NULL under the ``try_`` variant
  and flow through as missing, never aborting the scan — the contract
  a 100 TB ingest needs. (relational7.py's ``events_props_typed`` is the
  declared-schema ``from_json`` sibling; both belong in the surface.)
* ``orders_lateral_topk_lines`` — ``DataFrame.lateralJoin``: the
  correlated per-row subquery (top-2 highest-price lineitems PER
  order) expressed as a lateral, the Spark-4 DataFrame form of
  ``JOIN LATERAL``. The oracle runs DuckDB's actual LATERAL. At scale
  Catalyst rewrites this shape into a window/rank — the plan the
  explicit window form produces — so the lateral is API breadth, not
  a new physical strategy, and that is exactly what the test pins.
* ``sql_cte_window_subquery`` — the pure-SQL entry: one
  ``spark.sql`` text combining a CTE, a correlated scalar subquery,
  and a ranking window over DataFrames passed as ``spark.sql``
  arguments. Everything else in the engine
  is DataFrame-first; this proves the equivalent SQL text plans and
  executes identically (same Catalyst, same physical operators).

Determinism: all three surface exact integers/strings; money rides as
BIGINT cents so the SQL query's above-average predicate is an integer
cross-multiplication (a float average would flip at a summation-order
boundary); the lateral top-k and SQL rank both tie-break on keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load

_TOPK = 2


@register(
    "events_props_variant_extract",
    oracle="""
        WITH ext AS (
            SELECT event_type,
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
            WHERE event_type IS NOT NULL
              AND props IS NOT NULL AND json_valid(props)
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_with_k,
               CAST(sum(k) AS BIGINT) AS k_sum,
               CAST(max(k) AS BIGINT) AS k_max
        FROM ext
        WHERE k IS NOT NULL
        GROUP BY event_type
    """,
    description="Spark 4 VARIANT path: try_parse_json -> variant_get "
    "typed extraction -> aggregate, the schema-on-read property-bag "
    "contract (malformed JSON and missing keys flow through as NULL, "
    "never aborting the scan — try_ semantics); per-type count/sum/max "
    "of the extracted integer, all BIGINT-exact",
)
def events_props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("props").isNotNull()
    )
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


@register(
    "orders_lateral_topk_lines",
    oracle=f"""
        SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM orders o,
        LATERAL (
            SELECT l_linenumber, l_extendedprice
            FROM lineitem
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber
            LIMIT {_TOPK}
        ) l
        WHERE o.o_orderstatus = 'O'
    """,
    description=f"Spark 4 DataFrame.lateralJoin: the top-{_TOPK} "
    "highest-price lineitems PER open order as a correlated lateral "
    "subquery (price-desc, linenumber tie-break) — the API-breadth "
    "twin of the window/rank form Catalyst rewrites it into; exact "
    "column values, no aggregation",
)
def orders_lateral_topk_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select("o_orderkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    inner = (
        li.where(F.col("l_orderkey") == F.col("o_orderkey").outer())
        .orderBy(F.col("l_extendedprice").desc(), "l_linenumber")
        .limit(_TOPK)
        .select("l_linenumber", "l_extendedprice")
    )
    return orders.lateralJoin(inner).select(
        "o_orderkey", "l_linenumber", "l_extendedprice"
    )


@register(
    "sql_cte_window_subquery",
    oracle="""
        WITH nat AS (
            SELECT c.c_custkey, n.n_name
            FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        ),
        spend AS (
            SELECT o.o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders o WHERE o.o_totalprice IS NOT NULL
            GROUP BY o.o_custkey
        ),
        pop AS (
            SELECT CAST(count(*) AS BIGINT) AS n_cust,
                   CAST(sum(cents) AS BIGINT) AS all_cents
            FROM spend
        )
        SELECT n_name, c_custkey, n_orders, total_spend, rnk
        FROM (
            SELECT nat.n_name, nat.c_custkey, s.n_orders,
                   CAST(round(s.cents / 100.0, 2) AS DOUBLE) AS total_spend,
                   CAST(row_number() OVER (
                        PARTITION BY nat.n_name
                        ORDER BY s.cents DESC, nat.c_custkey
                   ) AS BIGINT) AS rnk
            FROM nat JOIN spend s ON s.o_custkey = nat.c_custkey
            CROSS JOIN pop
            WHERE s.cents * pop.n_cust > pop.all_cents
        ) ranked
        WHERE rnk <= 3
    """,
    description="the pure-SQL engine surface: one spark.sql text over "
    "its three tables passed as DataFrame arguments, combining a CTE, "
    "a correlated-scalar subquery (spend above the all-customer "
    "average), and a per-nation ranking window "
    "keeping each nation's top-3 spenders — proves SQL text plans "
    "through the same Catalyst pipeline as the DataFrame surface; "
    "money carried as BIGINT cents so the above-average predicate is "
    "an integer cross-multiplication, rank tie-broken on custkey",
)
def sql_cte_window_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        WITH nat AS (
            SELECT c.c_custkey, n.n_name
            FROM {customer} c JOIN {nation} n ON n.n_nationkey = c.c_nationkey
        ),
        spend AS (
            -- money as BIGINT cents: the above-average predicate is an
            -- integer cross-multiplication (cents*n > total), immune to
            -- the float-average boundary that a sum-order difference
            -- between engines would otherwise flip
            SELECT o.o_custkey, count(*) AS n_orders,
                   sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                       AS cents
            FROM {orders} o WHERE o.o_totalprice IS NOT NULL
            GROUP BY o.o_custkey
        ),
        pop AS (
            SELECT count(*) AS n_cust, sum(cents) AS all_cents FROM spend
        )
        SELECT n_name, c_custkey, n_orders, total_spend, rnk
        FROM (
            SELECT nat.n_name, nat.c_custkey, s.n_orders,
                   CAST(round(s.cents / 100.0, 2) AS DOUBLE) AS total_spend,
                   CAST(row_number() OVER (
                        PARTITION BY nat.n_name
                        ORDER BY s.cents DESC, nat.c_custkey
                   ) AS BIGINT) AS rnk
            FROM nat JOIN spend s ON s.o_custkey = nat.c_custkey
            CROSS JOIN pop
            WHERE s.cents * pop.n_cust > pop.all_cents
        ) ranked
        WHERE rnk <= 3
        """,
        customer=load(spark, sf_dir, "customer"),
        nation=load(spark, sf_dir, "nation"),
        orders=load(spark, sf_dir, "orders"),
    )
