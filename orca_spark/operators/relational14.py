"""Relational batch 14: null-safe equality joins and parameterized SQL.

``join_null_safe_eq`` — the ``<=>`` (IS NOT DISTINCT FROM) join: a
plain equi-join silently drops NULL-keyed rows from both sides, which
is exactly wrong when NULL is a legitimate group ("language unknown"
is a real cohort a curation pipeline must track, not lose). The
null-safe operator keeps NULL = NULL matches AND still compiles to a
hash join (Catalyst canonicalizes ``<=>`` into a join key), so the
semantics fix costs no plan quality — the engine-surface counterpart
of the window-over-join rule the privacy operators use.

``sql_parameterized_query`` — Spark 4's named-parameter binding
(``spark.sql(text, args={...})``): the injection-safe way to ship a
reusable SQL template; parameters bind as typed literals so constant
folding and pushdown see them exactly like inline constants.

Reference parity: core.clj has no relational/SQL surface (SURVEY
§2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load

_PRIORITY = "1-URGENT"
_MIN_TOTAL = 50_000.0


@register(
    "join_null_safe_eq",
    oracle="""
        WITH lang_stats AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS lang_n_docs
            FROM documents WHERE text IS NOT NULL
            GROUP BY lang
        )
        SELECT d.doc_id, d.lang, s.lang_n_docs
        FROM documents d
        JOIN lang_stats s ON d.lang IS NOT DISTINCT FROM s.lang
        WHERE d.text IS NOT NULL
    """,
    description="null-safe equality join (<=> / IS NOT DISTINCT FROM): "
    "every document joined to its language cohort's size INCLUDING the "
    "NULL-language cohort — a plain equi-join would silently drop the "
    "unknown-language docs, which are a real cohort a curation "
    "pipeline must track; Catalyst canonicalizes <=> into a hashable "
    "join key so the semantics fix still plans as a hash join",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    stats = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("lang_n_docs")
    )
    d = docs.alias("d")
    s = stats.alias("s")
    return d.join(s, F.col("d.lang").eqNullSafe(F.col("s.lang"))).select(
        "d.doc_id", "d.lang", "s.lang_n_docs"
    )


@register(
    "sql_parameterized_query",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(strftime(o_orderdate, '%Y') AS VARCHAR) AS year,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders
        WHERE o_orderpriority = '{_PRIORITY}'
          AND o_totalprice >= {_MIN_TOTAL}
          AND o_orderdate IS NOT NULL
        GROUP BY 1, 2
    """,
    description="named-parameter SQL (Spark 4 spark.sql(text, "
    "args={...})): a reusable priority/threshold revenue template whose "
    "parameters bind as typed literals — injection-safe AND visible to "
    "constant folding and parquet pushdown exactly like inline "
    "constants; money summed as BIGINT cents (the 2-dp exactness "
    "rule)",
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderpriority,
               date_format(o_orderdate, 'yyyy') AS year,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM {orders}
        WHERE o_orderpriority = :priority
          AND o_totalprice >= :min_total
          AND o_orderdate IS NOT NULL
        GROUP BY 1, 2
        """,
        args={"priority": _PRIORITY, "min_total": _MIN_TOTAL},
        orders=load(spark, sf_dir, "orders"),
    )
