"""Incremental aggregate maintenance (materialized-view refresh).

The pattern that keeps a 100 TB rollup affordable: when new data
arrives, do NOT rescan the table — maintain the aggregate from
mergeable PARTIALS. Sums and counts add; min/max combine; avg is
derived from (sum, count) at read time, never stored (a stored avg
cannot be merged).

``ivm_incremental_agg`` demonstrates the full cycle on lineitem: the
"yesterday" half (even orderkeys) is aggregated into a partial-state
snapshot, the "today" delta (odd orderkeys) into another, and the
published view is the MERGE of the two state tables — while the
oracle recomputes the same view from the full table in one shot. The
gate therefore proves the merge algebra is exactly lossless, which is
the entire correctness burden of incremental maintenance.

The same partial-state discipline appears elsewhere in the engine:
persisted HLL sketch unions (profile2) for distinct counts, and the
streaming stateful totals (streaming.stateful) for the unbounded case.

Reference parity: the reference (core.clj) computes only whole-file
``stats`` (core.clj:220-226); incrementality is added engine surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load


def _partial_state(li: DataFrame) -> DataFrame:
    """Mergeable per-group state: every column is ADDITIVE (sum/count)
    or COMBINABLE (min/max). DECIMAL money accumulation per the engine
    convention (double partials would re-introduce summation-order
    ulps at every merge)."""
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("sum_price"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def merge_states(*states: DataFrame) -> DataFrame:
    """Merge partial-state tables: union then re-reduce with the same
    additive/combinable algebra. Associative and commutative, so any
    arrival order and any number of deltas converge to the full-scan
    result."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("n").alias("n"),
        F.sum("sum_price").alias("sum_price"),
        F.sum("sum_qty").alias("sum_qty"),
        F.min("min_ship").alias("min_ship"),
        F.max("max_ship").alias("max_ship"),
    )


@register(
    "ivm_incremental_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS sum_price,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                          AS DOUBLE) / count(*), 4) AS avg_price,
               min(l_shipdate) AS min_ship,
               max(l_shipdate) AS max_ship
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    description="incremental view maintenance: the table arrives as a "
    "base half and a delta half, each reduced to mergeable partial "
    "state (additive sums/counts in DECIMAL, combinable min/max; avg "
    "derived at read time, never stored); the published view is the "
    "state MERGE while the oracle recomputes from the full table — "
    "proving the merge algebra lossless, the whole correctness burden "
    "of never-rescan refresh",
)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: each refresh aggregates ONLY the delta (one partial-agg
    shuffle over new rows) plus a merge over two GROUP-CARDINALITY
    state tables — table size never re-enters the cost after the first
    build. Groups here are the 6-row returnflag/linestatus lattice;
    any real view with bounded group cardinality maintains the same
    way (unbounded-group views need the streaming state store path,
    jobs.py).

    Determinism: counts are integers, money partials accumulate in
    DECIMAL (exact, so merge order cannot matter), min/max are
    order-free, and avg is derived from the exact partials at publish
    time."""
    li = load(spark, sf_dir, "lineitem")
    # coalesce + pmod (as in streaming.ingest._halves): the halves must
    # PARTITION the table — a NULL or negative orderkey must land in
    # exactly one half
    half = F.coalesce(F.pmod("l_orderkey", F.lit(2)), F.lit(0))
    base = _partial_state(li.where(half == 0))
    delta = _partial_state(li.where(half == 1))
    view = merge_states(base, delta)
    return view.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round("sum_price", 2).cast("double").alias("sum_price"),
        F.round("sum_qty", 2).cast("double").alias("sum_qty"),
        # avg from the EXACT partials, derived at publish: cast the
        # decimal sum to double FIRST so both engines divide identical
        # doubles (decimal-division scale rules differ between engines)
        F.round(F.col("sum_price").cast("double") / F.col("n"), 4).alias("avg_price"),
        "min_ship",
        "max_ship",
    )
