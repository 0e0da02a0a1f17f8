"""MapType pipelines and observation-piggybacked ingest metrics.

* ``events_user_type_map_metrics`` — builds a per-user
  ``MAP<event_type, count>`` with ``map_from_entries`` and derives
  scalars through the map-function family (``map_filter``,
  ``transform_values``, ``element_at``, ``map_values`` +
  ``aggregate``) — the MapType counterpart of
  ``array_functions_showcase``, proving the map expressions stay
  codegen'd and value-exact against a plain-SQL oracle.
* ``events_observed_ingest_metrics`` — ``DataFrame.observe``: ingest
  health metrics (row/null/distinct-ish counters) accumulated as a
  side product of a pass the job was ALREADY making — at 100 TB the
  difference between free monitoring and a second table scan.

Reference parity: the reference (core.clj) has no map/metrics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.registry import register
from orca_spark.tables import load


@register(
    "events_user_type_map_metrics",
    oracle="""
        WITH cnt AS (
            SELECT user_id, event_type, count(*) AS n
            FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            GROUP BY user_id, event_type
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(count(*) FILTER (WHERE n >= 5) AS BIGINT)
                   AS n_frequent_types,
               CAST(coalesce(max(CASE WHEN event_type = 'click' THEN n END), 0)
                    AS BIGINT) AS n_clicks,
               CAST(sum(n) AS BIGINT) AS total_events,
               CAST(sum(n * n) AS BIGINT) AS sum_sq
        FROM cnt
        GROUP BY user_id
    """,
    description="per-user MAP<event_type, count> built with "
    "map_from_entries, then read back through the map-function family "
    "(size, map_filter, element_at, map_values + aggregate, "
    "transform_values) — the MapType pipeline proven value-exact "
    "against a plain relational oracle",
)
def events_user_type_map_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE (user_id, event_type) aggregation with map-side
    combine; the map is assembled per user from the already-aggregated
    counts (|types|-bounded entries per user, never raw events), and
    every derived scalar is a JVM map expression on that bounded value.

    Determinism: all outputs are integers; the map's entry order is
    engine-internal but every reader (size/filter/lookup/aggregate) is
    order-insensitive — no map is ever emitted or compared directly."""
    cnt = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = (
        cnt.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "n"))
            ).alias("m")
        )
    )
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.size(F.map_filter("m", lambda k, v: v >= 5)).cast("long").alias(
            "n_frequent_types"
        ),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0)).cast("long").alias(
            "n_clicks"
        ),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("total_events"),
        # transform_values squares each count; aggregate sums them
        F.aggregate(
            F.map_values(F.transform_values("m", lambda k, v: v * v)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("sum_sq"),
    )


@register(
    "events_observed_ingest_metrics",
    oracle="""
        SELECT CAST(count(*) AS BIGINT)                              AS n_rows,
               CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)                                       AS n_null_user,
               CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)                                       AS n_null_value,
               round(sum(coalesce(value, 0)), 4)                     AS total_value
        FROM events
    """,
    description="DataFrame.observe ingest health metrics: row count, "
    "per-column null counters and a checksum accumulated as a side "
    "product of a pass the job already makes — free monitoring vs a "
    "second scan; the observation row is the query's output so the "
    "metrics themselves are oracle-checked",
)
def events_observed_ingest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the metrics ride the SAME scan as the driving action as
    accumulator-style partial aggregates — zero extra jobs, zero extra
    shuffles; this is Spark's native answer to 'count the bad rows
    without a second pass'. The driving action here is a count()
    (cheapest possible); in production it is whatever action the job
    already runs.

    Determinism: integer counters plus one rounded float checksum
    (coalesce(value, 0) so the sum covers exactly the observed rows)."""
    from pyspark.sql import Observation

    ev = load(spark, sf_dir, "events")
    obs = Observation("ingest")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_user"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_value"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4).alias("total_value"),
    )
    observed.count()  # the driving action; metrics piggyback on its scan
    row = obs.get
    # sums over ZERO rows are NULL (None), matching the oracle's NULL —
    # coerce only non-NULL values (float(None) would crash on an empty
    # table where the oracle returns a row of NULLs + count 0)
    tv = row["total_value"]
    return rows_to_df(
        spark,
        [
            (
                row["n_rows"],
                row["n_null_user"],
                row["n_null_value"],
                float(tv) if tv is not None else None,
            )
        ],
        "n_rows long, n_null_user long, n_null_value long, total_value double",
    )
