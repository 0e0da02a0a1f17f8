"""Time-series diagnostics over the events stream: autocorrelation,
seasonality, and per-user lifecycle.

* ``events_acf_hourly`` — sample autocorrelation of the DENSE hourly
  event-count series at lags 1, 2, 3, 24: the standard pre-modeling
  diagnostic (lag-24 ≫ 0 means daily seasonality; fast decay means the
  series is noise-dominated and a smoother is warranted before any
  anomaly rule).
* ``events_seasonality_index`` — the (iso-dow, hour) seasonal index:
  each of the 168 week-slots' share of traffic relative to a uniform
  week. The capacity-planning / anomaly-baseline table (an alert
  threshold that ignores a 5× Friday-evening index pages people for
  weather).
* ``events_user_lifecycle`` — per-user first/last activity, active
  days, lifespan, and a recency status bucket (active / lapsing /
  churned vs the corpus' last observed day): the churn-analysis base
  table.

Determinism: hourly/slot counts are BIGINT; the ACF and index values
are arithmetic over those exact integers (both engines evaluate the
identical IEEE expression), rounded at the surface; lifecycle is all
integer/date arithmetic with date surfaces emitted as ISO strings
(the engine's cross-engine date convention). The hour spine is
generated min..max so zero-count hours participate in the ACF exactly
as a real series requires — Spark ``sequence`` and DuckDB
``generate_series`` produce the identical closed interval.

Scale: the raw scan aggregates immediately to hour (or slot, or user)
granularity — everything downstream is series-sized (one row per hour:
a DECADE of hours is ~88k rows), so the lag joins and spine
generation are model-sized no matter the corpus. The per-user table
shuffles once on user_id with map-side partial aggregation.

Reference parity: core.clj has no time-series surface; these are
LLM-pipeline extensions (ops telemetry for training-data ingest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.registry import register
from orca_spark.tables import load

_ACF_LAGS = (1, 2, 3, 24)

# recency buckets (days since corpus max date)
_ACTIVE_D = 7
_LAPSING_D = 30


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (hour_idx, n) hourly count series: hour_idx = epoch//3600
    of the hour-truncated ts (BIGINT join key — integer lag arithmetic
    instead of interval arithmetic), zero-filled over the min..max
    closed span. Event-time garbage (NULL, pre-epoch, absurd-future) is
    excluded explicitly — a single year-9999 row would otherwise blow
    the spine to 70M rows (the engine's standard stream-hygiene rule)."""
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit("1970-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
    )
    counts = ev.select(
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / F.lit(3600))
        .cast("long")
        .alias("h")
    ).groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    span = counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = span.select(
        F.explode(F.sequence("lo", "hi")).alias("h")
    )
    return spine.join(counts, "h", "left").select(
        "h", F.coalesce("n", F.lit(0).cast("long")).alias("n")
    )


@register(
    "events_acf_hourly",
    oracle=f"""
        WITH counts AS (
            SELECT CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
            WHERE ts IS NOT NULL
              AND ts >= TIMESTAMP '1970-01-01'
              AND ts < TIMESTAMP '2100-01-01'
            GROUP BY 1
        ),
        spine AS (
            SELECT unnest(generate_series((SELECT min(h) FROM counts),
                                          (SELECT max(h) FROM counts))) AS h
        ),
        series AS MATERIALIZED (
            SELECT s.h, COALESCE(c.n, 0) AS n
            FROM spine s LEFT JOIN counts c USING (h)
        ),
        lags AS (SELECT unnest([{", ".join(str(k) for k in _ACF_LAGS)}]) AS lag),
        pairs AS (
            SELECT l.lag, a.n AS x, b.n AS y
            FROM lags l
            JOIN series a ON true
            JOIN series b ON b.h = a.h + l.lag
        ),
        sums AS (
            SELECT lag,
                   CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy,
                   CAST(sum(x * y) AS BIGINT) AS sxy
            FROM pairs GROUP BY lag
        )
        SELECT lag, m AS n_pairs,
               round((m * sxy - sx * sy)
                     / nullif(sqrt((m * sxx - sx * sx) * 1.0
                                   * (m * syy - sy * sy)), 0), 4) AS acf
        FROM sums
    """,
    description="sample autocorrelation of the dense zero-filled hourly "
    "event-count series at lags 1/2/3/24 (Pearson over the n-k "
    "overlapping pairs): the pre-modeling diagnostic — a strong lag-24 "
    "certifies daily seasonality, fast decay flags noise; every moment "
    "is a BIGINT sum over exact integer counts so the correlation is "
    "the identical IEEE expression in both engines, rounded at the "
    "surface; the series is time-length-sized (a decade ~ 88k rows) so "
    "the lag joins are model-sized at any corpus scale",
)
def events_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = _hourly_series(spark, sf_dir).localCheckpoint(eager=False)
    lags = rows_to_df(spark, [(k,) for k in _ACF_LAGS], "lag int")
    shifted = series.select(F.col("h").alias("h2"), F.col("n").alias("y"))
    pairs = (
        series.crossJoin(F.broadcast(lags))
        .join(shifted, F.col("h2") == F.col("h") + F.col("lag"))
        .select("lag", F.col("n").alias("x"), "y")
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "lag",
        F.col("m").alias("n_pairs"),
        F.round(num / F.nullif(den, F.lit(0.0)), 4).alias("acf"),
    )


@register(
    "events_seasonality_index",
    oracle="""
        WITH slots AS (
            SELECT isodow(ts) AS dow_iso, CAST(hour(ts) AS INTEGER) AS hod,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events WHERE ts IS NOT NULL
            GROUP BY 1, 2
        ),
        spine AS (
            SELECT d.dow_iso, h.hod
            FROM (SELECT unnest(generate_series(1, 7)) AS dow_iso) d
            CROSS JOIN (SELECT CAST(unnest(generate_series(0, 23)) AS INTEGER) AS hod) h
        ),
        filled AS (
            SELECT s.dow_iso, s.hod, COALESCE(t.n_events, 0) AS n_events
            FROM spine s LEFT JOIN slots t USING (dow_iso, hod)
        ),
        total AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM filled)
        SELECT dow_iso, hod, n_events,
               round(n_events * 168.0 / nullif(tot, 0), 4) AS seasonal_idx
        FROM filled CROSS JOIN total
    """,
    description="the 168-slot (ISO weekday x hour) seasonal index: each "
    "slot's event count and its traffic share relative to a uniform "
    "week (idx = n*168/total; 1.0 = flat, 5.0 = a 5x peak slot) — the "
    "anomaly-baseline / capacity table; zero slots kept via the "
    "generated spine, counts BIGINT, index a ratio of exact integers "
    "rounded at the surface; one scan aggregating straight to 168 rows",
)
def events_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # Spark weekday(): 0 = Monday; ISO dow = weekday + 1 (DuckDB isodow)
    slots = ev.select(
        (F.weekday("ts") + 1).alias("dow_iso"),
        F.hour("ts").alias("hod"),
    ).groupBy("dow_iso", "hod").agg(F.count(F.lit(1)).alias("n_events"))
    spine = (
        spark.range(1, 8)
        .select(F.col("id").cast("int").alias("dow_iso"))
        .crossJoin(
            spark.range(0, 24).select(F.col("id").cast("int").alias("hod"))
        )
    )
    filled = spine.join(slots, ["dow_iso", "hod"], "left").select(
        "dow_iso",
        "hod",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
    )
    total = filled.agg(F.sum("n_events").alias("tot"))
    return filled.crossJoin(F.broadcast(total)).select(
        "dow_iso",
        "hod",
        "n_events",
        F.round(
            F.col("n_events") * F.lit(168.0) / F.nullif(F.col("tot"), F.lit(0)), 4
        ).alias("seasonal_idx"),
    )


@register(
    "events_user_lifecycle",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
                   min(CAST(ts AS DATE)) AS first_d,
                   max(CAST(ts AS DATE)) AS last_d
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
            GROUP BY user_id
        ),
        corpus AS (SELECT max(last_d) AS max_d FROM per_user)
        SELECT user_id, n_events, active_days,
               CAST(first_d AS VARCHAR) AS first_seen,
               CAST(last_d AS VARCHAR) AS last_seen,
               CAST(last_d - first_d AS BIGINT) AS lifespan_days,
               CAST(max_d - last_d AS BIGINT) AS days_since_last,
               CASE WHEN max_d - last_d <= {_ACTIVE_D} THEN 'active'
                    WHEN max_d - last_d <= {_LAPSING_D} THEN 'lapsing'
                    ELSE 'churned' END AS status
        FROM per_user CROSS JOIN corpus
    """,
    description="per-user lifecycle base table: first/last seen (ISO "
    f"date strings), active days, lifespan, recency vs the corpus max "
    f"date, and a status bucket (active <= {_ACTIVE_D}d, lapsing <= "
    f"{_LAPSING_D}d, else churned) — the churn-analysis input; all "
    "integer/date arithmetic, one user_id-keyed shuffle with map-side "
    "partials, the corpus max date a broadcast scalar",
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.min(F.to_date("ts")).alias("first_d"),
        F.max(F.to_date("ts")).alias("last_d"),
    )
    corpus = per_user.agg(F.max("last_d").alias("max_d"))
    gap = F.datediff(F.col("max_d"), F.col("last_d"))
    return per_user.crossJoin(F.broadcast(corpus)).select(
        "user_id",
        "n_events",
        "active_days",
        F.col("first_d").cast("string").alias("first_seen"),
        F.col("last_d").cast("string").alias("last_seen"),
        F.datediff("last_d", "first_d").cast("long").alias("lifespan_days"),
        gap.cast("long").alias("days_since_last"),
        F.when(gap <= _ACTIVE_D, F.lit("active"))
        .when(gap <= _LAPSING_D, F.lit("lapsing"))
        .otherwise(F.lit("churned"))
        .alias("status"),
    )
