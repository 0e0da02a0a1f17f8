"""The dense hour series over the ``events`` table, and every query
over it; the per-user fixed grid and its forward fill and anomaly
flags; the truncated EWMA.

``hourly_series`` is the one hour spine. It keeps event times in
[1970-01-01, 2100-01-01) (a NULL, pre-epoch or absurd-future row would
otherwise widen the spine: one year-9999 event is 70M hours), indexes
each hour as BIGINT ``epoch // 3600`` (integer lag arithmetic, not
intervals), aggregates per ``(keys, h)`` and left-joins that onto the
global min..max span, crossed with the distinct keys when there are
any. Hours with no events carry NULL aggregates: ACF, CUSUM, burn rate
and type correlation read them as zero traffic, gap interpolation as
missing. Spark ``sequence`` and DuckDB ``generate_series`` produce the
identical closed interval.

* ``events_acf_hourly`` (structure: lag-24 certifies daily
  seasonality), ``events_type_correlation_hourly`` (series vs series at
  lag 0), ``events_cusum_changepoint`` (where the rate shifted),
  ``events_slo_burn_rate`` (error share now vs the trailing 6 hours)
  and ``events_hourly_gap_interpolation`` (series repair: a collector
  outage must not read as zero demand) run on the spine.
* ``events_burst_hours`` (mean + 3 sigma per type) and
  ``events_seasonality_index`` (168 weekday x hour slots) aggregate to
  hours or slots without a spine.
* ``events_resample_ffill`` and ``events_anomaly_flags`` share the
  per-user 6-hour grid (``_user_grid``), each user's own span, never a
  global cross join.
* ``events_ewma_smoothed`` is the K-term truncation of the recursive
  EWMA: a bounded band self-join, where the infinite recursion is
  inherently sequential (its closed form needs alpha^-t, which
  overflows).

Determinism: moments and statistics are BIGINT sums over exact integer
counts with denominators cleared (burst: (n*cnt-S)^2 > 9*(n*SS-S^2);
CUSUM: S*n = n*prefix - t*total), so flags and argmaxes are exact and
only the reported ratios are doubles, rounded at the surface.

Scale: the raw scan aggregates straight to hour (or slot, or bucket)
granularity; everything downstream is time-length-sized (a decade is
~88k hours), so lag joins, windows and pair joins are model-sized at
any corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.registry import register
from orca_spark.tables import load

_ACF_LAGS = (1, 2, 3, 24)
_LONG_H = 6  # long burn window (hours)

_STEP_S = 21_600  # 6-hour buckets: ~29-day user spans -> ~120 buckets/user
_ANOM_LOOKBACK = 8
_ANOM_Z = 3.0

_K = 8  # window length (terms)
# decay as an exact dyadic rational (α = 1/2): every weight α^j is a
# power of two, so weight·value products are EXACT in IEEE double and
# the weighted sum of exact dyadic test values cannot depend on
# engine-specific addition order
_ALPHA = 0.5


def hourly_series(ev: DataFrame, keys: list[str], **aggs: Column) -> DataFrame:
    """Dense ``(*keys, h, *aggs)`` epoch-hour series of ``ev``: one row
    per key and hour of the global min..max span, NULL aggregates where
    an hour has no events."""
    ev = ev.where(
        F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit("1970-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
    )
    h = (F.unix_timestamp(F.date_trunc("hour", "ts")) / F.lit(3600)).cast("long")
    counts = ev.withColumn("h", h).groupBy(*keys, "h").agg(
        *[agg.alias(name) for name, agg in aggs.items()]
    )
    span = counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = span.select(F.explode(F.sequence("lo", "hi")).alias("h"))
    if keys:
        spine = F.broadcast(counts.select(*keys).distinct()).crossJoin(spine)
    return spine.join(counts, [*keys, "h"], "left")


def _user_grid(ev: DataFrame, **aggs: Column) -> DataFrame:
    """``aggs`` per user and ``_STEP_S`` bucket over every bucket of the
    user's own [first, last] span, NULL where a bucket has no events.
    A NULL ``user_id`` is one user, with its own span and events."""
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / _STEP_S) * _STEP_S
    )
    b = ev.withColumn("bucket", bucket).groupBy("user_id", "bucket").agg(
        *[agg.alias(name) for name, agg in aggs.items()]
    )
    spans = b.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        F.col("user_id").alias("g_user"),
        F.explode(
            F.sequence("lo", "hi", F.expr(f"interval {_STEP_S} seconds"))
        ).alias("g_bucket"),
    )
    # null-safe on the user, so a NULL user's buckets find its events
    on = F.col("g_user").eqNullSafe(F.col("user_id")) & (
        F.col("g_bucket") == F.col("bucket")
    )
    return grid.join(b, on, "left").select(
        F.col("g_user").alias("user_id"),
        F.col("g_bucket").alias("bucket"),
        *aggs,
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
    counts = hourly_series(load(spark, sf_dir, "events"), [], n=F.count(F.lit(1)))
    series = counts.select(
        "h", F.coalesce("n", F.lit(0).cast("long")).alias("n")
    ).localCheckpoint(eager=False)
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
    "events_type_correlation_hourly",
    oracle="""
        WITH counts AS (
            SELECT event_type,
                   CAST(floor(epoch(date_trunc('hour', ts)) / 3600)
                        AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
              AND ts >= TIMESTAMP '1970-01-01'
              AND ts < TIMESTAMP '2100-01-01'
            GROUP BY 1, 2
        ),
        spine AS (
            SELECT unnest(generate_series((SELECT min(h) FROM counts),
                                          (SELECT max(h) FROM counts))) AS h
        ),
        types AS (SELECT DISTINCT event_type FROM counts),
        series AS MATERIALIZED (
            SELECT t.event_type, s.h, COALESCE(c.n, 0) AS n
            FROM types t
            CROSS JOIN spine s
            LEFT JOIN counts c
              ON c.event_type = t.event_type AND c.h = s.h
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(a.n) AS BIGINT) AS sx,
                   CAST(sum(b.n) AS BIGINT) AS sy,
                   CAST(sum(a.n * a.n) AS BIGINT) AS sxx,
                   CAST(sum(b.n * b.n) AS BIGINT) AS syy,
                   CAST(sum(a.n * b.n) AS BIGINT) AS sxy
            FROM series a
            JOIN series b ON b.h = a.h AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT type_a, type_b, m AS n_hours,
               round((m * sxy - sx * sy)
                     / nullif(sqrt((m * sxx - sx * sx) * 1.0
                                   * (m * syy - sy * sy)), 0), 4) AS corr
        FROM pairs
    """,
    description="Pearson correlation between every event-type pair's "
    "dense zero-filled hourly count series: the cross-stream "
    "dependence map complementing the single-series autocorrelation; "
    "all moments are BIGINT sums over exact integer counts (identical "
    "IEEE expression both engines, rounded at the surface), the pair "
    "join runs on |types|^2 x spine rows — time-length-sized at any "
    "corpus scale, with the standard event-time garbage window",
)
def events_type_correlation_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    series = (
        hourly_series(ev, ["event_type"], n=F.count(F.lit(1)))
        .select(
            "event_type", "h", F.coalesce("n", F.lit(0).cast("long")).alias("n")
        )
        .localCheckpoint(eager=False)
    )
    a = series.select(
        F.col("event_type").alias("type_a"), "h", F.col("n").alias("x")
    )
    b = series.select(
        F.col("event_type").alias("type_b"), "h", F.col("n").alias("y")
    )
    sums = (
        a.join(b, "h")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "type_a",
        "type_b",
        F.col("m").alias("n_hours"),
        F.round(num / F.nullif(den, F.lit(0.0)), 4).alias("corr"),
    )


@register(
    "events_cusum_changepoint",
    oracle="""
        WITH ev AS (
            SELECT event_type,
                   CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS h
            FROM events
            WHERE ts IS NOT NULL
              AND ts >= TIMESTAMP '1970-01-01'
              AND ts < TIMESTAMP '2100-01-01'
              AND event_type IS NOT NULL
        ),
        counts AS (
            SELECT event_type, h, CAST(count(*) AS BIGINT) AS x
            FROM ev GROUP BY event_type, h
        ),
        span AS (
            SELECT min(h) AS lo, max(h) AS hi FROM counts
        ),
        spine AS MATERIALIZED (
            SELECT t.event_type,
                   unnest(generate_series((SELECT lo FROM span),
                                          (SELECT hi FROM span))) AS h
            FROM (SELECT DISTINCT event_type FROM counts) t
        ),
        series AS (
            SELECT s.event_type, s.h, COALESCE(c.x, 0) AS x
            FROM spine s
            LEFT JOIN counts c
              ON c.event_type = s.event_type AND c.h = s.h
        ),
        cusum AS (
            SELECT event_type, h,
                   CAST(row_number() OVER w AS BIGINT) AS t_idx,
                   CAST(sum(x) OVER (w ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS prefix,
                   CAST(count(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n_hours,
                   CAST(sum(x) OVER (PARTITION BY event_type)
                        AS BIGINT) AS total
            FROM series
            WINDOW w AS (PARTITION BY event_type ORDER BY h)
        ),
        scored AS (
            SELECT event_type, h, t_idx, n_hours, total,
                   CAST(n_hours * prefix - t_idx * total AS BIGINT)
                       AS s_scaled,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(n_hours * prefix - t_idx * total) DESC,
                                h
                   ) AS rnk
            FROM cusum
        )
        SELECT event_type,
               h      AS cp_hour,
               t_idx  AS cp_idx,
               s_scaled,
               n_hours,
               total  AS total_events
        FROM scored WHERE rnk = 1
    """,
    description="CUSUM change-point per event type over the dense "
    "zero-filled hourly series: the hour maximizing |sum_{i<=t}(x_i - "
    "mean)| (earliest-hour tie-break) — the where-did-the-rate-shift "
    "diagnostic complementing ACF (structure) and trailing z-scores "
    "(local spikes); the statistic is integer-scaled by n (S*n = "
    "n*prefix - t*total, the cross-multiplied-mean trick) so both "
    "engines compute it in exact BIGINT arithmetic; series are "
    "time-length-bounded, so the window is model-sized at any corpus "
    "scale",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    series = hourly_series(ev, ["event_type"], x=F.count(F.lit(1))).select(
        "event_type", "h", F.coalesce("x", F.lit(0).cast("long")).alias("x")
    )
    w = W.partitionBy("event_type").orderBy("h")
    wall = W.partitionBy("event_type")
    cusum = series.select(
        "event_type",
        "h",
        F.row_number().over(w).cast("long").alias("t_idx"),
        F.sum("x").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("prefix"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_hours"),
        F.sum("x").over(wall).alias("total"),
    )
    scored = cusum.select(
        "event_type",
        "h",
        "t_idx",
        "n_hours",
        "total",
        (F.col("n_hours") * F.col("prefix") - F.col("t_idx") * F.col("total"))
        .cast("long")
        .alias("s_scaled"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.abs("s_scaled").desc(), "h")
        ),
    )
    return scored.where(F.col("rnk") == 1).select(
        "event_type",
        F.col("h").alias("cp_hour"),
        F.col("t_idx").alias("cp_idx"),
        "s_scaled",
        "n_hours",
        F.col("total").alias("total_events"),
    )


@register(
    "events_slo_burn_rate",
    oracle=f"""
        WITH counts AS (
            SELECT CAST(floor(epoch(date_trunc('hour', ts)) / 3600)
                        AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS e
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
            SELECT s.h, COALESCE(c.n, 0) AS n, COALESCE(c.e, 0) AS e
            FROM spine s LEFT JOIN counts c USING (h)
        ),
        win AS (
            SELECT h, n, e,
                   CAST(sum(n) OVER w AS BIGINT) AS n6,
                   CAST(sum(e) OVER w AS BIGINT) AS e6
            FROM series
            WINDOW w AS (ORDER BY h
                         ROWS BETWEEN {_LONG_H - 1} PRECEDING
                                  AND CURRENT ROW)
        )
        SELECT h,
               round(e * 100.0 / nullif(n, 0), 4) AS err_pct_1h,
               round(e6 * 100.0 / nullif(n6, 0), 4) AS err_pct_6h,
               round((e * 1.0 / nullif(n, 0))
                     / nullif(e6 * 1.0 / nullif(n6, 0), 0), 4) AS burn
        FROM win
    """,
    description=f"SRE burn rate over the dense hour spine: the current "
    f"hour's error share vs the trailing {_LONG_H}-hour baseline and "
    "their ratio (burn > 1 = error budget consumed faster than the "
    "recent norm — the page-on-fast-burn signal); silent hours are "
    "zero traffic with NULL rates, all counts BIGINT with exact-ratio "
    "surfaces rounded, trailing windows are growing rows-frames over "
    "the time-length-sized series",
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_e = F.when(F.col("event_type") == "error", 1).otherwise(0)
    counts = hourly_series(
        load(spark, sf_dir, "events"),
        [],
        n=F.count(F.lit(1)),
        e=F.sum(is_e).cast("long"),
    )
    series = counts.select(
        "h",
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        F.coalesce("e", F.lit(0).cast("long")).alias("e"),
    )
    w = W.orderBy("h").rowsBetween(-(_LONG_H - 1), W.currentRow)
    win = series.select(
        "h",
        "n",
        "e",
        F.sum("n").over(w).alias("n6"),
        F.sum("e").over(w).alias("e6"),
    )
    rate1 = F.col("e") * F.lit(1.0) / F.nullif(F.col("n"), F.lit(0))
    rate6 = F.col("e6") * F.lit(1.0) / F.nullif(F.col("n6"), F.lit(0))
    return win.select(
        "h",
        F.round(F.col("e") * F.lit(100.0) / F.nullif(F.col("n"), F.lit(0)), 4).alias(
            "err_pct_1h"
        ),
        F.round(
            F.col("e6") * F.lit(100.0) / F.nullif(F.col("n6"), F.lit(0)), 4
        ).alias("err_pct_6h"),
        F.round(rate1 / F.nullif(rate6, F.lit(0.0)), 4).alias("burn"),
    )


@register(
    "events_hourly_gap_interpolation",
    oracle="""
        WITH counts AS (
            SELECT CAST(floor(epoch(date_trunc('hour', ts)) / 3600)
                        AS BIGINT) AS h,
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
            SELECT s.h, c.n
            FROM spine s LEFT JOIN counts c USING (h)
        ),
        bounded AS (
            SELECT h, n,
                   last_value(n IGNORE NULLS) OVER
                       (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS prev_n,
                   last_value(CASE WHEN n IS NOT NULL THEN h END
                              IGNORE NULLS) OVER
                       (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS prev_h,
                   first_value(n IGNORE NULLS) OVER
                       (ORDER BY h ROWS BETWEEN CURRENT ROW
                                            AND UNBOUNDED FOLLOWING) AS next_n,
                   first_value(CASE WHEN n IS NOT NULL THEN h END
                               IGNORE NULLS) OVER
                       (ORDER BY h ROWS BETWEEN CURRENT ROW
                                            AND UNBOUNDED FOLLOWING) AS next_h
            FROM series
        )
        SELECT h,
               n IS NOT NULL AS observed,
               round(CASE
                   WHEN n IS NOT NULL THEN n * 1.0
                   WHEN prev_n IS NOT NULL AND next_n IS NOT NULL
                   THEN prev_n
                        + (next_n - prev_n) * (h - prev_h) * 1.0
                          / (next_h - prev_h)
               END, 4) AS n_filled
        FROM bounded
    """,
    description="linear interpolation of MISSING hours in the hourly "
    "count series (collector-outage repair — unlike zero-filling, a "
    "gap must not read as zero demand): interior gaps blend the "
    "nearest observed neighbors by exact integer distances, "
    "leading/trailing gaps stay NULL (never invent data beyond the "
    "observed span); IGNORE-NULLS last/first over asymmetric "
    "unbounded frames on the time-length-sized spine, blend rounded "
    "at the surface",
)
def events_hourly_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = hourly_series(load(spark, sf_dir, "events"), [], n=F.count(F.lit(1)))
    # both directions as GROWING frames: Spark's shrinking
    # ([current, unbounded following]) frame processor re-evaluates the
    # function per row — O(n²), a multi-minute hang on a 473k-hour
    # spine — while growing frames update incrementally in O(n); the
    # forward-looking neighbor is just the backward-looking one under a
    # DESC ordering
    wb = W.orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
    wr = W.orderBy(F.col("h").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    obs_h = F.when(F.col("n").isNotNull(), F.col("h"))
    bounded = series.select(
        "h",
        "n",
        F.last("n", ignorenulls=True).over(wb).alias("prev_n"),
        F.last(obs_h, ignorenulls=True).over(wb).alias("prev_h"),
        F.last("n", ignorenulls=True).over(wr).alias("next_n"),
        F.last(obs_h, ignorenulls=True).over(wr).alias("next_h"),
    )
    blend = F.col("prev_n") + (F.col("next_n") - F.col("prev_n")) * (
        F.col("h") - F.col("prev_h")
    ) * F.lit(1.0) / (F.col("next_h") - F.col("prev_h"))
    return bounded.select(
        "h",
        F.col("n").isNotNull().alias("observed"),
        F.round(
            F.when(F.col("n").isNotNull(), F.col("n") * F.lit(1.0)).when(
                F.col("prev_n").isNotNull() & F.col("next_n").isNotNull(),
                blend,
            ),
            4,
        ).alias("n_filled"),
    )


@register(
    "events_burst_hours",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
            GROUP BY event_type, date_trunc('hour', ts)
        ),
        moments AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT)       AS n,
                   CAST(sum(cnt) AS BIGINT)       AS s,
                   CAST(sum(cnt * cnt) AS BIGINT) AS ss
            FROM hourly GROUP BY event_type
        )
        SELECT h.event_type, h.hour, h.cnt,
               round((m.n * h.cnt - m.s)
                     / nullif(sqrt(CAST(m.n * m.ss - m.s * m.s
                                        AS DOUBLE)), 0), 4)
                   AS zscore
        FROM hourly h JOIN moments m USING (event_type)
        WHERE (m.n * h.cnt - m.s) > 0
          AND (m.n * h.cnt - m.s) * (m.n * h.cnt - m.s)
              > 9 * (m.n * m.ss - m.s * m.s)
    """,
    description="per-type hourly burst detection: hours whose event "
    "count exceeds mean + 3 sigma for that type — the flag is pure "
    "BIGINT arithmetic with denominators cleared ((n*cnt-S)^2 > "
    "9*(n*SS-S^2)), so burst membership is cross-engine exact and "
    "only the reported z-score is a rounded double; one narrow "
    "map-side-combined groupBy then a types-row moment join",
)
def events_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    moments = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    j = hourly.join(F.broadcast(moments), "event_type")
    dev = F.col("n") * F.col("cnt") - F.col("s")  # n*(cnt - mean), BIGINT
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")  # n^2*var
    return (
        j.where((dev > 0) & (dev * dev > 9 * var_n2))
        .select(
            "event_type",
            "hour",
            "cnt",
            F.round(
                dev
                / F.expr("nullif(sqrt(CAST(n * ss - s * s AS DOUBLE)), 0)"),
                4,
            ).alias("zscore"),
        )
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
    "events_resample_ffill",
    oracle=f"""
        WITH b AS (
            SELECT user_id,
                   CAST(to_timestamp(floor(epoch(ts) / {_STEP_S}) * {_STEP_S})
                        AS TIMESTAMP) AS bucket,
                   value
            FROM events
        ),
        agg AS (
            SELECT user_id, bucket,
                   count(*) AS n, round(sum(value), 4) AS v
            FROM b GROUP BY user_id, bucket
        ),
        spans AS (
            SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
            FROM agg GROUP BY user_id
        ),
        grid AS (
            SELECT user_id,
                   unnest(generate_series(lo, hi, INTERVAL {_STEP_S} SECONDS))
                       AS bucket
            FROM spans
        ),
        joined AS (
            SELECT g.user_id, g.bucket,
                   coalesce(a.n, 0) AS n_events, a.v AS v
            FROM grid g LEFT JOIN agg a
              ON g.user_id IS NOT DISTINCT FROM a.user_id
             AND g.bucket = a.bucket
        )
        SELECT user_id, bucket, CAST(n_events AS BIGINT) AS n_events,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_ffill
        FROM joined
    """,
    description=f"resample to a fixed {_STEP_S // 3600}h grid with "
    "forward fill: per-user sequence() over the user's own span (grid "
    "size = span/step per key, never a global cross join), left join "
    "the bucketed aggregates, one last(ignorenulls) window carries the "
    "latest observation across empty buckets — the regularization pass "
    "before feature extraction or anomaly monitoring",
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two shuffles (bucket agg, per-user window), both on
    user_id-rooted keys.  Grid density is the operator's own lever —
    the step bounds output to span/step rows per key, and a key whose
    span/step exceeds the sort budget wants a coarser step, not a
    different algorithm.  The fill is null until a key's first
    observed bucket (nothing to carry) — deliberately preserved, the
    standard resample semantic."""
    joined = _user_grid(
        load(spark, sf_dir, "events"),
        n=F.count(F.lit(1)),
        v=F.round(F.sum("value"), 4),
    ).select(
        "user_id",
        "bucket",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        "v",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "bucket",
        "n_events",
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
    )


@register(
    "events_anomaly_flags",
    oracle=f"""
        WITH b AS (
            SELECT user_id,
                   CAST(to_timestamp(floor(epoch(ts) / {_STEP_S}) * {_STEP_S})
                        AS TIMESTAMP) AS bucket,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        spans AS (
            SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
            FROM b GROUP BY user_id
        ),
        grid AS (
            SELECT user_id,
                   unnest(generate_series(lo, hi, INTERVAL {_STEP_S} SECONDS))
                       AS bucket
            FROM spans
        ),
        series AS (
            SELECT g.user_id, g.bucket, coalesce(b.n, 0) AS n
            FROM grid g LEFT JOIN b
              ON g.user_id IS NOT DISTINCT FROM b.user_id
             AND g.bucket = b.bucket
        ),
        scored AS (
            SELECT user_id, bucket, CAST(n AS BIGINT) AS n_events,
                   avg(n) OVER w AS mu,
                   stddev_samp(n) OVER w AS sd
            FROM series
            WINDOW w AS (PARTITION BY user_id ORDER BY bucket
                         ROWS BETWEEN {_ANOM_LOOKBACK} PRECEDING
                                  AND 1 PRECEDING)
        )
        SELECT user_id, bucket, n_events,
               round((n_events - mu) / sd, 4) AS zscore,
               coalesce(abs((n_events - mu) / sd) > {_ANOM_Z!r}, FALSE)
                   AS is_anomaly
        FROM scored
        WHERE sd IS NOT NULL AND sd > 0
    """,
    description=f"time-series anomaly flags: per-user event counts on "
    f"the {_STEP_S // 3600}h grid scored against a trailing "
    f"{_ANOM_LOOKBACK}-bucket window (mean/stddev EXCLUDING the "
    f"current bucket — the classic leakage mistake avoided), "
    f"|z| > {_ANOM_Z} flags the spike/outage buckets; composes the "
    "gap-filled resample with one additional frame-bounded window, "
    "same single user_id shuffle",
)
def events_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = _user_grid(load(spark, sf_dir, "events"), n=F.count(F.lit(1))).select(
        "user_id", "bucket", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(-_ANOM_LOOKBACK, -1)
    )
    scored = series.select(
        "user_id",
        "bucket",
        F.col("n").cast("long").alias("n_events"),
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sd"),
    )
    z = (F.col("n_events") - F.col("mu")) / F.col("sd")
    return (
        scored.where(F.col("sd").isNotNull() & (F.col("sd") > 0))
        .select(
            "user_id",
            "bucket",
            "n_events",
            F.round(z, 4).alias("zscore"),
            F.coalesce(F.abs(z) > _ANOM_Z, F.lit(False)).alias("is_anomaly"),
        )
    )


@register(
    "events_ewma_smoothed",
    oracle=f"""
        WITH seq AS (
            SELECT event_id, user_id, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
            WHERE ts IS NOT NULL AND event_id IS NOT NULL
              AND value IS NOT NULL
        )
        SELECT a.event_id, a.user_id, CAST(a.rn AS BIGINT) AS rn,
               round(
                   sum(pow({_ALPHA}, a.rn - b.rn) * b.value)
                   / sum(pow({_ALPHA}, a.rn - b.rn)), 4) AS ewma
        FROM seq a JOIN seq b
          ON a.user_id = b.user_id
         AND b.rn BETWEEN a.rn - {_K - 1} AND a.rn
        GROUP BY a.event_id, a.user_id, a.rn
    """,
    description=f"truncated EWMA (K={_K}, alpha={_ALPHA}) per user over "
    "the event stream: bounded-band self-join on row_number, "
    "normalized exponential weights — the parallel, "
    "order-insensitive form of the sequential recursive smoother",
)
def events_ewma_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id shared by the row_number window and
    the band self-join; the join expands each row into at most K
    partners, so the blow-up is a constant factor, never quadratic. A
    single hot user is the skew hazard (same as every per-user window
    here) — AQE skew-join split is on session-wide, and salting the
    band join by rn-range is the documented escape.

    Determinism: α = 1/2 makes every weight a power of two, so each
    weight·value product is exact in IEEE double; the division
    normalizes by the exact dyadic Σα^j. Rows with NULL ts/event_id/
    value are excluded UP FRONT: ts/event_id anchor the row_number
    tiebreak (a NULL there orders differently across engines) and a
    NULL value would silently shorten the window's effective weight
    mass. The remaining float aggregate is rounded (4) on both sides,
    the engine-wide convention."""
    seq = (
        load(spark, sf_dir, "events")
        .where(
            F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            "value",
            F.row_number()
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("rn"),
        )
    )
    a, b = seq.alias("a"), seq.alias("b")
    w = F.pow(F.lit(_ALPHA), F.col("a.rn") - F.col("b.rn"))
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & F.col("b.rn").between(F.col("a.rn") - (_K - 1), F.col("a.rn")),
        )
        .groupBy(
            F.col("a.event_id").alias("event_id"),
            F.col("a.user_id").alias("user_id"),
            F.col("a.rn").alias("rn"),
        )
        .agg(
            F.round(
                F.sum(w * F.col("b.value")) / F.sum(w), 4
            ).alias("ewma")
        )
    )
