"""Event-stream operators (batch form) over the ``events`` table:
rollups, pivots and JSON extraction; windows and sessions; value
distributions; daily reach; and the per-user lifecycle.

Streaming forms of the windows (watermark + windowed agg over
readStream) live in ``orca_spark.streaming``; the batch forms here are
the oracle-checkable semantics. Sequences and user behaviour live in
``event_behavior``, the dense hour series and the queries over it in
``event_series``.

Sessions come three ways: the hand-rolled gaps-and-islands form
(``events_sessionize``, lag + running sum), the built-in
``F.session_window`` with a fixed 30-minute gap, and its expression
form with a per-event gap (clicks 5 minutes, everything else 30). All
three agree on boundaries: two events exactly ``gap`` apart merge
(Spark merges when the next start does not exceed the open window's
end, a closed boundary). The built-in API's session END is ``last
event + gap``, the span it holds open for more, so both built-in forms
surface that window end. The dynamic-gap oracle replicates Spark's
interval union with a GROWING-frame running max of interval ends; a
shrinking ``[current, unbounded following]`` frame is O(n²) in Spark.

Determinism: session boundaries are integer µs arithmetic; value
distributions take exact interpolated percentiles (``F.percentile`` =
DuckDB ``quantile_cont``) or bin with one division per row; reach and
lifecycle are integer date arithmetic with ISO date-string surfaces;
every floating aggregate is rounded on both sides.

Scale: every query is a scan plus map-side-combinable aggregates, one
user- or type-keyed shuffle for a window, and tiny per-type frames
(cuts, extents, medians) broadcast back over the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load

_WINSOR_LO = 0.01
_WINSOR_HI = 0.99
_N_BINS = 20
_N_TILES = 10

_GAP_US = 1_800_000_000  # 30 minutes
_FAST_GAP_US = 5 * 60 * 1_000_000  # clicks: 5 minutes
_SLOW_GAP_US = 30 * 60 * 1_000_000  # everything else: 30 minutes

# recency buckets (days since corpus max date)
_ACTIVE_D = 7
_LAPSING_D = 30


@register(
    "events_hourly_rollup",
    oracle="""
        SELECT date_trunc('hour', ts) AS bucket,
               event_type,
               count(*)               AS n_events,
               round(sum(value), 4)   AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    description="time-bucketed aggregation (tumbling 1h window, batch form)",
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "events_tumbling_15min",
    oracle="""
        SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS window_start,
               count(*) AS n_events
        FROM events
        WHERE ts IS NOT NULL  -- F.window drops NULL event times
        GROUP BY 1
    """,
    description="15-minute tumbling window via F.window (epoch-aligned, "
    "matching the oracle's floor(epoch/900) bucketing)",
)
def events_tumbling_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "events_json_extract",
    oracle="""
        SELECT event_type,
               round(avg(k), 4) AS avg_k,
               max(k)           AS max_k,
               count(*)         AS n
        FROM (
            -- json_valid + TRY_CAST mirror Spark's NULL-on-malformed
            -- get_json_object/try_cast (DuckDB's json_* RAISE instead)
            SELECT event_type,
                   CASE WHEN json_valid(props)
                        THEN TRY_CAST(json_extract_string(props, '$.k')
                                      AS BIGINT) END AS k
            FROM events
        )
        GROUP BY event_type
    """,
    description="semi-structured extraction: JSON props column → typed agg",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # try_cast: a non-numeric k is NULL on both engines, never an ANSI abort
    k = F.get_json_object("props", "$.k").try_cast("long")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "events_pivot_types",
    oracle="""
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS n_click,
               count(*) FILTER (WHERE event_type = 'view')     AS n_view,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
               count(*) FILTER (WHERE event_type = 'error')    AS n_error
        FROM events
        GROUP BY user_id
    """,
    description="pivot event_type → per-user count columns (conditional agg)",
)
def events_pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return e.groupBy("user_id").agg(*aggs)


@register(
    "events_sessionize",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL  -- no position in time => no session
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, event_id,
                   CAST(sum(new_session) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(ts)  AS session_start,
               max(ts)  AS session_end
        FROM sessions
        GROUP BY user_id, session_id
    """,
    description="sessionization: 30-min inactivity gap → session ids via "
    "lag + running sum (batch analog of session_window)",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL-ts event has no position in time and therefore no session —
    # excluded on both engines (their NULL sort orders differ, so leaving
    # them in would make session boundaries engine-dependent)
    e = load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap so the 30-min threshold compares identically
    # in Spark and the oracle (no truncation at second granularity)
    micros = F.unix_micros(F.col("ts"))
    gap = micros - F.lag(micros).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wsum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "events_session_window_batch",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > {_GAP_US}
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id, ts,
                   CAST(sum(new_session) OVER (PARTITION BY user_id
                                               ORDER BY ts
                                               ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS BIGINT)
                       AS sid
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS window_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sessions
        GROUP BY user_id, sid
    """,
    description="the built-in F.session_window in BATCH mode (30-min "
    "gap): third corner of the sessionization triangle next to the "
    "hand-rolled gaps-and-islands and the streaming session job; the "
    "surface exposes the API's closed-boundary semantics (equal-gap "
    "events merge; window end = last event + gap, the span held open "
    "for more) — the oracle replicates both exactly; user-keyed "
    "shuffle with partial window merging",
)
def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


@register(
    "events_session_window_dynamic_gap",
    oracle=f"""
        WITH ev AS (
            SELECT user_id,
                   CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                   CAST(epoch_us(ts) AS BIGINT)
                   + CASE WHEN event_type = 'click'
                          THEN {_FAST_GAP_US} ELSE {_SLOW_GAP_US} END
                       AS end_us
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        flagged AS (
            SELECT user_id, ts_us, end_us,
                   CASE WHEN ts_us > COALESCE(max(end_us) OVER (
                       PARTITION BY user_id ORDER BY ts_us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), -9223372036854775808) THEN 1 ELSE 0 END AS is_new
            FROM ev
        ),
        islands AS (
            SELECT user_id, ts_us, end_us,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               CAST(min(ts_us) AS BIGINT)  AS session_start_us,
               CAST(max(end_us) AS BIGINT) AS session_end_us,
               CAST(count(*) AS BIGINT)    AS n_events
        FROM islands
        GROUP BY user_id, session_id
    """,
    description="dynamic-gap session windows (the expression form of "
    "F.session_window): each event carries its own inactivity timeout "
    "— clicks 5 min, others 30 — and Spark merges the per-event "
    "[ts, ts+gap) intervals into sessions per user; the oracle "
    "replicates interval-union with gaps-and-islands over a GROWING-"
    "frame running max (never the O(n^2) shrinking frame); all-integer "
    "µs arithmetic, one user_id shuffle, linear per-user state",
)
def events_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    gap = F.when(
        F.col("event_type") == "click", F.lit(f"{_FAST_GAP_US} microseconds")
    ).otherwise(F.lit(f"{_SLOW_GAP_US} microseconds"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


@register(
    "events_value_winsorized",
    oracle=f"""
        WITH cuts AS (
            SELECT event_type,
                   quantile_cont(value, {_WINSOR_LO}) AS lo,
                   quantile_cont(value, {_WINSOR_HI}) AS hi
            FROM events WHERE value IS NOT NULL GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(any_value(c.lo), 4) AS p01,
               round(any_value(c.hi), 4) AS p99,
               round(avg(e.value), 4) AS mean_raw,
               round(avg(least(greatest(e.value, c.lo), c.hi)), 4)
                   AS mean_winsorized
        FROM events e JOIN cuts c ON e.event_type = c.event_type
        WHERE e.value IS NOT NULL
        GROUP BY e.event_type
    """,
    description="winsorized per-type value statistics: exact "
    "interpolated p01/p99 cuts per event_type (percentile = DuckDB "
    "quantile_cont, both linear-interpolation), broadcast the tiny "
    "cuts table back, clamp, and compare raw vs robust means",
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the cuts aggregate is one shuffle on event_type (exact
    percentile needs the per-group sort; switch to approx_percentile
    when cardinality-per-group outgrows a partition), the cuts frame is
    |types| rows — broadcast back over the stream, so the clamp pass is
    shuffle-free map work plus one final partial-agged groupBy."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cuts = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(_WINSOR_LO)).alias("lo"),
        F.percentile("value", F.lit(_WINSOR_HI)).alias("hi"),
    )
    clamped = ev.join(F.broadcast(cuts), "event_type").withColumn(
        "wv", F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.first("lo"), 4).alias("p01"),
        F.round(F.first("hi"), 4).alias("p99"),
        F.round(F.avg("value"), 4).alias("mean_raw"),
        F.round(F.avg("wv"), 4).alias("mean_winsorized"),
    )


@register(
    "events_value_histogram",
    oracle=f"""
        WITH ext AS (
            SELECT event_type, min(value) AS lo, max(value) AS hi
            FROM events WHERE value IS NOT NULL GROUP BY event_type
        ),
        binned AS (
            SELECT e.event_type,
                   CASE WHEN x.hi > x.lo
                        THEN least(CAST(floor((e.value - x.lo)
                                              / (x.hi - x.lo)
                                              * {_N_BINS}) AS INT),
                                   {_N_BINS - 1})
                        ELSE 0 END AS bin
            FROM events e JOIN ext x ON e.event_type = x.event_type
            WHERE e.value IS NOT NULL
        )
        SELECT b.event_type, b.bin, CAST(count(*) AS BIGINT) AS n,
               round(any_value(x.lo)
                     + b.bin * (any_value(x.hi) - any_value(x.lo))
                       / {_N_BINS}, 4) AS bin_lo
        FROM binned b JOIN ext x ON b.event_type = x.event_type
        GROUP BY b.event_type, b.bin
    """,
    description=f"equi-width histogram: {_N_BINS} bins per event_type "
    "over the type's own [min, max] span — per-type extent aggregate "
    "broadcast back, single-expression binning (bit-deterministic: no "
    "accumulation, one division per row), top bin right-closed",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one partial-agged extent pass, the tiny per-type extent
    frame broadcast back over the stream (same shape as the winsorize
    cuts), then one partial-agged (type, bin) count — bins are derived
    column values, so no sort anywhere."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    ext = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = ev.join(F.broadcast(ext), "event_type").withColumn(
        "bin",
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * _N_BINS
                ).cast("int"),
                F.lit(_N_BINS - 1),
            ),
        ).otherwise(0),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.first("lo") + F.col("bin") * (F.first("hi") - F.first("lo")) / _N_BINS,
            4,
        ).alias("bin_lo"),
    )


@register(
    "events_value_deciles",
    oracle=f"""
        WITH tiled AS (
            SELECT event_type, value,
                   ntile({_N_TILES}) OVER (
                       PARTITION BY event_type ORDER BY value, event_id
                   ) AS decile
            FROM events WHERE value IS NOT NULL
        )
        SELECT event_type, decile, CAST(count(*) AS BIGINT) AS n,
               round(min(value), 4) AS lo,
               round(max(value), 4) AS hi,
               round(avg(value), 4) AS mean
        FROM tiled GROUP BY event_type, decile
    """,
    description=f"equal-frequency discretization: ntile({_N_TILES}) per "
    "event_type (value order, event_id tiebreak for cross-engine "
    "determinism) with per-decile count/extent/mean — the quantile-"
    "binning complement to the equi-width histogram",
)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-type sort (the window shuffle) then a partial-
    agged (type, decile) aggregate. Exact ntile needs the per-type
    sort; when a type outgrows a partition the approx-percentile cut
    points (profile2's sketch) replace the window, trading exact equal
    counts for fixed memory."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("decile", F.ntile(_N_TILES).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
            F.round(F.avg("value"), 4).alias("mean"),
        )
    )


@register(
    "events_mad_robust",
    oracle="""
        WITH med AS (
            SELECT event_type,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
            GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m ON e.event_type = m.event_type
            WHERE e.value IS NOT NULL
        ),
        mad AS (
            SELECT event_type, any_value(med) AS med,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad,
                   count(*) AS n
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               round(m.med, 4) AS med,
               round(m.mad, 4) AS mad,
               CAST(m.n AS BIGINT) AS n,
               CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        GROUP BY d.event_type, m.med, m.mad, m.n
    """,
    description="median / MAD per event type with a robust outlier "
    "count (|x - med| > 3*MAD): the dispersion profile a single corrupt "
    "magnitude cannot poison, unlike the stddev z-score family; exact "
    "interpolated medians on both engines (approx_percentile is the "
    "100 TB swap)",
)
def events_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two grouped exact-percentile passes plus one broadcast of
    the per-type medians (|types| rows) back over the stream; at real
    scale swap F.percentile for approx_percentile (same shape, the
    documented trade in percentiles_exact). Determinism: interpolated
    medians come from SORTED identical value sets (no summation-order
    sensitivity); the outlier comparison operates on bit-identical
    doubles on both engines; display columns rounded (4)."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.any_value("med").alias("med2"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med2", "mad", "n")
        .agg(
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers")
        )
        .select(
            "event_type",
            F.round("med2", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n",
            "n_outliers",
        )
    )


@register(
    "events_rolling_dau_7d",
    oracle="""
        WITH daily AS (
            -- day as a midnight-aligned TIMESTAMP (date_trunc), the
            -- engine-wide bucket convention: DATE columns surface as
            -- python date objects from Spark but datetime64 from
            -- DuckDB and defeat the comparator's dtype unification
            SELECT DISTINCT date_trunc('day', ts) AS day, user_id
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        days AS (SELECT DISTINCT day FROM daily)
        SELECT d.day,
               CAST(count(DISTINCT u.user_id) AS BIGINT) AS dau_7d
        FROM days d
        JOIN daily u
          ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
        GROUP BY d.day
    """,
    description="7-day rolling distinct users per day (weekly reach): "
    "day-level dedup first, then a bounded 7-day band join between the "
    "DAY table and the (day, user) table — the windowed COUNT DISTINCT "
    "that frame-based windows cannot express",
)
def events_rolling_dau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus-sized work is the FIRST dedup (distinct (day,
    user) — one shuffle with partial dedup map-side); the band join
    then runs days × (day, user) where the left side is |days| rows,
    broadcast, and each daily-user row fans out at most 7× before the
    final count-distinct shuffle on day. Determinism: pure
    integers/dates; NULL ts/user excluded up front."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    )
    daily = ev.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    days = daily.select("day").distinct()
    return (
        F.broadcast(days.alias("d"))
        .join(
            daily.alias("u"),
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") >= F.col("d.day") - F.expr("INTERVAL 6 DAYS")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("dau_7d"))
    )


@register(
    "events_daily_new_vs_returning",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS first_d
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
            GROUP BY user_id
        ),
        daily AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        )
        SELECT CAST(d.d AS VARCHAR) AS day,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN d.d = f.first_d THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN d.d = f.first_d THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_returning
        FROM daily d JOIN firsts f USING (user_id)
        GROUP BY d.d
    """,
    description="daily growth accounting: active users split into new "
    "(first-ever-seen that day) vs returning — the retention-curve "
    "denominator table; one user-keyed min for first-seen, one "
    "date-keyed aggregation over distinct (day, user) activity, all "
    "integer date arithmetic with ISO date-string surfaces",
)
def events_daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    daily = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    firsts = daily.groupBy("user_id").agg(F.min("d").alias("first_d"))
    is_new = F.when(F.col("d") == F.col("first_d"), 1).otherwise(0)
    return (
        daily.join(firsts, "user_id")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(is_new).cast("long").alias("n_new"),
            (F.count(F.lit(1)) - F.sum(is_new)).cast("long").alias(
                "n_returning"
            ),
        )
        .select(
            F.col("d").cast("string").alias("day"),
            "n_active",
            "n_new",
            "n_returning",
        )
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
