"""Sequences and user behaviour over the ``events`` table.

* ``events_markov_transitions`` and ``events_trigram_sequences`` —
  order-1 and order-2 behavioral chains over per-user timelines (what
  follows what): the input to next-event prediction and
  session-intent models.
* ``events_funnel_conversion`` — the ordered view -> click -> purchase
  funnel under "earliest qualifying event" semantics: t1 = first view,
  t2 = first click with ts > t1, t3 = first purchase with ts > t2, so a
  purchase before the first view is not progress.
* ``events_multitouch_attribution`` — linear (equal-split) attribution
  of each purchase over the same user's view/click touches in the
  prior 24 hours, rolled up per touch type; the single-touch
  ``range_join_view_attribution`` (ranges.py) is its last-view
  sibling.
* ``events_bot_score_heuristics`` — rule-based automation screen per
  user: burst rate (max events in one hour), type monotony and
  breadth, flagged by fixed documented thresholds.

Determinism: sequences order by ``(ts, event_id)`` and exclude rows
whose ordering columns are NULL (their NULL sort orders differ across
engines); counts are BIGINT; thresholds compare by integer
cross-multiplication (monotony >= 9/10) so no float can flip a flag;
attribution divides an exact value by an exact BIGINT touch count, and
per-type sums are rounded at the surface.

Scale: one user_id-keyed shuffle per timeline; the chain aggregates
partial-aggregate on |types|-bounded keys; funnel stages and the bot
screen join user-keyed scalars, never the event stream; attribution is
a user-keyed join with a bounded time predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_spark.registry import register
from orca_spark.tables import load

# events rows eligible for sequencing: every column the ordering or the
# chain itself depends on must be present (a NULL ts/event_id would
# order differently across engines; a NULL type is a broken chain link)
_SEQ_FILTER = (
    "ts IS NOT NULL AND event_id IS NOT NULL AND event_type IS NOT NULL"
)

_STEPS = ["view", "click", "purchase"]

_WINDOW_H = 24
_TOUCH_TYPES = ("view", "click")

_MAX_HOURLY = 50  # burst threshold: events in one hour
_MONO_NUM = 9  # monotony threshold 9/10 as an exact rational
_MONO_DEN = 10


@register(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, event_id NULLS FIRST
                   ) AS prev_type
            FROM events WHERE ts IS NOT NULL
        ),
        pairs AS (
            SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        )
        SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
               round(n / sum(n) OVER (PARTITION BY prev_type), 4) AS prob
        FROM pairs
    """,
    description="first-order Markov transition matrix: per-user lag "
    "window (ordered by ts with event_id tiebreak for determinism) "
    "pairs each event with its predecessor, then one global "
    "(prev, next) count with row-normalized probabilities",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle for the per-user window (user_id-partitioned,
    bounded per-key state), one for the tiny (|types|² ≤ dozens)
    transition aggregate — which partial-aggregates map-side, so the
    second shuffle moves counts, not events. The normalizing window
    runs on the aggregated matrix, not the event stream."""
    # a NULL-ts event has no position in a sequence — excluded by
    # contract on BOTH engines (their NULL sort orders differ: Spark
    # NULLS FIRST asc, DuckDB NULLS LAST — leaving them in would make
    # the transition pairs engine-dependent)
    ev = load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    pairs = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(total), 4).alias("prob"),
    )


@register(
    "events_trigram_sequences",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type, 1) OVER w AS prev1,
                   lag(event_type, 2) OVER w AS prev2
            FROM events
            WHERE {_SEQ_FILTER}
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT prev2 AS t1, prev1 AS t2, event_type AS t3,
               CAST(count(*) AS BIGINT) AS n
        FROM seq
        WHERE prev2 IS NOT NULL AND prev1 IS NOT NULL
        GROUP BY 1, 2, 3
    """,
    description="order-2 behavioral sequence counts: consecutive "
    "event-type trigrams over per-user timelines (two lag windows, one "
    "shared user_id shuffle), pure integer counts — the training table "
    "for session-intent models, one order above the Markov matrix",
)
def events_trigram_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both lags share ONE user_id-partitioned sort; the trigram
    count partial-aggregates on (t1, t2, t3) — a |types|³-bounded key
    space, model-sized however large the log. Determinism: rows
    lacking ts/event_id/event_type are excluded up front (ordering
    tiebreaks and chain links), everything else is integer."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load(spark, sf_dir, "events")
        .where(F.expr(_SEQ_FILTER))
        .select(
            "event_type",
            F.lag("event_type", 1).over(w).alias("prev1"),
            F.lag("event_type", 2).over(w).alias("prev2"),
        )
    )
    return (
        seq.where(F.col("prev2").isNotNull() & F.col("prev1").isNotNull())
        .groupBy(
            F.col("prev2").alias("t1"),
            F.col("prev1").alias("t2"),
            F.col("event_type").alias("t3"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_funnel_conversion",
    oracle="""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' AND ts IS NOT NULL
              AND user_id IS NOT NULL
            GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        ),
        counts AS (
            SELECT 1 AS step_no, 'view' AS step,
                   CAST(count(*) AS BIGINT) AS n_users FROM s1
            UNION ALL
            SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL
            SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
        ),
        head AS (SELECT n_users AS n1 FROM counts WHERE step_no = 1)
        SELECT step_no, step, n_users,
               CASE WHEN n1 = 0 THEN NULL
                    ELSE n_users * 1000000 // n1 END AS conv_ppm
        FROM counts, head
    """,
    description="ordered funnel view -> click -> purchase: per step, "
    "users whose first qualifying event came strictly after the "
    "previous step's (earliest-qualifying-event chain), with integer "
    "ppm conversion from the funnel head — order-aware, so a purchase "
    "before the first view is not progress; user-keyed scalar "
    "aggregations joined stage-to-stage, never an event-stream join",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    s1 = (
        ev.where(F.col("event_type") == _STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == _STEPS[1])
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == _STEPS[2])
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        s1.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("step_no"), F.lit("view").alias("step"), "n_users")
        .unionAll(
            s2.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("step_no"), F.lit("click").alias("step"), "n_users"
            )
        )
        .unionAll(
            s3.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("step_no"),
                F.lit("purchase").alias("step"),
                "n_users",
            )
        )
    )
    head = (
        s1.agg(F.count(F.lit(1)).alias("n1"))
    )
    return counts.crossJoin(F.broadcast(head)).select(
        "step_no",
        "step",
        "n_users",
        F.when(F.col("n1") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("n_users * 1000000 div n1"))
        .alias("conv_ppm"),
    )


@register(
    "events_multitouch_attribution",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id, user_id, ts, value
            FROM events
            WHERE event_type = 'purchase' AND ts IS NOT NULL
              AND user_id IS NOT NULL AND value IS NOT NULL
        ),
        touches AS (
            SELECT event_id, user_id, ts, event_type
            FROM events
            WHERE event_type IN ('view', 'click') AND ts IS NOT NULL
              AND user_id IS NOT NULL
        ),
        pt AS (
            SELECT p.event_id AS pid, p.value, t.event_type
            FROM purchases p
            JOIN touches t
              ON t.user_id = p.user_id
             AND t.ts <= p.ts
             AND t.ts > p.ts - INTERVAL {_WINDOW_H} HOUR
        ),
        counted AS (
            SELECT pid, value, event_type,
                   CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS n_t
            FROM pt
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_touches,
               round(sum(value / n_t), 4) AS attributed_value
        FROM counted
        GROUP BY event_type
    """,
    description=f"linear multi-touch attribution: each purchase's value "
    f"split equally across the same user's view/click touches in the "
    f"prior {_WINDOW_H}h, rolled up per touch type — the channel "
    "budget report (vs the single-touch last-view attribution in "
    "ranges.py); per-touch credit is an exact value over an exact "
    "BIGINT count, per-type sums rounded at the surface; the join is "
    "user-keyed with a bounded time predicate, never wider than "
    "per-user event lists",
)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        "value",
    )
    touches = ev.where(
        F.col("event_type").isin(*_TOUCH_TYPES)
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    ).select("user_id", F.col("ts").alias("tts"), "event_type")
    pt = purchases.join(touches, "user_id").where(
        (F.col("tts") <= F.col("pts"))
        & (
            F.col("tts")
            > F.col("pts") - F.expr(f"INTERVAL {_WINDOW_H} HOURS")
        )
    )
    from pyspark.sql import Window as W

    counted = pt.withColumn(
        "n_t", F.count(F.lit(1)).over(W.partitionBy("pid"))
    )
    return counted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum(F.col("value") / F.col("n_t")), 4).alias(
            "attributed_value"
        ),
    )


@register(
    "events_bot_score_heuristics",
    oracle=f"""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS h,
                   CAST(count(*) AS BIGINT) AS c
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
            GROUP BY 1, 2
        ),
        per_hour AS (
            SELECT user_id,
                   CAST(sum(c) AS BIGINT) AS n_events,
                   CAST(count(*) AS BIGINT) AS active_hours,
                   CAST(max(c) AS BIGINT) AS max_hourly
            FROM hourly GROUP BY user_id
        ),
        types AS (
            SELECT user_id,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
            GROUP BY user_id
        )
        SELECT p.user_id, p.n_events, p.active_hours, p.max_hourly,
               t.n_types,
               round((p.n_events - t.n_types) * 100.0 / p.n_events, 4)
                   AS monotony_pct,
               (p.max_hourly >= {_MAX_HOURLY}
                OR (p.n_events - t.n_types) * {_MONO_DEN}
                   >= p.n_events * {_MONO_NUM}) AS is_bot
        FROM per_hour p JOIN types t USING (user_id)
    """,
    description=f"rule-based per-user bot heuristics: max events in any "
    "hour, active hours, distinct event types, and type monotony "
    f"(share of events beyond the type count); flagged when the hourly "
    f"burst reaches {_MAX_HOURLY} or monotony reaches "
    f"{_MONO_NUM}/{_MONO_DEN} by integer cross-multiplication — the "
    "reproducible pre-model integrity screen; two-level hour "
    "aggregation keeps the shuffle at user-hours, all counts BIGINT",
)
def events_bot_score_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    per_hour = hourly.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("active_hours"),
        F.max("c").alias("max_hourly"),
    )
    types = ev.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("n_types")
    )
    mono_excess = F.col("n_events") - F.col("n_types")
    return per_hour.join(types, "user_id").select(
        "user_id",
        "n_events",
        "active_hours",
        "max_hourly",
        "n_types",
        F.round(mono_excess * F.lit(100.0) / F.col("n_events"), 4).alias(
            "monotony_pct"
        ),
        (
            (F.col("max_hourly") >= _MAX_HOURLY)
            | (mono_excess * _MONO_DEN >= F.col("n_events") * _MONO_NUM)
        ).alias("is_bot"),
    )
