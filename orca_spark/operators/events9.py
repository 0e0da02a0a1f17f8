"""Batch session windows via the built-in ``session_window``.

``events_session_window_batch`` — the engine already sessionizes two
ways: the hand-rolled gaps-and-islands form (``events_sessionize``,
lag + running sum) and the streaming ``session_window`` job
(streaming/jobs.py). This operator is the third corner: Spark's built-in
``F.session_window`` in BATCH mode, the one-line API users reach for
first. Its semantics differ from the hand-rolled form in exactly one
observable way, and the surface makes that explicit: a session's END
is ``last event + gap`` (the window the engine holds open waiting for
more), not ``last event``, so the output carries both the event span
and the API's window end.

Semantics pin: two events exactly ``gap`` apart MERGE into one
session (Spark merges when the next start does not exceed the open
window's end — a closed boundary). The oracle replicates that with
``gap_us > 1_800_000_000`` as the new-session condition, the same
comparator the hand-rolled operator uses, so all three sessionizers
agree on boundaries.

Scale: ``session_window`` aggregation is a user-keyed shuffle with
map-side partial merging of open windows — the same shape as the
hand-rolled window form, minus one window pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.tables import load

_GAP_US = 1_800_000_000  # 30 minutes


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
