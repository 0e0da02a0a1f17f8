"""Arbitrary per-key streaming state: ``applyInPandasWithState`` and the
Spark 4 ``transformWithStateInPandas`` (TWS) family.

``streaming_stateful_user_totals`` is the legacy shape: one state tuple
per key, folded by a Python function over Arrow batches. TWS is its
successor — a ``StatefulProcessor`` OBJECT with named state variables
initialized once per partition — and the five TWS queries cover its
facilities:

* ``ValueState`` — per-user running count + max
  (``streaming_tws_user_running_max``) and the content-hash dedup index
  of ``streaming_ingest_gate_dedup``;
* ``ListState`` — a bounded per-key buffer of the K latest events, the
  streaming "last K interactions per user" feature; the fold trims
  INSIDE the processor, so state is O(K) per key at any stream length;
* ``MapState`` — per-user per-event-type counts, the sub-keyed
  aggregate that keeps whole users evictable;
* event-time timers — ``streaming_tws_timer_flush`` accumulates
  silently and flushes each key's row in ``handleExpiredTimer`` when
  the watermark passes (emit once per key when it goes quiet).

All run on the RocksDB state store and are driven to completion with
availableNow + memory sink, so each oracle is the identical batch
aggregation. Update mode emits once per key per micro-batch;
``_final_per_key`` keeps each key's final emission by a monotonic
progress column, robust to multi-batch runs. Money-valued doubles fold
as BIGINT cents (round(v*100) per row is 2-dp-exact), so emission order
and float summation order cannot drift the hash.

Each processor is built by a module-scope factory so its fold logic is
executable WITHOUT the protobuf transport: ``StatefulProcessor`` itself
imports clean (only the TWS worker's wire protocol needs
``google.protobuf``), so tests drive ``init``/``handleInputRows``
against a fake handle. The TWS queries REGISTER only when that
dependency imports (``tws_available``); the functions stay importable
either way, and ``applyInPandasWithState`` remains the always-available
stateful path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from orca_spark.operators.pipeline4 import gate_rows

# the oracle's gate mirror reuses pipeline4's published SQL fragment
from orca_spark.operators.pipeline5 import _GATE_SQL
from orca_spark.registry import register
from orca_spark.streaming.jobs import run_to_memory, stream_table

_K = 3


def tws_available() -> bool:
    """True iff the TWS Python worker's protobuf dependency imports
    (vendored fallback included — see orca_spark/vendor.py)."""
    from orca_spark.vendor import ensure_protobuf

    return ensure_protobuf()


def cents_half_away(values) -> np.ndarray:
    """Money to integer cents with HALF-AWAY-FROM-ZERO ties — the tie
    rule SQL round() uses in BOTH engines (Spark HALF_UP, DuckDB
    std::round). Python's builtin round() and pandas .round() are
    banker's (half-to-even) and silently diverge on exact halves: 0.125
    * 100 = 12.5 is representable, round(12.5) = 12 but SQL round gives
    13 — a real driver-hash mismatch class for any Python-side kernel.

    NOT floor(x + 0.5): the addition itself rounds, so one-ulp-below-
    half values (1.005 * 100 = 100.49999999999999) can tie UP in the
    add while std::round correctly truncates. Comparing the exact
    fractional part (x - floor(x) is exact for |x| < 2^52) has no such
    double-rounding. (2.675 * 100 is EXACTLY 267.5 in binary — the
    product rounds to the half — so 268 is the correct SQL answer
    there, duckdb-verified; see test_tws_cents_round_half_away.)

    NaN never reaches this fold: the jobs filter NOT isnan(value) on
    both the stream and the oracle (CAST(NaN AS BIGINT) aborts in both
    engines — the filter is the contract)."""
    x = np.asarray(values, dtype="float64") * 100.0
    f, c = np.floor(x), np.ceil(x)
    return np.where(x >= 0, f + (x - f >= 0.5), c - (c - x >= 0.5)).astype(
        "int64"
    )


def _final_per_key(out: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Update-mode streams emit once per key per micro-batch; keep each
    key's final (largest-progress) emission, robust to multi-batch."""
    w = W.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# applyInPandasWithState
# ---------------------------------------------------------------------------

_STATE_SCHEMA = "n bigint, total double"
_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _count_events(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-user running (count, sum(value)).

    State lives in the state store; each micro-batch folds its rows in.
    This is the template for any custom stateful op the built-in
    windows can't express.
    """
    if state.hasTimedOut:
        n, total = state.get
        state.remove()
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


@register(
    "streaming_stateful_user_totals",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY user_id
    """,
    description="applyInPandasWithState custom stateful operator "
    "(per-user running totals), update mode, driven to completion",
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events").select("user_id", "value")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _count_events,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(updated, "update")
    return _final_per_key(out, ["user_id"], "n_events").select(
        "user_id", "n_events", F.round("total_value", 4).alias("total_value")
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas processors
# ---------------------------------------------------------------------------


def make_running_max():
    """ValueState fold: per-user running (count, max value)."""

    class RunningMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, mx DOUBLE")

        def handleInputRows(
            self, key, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            if self._agg.exists():
                n, mx = self._agg.get()
            else:
                n, mx = 0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    mx = max(mx, float(pdf["value"].max()))
            self._agg.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

    return RunningMax()


def make_last_k_processor():
    """ListState fold: keep the _K events with the largest event_id per
    user, emit (n_kept, cents sum of kept values, max event_id)."""

    class LastK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._buf = handle.getListState("buf", "event_id BIGINT, cents BIGINT")
            # monotonic progress counter: total events ever folded for
            # this key. max_event_id is NOT monotonic evidence of
            # progress (a later batch can displace buffer members
            # without raising the max), so the final-emission reducer
            # orders by this instead.
            self._seen = handle.getValueState("n_seen", "n BIGINT")

        def handleInputRows(
            self, key, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            kept = [tuple(t) for t in self._buf.get()] if self._buf.exists() else []
            seen = int(self._seen.get()[0]) if self._seen.exists() else 0
            for pdf in rows:
                seen += len(pdf)
                kept.extend(
                    (int(e), int(c))
                    for e, c in zip(pdf["event_id"], cents_half_away(pdf["value"]))
                )
            kept.sort(key=lambda t: -t[0])
            kept = kept[:_K]
            self._buf.put(kept)
            self._seen.update((seen,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_kept": [len(kept)],
                    "cents_kept": [sum(c for _, c in kept)],
                    "max_event_id": [kept[0][0]],
                    "n_seen": [seen],
                }
            )

    return LastK()


def make_type_count_processor():
    """MapState fold: per-user map event_type -> count, flattened to
    (user_id, event_type, n_events) rows on emission."""

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts", "event_type STRING", "n BIGINT"
            )

        def handleInputRows(
            self, key, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            for pdf in rows:
                for et, n in pdf["event_type"].value_counts().items():
                    k = (et,)
                    prev = (
                        self._counts.getValue(k)[0]
                        if self._counts.containsKey(k)
                        else 0
                    )
                    self._counts.updateValue(k, (prev + int(n),))
            types, counts = [], []
            for (et,), (n,) in self._counts.iterator():
                types.append(et)
                counts.append(n)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(types),
                    "event_type": types,
                    "n_events": counts,
                }
            )

    return TypeCounts()


def make_timer_flush_processor():
    """ValueState fold with an event-time timer: the data path
    accumulates (count, cents) silently and ``handleExpiredTimer``
    emits the key's row."""

    class TimerFlush(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, cents BIGINT")
            self._handle = handle

        def handleInputRows(
            self, key, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            if self._agg.exists():
                n, cents = self._agg.get()
            else:
                n, cents = 0, 0
            for pdf in rows:
                n += len(pdf)
                # round PER ROW then sum: 2-dp money is exact per row;
                # summing doubles first would reintroduce float
                # accumulation
                cents += int(cents_half_away(pdf["value"]).sum())
            self._agg.update((n, cents))
            # an already-expired expiry: fires on the next watermark
            # advance — i.e. the final timer micro-batch of a bounded
            # run, after all input
            self._handle.registerTimer(1)
            return iter([])

        def handleExpiredTimer(
            self, key, timerValues, expiredTimerInfo
        ) -> Iterator[pd.DataFrame]:
            n, cents = self._agg.get() if self._agg.exists() else (0, 0)
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "cents_total": [cents]}
            )

    return TimerFlush()


def make_gate_dedup_processor():
    """ValueState fold: per content-hash key keep (survivor = running
    min doc_id, n_copies, n_words)."""

    class GateDedup(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "s", "survivor BIGINT, n BIGINT, n_words BIGINT"
            )

        def handleInputRows(
            self, key, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            if self._st.exists():
                surv, n, nw = (int(v) for v in self._st.get())
            else:
                surv, n, nw = None, 0, 0
            for pdf in rows:
                n += len(pdf)
                m = int(pdf["doc_id"].min())
                surv = m if surv is None or m < surv else surv
                # group members are byte-identical texts: every row in
                # this key carries the same token count
                nw = int(pdf["n_words"].iloc[0])
            self._st.update((surv, n, nw))
            yield pd.DataFrame(
                {
                    "h": [int(key[0])],
                    "survivor_doc_id": [surv],
                    "n_copies": [n],
                    "n_words": [nw],
                }
            )

    return GateDedup()


# ---------------------------------------------------------------------------
# transformWithStateInPandas queries
# ---------------------------------------------------------------------------


def streaming_tws_user_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_table(spark, sf_dir, "events").select("user_id", "value")
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_running_max(),
        outputStructType="user_id bigint, n_events bigint, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    out = run_to_memory(updated, "update")
    return _final_per_key(out, ["user_id"], "n_events").select(
        "user_id", "n_events", F.round("max_value", 4).alias("max_value")
    )


def streaming_tws_last_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL contract: a row without an event_id or value cannot enter a
    # last-K-by-id buffer, and a NULL user_id cannot be a TWS grouping
    # key — filtered on both sides.
    # NaN too: CAST(NaN AS BIGINT) aborts in both engines, so NaN money
    # is unrepresentable in a cents column by contract, not by accident.
    ev = (
        stream_table(spark, sf_dir, "events")
        .where(
            F.col("event_id").isNotNull()
            & F.col("value").isNotNull()
            & ~F.isnan("value")
            & F.col("user_id").isNotNull()
        )
        .select("user_id", "event_id", "value")
    )
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_last_k_processor(),
        outputStructType="user_id bigint, n_kept bigint, cents_kept bigint, "
        "max_event_id bigint, n_seen bigint",
        outputMode="Update",
        timeMode="None",
    )
    out = run_to_memory(updated, "update")
    # reduce on the monotonic fold counter, NOT max_event_id: two
    # emissions can tie on max_event_id while differing in cents_kept
    # (a later batch displacing smaller buffer members), and a tied
    # row_number pick would keep a stale row nondeterministically
    return _final_per_key(out, ["user_id"], "n_seen").select(
        "user_id", "n_kept", "cents_kept", "max_event_id"
    )


def streaming_tws_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL contract: NULL cannot be a MapState sub-key (the state row
    # schema is non-null) nor a TWS grouping key — filtered on both
    # sides, explicitly. The n_events reducer below is tie-safe: counts
    # only grow, and emissions tied on n_events are identical rows.
    ev = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "event_type")
    )
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_type_count_processor(),
        outputStructType="user_id bigint, event_type string, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )
    out = run_to_memory(updated, "update")
    return _final_per_key(out, ["user_id", "event_type"], "n_events").select(
        "user_id", "event_type", "n_events"
    )


def streaming_tws_timer_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL contract: value participates in the cents fold (NaN money is
    # unrepresentable — CAST(NaN AS BIGINT) aborts in both engines),
    # user_id NULL keys cannot group in TWS, and the watermark drops
    # NULL event times — ALL filtered on both sides so neither engine's
    # implicit drop behavior is load-bearing.
    # The processor registers an already-expired timer each batch, so
    # the flush fires in the availableNow run's final timer micro-batch,
    # after all input: the bounded-run result is the batch aggregate.
    ev = (
        stream_table(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .withWatermark("ts", "1 hour")
        .select("user_id", "value")
    )
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_timer_flush_processor(),
        outputStructType="user_id bigint, n_events bigint, cents_total bigint",
        outputMode="Update",
        timeMode="EventTime",
    )
    out = run_to_memory(updated, "update")
    return _final_per_key(out, ["user_id"], "n_events").select(
        "user_id", "n_events", "cents_total"
    )


def streaming_ingest_gate_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the gate is pipeline4.gate_rows — the same Gopher token-rule stage
    # the batch composites run, as row-local expressions fused into the
    # stream scan; dedup keys on the 8-byte content hash, never raw text
    gated = gate_rows(stream_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_words", F.xxhash64("text").alias("h")
    )
    updated = gated.groupBy("h").transformWithStateInPandas(
        statefulProcessor=make_gate_dedup_processor(),
        outputStructType="h bigint, survivor_doc_id bigint, "
        "n_copies bigint, n_words bigint",
        outputMode="Update",
        timeMode="None",
    )
    out = run_to_memory(updated, "update")
    # final emission per HASH key (n_copies is the monotonic progress
    # counter; the survivor id can still decrease between batches, so
    # it is not a stable reduce identity), then drop the engine-specific
    # hash so the compared surface is oracle-neutral
    return _final_per_key(out, ["h"], "n_copies").select(
        "survivor_doc_id", "n_copies", "n_words"
    )


if tws_available():
    register(
        "streaming_tws_user_running_max",
        oracle="""
            SELECT user_id, count(*) AS n_events,
                   round(max(value), 4) AS max_value
            FROM events
            GROUP BY user_id
        """,
        description="transformWithStateInPandas (Spark 4 "
        "StatefulProcessor API) per-user running count + max: a named "
        "ValueState variable folds each Arrow batch, update-mode "
        "emissions are reduced to the final row per key — the "
        "successor API to applyInPandasWithState, proven against the "
        "same batch-semantics oracle. Registered only when the TWS "
        "protobuf dependency is importable",
    )(streaming_tws_user_running_max)

    register(
        "streaming_tws_last_k_events",
        oracle=f"""
            WITH ranked AS (
                SELECT user_id, event_id,
                       CAST(round(value * 100) AS BIGINT) AS cents,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events
                WHERE event_id IS NOT NULL AND value IS NOT NULL
                  AND NOT isnan(value) AND user_id IS NOT NULL
            )
            SELECT user_id,
                   CAST(count(*) AS BIGINT)    AS n_kept,
                   CAST(sum(cents) AS BIGINT)  AS cents_kept,
                   CAST(max(event_id) AS BIGINT) AS max_event_id
            FROM ranked WHERE rn <= {_K}
            GROUP BY user_id
        """,
        description=f"transformWithStateInPandas ListState: per-user "
        f"bounded buffer of the {_K} latest events (by event_id) — the "
        "streaming last-K feature-store shape, state O(K) per key "
        "because the fold trims inside the processor; values carried "
        "as BIGINT cents, oracle is the batch top-K window",
    )(streaming_tws_last_k_events)

    register(
        "streaming_tws_type_counts",
        oracle="""
            SELECT user_id, event_type,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events
            WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            GROUP BY user_id, event_type
        """,
        description="transformWithStateInPandas MapState: per-user map "
        "of event_type -> running count, flattened to rows at emission "
        "— the sub-keyed aggregate shape that keeps the grouping key "
        "evictable per user; oracle is the batch two-key groupBy",
    )(streaming_tws_type_counts)

    register(
        "streaming_tws_timer_flush",
        oracle="""
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS cents_total
            FROM events
            WHERE value IS NOT NULL AND NOT isnan(value)
              AND user_id IS NOT NULL AND ts IS NOT NULL
            GROUP BY user_id
        """,
        description="transformWithStateInPandas EVENT-TIME TIMERS: the "
        "data path accumulates silently and a registered timer flushes "
        "each key's final row in handleExpiredTimer when the watermark "
        "passes — the emit-when-quiet production shape (session "
        "finalization, abandoned carts) that avoids per-micro-batch "
        "flooding; completes the TWS facility coverage (ValueState/"
        "ListState/MapState/timers); money folds as BIGINT cents",
    )(streaming_tws_timer_flush)

    register(
        "streaming_ingest_gate_dedup",
        oracle=f"""
            WITH {_GATE_SQL}
            SELECT CAST(min(doc_id) AS BIGINT) AS survivor_doc_id,
                   CAST(count(*) AS BIGINT)    AS n_copies,
                   CAST(min(n_words) AS BIGINT) AS n_words
            FROM kept
            GROUP BY md5(text)
        """,
        description="streaming ingest -> Gopher gate -> exact dedup as "
        "one continuous TWS job: the batch composites' gate_rows stage "
        "fused into the micro-batch scan, then a ValueState fold keyed "
        "on the 8-byte content hash holding (min-doc_id survivor, copy "
        "count) — O(1) RocksDB state per distinct text, restart resumes "
        "from checkpoint, never a history rescan; oracle is the "
        "identical batch gate + group-by-text aggregation",
    )(streaming_ingest_gate_dedup)
