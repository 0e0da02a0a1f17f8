"""Recursive CTE (Spark 4's WITH RECURSIVE) — iterative SQL without
leaving the engine.

``sql_recursive_type_paths`` materializes every bounded-depth path
through the event-type transition graph: the distinct (from, to)
edges observed in per-user event streams (the same edge set the
Markov-transition operator estimates probabilities over), expanded
recursively to paths of length <= 3. This is the canonical recursive
shape — reachability over a model-sized edge list — and it runs
entirely in ``spark.sql`` with the same text DuckDB executes, because
both engines implement the SQL-standard recursive UNION ALL with an
explicit depth bound.

Scale: the recursion is over the CONTRACTED edge list (|event types|^2
at most), never the event stream — the stream is touched once to
derive edges. The driver-side fixpoint loops elsewhere in the engine
(connected components, k-core) remain the right tool when the
recursion carries data-sized state; WITH RECURSIVE is the right tool
when it carries model-sized state, and this query documents that
boundary.

Reference parity: core.clj has no SQL surface (SURVEY §2.5); Spark-4
engine surface alongside spark4.py (VARIANT / lateralJoin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from orca_spark.registry import register
from orca_spark.tables import load

_MAX_DEPTH = 3

# The recursion body references the edge CTE once per iteration, and
# Spark 4's UnionLoop has no MATERIALIZED hint (the DuckDB oracle uses
# one): with edges written inline, every loop step re-ran the FULL
# events scan + lag window + distinct (plan operators 12-18 duplicated
# under UnionLoopRef — plans/r13/sql_recursive_type_paths_before.txt),
# ~4 window passes over the event stream for a 3-level expansion. The
# edge list is model-sized (|event types|² at most), so it is
# materialized ONCE via localCheckpoint and the recursion joins the
# cached relation — guide §7.2 (duplicated subtrees) applied to the
# loop body. BROADCAST hint: the checkpointed RDD carries no stats, so
# the per-iteration join would otherwise plan sort-merge for a
# model-sized build side.
_SQL = f"""
    WITH RECURSIVE paths (src, dst, depth, path) AS (
        SELECT src, dst, 1, concat(src, '>', dst) FROM {{edges}}
        UNION ALL
        SELECT /*+ BROADCAST(e) */
               p.src, e.dst, p.depth + 1, concat(p.path, '>', e.dst)
        FROM paths p
        JOIN {{edges}} e ON e.src = p.dst
        WHERE p.depth < {_MAX_DEPTH}
    )
    SELECT src, dst, CAST(depth AS BIGINT) AS depth, path
    FROM paths
"""


@register(
    "sql_recursive_type_paths",
    oracle=f"""
        WITH RECURSIVE tr AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id NULLS FIRST)
                       AS prev_type
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
              AND user_id IS NOT NULL
        ),
        edges AS MATERIALIZED (
            SELECT DISTINCT prev_type AS src, event_type AS dst
            FROM tr
            WHERE prev_type IS NOT NULL
        ),
        paths (src, dst, depth, path) AS (
            SELECT src, dst, 1, concat(src, '>', dst) FROM edges
            UNION ALL
            SELECT p.src, e.dst, p.depth + 1, concat(p.path, '>', e.dst)
            FROM paths p
            JOIN edges e ON e.src = p.dst
            WHERE p.depth < {_MAX_DEPTH}
        )
        SELECT src, dst, CAST(depth AS BIGINT) AS depth, path
        FROM paths
    """,
    description=f"WITH RECURSIVE (Spark 4 recursive CTE): all "
    f"depth-<={_MAX_DEPTH} paths through the observed event-type "
    "transition graph (distinct per-user consecutive-event edges, ts "
    "then event_id ordered), emitted as '>'-joined path strings — "
    "the engine's iterate-in-SQL surface; the recursion runs over the "
    "contracted |types|^2 edge list, never the event stream, which is "
    "the documented boundary between WITH RECURSIVE (model-sized "
    "state) and the driver-side fixpoint loops (data-sized state)",
)
def sql_recursive_type_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = spark.sql(
        """
        SELECT DISTINCT prev_type AS src, event_type AS dst
        FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM {events}
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
              AND user_id IS NOT NULL
        )
        WHERE prev_type IS NOT NULL
        """,
        events=load(spark, sf_dir, "events"),
    ).localCheckpoint(eager=True)
    return spark.sql(_SQL, edges=edges)
