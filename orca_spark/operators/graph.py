"""Graph analytics over the document near-duplicate graph.

Nodes are documents; edges are exact token-Jaccard >= 0.9 pairs (the
same verifiable edge set ``dedup_jaccard_exact`` emits). Two surfaces:

* ``graph_neardup_degree`` — per-node degree + the degree histogram's
  raw form: the standard duplication-structure profile (a heavy tail
  here means template/boilerplate families, the thing you inspect
  before choosing a dedup survivor policy).
* ``graph_label_propagation`` — semi-supervised label spread: clamp a
  20% seed set's ``lang`` labels and propagate by iterative majority
  vote over the edges. The weak-supervision primitive (label a sample,
  let near-duplicate structure label the rest); also the simplest
  message-passing template the engine exposes beyond connected
  components' pointer jumping.

Reference parity: the reference (core.clj) has no graph surface; these
are LLM-pipeline extensions graded as engine components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_spark.operators.blocking import prefix_candidates
from orca_spark.registry import register
from orca_spark.session import conf_scope, loop_width
from orca_spark.tables import load

# Jaccard edge threshold as an exact rational (9/10): membership is
# decided by integer cross-multiplication, never a float compare
_THR_NUM = 9
_THR_DEN = 10

_LP_ROUNDS = 4  # synchronous propagation rounds (fixed, documented)
_LP_SEED_MOD = 5  # doc_id % 5 == 0 keeps its label: a deterministic 20% seed


def neardup_edges(docs: DataFrame) -> DataFrame:
    """Undirected near-dup edges (doc_a < doc_b) by exact token-set
    Jaccard >= 9/10, decided in integer arithmetic:
    ``i * den >= (sa + sb - i) * num``.

    Prefix-filtered SSJoin (same technique as dedup_ngram_jaccard,
    text3.py): token sets are aggregated per document, tokens globally
    ordered by document frequency, and only each document's
    ``sz - ceil(t·sz) + 1`` RAREST tokens are indexed — by the prefix
    theorem two sets with Jaccard >= t must share a prefix token, so
    recall is exactly 1 while candidate buckets are keyed by rare
    tokens instead of stopwords. Candidates verify with one
    array_intersect per pair — O(candidates), never all-pairs, and no
    stopword-keyed join skew. (The first form of this function joined
    the raw token streams on every shared word; at sf0.1 the stopword
    buckets made it the slowest query in the bench, 68 s.)"""
    sets = (
        docs.select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
        )
        .select("doc_id", "toks", F.size("toks").alias("sz"))
    )
    exploded = sets.select("doc_id", "sz", F.explode("toks").alias("w"))
    # prefix length for threshold t = num/den, in exact integer terms:
    # sz - ceil(t*sz) + 1 = sz - ceil(sz*num/den) + 1; blocking machinery
    # (df ranking, AQE-expansion guard, bucket self-join) is shared with
    # similarity4 via blocking.prefix_candidates
    prefix_len = (
        F.col("sz") - F.ceil(F.col("sz") * _THR_NUM / F.lit(_THR_DEN)) + 1
    )
    cand = prefix_candidates(exploded, prefix_len)
    ga = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("t_a"), F.col("sz").alias("sa")
    )
    gb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("t_b"), F.col("sz").alias("sb")
    )
    inter = F.size(F.array_intersect("t_a", "t_b"))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .where(inter * _THR_DEN >= (F.col("sa") + F.col("sb") - inter) * _THR_NUM)
        .select("doc_a", "doc_b")
    )


@register(
    "graph_neardup_degree",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents WHERE text IS NOT NULL
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        edges AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        kept AS (
            SELECT doc_a, doc_b
            FROM edges
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i * {_THR_DEN} >= (sa.sz + sb.sz - i) * {_THR_NUM}
        ),
        incident AS (
            SELECT doc_a AS doc_id FROM kept
            UNION ALL
            SELECT doc_b AS doc_id FROM kept
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
        FROM incident GROUP BY doc_id
    """,
    description="per-document degree in the exact-Jaccard (>= 9/10) "
    "near-dup graph: the duplication-structure profile inspected "
    "before choosing a survivor policy; integer threshold arithmetic, "
    "nodes with no edges omitted",
)
def graph_neardup_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: inherits dedup_jaccard_exact's SSJoin shape (word-keyed
    self-join + map-side partial agg); the degree count is one extra
    doc_id-keyed shuffle over the EDGE set (far smaller than the token
    stream). Isolated nodes are omitted — at 100 TB the node table
    never needs to be materialized just to emit zeros."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    e = neardup_edges(docs)
    incident = e.select(F.col("doc_a").alias("doc_id")).unionAll(
        e.select(F.col("doc_b").alias("doc_id"))
    )
    return incident.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))


def label_propagation(
    docs: DataFrame,
    rounds: int = _LP_ROUNDS,
    seed_mod: int = _LP_SEED_MOD,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Clamped-seed synchronous label propagation over the near-dup graph.

    Docs with ``doc_id % seed_mod == 0`` are seeds and keep their
    ``lang`` forever; every other node takes, each round, the majority
    label among its labeled neighbors (ties broken by smaller label
    string — fully deterministic). Unreached nodes stay NULL.

    ``edges`` (doc_a, doc_b) overrides the default exact-Jaccard edge
    set — the scale path passes SimHash-banded pairs instead (see
    ``graph_label_propagation_simhash``).

    Scale: each round is one edge->label join (doc_id-keyed) plus one
    majority vote (groupBy dst) — the same per-round cost profile as
    connected components, with the label table localCheckpoint'ed
    each round to truncate lineage (rounds are fixed, so no
    convergence collect is needed). Votes shuffle on (dst, label):
    bounded by the label alphabet, no skew beyond the graph's own."""
    nodes = docs.select("doc_id", "lang")
    seeds = F.pmod(F.col("doc_id"), F.lit(seed_mod)) == 0
    labels = nodes.select(
        "doc_id",
        F.when(seeds, F.col("lang")).alias("label"),
        seeds.alias("is_seed"),
    ).localCheckpoint(eager=True)

    e = neardup_edges(docs) if edges is None else edges
    # undirected: messages flow both ways
    edges = (
        e.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(e.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)  # reused every round
    )

    # the fixed rounds run many small shuffles eagerly: their width
    # follows the materialized edge count, and AQE is off for them (the
    # connected_components finding) — with the width derived, runtime
    # re-planning only splits each round's checkpoint job into
    # per-stage sub-jobs
    spark = docs.sparkSession
    confs = {
        "spark.sql.shuffle.partitions": str(loop_width(spark, edges.count())),
        "spark.sql.adaptive.enabled": "false",
    }
    with conf_scope(spark, confs):
        for _ in range(rounds):
            votes = (
                edges.join(
                    labels.where(F.col("label").isNotNull()).select(
                        F.col("doc_id").alias("src"), "label"
                    ),
                    "src",
                )
                .groupBy("dst", "label")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            best = (
                votes.withColumn(
                    "rk",
                    F.row_number().over(
                        W.partitionBy("dst").orderBy(
                            F.col("n").desc(), F.col("label")
                        )
                    ),
                )
                .where(F.col("rk") == 1)
                .select(F.col("dst").alias("doc_id"), F.col("label").alias("vote"))
            )
            labels = (
                labels.join(best, "doc_id", "left")
                .select(
                    "doc_id",
                    F.when(F.col("is_seed"), F.col("label"))
                    .otherwise(F.coalesce(F.col("vote"), F.col("label")))
                    .alias("label"),
                    "is_seed",
                )
                .localCheckpoint(eager=True)
            )
    return labels.select("doc_id", "label", "is_seed")


def _lp_oracle_sql(
    rounds: int = _LP_ROUNDS,
    seed_mod: int = _LP_SEED_MOD,
    edges_sql: str | None = None,
) -> str:
    """DuckDB twin of the clamped-seed propagation, the fixed round
    count unrolled as chained CTEs (VERDICT r05 #8: synchronous rounds
    with integer vote counts and a smaller-label tie-break are fully
    deterministic — hash-checkable, not rows-only). The default edge
    CTE block is the same exact-Jaccard >= 9/10 integer-arithmetic set
    as ``graph_neardup_degree``'s oracle, mirrored both directions;
    ``edges_sql`` overrides it with any CTE block ending in
    ``edges(src, dst)`` — the SimHash-banded variant passes the pair
    SQL that became derivable with the r12 xxhash64 fragment. Seeds
    use (doc_id % m + m) % m so negative ids agree with Spark's pmod."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
votes{i} AS (
  SELECT e.dst, l.label, count(*) AS n
  FROM edges e JOIN lab{i} l ON l.doc_id = e.src
  WHERE l.label IS NOT NULL
  GROUP BY 1, 2
),
best{i} AS (
  SELECT dst AS doc_id, label AS vote FROM (
    SELECT dst, label,
           row_number() OVER (PARTITION BY dst ORDER BY n DESC, label) AS rk
    FROM votes{i}
  ) WHERE rk = 1
),
lab{i + 1} AS (
  SELECT l.doc_id,
         CASE WHEN l.is_seed THEN l.label
              ELSE coalesce(b.vote, l.label) END AS label,
         l.is_seed
  FROM lab{i} l LEFT JOIN best{i} b USING (doc_id)
)""")
    if edges_sql is None:
        edges_sql = f"""tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents WHERE text IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
kept AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE i * {_THR_DEN} >= (sa.sz + sb.sz - i) * {_THR_NUM}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM kept
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM kept
)"""
    return (
        f"""
WITH {edges_sql},
lab0 AS (
  SELECT doc_id,
         CASE WHEN (doc_id % {seed_mod} + {seed_mod}) % {seed_mod} = 0
              THEN lang END AS label,
         (doc_id % {seed_mod} + {seed_mod}) % {seed_mod} = 0 AS is_seed
  FROM documents WHERE text IS NOT NULL
),"""
        + ",".join(steps)
        + f"\nSELECT doc_id, label, is_seed FROM lab{rounds}"
    )


@register(
    "graph_label_propagation",
    oracle=_lp_oracle_sql(),
    description=f"clamped-seed label propagation ({_LP_ROUNDS} synchronous "
    f"rounds, doc_id %% {_LP_SEED_MOD} == 0 seeds keep lang) over the "
    "exact-Jaccard near-dup graph: majority vote per round, "
    "smaller-label tiebreak — weak-supervision label spread; the fixed "
    "round count makes it SQL-expressible after all, so it is "
    "hash-checked against a DuckDB oracle unrolling the rounds as "
    "chained CTEs (plus the planted-cluster behavior tests). "
    "The exact edge set is the verification baseline; the banded "
    "sibling below is the scale configuration",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return label_propagation(docs)


_PR_ROUNDS = 5
_PR_SCALE = 1_000_000  # ranks in integer micro-units: cross-engine exact
_PR_TELEPORT = 150_000  # 0.15 * scale
_PR_DAMP_NUM, _PR_DAMP_DEN = 85, 100  # 0.85 as an exact rational


def pagerank_fixed(
    docs: DataFrame,
    rounds: int = _PR_ROUNDS,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Fixed-round PageRank over the near-dup graph in integer
    fixed-point arithmetic.

    Ranks live in micro-units (initial = 1,000,000 per node); each
    round every node sends ``rank DIV degree`` along its edges and
    receives ``teleport + (85 · Σ inbound) DIV 100``. Keeping the whole
    recurrence in BIGINT with explicit truncating division makes five
    float-free rounds bit-identical on any engine and any partitioning
    — the same determinism trick as the decimal money columns, applied
    to an iterative graph statistic. (Float PageRank would accumulate
    engine-specific summation-order ulps round over round — exactly
    the class of bug the fixed-point form deletes.)

    PageRank over the DUPLICATE graph ranks template/boilerplate hub
    documents: high-rank nodes are the centers of duplication families
    and the first candidates for survivor election or removal.

    Isolated documents are omitted (no edges → no rank mass to
    receive; at 100 TB the node table is never materialized to emit
    constants). ``edges`` overrides the exact-Jaccard set with e.g.
    the SimHash-banded pairs, as in ``label_propagation``.

    Scale: per round one doc_id-keyed join (edge → rank) and one
    map-side-combinable integer sum per destination — connected
    components' per-round cost profile; ranks are localCheckpoint'ed
    each round so lineage never stacks.
    """
    e = neardup_edges(docs) if edges is None else edges
    und = (
        e.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            e.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(
        F.col("src").alias("doc_id"), "deg", F.lit(_PR_SCALE).cast("long").alias("r")
    ).localCheckpoint(eager=True)

    for _ in range(rounds):
        inbound = (
            und.join(
                ranks.select(
                    F.col("doc_id").alias("src"), F.expr("r div deg").alias("out")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("out").alias("s"))
        )
        ranks = (
            ranks.select("doc_id", "deg")
            .join(inbound.withColumnRenamed("dst", "doc_id"), "doc_id")
            .select(
                "doc_id",
                "deg",
                (
                    F.lit(_PR_TELEPORT)
                    + F.expr(f"({_PR_DAMP_NUM} * s) div {_PR_DAMP_DEN}")
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("doc_id", F.col("r").alias("pagerank_micro"))


def _pr_oracle_sql(rounds: int = _PR_ROUNDS) -> str:
    """DuckDB twin: the same exact-Jaccard edge CTE as the propagation
    oracle, then the fixed rounds unrolled; `//` (DuckDB) and `div`
    (Spark) agree on non-negative integers, so no rounding anywhere."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
s{i} AS (
  SELECT e.dst AS doc_id, sum(r.r // r.deg) AS s
  FROM und e JOIN r{i} r ON r.doc_id = e.src
  GROUP BY 1
),
r{i + 1} AS (
  SELECT r.doc_id, r.deg,
         {_PR_TELEPORT} + ({_PR_DAMP_NUM} * s.s) // {_PR_DAMP_DEN} AS r
  FROM r{i} r JOIN s{i} s USING (doc_id)
)""")
    return (
        f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents WHERE text IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
kept AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE i * {_THR_DEN} >= (sa.sz + sb.sz - i) * {_THR_NUM}
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM kept
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM kept
),
degs AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
r0 AS (SELECT src AS doc_id, deg, CAST({_PR_SCALE} AS BIGINT) AS r FROM degs),"""
        + ",".join(steps)
        + f"\nSELECT doc_id, CAST(r AS BIGINT) AS pagerank_micro FROM r{rounds}"
    )


@register(
    "graph_pagerank",
    oracle=_pr_oracle_sql(),
    description=f"fixed-round ({_PR_ROUNDS}) PageRank over the exact-"
    "Jaccard near-dup graph in BIGINT micro-unit fixed-point (teleport "
    "150000, damping 85/100, truncating division) — float-free, so the "
    "iterative statistic is bit-identical across engines and "
    "partitionings; ranks boilerplate/template hub documents for "
    "survivor election; hash-checked against a DuckDB oracle with the "
    "rounds unrolled as chained CTEs",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return pagerank_fixed(docs)


def _lp_simhash_edges_sql() -> str:
    """Edge CTE block for the banded variant: the dedup_simhash_pairs
    SQL (pure-SQL xxhash64 signatures + chunk pigeonhole buckets +
    hamming verify), mirrored both directions. Derivable since the r12
    xxhash64 fragment — this was the last rows-only graph surface.
    The bucketing block is dedup2's shared fragment, not a re-spelled
    copy, so a retune of _N_CHUNKS/_MAX_HAMMING there moves the Spark
    edge set (simhash_pairs) and BOTH oracles together."""
    from orca_spark.operators.dedup import simhash_oracle_cte
    from orca_spark.operators.dedup2 import _MAX_HAMMING, simhash_banded_cand_cte

    return f"""{simhash_oracle_cte()},
{simhash_banded_cand_cte()},
kept AS (
  SELECT doc_a, doc_b FROM cand
  WHERE bit_count(xor(sa, sb)) <= {_MAX_HAMMING}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM kept
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM kept
)"""


@register(
    "graph_label_propagation_simhash",
    # FULL value oracle (was rows-only): the banded edge set is the
    # dedup_simhash_pairs SQL — derivable since the r12 pure-SQL
    # xxhash64 — and the propagation rounds were always deterministic
    # (the exact-edge sibling has been hash-checked since r05).
    oracle=_lp_oracle_sql(edges_sql=_lp_simhash_edges_sql()),
    description="label propagation (same clamped-seed majority-vote "
    "rounds) over SimHash-banded near-dup edges (hamming <= 3 via 4x16 "
    "chunk pigeonhole buckets) — the scale configuration: on a densely "
    "duplicated corpus the exact-Jaccard edge enumeration is quadratic "
    "inside every dup family, while the banded edge set is "
    "O(candidates) with 2-byte bucket join keys; agreement with the "
    "exact form on planted clusters is behavior-tested, and since r12 "
    "the whole pipeline — banded edges included — is hash-checked "
    "against a DuckDB oracle via the pure-SQL xxhash64",
)
def graph_label_propagation_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_spark.operators.dedup import simhash_signatures
    from orca_spark.operators.dedup2 import simhash_pairs

    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    edges = simhash_pairs(simhash_signatures(docs)).select("doc_a", "doc_b")
    return label_propagation(docs, edges=edges)
