"""Edit-distance near-duplicate verification (record-linkage style).

MinHash/SimHash find near-dups by set/bit similarity; an edit-distance
verify is the classic record-linkage complement — it catches small
in-place character edits (typos, template slot changes) that token-set
metrics under-weigh, and its threshold has a direct data-entry meaning
("at most T keystrokes apart").

Naive all-pairs Levenshtein is O(n²·len²) — unusable. The operator is
structured as block → prune → verify:

* **Block** on (lang, length bucket): distance ≤ T forces
  ``|len(a)-len(b)| ≤ T``, so bucketing lengths by width T and probing
  the three adjacent buckets {b-1, b, b+1} is lossless. Blocks are the
  unit of parallelism; candidate count is Σ per-block n², never corpus
  n².
* **Prune** with the exact length test before any string work.
* **Verify** with Spark's 3-arg ``levenshtein(a, b, T)`` — the banded
  DP early-exits at threshold T (O(T·len) per pair, returns -1 past
  it) — so the expensive kernel runs only inside blocks and only until
  refutation.

At 100 TB the block key keeps the join shuffle-partitionable; a skewed
(lang, bucket) block is salted like any other skewed join key. The
length-bucket explode is a 3× fan-out of (id, bucket) pairs only — the
text column rides the probe side once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark import memo
from orca_spark.registry import register
from orca_spark.tables import load

_MAX_EDITS = 20  # verify threshold T: at most T character edits apart

# Hot-block cap (guide §2.3): a (lang, bucket) block above this row
# count is split across ceil(n/cap) salt slices so its O(n²) verify
# cannot serialize on one task at 100 TB. 4096 rows ≈ 8M banded-DP
# pairs per task — a large but bounded task quantum; every block at
# the test SFs sits far under it (max ≈ 200 rows at sf0.1), so the
# salt machinery is inert locally (nsalt = 1) and pair-set invariance
# under nsalt > 1 is pinned by a dedicated tiny-cap test
# (tests/test_linkage.py).
_BLOCK_CAP = 4096


def edit_distance_pairs(
    docs: DataFrame,
    max_edits: int = _MAX_EDITS,
    block_cap: int = _BLOCK_CAP,
    cache_key: str | None = None,
) -> DataFrame:
    """Near-dup pairs with ``levenshtein(text_a, text_b) <= max_edits``.

    ``docs`` needs (doc_id, text, lang, n_chars). Pairs are emitted once
    with ``doc_a < doc_b``.
    """
    t = max_edits
    base = docs.select("doc_id", "text", "lang", "n_chars").where(
        F.col("text").isNotNull()
    )
    # Build side: each doc probes its own bucket and both neighbors, so
    # any pair within T length-delta meets in exactly ONE (lang, bucket)
    # block: the probe side's own bucket.
    # The banded-DP verify is QUADRATIC per block, so parallelism must
    # be sized to cores, not to probe-side row count: a corpus small
    # enough to arrive as one scan split (and a build side small enough
    # to broadcast) otherwise runs the entire verify in a single task —
    # measured 4.05 s in ONE task of one job at sf0.1 while 31 cores
    # idled. Hash-repartitioning the probe by the block key is the same
    # exchange a sort-merge plan needs at cluster scale anyway (where
    # neither side fits a broadcast), so the shape is scale-invariant.
    #
    # Skew (guide §2.3, r12 verdict item 6): one hot (lang, bucket)
    # length-bucket at corpus scale would still land a whole O(n²)
    # block on one task. Blocks above ``block_cap`` rows are SALTED:
    # each probe row picks a deterministic slice (pmod of its id hash),
    # each build row is replicated to every slice of its bucket, and
    # the join key grows the salt — every pair still meets exactly once
    # (in the probe row's slice), so the pair set is unchanged while a
    # hot block spreads over ceil(n/cap) tasks.
    #
    # The salt factors come from a COLLECTED metadata-only count (lang +
    # length bucket, text never read; over-counting NULL-text rows is
    # safe — salting is lossless for any factor, so the strategy pick
    # only needs an upper bound) and the plan is built driver-side from
    # the result — the _rep_pairs_adaptive convention: when no block
    # exceeds the cap (every test SF: max block ≈ 200 rows at sf0.1)
    # the emitted plan is EXACTLY the unsalted one, so the common case
    # pays one tiny collect instead of two broadcast joins + a wider
    # key (measured +0.4 s on a 0.6 s bench entry for the always-salted
    # plan form).
    spark = docs.sparkSession
    bucket = F.floor(F.col("n_chars") / t)

    def count_hot() -> dict:
        hot = (
            docs.select("lang", bucket.alias("bucket"))
            # NULL lang/bucket rows can never match the equi-join below —
            # excluded so the literal map never needs a NULL key
            .where(F.col("lang").isNotNull() & F.col("bucket").isNotNull())
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > block_cap)
            .collect()
        )
        return {(r.lang, r.bucket): -(-r._n // block_cap) for r in hot}  # ceil

    salt_of = (
        count_hot()
        if cache_key is None
        else memo.cached(cache_key, ("salt", max_edits, block_cap), count_hot)
    )
    probe_cols = [
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("n_chars").alias("len_b"),
        "lang",
        bucket.alias("bucket"),
    ]
    build_cols = [
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.col("n_chars").alias("len_a"),
        "lang",
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bucket"),
    ]
    par = spark.sparkContext.defaultParallelism
    if not salt_of:
        probe = base.select(*probe_cols).repartition(par, "lang", "bucket")
        build = base.select(*build_cols)
        join_key = ["lang", "bucket"]
    else:
        # nsalt as a literal (lang, bucket) -> factor map; absent = 1
        entries = [
            x
            for (lang, bkt), n in sorted(salt_of.items())
            for x in (
                F.struct(
                    F.lit(lang).cast("string").alias("lang"),
                    F.lit(int(bkt)).cast("bigint").alias("bucket"),
                ),
                F.lit(int(n)),
            )
        ]
        nsalt = F.coalesce(
            F.element_at(
                F.create_map(*entries), F.struct(F.col("lang"), F.col("bucket"))
            ),
            F.lit(1),
        )
        probe = (
            base.select(*probe_cols)
            .withColumn(
                "salt",
                F.pmod(F.xxhash64("doc_b"), nsalt.cast("long")).cast("int"),
            )
            .repartition(par, "lang", "bucket", "salt")
        )
        build = base.select(*build_cols).withColumn(
            "salt", F.explode(F.sequence(F.lit(0), nsalt - 1))
        )
        join_key = ["lang", "bucket", "salt"]
    cand = build.join(probe, join_key).where(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= t)
    )
    # 3-arg levenshtein: banded DP, -1 once the band exceeds t — the
    # early-exit makes refuting a far pair O(t·len), not O(len²)
    lev = F.levenshtein("text_a", "text_b", t)
    return (
        cand.withColumn("edit_distance", lev)
        .where(F.col("edit_distance") >= 0)
        .select("doc_a", "doc_b", "lang", "edit_distance")
    )


@register(
    "dedup_edit_distance",
    oracle=f"""
        WITH d AS (
            -- single-byte text only: Spark's levenshtein counts CODE
            -- POINTS, DuckDB's counts BYTES — they agree exactly on
            -- single-byte text, so the oracled query restricts to it;
            -- the engine operator itself is code-point-based for all
            -- text (unicode behavior pinned in tests/test_linkage.py)
            SELECT doc_id, text, lang, n_chars FROM documents
            WHERE text IS NOT NULL AND length(text) = strlen(text)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
               CAST(levenshtein(a.text, b.text) AS INT) AS edit_distance
        FROM d a JOIN d b
          ON a.lang = b.lang
         AND a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= {_MAX_EDITS}
        WHERE levenshtein(a.text, b.text) <= {_MAX_EDITS}
    """,
    description=f"edit-distance near-dup verify: (lang, length-bucket) "
    f"blocking (lossless for distance <= {_MAX_EDITS}; probe meets each "
    "pair in exactly one block), length prune, then banded "
    f"levenshtein(a, b, {_MAX_EDITS}) with early exit — the "
    "record-linkage complement to MinHash/SimHash that catches "
    "in-place character edits token-set metrics under-weigh",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: candidate count is per-block quadratic, corpus-linear
    across blocks; the oracle's theta-join form is the same SET of
    pairs, reached without the blocking (DuckDB's planner handles the
    small oracle scale; the blocked form is the one that shuffles by
    (lang, bucket) on a cluster).

    The single-byte restriction exists ONLY to keep the DuckDB oracle
    exact (byte- vs code-point-based levenshtein, see the oracle
    comment); call ``edit_distance_pairs`` directly for full-unicode
    corpora."""
    docs = load(spark, sf_dir, "documents").where(
        F.length("text") == F.octet_length("text")
    )
    return edit_distance_pairs(docs, cache_key=sf_dir)
