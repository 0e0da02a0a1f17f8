"""Deduplication operators: exact, MinHash+LSH, SimHash, exact Jaccard.

Scale design (the point of this module):

* **exact**: group on a 64-bit content hash (``xxhash64``), never on the
  raw text — at 100 TB the shuffle moves 8-byte keys, not documents.
* **MinHash+LSH**: shingle → k min-hashes → band buckets → candidate
  pairs only within buckets → exact-Jaccard verification of candidates.
  Work is O(candidates), not O(n²); band count/width tune the
  recall/cost curve. All stages are DataFrame ops (explode / groupBy /
  self-join) — no Python in the loop.
* **SimHash**: 64-bit signature via per-bit majority vote over token
  hashes; near-dups differ in few bits. Signature build is one
  explode + one groupBy.
* **exact Jaccard** (the oracle-checkable baseline): token-set
  self-join; quadratic in the worst case — the MinHash path is the
  one that scales, this one verifies it.

Since r12 the MinHash and SimHash surfaces are THEMSELVES fully
value-oracled: every stage is deterministic integer arithmetic over
xxhash64 values, and orca_spark/xxh64_sql.py re-derives Spark's
xxhash64 bit-exactly in DuckDB SQL — so the driver hash-checks LSH
band recall and all 64 signature bits, not just the exact-Jaccard
verification layer.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from orca_spark.registry import register
from orca_spark.session import loop_scope, loop_width
from orca_spark.tables import load
from orca_spark.xxh64_sql import to_signed, xxh64

# deterministic MinHash parameters (fixed seed, same every run).
# p = 2^31-1 keeps a*x + b < 2^62 — no int64 overflow under ANSI mode.
import random as _random

_MERSENNE = (1 << 31) - 1
_K = 64            # signature length
_BANDS = 16        # LSH bands (rows per band = _K // _BANDS = 4)
_rng = _random.Random(42)
_A = [_rng.randrange(1, _MERSENNE) for _ in range(_K)]
_B = [_rng.randrange(0, _MERSENNE) for _ in range(_K)]


@register(
    "dedup_exact",
    oracle="""
        SELECT min(doc_id) AS keep_doc_id,
               count(*)    AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    description="exact dedup: group by content hash, keep lowest doc_id; "
    "Spark side groups on xxhash64 (8-byte shuffle keys at scale)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # 64-bit grouping key: the shuffle carries hashes, not documents.
    # (collision probability at 100 TB doc counts ~ n²/2⁶⁵ — for a
    # guaranteed-exact variant group by (xxhash64, length).)
    return (
        d.groupBy(F.xxhash64("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


@register(
    "dedup_exact_safe",
    oracle="""
        SELECT min(doc_id) AS keep_doc_id,
               count(*)    AS n_copies
        FROM documents
        GROUP BY md5(text), length(text)
    """,
    description="collision-proofed exact dedup: group on "
    "(xxhash64, length) — the composite key dedup_exact's docstring "
    "names for guaranteed-exact grouping at 100 TB doc counts (two "
    "colliding docs would need equal 64-bit hashes AND equal lengths; "
    "pair the hash with a second independent hash for cryptographic "
    "certainty). Shuffle still carries fixed-width keys, not documents",
)
def dedup_exact_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.xxhash64("text").alias("h"), F.length("text").alias("l"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


@register(
    "dedup_exact_survivors",
    oracle="""
        SELECT doc_id, lang, source
        FROM (
            SELECT doc_id, lang, source,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents
        )
        WHERE rn = 1
    """,
    description="exact dedup keeping full surviving rows (window rank on "
    "content hash)",
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy(F.xxhash64("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


_last_persisted: list = []


def _persist_scoped(df: DataFrame) -> DataFrame:
    """Persist df, releasing whatever this module persisted previously —
    repeated query invocations in one session hold at most one cached
    shingle relation instead of leaking executor storage."""
    while _last_persisted:
        try:
            _last_persisted.pop().unpersist()
        except Exception:
            pass
    df = df.persist()
    _last_persisted.append(df)
    return df


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → exploded distinct token n-gram shingle hashes (i64).

    Hashes each n-gram directly with multi-arg xxhash64 over the token
    slice — no intermediate concatenated strings (2-3× cheaper than
    string-building at 260k shingles/5k docs; at 100 TB this is the
    difference between hashing and allocating the corpus twice).

    Documents shorter than ``n`` tokens fall back to per-token hashes
    (a token-set signature), so ultra-short docs still participate in
    near-dup candidacy instead of silently dropping out.
    """
    # the source parquet arrives as ONE split at test scale and the
    # shingle hash is the expensive per-row compute — run it wide;
    # widen() is a no-op when the scan already has enough splits
    from orca_spark.tables import widen

    df = widen(df)
    toks = F.split(F.col("text"), " ")
    d = df.withColumn("_tk", toks)
    idx = F.sequence(F.lit(1), F.size(F.col("_tk")) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.xxhash64(*[F.element_at(F.col("_tk"), i + j) for j in range(n)]),
    )
    short = F.transform(F.col("_tk"), lambda t: F.xxhash64(t))
    picked = grams if n == 1 else F.when(F.size(F.col("_tk")) >= n, grams).otherwise(short)
    return d.select("doc_id", F.explode(F.array_distinct(picked)).alias("sh"))


def minhash_signatures(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → array<long> MinHash signature of length _K.

    One explode + one groupBy(doc_id) with K min-aggregates — a single
    shuffle keyed by doc_id regardless of K.
    """
    return _signatures_from_shingles(_shingles(df, n))


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    # K aggregate expressions assembled as SQL strings: one F.expr per
    # permutation instead of ~8 py4j round trips per Column node (the
    # Column form cost ~0.7 s of driver time per plan construction)
    mins = [
        F.expr(
            f"min(pmod({_A[i]}L * pmod(sh, {_MERSENNE}L) + {_B[i]}L, {_MERSENNE}L))"
        ).alias(f"m{i}")
        for i in range(_K)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    arr = "array(" + ", ".join(f"m{i}" for i in range(_K)) + ")"
    return sig.select("doc_id", F.expr(arr).alias("sig"))


def banded_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows: each signature hashed per LSH band.

    This is the PERSISTABLE form of the index — a corpus banded once can
    be stored and probed by later batches (see dedup3's incremental
    pipeline) without recomputing history's signatures.
    """
    r = _K // _BANDS
    structs = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', {cols})))".format(
            b=b,
            cols=", ".join(f"cast(sig[{b * r + j}] as string)" for j in range(r)),
        )
        for b in range(_BANDS)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band bucket."""
    # materialize the banded index before the self-join: referenced
    # twice below, Spark otherwise computes the 64-permutation
    # signature aggregation once per side — and plans the smaller side
    # as a broadcast build whose single-threaded job re-runs the whole
    # signature pipeline. 24 bytes x 16 bands per doc, linear.
    banded = banded_buckets(sig).localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_near_dup_pairs(d: DataFrame, threshold: float = 0.7, n: int = 3) -> DataFrame:
    """MinHash+LSH near-dup pipeline over any (doc_id, text) DataFrame:
    candidates from band buckets, then exact shingle-Jaccard verification
    — work is O(candidates), never O(n²).

    The shingle relation feeds both the signature build and the
    verification join; persist it so the corpus is tokenized+hashed
    once, not three times (at 100 TB: one scan instead of three).
    """
    sh = _persist_scoped(_shingles(d, n))
    cand = lsh_candidate_pairs(_signatures_from_shingles(sh))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = (
        inter.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("i") / (F.col("za.sz") + F.col("zb.sz") - F.col("i"))).alias("jraw"),
        )
    )
    return (
        jac.where(F.col("jraw") >= threshold)
        .select("doc_a", "doc_b", F.round("jraw", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Full-value DuckDB oracles for the MinHash/SimHash family (r11 verdict
# item 1). These pipelines are deterministic integer computations end to
# end — xxhash64 shingles, min over (a·x+b) mod p permutations, band-key
# hashes, per-bit majority votes — so with a bit-exact SQL xxhash64
# (orca_spark/xxh64_sql.py) the ENTIRE pipeline replicates in DuckDB,
# LSH candidate generation included: the driver hash-checks band recall
# exactly, the same standard dedup_phash_incremental set in r11.
# ---------------------------------------------------------------------------


def _minhash_cte() -> str:
    """Shared CTE block: distinct signed shingle hashes ``shn(doc_id,
    sh)`` (bit-identical to ``_shingles(n=3)``), per-doc signatures,
    LSH band buckets ``bkt(doc_id, b, bucket)`` (bit-identical to
    ``banded_buckets``), and shingle-set sizes.

    Parity notes pinned by tests/test_xxh64_sql.py, the adversarial
    corpus harness, and the driver hash:
    * ``split('', ' ')`` is ``[""]`` — one empty token — on BOTH
      engines (Spark's show() renders it as ``[]``, which is a trap:
      an earlier draft filtered ``text <> ''`` here and diverged on
      empty-text docs, caught by the degenerate-corpus harness), so an
      empty doc carries the single shingle xxh64('') and pairs with
      every other empty/whitespace doc at jaccard 1.0, identically on
      both engines;
    * 3-gram hashes are the seed-chained multi-arg form, staged across
      CTE columns (g1→g2→g3) because nesting fragments in the seed slot
      blows up DuckDB's binder;
    * docs shorter than 3 tokens fall back to per-token hashes, same as
      ``_shingles``;
    * heavy CTEs are MATERIALIZED: DuckDB inlines multi-referenced CTEs
      by default, which would re-run the ~26k-row hash chain once per
      reference (3x for shn, 2x for the band self-join).
    """
    mins = ",\n                   ".join(
        f"min(({_A[i]} * pm + {_B[i]}) % {_MERSENNE}) AS m{i}"
        for i in range(_K)
    )
    sig_list = "[" + ", ".join(f"m{i}" for i in range(_K)) + "]"
    # stride derived, not hardcoded: a _K/_BANDS retune must move the
    # Spark banded_buckets (r = _K // _BANDS) and this oracle together
    band_str = " || ',' || ".join(
        f"CAST(sg[{_K // _BANDS}*b+{j+1}] AS VARCHAR)"
        for j in range(_K // _BANDS)
    )
    return f"""
        tk0 AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS tk
            FROM documents
            WHERE text IS NOT NULL
        ),
        g0 AS (
            -- SELECT-clause unnest over parallel adjacent slices: the
            -- LATERAL generate_series + tk[i] form is quadratic per row
            -- in DuckDB 1.0 on long token lists (adversarial 5000-token
            -- docs); same (t1, t2, t3) rows
            SELECT doc_id, unnest(tk[1:-3]) AS t1, unnest(tk[2:-2]) AS t2,
                   unnest(tk[3:]) AS t3
            FROM tk0
            WHERE len(tk) >= 3
        ),
        -- dedupe grams per doc BEFORE the 3-stage xxh64 chain: shn is
        -- DISTINCT (doc_id, hash) and the hash is deterministic per
        -- gram, so distinct-before == distinct-after while repetitive
        -- docs (adversarial "tok "x5000: 4999 identical grams) hash
        -- once instead of per occurrence
        g0d AS (SELECT DISTINCT doc_id, t1, t2, t3 FROM g0),
        g1 AS (SELECT doc_id, t2, t3, {xxh64('t1', 42)} AS h1 FROM g0d),
        g2 AS (SELECT doc_id, t3, {xxh64('t2', 'h1')} AS h2 FROM g1),
        g3 AS (SELECT doc_id, {to_signed(xxh64('t3', 'h2'))} AS sh FROM g2),
        s0 AS (SELECT DISTINCT doc_id, w
               FROM (SELECT doc_id, unnest(tk) AS w FROM tk0 WHERE len(tk) < 3)),
        s1 AS (SELECT doc_id, {to_signed(xxh64('w', 42))} AS sh FROM s0),
        shn AS MATERIALIZED (
            SELECT DISTINCT doc_id, sh
            FROM (SELECT doc_id, sh FROM g3
                  UNION ALL SELECT doc_id, sh FROM s1)
        ),
        pmv AS (
            SELECT doc_id,
                   ((sh % {_MERSENNE}) + {_MERSENNE}) % {_MERSENNE} AS pm
            FROM shn
        ),
        sigs AS (
            SELECT doc_id, {mins}
            FROM pmv GROUP BY doc_id
        ),
        sigl AS (SELECT doc_id, {sig_list} AS sg FROM sigs),
        bstr AS (
            SELECT doc_id, b, {band_str} AS s
            FROM sigl, UNNEST(range({_BANDS})) AS bb(b)
        ),
        bkt AS MATERIALIZED (
            SELECT doc_id, b, {to_signed(xxh64('s', 42))} AS bucket
            FROM bstr
        ),
        sizes AS MATERIALIZED (
            SELECT doc_id, count(*) AS sz FROM shn GROUP BY doc_id
        )
    """


def _minhash_oracle() -> str:
    return f"""
        WITH {_minhash_cte()},
        cand AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM bkt l JOIN bkt r
              ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        ),
        inter AS (
            SELECT doc_a, doc_b, count(*) AS i
            FROM cand
            JOIN shn sa ON sa.doc_id = doc_a
            JOIN shn sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
            GROUP BY doc_a, doc_b
        )
        SELECT doc_a, doc_b,
               round(i / (za.sz + zb.sz - i), 4) AS jaccard
        FROM inter
        JOIN sizes za ON za.doc_id = doc_a
        JOIN sizes zb ON zb.doc_id = doc_b
        WHERE i / (za.sz + zb.sz - i) >= 0.7
    """


def simhash_oracle_cte() -> str:
    """CTE block ending in ``sig(doc_id, u, simhash)`` — the SQL twin of
    ``simhash_signatures`` (u = unsigned HUGEINT form for chunk math).
    Shared with dedup2's pair oracle."""
    return f"""
        tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
            WHERE text IS NOT NULL
        ),
        th AS (SELECT doc_id, {xxh64('w', 42)} AS hu FROM tok),
        votes AS (
            SELECT doc_id, j,
                   sum(CASE WHEN (hu // (CAST(1 AS HUGEINT)
                                         << CAST(j AS INT))) % 2 = 1
                       THEN 1 ELSE -1 END) AS v
            FROM th, UNNEST(range(64)) AS jj(j)
            GROUP BY doc_id, j
        ),
        usig AS (
            SELECT doc_id,
                   sum(CASE WHEN v > 0
                       THEN CAST(1 AS HUGEINT) << CAST(j AS INT)
                       ELSE CAST(0 AS HUGEINT) END) AS u
            FROM votes GROUP BY doc_id
        ),
        sig AS MATERIALIZED (
            SELECT doc_id, u,
                   CAST(CASE WHEN u >= CAST(1 AS HUGEINT) << 63
                        THEN u - (CAST(1 AS HUGEINT) << 64)
                        ELSE u END AS BIGINT) AS simhash
            FROM usig
        )
    """


@register(
    "dedup_minhash",
    # FULL value oracle: every stage — xxhash64 3-gram shingles
    # (seed-chained multi-arg), 64 (a·x+b) mod p min-permutations, the
    # 16 band-bucket hashes, candidate generation, and the exact
    # shingle-Jaccard verify — re-derived independently in DuckDB SQL,
    # so the driver hash-checks LSH band recall exactly (not just the
    # verified survivors). xxhash64 itself is the generated fragment
    # from orca_spark/xxh64_sql.py, bit-exact by property test.
    oracle=_minhash_oracle(),
    description="near-dup detection at scale: MinHash(64) + LSH(16 bands) "
    "candidates, verified with exact shingle-Jaccard >= 0.7; fully "
    "value-oracled — the oracle replicates the integer pipeline "
    "(including a pure-SQL xxhash64) end to end, so band recall is "
    "driver hash-checked, the dedup_phash_incremental standard applied "
    "to the lexical family",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_dup_pairs(load(spark, sf_dir, "documents"), threshold=0.7)


@register(
    "dedup_jaccard_exact",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(i / (sa.sz + sb.sz - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i / (sa.sz + sb.sz - i) >= 0.9
    """,
    description="exact token-set Jaccard pairs (>= 0.9): the verifiable "
    "baseline the MinHash path approximates",
)
def dedup_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jraw = F.col("i") / (F.col("za.sz") + F.col("zb.sz") - F.col("i"))
    return (
        inter.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .where(jraw >= 0.9)
        .select("doc_a", "doc_b", F.round(jraw, 4).alias("jaccard"))
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Cluster ids via min-label propagation with pointer jumping.

    ``nodes``: (doc_id); ``edges``: (doc_a, doc_b) undirected.
    CONTRACT: every edge endpoint must be a member of ``nodes`` — edges
    are the candidate pairs generated FROM the node set, so this holds
    for every caller here. An edge referencing a foreign id would emit
    a label row for that id too (endpoints are unioned into the
    propagation frame); callers with untrusted edges should semi-join
    ``edges`` onto ``nodes`` first rather than pay that join here on
    the trusted path.

    Each
    round propagates the minimum label across edges (self-loops folded
    in, so the step is ONE groupBy — no separate left-join to keep a
    node's own label) and then POINTER-JUMPS
    (``label ← label(label)``), which contracts paths exponentially:
    convergence in O(log diameter) rounds instead of O(diameter) —
    the difference between ~5 and ~50 shuffles on a long chain.

    Convergence detection is O(1) per round: every label update is a
    strict decrease (min-propagation never raises a label), so the
    global ``sum(label)`` is a fixpoint witness — unchanged sum means
    unchanged labels, with no old-vs-new join.
    """
    # NOTE (r12, measured): an edge-touched/untouched node split — loop
    # over the duplicate subgraph only, union untouched singletons back
    # with label = own id — was built and then REVERTED on evidence: at
    # sf0.1 the near-dup graph touches most representatives, so the
    # split bought nothing while its endpoint distinct, semi/anti node
    # joins and final union added ~1.5 s fixed cost per invocation
    # (interleaved A/B: split 9.5 s vs no-split 5.3 s median). The
    # subgraph the loop shuffles is already the post-contraction
    # representative set, which IS the scale-reduced frame.
    spark = nodes.sparkSession
    # edges is referenced twice by the symmetrization union —
    # materialize the caller's pair generation once, lazily (the
    # sym checkpoint below is the single action that computes it)
    edges = edges.localCheckpoint(eager=False)
    # localCheckpoint (not persist): truncates the lineage each round
    # so the k-th iteration plans a constant-size query, not a k-join
    # one — without it, driver-side re-planning dominates.
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .union(nodes.select(F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # The loop runs MANY small shuffles eagerly; under a session left
    # at the default 200 shuffle partitions each round schedules ~600
    # tiny tasks and fixed overhead dominates (measured 4× slower on
    # the driver's plain session), so the width follows the
    # materialized edge count. AQE is off for the rounds: the width is
    # already derived, so runtime re-planning only splits every round's
    # single action into 3-4 sub-jobs (the event-log profile showed ~38
    # one-task jobs with ~0.15 s driver gaps for a 6-round loop).
    with loop_scope(spark, loop_width(spark, sym.count())):
        labels = nodes.select("doc_id", F.col("doc_id").alias("label"))
        prev_sum = None
        for _ in range(max_iter):
            # min over neighbors ∪ self (self-loops make the groupBy total)
            stepped = (
                sym.join(labels, sym.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("label").alias("label"))
            )
            # pointer jump: follow my label's label (labels are doc_ids, so
            # they resolve against the same frame); contracts chains in half
            hop = stepped.select(F.col("doc_id").alias("label"), F.col("label").alias("hop"))
            # LAZY checkpoint: the convergence-sum collect below is the
            # round's single action — it materializes AND checkpoints the
            # labels in one job instead of two (eager=True spent a
            # second, redundant job per round on the same computation)
            labels = (
                stepped.join(hop, "label")
                .select("doc_id", F.least("label", "hop").alias("label"))
                .localCheckpoint(eager=False)
            )
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            if cur_sum == prev_sum:
                prev_sum = None  # converged
                break
            prev_sum = cur_sum
    if prev_sum is not None:
        # silently-wrong labels are worse than a loud failure: a component
        # this deep has not converged in max_iter rounds
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


@register(
    "dedup_connected_components",
    oracle="""
        WITH RECURSIVE pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
                  FROM documents) a
            JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
                  FROM documents) b
              ON a.doc_id < b.doc_id
             AND len(list_intersect(a.s, b.s))
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
            UNION SELECT doc_id, doc_id FROM documents
            WHERE doc_id IS NOT NULL
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id, min(dst) AS cluster_id
        FROM reach GROUP BY src
    """,
    description="near-dup clustering: connected components over the "
    ">=0.9 token-Jaccard pair graph via min-label propagation with "
    "pointer jumping (O(log diameter) rounds). Exact-duplicate "
    "contraction first, then ADAPTIVE candidate generation over the "
    "distinct-set representatives: a corpus whose vocabulary fits 64 "
    "bits is dictionary-encoded to a long bitmask (j>=0.9 implies "
    "hamming <= (1-t)|vocab| bits, pigeonhole-bucketed on diff+1 "
    "chunks, bit_count verification — exact recall, 8-byte keys); open "
    "vocabularies fall back to MinHash+LSH candidates with exact "
    "array_intersect verification. Oracle is a recursive-CTE transitive "
    "closure of the exact pair graph",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL doc_id cannot be clustered — the id IS the cluster-label
    # space (and every equi-join in the label propagation would drop it
    # anyway); excluded by contract on both engines
    d = load(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    # Stage 0 — exact-duplicate contraction: docs with the SAME distinct
    # token set always share a cluster (jaccard 1), so collapse each
    # identity group to its min-doc_id representative before the
    # quadratic-ish near-dup stage. On corpora with heavy duplication
    # this shrinks the pair problem by the square of the duplication
    # factor, and at 100 TB it is the standard first move of any dedup
    # pipeline.
    # one tokenize+hash+sort pass: sets feeds the identity-group agg AND
    # the member fan-out at the end — left lazy it re-tokenized the
    # corpus once per consumer
    sets = (
        d.select(
            "doc_id",
            F.sort_array(
                F.array_distinct(F.transform(F.split("text", " "), lambda t: F.xxhash64(t)))
            ).alias("ts"),
        )
        .withColumn("set_key", F.xxhash64("ts"))
        .localCheckpoint(eager=True)
    )
    reps = (
        sets.groupBy("set_key")
        .agg(F.min("doc_id").alias("doc_id"), F.min_by("ts", "doc_id").alias("ts"))
        .localCheckpoint(eager=True)  # reused 3x: candidates, CC nodes, fan-out
    )
    rep_pairs = _rep_pairs_adaptive(reps, threshold=0.9)
    # Stage 2 — cluster the representatives, then fan the labels back out
    # to every member of each identity group. The component minimum over
    # reps equals the minimum over all docs (each rep IS its group's min).
    rep_clusters = connected_components(reps.select("doc_id"), rep_pairs)
    return (
        sets.select("doc_id", "set_key")
        .join(
            reps.select("set_key", F.col("doc_id").alias("_rep")),
            "set_key",
        )
        .join(
            rep_clusters.withColumnRenamed("doc_id", "_rep"),
            "_rep",
        )
        .select("doc_id", "cluster_id")
    )


def _to_i64(v: int) -> int:
    """Reinterpret an unsigned 64-bit Python int as Spark's signed long."""
    v &= 0xFFFFFFFFFFFFFFFF
    return v - (1 << 64) if v >= (1 << 63) else v


def _rep_pairs_adaptive(reps: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b) pairs with EXACT token-set Jaccard >= threshold,
    over distinct-set representatives (doc_id, ts sorted hash array).

    Strategy is chosen from a collected corpus statistic, the way an
    optimizer picks a join from table stats:

    * vocabulary <= 64 distinct tokens → dictionary-encode each set to
      one 64-bit mask. Jaccard >= t implies the masks differ in at most
      floor((1-t)·|union|) <= floor((1-t)·vocab) bits, so bucketing
      each mask on ``diff+1`` bit-chunks (pigeonhole: some chunk must
      match exactly) has RECALL 1, and verification is two
      ``bit_count`` instructions on longs — no arrays ever shuffle.
    * open vocabulary → MinHash(64)+LSH(16 bands) candidates over the
      hash sets (miss probability (1-t^4)^16, ~4e-8 at t=0.9), verified
      with exact ``array_intersect`` Jaccard.

    Both branches produce the same exact-verified pair set (up to the
    negligible LSH miss); the bitmask branch exists because tiny closed
    vocabularies DEFEAT signature schemes — every doc collides with
    every other — while fitting perfectly in a single machine word.
    """
    tok = (
        reps.select(F.explode("ts").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy("df", "h")
        .limit(65)
        .collect()
    )
    if len(tok) <= 64:
        # round-robin bit assignment in df-ascending order spreads common
        # tokens across chunks, keeping chunk-value entropy high.
        # max_diff = floor((1-t)·vocab) bounds the symmetric-difference
        # bits of any qualifying pair (|union| <= vocab) — computed in
        # EXACT rational arithmetic: the float form int((1.0-t)*vocab)
        # truncates 0.1*10 = 0.999... to 0, collapsing the pigeonhole to
        # one chunk and silently missing every non-identical pair
        frac = Fraction(threshold).limit_denominator(1_000_000)
        max_diff = ((frac.denominator - frac.numerator) * len(tok)) // frac.denominator
        n_chunks = max_diff + 1
        bit_of = {row.h: i for i, row in enumerate(tok)}
        mask_map = F.create_map(
            *[
                x
                for h, i in bit_of.items()
                for x in (F.lit(h), F.lit(_to_i64(1 << i)))
            ]
        )
        chunk_masks = [
            _to_i64(
                sum(1 << i for i in range(len(tok)) if i % n_chunks == c)
            )
            for c in range(n_chunks)
        ]
        # reps arrives as the callers' checkpointed frame, which AQE has
        # coalesced to ONE partition at test scale (tiny bytes, dense
        # compute) — an explicit width keeps the per-row map-lookup fold
        # and the chunk fan-out parallel; AQE never coalesces a
        # user-specified repartition. ~8-byte rows, the shuffle is noise.
        par = reps.sparkSession.sparkContext.defaultParallelism
        masked = reps.repartition(par).select(
            "doc_id",
            F.aggregate(
                F.transform("ts", lambda h: F.element_at(mask_map, h)),
                F.lit(0).cast("long"),
                lambda acc, x: acc.bitwiseOR(x),
            ).alias("mask"),
        )
        # materialize the chunk index before the self-join (the
        # lsh_candidate_pairs convention): referenced twice below, Spark
        # otherwise re-runs the whole masked-fold chain as a
        # single-threaded broadcast build — measured 1.06 s in one task
        # at sf0.1. 20 bytes x n_chunks per rep, linear.
        keyed = (
            masked.select(
                "doc_id",
                "mask",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("c"),
                                F.col("mask").bitwiseAND(F.lit(cm)).alias("k"),
                            )
                            for c, cm in enumerate(chunk_masks)
                        ]
                    )
                ).alias("ck"),
            )
            .select("doc_id", "mask", "ck.c", "ck.k")
            .localCheckpoint(eager=False)
        )
        cand = (
            keyed.alias("a")
            .join(
                keyed.alias("b"),
                (F.col("a.c") == F.col("b.c"))
                & (F.col("a.k") == F.col("b.k"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.mask").alias("ma"),
                F.col("b.mask").alias("mb"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
        uni = F.bit_count(F.col("ma").bitwiseOR(F.col("mb")))
        # threshold as an exact rational: integer cross-multiplication,
        # no float-boundary membership flips (engine house rule)
        return cand.where(
            inter * frac.denominator >= uni * frac.numerator
        ).select("doc_a", "doc_b")
    # open-vocabulary fallback: MinHash+LSH candidates (n=1 shingles ==
    # the token-hash sets), exact array_intersect verification — the
    # generic O(candidates) path. Same explicit width as the bitmask
    # branch: the 64-permutation partial aggregation is the dense
    # compute and it runs at reps' (AQE-coalesced) partitioning.
    par = reps.sparkSession.sparkContext.defaultParallelism
    sh = reps.repartition(par).select("doc_id", F.explode("ts").alias("sh"))
    cand = lsh_candidate_pairs(_signatures_from_shingles(sh))
    la = reps.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    lb = reps.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    frac = Fraction(threshold).limit_denominator(1_000_000)
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    return (
        cand.join(la, "doc_a")
        .join(lb, "doc_b")
        .where(
            inter * frac.denominator
            >= (F.size("ts_a") + F.size("ts_b") - inter) * frac.numerator
        )
        .select("doc_a", "doc_b")
    )


def simhash_signatures(d: DataFrame) -> DataFrame:
    """64-bit SimHash per (doc_id, text) row via per-bit majority vote.

    Expressions assembled as SQL strings (one F.expr per vote aggregate)
    — see _signatures_from_shingles for the py4j rationale."""
    # single-split source → run the token explode + hash wide (see
    # _shingles for the rationale); no-op when already wide
    from orca_spark.tables import widen

    d = widen(d)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    # per-bit vote: +1 when bit set, -1 otherwise; sign of the sum is the bit
    votes = [
        F.expr(
            f"sum(case when (shiftright(xxhash64(w), {j}) & 1L) = 1L"
            " then 1 else -1 end)"
        ).alias(f"v{j}")
        for j in range(64)
    ]
    sigbits = tok.groupBy("doc_id").agg(*votes)
    # disjoint bits: + == OR
    sim = " + ".join(
        f"(case when v{j} > 0 then {1 << j}L else 0L end)" for j in range(63)
    )
    # bit 63: 1<<63 overflows a signed long literal — shift instead
    sim += " + (case when v63 > 0 then shiftleft(1L, 63) else 0L end)"
    return sigbits.select("doc_id", F.expr(f"({sim})").alias("simhash"))


@register(
    "dedup_simhash",
    # FULL value oracle: the signature is a deterministic integer
    # computation (per-bit majority vote over xxhash64 token-hash bits),
    # so all 64 bits of every document's signature re-derive in SQL via
    # the generated xxhash64 fragment — the claim "no DuckDB twin" held
    # only until the twin was built (orca_spark/xxh64_sql.py).
    oracle=f"""
        WITH {simhash_oracle_cte()}
        SELECT doc_id, simhash FROM sig
    """,
    description="SimHash: 64-bit per-doc signature (majority vote over "
    "token hash bits); near-dups = small hamming distance; fully "
    "value-oracled — the oracle recomputes every vote from a pure-SQL "
    "xxhash64 and reassembles all 64 bits per document",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load(spark, sf_dir, "documents"))
