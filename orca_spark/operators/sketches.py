"""Count–min-sketch heavy hitters over the event stream.

Completes the engine's mergeable-sketch family (HLL distinct counts and
KLL-style quantiles in ``profile2``, bloom pruning in ``dedup3``): the
CMS answers point-frequency queries with one-sided error — estimates
never undercount, and overcount by at most ``eps·N`` with probability
``confidence`` — from a fixed-size counter table that merges by plain
addition. That makes it the standard distributed heavy-hitter shape:

* one partial-aggregated pass builds per-partition sketches that the
  aggregate merges into a single ``depth×width`` table (KiBs, corpus
  size independent);
* a cheap exact top-k pass supplies the CANDIDATE set (bounded, so its
  TakeOrdered is driver-safe);
* the sketch then serves point estimates for candidates — or, in the
  production setting, for keys arriving LATER without re-scanning the
  corpus (the sketch persists; the corpus need not).

Estimates use Spark's own ``CountMinSketch.readFrom`` (the public
sketch API the SQL aggregate serializes for) rather than a hand-rolled
parser of the binary layout — the format is owned by Spark.

Determinism: the sketch is seeded, hashing is fixed, and merging sums
integer counters (commutative/associative), so estimates are exactly
reproducible across runs and partitionings — unlike HLL, whose
register-merge interplay is engine-specific. Since r12 that
determinism is driver-checked by a FULL value oracle: DuckDB has no
CMS, so the oracle re-derives Spark's sketch from first principles —
``CountMinSketchImpl.hash(long, i)`` is ``h = a_i * x`` (wrapping 64),
``h += h >> 32`` (arithmetic), ``h &= 2^31-1``, ``h % width``, with
``a_i = java.util.Random(seed).nextInt(2^31-1)`` replicated in pure
Python (``_jrandom_ints``, pinned by tests/test_approx.py against the
hashA array extracted from a REAL serialized sketch plus a
collision-dense estimate sweep) and the wrapping arithmetic in HUGEINT
(the xxh64_sql device). The estimate for a candidate is then ``min_i Σ counts of
keys colliding in row i`` — no counter table materialized, just seven
group-bys over the per-key exact counts. The one-sided-error bound
stays asserted in tests/test_approx.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.registry import register
from orca_spark.tables import load

_EPS = 0.001     # overcount bound: eps * total_count
_CONF = 0.99     # probability the bound holds per query
_SEED = 42
_TOP_K = 20
# depth/width as CountMinSketchImpl derives them from (eps, conf):
# depth = ceil(ln(1/(1-conf))/ln(2)) = 7, width = ceil(2/eps) = 2000
_CMS_DEPTH = 7
_CMS_WIDTH = 2000


def _jrandom_ints(seed: int, n: int, bound: int = (1 << 31) - 1) -> list[int]:
    """``java.util.Random(seed).nextInt(2^31-1)`` ×n, replicated
    exactly — CountMinSketchImpl seeds its per-row multipliers this way
    (initTablesWith: ``r.nextInt(Integer.MAX_VALUE)``, NOT nextLong —
    the sf0.1 lane caught a first draft that assumed nextLong; the
    r12 pin test now extracts hashA from a real serialized sketch).
    Java's bounded nextInt for a non-power-of-two bound draws 31 bits
    and takes ``u % bound`` with a rejection retry when
    ``u - u%bound + bound-1`` overflows int32 (here: only u = 2^31-1).
    """
    s = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

    def next31() -> int:
        nonlocal s
        s = (s * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        return s >> 17

    out: list[int] = []
    m = bound - 1
    while len(out) < n:
        u = next31()
        r = u % bound
        if (u - r + m) < (1 << 31):
            out.append(r)
    return out


_CMS_HASH_A = _jrandom_ints(_SEED, _CMS_DEPTH)


def _cms_oracle(key: str = "user_id", table: str = "events") -> str:
    """DuckDB re-derivation of the heavy-hitters readout: exact top-k
    candidates, each estimated as ``min_i Σ exact counts of keys whose
    row-i cell collides`` — definitionally what the merged CMS counter
    table holds for a long key. Wrapping 64-bit ops run in HUGEINT;
    ``h >> 32`` is arithmetic (Java), hence the sign-branched shift."""
    w64 = 1 << 64
    h63 = 1 << 63
    ha = ", ".join(f"({i}, CAST({a} AS HUGEINT))" for i, a in enumerate(_CMS_HASH_A))
    return f"""
        WITH c AS (
            SELECT {key}, count(*) AS exact_n
            FROM {table} WHERE {key} IS NOT NULL GROUP BY {key}
        ),
        tot AS (SELECT sum(exact_n) AS total FROM c),
        h1 AS (
            SELECT {key}, exact_n, i,
                   ((CAST(a AS HUGEINT) * CAST({key} AS HUGEINT) % {w64})
                    + {w64}) % {w64} AS pu
            FROM c CROSS JOIN (VALUES {ha}) AS ha(i, a)
        ),
        h2 AS (
            SELECT {key}, exact_n, i,
                   (CASE WHEN pu >= {h63} THEN pu - {w64} ELSE pu END)
                 + (CASE WHEN pu >= {h63} THEN pu // {1 << 32} - {1 << 32}
                         ELSE pu // {1 << 32} END) AS t
            FROM h1
        ),
        h3 AS (
            SELECT {key}, exact_n, i,
                   (((t % {w64}) + {w64}) % {w64}) % {1 << 31}
                       % {_CMS_WIDTH} AS cell
            FROM h2
        ),
        tcell AS (SELECT i, cell, sum(exact_n) AS cnt
                  FROM h3 GROUP BY i, cell),
        top AS (SELECT {key}, exact_n FROM c
                ORDER BY exact_n DESC, {key} LIMIT {_TOP_K}),
        est AS (
            SELECT h.{key}, h.exact_n, min(tc.cnt) AS cms_n
            FROM h3 h
            JOIN top USING ({key})
            JOIN tcell tc ON tc.i = h.i AND tc.cell = h.cell
            GROUP BY h.{key}, h.exact_n
        )
        SELECT {key},
               CAST(exact_n AS BIGINT) AS exact_n,
               CAST(cms_n AS BIGINT) AS cms_n,
               cms_n >= exact_n AS no_undercount,
               CAST(trunc(CAST({_EPS} AS DOUBLE) * total) AS BIGINT) + 1
                   AS eps_margin
        FROM est, tot
    """


def _read_cms(spark: SparkSession, sk_bytes: bytes):
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(sk_bytes)


def heavy_hitters_cms_df(
    spark: SparkSession, ev: DataFrame, key: str, k: int = _TOP_K
) -> DataFrame:
    """Top-k keys by exact count, with the CMS point estimate and the
    one-sided error margin alongside — the estimate-vs-truth readout a
    sketch deployment monitors.

    ``key`` may be an integral or string column: CMS hashes the two
    differently (long path vs UTF-8 bytes), so the point query must
    present the SAME Java type the aggregate sketched — the estimate
    call below branches on the column's Spark type to guarantee it."""
    from pyspark.sql.types import StringType

    keyed = ev.where(F.col(key).isNotNull())
    key_is_str = isinstance(keyed.schema[key].dataType, StringType)
    sk_row = keyed.agg(
        F.count_min_sketch(key, F.lit(_EPS), F.lit(_CONF), F.lit(_SEED)).alias("sk"),
        F.count(F.lit(1)).alias("total"),
    ).collect()[0]
    cms = _read_cms(spark, bytes(sk_row["sk"]))
    total = int(sk_row["total"])

    # candidate set: exact top-k (TakeOrdered — bounded driver result)
    cands = (
        keyed.groupBy(key)
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col(key))
        .limit(k)
        .collect()
    )
    def _est(v):
        return int(cms.estimateCount(str(v) if key_is_str else int(v)))

    rows = [
        (str(r[key]) if key_is_str else int(r[key]), int(r["exact_n"]), _est(r[key]))
        for r in cands
    ]
    out = rows_to_df(
        spark,
        rows, f"{key} {'string' if key_is_str else 'long'}, exact_n long, cms_n long"
    )
    return out.select(
        key,
        "exact_n",
        "cms_n",
        (F.col("cms_n") >= F.col("exact_n")).alias("no_undercount"),
        F.lit(int(_EPS * total) + 1).alias("eps_margin"),
    )


@register(
    "events_heavy_hitters_cms",
    oracle=_cms_oracle(),
    description=f"count-min-sketch heavy hitters: one partial-agged "
    f"pass merges per-partition CMS tables (eps={_EPS}, "
    f"confidence={_CONF}, seeded), exact top-{_TOP_K} candidates get "
    "sketch point estimates with the one-sided error margin — the "
    "mergeable-sketch answer to point-frequency queries at stream scale",
)
def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the sketch aggregate shuffles fixed-size counter tables
    (depth×width longs, set by eps/confidence — independent of corpus
    size); the candidate pass is the engine's standard partial-agg +
    TakeOrdered top-k. At 100 TB the sketch is built once per window
    and PERSISTED — later point queries cost zero scans; the exact
    candidate pass here exists to expose estimate-vs-truth, not because
    the sketch needs it."""
    return heavy_hitters_cms_df(spark, load(spark, sf_dir, "events"), "user_id")
