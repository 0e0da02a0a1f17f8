"""Distributed byte-pair-encoding merge training over the corpus.

The real tokenizer-training loop (Sennrich et al. 2016), structured
the way a 100 TB corpus forces it to be:

1. ONE pass over the documents builds the (word, freq) vocabulary —
   after this, every iteration runs on the vocabulary table (|V|
   rows), never the corpus again. This is the standard trainer shape:
   corpus size pays once, merge count pays |V| per step.
2. Each merge step: explode adjacent symbol pairs weighted by word
   frequency (JVM-side `transform`/`inline`, map-side partial agg),
   pick the argmax pair — a ONE-ROW driver collect, the iterative
   scalar every trainer needs — and rewrite the symbol arrays with a
   left-to-right non-overlapping merge (JVM-side mark-and-``replace``:
   each symbol maps to one mask char, and one scan-forward ``replace``
   of the pair pattern IS the greedy pairing — linear within a word,
   embarrassingly parallel ACROSS the vocabulary, and never crossing
   the Python boundary). The rewritten vocabulary is cut lazily, so
   the next step's argmax collect materializes it: ONE Spark job per
   merge, run with AQE off at a width read from the vocabulary cut.

``text_bpe_train_merges`` returns the learned merge table
(rank, left, right, pair_count) — the artifact a tokenizer ships.
Iterative argmax is not SQL-expressible, so the gate is behavioral:
tests/test_text9_graph.py replays the same corpus through a
pure-Python reference BPE and requires the identical merge sequence.

Cf. ``text_bpe_token_estimate`` (text.py), which only ESTIMATES token
counts with a fixed regex; this module actually trains the merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark import memo
from orca_spark.io import rows_to_df
from orca_spark.registry import register
from orca_spark.session import cut_width, loop_scope
from orca_spark.tables import load

_N_MERGES = 6


def _bpe_train_ctes(n_merges: int = _N_MERGES) -> str:
    """Shared WITH-body for the trainer oracles: vocabulary (w, v0) plus
    per-step CTEs ending in the argmax rows t0..t{n-1} and the rewritten
    vocabularies v1..v{n}. ``bpe2._bpe_apply_oracle_sql`` extends this
    prefix to apply the learned merges back to the corpus.

    Per step: pair counts and position fan-outs via SELECT-clause
    ``unnest`` over parallel equal-length lists (adjacent slices for
    pairs; the LATERAL ``UNNEST(generate_series(...))`` form they
    replace is quadratic per word in DuckDB 1.0 — ~7.5 s per lateral
    on one 18k-char adversarial token vs 0.01 s for the select-clause
    form, same rows), argmax via ORDER BY ... LIMIT 1, then the
    left-to-right NON-OVERLAPPING rewrite. Greedy non-overlap is the only non-trivial
    part in set-oriented SQL: overlapping candidates exist only in runs
    where l = r, and there a position merges iff the run of candidate
    positions immediately before it has even length — computed with a
    per-word window (max non-candidate position before j), then
    consumed positions (lag(merged)) are dropped and the word
    re-assembled with list(... ORDER BY j). Both engines compare
    strings in code-point order and split '' per code point, so the
    argmax tie-break and the char vocabulary agree exactly."""
    steps = []
    for i in range(n_merges):
        steps.append(f"""
p{i} AS (
  SELECT l, r, sum(freq) AS n
  FROM (
    SELECT freq, unnest(syms[1:-2]) AS l, unnest(syms[2:]) AS r FROM v{i}
  )
  GROUP BY 1, 2
),
t{i} AS MATERIALIZED (SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1),
u{i} AS (
  SELECT word, freq, j, sym, ml, mr,
         coalesce(sym = ml AND nxt = mr, FALSE) AS cand
  FROM (
    SELECT word, freq, t.l AS ml, t.r AS mr,
           unnest(generate_series(1, len(syms))) AS j,
           unnest(syms) AS sym,
           unnest(syms[2:] || [NULL]) AS nxt
    FROM v{i}, t{i} t
  )
),
m{i} AS (
  SELECT *, j - 1 - coalesce(max(CASE WHEN NOT cand THEN j END)
      OVER (PARTITION BY word ORDER BY j
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS chain_before
  FROM u{i}
),
mm{i} AS (SELECT *, (cand AND chain_before % 2 = 0) AS merged FROM m{i}),
c{i} AS (
  SELECT *, coalesce(lag(merged) OVER (PARTITION BY word ORDER BY j),
                     FALSE) AS consumed
  FROM mm{i}
),
v{i + 1} AS MATERIALIZED (
  SELECT word, max(freq) AS freq,
         list(CASE WHEN merged THEN ml || mr ELSE sym END ORDER BY j) AS syms
  FROM c{i} WHERE NOT consumed GROUP BY word
)""")
    return (
        # v{i} and t{i} are each referenced 2-3 times (pair counts, the
        # rewrite, the final SELECT / the apply chain in bpe2). DuckDB
        # inlines multi-referenced CTEs by default, so without
        # MATERIALIZED every reference re-ran the whole chain below it —
        # EXPONENTIAL in the merge count (measured ~9 min for the
        # 6-step apply oracle on the adversarial corpus, linear
        # ~seconds materialized; the minhash oracle pins the same
        # DuckDB behavior). Same rows either way.
        """w AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE word <> '' GROUP BY word
),
v0 AS MATERIALIZED (SELECT word, string_split(word, '') AS syms, freq FROM w),"""
        + ",".join(steps)
    )


def _bpe_oracle_sql(n_merges: int = _N_MERGES) -> str:
    """Trainer oracle (VERDICT r05 #8): the deterministic merge sequence
    — integer pair counts, total (count desc, l, r) tie-break — gets a
    hash-checked oracle, not a rows-only pass."""
    finals = [
        f'SELECT CAST({i} AS INT) AS "rank", l AS "left", r AS "right",'
        f" CAST(n AS BIGINT) AS pair_count FROM t{i}"
        for i in range(n_merges)
    ]
    return (
        "WITH "
        + _bpe_train_ctes(n_merges)
        + "\n"
        + "\nUNION ALL\n".join(finals)
    )


# Per-step SQL, constant text. The loop binds the argmax pair and its
# mask pattern as the literal columns ``ml``, ``mr`` and ``pat``, so no
# symbol is ever spliced into SQL text and none needs escaping.
_SYMS = "filter(split(word, ''), c -> c <> '') AS syms"
_PAIRS = (
    "inline(transform(slice(syms, 1, size(syms) - 1),"
    " (s, i) -> struct(s AS l, syms[i + 1] AS r)))"
)
# Left-to-right non-overlapping merge, LINEAR per word (r13; the r12
# form was a JVM ``aggregate`` fold whose array-append accumulator
# copies O(|acc|) per element — O(n²) per word, measured ~60 s on a
# degenerate 18k-char single-token document while bench-scale words
# never noticed). Each symbol maps to one mask char ('L' = left, 'R' =
# right, '0' = other; when left == right the pattern is 'LL' and the
# 'R' branch is unreachable), and one scan-forward ``replace`` of the
# pattern with 'PS' IS the greedy non-overlapping pairing: 'LLLL' →
# 'PSPS' (runs pair leftmost-first, leftover trails), 'LRLRR' →
# 'PSPSR'. 'P' positions emit the merged symbol, 'S' positions are
# consumed, everything else passes through. Equivalence with the fold:
# a merge at i depends only on ORIGINAL adjacency (ml || mr is strictly
# longer than ml, so a fused token can never re-match as `left`), and
# within l == r runs both forms pair (0,1)(2,3)… — pinned by the
# pure-Python replay tests (tests/test_text9_graph.py) and the
# unrolled-CTE oracle.
_MARKS = (
    "replace(array_join(transform(syms, s -> CASE WHEN s = ml THEN 'L'"
    " WHEN s = mr THEN 'R' ELSE '0' END), ''), pat, 'PS')"
)
_REWRITE = (
    "CASE WHEN size(syms) < 2 THEN syms ELSE transform("
    f"filter(zip_with(syms, slice(split({_MARKS}, ''), 1, size(syms)),"
    " (s, c) -> named_struct('s', s, 'c', c)), z -> z.c <> 'S'),"
    " z -> CASE WHEN z.c = 'P' THEN ml || mr ELSE z.s END) END AS syms"
)


def bpe_train(
    words: DataFrame, n_merges: int = _N_MERGES, cache_key: str | None = None
) -> list[tuple]:
    """Learn ``n_merges`` BPE merges from a (word, freq) vocabulary.

    Returns [(rank, left, right, pair_count), ...] — ties broken by
    (count desc, left asc, right asc), fully deterministic.

    Scale notes: the (syms, freq) vocabulary is built and cut once,
    eagerly, with AQE on, so the corpus-wide shuffle stays adaptive.
    The merge steps then run at a width read from that cut (its
    partition count, capped at the executor count) with AQE off: each
    step's pair count shuffles on (l, r) symbol pairs with map-side
    combine, and its argmax is a single-row collect (the scalar that
    steers the next step, the same bounded pattern as connected
    components' convergence sum). The rewritten vocabulary is cut
    lazily, so the next step's argmax collect materializes it: one
    Spark job per merge, and the rewrite lineage never stacks.

    ``cache_key`` (the corpus dir) memoizes the merges in orca_spark.memo.
    """
    if cache_key is not None:
        return memo.cached(
            cache_key, ("bpe", n_merges), lambda: bpe_train(words, n_merges)
        )
    vocab = words.selectExpr(_SYMS, "freq").localCheckpoint(eager=True)
    width = cut_width(vocab)
    # the rounds read the cut at the loop's width too, so no round stage
    # runs more tasks than there are executors
    vocab = vocab.coalesce(width)

    merges: list[tuple] = []
    with loop_scope(vocab.sparkSession, width):
        for rank in range(n_merges):
            top = (
                vocab.where("size(syms) >= 2")
                .selectExpr(_PAIRS, "freq")
                .groupBy("l", "r")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:
                break  # vocabulary fully merged — nothing adjacent remains
            left, right, n = top[0]
            merges.append((rank, left, right, int(n)))
            if rank == n_merges - 1:
                break  # nothing reads the vocabulary after the last merge
            vocab = (
                vocab.select(
                    "syms",
                    "freq",
                    F.lit(left).alias("ml"),
                    F.lit(right).alias("mr"),
                    F.lit("LR" if left != right else "LL").alias("pat"),
                )
                .selectExpr(_REWRITE, "freq")
                .localCheckpoint(eager=False)
            )
    return merges


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle_sql(),
    description=f"distributed BPE tokenizer training ({_N_MERGES} merges): "
    "one corpus pass builds the (word, freq) vocabulary, then each step "
    "counts adjacent symbol pairs JVM-side, collects the single argmax "
    "row, and rewrites symbol arrays JVM-side with a linear "
    "mark-and-replace pass (one scan-forward replace of the pair's mask "
    "pattern is the greedy left-to-right non-overlapping merge); the "
    "merge sequence is deterministic (integer counts, total "
    "tie-break), so it is hash-checked against a DuckDB oracle that "
    "unrolls the loop as chained CTEs, plus a pure-Python reference "
    "replay (tests/test_text9_graph.py)",
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = bpe_train(words, cache_key=sf_dir)
    return rows_to_df(
        spark, merges, "rank int, left string, right string, pair_count long"
    )
