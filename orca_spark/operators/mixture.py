"""Training-mix planning: water-filling per-language token budgets.

``corpus_mixture_plan`` answers the question every pretraining run
starts with: given target mixture weights and what the corpus actually
contains, how much of each language can the run use? The max-data
feasible plan is water-filling — the binding language is the one whose
inventory runs out first at its target share (T* = min over langs of
tokens·100/weight), every language then contributes weight·T*/100 —
and the operator reports, per language: inventory, target weight,
planned tokens, sampling rate, and whether it is the binding
constraint. A target language entirely absent from the corpus binds
the whole plan at T* = 0 (you cannot serve the mixture at all) rather
than being dropped; its rate is NULL (0 planned / 0 available). ``corpus_mix_resample`` (sampling.py) consumes exactly
these rates as its multipliers; this operator is the planner that
produces them.

Determinism: weights are integer percent parts and every budget is
computed in BIGINT with truncating division (tokens·100 DIV weight,
weight·T* DIV 100) — cross-engine exact; only the final sampling RATE
is a double, derived from two identical integers and rounded on both
sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.registry import register
from orca_spark.tables import load

# target mixture in integer percent parts (sums to 100)
_WEIGHTS = {"en": 40, "de": 15, "es": 15, "fr": 15, "zh": 15}

_WEIGHTS_SQL = " UNION ALL ".join(
    f"SELECT '{lang}' AS lang, {w} AS weight_pct" for lang, w in _WEIGHTS.items()
)


@register(
    "corpus_mixture_plan",
    oracle=f"""
        WITH weights AS ({_WEIGHTS_SQL}),
        inv AS (
            SELECT lang,
                   CAST(sum(len(list_filter(string_split(text, ' '),
                                            t -> t <> ''))) AS BIGINT) AS tokens
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
            GROUP BY lang
        ),
        caps AS (
            SELECT w.lang, w.weight_pct,
                   COALESCE(i.tokens, 0) AS tokens,
                   COALESCE(i.tokens, 0) * 100 // w.weight_pct AS cap
            FROM weights w LEFT JOIN inv i USING (lang)
        ),
        t AS (SELECT min(cap) AS tstar FROM caps)
        SELECT c.lang,
               c.tokens,
               CAST(c.weight_pct AS INT) AS weight_pct,
               CAST(c.weight_pct * t.tstar // 100 AS BIGINT) AS planned_tokens,
               round((c.weight_pct * t.tstar // 100) * 1.0
                     / nullif(c.tokens, 0), 6) AS rate,
               c.cap = t.tstar AS binding
        FROM caps c, t
    """,
    description="water-filling training-mix planner: per language, the "
    "token inventory, target weight, max-data feasible budget "
    "(weight·T*/100 where T* = min over langs of inventory·100/weight), "
    "sampling rate, and the binding-constraint flag — the planner whose "
    "rates corpus_mix_resample consumes; all budgets BIGINT with "
    "truncating division, so the plan is cross-engine exact",
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combinable groupBy(lang) over a two-column
    scan, a |langs|-row broadcast-sized plan joined to a one-row global
    min — the heavy side is touched once; everything after the
    aggregation is model-sized."""
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    inv = (
        docs.select(
            "lang",
            F.size(
                F.filter(F.split("text", " "), lambda t: t != F.lit(""))
            ).cast("long").alias("w"),
        )
        .groupBy("lang")
        .agg(F.sum("w").alias("tokens"))
    )
    # LEFT join FROM the weights so a target language with zero corpus
    # presence binds the plan at T*=0 instead of silently vanishing (an
    # inner join would report over-optimistic "feasible" budgets for a
    # mixture the corpus cannot actually serve); its rate is NULL (0/0).
    weights_df = rows_to_df(spark, list(_WEIGHTS.items()), "lang string, weight_pct int")
    caps = (
        weights_df.join(F.broadcast(inv), "lang", "left")
        .withColumn("tokens", F.coalesce("tokens", F.lit(0).cast("long")))
        .withColumn("cap", F.expr("tokens * 100 div weight_pct"))
    )
    tstar = caps.agg(F.min("cap").alias("tstar"))
    return caps.crossJoin(F.broadcast(tstar)).select(
        "lang",
        "tokens",
        "weight_pct",
        F.expr("weight_pct * tstar div 100").alias("planned_tokens"),
        F.round(
            F.expr("weight_pct * tstar div 100")
            / F.expr("nullif(tokens, 0)"),
            6,
        ).alias("rate"),
        (F.col("cap") == F.col("tstar")).alias("binding"),
    )
