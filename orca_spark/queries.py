"""Aggregated query surface: importing this module populates the registry."""

from __future__ import annotations

from orca_spark.registry import REGISTRY, QuerySpec

# Importing the operator modules registers their queries. Registration
# order here is only a stable tiebreak: since r05 the driver-facing
# adapter (__spark_entry__.verification_order) re-orders the registry
# from the committed CORRECTNESS_r*.json evidence — never-driver-green
# queries first, then green ones oldest-round first — so the driver's
# fixed 50-slot verification prefix always lands on the queries that
# need it most, with no manual import rotation (the r02–r05 approach,
# which went stale whenever a module mixed verified and unverified
# queries). Invariants pinned by test_registry_contract.py::
# test_verification_prefix_self_rotates.
from orca_spark.operators import similarity2, similarity  # noqa: F401
# The text family: token and language basics (text), document quality
# rules (text_quality), corpus statistics (corpus_stats), term weighting
# and language models (text_lm), and span-level operators (spans).
from orca_spark.operators import (  # noqa: F401
    text,
    text_quality,
    corpus_stats,
    text_lm,
    spans,
)
from orca_spark.operators import multimodal  # noqa: F401
from orca_spark.operators import (  # noqa: F401
    io_ops,
    io_ops2,
)

# New in r05 — never driver-verified, so they sit inside the 50-slot
# prefix ahead of the multi-round-green relational7/pandas/bucketing
# families (every member of which has a green r04 row).
from orca_spark.operators import (  # noqa: F401
    dedup3,
    clustering,
    sampling,
    similarity3,
)

from orca_spark.operators import (  # noqa: F401
    relational7,
    pandas_ops,
    bucketing,
)

# Registered past the full r05 prefix — driver verification lands next
# round; locally gated now (oracle / behavior tests).
# profile2: profile_lineitem_approx already has its r04 driver row, and
# the new sketch-union query is bounds-tested in test_approx.py — the
# least-harmed deferral when the prefix overflowed by one.
from orca_spark.operators import (  # noqa: F401
    profile2,
    retrieval,
    diffing,
    schema_ops,
    audit,
    linkage,
    langid,
    sketches,
)

# Long-verified tail (green rows in r01-r04, or no-oracle scale paths
# whose driver check is rows-only and whose real gate is the local
# recall/behavior suite).
from orca_spark.operators import (  # noqa: F401
    dedup,
    dedup2,
    ranges,
    relational4,
    relational6,
    relational,
    relational2,
    relational3,
    relational5,
    scalars2,
    skew,
    analytics,
    asof,
    profile,
)

# The events family: windows, sessions and value distributions
# (events), sequences and user behaviour (event_behavior), and the
# dense hour series with every query over it (event_series).
from orca_spark.operators import events, event_behavior, event_series  # noqa: F401

# r05 batch 3: BPE merge training, near-dup graph analytics. Verification slots are scheduled by
# __spark_entry__.verification_order (never-green first), not by this
# import's position.
from orca_spark.operators import (  # noqa: F401
    bpe,
    graph,
)

# r05 batch 4: categorical association, weighted similarity, quantile
# feature scaling.
from orca_spark.operators import (  # noqa: F401
    stats2,
    similarity4,
    embeddings2,
)

# r05 batch 5: RFM.
from orca_spark.operators import relational8  # noqa: F401

# r05 batch 6: the composed corpus pipeline.
from orca_spark.operators import pipeline  # noqa: F401

# r05 batch 7: MapType pipelines + observation-piggybacked metrics,
# asymmetric containment dedup.
from orca_spark.operators import scalars3, containment, affinity, ivm  # noqa: F401
from orca_spark.operators import cohorts2, whitening  # noqa: F401

# r06 batch 1: pair-free corpus diversity, fixed-point PageRank.
from orca_spark.operators import embeddings3  # noqa: F401

# r06 batch 2: BPE train->apply token accounting, water-filling
# training-mix planner.
from orca_spark.operators import bpe2, mixture  # noqa: F401

# r07 batch 1: the three modules written in r06 but left unwired
# (VERDICT r06 item #1) — session path mining, k-anonymity audit,
# Gini token concentration.
from orca_spark.operators import paths, privacy, stats3  # noqa: F401

# r07 batch 2: training-input layout (sequence packing + context
# chunking), triangle census.
from orca_spark.operators import packing, graph2  # noqa: F401

# r07 batch 3: count-preserving dedup, embedding outliers.
from orca_spark.operators import dedup4, embeddings4  # noqa: F401

# r07 batch 4: l-diversity audit.
from orca_spark.operators import privacy2  # noqa: F401

# r07 batch 5: Matryoshka truncation fidelity, real resize kernel on
# the multimodal Arrow path, language-ID confusion matrix.
from orca_spark.operators import embeddings5, multimodal2  # noqa: F401
from orca_spark.operators import langid2  # noqa: F401

# r07 batch 6: exact rank-based median, gaps-and-islands streaks,
# composed chunk-dedup RAG index.
from orca_spark.operators import relational9, pipeline2  # noqa: F401

# r07 batch 7: custom Python DataSource (Spark 4 API) round-trip.
from orca_spark.sources import jsonl  # noqa: F401

# r07 batch 8: node-level near-dup graph analytics (local clustering
# coefficient, fixed-round k-core, common-neighbor link prediction).
from orca_spark.operators import graph3  # noqa: F401

# r07 batch 9: the adjacent-pair cosine histogram over embeddings.
from orca_spark.operators import embeddings6  # noqa: F401

# r07 batch 10: business-calendar analytics (YoY growth, SLA breach),
# budget-constrained curation manifest, and the Python-DataSource
# WRITE path (two-phase-commit JSONL sink, registered in sources.jsonl).
from orca_spark.operators import packing2, relational10  # noqa: F401

# r07 batch 11: t-closeness (completing the k/l/t governance trio).
from orca_spark.operators import privacy3  # noqa: F401

# r07 batch 12: structured-data fuzzy dup detection (double-charge
# pairs).
from orca_spark.operators import relational11  # noqa: F401

# r07 batch 14: Spark-4 engine surfaces — VARIANT property bags,
# DataFrame.lateralJoin, and the pure-SQL (spark.sql) entry.
from orca_spark.operators import spark4  # noqa: F401

# r07 batch 16: the mapInArrow zero-copy digest path.
from orca_spark.operators import multimodal3  # noqa: F401

# r07 batch 17: join-strategy hints and the try_* ANSI-safe arithmetic
# surface.
from orca_spark.operators import relational12  # noqa: F401

# r07 batch 18: supplier-concentration HHI and the composed per-source
# dedup funnel (raw -> exact survivors -> near-dup survivors).
from orca_spark.operators import analytics2  # noqa: F401

# r07 batch 19: Welch A/B statistic, cross-lingual exact contamination,
# and the code-vs-prose router.
from orca_spark.operators import stats4  # noqa: F401

# r07 batch 21: monthly return-rate series.
from orca_spark.operators import analytics3  # noqa: F401

# r07 batch 22: month-over-month priority-mix drift (TV distance) and
# the exact median inter-order gap per nation.
from orca_spark.operators import analytics4  # noqa: F401

# r08 batch 1: the full composed RAG corpus build (chunk -> dedup ->
# embed-join -> per-language budget pack), r07 verdict item 8.
from orca_spark.operators import pipeline3  # noqa: F401

# r08 batch 3: the per-dimension embedding distribution monitor.
from orca_spark.operators import embeddings7  # noqa: F401

# r08 batch 4: WITH RECURSIVE (Spark 4 recursive CTE), interval x
# interval overlap join, the running-COUNT(DISTINCT) rewrite, and
# integer-exact sqrt temperature mixing weights.
from orca_spark.operators import mixture2, recursive, relational13  # noqa: F401

# r08 batch 5: null-safe joins + named-parameter SQL, the Benford
# fabricated-amounts screen, and DCT perceptual-hash image near-dup.
from orca_spark.operators import analytics5, multimodal4, relational14  # noqa: F401

# r08 batch 8: paper-backed curation trio — DSIR importance weights,
# CCNet perplexity terciles, inverted-index postings summary.
from orca_spark.operators import curation2  # noqa: F401

# r08 batch 9: TPC-H q2 completion lives in relational7; robust stats
# (Theil-Sen trend, Kaplan-Meier survival).
from orca_spark.operators import robust  # noqa: F401

# r08 batch 10: audio/video modality kernels, chi-square contingency
# audit, boundary-overlap dedup.
from orca_spark.operators import multimodal5  # noqa: F401
from orca_spark.operators import analytics6  # noqa: F401

# r09: three registrations only, so the driver prefix spends its
# remaining 47 slots re-verifying the r01-r02-vintage cohort (r08
# verdict item 1): the composed end-to-end curation pipeline (gate ->
# dedup -> DSIR -> mix weights -> pack), the CCNet tail-drop mix
# schedule, and exact largest-remainder token-budget apportionment.
from orca_spark.operators import pipeline4  # noqa: F401
from orca_spark.operators import mixture3  # noqa: F401

# r10: the incremental (IVM) curation-manifest delta against frozen
# history artifacts.
from orca_spark.operators import pipeline5  # noqa: F401

# r10 batch 2: oracled real-container roundtrips — the WAV and Y4M
# decoders synthesize genuine containers from doc_id and the oracle
# states the closed-form expected features, converting the multimodal
# family's weakest (rows-only) driver evidence to hash-checked rows.
from orca_spark.operators import multimodal6  # noqa: F401

# r11: the image modality goes end-to-end real — genuine PPM containers
# through decode → grayscale → resample → DCT phash with a full SQL
# re-derivation oracle, plus the persisted-phash-index probe the hash's
# bit-stability was built for (also fully oracled: determinism makes
# even banded ANN recall SQL-replicable).
from orca_spark.operators import multimodal7  # noqa: F401

# Structured Streaming: the source and stateless queries (jobs), the
# per-key state family (stateful) and the sinks and checkpointed ingest
# (ingest). Imported after pipeline5, whose gate, scorer and oracle the
# streaming curation twin reuses, so the non-streaming registration
# order does not depend on what the streaming modules import.
from orca_spark.streaming import jobs, stateful, ingest  # noqa: F401

# r11 batch 3: the int8 scalar-quantized ANN path — the first compressed-domain similarity
# query with a full value oracle (integer dots are summation-order
# exact, unlike the float paths that keep PQ/LSH/IVF rows-only).
from orca_spark.operators import similarity5  # noqa: F401

# r12: the two policy compositions (r11 verdict item 8) — the
# multimodal corpus build (gate -> text dedup -> phash near-dup drop ->
# manifest, every stage through its production kernel) and the
# two-granularity benchmark decontamination (doc drop + cross-corpus
# span scrub in one pass), both fully value-oracled.
from orca_spark.operators import pipeline6  # noqa: F401


def queries():
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql():
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def describe() -> dict[str, str]:
    return {name: spec.description for name, spec in REGISTRY.items()}
