"""Streaming batch 13: ingest → curation as ONE continuous contract
(r10 verdict item 8a) — the streaming twin of the incremental curation
manifest.

``pipeline_curation_incremental`` (pipeline5) proves the batch IVM
shape: history summarized once into persisted artifacts, each ingest
costing only its delta. This job runs the SAME contract as a stream:
the history artifacts are genuinely WRITTEN TO PARQUET (the persistence
pipeline5's docstring promises but computes inline), and the delta
arrives as a file stream processed by ``foreachBatch`` micro-batches —
two ``availableNow`` passes sharing one checkpoint, split on doc_id so
arrival order matches the batch form's min-doc_id survivor rule and the
job also exercises cross-invocation exactly-once file tracking (the
jobs6 pattern).

Each micro-batch:

1. gates with ``pipeline4.gate_rows`` (the single shared gate
   implementation — batch composites, jobs12, and this job can never
   drift on gate semantics);
2. anti-joins the PERSISTED exact-hash index (history hashes + hashes
   accepted by earlier batches — the index grows by appends, the
   jobs4 append-sink shape), then dedups within the batch;
3. same for the prefix-fingerprint index;
4. scores survivors with the FROZEN DSIR model read back from its
   parquet form (``pipeline5.dsir_scores(frozen=True)``);
5. appends its (lang, source) manifest SUMS to the manifest log.

The final result folds the history manifest with every batch's sums
(associative BIGINT adds) and recomputes the sqrt-temperature weights
via ``pipeline5.finalize_manifest`` — so the stream must converge to
BYTE-IDENTICAL output with the batch IVM operator, and the oracle IS
``pipeline_curation_incremental``'s oracle, reused verbatim. That is
the "one continuous contract" claim made executable: ingest through
curation, streaming or batch, one hash.

Scale: per-batch cost is the batch plus two 8-byte-hash anti-joins
against parquet indexes (broadcast-sized here; bloom-pruned or
state-store-backed at 100 TB — jobs12 holds the same index IN RocksDB
state), vocab-keyed frozen-model joins with one-row broadcast scalars,
and a model-sized manifest append. No history rescan anywhere.
Reference parity: core.clj has no streaming (SURVEY §2.5).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.operators.pipeline4 import _PREFIX_TOKS, gate_rows, gated_docs
from orca_spark.operators.pipeline5 import (
    _SPLIT_DEN,
    _SPLIT_NUM,
    dsir_scores,
    finalize_manifest,
    group_manifest,
)
from orca_spark.registry import REGISTRY, register
from orca_spark.session import conf_scope
from orca_spark.streaming.jobs import drain


def streaming_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_spark.operators.io_ops import scratch_path
    from orca_spark.tables import load

    base = scratch_path("stream_curation", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, ckpt = f"{base}/in", f"{base}/ckpt"
    exact_idx, prefix_idx = f"{base}/exact_idx", f"{base}/prefix_idx"
    # one combined (w, c_c, c_t) model artifact since r13 (was two files)
    model_cc = f"{base}/model"
    model_scal = f"{base}/model_scal"
    manifests = f"{base}/manifests"

    # ---- one-time history summarization (the once-per-snapshot job):
    # identical artifact construction to pipeline5, but genuinely
    # persisted — the delta pass below reads ONLY these parquets.
    # the gated corpus feeds the threshold agg plus four artifact
    # builders — materialize it once instead of re-gating per consumer
    # (in production the history summarization is its own job and this
    # is its scan; here it keeps the inline form from paying 5x)
    kept = gated_docs(spark, sf_dir).localCheckpoint(eager=True)
    thr_val = kept.agg(
        F.expr(f"max(doc_id) * {_SPLIT_NUM} div {_SPLIT_DEN}")
    ).collect()[0][0]
    if thr_val is None:
        # nothing survives the gate: the oracle's thr CTE is NULL, both
        # splits compare doc_id against NULL, and the manifest is empty
        return finalize_manifest(
            rows_to_df(
                spark,
                [],
                "lang string, source string, n_docs long, n_tokens long, "
                "sum_dsir_e4 long, n_docs_delta long",
            )
        )
    thr = int(thr_val)
    h_kept = kept.where(F.col("doc_id") <= thr)
    # the delta-split midpoint needs only the raw documents scan + thr —
    # independent of every history artifact, so its job runs on a worker
    # thread and overlaps the artifact builds (guide §2.6: overlap
    # independent jobs; FIFO scheduling back-fills the tails)
    from concurrent.futures import ThreadPoolExecutor

    docs = load(spark, sf_dir, "documents")
    delta_raw = docs.where(F.col("doc_id") > thr)
    pool = ThreadPoolExecutor(max_workers=3)
    try:
        mid_fut = pool.submit(
            lambda: delta_raw.agg(
                F.expr("min(doc_id) + (max(doc_id) - min(doc_id)) div 2")
            ).collect()[0][0]
        )
        # survivor SELECTION is a window min over the dedup key (one
        # shuffle; identical keep-min-doc_id semantics to the old
        # groupBy+self-join form, which paid agg + join exchanges) — the
        # same shape pipeline5's batch form uses. Each tier is
        # EAGERLY materialized once, then every artifact is a projection
        # of cached blocks, which collapses the r12 form's six write
        # actions (each re-deduping from the gate) into: 2 tier
        # checkpoints + 3 main-thread writes + 2 overlapped index writes.
        prefix = F.xxhash64(F.concat_ws(" ", F.slice("toks", 1, _PREFIX_TOKS)))
        w_hash = Window.partitionBy(F.xxhash64("text"))
        h_exact = (
            h_kept.withColumn("_m", F.min("doc_id").over(w_hash))
            .where(F.col("doc_id") == F.col("_m"))
            .drop("_m")
            .localCheckpoint(eager=True)
        )
        # the exact-dedup tier keeps EXACTLY one survivor per distinct
        # text hash, so the persisted exact index is a bare projection of
        # the tier — set-identical to the old distinct-over-h_kept form
        # with no aggregation exchange (same argument for the prefix
        # index below: the prefix tier holds one row per distinct prefix)
        f_exact_idx = pool.submit(
            h_exact.select(F.xxhash64("text").alias("h")).write.parquet, exact_idx
        )
        w_pref = Window.partitionBy(prefix)
        h_corpus = (
            h_exact.withColumn("_m", F.min("doc_id").over(w_pref))
            .where(F.col("doc_id") == F.col("_m"))
            .drop("_m")
            .localCheckpoint(eager=True)
        )
        f_prefix_idx = pool.submit(
            h_corpus.select(prefix.alias("p")).write.parquet, prefix_idx
        )
        h_tok = h_corpus.select("doc_id", "source", F.explode("toks").alias("w"))
        from orca_spark.operators.curation2 import _DSIR_TARGET

        # corpus and target term counts in ONE aggregation pass + ONE
        # parquet artifact (the r12 form scanned the token fan-out twice
        # and wrote two files): rows with c_t = 0 are words absent from
        # the target slice — the DSIR scorer left-joins ct and coalesces
        # missing to 0, so a present-with-zero row scores identically,
        # and sum(c_t)/count(*) reproduce the old scalars exactly
        model = h_tok.groupBy("w").agg(
            F.count(F.lit(1)).alias("c_c"),
            F.count(F.when(F.col("source") == _DSIR_TARGET, 1)).alias("c_t"),
        )
        model.write.parquet(model_cc)
        model_p = spark.read.parquet(model_cc)
        cc_p = model_p.select("w", "c_c")
        ct_p = model_p.select("w", "c_t")
        scal = model_p.agg(
            F.sum("c_c").alias("total_c"),
            F.count(F.lit(1)).alias("v"),
            F.coalesce(F.sum("c_t"), F.lit(0)).alias("total_t"),
        )
        scal.write.parquet(model_scal)
        scal_p = spark.read.parquet(model_scal)
        h_manifest = group_manifest(
            h_corpus,
            dsir_scores(
                h_tok,
                cc_p,
                ct_p,
                scal_p.select("total_c", "v"),
                scal_p.select("total_t"),
                frozen=False,
            ),
        )
        h_manifest.withColumn("n_docs_delta", F.lit(0).cast("long")).write.parquet(
            manifests
        )
        # the stream's first batch anti-joins the persisted indexes —
        # barrier on the overlapped writes before any micro-batch runs
        f_exact_idx.result()
        f_prefix_idx.result()
        mid_val = mid_fut.result()
    finally:
        pool.shutdown(wait=True)

    # ---- the continuous ingest: raw delta docs stream in, curation
    # runs per micro-batch against the persisted artifacts only.

    # each micro-batch reads the artifacts on its own session with an
    # explicit schema (the frozen model's from its already-bound frames),
    # which skips the footer-read schema-inference job a read otherwise
    # pays; the growing key indexes re-list their appended files per batch
    def curate_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        gated = gate_rows(batch_df)
        d1 = gated.withColumn("h", F.xxhash64("text")).join(
            s.read.schema("h BIGINT").parquet(exact_idx), "h", "left_anti"
        )
        d_exact = (
            d1.withColumn(
                "_m", F.min("doc_id").over(Window.partitionBy("h"))
            )
            .where(F.col("doc_id") == F.col("_m"))
            .drop("_m")
        )
        d2 = d_exact.withColumn("p", prefix).join(
            s.read.schema("p BIGINT").parquet(prefix_idx), "p", "left_anti"
        )
        d_corpus = (
            d2.withColumn(
                "_m", F.min("doc_id").over(Window.partitionBy("p"))
            )
            .where(F.col("doc_id") == F.col("_m"))
            .drop("_m")
            .localCheckpoint()
        )
        d_tok = d_corpus.select("doc_id", F.explode("toks").alias("w"))
        mdl = s.read.schema(model_p.schema).parquet(model_cc)
        mscal = s.read.schema(scal_p.schema).parquet(model_scal)
        d_manifest = group_manifest(
            d_corpus,
            dsir_scores(
                d_tok,
                mdl.select("w", "c_c"),
                mdl.select("w", "c_t"),
                mscal.select("total_c", "v"),
                mscal.select("total_t"),
                frozen=True,
            ),
        )
        # the three batch artifacts are independent projections of the
        # CHECKPOINTED d_corpus — overlap their write actions (§2.6);
        # the next batch only starts after this callback returns, so the
        # index appends are barriered before any reader
        from concurrent.futures import ThreadPoolExecutor as _TPE

        with _TPE(max_workers=2) as bpool:
            fa = bpool.submit(
                d_corpus.select("h").write.mode("append").parquet, exact_idx
            )
            fb = bpool.submit(
                d_corpus.select("p").write.mode("append").parquet, prefix_idx
            )
            d_manifest.withColumn(
                "n_docs_delta", F.col("n_docs").cast("long")
            ).write.mode("append").parquet(manifests)
            fa.result()
            fb.result()

    # two availableNow passes over one checkpoint, split on doc_id so
    # lower ids arrive first (the min-doc_id survivor rule's streaming
    # equivalent: first-seen == min when arrival follows id order);
    # an empty delta (mid NULL) skips the stream — the manifest is the
    # history snapshot alone, matching the oracle's empty d_kept
    if mid_val is not None:
        mid = int(mid_val)
        delta_raw.where(F.col("doc_id") <= mid).write.parquet(in_dir)
        # the stream reads files written FROM delta_raw, so its schema
        # is delta_raw's by construction — no extra listing job
        schema = delta_raw.schema

        def run_pass() -> None:
            drain(
                spark.readStream.schema(schema)
                .parquet(in_dir)
                .writeStream.foreachBatch(curate_batch)
                .option("checkpointLocation", ckpt)
            )

        # AQE off across the micro-batch passes (the loop-round finding
        # from CC/kmeans applied to foreachBatch): each batch runs ~5
        # actions over a delta whose shuffle sizes are already tiny, and
        # AQE splits every one into per-stage sub-jobs — pure scheduling
        # rounds here. The main thread is blocked in awaitTermination
        # while the batches plan, so the scoped setting cannot leak into
        # concurrent work.
        with conf_scope(spark, {"spark.sql.adaptive.enabled": "false"}):
            run_pass()
            delta_raw.where(F.col("doc_id") > mid).write.mode(
                "append"
            ).parquet(in_dir)
            run_pass()

    merged = (
        spark.read.schema(
            "lang STRING, source STRING, n_docs BIGINT, n_tokens BIGINT, "
            "sum_dsir_e4 BIGINT, n_docs_delta BIGINT"
        )
        .parquet(manifests)
        .groupBy("lang", "source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("sum_dsir_e4").cast("long").alias("sum_dsir_e4"),
            F.sum("n_docs_delta").cast("long").alias("n_docs_delta"),
        )
    )
    return finalize_manifest(merged)


register(
    "streaming_curation_manifest",
    # the whole point: the stream must converge to BYTE-IDENTICAL output
    # with the batch IVM operator, so its oracle is reused verbatim
    oracle=REGISTRY["pipeline_curation_incremental"].oracle,
    description="streaming twin of pipeline_curation_incremental — "
    "ingest → curation as one continuous contract: history artifacts "
    "(exact-hash index, prefix index, frozen DSIR model, manifest sums) "
    "genuinely persisted to parquet once, then the delta streams in via "
    "foreachBatch (two availableNow passes, one checkpoint — "
    "cross-invocation exactly-once), each micro-batch gating with the "
    "shared gate_rows, anti-joining the persisted indexes (grown by "
    "append as batches accept keys), scoring with the frozen model read "
    "back from parquet, and appending associative manifest sums; the "
    "final weight recompute is pipeline5.finalize_manifest and the "
    "oracle is the batch operator's, verbatim — streaming and batch "
    "curation share one driver hash",
)(streaming_curation_manifest)
