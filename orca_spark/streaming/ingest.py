"""Streaming sinks and checkpointed ingest.

* ``streaming_foreach_batch_orc`` — the exactly-once foreachBatch sink:
  each micro-batch overwrites its own epoch-keyed ORC directory, so a
  replayed epoch rewrites the same directory instead of duplicating.
* ``streaming_incremental_ingest`` — the grow-only directory topology:
  the checkpoint carries the processed-file log across separate job
  INVOCATIONS, so run N+1 touches only the files that arrived since run
  N. Reprocessing cost tracks the NEW data, never the table — at 100 TB
  the difference between a nightly job reading 1 TB and one reading 100.
* ``streaming_upsert_snapshot`` — the streaming MERGE INTO: each
  micro-batch upserts into a keyed latest-record snapshot.
* ``streaming_pysource_jsonl_ingest`` — a custom PYTHON streaming
  source end-to-end (``sources/jsonl.py``).
* ``streaming_curation_manifest`` — ingest → curation as one continuous
  contract, the streaming twin of ``pipeline_curation_incremental``.

The three multi-invocation jobs share ``ingest_in_passes``: the input
lands in two parts, and after each part one availableNow pass over a
shared checkpoint streams what is new, which also exercises
cross-invocation exactly-once file tracking.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

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
from orca_spark.sources.jsonl import register_jsonl_source
from orca_spark.streaming.jobs import drain, run_to_memory, stream_table
from orca_spark.tables import load


def ingest_in_passes(
    spark: SparkSession,
    parts: list[DataFrame],
    in_dir: str,
    ckpt: str,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
) -> list[int]:
    """Land each frame of ``parts`` in ``in_dir`` in turn and, after each,
    stream what is new through ``sink`` in one availableNow pass. Every
    pass shares the checkpoint ``ckpt``, so a pass reads only the files
    landed since the one before. The stream's schema is that of the
    frames written, so no listing or inference job runs. Returns the
    rows each pass processed."""
    schema = parts[0].schema
    rows = []
    for part in parts:
        part.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = drain(sink(stream.writeStream.option("checkpointLocation", ckpt)))
        rows.append(sum(int(p["numInputRows"]) for p in q.recentProgress))
    return rows


def _halves(ev: DataFrame) -> list[DataFrame]:
    """The events table as two file batches that PARTITION it."""
    # coalesce: a NULL event_id satisfies neither `% 2 == 0` nor
    # `% 2 == 1` and would be silently dropped from the ingest.
    # pmod, not %: Spark's % takes the dividend's sign, so a negative
    # odd id would yield -1 and fall out of both batches
    batch = F.coalesce(F.pmod(F.col("event_id"), F.lit(2)), F.lit(0))
    return [ev.where(batch == 0), ev.where(batch == 1)]


@register(
    "streaming_foreach_batch_orc",
    oracle="""
        SELECT event_type,
               count(*)             AS n,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY event_type
    """,
    description="exactly-once streaming sink: foreachBatch writes each "
    "micro-batch to an epoch-keyed ORC directory (idempotent overwrite "
    "per epoch — replays after failure rewrite the same epoch, never "
    "duplicate), then the ORC output is read back and aggregated",
)
def streaming_foreach_batch_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_spark.operators.io_ops import scratch_path

    out = scratch_path("stream_orc_sink", sf_dir)
    ckpt = scratch_path("stream_orc_ckpt", sf_dir)
    for p in (out, ckpt):  # fresh run: reprocess everything deterministically
        shutil.rmtree(p, ignore_errors=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch-keyed overwrite = idempotent: a retried epoch replaces its
        # own directory instead of appending duplicates
        batch_df.write.mode("overwrite").orc(f"{out}/epoch={epoch_id}")

    ev = stream_table(spark, sf_dir, "events")
    drain(ev.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt))
    back = spark.read.orc(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "streaming_incremental_ingest",
    oracle="""
        SELECT event_type,
               count(*)             AS n,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY event_type
    """,
    description="checkpointed incremental ingest: the events table "
    "arrives as two separate file batches; two availableNow runs share "
    "one checkpoint, so the second run processes ONLY the new files "
    "(asserted in tests/test_streaming.py via per-run numInputRows) "
    "and the exactly-once parquet sink accumulates each row once — "
    "the grow-only directory topology where reprocessing cost tracks "
    "new data, not table size",
)
def streaming_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_spark.operators.io_ops import scratch_path

    base = scratch_path("incr_ingest", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"

    ev = load(spark, sf_dir, "events")  # ts already µs-normalized
    # the "next day": the second half lands in the same directory
    ingest_in_passes(
        spark,
        _halves(ev),
        in_dir,
        ckpt,
        lambda w: w.format("parquet").option("path", out_dir).outputMode("append"),
    )

    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


_KEY = ["user_id", "event_type"]


def _compact(df: DataFrame) -> DataFrame:
    """Latest record per key — identical ordering to
    events_changelog_compact (relational7.py): ts DESC, event_id DESC."""
    w = Window.partitionBy(*_KEY).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "streaming_upsert_snapshot",
    oracle="""
        SELECT user_id, event_type, ts AS latest_ts, value AS latest_value
        FROM (
            SELECT user_id, event_type, ts, value,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    description="foreachBatch upsert (streaming MERGE INTO): each "
    "micro-batch merges into a keyed latest-record snapshot via "
    "union + SCD1 recompaction and publishes a new snapshot version; "
    "batch-partition-invariant by construction, so the batch changelog "
    "compaction SQL is its exact oracle",
)
def streaming_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each micro-batch reads the current snapshot, unions the batch,
    recompacts (the SCD1 window) and publishes a new snapshot version.
    The recompaction keeps the GLOBAL latest record per key under the
    deterministic (ts, event_id) order, so any batch partition of the
    input converges to the batch oracle.

    Scale notes: the per-batch merge cost is one window shuffle over
    snapshot ∪ batch — snapshot-sized, not history-sized (the append
    sink would grow with history; the snapshot is bounded by live
    keys). On a real deployment the versioned-parquet publish becomes
    a Delta/Iceberg MERGE INTO (transactional swap), and with RocksDB
    state the same semantics are available fully inside the engine via
    transformWithStateInPandas (streaming.stateful) when per-key state
    fits the store."""
    from orca_spark.operators.io_ops import scratch_path

    base = scratch_path("upsert_snap", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, ckpt = f"{base}/in", f"{base}/ckpt"
    state = {"version": 0}

    def snap_dir(v: int) -> str:
        return f"{base}/snap_v{v}"

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = state["version"]
        batch_keyed = batch_df.select("user_id", "event_type", "ts", "value", "event_id")
        if cur == 0:
            merged = _compact(batch_keyed)
        else:
            prev = batch_df.sparkSession.read.parquet(snap_dir(cur))
            merged = _compact(prev.unionByName(batch_keyed))
        merged.write.parquet(snap_dir(cur + 1))
        state["version"] = cur + 1

    ev = load(spark, sf_dir, "events")
    ingest_in_passes(
        spark, _halves(ev), in_dir, ckpt, lambda w: w.foreachBatch(merge_batch)
    )

    return (
        spark.read.parquet(snap_dir(state["version"]))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("latest_ts"),
            F.col("value").alias("latest_value"),
        )
    )


# Documents are sharded to JSONL by the custom two-phase-commit writer,
# then ingested back as a STREAM through the same source's partitioned
# ``DataSourceStreamReader``: offsets are positions in the sorted shard
# listing, each micro-batch plans one input partition per new file, and
# the driver never reads data. Spark 4's PythonMicroBatchStream does not
# implement the AvailableNow admission protocol, so the availableNow
# driver falls back to ONE micro-batch spanning initialOffset ->
# latestOffset; for this bounded job that batch IS the whole input.
@register(
    "streaming_pysource_jsonl_ingest",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT)     AS n_docs,
               CAST(sum(doc_id) AS BIGINT)  AS id_sum,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
    """,
    description="custom PYTHON streaming source end-to-end: documents "
    "sharded by the two-phase-commit JSONL writer, re-ingested through "
    "the partitioned DataSourceStreamReader (offset = position in the "
    "sorted shard listing, one input partition per new file, "
    "executor-side decode) and aggregated to completion under "
    "availableNow — the oracle aggregates the original parquet, so "
    "offset tracking, partition planning, decode, and streaming state "
    "are all value-checked",
)
def streaming_pysource_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    register_jsonl_source(spark)
    out = os.path.join(
        tempfile.gettempdir(),
        "orca_jsonl_stream_src",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.write.format("orca_jsonl").mode("overwrite").option("path", out).save()

    stream = spark.readStream.format("orca_jsonl").option("path", out).load()
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("total_chars"),
    )
    return run_to_memory(agg, "complete")


# ``pipeline_curation_incremental`` (pipeline5) proves the batch IVM
# shape: history summarized once into persisted artifacts, each ingest
# costing only its delta. The query below runs the SAME contract as a
# stream: the history artifacts are genuinely WRITTEN TO PARQUET, and
# the delta arrives as a file stream processed by foreachBatch
# micro-batches, split on doc_id so arrival order matches the batch
# form's min-doc_id survivor rule. Each micro-batch gates with
# ``pipeline4.gate_rows``, anti-joins the persisted exact-hash and
# prefix indexes (grown by appends as batches accept keys), dedups
# within the batch, scores survivors with the FROZEN DSIR model read
# back from parquet, and appends its (lang, source) manifest SUMS. The
# result folds every manifest (associative BIGINT adds) and recomputes
# the weights via ``pipeline5.finalize_manifest``, so the stream must
# converge to BYTE-IDENTICAL output with the batch operator, whose
# oracle it reuses verbatim.
def streaming_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_spark.operators.io_ops import scratch_path

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

    # two passes over one checkpoint, split on doc_id so lower ids
    # arrive first (the min-doc_id survivor rule's streaming
    # equivalent: first-seen == min when arrival follows id order);
    # an empty delta (mid NULL) skips the stream — the manifest is the
    # history snapshot alone, matching the oracle's empty d_kept
    if mid_val is not None:
        mid = int(mid_val)
        # AQE off across the micro-batch passes (the loop-round finding
        # from CC/kmeans applied to foreachBatch): each batch runs ~5
        # actions over a delta whose shuffle sizes are already tiny, and
        # AQE splits every one into per-stage sub-jobs — pure scheduling
        # rounds here. The main thread is blocked in awaitTermination
        # while the batches plan, so the scoped setting cannot leak into
        # concurrent work.
        with conf_scope(spark, {"spark.sql.adaptive.enabled": "false"}):
            ingest_in_passes(
                spark,
                [
                    delta_raw.where(F.col("doc_id") <= mid),
                    delta_raw.where(F.col("doc_id") > mid),
                ],
                in_dir,
                ckpt,
                lambda w: w.foreachBatch(curate_batch),
            )

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
