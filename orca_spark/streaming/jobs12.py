"""Streaming batch 12: ingest -> quality gate -> exact dedup as ONE
continuous job (r09 verdict item 8b) — the streaming front door of the
curation pipeline.

A production corpus doesn't arrive as a batch: documents stream in, and
the hygiene pass (gate out junk, collapse byte-identical copies) must
run ON INGEST so downstream consumers only ever see curated survivors.
This job wires two proven pieces into the TWS machinery:

* the gate is ``pipeline4.gate_rows`` — the SAME Gopher token-rule
  stage the batch composites run, applied to the micro-batch as
  row-local expressions (no state, fused into the stream scan);
* exact dedup is a ``transformWithStateInPandas`` ValueState fold
  keyed on the 8-byte content hash (``xxhash64(text)`` — never raw
  text as a shuffle key, the dedup family's rule): per key the state
  is (survivor = running min doc_id, n_copies, n_words) — O(1) per
  key, RocksDB-backed, so the dedup index IS the state store and a
  restart resumes from the checkpoint instead of rescanning history
  (the streaming twin of pipeline5's persisted hash index).

Emission is Update-mode once per key per micro-batch; the bounded
drain keeps each key's final emission by the monotonic n_copies
counter, reduced per HASH key (a later batch can lower the survivor
id, so the hash — not the survivor — is the stable reduce identity).

The oracle is the identical batch aggregation: gate, group by
md5(text) (an equivalent partition of identical texts), min doc_id +
count. n_words needs no aggregate choice — group members are
byte-identical, so their token counts are equal by construction.

Scale: state is one 24-byte row per DISTINCT surviving text, the
grouping shuffle carries 8-byte keys, and each micro-batch costs its
own size — the 100 TB history lives in the state store, never in the
plan. Reference parity: core.clj has no streaming (SURVEY §2.5).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from orca_spark.operators.pipeline4 import gate_rows
from orca_spark.registry import register
from orca_spark.streaming.jobs import run_to_memory
from orca_spark.streaming.jobs5 import tws_available
from orca_spark.tables import parquet_schema

# the oracle's gate mirror reuses pipeline4's published SQL fragment
from orca_spark.operators.pipeline5 import _GATE_SQL


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a bounded stream (schema pinned from the
    batch footer; jobs.stream_events's pattern for the shared dir)."""
    return (
        spark.readStream.schema(parquet_schema(spark, f"{sf_dir}/documents.parquet"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def make_gate_dedup_processor():
    """ValueState fold: per content-hash key keep (survivor = running
    min doc_id, n_copies, n_words). Module scope so the fold is
    testable without the transport (jobs5's pattern)."""
    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class GateDedup(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "s", "survivor BIGINT, n BIGINT, n_words BIGINT"
            )

        def handleInputRows(
            self, key, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            if self._st.exists():
                surv, n, nw = (int(v) for v in self._st.get())
            else:
                surv, n, nw = None, 0, 0
            for pdf in rows:
                n += len(pdf)
                m = int(pdf["doc_id"].min())
                surv = m if surv is None or m < surv else surv
                # group members are byte-identical texts: every row in
                # this key carries the same token count
                nw = int(pdf["n_words"].iloc[0])
            self._st.update((surv, n, nw))
            yield pd.DataFrame(
                {
                    "h": [int(key[0])],
                    "survivor_doc_id": [surv],
                    "n_copies": [n],
                    "n_words": [nw],
                }
            )

        def close(self) -> None:
            pass

    return GateDedup()


def streaming_ingest_gate_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    gated = gate_rows(stream_documents(spark, sf_dir)).select(
        "doc_id", "n_words", F.xxhash64("text").alias("h")
    )
    updated = gated.groupBy("h").transformWithStateInPandas(
        statefulProcessor=make_gate_dedup_processor(),
        outputStructType="h bigint, survivor_doc_id bigint, "
        "n_copies bigint, n_words bigint",
        outputMode="Update",
        timeMode="None",
    )
    out = run_to_memory(updated, "update")
    # final emission per HASH key (n_copies is the monotonic progress
    # counter; the survivor id can still decrease between batches, so
    # it is not a stable reduce identity), then drop the engine-specific
    # hash so the compared surface is oracle-neutral
    w = W.partitionBy("h").orderBy(F.col("n_copies").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("survivor_doc_id", "n_copies", "n_words")
    )


if tws_available():
    register(
        "streaming_ingest_gate_dedup",
        oracle=f"""
            WITH {_GATE_SQL}
            SELECT CAST(min(doc_id) AS BIGINT) AS survivor_doc_id,
                   CAST(count(*) AS BIGINT)    AS n_copies,
                   CAST(min(n_words) AS BIGINT) AS n_words
            FROM kept
            GROUP BY md5(text)
        """,
        description="streaming ingest -> Gopher gate -> exact dedup as "
        "one continuous TWS job: the batch composites' gate_rows stage "
        "fused into the micro-batch scan, then a ValueState fold keyed "
        "on the 8-byte content hash holding (min-doc_id survivor, copy "
        "count) — O(1) RocksDB state per distinct text, restart resumes "
        "from checkpoint, never a history rescan; oracle is the "
        "identical batch gate + group-by-text aggregation",
    )(streaming_ingest_gate_dedup)
