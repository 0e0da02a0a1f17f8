"""SparkSession factory tuned for both local testing and cluster scale.

Local tests run ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the configs
below are chosen so the same code holds on a 1000-executor cluster:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing).
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is overridden by AQE's coalescing anyway.
* UTC session timezone — the reference stores UTC ``Instant``s
  (``/root/reference/src/orca/core.clj:462-470``) and the DuckDB oracle
  compares UTC-naive timestamps.
* Arrow enabled for every Pandas-UDF boundary.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

from orca_spark.vendor import ensure_protobuf

# before any JVM launch so local-mode workers inherit the PYTHONPATH;
# no-op when a real google.protobuf install exists (see vendor.py)
ensure_protobuf()


def get_spark(app_name: str = "orca_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # wide-expression codegen (the 64-term dot-product chains, the
        # k×dim argmin structs, PQ ADC tables) generates eval methods
        # past HotSpot's HugeMethodLimit (8 KB bytecode), which the JIT
        # then refuses to compile — the whole pair-scoring join runs in
        # the bytecode INTERPRETER, measured 15× slower at sf0.1
        # (embedding_near_dup_pairs_ivf: 13.1 s → 0.9 s steady-state).
        # Standard deployment tuning for codegen-heavy Spark; local
        # mode runs tasks in the driver JVM (the executor twin below is
        # inert here but makes a cluster submit of the same factory
        # inherit the behavior).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.orc.enableVectorizedReader", "true")
        # RocksDB state store: the production setting for streaming at
        # scale — state lives off-heap/on-disk per executor instead of
        # in the JVM heap (the default HDFS-backed provider keeps every
        # active key in memory, which at 100 TB/day watermark state is
        # an OOM, not a config preference). Semantics are identical;
        # the streaming suite runs against it.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive (isAdjustedToUTC=false) parquet timestamps read as
        # TIMESTAMP (UTC instants under the UTC session tz), not
        # TIMESTAMP_NTZ — watermarks/unix_micros require TIMESTAMP, and
        # the DuckDB oracle compares the same UTC-naive values
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warn_if_jit_flag_missing(spark)
    return spark


def _warn_if_jit_flag_missing(spark: SparkSession) -> None:
    """extraJavaOptions only takes effect when this factory launches the
    first JVM in the process; if getOrCreate reused a SparkContext from
    another entry point the flag is silently absent and the wide-chain
    pair scans quietly run 10-20x slower (interpreted). Make that state
    visible: check the live JVM's input arguments and warn once."""
    try:
        mf = spark._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
        args = [str(a) for a in mf.getRuntimeMXBean().getInputArguments()]
        if "-XX:-DontCompileHugeMethods" not in args:
            import warnings

            warnings.warn(
                "SparkContext was created before orca_spark.session.get_spark "
                "ran: -XX:-DontCompileHugeMethods is NOT set on this JVM, so "
                "codegen-heavy pair scans (embedding_near_dup_pairs*) will run "
                "interpreted, ~10-20x slower. Launch the session through "
                "get_spark first, or add the flag to "
                "spark.driver/executor.extraJavaOptions.",
                RuntimeWarning,
                stacklevel=3,
            )
    except Exception:  # py4j surface varies across builds; advisory only
        pass


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-provided session.

    The verify driver hands us its own SparkSession; pin the settings
    correctness depends on (timezone for oracle comparison) without
    restarting the JVM.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # route the vendored protobuf to this session's Python workers (the
    # driver's JVM predates our environ mutation; see vendor.py)
    ensure_protobuf(spark)
    try:
        # production state store for the streaming jobs (see get_spark);
        # runtime-settable — read per streaming query start
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    except Exception:
        pass
    try:
        # driver testdata stores naive timestamp[us]; read as TIMESTAMP
        # (UTC instant) so watermarks / unix_micros keep working
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    try:
        # nanosecond-timestamp parquet (an external corpus's events
        # table; the repository's corpora store micros) reads as long
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static conf on some builds; get_spark sets it at build time
    return spark


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body, then put each key back
    as it was: its old value, or unset if it had none. The confs are
    session-wide, so callers scope only eager driver-side work whose
    outputs are checkpointed or written before the scope closes."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def loop_width(spark: SparkSession, n_rows: int) -> int:
    """Shuffle width for a driver loop over ``n_rows`` materialized rows:
    ~50k rows per task, capped at the executor count, so a small input
    stops paying near-empty tasks every round."""
    tasks = (n_rows + 49_999) // 50_000
    return max(1, min(spark.sparkContext.defaultParallelism, tasks))
