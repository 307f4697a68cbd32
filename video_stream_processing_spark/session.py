"""SparkSession construction and session-level conventions.

The reference configures its Flink environment centrally
(VideoStreamProcessingJob.java:112-129: parallelism, checkpointing,
restart strategy). Our equivalent is a SparkSession factory that turns on
the scale posture we rely on everywhere: AQE (runtime re-planning, skew
join splitting, partition coalescing), Arrow for the pandas-UDF boundary,
and a UTC session timezone so timestamp semantics are reproducible against
the DuckDB oracle and across clusters.

Sessions built here also run their Python workers under
``worker_daemon`` (``spark.python.daemon.module``). The stock pyspark
daemon's workers re-read the central directory of Spark's pyspark.zip
(3.5 MB, 1,328 entries, ~16 times) at the start of every Python task, on
CPython 3.10-3.12: ~0.5 s of fixed cost per task. The stateful streaming
stage runs one Python task per state partition per micro-batch, so on
local[4] (a 4-core VM, CPython 3.11, Spark 4.1) that cost was most of the
stream micro-batch (a traced
``stream_backlog`` batch spent 4.66 task-seconds, 0.23 s of it JVM CPU).
The daemon re-reads an archive only when the file changed; the
micro-batch went from ~3.0 s to ~1.5 s. The package root also goes first
on ``spark.executorEnv.PYTHONPATH`` so the daemon and every UDF import
the engine whatever the working directory. Both are static conf, so a
session we did not build (the verify driver's) keeps pyspark's stock
daemon and gives the same results, only slower per Python task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding the video_stream_processing_spark package; Python
# workers need it on their path to import the engine's UDFs and daemon.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Conventions every query in this engine assumes. All of these are
# runtime-settable (not static SparkConf), so ensure_session_conf() can
# also repair a session we did not create (e.g. the verify driver's).
RUNTIME_CONF = {
    # Timestamps: parquet stores instants; render/extract in UTC everywhere.
    "spark.sql.session.timeZone": "UTC",
    # Arrow-batched transfer for pandas UDFs / toPandas: the only sane way
    # to cross the JVM<->Python boundary (SURVEY §4.2).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime shuffle-partition coalescing + skew-join handling.
    # At 100 TB the static shuffle-partition number is always wrong for
    # somebody; AQE fixes it per-stage from runtime statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver-generated events table stores TIMESTAMP(NANOS) parquet,
    # which Spark 4 rejects by default; read as long nanos and convert in
    # tables.load_table (truncation to micros matches DuckDB's behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The round-3 regeneration writes tz-naive TIMESTAMP(MICROS) instead;
    # read those as session-TZ (UTC) instants, not TIMESTAMP_NTZ, so
    # unix_millis()/window()/date_format() keep working and values match
    # DuckDB's naive-timestamp reading under the UTC session.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime conventions to an externally provided session.

    The verify driver hands ``entry(spark)`` a session we did not build;
    every declared query routes through here so results do not depend on
    who constructed the session.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment: keep going; the conf above
            # are all documented runtime-mutable in Spark 3.x/4.x.
            pass
    return spark


def snapshot_persistent_ids(spark: SparkSession) -> set[int]:
    """Snapshot the ids of currently persisted RDD blocks.

    The ONE audited place that touches the private py4j surface
    ``sc._jsc.getPersistentRDDs()`` (previously duplicated across
    bench.py / oracle.py / streaming sinks / bpe). Used with
    :func:`release_since` to scope localCheckpoint block release to
    exactly what one query/batch created — the async ContextCleaner
    frees them too slowly for a long-lived session (measured 1 -> 7
    block sets across 5 bench queries).
    """
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def release_since(
    spark: SparkSession, baseline: set[int], collect_gc: bool = True
) -> None:
    """Unpersist every RDD block created since ``baseline`` (a
    :func:`snapshot_persistent_ids` snapshot).

    CAVEAT (the reuse trap): this is a snapshot DIFF — any block the
    scoped work intentionally left cached for a LATER consumer would be
    unpersisted too, and a lineage-truncated localCheckpoint block is
    unrecoverable. Callers that hand cached frames across the scope
    boundary must either include those ids in ``baseline`` or use
    :func:`release_ids` on an explicit set instead.

    gc.collect() first so py4j handles drop before the unpersist walk —
    collect alone is NOT enough (the ContextCleaner lags), and
    unpersist alone leaks the Python-side JavaObject handles. Pass
    ``collect_gc=False`` on a latency-sensitive path (the streaming
    foreachBatch sinks) to skip the full driver GC pause; the unpersist
    walk still frees executor block memory, and any py4j handle the
    Python side still holds is reclaimed by the next periodic GC instead
    of inline on the batch's critical path.
    """
    if collect_gc:
        import gc

        gc.collect()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) not in baseline:
            jmap.get(k).unpersist()


def release_ids(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist exactly the given RDD block ids (positive form of
    :func:`release_since` for callers that track what they created —
    e.g. the BPE trainer releasing the PREVIOUS round's state)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist()


def get_spark(
    app_name: str = "video-stream-processing-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[N] for tests/bench; on a real cluster the same code runs with
    master/memory supplied by spark-submit. Shuffle partitions default to
    ``SPARK_SHUFFLE_PARTITIONS``, or 32 when it is unset; on a
    1000-executor cluster you would set this to ~2-3x total cores and let
    AQE coalesce down. The pipeline's detection and segment queries do
    not take this default: they fix their state partition count when
    they start (``streaming.pipeline.STATE_PARTITIONS``).

    Python workers run under ``worker_daemon`` (see the module
    docstring): it stops each Python task from re-reading pyspark.zip,
    which cost ~0.5 s per task and halved the stream micro-batch when
    removed. ``PACKAGE_ROOT`` goes first on the workers' PYTHONPATH
    (after Spark's own pyspark/py4j archives, before the launching
    process's PYTHONPATH), so the daemon and UDFs import from any working
    directory. A session that already exists keeps its static conf.
    """
    master = master or os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Keep stdout clean: the bench/verify drivers parse the process's
        # stdout tail, and the console progress bar can interleave with
        # the final JSON line.
        .config("spark.ui.showConsoleProgress", "false")
        # ContextCleaner's fallback JVM GC defaults to every 30 min —
        # longer than an entire bench/gate session, so localCheckpoint
        # RDD blocks from early queries linger and late queries pay the
        # heap pressure. 5 min bounds the accumulation on a long-lived
        # local session; a cluster tunes this to its own churn.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.python.daemon.module", "video_stream_processing_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_session_conf(spark)
