"""Streaming pipeline assembly — the reference job's dataflow
(VideoStreamProcessingJob.java:60-102) as Structured Streaming:

    source -> keyframe gate (stateful) -> inference UDF -> explode ->
    fact sink;  segments (stateful windows) -> object sink

The reference splits one operator's output two ways with a Flink side
output (OutputTag, §2.1 #21); Spark's analog is two independent queries
over a shared upstream, or a single foreachBatch that persists the batch
and fans out — we use the two-query form (each query has its own
checkpoint and can be restarted independently).

Sources: any streaming DataFrame with (stream_id, ts, scene_signal
[, embedding]) works. ``rate_frames`` builds the mock-producer analog
(VideoStreamMockProducer, §2.1 #6) from the rate source; a parquet
directory replayed with ``spark.readStream.schema(FRAME_SCHEMA)`` is the
deterministic test path. A real Kafka deployment swaps in
readStream.format("kafka") + from_json with the same downstream, exactly
like the reference's KafkaSource + JSON deserializer (§2.1 #1-#2).

``detection_query`` and ``segment_query`` start with ``STATE_PARTITIONS``
state partitions, not the session's batch shuffle partition count; a
query restarted from an existing checkpoint keeps the count that
checkpoint recorded. ``flagship_job_stream`` still starts at the
session's count: its dedup gate, index anti-joins and detect UDF shuffle
on the same setting and have not been measured at one partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from video_stream_processing_spark.streaming.sinks import (
    write_detections_fact,
    write_segments,
)
from video_stream_processing_spark.streaming.stateful import (
    exact_segments_stream,
    keyframes_stream,
)

FRAME_SCHEMA = (
    "stream_id string, frame_id long, ts timestamp, scene_signal double, "
    "frame_data binary"
)

# State partitions detection_query and segment_query start with. Each
# partition pays a state-store commit and a Python update call on every micro-batch,
# whether or not it holds a key: ~0.1 s of commit plus 0.1-0.2 s of
# update task time per partition (tools/stream_bench.py keyframe_gate and
# exact_segments, local[4], 1 vs 4 partitions). A key costs ~4-5 ms of
# update per batch at ~67 rows per key. One partition won at 15 keys
# (addBatch 0.30 vs 0.33 s gate, 0.36 vs 0.47 s segments); four won at
# 150 keys (0.82 vs 0.59 s, 0.88 vs 0.67 s) and 1,500 keys (7.6 vs 2.6 s,
# 6.8 vs 2.5 s). A linear fit puts the knee at ~25-50 keys per batch, so
# the reference's three cameras want one partition and thousands of
# cameras want about one per core.
STATE_PARTITIONS = 1


def _start(frames: DataFrame, writer: DataStreamWriter) -> StreamingQuery:
    """``writer.start()`` with ``spark.sql.shuffle.partitions`` at
    ``STATE_PARTITIONS`` on the session of ``frames``, restored once the
    query exists. The query copies the session conf when it is created
    and records the count in its offset log on the first batch; a restart
    reads the count back from the checkpoint, so an existing checkpoint
    keeps the count it was written with. The setting is session-wide
    while ``start()`` runs: a batch query planned on the same session
    from another thread in that window gets ``STATE_PARTITIONS`` shuffle
    partitions, so do not start stream queries while another thread
    plans batch work on their session."""
    conf = frames.sparkSession.conf
    key = "spark.sql.shuffle.partitions"
    old = conf.get(key)
    conf.set(key, str(STATE_PARTITIONS))
    try:
        return writer.start()
    finally:
        conf.set(key, old)


def rate_frames(
    spark: SparkSession, rows_per_second: int = 75, n_streams: int = 3
) -> DataFrame:
    """Synthetic frame stream at the reference's design point (25 fps x 3
    streams = 75 frames/s, BASELINE.md): rate source -> deterministic
    stream assignment + scene signal."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.concat(F.lit("camera_"), (F.col("value") % n_streams + 1).cast("string")).alias(
                "stream_id"
            ),
            F.col("value").alias("frame_id"),
            F.col("timestamp").alias("ts"),
            ((F.col("value") * 37 % 100) / 1.0).alias("scene_signal"),
            F.encode(F.col("value").cast("string"), "UTF-8").alias("frame_data"),
        )
    )


def detections_stream(
    frames: DataFrame,
    min_interval_ms: int = 5_000,
    scene_threshold: float = 0.3,
    watermark: str = "10 minutes",
    confidence_threshold: float = 0.5,
    nms_iou_threshold: float = 0.45,
) -> DataFrame:
    """Hot path: stateful keyframe gate -> (stub) detection -> NMS ->
    explode, as the (stream_id, detection_time, object_class, confidence)
    rows of the fact table. NMS runs inside the hot path like the
    reference's detect() (YOLODetector.java:170 applies applyNMS before
    returning). Input needs (stream_id, ts, scene_signal)."""
    from video_stream_processing_spark.operators.detection import nms_udf, stub_detect_udf

    gated = keyframes_stream(
        frames.select("stream_id", "ts", "scene_signal"),
        min_interval_ms=min_interval_ms,
        scene_threshold=scene_threshold,
        watermark=watermark,
    ).where(F.col("is_keyframe"))

    # The embedding stand-in for pixels: derive a deterministic vector
    # from the signal so the UDF surface is exercised end to end.
    with_vec = gated.withColumn(
        "embedding",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: ((F.col("scene_signal") + i) % 7 - 3).cast("float") / 3.0,
        ),
    )
    detect = stub_detect_udf(confidence_threshold)
    nms = nms_udf(nms_iou_threshold)
    return with_vec.select(
        "stream_id",
        F.col("ts").alias("detection_time"),
        F.explode(nms(detect(F.col("embedding")))).alias("d"),
    ).select(
        "stream_id",
        "detection_time",
        F.col("d.object_class").alias("object_class"),
        F.col("d.confidence").alias("confidence"),
    )


def detection_query(
    frames: DataFrame,
    fact_dir: str,
    checkpoint_dir: str,
    min_interval_ms: int = 5_000,
    scene_threshold: float = 0.3,
    trigger_seconds: int = 5,
    watermark: str = "10 minutes",
    confidence_threshold: float = 0.5,
    nms_iou_threshold: float = 0.45,
):
    """``detections_stream`` -> partitioned fact sink. The 5 s trigger
    mirrors the Doris sink's 5 s flush (DorisSinkBuilder.java:72).
    Returns the started StreamingQuery."""
    dets = detections_stream(
        frames,
        min_interval_ms=min_interval_ms,
        scene_threshold=scene_threshold,
        watermark=watermark,
        confidence_threshold=confidence_threshold,
        nms_iou_threshold=nms_iou_threshold,
    )
    return _start(
        frames,
        dets.writeStream.foreachBatch(write_detections_fact(fact_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append"),
    )


def segment_query(
    frames: DataFrame,
    segments_dir: str,
    checkpoint_dir: str,
    duration_ms: int = 180_000,
    encoder=None,
    trigger_seconds: int = 5,
    watermark: str = "10 minutes",
    segment_hook=None,
):
    """Archival path: exact (first-arrival-aligned, trigger-inclusive)
    segments -> optional per-segment hook -> pluggable encoder ->
    object-layout sink.

    ``segment_hook`` (DataFrame -> DataFrame) is the analog of the
    reference's pass-through VideoSegmentFunction (SURVEY §2.2 #13,
    S/function/VideoSegmentFunction.java:10-23 — a KeyedProcessFunction
    placeholder for "quality check, metadata extraction" that today
    relays unchanged): a declarative hook point on the segment stream
    before the sink; None keeps the reference's identity behavior."""
    segs = exact_segments_stream(
        frames.select("stream_id", "ts"), duration_ms=duration_ms, watermark=watermark
    )
    if segment_hook is not None:
        segs = segment_hook(segs)
    return _start(
        frames,
        segs.writeStream.foreachBatch(write_segments(segments_dir, encoder))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append"),
    )


def _signature_stream(frames: DataFrame) -> DataFrame:
    """(doc_id, ts, sig) from (doc_id, ts, payload) image rows, computed
    inside one Arrow pass: each payload is decoded and dHashed by the
    batch queries' codec and hash (imports stay worker-side); a payload
    that does not decode yields no signature and is dropped."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from video_stream_processing_spark.functions.imagecodec import decode_image_bgr
        from video_stream_processing_spark.operators.multimodal import dhash64

        def sig_of(blob):
            img = decode_image_bgr(blob)
            return None if img is None else dhash64(img)

        for pdf in batches:
            sigs = [sig_of(blob) for blob in pdf["payload"]]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "ts": pdf["ts"], "sig": sigs}
            )

    return frames.mapInPandas(
        hash_batch, schema="doc_id long, ts timestamp, sig string"
    ).where(F.col("sig").isNotNull())


def neardup_gate_stream(
    sig_stream: DataFrame,
    index_sig: DataFrame,
    watermark: str = "10 minutes",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Modality-agnostic streaming NEAR-dup ingest gate over 64-bit
    signatures: an already-fingerprinted stream (doc_id, ts, sig —
    dHash, SimHash, audio energy-delta, video temporal... anything the
    batch lanes band with operators/dedup.py:banded_hamming_pairs) is
    gated against the STORED signature index (``index_sig``, x138's
    (doc_id, sig) shape) as a stream-STATIC anti join: the arriving
    signature is split into ``n_bands`` pigeonhole band keys (Manku et
    al. 2007 — any pair within Hamming n_bands - 1 agrees on at least
    one band), each band is an equi-join against the once-materialized
    banded index with a two-XOR+bit_count verify <= ``max_hamming``
    folded into the anti-join condition, so a jittered/re-encoded copy
    of ANY indexed item is suppressed at ingest. Survivors are then
    exact-deduped within the stream by ``dropDuplicatesWithinWatermark``
    (bounded state: one fixed-width key per signature; near-dup pairing
    WITHIN an ingest window remains the incremental batch join over the
    appended index, x138 — splitting the radius this way keeps stream
    state flat while the static side carries the corpus).

    At 100 TB the static side is the banded signature index ((band,
    bkey, two 32-bit halves) — fixed-width rows, partitionable by band
    key, appended per ingest); each micro-batch costs ``n_bands`` hash
    anti-joins on band keys, no stream-stream join, no all-pairs. The
    band joins carry no broadcast hint: past driver-memory scale the
    fix for the index-rebuild knee is the stored index's band-key
    partitioning (SCALE.md)."""
    if 64 % n_bands != 0:
        raise ValueError(
            f"n_bands must divide 64 (got {n_bands}): a non-divisor "
            "leaves trailing signature bits out of every band key and "
            "silently voids the pigeonhole recall guarantee"
        )
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds n_bands-1={n_bands - 1}: "
            "a pair at that distance can differ in every band, so the "
            "band join silently loses recall; raise n_bands or lower "
            "max_hamming"
        )
    width = 64 // n_bands
    hashed = sig_stream.select(
        "doc_id",
        "ts",
        "sig",
        F.conv(F.substring("sig", 1, 32), 2, 10).cast("long").alias("h1"),
        F.conv(F.substring("sig", 33, 32), 2, 10).cast("long").alias("h2"),
    ).withWatermark("ts", watermark)

    # Static side banded ONCE (the x106 materialize-once posture) —
    # per-band slices are filters over the checkpointed table, not
    # re-runs of the index scan.
    idx = (
        index_sig.select(
            F.conv(F.substring("sig", 1, 32), 2, 10).cast("long").alias("ih1"),
            F.conv(F.substring("sig", 33, 32), 2, 10).cast("long").alias("ih2"),
            F.explode(F.array(*[F.lit(k) for k in range(n_bands)])).alias("band"),
            "sig",
        )
        .withColumn("ibkey", F.expr(f"substring(sig, band * {width} + 1, {width})"))
        .select("band", "ibkey", "ih1", "ih2")
        .localCheckpoint(eager=True)
    )
    survivors = hashed
    for k in range(n_bands):
        idx_k = idx.where(F.col("band") == k).drop("band")
        ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("ih1"))) + F.bit_count(
            F.col("h2").bitwiseXOR(F.col("ih2"))
        )
        survivors = survivors.join(
            idx_k,
            (F.expr(f"substring(sig, {k * width + 1}, {width})") == F.col("ibkey"))
            & (ham <= max_hamming),
            "left_anti",
        )
    return survivors.dropDuplicatesWithinWatermark(["sig"]).select(
        "doc_id", "ts", "sig"
    )


def image_neardup_dedup_stream(
    frames: DataFrame,
    index_sig: DataFrame,
    watermark: str = "10 minutes",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Streaming NEAR-dup ingest gate for the image lane: arriving
    (doc_id, ts, payload) frames are decoded + dHashed in-stream (same
    codec + hash as the batch queries), then gated by
    ``neardup_gate_stream`` against the stored image signature index, so
    a re-encoded or jittered copy (Hamming <= ``max_hamming``) of any
    indexed frame is suppressed at ingest. Pixels never leave the
    Arrow pass; only (doc_id, ts, sig) flows into the joins and
    state."""

    hashed = _signature_stream(frames)
    return neardup_gate_stream(
        hashed, index_sig, watermark=watermark, max_hamming=max_hamming,
        n_bands=n_bands,
    )


def flagship_job_stream(
    frames_stream: DataFrame,
    index_sig: DataFrame,
    frames_static: DataFrame,
    detect_udf,
    fact_dir: str,
    segments_dir: str,
    checkpoint_root: str,
    min_interval_ms: int = 5_000,
    scene_threshold: float = 0.3,
    segment_ms: int = 180_000,
    watermark: str = "10 minutes",
    encoder=None,
    gate_max_hamming: int = 3,
    gate_n_bands: int = 4,
):
    """The reference's WHOLE job as ONE streaming graph, with the
    near-dup ingest gate in front (VERDICT r13 task 7):

        kafka-shaped frames (doc_id, ts, payload) ->
        image_neardup_dedup_stream (stored-index band anti-join +
        watermark-bounded exact gate) -> stream-static re-join of
        (stream_id, frame_id, payload) by doc_id (the pull-from-object-
        storage pattern) -> stateful byte-histogram keyframe gate ->
        detect UDF -> NMS/explode -> Doris-fact sink
        (VideoStreamProcessingJob.java:60-88)
      + segment side output: every gated frame -> exact unaligned
        segments -> object-layout sink (:89-102).

    Both sinks are the ones ``detection_query`` and ``segment_query``
    use: batch-id-keyed, so a replayed micro-batch replaces its rows.

    The Flink side output (OutputTag, SURVEY §2.1 #21) maps to two
    queries over the shared gated upstream — each re-executes the gate
    deterministically against its own checkpoint, so both sinks see the
    identical survivor set and either query can be restarted alone.
    PRECONDITION of that survivor-set equality: the source replays the
    same rows into the same micro-batch boundaries for both queries (a
    file source, or Kafka with replayed offsets and identical triggers).
    With nondeterministic batching the two queries' watermarks can
    advance differently, so dropDuplicatesWithinWatermark state eviction
    — and hence the survivor set near the watermark boundary — could
    diverge; a deployment that cannot guarantee deterministic batching
    should gate ONCE into an intermediate topic/table consumed by both
    queries instead. Chained stateful ops
    (dropDuplicatesWithinWatermark -> applyInPandasWithState) run in
    one append-mode query — supported in Spark 4's
    multi-stateful-operator model; pinned by the flagship e2e test
    INCLUDING a mid-stream checkpoint restart of both queries.

    Scale posture: the gate's static side is the banded stored index
    (fixed-width, partitionable by band key); pixels cross the plan
    only inside Arrow passes (gate dHash; keyframe histogram; detect),
    never a shuffle — the re-join pulls payloads by key per micro-batch
    exactly as a production job re-reads frames from object storage.
    Returns (fact_query, segments_query), both started."""
    from video_stream_processing_spark.streaming.stateful import (
        keyframes_from_bytes_stream,
    )

    survivors = image_neardup_dedup_stream(
        frames_stream.select("doc_id", "ts", "payload"),
        index_sig,
        watermark=watermark,
        max_hamming=gate_max_hamming,
        n_bands=gate_n_bands,
    )
    enriched = survivors.drop("sig").join(
        frames_static.select("doc_id", "stream_id", "frame_id", "payload"),
        "doc_id",
    )

    # watermark=None on both downstream stateful ops: the gate already
    # defined the event-time watermark; redefining one downstream of a
    # stateful operator is an AnalysisException in the multi-stateful
    # model, and inheriting keeps the whole graph on ONE time frontier.
    gated = keyframes_from_bytes_stream(
        enriched.select("stream_id", "ts", F.col("payload").alias("frame_data")),
        min_interval_ms=min_interval_ms,
        scene_threshold=scene_threshold,
        watermark=None,
        histogram="decoded",
    ).where(F.col("is_keyframe"))
    keyframes = gated.select("stream_id", "ts").join(
        frames_static.select(
            "stream_id", "ts", "frame_id", F.col("payload").alias("frame_data")
        ),
        ["stream_id", "ts"],
    )
    # Full 10-column Doris fact (DorisSinkBuilder.java:108-121 — the
    # same shape the batch lane a03/a07 lands): frame_id rides the
    # payload re-join, bbox comes from the detect struct, frame_url is
    # constant-empty exactly like the reference's unpopulated field
    # (SURVEY §2.6(f)).
    fact = keyframes.select(
        "stream_id",
        F.col("ts").alias("detection_time"),
        "frame_id",
        F.explode(detect_udf(F.col("frame_data"))).alias("d"),
    ).select(
        "stream_id",
        "detection_time",
        "frame_id",
        F.col("d.object_class").alias("object_class"),
        F.col("d.confidence").alias("confidence"),
        F.col("d.bbox.x1").alias("bbox_x1"),
        F.col("d.bbox.y1").alias("bbox_y1"),
        F.col("d.bbox.x2").alias("bbox_x2"),
        F.col("d.bbox.y2").alias("bbox_y2"),
        F.lit("").alias("frame_url"),
    )
    fact_query = (
        fact.writeStream.foreachBatch(write_detections_fact(fact_dir))
        .option("checkpointLocation", f"{checkpoint_root}/fact")
        .outputMode("append")
        .start()
    )
    segs = exact_segments_stream(
        enriched.select("stream_id", "ts"), duration_ms=segment_ms,
        watermark=None,
    )
    seg_query = (
        segs.writeStream.foreachBatch(write_segments(segments_dir, encoder))
        .option("checkpointLocation", f"{checkpoint_root}/segments")
        .outputMode("append")
        .start()
    )
    return fact_query, seg_query
