"""End-to-end streaming pipeline tests: pipeline.py's two queries (the
reference's side-output fan-out re-expressed as independent queries) run
against a file-replayed frame stream into real sinks, plus observe()
metric counters and the NDJSON sink wire format."""

from __future__ import annotations

import pytest

import json
import os

from pyspark.sql import functions as F


def _frames_dir(spark, tmp_path, n=120):
    d = str(tmp_path / "frames")
    rows = []
    base = 1_700_000_000_000
    for i in range(n):
        sid = f"cam{i % 2}"
        rows.append((sid, i, base + i * 20_000, float((i * 37) % 100)))
    (
        spark.createDataFrame(rows, "stream_id string, frame_id long, ts_ms long, scene_signal double")
        .select("stream_id", "frame_id", F.timestamp_millis("ts_ms").alias("ts"), "scene_signal")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


@pytest.mark.slow
def test_detection_query_end_to_end(spark, tmp_path):
    from video_stream_processing_spark.streaming.pipeline import detection_query

    frames = spark.readStream.schema(
        "stream_id string, frame_id long, ts timestamp, scene_signal double"
    ).parquet(_frames_dir(spark, tmp_path))
    fact_dir = str(tmp_path / "fact")
    q = detection_query(
        frames,
        fact_dir,
        str(tmp_path / "ck-det"),
        min_interval_ms=60_000,
        scene_threshold=30.0,
        trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    fact = spark.read.parquet(fact_dir)
    assert fact.count() > 0
    cols = set(fact.columns)
    assert {"stream_id", "detection_time", "object_class", "confidence",
            "date_key", "hour_key"} <= cols
    # partitioned layout exists (partition pruning surface)
    assert any(p.startswith("stream_id=") for p in os.listdir(fact_dir))


@pytest.mark.slow
def test_segment_query_end_to_end(spark, tmp_path):
    from video_stream_processing_spark.streaming.pipeline import segment_query

    frames = spark.readStream.schema(
        "stream_id string, frame_id long, ts timestamp, scene_signal double"
    ).parquet(_frames_dir(spark, tmp_path))
    seg_dir = str(tmp_path / "segments")
    q = segment_query(
        frames, seg_dir, str(tmp_path / "ck-seg"), duration_ms=600_000, trigger_seconds=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    segs = spark.read.parquet(seg_dir)
    rows = segs.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["object_key"].startswith(f"videos/{r['stream_id']}/")
        assert r["file_size"] == r["frame_count"] * 1024  # NoopEncoder


@pytest.mark.slow
def test_segment_hook_applied_before_sink(spark, tmp_path):
    """SURVEY §2.2 #13 analog: the pass-through VideoSegmentFunction is a
    declarative hook on the segment stream; a non-identity hook (quality
    flag + filter) must be visible in the sink output."""
    from video_stream_processing_spark.streaming.pipeline import segment_query

    frames = spark.readStream.schema(
        "stream_id string, frame_id long, ts timestamp, scene_signal double"
    ).parquet(_frames_dir(spark, tmp_path))
    seg_dir = str(tmp_path / "segments-hook")

    def quality_hook(segs):
        return segs.withColumn("quality_ok", F.col("frame_count") >= 2).where(
            F.col("quality_ok")
        )

    q = segment_query(
        frames,
        seg_dir,
        str(tmp_path / "ck-seg-hook"),
        duration_ms=600_000,
        trigger_seconds=1,
        segment_hook=quality_hook,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(seg_dir).collect()
    assert len(rows) > 0
    assert all(r["quality_ok"] and r["frame_count"] >= 2 for r in rows)


def _state_stores(q):
    return [op.numStateStoreInstances for op in q.lastProgress.stateOperators]


def test_stream_queries_start_with_one_state_partition(spark, tmp_path):
    """Both queries run STATE_PARTITIONS state stores and leave the
    session's shuffle partition count as it was; a segment checkpoint
    written at 3 partitions keeps 3 when restarted through segment_query
    and yields the segments of an uninterrupted run."""
    from video_stream_processing_spark.streaming.pipeline import (
        STATE_PARTITIONS,
        detection_query,
        segment_query,
    )
    from video_stream_processing_spark.streaming.sinks import write_segments
    from video_stream_processing_spark.streaming.stateful import exact_segments_stream

    assert STATE_PARTITIONS == 1
    schema = "stream_id string, frame_id long, ts timestamp, scene_signal double"
    frames = spark.read.parquet(_frames_dir(spark, tmp_path))
    halves = [frames.where(F.col("frame_id") < 60), frames.where(F.col("frame_id") >= 60)]

    def stream(d):
        return spark.readStream.schema(schema).parquet(d)

    def drain(q, d, *more):
        """Drain ``q``; then append each frame of ``more`` to ``d`` and
        drain again; then stop ``q``."""
        try:
            q.processAllAvailable()
            for half in more:
                half.coalesce(1).write.mode("append").parquet(d)
                q.processAllAvailable()
        finally:
            q.stop()

    def segments(out):
        return sorted(
            (r["stream_id"], r["start_time"], r["end_time"], r["frame_count"])
            for r in spark.read.parquet(out).collect()
        )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    whole = str(tmp_path / "whole")
    halves[0].coalesce(1).write.parquet(whole)
    det = detection_query(
        stream(whole), str(tmp_path / "fact"), str(tmp_path / "ck-det"),
        min_interval_ms=60_000, scene_threshold=30.0, trigger_seconds=0,
    )
    seg = segment_query(
        stream(whole), str(tmp_path / "seg"), str(tmp_path / "ck-seg"),
        duration_ms=600_000, trigger_seconds=0,
    )
    drain(det, whole)
    drain(seg, whole, halves[1])
    assert spark.conf.get(key) == before
    assert _state_stores(det) == [STATE_PARTITIONS]
    assert _state_stores(seg) == [STATE_PARTITIONS]

    # A checkpoint begun outside segment_query at 3 partitions.
    split = str(tmp_path / "split")
    ck = str(tmp_path / "ck-old")
    out = str(tmp_path / "seg-old")
    halves[0].coalesce(1).write.parquet(split)
    spark.conf.set(key, "3")
    try:
        old = (
            exact_segments_stream(stream(split).select("stream_id", "ts"), duration_ms=600_000)
            .writeStream.foreachBatch(write_segments(out))
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
    finally:
        spark.conf.set(key, before)
    drain(old, split)
    restarted = segment_query(stream(split), out, ck, duration_ms=600_000, trigger_seconds=0)
    drain(restarted, split, halves[1])
    assert _state_stores(restarted) == [3]
    expected = segments(str(tmp_path / "seg"))
    assert expected and segments(out) == expected


def test_observe_metrics(spark, sf_dir):
    from video_stream_processing_spark.operators.metrics import observe_frames
    from video_stream_processing_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("stream_id"), "ts"
    )
    df, obs = observe_frames(ev)
    n = df.count()
    got = obs.get
    assert got["processed_frames"] == n
    assert got["approx_streams"] > 0
    assert got["min_ts"] <= got["max_ts"]


def test_ndjson_sink_wire_format(spark, tmp_path):
    from video_stream_processing_spark.streaming.sinks import write_detections_ndjson

    batch = spark.createDataFrame(
        [("s1", "2024-03-05 14:30:00", 7, "car", 0.9)],
        "stream_id string, detection_time string, frame_id long, object_class string, confidence double",
    ).select(
        "stream_id",
        F.col("detection_time").cast("timestamp").alias("detection_time"),
        "frame_id",
        "object_class",
        "confidence",
    )
    out_dir = str(tmp_path / "ndjson")
    write_detections_ndjson(out_dir)(batch, 0)
    lines = [
        json.loads(line)
        for f in os.listdir(out_dir)
        if f.endswith(".txt") or f.startswith("part-")
        for line in open(os.path.join(out_dir, f))
        if line.strip()
    ]
    assert len(lines) == 1
    rec = lines[0]
    # reference sink format: yyyy-MM-dd HH:mm:ss (DorisSinkBuilder.java:105,111)
    assert rec["detection_time"] == "2024-03-05 14:30:00"
    assert rec["object_class"] == "car" and rec["frame_id"] == 7


def _fact_batch(spark, rows):
    return spark.createDataFrame(
        rows, "stream_id string, detection_time string, object_class string, confidence double"
    ).select(
        "stream_id",
        F.col("detection_time").cast("timestamp").alias("detection_time"),
        "object_class",
        "confidence",
    )


def _segments_batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "stream_id string, start_time string, end_time string, frame_count int, duration_ms long",
    ).select(
        "stream_id",
        F.col("start_time").cast("timestamp").alias("start_time"),
        F.col("end_time").cast("timestamp").alias("end_time"),
        "frame_count",
        "duration_ms",
    )


# case -> (sink name, batch factory, first batch rows, second batch rows,
# the columns that identify a written row, the rows both batches write)
_REPLAY_CASES = {
    "detections_fact": (
        "write_detections_fact",
        _fact_batch,
        [("s1", "2024-03-05 14:30:00", "car", 0.9), ("s2", "2024-03-05 15:00:00", "dog", 0.8)],
        [("s1", "2024-03-05 14:31:00", "bus", 0.7)],
        ["stream_id", "object_class", "confidence"],
        [("s1", "car", 0.9), ("s2", "dog", 0.8), ("s1", "bus", 0.7)],
    ),
    "segments": (
        "write_segments",
        _segments_batch,
        [
            ("s1", "2024-03-05 14:30:00", "2024-03-05 14:33:00", 181, 180_000),
            ("s2", "2024-03-05 15:00:00", "2024-03-05 15:03:10", 190, 190_000),
        ],
        [("s1", "2024-03-05 14:33:01", "2024-03-05 14:36:01", 180, 180_000)],
        ["stream_id", "object_key", "frame_count"],
        [
            ("s1", "videos/s1/20240305/14/s1_1709649000000.mp4", 181),
            ("s2", "videos/s2/20240305/15/s2_1709650800000.mp4", 190),
            ("s1", "videos/s1/20240305/14/s1_1709649181000.mp4", 180),
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(_REPLAY_CASES))
def test_sink_replay_keeps_each_row_once(spark, tmp_path, case):
    """The failure window between sink write and checkpoint commit: a
    micro-batch delivered twice under one batch id, then a new batch
    under the next id. Every row must be stored exactly once, read both
    the way Spark reads the table and the way pyarrow's hive dataset
    reads it (which skips ``_``- and ``.``-prefixed directories). A
    replayed segment batch derives the same object keys."""
    import pyarrow.dataset as ds

    from video_stream_processing_spark.streaming import sinks

    name, build, first, second, cols, want = _REPLAY_CASES[case]
    out = str(tmp_path / case)
    sink = getattr(sinks, name)(out)
    sink(build(spark, first), 7)
    sink(build(spark, first), 7)  # replay of the same batch id
    sink(build(spark, second), 8)

    by_spark = [tuple(r) for r in spark.read.parquet(out).select(*cols).collect()]
    table = ds.dataset(out, format="parquet", partitioning="hive").to_table(columns=cols)
    by_arrow = list(zip(*(table.column(c).to_pylist() for c in cols)))
    assert sorted(by_spark) == sorted(want)
    assert sorted(by_arrow) == sorted(want)
