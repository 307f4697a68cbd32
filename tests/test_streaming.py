"""M5 streaming fidelity tests — Structured Streaming stateful operators
vs their batch analogs, plus foreachBatch sink units.

Determinism strategy: replay a small parquet directory with a file
stream source, add a SENTINEL stream whose last event is far in the
future so the (global) watermark passes every real segment's timeout and
the tail buffers flush (the fix for the reference's tail-data loss,
SURVEY.md §2.6(g)), then processAllAvailable and compare against the
batch implementations on identical input.
"""

from __future__ import annotations

import ast
import os
import tokenize

import pytest

from pyspark.sql import functions as F

SEG_MS = 180_000


def _frame_rows():
    # two real streams with irregular spacing crossing several 3-min
    # windows + one sentinel far in the future to drive the watermark.
    base = 1_700_000_000_000  # ms
    rows = []
    for sid, offsets in {
        "s1": [0, 40_000, 90_000, 179_999, 180_000, 200_000, 500_000],
        "s2": [5_000, 185_001, 185_002, 900_000],
    }.items():
        rows += [(sid, base + off) for off in offsets]
    rows.append(("sentinel", base + 90_000_000))  # +25h
    return rows


@pytest.fixture(scope="module")
def frames_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("frames"))
    df = spark.createDataFrame(_frame_rows(), "stream_id string, ts_ms long").select(
        "stream_id",
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        (F.col("ts_ms") % 100 / 1.0).alias("scene_signal"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _stream(spark, frames_dir):
    return spark.readStream.schema(
        "stream_id string, ts timestamp, scene_signal double"
    ).parquet(frames_dir)


def test_exact_segments_stream_matches_batch(spark, frames_dir, tmp_path):
    from video_stream_processing_spark.operators.segments import segment_windows_exact
    from video_stream_processing_spark.streaming.stateful import exact_segments_stream

    out = exact_segments_stream(
        _stream(spark, frames_dir), duration_ms=SEG_MS, watermark="1 minute"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("segs")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # one extra empty batch lets EventTimeTimeout fire for tails
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["stream_id"], r["start_time"], r["end_time"], r["frame_count"])
        for r in spark.sql("SELECT * FROM segs").collect()
        if r["stream_id"] != "sentinel"
    }

    batch = spark.read.parquet(frames_dir).where(F.col("stream_id") != "sentinel")
    want = {
        (r["stream_id"], r["start_time"], r["end_time"], r["frame_count"])
        for r in segment_windows_exact(
            batch.select("stream_id", "ts"), duration_ms=SEG_MS
        ).collect()
    }
    assert got == want
    # spot-check the trigger-inclusive rule: s1 frame at +180000 CLOSES
    # the first segment and is inside it (frame_count 5, not 4).
    s1_first = min((g for g in got if g[0] == "s1"), key=lambda g: g[1])
    assert s1_first[3] == 5


def test_keyframes_stream_matches_stateful_batch(spark, frames_dir, tmp_path):
    from video_stream_processing_spark.operators.keyframe import keyframe_gate_stateful
    from video_stream_processing_spark.streaming.stateful import keyframes_stream

    out = keyframes_stream(
        _stream(spark, frames_dir), min_interval_ms=100_000, scene_threshold=30.0
    )
    q = (
        out.writeStream.format("memory")
        .queryName("kfs")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["stream_id"], r["ts"])
        for r in spark.sql("SELECT * FROM kfs WHERE is_keyframe").collect()
        if r["stream_id"] != "sentinel"
    }

    batch = (
        spark.read.parquet(frames_dir)
        .where(F.col("stream_id") != "sentinel")
        .select("stream_id", "ts", "scene_signal")
    )
    want = {
        (r["stream_id"], r["ts"])
        for r in keyframe_gate_stateful(
            batch, signal_col="scene_signal", min_interval_ms=100_000, scene_threshold=30.0
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_detections_fact_sink_layout(spark, tmp_path):
    from video_stream_processing_spark.streaming.sinks import write_detections_fact

    batch = spark.createDataFrame(
        [("s1", "2024-03-05 14:30:00", "car", 0.9)],
        "stream_id string, detection_time string, object_class string, confidence double",
    ).select(
        "stream_id",
        F.col("detection_time").cast("timestamp").alias("detection_time"),
        "object_class",
        "confidence",
    )
    out_dir = str(tmp_path / "fact")
    write_detections_fact(out_dir)(batch, 0)
    # partition layout == the Doris bucketing / MinIO key analog
    hour = os.path.join(out_dir, "stream_id=s1", "date_key=20240305", "hour_key=14")
    assert os.path.isdir(hour)
    # each micro-batch lands in its own leaf under the layout above
    assert os.listdir(hour) == ["batch_id=0"]
    back = spark.read.parquet(out_dir)
    assert back.count() == 1
    assert {r["object_class"] for r in back.collect()} == {"car"}


def test_segments_sink_object_key_and_encoder(spark, tmp_path):
    from video_stream_processing_spark.streaming.sinks import (
        NoopEncoder,
        object_key,
        write_segments,
    )

    batch = spark.createDataFrame(
        [("cam1", "2024-03-05 14:30:00", "2024-03-05 14:33:00", 450, 180_000, "size")],
        "stream_id string, start_time string, end_time string, frame_count int, "
        "duration_ms long, closed_by string",
    ).select(
        "stream_id",
        F.col("start_time").cast("timestamp").alias("start_time"),
        F.col("end_time").cast("timestamp").alias("end_time"),
        "frame_count",
        "duration_ms",
        "closed_by",
    )
    out_dir = str(tmp_path / "segments")
    write_segments(out_dir, NoopEncoder())(batch, 0)
    row = spark.read.parquet(out_dir).collect()[0]
    start_ms = 1709649000000  # 2024-03-05T14:30:00Z
    assert row["object_key"] == f"videos/cam1/20240305/14/cam1_{start_ms}.mp4"
    assert row["object_key"] == object_key("cam1", start_ms, "20240305/14")
    assert row["file_size"] == 450 * 1024  # NoopEncoder: frame_count * 1024
    assert row["local_file_path"].endswith(f"cam1_{start_ms}.mp4")


def test_rate_frames_schema(spark):
    from video_stream_processing_spark.streaming.pipeline import rate_frames

    df = rate_frames(spark)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "stream_id", "frame_id", "ts", "scene_signal", "frame_data",
    ]


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Public streaming definitions that only tests call, kept because each
# mirrors a piece of the reference job.
TEST_ONLY_MIRRORS = {
    "flagship_job_stream": "the reference's whole job as one graph (VideoStreamProcessingJob.java:60-102)",
    "write_detections_ndjson": "the Doris Stream-Load NDJSON wire format (DorisSinkBuilder.java:62-65)",
    "FFmpegEncoder": "the reference's ffmpeg segment encode (FFmpegUtils.java:137-189)",
    "object_key": "the reference's object-key format (MinIOVideoSink.java:50-59); write_segments builds it as a Column",
}


def _code_names() -> dict[str, list[tuple[str, int]]]:
    """path -> (identifier, line) of every name token in the code (not
    docstrings or comments) of the package, tools/, perfbench/ and
    bench.py, test directories excluded."""
    paths = [os.path.join(ROOT, "bench.py")]
    for top in ("video_stream_processing_spark", "tools", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x != "tests"]
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    names = {}
    for p in paths:
        with open(p) as f:
            toks = tokenize.generate_tokens(f.readline)
            names[p] = [(t.string, t.start[0]) for t in toks if t.type == tokenize.NAME]
    return names


def test_streaming_surface_is_reachable():
    """Every public top-level function or class in streaming/ is used by
    the code of a non-test file outside its own definition, or is listed
    in TEST_ONLY_MIRRORS: a streaming twin that only its own test calls
    fails here."""
    names = _code_names()
    streaming = os.path.join(ROOT, "video_stream_processing_spark", "streaming")
    defined, unreached = set(), []
    for path in sorted(p for p in names if os.path.dirname(p) == streaming):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)) or node.name.startswith("_"):
                continue
            defined.add(node.name)
            span = range(node.lineno, node.end_lineno + 1)
            named = any(
                name == node.name and not (p == path and line in span)
                for p, toks in names.items()
                for name, line in toks
            )
            if not named and node.name not in TEST_ONLY_MIRRORS:
                unreached.append(f"{os.path.basename(path)}:{node.name}")
    assert not unreached, f"streaming definitions only tests reach: {unreached}"
    assert set(TEST_ONLY_MIRRORS) <= defined
