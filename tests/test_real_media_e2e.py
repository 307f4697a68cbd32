"""The reference's ENTIRE job (VideoStreamProcessingJob.java:60-102) over
real binary media, composed from the shipped pieces (VERDICT r3 item 4):

    numpy-written frames (BMP, and JPEG — the reference's actual wire
    format, VideoStreamMockProducer.java:211-218) ->
    keyframe_gate_from_bytes (histogram correlation on the actual
    bytes) -> OnnxDetector with its DEFAULT numpy decoder + fake ONNX
    session -> NMS -> explode -> batch-keyed fact sink;  all frames ->
    exact segments -> segments sink (real FFmpegEncoder where ffmpeg
    exists, Noop otherwise).

No image library, no onnxruntime, no broker — every gap the container
forces is bridged by the documented injection point, and everything
else is the production code path.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from video_stream_processing_spark.functions.imagecodec import encode_bmp
from video_stream_processing_spark.functions.jpegcodec import encode_jpeg

BASE_MS = 1_700_000_000_000
N_FRAMES = 60  # per stream, 1 s apart
SCENE_LEN = 20  # scene cuts at frames 20 and 40
STREAMS = ("cam1", "cam2")

_ENCODERS = {"bmp": encode_bmp, "jpeg": encode_jpeg}


def _scene_image(scene: int) -> np.ndarray:
    """Uniform 32x32 BGR frame per scene — within a scene the encoded
    bytes are identical (correlation 1.0 after decode, lossy or not);
    across a cut the decoded mass moves to a different bin
    (correlation ~0)."""
    v = (50, 200, 125)[scene % 3]
    return np.full((32, 32, 3), v, dtype=np.uint8)


def _frames_df(spark, codec: str = "bmp"):
    enc = _ENCODERS[codec]
    rows = []
    for sid in STREAMS:
        for i in range(N_FRAMES):
            rows.append(
                (sid, i, BASE_MS + i * 1_000, bytearray(enc(_scene_image(i // SCENE_LEN))))
            )
    return spark.createDataFrame(
        rows, "stream_id string, frame_id long, ts_ms long, frame_data binary"
    ).select(
        "stream_id", "frame_id", F.timestamp_millis("ts_ms").alias("ts"), "frame_data"
    )


@pytest.mark.slow
@pytest.mark.parametrize("codec", ["bmp", "jpeg"])
def test_full_job_on_real_frames(spark, tmp_path, codec):
    from video_stream_processing_spark.operators.detection import (
        DETECTIONS_TYPE,
        OnnxDetector,
    )
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes
    from video_stream_processing_spark.operators.segments import segment_windows_exact
    from video_stream_processing_spark.streaming.sinks import (
        FFmpegEncoder,
        NoopEncoder,
        write_detections_fact,
        write_segments,
    )

    frames = _frames_df(spark, codec)

    # -- keyframe gate on the real bytes: interval 25 s keeps frame 0;
    #    the planted cuts at 20/40 fire the scene rule (sim ~0 < 0.7).
    #    BMP bytes ARE pixels, so the raw-bytes histogram works; JPEG is
    #    entropy-coded, so the gate must histogram the DECODED image.
    gated = keyframe_gate_from_bytes(
        frames,
        min_interval_ms=25_000,
        scene_threshold=0.3,
        histogram="bytes" if codec == "bmp" else "decoded",
    )
    kept: dict[str, list[int]] = {sid: [] for sid in STREAMS}
    for r in gated.select("stream_id", "frame_id").collect():
        kept[r["stream_id"]].append(r["frame_id"])
    assert {s: sorted(v) for s, v in kept.items()} == {sid: [0, 20, 40] for sid in STREAMS}

    # -- detection on keyframes: default decoder decodes the REAL BMP
    #    bytes; fake session supplies the head tensor; NMS inside.
    #    (Both defined in-function so cloudpickle ships them BY VALUE to
    #    executor workers — the tests package is not on worker sys.path.)
    tensor = np.zeros((1, 84, 2), dtype=np.float32)
    tensor[0, :4, 0] = [320, 320, 100, 100]  # class-2 candidate, conf 0.7
    tensor[0, 4 + 2, 0] = 0.7
    tensor[0, :4, 1] = [322, 322, 100, 100]  # overlapping, conf 0.95: NMS keeps this
    tensor[0, 4 + 2, 1] = 0.95

    class FakeSession:
        """ort.InferenceSession stand-in; shape-checks input on the executor."""

        def run(self, _out_names, feeds):
            x = feeds["images"]
            assert x.shape == (1, 3, 640, 640) and x.dtype == np.float32
            return [tensor]

    @F.pandas_udf(DETECTIONS_TYPE)
    def detect(blobs: pd.Series) -> pd.Series:
        det = OnnxDetector(session=FakeSession())
        return det.detect_batch(blobs)

    # The fused gate drops the binary payload inside its single Arrow
    # pass (the output schema is binary-free); re-attach payloads for
    # the ~keyframes-only detect stage by key, the same pattern a
    # production job uses to pull frames from object storage.
    keyframes = gated.select("stream_id", "frame_id", "ts").join(
        frames.select("stream_id", "frame_id", "frame_data"),
        ["stream_id", "frame_id"],
    )
    fact = (
        keyframes.select(
            "stream_id",
            F.col("ts").alias("detection_time"),
            F.explode(detect(F.col("frame_data"))).alias("d"),
        ).select(
            "stream_id",
            "detection_time",
            F.col("d.object_class").alias("object_class"),
            F.col("d.confidence").alias("confidence"),
        )
    )

    fact_dir = str(tmp_path / "fact")
    sink = write_detections_fact(fact_dir)
    sink(fact, 0)
    sink(fact, 0)  # replay of the same micro-batch must not duplicate
    stored = spark.read.parquet(fact_dir)
    assert stored.count() == len(STREAMS) * 3  # one NMS survivor per keyframe
    got = stored.select("object_class", "confidence").distinct().collect()
    assert len(got) == 1
    assert got[0]["object_class"] == "car" and got[0]["confidence"] == pytest.approx(0.95, abs=1e-4)

    # -- archival path: exact segments over ALL frames (30 s windows,
    #    add-then-check => frame 30 closes segment 1 inclusive).
    segs = segment_windows_exact(
        frames.select("stream_id", "ts"), duration_ms=30_000
    )

    have_ffmpeg = shutil.which("ffmpeg") is not None
    if have_ffmpeg:
        workdir = str(tmp_path / "enc")
        os.makedirs(workdir)
        for i in range(5):
            with open(os.path.join(workdir, f"frame_{i + 1:05d}.bmp"), "wb") as f:
                f.write(encode_bmp(_scene_image(i % 3)))
        encoder = FFmpegEncoder(workdir=workdir, fps=5, frame_pattern="frame_%05d.bmp")
    else:
        encoder = NoopEncoder()

    seg_dir = str(tmp_path / "segments")
    seg_sink = write_segments(seg_dir, encoder)
    seg_sink(segs, 0)
    seg_sink(segs, 0)  # replay
    seg_rows = spark.read.parquet(seg_dir).collect()
    assert len(seg_rows) == len(STREAMS) * 2  # [0..30] closed + [31..59] tail
    for r in seg_rows:
        assert r["object_key"].startswith(f"videos/{r['stream_id']}/")
        assert r["object_key"].endswith(".mp4")
        assert r["frame_count"] in (31, 29)
        if have_ffmpeg:
            assert os.path.isfile(r["local_file_path"]) and r["file_size"] > 0
            with open(r["local_file_path"], "rb") as f:
                assert f.read(12)[4:8] == b"ftyp"  # mp4 container magic
        else:
            assert r["file_size"] == r["frame_count"] * 1024


@pytest.mark.slow
def test_streaming_job_on_real_jpeg_frames(spark, tmp_path):
    """Streaming form of the same job on the reference's actual wire
    format (JPEG): frames replayed via readStream -> stateful bytes gate
    (applyInPandasWithState) -> stream-static payload re-join -> detect
    -> explode -> batch-keyed fact sink through writeStream.foreachBatch.
    Must land exactly the batch composition's fact rows."""
    from video_stream_processing_spark.operators.detection import (
        DETECTIONS_TYPE,
        OnnxDetector,
    )
    from video_stream_processing_spark.streaming.sinks import write_detections_fact
    from video_stream_processing_spark.streaming.stateful import (
        keyframes_from_bytes_stream,
    )

    frames = _frames_df(spark, "jpeg")
    d = str(tmp_path / "frames")
    frames.coalesce(1).write.mode("overwrite").parquet(d)

    tensor = np.zeros((1, 84, 2), dtype=np.float32)
    tensor[0, :4, 0] = [320, 320, 100, 100]
    tensor[0, 4 + 2, 0] = 0.7
    tensor[0, :4, 1] = [322, 322, 100, 100]
    tensor[0, 4 + 2, 1] = 0.95

    class FakeSession:
        def run(self, _out_names, feeds):
            return [tensor]

    @F.pandas_udf(DETECTIONS_TYPE)
    def detect(blobs: pd.Series) -> pd.Series:
        return OnnxDetector(session=FakeSession()).detect_batch(blobs)

    stream = spark.readStream.schema(
        "stream_id string, frame_id long, ts timestamp, frame_data binary"
    ).parquet(d)
    gated = keyframes_from_bytes_stream(
        stream.select("stream_id", "ts", "frame_data"),
        min_interval_ms=25_000,
        scene_threshold=0.3,
        histogram="decoded",
    ).where(F.col("is_keyframe"))
    # stream-static join pulls payloads back for keyframes only
    enriched = gated.join(
        frames.select("stream_id", "ts", "frame_data"), ["stream_id", "ts"]
    )
    fact = enriched.select(
        "stream_id",
        F.col("ts").alias("detection_time"),
        F.explode(detect(F.col("frame_data"))).alias("d"),
    ).select(
        "stream_id",
        "detection_time",
        F.col("d.object_class").alias("object_class"),
        F.col("d.confidence").alias("confidence"),
    )

    fact_dir = str(tmp_path / "fact-stream")
    q = (
        fact.writeStream.foreachBatch(write_detections_fact(fact_dir))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(fact_dir).collect()
    assert len(rows) == len(STREAMS) * 3  # keyframes 0/20/40 per stream
    kept_ms = sorted(
        int(r["detection_time"].timestamp() * 1000) - BASE_MS
        for r in rows
        if r["stream_id"] == "cam1"
    )
    assert kept_ms == [0, 20_000, 40_000]
    assert all(
        r["object_class"] == "car" and abs(r["confidence"] - 0.95) < 1e-4 for r in rows
    )


@pytest.mark.slow
def test_full_job_real_graph_detection(spark):
    """r9: the reference hot path with NOTHING faked — real BMP bytes ->
    real byte-histogram keyframe gate -> OnnxDetector running the REAL
    [1,84,8400] YOLOv8-skeleton conv graph through the numpy executor ->
    postprocess -> NMS -> explode. 6 keyframes x ~170 ms/image; the
    same frame bytes must produce identical detections on both streams
    (the executor is deterministic end-to-end)."""
    from video_stream_processing_spark.operators.detection import (
        DETECTIONS_TYPE,
        OnnxDetector,
    )
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes

    frames = _frames_df(spark, "bmp")
    gated = keyframe_gate_from_bytes(
        frames, min_interval_ms=25_000, scene_threshold=0.3, histogram="bytes"
    )
    keyframes = gated.select("stream_id", "frame_id", "ts").join(
        frames.select("stream_id", "frame_id", "frame_data"),
        ["stream_id", "frame_id"],
    )

    @F.pandas_udf(DETECTIONS_TYPE)
    def detect(blobs: pd.Series) -> pd.Series:
        # one session per worker call; weights are seed-deterministic so
        # every worker materializes the identical graph (the u04 pattern)
        from video_stream_processing_spark.operators.onnx_numpy import (
            NumpyGraphSession,
            make_yolov8n_skeleton,
        )

        det = OnnxDetector(session=NumpyGraphSession(make_yolov8n_skeleton()))
        return det.detect_batch(blobs)

    rows = (
        keyframes.select(
            "stream_id", "frame_id", F.explode(detect(F.col("frame_data"))).alias("d")
        )
        .select(
            "stream_id",
            "frame_id",
            F.col("d.object_class").alias("cls"),
            F.round(F.col("d.confidence").cast("double"), 4).alias("conf"),
            F.round(F.col("d.bbox.x1").cast("double"), 2).alias("x1"),
            F.round(F.col("d.bbox.y2").cast("double"), 2).alias("y2"),
        )
        .collect()
    )
    assert rows, "real-graph detection produced no rows"
    by_frame: dict[tuple, list] = {}
    for r in rows:
        by_frame.setdefault((r["stream_id"], r["frame_id"]), []).append(
            (r["cls"], r["conf"], r["x1"], r["y2"])
        )
    # every detection is valid
    for dets in by_frame.values():
        for cls, conf, x1, y2 in dets:
            assert conf >= 0.5
            assert 0 <= x1 <= 32 and 0 <= y2 <= 32  # frame is 32x32
    # determinism across streams: cam1 and cam2 carry identical bytes
    # per frame_id, so the detection sets must match exactly
    for fid in (0, 20, 40):
        a = sorted(by_frame.get(("cam1", fid), []))
        b = sorted(by_frame.get(("cam2", fid), []))
        assert a == b, fid


@pytest.mark.slow
def test_flagship_streaming_job_with_neardup_gate(spark, tmp_path):
    """VERDICT r13 task 7: the reference's WHOLE job as ONE streaming
    graph — kafka-shaped JPEG frames -> near-dup ingest gate against a
    stored image signature index -> stateful keyframe gate -> stub
    inference -> explode to the Doris fact + exact-segment side output
    — with a mid-stream CHECKPOINT RESTART of both queries. Both sinks'
    final contents must equal the batch composition (gate semantics +
    keyframe gate + detect / segment_windows_exact) on the same fixture.

    Fixture (the x145 DC-exact posture, so dHash is fully controlled):
    64x72 JPEGs of flat 8x8 blocks on a per-scene gray level; each
    frame raises TWO blocks (+8) at a combination-unique pair of
    odd-column positions in rows 0-5 — every frame's signature is
    distinct (exact gate passes all), >= 4 bits from the indexed
    special signature (rows 6-7 pattern), and histogram-identical
    within a scene (the 2-block mass is constant) so scene cuts fire
    only at frames 20/40. Planted near-copies of the indexed special
    image (Hamming 1) sit at cam1 slot 10 and cam2 slot 30 — the gate
    must drop them in DIFFERENT micro-batches, one before and one
    after the restart."""
    import itertools

    from video_stream_processing_spark.functions.imagecodec import decode_image_bgr
    from video_stream_processing_spark.operators.detection import (
        DETECTIONS_TYPE,
        OnnxDetector,
    )
    from video_stream_processing_spark.operators.multimodal import dhash64
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes
    from video_stream_processing_spark.operators.segments import segment_windows_exact
    from video_stream_processing_spark.streaming.pipeline import flagship_job_stream

    SEG_MS = 30_000
    POS = [(r, j) for r in range(6) for j in (1, 3, 5, 7)]
    PAIRS = list(itertools.combinations(range(len(POS)), 2))

    def render(v: int, raised: list[tuple[int, int]], bump: int = 8) -> bytes:
        blocks = np.full((8, 9), v, np.int64)
        for r, j in raised:
            blocks[r, j] += bump
        gray = np.repeat(np.repeat(np.clip(blocks, 0, 255).astype(np.uint8), 8, 0), 8, 1)
        return encode_jpeg(np.repeat(gray[:, :, None], 3, axis=2))

    special_raised = [(r, j) for r in (6, 7) for j in (1, 3, 5, 7)]
    special = render(125, special_raised)
    near_special = render(125, special_raised[1:])  # Hamming 1 from special
    sentinel_img = render(125, [(r, j) for r in (6, 7) for j in (2, 6)])

    def frame_payload(sid_idx: int, i: int) -> bytes:
        g = sid_idx * 60 + i
        v = (50, 200, 125)[(i // SCENE_LEN) % 3]
        return render(v, [POS[p] for p in PAIRS[g]])

    rows = []  # (doc_id, stream_id, frame_id, ts_ms, payload)
    for sid_idx, sid in enumerate(STREAMS):
        for i in range(N_FRAMES):
            planted = (sid_idx == 0 and i == 10) or (sid_idx == 1 and i == 30)
            payload = near_special if planted else frame_payload(sid_idx, i)
            rows.append(
                (sid_idx * 60 + i, sid, i, BASE_MS + i * 1_000, bytearray(payload))
            )
    rows.append((999, "sentinel", 0, BASE_MS + 90_000_000, bytearray(sentinel_img)))

    index_sig_str = dhash64(decode_image_bgr(special))
    sigs = {
        doc_id: dhash64(decode_image_bgr(bytes(p))) for doc_id, _, _, _, p in rows
    }

    def ham(a: str, b: str) -> int:
        return sum(x != y for x, y in zip(a, b))

    # fixture sanity: planted frames inside the gate radius, everything
    # else outside it and pairwise distinct
    planted_ids = {10, 60 + 30}
    assert all(ham(sigs[d], index_sig_str) <= 3 for d in planted_ids)
    survivors_exp = [d for d in sorted(sigs) if d not in planted_ids]
    assert all(ham(sigs[d], index_sig_str) >= 4 for d in survivors_exp)
    assert len({sigs[d] for d in survivors_exp}) == len(survivors_exp)

    index_sig = spark.createDataFrame(
        [(100_000, index_sig_str)], "doc_id long, sig string"
    )
    frames_static = spark.createDataFrame(
        rows, "doc_id long, stream_id string, frame_id long, ts_ms long, payload binary"
    ).select(
        "doc_id", "stream_id", "frame_id",
        F.timestamp_millis("ts_ms").alias("ts"), "payload",
    )
    frames_static = frames_static.localCheckpoint(eager=True)

    tensor = np.zeros((1, 84, 2), dtype=np.float32)
    tensor[0, :4, 0] = [320, 320, 100, 100]
    tensor[0, 4 + 2, 0] = 0.7
    tensor[0, :4, 1] = [322, 322, 100, 100]
    tensor[0, 4 + 2, 1] = 0.95

    class FakeSession:
        def run(self, _out_names, feeds):
            return [tensor]

    @F.pandas_udf(DETECTIONS_TYPE)
    def detect(blobs: pd.Series) -> pd.Series:
        return OnnxDetector(session=FakeSession()).detect_batch(blobs)

    in_dir = str(tmp_path / "arrivals")
    fact_dir = str(tmp_path / "fact")
    seg_dir = str(tmp_path / "segments")
    ck_root = str(tmp_path / "ck")

    def _write(batch_rows, mode):
        (
            spark.createDataFrame(
                batch_rows,
                "doc_id long, stream_id string, frame_id long, ts_ms long, payload binary",
            )
            .select("doc_id", F.timestamp_millis("ts_ms").alias("ts"), "payload")
            .coalesce(1)
            .write.mode(mode)
            .parquet(in_dir)
        )

    def _start():
        stream = spark.readStream.schema("doc_id long, ts timestamp, payload binary").parquet(in_dir)
        return flagship_job_stream(
            stream,
            index_sig,
            frames_static,
            detect,
            fact_dir,
            seg_dir,
            ck_root,
            min_interval_ms=25_000,
            scene_threshold=0.3,
            segment_ms=SEG_MS,
            watermark="1 minute",
        )

    batch1 = [r for r in rows if r[1] != "sentinel" and r[2] < 30]
    batch2 = [r for r in rows if r[1] == "sentinel" or r[2] >= 30]

    _write(batch1, "overwrite")
    q_fact, q_seg = _start()
    try:
        q_fact.processAllAvailable()
        q_seg.processAllAvailable()
    finally:
        q_fact.stop()
        q_seg.stop()

    # checkpoint restart: batch2 (incl. cam2's planted slot 30 and the
    # watermark sentinel) arrives only after both queries restart
    _write(batch2, "append")
    q_fact, q_seg = _start()
    try:
        q_fact.processAllAvailable()
        q_seg.processAllAvailable()
        # one extra pass lets EventTimeTimeout flush segment tails
        q_fact.processAllAvailable()
        q_seg.processAllAvailable()
    finally:
        q_fact.stop()
        q_seg.stop()

    # ---- batch reference over the same fixture -------------------------
    gated_static = frames_static.where(
        ~F.col("doc_id").isin(*planted_ids) & (F.col("stream_id") != "sentinel")
    )
    batch_keyframes = keyframe_gate_from_bytes(
        gated_static.select(
            "stream_id", "frame_id", "ts", F.col("payload").alias("frame_data")
        ),
        min_interval_ms=25_000,
        scene_threshold=0.3,
        histogram="decoded",
    )
    want_kf = sorted(
        (r["stream_id"], r["frame_id"])
        for r in batch_keyframes.select("stream_id", "frame_id").collect()
    )
    assert want_kf == sorted(
        (sid, fid) for sid in STREAMS for fid in (0, 20, 40)
    )  # fixture sanity: scene cuts exactly at 20/40

    got_fact = [
        r
        for r in spark.read.parquet(fact_dir).collect()
        if r["stream_id"] != "sentinel"
    ]
    got_kf = sorted(
        (r["stream_id"], int(r["detection_time"].timestamp() * 1000) - BASE_MS)
        for r in got_fact
    )
    assert got_kf == sorted((sid, fid * 1000) for sid in STREAMS for fid in (0, 20, 40))
    assert all(
        r["object_class"] == "car" and abs(r["confidence"] - 0.95) < 1e-4
        for r in got_fact
    )

    # -- full 10-column Doris fact parity (VERDICT r14 task 1): the
    #    streaming fact must be column-for-column the batch lane's shape
    #    (a03/a07, DorisSinkBuilder.java:108-121) — frame_id threaded
    #    through the gate re-join, bbox from the detect struct,
    #    constant-empty frame_url — and value-equal to the same
    #    composition run in batch over the same fixture.
    FACT_COLS = [
        "stream_id", "detection_time", "frame_id", "object_class",
        "confidence", "bbox_x1", "bbox_y1", "bbox_x2", "bbox_y2",
        "frame_url",
    ]
    batch_fact_rows = (
        batch_keyframes.select("stream_id", "frame_id", "ts")
        .join(
            gated_static.select(
                "stream_id", "frame_id", F.col("payload").alias("frame_data")
            ),
            ["stream_id", "frame_id"],
        )
        .select(
            "stream_id",
            F.col("ts").alias("detection_time"),
            "frame_id",
            F.explode(detect(F.col("frame_data"))).alias("d"),
        )
        .select(
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
        .collect()
    )

    def fact_key(r):
        return (
            r["stream_id"], r["detection_time"], r["frame_id"],
            r["object_class"], round(r["confidence"], 4),
            round(r["bbox_x1"], 2), round(r["bbox_y1"], 2),
            round(r["bbox_x2"], 2), round(r["bbox_y2"], 2), r["frame_url"],
        )

    got_cols = set(got_fact[0].asDict().keys())
    assert set(FACT_COLS) <= got_cols, got_cols  # all 10 columns present
    assert sorted(fact_key(r) for r in got_fact) == sorted(
        fact_key(r) for r in batch_fact_rows
    )

    want_segs = {
        (r["stream_id"], r["start_time"], r["end_time"], r["frame_count"])
        for r in segment_windows_exact(
            gated_static.select("stream_id", "ts"), duration_ms=SEG_MS
        ).collect()
    }
    got_seg_rows = [
        r
        for r in spark.read.parquet(seg_dir).collect()
        if r["stream_id"] != "sentinel"
    ]
    got_segs = {
        (r["stream_id"], r["start_time"], r["end_time"], r["frame_count"])
        for r in got_seg_rows
    }
    assert got_segs == want_segs

    # -- MinIO object-key layout parity (VERDICT r14 task 6): the keys
    #    the STREAMING side output writes must equal a06's derivation
    #    (`videos/{s}/{yyyyMMdd/HH}/{s}_{startMs}.mp4`,
    #    MinIOVideoSink.java:50-59) applied to the batch segments over
    #    the same fixture.
    want_keys = {
        r["object_key"]
        for r in spark.createDataFrame(
            [(s, t0) for (s, t0, _t1, _n) in want_segs],
            "stream_id string, start_time timestamp",
        )
        .select(
            F.concat(
                F.lit("videos/"), F.col("stream_id"), F.lit("/"),
                F.date_format("start_time", "yyyyMMdd/HH"), F.lit("/"),
                F.col("stream_id"), F.lit("_"),
                F.unix_millis(F.col("start_time")).cast("string"),
                F.lit(".mp4"),
            ).alias("object_key")
        )
        .collect()
    }
    assert {r["object_key"] for r in got_seg_rows} == want_keys


@pytest.mark.slow
def test_flagship_job_from_kafka_json_wire(spark, tmp_path):
    """The flagship graph fed from the reference's ACTUAL Kafka wire
    format: fixture frames serialized by the mock-producer analog
    (sources/kafka.serialize_frames — streamId/frameId/epoch-ms/base64
    JSON, VideoFrame POJO shape), replayed as (value) bytes,
    deserialized by the production deserialize_frames, mapped to the
    flagship's (doc_id, ts, payload) contract, and run through the
    gate-fronted job. Pins the whole wire chain — JSON schema, base64
    round-trip, ms->timestamp — in front of the gate: the planted
    near-copy of the indexed image must be suppressed, keyframes land
    on the scene cuts, and the fact sink equals the batch reference."""
    import itertools

    from video_stream_processing_spark.functions.imagecodec import decode_image_bgr
    from video_stream_processing_spark.operators.detection import (
        DETECTIONS_TYPE,
        OnnxDetector,
    )
    from video_stream_processing_spark.operators.multimodal import dhash64
    from video_stream_processing_spark.sources.kafka import (
        deserialize_frames,
        serialize_frames,
    )
    from video_stream_processing_spark.streaming.pipeline import flagship_job_stream

    N = 40  # one stream, scene cut at 20
    POS = [(r, j) for r in range(6) for j in (1, 3, 5, 7)]
    PAIRS = list(itertools.combinations(range(len(POS)), 2))

    def render(v, raised, bump=8):
        blocks = np.full((8, 9), v, np.int64)
        for r, j in raised:
            blocks[r, j] += bump
        gray = np.repeat(np.repeat(np.clip(blocks, 0, 255).astype(np.uint8), 8, 0), 8, 1)
        return encode_jpeg(np.repeat(gray[:, :, None], 3, axis=2))

    special_raised = [(r, j) for r in (6, 7) for j in (1, 3, 5, 7)]
    special = render(125, special_raised)
    near_special = render(125, special_raised[1:])

    rows = []
    for i in range(N):
        v = 50 if i < 20 else 200
        payload = near_special if i == 10 else render(v, [POS[p] for p in PAIRS[i]])
        rows.append(("cam1", i, BASE_MS + i * 1_000, bytearray(payload)))
    rows.append(("sentinel", 0, BASE_MS + 90_000_000, bytearray(render(125, [(6, 2), (7, 6)]))))

    frames = spark.createDataFrame(
        rows, "stream_id string, frame_id long, ts_ms long, frame_data binary"
    ).select(
        "stream_id", "frame_id", F.timestamp_millis("ts_ms").alias("ts"),
        "frame_data",
        F.col("frame_id").cast("int").alias("frame_sequence"),
        F.struct(
            F.lit(72).alias("width"), F.lit(64).alias("height"),
            F.lit(25).alias("fps"), F.lit("mjpeg").alias("codec"),
        ).alias("metadata"),
    )

    # producer -> wire bytes on disk (the topic stand-in)
    wire_dir = str(tmp_path / "wire")
    serialize_frames(frames).select(
        F.encode("value", "UTF-8").alias("value")
    ).coalesce(1).write.mode("overwrite").parquet(wire_dir)

    doc_id = F.when(F.col("stream_id") == "sentinel", F.lit(999)).otherwise(
        F.col("frame_id")
    )
    frames_static = (
        frames.select(
            doc_id.alias("doc_id"), "stream_id", "frame_id", "ts",
            F.col("frame_data").alias("payload"),
        )
        .localCheckpoint(eager=True)
    )
    index_sig = spark.createDataFrame(
        [(100_000, dhash64(decode_image_bgr(special)))], "doc_id long, sig string"
    )

    tensor = np.zeros((1, 84, 1), dtype=np.float32)
    tensor[0, :4, 0] = [320, 320, 100, 100]
    tensor[0, 4 + 2, 0] = 0.95

    class FakeSession:
        def run(self, _out_names, feeds):
            return [tensor]

    @F.pandas_udf(DETECTIONS_TYPE)
    def detect(blobs: pd.Series) -> pd.Series:
        return OnnxDetector(session=FakeSession()).detect_batch(blobs)

    raw = spark.readStream.schema("value binary").parquet(wire_dir)
    decoded = deserialize_frames(raw)
    stream = decoded.select(
        F.when(F.col("stream_id") == "sentinel", F.lit(999))
        .otherwise(F.col("frame_id"))
        .alias("doc_id"),
        "ts",
        F.col("frame_data").alias("payload"),
    )
    q_fact, q_seg = flagship_job_stream(
        stream, index_sig, frames_static, detect,
        str(tmp_path / "fact"), str(tmp_path / "segments"), str(tmp_path / "ck"),
        min_interval_ms=25_000, scene_threshold=0.3,
        segment_ms=30_000, watermark="1 minute",
    )
    try:
        q_fact.processAllAvailable()
        q_seg.processAllAvailable()
        q_fact.processAllAvailable()
        q_seg.processAllAvailable()
    finally:
        q_fact.stop()
        q_seg.stop()

    got_fact = [
        r for r in spark.read.parquet(str(tmp_path / "fact")).collect()
        if r["stream_id"] != "sentinel"
    ]
    got_kf = sorted(
        int(r["detection_time"].timestamp() * 1000) - BASE_MS for r in got_fact
    )
    # scene cut at 20 only; planted slot 10 suppressed by the gate
    assert got_kf == [0, 20_000]
    assert all(r["object_class"] == "car" for r in got_fact)
    seg_rows = [
        r for r in spark.read.parquet(str(tmp_path / "segments")).collect()
        if r["stream_id"] != "sentinel"
    ]
    # 39 surviving frames (slot 10 gated out): [0..30] closes inclusive
    # (30 arrivals: 31 slots minus the suppressed one), tail [31..39]
    counts = sorted((r["frame_count"]) for r in seg_rows)
    assert sum(counts) == N - 1
    assert len(seg_rows) == 2
