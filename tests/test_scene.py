"""Scene-change signal from payload bytes: planted scene cuts must drive
the keyframe gate end-to-end from BINARY frames (VERDICT r1 item 3).

Scenes are simulated with distinct byte distributions: frames inside a
scene share a payload pattern (histogram correlation ~1.0), a cut
switches to a disjoint byte range (correlation ~<=0), so the gate's
scene rule (sim < 1 - threshold) fires exactly at the cuts.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

BASE_MS = 1_700_000_000_000


def _scene_payload(scene: int, jitter: int) -> bytes:
    # scene 0 -> bytes 0..63, scene 1 -> bytes 128..191: disjoint ranges,
    # tiny per-frame jitter so payloads aren't literally identical
    lo = 128 * scene
    return bytes((lo + ((i * 7 + jitter) % 64)) for i in range(256))


def _frames(spark, rows):
    return spark.createDataFrame(
        rows, "stream_id string, ts_ms long, frame_data binary"
    ).select("stream_id", F.timestamp_millis("ts_ms").alias("ts"), "frame_data")


@pytest.fixture(scope="module")
def planted_cut_rows():
    # 1 fps, 30 frames: scene 0 for t=0..11, cut at t=12, scene 1 onward.
    return [
        ("cam", BASE_MS + t * 1000, _scene_payload(0 if t < 12 else 1, t))
        for t in range(30)
    ]


def _expected_keyframes(n=30, cut=12, interval_s=5):
    # reference recurrence: interval rule (>= 5 s since last KEPT) first,
    # scene rule at the cut; both reset the interval clock
    kept, last = [], None
    for t in range(n):
        if last is None or t - last >= interval_s:
            kept.append(t)
            last = t
        elif t == cut:  # similarity collapses exactly at the cut
            kept.append(t)
            last = t
    return [BASE_MS + t * 1000 for t in kept]


def test_hist_correlation_math():
    from video_stream_processing_spark.operators.scene import _np_hist_correlation

    cases = [
        ([0.5, 0.5, 0.0, 0.0], [0.5, 0.5, 0.0, 0.0], 1.0),  # identical
        ([0.5, 0.5, 0.0, 0.0], [0.0, 0.0, 0.5, 0.5], -1.0),  # disjoint
        ([0.25, 0.25, 0.25, 0.25], [0.25, 0.25, 0.25, 0.25], 1.0),  # zero var, equal
        ([0.25, 0.25, 0.25, 0.25], [0.5, 0.5, 0.0, 0.0], 0.0),  # zero var, differ
    ]
    for x, y, expect in cases:
        got = _np_hist_correlation(np.array(x), np.array(y))
        assert got == pytest.approx(expect)


def test_keyframe_gate_from_bytes_planted_cuts(spark, planted_cut_rows):
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes

    kept = sorted(
        r["ts"]
        for r in keyframe_gate_from_bytes(_frames(spark, planted_cut_rows)).collect()
    )
    kept_ms = [int(t.timestamp() * 1000) for t in kept]
    assert kept_ms == _expected_keyframes()


def test_gate_undecodable_frames_fall_back_to_interval(spark):
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes

    rows = [("cam", BASE_MS + t * 1000, None) for t in range(12)]
    kept = keyframe_gate_from_bytes(_frames(spark, rows)).collect()
    kept_ms = sorted(int(r["ts"].timestamp() * 1000) for r in kept)
    # similarity is forced to 1.0 -> only the 5 s interval rule fires
    assert kept_ms == [BASE_MS, BASE_MS + 5_000, BASE_MS + 10_000]


def _stream_gate(spark, rows, tmp_path, name, **kw):
    """Run keyframes_from_bytes_stream over ``rows`` to completion and
    return its output rows in ts order."""
    from video_stream_processing_spark.streaming.stateful import (
        keyframes_from_bytes_stream,
    )

    d = str(tmp_path / name)
    _frames(spark, rows).coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(
        "stream_id string, ts timestamp, frame_data binary"
    ).parquet(d)
    q = (
        keyframes_from_bytes_stream(stream, **kw)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name} ORDER BY ts").collect()


def test_with_scene_similarity_values(spark, planted_cut_rows, tmp_path):
    """The bytes gate's per-frame similarity column: undefined on the first
    frame, ~1.0 within a scene, collapsed at the cut."""
    out = _stream_gate(spark, planted_cut_rows, tmp_path, "kf_sims")
    assert "frame_data" not in out[0].asDict()  # binary projected away
    sims = [r["scene_sim"] for r in out]
    assert sims[0] is None  # no predecessor
    within = sims[1:12] + sims[13:]
    assert all(s > 0.9 for s in within)  # same scene: near-perfect correlation
    assert sims[12] < 0.5  # the cut: disjoint byte ranges


def test_streaming_bytes_gate_matches_batch(spark, planted_cut_rows, tmp_path):
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes

    out = _stream_gate(spark, planted_cut_rows, tmp_path, "kf_bytes")
    got = {int(r["ts"].timestamp() * 1000) for r in out if r["is_keyframe"]}
    batch = {
        int(r["ts"].timestamp() * 1000)
        for r in keyframe_gate_from_bytes(_frames(spark, planted_cut_rows)).collect()
    }
    assert got == batch == set(_expected_keyframes())


def test_decoded_gate_on_png_frames(spark, tmp_path):
    """Decoded mode on entropy-coded frames: each PNG's pixels are the
    planted-cut pattern (gray, so luminance == pixel value), but its
    payload bytes are deflate output. The batch and streaming gates must
    both keep exactly the reference recurrence's frames."""
    import pyarrow as pa

    from video_stream_processing_spark.functions.pngcodec import encode_png
    from video_stream_processing_spark.operators.scene import (
        _arrow_byte_histograms,
        _np_hist_correlation,
        keyframe_gate_from_bytes,
    )

    def png(scene, t):
        gray = np.frombuffer(_scene_payload(scene, t), dtype=np.uint8).reshape(16, 16)
        return encode_png(np.repeat(gray[:, :, None], 3, axis=2))

    rows = [("cam", BASE_MS + t * 1000, png(0 if t < 12 else 1, t)) for t in range(30)]
    # raw byte histograms miss this cut, so only decoded mode can keep t=12
    pre, post = _arrow_byte_histograms(pa.array([rows[11][2], rows[12][2]], pa.binary()))
    assert _np_hist_correlation(pre, post) > 0.7
    batch = sorted(
        int(r["ts"].timestamp() * 1000)
        for r in keyframe_gate_from_bytes(
            _frames(spark, rows), histogram="decoded"
        ).collect()
    )
    assert batch == _expected_keyframes()
    out = _stream_gate(spark, rows, tmp_path, "kf_decoded", histogram="decoded")
    assert [int(r["ts"].timestamp() * 1000) for r in out if r["is_keyframe"]] == batch


def test_byte_histogram_normalized():
    import pyarrow as pa

    from video_stream_processing_spark.operators.scene import _arrow_byte_histograms

    h0, h_empty, h_null = _arrow_byte_histograms(
        pa.array([bytes([0, 0, 1, 255]), b"", None], pa.binary())
    )
    assert h_empty is None and h_null is None
    arr = np.asarray(h0)
    assert arr.shape == (256,)
    assert arr[0] == pytest.approx(0.5) and arr[1] == pytest.approx(0.25)
    assert arr[255] == pytest.approx(0.25) and arr.sum() == pytest.approx(1.0)


def test_np_correlation_matches_jvm_hist_correlation():
    """The gates' correlation kernel must agree with numpy's Pearson
    coefficient (an independent implementation) on random normalized
    histograms to well inside the gate's threshold margins, and return
    the OpenCV values on both zero-variance edge cases, where
    ``np.corrcoef`` is undefined."""
    from video_stream_processing_spark.operators.scene import _np_hist_correlation

    rng = np.random.RandomState(42)
    for _ in range(50):
        a = rng.rand(256)
        b = rng.rand(256)
        a, b = a / a.sum(), b / b.sum()
        expect = np.corrcoef(a, b)[0, 1]
        assert _np_hist_correlation(a, b) == pytest.approx(expect, abs=1e-9)
    flat = np.full(256, 0.00390625)  # 1/256: zero variance
    assert _np_hist_correlation(flat, flat) == 1.0
    assert _np_hist_correlation(flat, np.arange(256) / np.arange(256).sum()) == 0.0
