"""Output checks for the stream workload: each streaming query's committed
output must equal the batch result over exactly the frames it consumed.

The batch result is computed here, in the driver, without Spark: the
per-camera keyframe recurrence and the exact segment windows are replayed
in Python over the frames in timestamp order, and inference uses the
engine's own stub-detector and NMS kernels (the bodies of the pipeline's
UDFs), with the pipeline's embedding expression replayed in numpy. A
batch run flushes every camera's open tail segment; the stream holds it
until the next clip closes it, so open tails are not expected.

Each check returns ``(problem, rows)``: ``problem`` is ``None`` when the
outputs match, and ``rows`` is how many rows the stream wrote.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from fingerprint import fingerprint

FACT_COLS = ["stream_id", "detection_time", "object_class", "confidence"]
SEGMENT_COLS = ["stream_id", "start_time", "end_time", "frame_count"]


def read_output(path: str, cols: list[str]) -> pd.DataFrame | None:
    """A sink's committed rows (Spark's ``_``/``.`` files are skipped), or
    ``None`` if nothing was written."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return None
    data = ds.dataset(path, format="parquet", partitioning="hive")
    if not data.files:
        return None
    return data.to_table(columns=cols).to_pandas()


def _by_camera(frames: pd.DataFrame):
    frames = frames.sort_values(["stream_id", "ts"], kind="mergesort")
    for sid, g in frames.groupby("stream_id", sort=True):
        yield sid, g


def _compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    g, w = fingerprint(got), fingerprint(want)
    return None if g == w else f"stream {g} != batch {w}"


def check_detections(frames: pd.DataFrame, fact_dir: str, cfg):
    from video_stream_processing_spark.operators.detection import StubDetector, nms_py

    kept = []
    for _, g in _by_camera(frames):
        last_kf, prev = None, None
        for row in g.itertuples(index=False):
            t = row.ts.value // 1_000_000
            keep = last_kf is None or t - last_kf >= cfg.keyframe_min_interval_ms
            keep = keep or (prev is not None and abs(row.scene_signal - prev) > cfg.scene_change_threshold)
            if keep:
                last_kf = t
                kept.append(row)
            prev = row.scene_signal
    kept = pd.DataFrame(kept, columns=frames.columns)
    # ((scene_signal + i) % 7 - 3) cast to float, / 3.0, for i in 0..15
    sig = kept["scene_signal"].to_numpy()[:, None] + np.arange(16)
    emb = (np.fmod(sig, 7.0) - 3.0).astype(np.float32).astype(np.float64) / 3.0
    dets = StubDetector(cfg.confidence_threshold).detect_batch(pd.Series(list(emb)))
    rows = [
        (sid, ts, d["object_class"], d["confidence"])
        for sid, ts, ds_ in zip(kept["stream_id"], kept["ts"], dets)
        for d in nms_py(ds_, cfg.nms_iou_threshold)
    ]
    want = pd.DataFrame(rows, columns=FACT_COLS)
    want["confidence"] = want["confidence"].astype(np.float32)
    got = read_output(fact_dir, FACT_COLS)
    if got is None:
        return ("no detections were written" if len(want) else None), 0
    return _compare(got, want), len(got)


def check_segments(frames: pd.DataFrame, segments_dir: str, cfg):
    rows = []
    for sid, g in _by_camera(frames):
        start = None
        for ts in g["ts"]:
            t = ts.value // 1_000_000
            if start is None:
                start, first, count = t, ts, 1
                continue
            count += 1
            if t - start >= cfg.segment_duration_ms:
                rows.append((sid, first, ts, count))
                start = None
    want = pd.DataFrame(rows, columns=SEGMENT_COLS)
    want["frame_count"] = want["frame_count"].astype(np.int32)
    got = read_output(segments_dir, SEGMENT_COLS)
    if got is None:
        return ("no segments were written" if len(want) else None), 0
    return _compare(got, want), len(got)
