"""Stateful streaming operators — exact reference semantics in
Structured Streaming via ``applyInPandasWithState``.

The module holds the two stateful pieces of the reference's
KeyedProcessFunction (src/main/java/com/video/streaming/function/
VideoProcessFunction.java) and nothing else:

- keyframe gate: per-key (lastKeyFrameTime, previousSignal) state
  (KeyFrameExtractor.java:53-82), intent semantics per key — NOT the
  reference's per-subtask shared state bug (SURVEY.md §2.6(b)); the
  binary-driven variant carries the previous frame's histogram instead
  of its signal;
- segment buffer: first-arrival-aligned, trigger-INCLUSIVE 3-minute
  windows (VideoSegmentBuffer.java:38-105, add-then-check order at
  VideoProcessFunction.java:88-91), with an event-time timeout flushing
  the tail buffer — fixing the reference's tail-data loss (§2.6(g)).

State is (start_ms, count, min_ts, max_ts [, last_kf_ms, prev_signal])
tuples — O(1) per key, NOT the buffered frame list the reference
snapshots; Structured Streaming's state store checkpoints it correctly
by construction (the reference's restore path is dead code, §2.6(d)).

The state functions only unpack state, call the rule kernels the batch
keyed scans call too (segments.py, keyframe.py, scene.py) and store it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SEGMENT_STATE_SCHEMA = "start_ms long, frame_count long, min_ms long, max_ms long"
SEGMENT_OUT_SCHEMA = (
    "stream_id string, start_time timestamp, end_time timestamp, "
    "frame_count int, duration_ms long, closed_by string"
)

KEYFRAME_STATE_SCHEMA = "last_kf_ms long, prev_signal double"
KEYFRAME_OUT_SCHEMA = "stream_id string, ts timestamp, scene_signal double, is_keyframe boolean"


def _with_state(
    frames: DataFrame,
    key_col: str,
    watermark: str | None,
    fn,
    out_schema: str,
    state_schema: str,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """``groupBy(key_col).applyInPandasWithState(fn)`` in append mode, the
    shape every state function here runs in. ``watermark=None`` inherits
    the upstream watermark."""
    if watermark is not None:
        frames = frames.withWatermark("ts", watermark)
    return frames.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def segment_stateful_fn(duration_ms: int = 180_000):
    """Returns the applyInPandasWithState function for exact segments.

    Trigger-inclusive close: the frame that is >= duration past the
    buffer start CLOSES the segment and is counted inside it; the next
    segment starts at the NEXT frame (VideoProcessFunction.java:87-100).
    The state is the open buffer of ``close_segments``, the batch scan's
    rule too. Event-time timeout emits the tail segment when the
    watermark passes."""
    from video_stream_processing_spark.operators.segments import close_segments

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (stream_id,) = key
        if state.hasTimedOut:
            if state.exists:
                _, cnt, mn, mx = state.get
                state.remove()
                yield _segment_rows(stream_id, [(mn, mx, cnt, "timeout")])
            return

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts", kind="mergesort")
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).to_numpy()
        closed, new_buf = close_segments(ts_ms, state.get if state.exists else None, duration_ms)

        if new_buf is not None:
            state.update(new_buf)
            # flush the tail once the watermark passes start+duration
            state.setTimeoutTimestamp(new_buf[0] + duration_ms)
        elif state.exists:
            state.remove()

        if closed:
            yield _segment_rows(stream_id, [(mn, mx, c, "size") for _, _, c, mn, mx in closed])

    return fn


def _segment_rows(stream_id, segs) -> pd.DataFrame:
    """(min_ms, max_ms, count, closed_by) tuples -> SEGMENT_OUT_SCHEMA rows."""
    return pd.DataFrame(
        [
            {
                "stream_id": stream_id,
                "start_time": pd.Timestamp(mn, unit="ms"),
                "end_time": pd.Timestamp(mx, unit="ms"),
                "frame_count": int(cnt),
                "duration_ms": int(mx - mn),
                "closed_by": why,
            }
            for (mn, mx, cnt, why) in segs
        ]
    )


def keyframe_stateful_fn(min_interval_ms: int = 5_000, scene_threshold: float = 0.3):
    """Per-key keyframe gate with true keyed state (the reference's
    INTENT; its implementation shares state across keys per subtask —
    documented deviation, SURVEY.md §2.6(b)).

    Keep a frame iff (a) >= min_interval since last keyframe, or (b)
    |signal - prev_signal| > threshold (scene change). First frame of a
    key is always a keyframe (no previous state). The rules are
    keyframe.py's kernels, shared with the batch gate."""
    from video_stream_processing_spark.operators.keyframe import (
        keep_keyframes,
        signal_scene_changes,
    )

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (stream_id,) = key  # NoTimeout: never called timed out
        last_kf_ms, prev_signal = state.get if state.exists else (None, None)
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts", kind="mergesort")
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).tolist()
        changes, prev_signal = signal_scene_changes(
            rows["scene_signal"].tolist(), prev_signal, scene_threshold
        )
        flags, last_kf_ms = keep_keyframes(ts_ms, changes, last_kf_ms, min_interval_ms)
        state.update((last_kf_ms, float(prev_signal) if prev_signal is not None else None))
        out = rows[["ts", "scene_signal"]].copy()
        out.insert(0, "stream_id", stream_id)
        out["is_keyframe"] = flags
        yield out

    return fn


KEYFRAME_BYTES_STATE_SCHEMA = "last_kf_ms long, prev_hist array<double>"
KEYFRAME_BYTES_OUT_SCHEMA = (
    "stream_id string, ts timestamp, scene_sim double, is_keyframe boolean"
)


def keyframe_bytes_stateful_fn(
    min_interval_ms: int = 5_000,
    scene_threshold: float = 0.3,
    histogram: str = "bytes",
):
    """Binary-driven keyframe gate: per-key state carries the PREVIOUS
    frame's histogram (the reference's ``previousFrame`` field,
    KeyFrameExtractor.java:31,81) plus lastKeyFrameTime. Semantics match
    operators/scene.py (interval rule first; scene rule when similarity
    < 1 - threshold; undecodable frames assume similarity 1.0).
    ``histogram`` mirrors operators/scene.py keyframe_gate_from_bytes:
    'bytes' (raw payload) or 'decoded' (luminance of the decoded image —
    required for entropy-coded wire formats like the reference's JPEG).
    The histogram, scene-rule and keep kernels are scene.py's and
    keyframe.py's, so batch and stream compute bit-identical similarities
    and keeps."""
    import numpy as np
    import pyarrow as pa

    from video_stream_processing_spark.operators.keyframe import keep_keyframes
    from video_stream_processing_spark.operators.scene import (
        _payload_histograms,
        similarity_scene_changes,
    )

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (stream_id,) = key  # NoTimeout: never called timed out
        last_kf_ms, prev_hist = state.get if state.exists else (None, None)
        if prev_hist is not None:
            prev_hist = np.asarray(prev_hist)
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts", kind="mergesort")
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).tolist()
        hists = _payload_histograms(pa.array(rows["frame_data"], pa.binary()), histogram)
        sims, changes, prev_hist, _ = similarity_scene_changes(
            hists, prev_hist, state.exists, scene_threshold
        )
        flags, last_kf_ms = keep_keyframes(ts_ms, changes, last_kf_ms, min_interval_ms)
        state.update((last_kf_ms, None if prev_hist is None else prev_hist.tolist()))
        out = rows[["ts"]].copy()
        out.insert(0, "stream_id", stream_id)
        out["scene_sim"] = pd.Series(sims, index=out.index, dtype="float64")
        out["is_keyframe"] = flags
        yield out

    return fn


def keyframes_from_bytes_stream(
    frames: DataFrame,
    min_interval_ms: int = 5_000,
    scene_threshold: float = 0.3,
    watermark: str | None = "10 minutes",
    histogram: str = "bytes",
) -> DataFrame:
    """Streaming binary-driven gate. Input needs (stream_id, ts,
    frame_data BINARY); emits keyframe flags + the computed similarity.
    ``watermark=None`` inherits the upstream watermark — required when
    this gate is chained AFTER another stateful operator (redefining a
    watermark downstream is disallowed in Spark's multi-stateful
    model; the flagship graph chains it after the near-dup gate)."""
    return _with_state(
        frames, "stream_id", watermark,
        keyframe_bytes_stateful_fn(min_interval_ms, scene_threshold, histogram),
        KEYFRAME_BYTES_OUT_SCHEMA, KEYFRAME_BYTES_STATE_SCHEMA,
    )


def exact_segments_stream(
    frames: DataFrame,
    duration_ms: int = 180_000,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Streaming DataFrame -> exact segments. Input needs (stream_id, ts).
    ``watermark=None`` inherits the upstream watermark (see
    keyframes_from_bytes_stream)."""
    return _with_state(
        frames, "stream_id", watermark, segment_stateful_fn(duration_ms),
        SEGMENT_OUT_SCHEMA, SEGMENT_STATE_SCHEMA, GroupStateTimeout.EventTimeTimeout,
    )


def keyframes_stream(
    frames: DataFrame,
    min_interval_ms: int = 5_000,
    scene_threshold: float = 0.3,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming DataFrame -> keyframe-flagged frames."""
    return _with_state(
        frames, "stream_id", watermark, keyframe_stateful_fn(min_interval_ms, scene_threshold),
        KEYFRAME_OUT_SCHEMA, KEYFRAME_STATE_SCHEMA,
    )
