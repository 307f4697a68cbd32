"""Segment windows — the reference's per-key 3-minute frame buffering that
emits one VideoSegment per window (VideoSegmentBuffer.java:38-105, driven
by VideoProcessFunction.java:87-100; duration default 180000 ms,
application.properties:34).

Two semantics (SURVEY.md §2.6(c)):

- ``segment_windows_aligned``: idiomatic Spark — epoch-aligned tumbling
  windows via ``F.window``; a pure groupBy aggregation with map-side
  partial aggregation, oracle-checkable. This is the declared-query form
  and the scalable default (no per-key sequential state).
- ``segment_windows_exact`` (operators/segments_exact.py semantics inside
  streaming/stateful.py for the stream case): first-arrival-aligned and
  trigger-inclusive like the reference — window start = first buffered
  frame's ts; a frame arriving >= duration after the start CLOSES the
  window and is included in it. Sequential per key => applyInPandas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SEGMENT_MS = 180_000  # video.segment.duration (application.properties:34)


def segment_windows_aligned(
    frames: DataFrame,
    key_col: str = "stream_id",
    ts_col: str = "ts",
    duration_ms: int = DEFAULT_SEGMENT_MS,
    size_col: str | None = None,
) -> DataFrame:
    """Epoch-aligned tumbling-window segment aggregation.

    Emits the VideoSegment shape (SURVEY.md §1.4 `segments`): start/end of
    observed frames, frame_count, duration, and (if ``size_col`` given)
    the byte size the ffmpeg stage would consume.
    """
    win = F.window(F.col(ts_col), f"{duration_ms // 1000} seconds")
    aggs = [
        F.count(F.lit(1)).alias("frame_count"),
        F.min(ts_col).alias("start_time"),
        F.max(ts_col).alias("end_time"),
        (F.unix_millis(F.max(ts_col)) - F.unix_millis(F.min(ts_col))).alias("duration_ms"),
    ]
    out_cols = ["frame_count", "start_time", "end_time", "duration_ms"]
    if size_col is not None:
        aggs.append(F.sum(size_col).cast("long").alias("file_size"))
        out_cols.append("file_size")
    return (
        frames.groupBy(F.col(key_col), win.alias("w"))
        .agg(*aggs)
        .select(F.col(key_col), F.col("w.start").alias("window_start"), *out_cols)
    )


def segment_windows_exact(
    frames: DataFrame,
    key_col: str = "stream_id",
    ts_col: str = "ts",
    duration_ms: int = DEFAULT_SEGMENT_MS,
) -> DataFrame:
    """Exact reference semantics, batch form.

    Window start = first frame's payload ts; a frame with
    ts - start >= duration closes the segment and is INCLUDED in it
    (add-then-check, VideoProcessFunction.java:88-91); the next segment
    starts at the next frame. The final partial buffer IS emitted here
    (batch flushes the tail; the reference's streaming job loses it —
    SURVEY.md §2.6(g), documented deviation).

    Sequential recurrence per key => bounded-memory keyed scan
    (operators/keyed_scan.py): hash shuffle + external sort, then a
    searchsorted skip-scan per Arrow chunk carrying O(1) state
    (start, count, last-seen) per open buffer — a hot key's history never
    materializes in one pandas frame. O(n_segments log chunk) per chunk.
    """
    import numpy as np
    import pandas as pd

    from video_stream_processing_spark.operators.keyed_scan import keyed_sorted

    out_schema = (
        f"{key_col} string, start_time timestamp, end_time timestamp, "
        "frame_count int, duration_ms long"
    )
    out_cols = [key_col, "start_time", "end_time", "frame_count", "duration_ms"]

    def _frame(rows: list[tuple]) -> pd.DataFrame:
        return pd.DataFrame(rows, columns=out_cols).astype(
            {"frame_count": "int32", "duration_ms": "int64"}
        )

    def segment_scan(chunks):
        # key -> [start_ms, start_ts, cnt, last_ms, last_ts] for the open
        # tail buffer; keys are contiguous after the sort, so at most one
        # open buffer outlives each chunk boundary per task.
        state: dict = {}
        current_key = None

        def flush(k) -> tuple | None:
            st = state.pop(k, None)
            if st is None:
                return None
            start_ms, start_ts, cnt, last_ms, last_ts = st
            return (k, start_ts, last_ts, cnt, last_ms - start_ms)

        for pdf in chunks:
            if len(pdf) == 0:
                continue
            rows: list[tuple] = []
            for k, grp in pdf.groupby(key_col, sort=False):
                if k != current_key:
                    if current_key is not None:
                        tail = flush(current_key)
                        if tail is not None:
                            rows.append(tail)
                    current_key = k
                ts_vals = grp[ts_col].to_numpy()
                ts_ms = (grp[ts_col].astype("int64") // 1_000_000).to_numpy()
                n = len(ts_ms)
                i = 0
                if k in state:
                    start_ms, start_ts, cnt, _, _ = state[k]
                    j = int(np.searchsorted(ts_ms, start_ms + duration_ms, side="left"))
                    if j < n:  # carried buffer closes inside this chunk
                        rows.append(
                            (k, start_ts, ts_vals[j], cnt + j + 1, int(ts_ms[j]) - start_ms)
                        )
                        del state[k]
                        i = j + 1
                    else:  # still open: absorb the whole chunk
                        state[k] = (start_ms, start_ts, cnt + n, int(ts_ms[-1]), ts_vals[-1])
                        continue
                while i < n:
                    j = int(np.searchsorted(ts_ms, ts_ms[i] + duration_ms, side="left"))
                    if j < n:
                        rows.append(
                            (k, ts_vals[i], ts_vals[j], j - i + 1, int(ts_ms[j] - ts_ms[i]))
                        )
                        i = j + 1
                    else:
                        state[k] = (
                            int(ts_ms[i]),
                            ts_vals[i],
                            n - i,
                            int(ts_ms[-1]),
                            ts_vals[-1],
                        )
                        break
            if rows:
                yield _frame(rows)
        tails = [flush(k) for k in list(state)]
        tails = [t for t in tails if t is not None]
        if tails:
            yield _frame(tails)

    return keyed_sorted(frames, key_col, (ts_col,)).mapInPandas(
        segment_scan, schema=out_schema
    )
