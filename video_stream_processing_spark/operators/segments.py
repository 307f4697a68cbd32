"""Segment windows — the reference's per-key 3-minute frame buffering that
emits one VideoSegment per window (VideoSegmentBuffer.java:38-105, driven
by VideoProcessFunction.java:87-100; duration default 180000 ms,
application.properties:34).

Two semantics (SURVEY.md §2.6(c)):

- ``segment_windows_aligned``: idiomatic Spark — epoch-aligned tumbling
  windows via ``F.window``; a pure groupBy aggregation with map-side
  partial aggregation, oracle-checkable. This is the declared-query form
  and the scalable default (no per-key sequential state).
- ``segment_windows_exact``: first-arrival-aligned and trigger-inclusive
  like the reference — window start = first buffered frame's ts; a frame
  arriving >= duration after the start CLOSES the window and is included
  in it. Sequential per key => a bounded keyed scan (mapInPandas) whose
  close rule, ``close_segments``, the stream state function calls too.
"""

from __future__ import annotations

import numpy as np
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


def close_segments(
    ts_ms: np.ndarray, open_buf: tuple | None, duration_ms: int
) -> tuple[list, tuple | None]:
    """The reference's buffer close (add-then-check, trigger-inclusive,
    VideoProcessFunction.java:87-100) over one key's run of sorted epoch-ms
    ``ts_ms``, carrying the open buffer ``(start_ms, count, min_ms,
    max_ms)`` or None. The first row with ``ts - start_ms >= duration_ms``
    closes the buffer and is counted in it; the next row opens a new one.
    Rows earlier than a carried start (late stream rows) join the buffer.

    Returns ``(closed, open_buf)``; ``closed`` holds ``(lo, hi, count,
    min_ms, max_ms)`` per segment: rows ``lo..hi`` of the run, ``lo = -1``
    when the carried buffer closed. A returned buffer with ``count <= n``
    opened in this run at row ``n - count``."""
    n = len(ts_ms)
    closed = []
    i = 0
    if open_buf is not None:
        start_ms, cnt, mn, mx = open_buf
        mn = min(mn, int(ts_ms[0]))
        j = int(np.searchsorted(ts_ms, start_ms + duration_ms, side="left"))
        if j == n:  # still open: absorb the whole run
            return closed, (start_ms, cnt + n, mn, max(mx, int(ts_ms[-1])))
        closed.append((-1, j, cnt + j + 1, mn, max(mx, int(ts_ms[j]))))
        i = j + 1
    while i < n:
        j = int(np.searchsorted(ts_ms, ts_ms[i] + duration_ms, side="left"))
        if j == n:
            return closed, (int(ts_ms[i]), n - i, int(ts_ms[i]), int(ts_ms[-1]))
        closed.append((i, j, j - i + 1, int(ts_ms[i]), int(ts_ms[j])))
        i = j + 1
    return closed, None


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
    (operators/keyed_scan.py): hash shuffle + external sort, then
    ``close_segments`` per key run of each Arrow chunk, carrying the
    current key's open buffer plus its first and last timestamps — a hot
    key's history never materializes in one pandas frame.
    O(n_segments log chunk) per chunk.
    """
    import pandas as pd

    from video_stream_processing_spark.operators.keyed_scan import key_runs, keyed_sorted

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
        # the current key's open buffer (close_segments' state) plus the
        # full-precision ts of its first and last rows; keys are
        # contiguous after the sort, so one buffer outlives each chunk
        key, buf, first_ts, last_ts = None, None, None, None
        for pdf in chunks:
            rows: list[tuple] = []
            ts_all = pdf[ts_col].to_numpy()
            ms_all = (pdf[ts_col].astype("int64") // 1_000_000).to_numpy()
            for k, lo, hi in key_runs(pdf[key_col].to_numpy()):
                if k != key:  # sorted input: flush the old key's tail
                    if buf is not None:
                        rows.append((key, first_ts, last_ts, buf[1], buf[3] - buf[2]))
                    key, buf = k, None
                ts_vals, ts_ms = ts_all[lo:hi], ms_all[lo:hi]
                closed, new_buf = close_segments(ts_ms, buf, duration_ms)
                for a, b, cnt, mn, mx in closed:
                    rows.append((k, ts_vals[a] if a >= 0 else first_ts, ts_vals[b], cnt, mx - mn))
                if new_buf is not None and new_buf[1] <= len(ts_ms):  # opened here
                    first_ts = ts_vals[len(ts_ms) - new_buf[1]]
                buf, last_ts = new_buf, ts_vals[-1]
            if rows:
                yield _frame(rows)
        if buf is not None:
            yield _frame([(key, first_ts, last_ts, buf[1], buf[3] - buf[2])])

    return keyed_sorted(frames, key_col, (ts_col,)).mapInPandas(
        segment_scan, schema=out_schema
    )
