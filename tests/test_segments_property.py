"""Property-based tests for the exact segment recurrence (SURVEY.md §5.2):
the searchsorted skip-scan ``segments.close_segments`` — the one close
rule the batch scan and the stream state function both call — must agree
with a naive row-at-a-time model of the reference's buffer
(VideoSegmentBuffer add-then-check, trigger-inclusive) on arbitrary
timestamp sequences, whole or cut into stream micro-batches with state
carried between them — and every frame lands in exactly one segment."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

DUR = 180_000


def naive_segments(ts_sorted: list[int], duration_ms: int = DUR) -> list[tuple[int, int, int]]:
    """Row-at-a-time reference model (mirrors VideoProcessFunction.java:87-100)."""
    out = []
    start = None
    buf = []
    for t in ts_sorted:
        if start is None:
            start, buf = t, [t]
            continue
        buf.append(t)
        if t - start >= duration_ms:
            out.append((min(buf), max(buf), len(buf)))
            start, buf = None, []
    if buf:
        out.append((min(buf), max(buf), len(buf)))
    return out


ts_lists = st.lists(
    st.integers(min_value=0, max_value=2_000_000), min_size=0, max_size=60
).map(sorted)


def _segments_from_kernel(ts: list[int]) -> list[tuple[int, int, int]]:
    """One run through close_segments, the open buffer flushed as the tail."""
    import numpy as np

    from video_stream_processing_spark.operators.segments import close_segments

    closed, buf = close_segments(np.asarray(ts, dtype=np.int64), None, DUR)
    got = [(mn, mx, cnt) for _, _, cnt, mn, mx in closed]
    if buf is not None:
        got.append((buf[2], buf[3], buf[1]))
    return got


@settings(max_examples=300, deadline=None)
@given(ts_lists)
def test_skip_scan_matches_naive_model(ts):
    assert _segments_from_kernel(list(ts)) == naive_segments(list(ts))


def stream_buffer_model(batches: list[list[int]], duration_ms: int = DUR):
    """Row-at-a-time model of the stream state function's buffer: each
    micro-batch is sorted, then every row is added and checked in turn
    (add-then-check against the FIRST-ARRIVED start, min/max tracked),
    the open buffer carried across batches. Returns the closed
    (min, max, count) segments and the final open buffer."""
    out = []
    start = cnt = mn = mx = None
    for batch in batches:
        for t in sorted(batch):
            if start is None:
                start, cnt, mn, mx = t, 1, t, t
                continue
            cnt, mn, mx = cnt + 1, min(mn, t), max(mx, t)
            if t - start >= duration_ms:
                out.append((mn, mx, cnt))
                start = cnt = mn = mx = None
    return out, (None if start is None else (start, cnt, mn, mx))


# Micro-batches of arbitrary sizes whose timestamps may run earlier than
# the buffer start carried in from a previous batch (late rows the stream
# accepts within its watermark).
batch_lists = st.lists(
    st.lists(st.integers(min_value=0, max_value=1_500_000), min_size=1, max_size=25),
    min_size=1,
    max_size=8,
)


@settings(max_examples=500, deadline=None)
@given(batch_lists)
def test_close_segments_carried_across_batches_matches_stream_model(batches):
    import numpy as np

    from video_stream_processing_spark.operators.segments import close_segments

    got, buf = [], None
    for batch in batches:
        ts = np.asarray(sorted(batch), dtype=np.int64)
        closed, new_buf = close_segments(ts, buf, DUR)
        for lo, hi, cnt, mn, mx in closed:
            # positions and count agree with the carried buffer's size
            carried = buf[1] if lo < 0 else 0
            assert cnt == carried + hi - max(lo, 0) + 1
            got.append((mn, mx, cnt))
        if new_buf is not None and new_buf[1] <= len(ts):  # opened in this batch
            assert new_buf[0] == ts[len(ts) - new_buf[1]]
        buf = new_buf
    assert (got, buf) == stream_buffer_model(batches)


@settings(max_examples=300, deadline=None)
@given(ts_lists)
def test_every_frame_in_exactly_one_segment(ts):
    segs = naive_segments(list(ts))
    assert sum(c for _, _, c in segs) == len(ts)
    # segments are disjoint and ordered
    for (s1, e1, _), (s2, e2, _) in zip(segs, segs[1:]):
        assert e1 <= s2


@pytest.mark.parametrize(
    "ts,expect",
    [
        ([], []),
        ([5], [(5, 5, 1)]),
        ([0, DUR], [(0, DUR, 2)]),  # trigger-inclusive close
        ([0, DUR - 1], [(0, DUR - 1, 2)]),  # tail flush, no trigger
        ([0, DUR, DUR + 1], [(0, DUR, 2), (DUR + 1, DUR + 1, 1)]),
    ],
)
def test_edge_cases(ts, expect):
    assert naive_segments(ts) == expect


def test_spark_operator_agrees_with_model(spark):
    from pyspark.sql import functions as F

    from video_stream_processing_spark.operators.segments import segment_windows_exact

    ts = [0, 1_000, 179_999, 180_000, 180_001, 500_000, 900_001]
    df = spark.createDataFrame([("s", t) for t in ts], "stream_id string, ts_ms long").select(
        "stream_id", F.timestamp_millis("ts_ms").alias("ts")
    )
    got = sorted(
        (int(r["start_time"].timestamp() * 1000), int(r["end_time"].timestamp() * 1000), r["frame_count"])
        for r in segment_windows_exact(df, duration_ms=DUR).collect()
    )
    assert got == naive_segments(ts)
