"""Property-based tests for the exact keyframe rule: ``keep_keyframes``
with either scene kernel (``signal_scene_changes`` on a signal column,
``similarity_scene_changes`` on histograms) — the kernels the batch keyed
scans and the streaming state functions all call — must agree with a
row-at-a-time model of KeyFrameExtractor.isKeyFrame (:53-82), over the
whole sequence and when it is split at any point with the state carried
across the split (a chunk boundary or a micro-batch boundary)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from video_stream_processing_spark.operators.keyframe import (
    keep_keyframes,
    signal_scene_changes,
)
from video_stream_processing_spark.operators.scene import (
    _np_hist_correlation,
    similarity_scene_changes,
)

INTERVAL = 5_000
THRESHOLD = 0.3

# sorted frame times with repeats and gaps around the interval
ts_lists = st.lists(st.integers(min_value=0, max_value=60_000), min_size=1, max_size=40).map(
    sorted
)


def is_keyframe_model(ts, scene_change_at):
    """Row-at-a-time isKeyFrame: keep on the first frame, when the interval
    since the last KEPT frame passed, or on a scene change; lastKeyFrameTime
    moves only on a keep."""
    flags, last = [], None
    for i, t in enumerate(ts):
        keep = last is None or t - last >= INTERVAL or scene_change_at(i)
        if keep:
            last = t
        flags.append(keep)
    return flags


def _signal_kernels(ts, signals, split):
    flags, last, prev = [], None, None
    for lo, hi in ((0, split), (split, len(ts))):
        changes, prev = signal_scene_changes(signals[lo:hi], prev, THRESHOLD)
        part, last = keep_keyframes(ts[lo:hi], changes, last, INTERVAL)
        flags += part
    return flags


@settings(max_examples=400, deadline=None)
@given(st.data())
def test_signal_rule_matches_is_keyframe_model(data):
    ts = data.draw(ts_lists)
    signals = data.draw(
        st.lists(st.floats(0.0, 1.0), min_size=len(ts), max_size=len(ts))
    )
    split = data.draw(st.integers(0, len(ts)))
    expect = is_keyframe_model(
        ts, lambda i: i > 0 and abs(signals[i] - signals[i - 1]) > THRESHOLD
    )
    assert _signal_kernels(ts, signals, len(ts)) == expect
    assert _signal_kernels(ts, signals, split) == expect


# 8-bin histograms; None is a decode failure
hist_or_none = st.one_of(
    st.none(),
    st.lists(st.integers(0, 4), min_size=8, max_size=8).map(
        lambda c: np.asarray(c, dtype=np.float64) / 8.0
    ),
)


def _similarity_model(hists):
    """Similarity to the previous frame: None for the first frame, 1.0 when
    either side failed to decode, else HISTCMP_CORREL."""
    sims = [None]
    for prev, h in zip(hists, hists[1:]):
        sims.append(1.0 if h is None or prev is None else _np_hist_correlation(h, prev))
    return sims[: len(hists)]


def _similarity_kernels(ts, hists, split):
    sims, flags, last, prev, has_prev = [], [], None, None, False
    for lo, hi in ((0, split), (split, len(ts))):
        part_sims, changes, prev, has_prev = similarity_scene_changes(
            hists[lo:hi], prev, has_prev, THRESHOLD
        )
        part, last = keep_keyframes(ts[lo:hi], changes, last, INTERVAL)
        sims += part_sims
        flags += part
    return sims, flags


@settings(max_examples=400, deadline=None)
@given(st.data())
def test_similarity_rule_matches_is_keyframe_model(data):
    ts = data.draw(ts_lists)
    hists = data.draw(st.lists(hist_or_none, min_size=len(ts), max_size=len(ts)))
    split = data.draw(st.integers(0, len(ts)))
    sims = _similarity_model(hists)
    expect = (
        sims,
        is_keyframe_model(ts, lambda i: sims[i] is not None and sims[i] < 1.0 - THRESHOLD),
    )
    assert _similarity_kernels(ts, hists, len(ts)) == expect
    assert _similarity_kernels(ts, hists, split) == expect
