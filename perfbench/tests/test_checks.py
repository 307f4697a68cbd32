"""The stream output checks accept the batch result and catch a wrong one."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
from stream import Backlog


@pytest.fixture(scope="module")
def frames(tmp_path_factory):
    backlog = Backlog(str(tmp_path_factory.mktemp("frames")), seed=7, signal_pool=np.arange(0.0, 50.0, 0.25))
    return pa.concat_tables([backlog.frames(i) for i in range(2)]).to_pandas()[
        ["stream_id", "ts", "scene_signal"]
    ]


@pytest.fixture(scope="module")
def cfg():
    from video_stream_processing_spark.config import EngineConfig

    return EngineConfig()


def _write(df: pd.DataFrame, path) -> str:
    pq.write_to_dataset(pa.Table.from_pandas(df, preserve_index=False), str(path), partition_cols=["stream_id"])
    return str(path)


def test_backlog_is_a_pure_function_of_seed_and_index(tmp_path):
    a = Backlog(str(tmp_path / "a"), seed=3, signal_pool=np.arange(10.0))
    b = Backlog(str(tmp_path / "b"), seed=3, signal_pool=np.arange(10.0))
    assert a.frames(4).equals(b.frames(4))
    assert not a.frames(4).equals(a.frames(5))


def test_missing_output_is_reported(frames, cfg, tmp_path):
    problem, rows = checks.check_detections(frames, str(tmp_path / "absent"), cfg)
    assert problem == "no detections were written" and rows == 0
    problem, rows = checks.check_segments(frames, str(tmp_path / "absent"), cfg)
    assert problem == "no segments were written" and rows == 0


def test_segment_check_accepts_closed_segments_and_rejects_a_changed_one(frames, cfg, tmp_path, monkeypatch):
    captured = {}
    real_compare = checks._compare

    def spy(got, want):
        captured["want"] = want
        return real_compare(got, want)

    monkeypatch.setattr(checks, "_compare", spy)
    # an output with one wrong row lets the spy capture the expected rows
    seed_out = pd.DataFrame(
        {"stream_id": ["camera_001"], "start_time": [pd.Timestamp(0)], "end_time": [pd.Timestamp(0)], "frame_count": np.int32([1])}
    )
    assert checks.check_segments(frames, _write(seed_out, tmp_path / "wrong"), cfg)[0]
    want = captured["want"]
    # two clips per camera: each camera's first clip closes on the second's first frame
    assert len(want) == 3 and set(want["stream_id"]) == {"camera_001", "camera_002", "camera_003"}
    assert checks.check_segments(frames, _write(want, tmp_path / "good"), cfg) == (None, 3)
    bad = want.copy()
    bad.loc[bad.index[0], "frame_count"] += 1
    assert checks.check_segments(frames, _write(bad, tmp_path / "bad"), cfg)[0]


def test_detection_check_rejects_a_dropped_row(frames, cfg, tmp_path, monkeypatch):
    captured = {}
    real_compare = checks._compare

    def spy(got, want):
        captured["want"] = want
        return real_compare(got, want)

    monkeypatch.setattr(checks, "_compare", spy)
    one = pd.DataFrame(
        {"stream_id": ["camera_001"], "detection_time": [pd.Timestamp(0)], "object_class": ["person"], "confidence": np.float32([0.5])}
    )
    assert checks.check_detections(frames, _write(one, tmp_path / "wrong"), cfg)[0]
    want = captured["want"]
    assert len(want) > 100
    assert checks.check_detections(frames, _write(want, tmp_path / "good"), cfg) == (None, len(want))
    assert checks.check_detections(frames, _write(want.iloc[1:], tmp_path / "bad"), cfg)[0]
