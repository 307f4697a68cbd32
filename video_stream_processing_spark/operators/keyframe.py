"""Keyframe gate — the reference's stateful filter that decides which
frames are worth running inference on.

Reference: KeyFrameExtractor.isKeyFrame
(/root/reference/src/main/java/com/video/streaming/processor/KeyFrameExtractor.java:53-82):
keep a frame if (a) >= `keyframe.min.interval` ms elapsed since the last
keyframe, or (b) the scene-change signal vs the previous frame exceeds a
threshold. (The reference's histogram signal is a stub — ImageUtils.java:80-84
always returns 0.5 — so we implement the *documented* semantics with the
signal as an explicit column; SURVEY.md §2.6(a).)

Two implementations:

- ``keyframe_gate``: the batch/declarative analog. "Interval since the
  previous frame" via ``lag`` over a per-key window — one shuffle on the
  key, whole-stage-codegen'd predicate, SQL-oracle-checkable. This is the
  form Catalyst can optimize and the one declared queries use.
- ``keyframe_gate_stateful``: exact reference semantics ("interval since
  the last *kept* frame"), which is inherently sequential per key. Batch
  form is a bounded keyed scan through ``mapInPandas``, which measured
  faster than ``mapInArrow`` for this 3-column recurrence (SCALE.md); the
  streaming form lives in streaming/stateful.py. Kept separate because
  the sequential recurrence cannot be expressed with window functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def keyframe_gate(
    frames: DataFrame,
    key_col: str = "stream_id",
    ts_col: str = "ts",
    signal_col: str | None = None,
    min_interval_ms: int = 5000,
    scene_threshold: float = 0.3,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Declarative keyframe gate (lag-based batch analog).

    Keeps a row when it is the first of its key, when at least
    ``min_interval_ms`` passed since the previous row, or when the scene
    signal jumped by more than ``scene_threshold`` vs the previous row.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    prev_ts = F.lag(ts_col).over(w)
    keep = prev_ts.isNull() | (
        F.unix_millis(F.col(ts_col)) - F.unix_millis(prev_ts) >= F.lit(min_interval_ms)
    )
    if signal_col is not None:
        prev_sig = F.lag(signal_col).over(w)
        keep = keep | (F.abs(F.col(signal_col) - prev_sig) > F.lit(scene_threshold))
    return frames.withColumn("__keep", keep).where(F.col("__keep")).drop("__keep")


def keyframe_gate_stateful(
    frames: DataFrame,
    key_col: str = "stream_id",
    ts_col: str = "ts",
    signal_col: str | None = None,
    min_interval_ms: int = 5000,
    scene_threshold: float = 0.3,
) -> DataFrame:
    """Exact reference semantics: interval measured since the last KEPT
    frame (KeyFrameExtractor.java:57-61 updates lastKeyFrameTime only on
    emission). Sequential per key => bounded-memory keyed scan
    (operators/keyed_scan.py): one hash shuffle + external sort, then the
    recurrence streams over Arrow chunks carrying (last_kept_ms,
    prev_signal) per key — a hot key's history never materializes in one
    pandas frame (the 100 TB-safe form; the streaming twin in
    streaming/stateful.py holds the same O(1) state per key)."""
    import pandas as pd

    from video_stream_processing_spark.operators.keyed_scan import keyed_sorted

    sig = signal_col

    def gate_scan(chunks):
        state: dict = {}  # key -> [last_kept_ms, prev_sig]; keys are contiguous
        current_key = None
        for pdf in chunks:
            if len(pdf) == 0:
                continue
            keys = pdf[key_col].tolist()
            ts_ms_arr = (pdf[ts_col].astype("int64") // 1_000_000).tolist()
            sigs = pdf[sig].tolist() if sig else [None] * len(pdf)
            keep_mask = []
            for k, ts_ms, s in zip(keys, ts_ms_arr, sigs):
                if k != current_key:
                    state.pop(current_key, None)  # sorted input: old key is done
                    current_key = k
                last_kept_ms, prev_sig = state.get(k, (None, None))
                keep = False
                if last_kept_ms is None or ts_ms - last_kept_ms >= min_interval_ms:
                    keep = True
                elif (
                    sig is not None
                    and prev_sig is not None
                    and abs(s - prev_sig) > scene_threshold
                ):
                    keep = True
                if keep:
                    last_kept_ms = ts_ms
                state[k] = (last_kept_ms, s)
                keep_mask.append(keep)
            out = pdf[pd.Series(keep_mask, index=pdf.index)]
            if len(out):
                yield out

    return keyed_sorted(frames, key_col, (ts_col,)).mapInPandas(
        gate_scan, schema=frames.schema
    )
