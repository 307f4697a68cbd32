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

The exact rule's kernels, ``signal_scene_changes`` and ``keep_keyframes``,
are shared by the batch scans and streaming/stateful.py's state functions.
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


def keep_keyframes(
    ts_ms: list, scene_changes: list, last_kept_ms: int | None, min_interval_ms: int
) -> tuple[list, int | None]:
    """KeyFrameExtractor.isKeyFrame's keep rule (:53-82) over one key's
    rows in time order: keep the key's first frame, a frame
    ``min_interval_ms`` past the last KEPT one, or a scene change.
    ``last_kept_ms`` advances only on a keep (:57-61)."""
    flags = []
    for t, change in zip(ts_ms, scene_changes):
        keep = bool(last_kept_ms is None or t - last_kept_ms >= min_interval_ms or change)
        if keep:
            last_kept_ms = t
        flags.append(keep)
    return flags, last_kept_ms


def signal_scene_changes(
    signals: list, prev_signal: float | None, threshold: float
) -> tuple[list, float | None]:
    """Scene rule on a signal column: a change iff a previous frame exists
    and ``|signal - previous| > threshold``. The previous signal advances
    on EVERY row (:81), so the flags need no keep decisions."""
    changes = []
    for s in signals:
        changes.append(prev_signal is not None and abs(s - prev_signal) > threshold)
        prev_signal = s
    return changes, prev_signal


def keyframe_gate_stateful(
    frames: DataFrame,
    key_col: str = "stream_id",
    ts_col: str = "ts",
    signal_col: str = "scene_signal",
    min_interval_ms: int = 5000,
    scene_threshold: float = 0.3,
) -> DataFrame:
    """Exact reference semantics: interval measured since the last KEPT
    frame (KeyFrameExtractor.java:57-61 updates lastKeyFrameTime only on
    emission). Sequential per key => bounded-memory keyed scan
    (operators/keyed_scan.py): one hash shuffle + external sort, then the
    recurrence streams over Arrow chunks carrying (last_kept_ms,
    prev_signal) for the current key — a hot key's history never
    materializes in one pandas frame (the 100 TB-safe form; the streaming
    twin in streaming/stateful.py holds the same O(1) state per key and
    calls the same kernels)."""
    from video_stream_processing_spark.operators.keyed_scan import key_runs, keyed_sorted

    def gate_scan(chunks):
        key, last_kept_ms, prev_sig = None, None, None  # keys are contiguous
        for pdf in chunks:
            if len(pdf) == 0:
                continue
            ts_ms = (pdf[ts_col].astype("int64") // 1_000_000).tolist()
            sigs = pdf[signal_col].tolist()
            keep_mask = []
            for k, lo, hi in key_runs(pdf[key_col].to_numpy()):
                if k != key:  # sorted input: the old key is done
                    key, last_kept_ms, prev_sig = k, None, None
                changes, prev_sig = signal_scene_changes(sigs[lo:hi], prev_sig, scene_threshold)
                flags, last_kept_ms = keep_keyframes(
                    ts_ms[lo:hi], changes, last_kept_ms, min_interval_ms
                )
                keep_mask += flags
            out = pdf[keep_mask]
            if len(out):
                yield out

    return keyed_sorted(frames, key_col, (ts_col,)).mapInPandas(
        gate_scan, schema=frames.schema
    )
