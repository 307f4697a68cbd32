"""Bounded-memory keyed scans: a hot key whose history spans MANY Arrow
chunks must produce byte-identical results to single-chunk processing.

VERDICT r1 flagged the batch fidelity twins (keyframe_gate_stateful,
segment_windows_exact) for materializing one key's entire history in a
single pandas frame; they now stream bounded chunks
(operators/keyed_scan.py). These tests pin chunk-boundary state carry
with a deliberately tiny maxRecordsPerBatch against a hot key.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

N_HOT = 200_000  # one key, 200k frames, 1 s cadence
BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def hot_key_frames(spark):
    # ts = epoch + i seconds; scene signal ramps 0..0.99 then jumps to 0
    # every 100 rows (a >0.3 delta at each rollover crossing chunk bounds)
    return spark.range(N_HOT).select(
        F.lit("hot").alias("stream_id"),
        F.timestamp_millis(F.col("id") * 1000).alias("ts"),
        ((F.col("id") % 100) / 100.0).alias("scene_signal"),
    )


def _with_batch_size(spark, n_rows):
    spark.conf.set(BATCH, str(n_rows))


def test_segment_windows_exact_hot_key_chunk_invariance(spark, hot_key_frames):
    from video_stream_processing_spark.operators.segments import segment_windows_exact

    old = spark.conf.get(BATCH, "10000")
    try:
        _with_batch_size(spark, 7_777)  # ~26 chunks; segments straddle bounds
        chunked = sorted(map(tuple, segment_windows_exact(hot_key_frames).collect()))
        _with_batch_size(spark, N_HOT + 1)  # single chunk = unchunked reference
        single = sorted(map(tuple, segment_windows_exact(hot_key_frames).collect()))
    finally:
        spark.conf.set(BATCH, old)
    assert chunked == single
    # 1 s cadence, 180 s windows, trigger-inclusive: 181 frames per closed
    # segment starting every 181 rows; the remainder flushes as the tail
    n_full, tail = divmod(N_HOT, 181)
    assert len(chunked) == n_full + (1 if tail else 0)
    counts = [r[3] for r in chunked]
    assert counts.count(181) == n_full
    if tail:
        assert sorted(counts)[0] == tail


def test_keyframe_gate_stateful_hot_key_chunk_invariance(spark, hot_key_frames):
    from video_stream_processing_spark.operators.keyframe import keyframe_gate_stateful

    old = spark.conf.get(BATCH, "10000")
    try:
        _with_batch_size(spark, 7_777)
        chunked = sorted(
            map(
                tuple,
                keyframe_gate_stateful(
                    hot_key_frames, signal_col="scene_signal"
                ).collect(),
            )
        )
        _with_batch_size(spark, N_HOT + 1)
        single = sorted(
            map(
                tuple,
                keyframe_gate_stateful(
                    hot_key_frames, signal_col="scene_signal"
                ).collect(),
            )
        )
    finally:
        spark.conf.set(BATCH, old)
    assert chunked == single
    # 1 s cadence: interval rule alone keeps every 5th second; signal
    # rollover (0.99 -> 0.0) adds scene keyframes between interval picks
    assert len(chunked) >= N_HOT // 5


def test_fused_bytes_gate_multi_key_chunk_invariance(spark):
    """The one bytes gate (mapInArrow) gives the same keeps in 611-row
    chunks as in a single chunk, with three keys interleaved in every
    chunk (key changes inside a chunk) and NULL payloads
    (decode-failure semantics) carried across chunk boundaries."""
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes

    n = 20_000
    frames = spark.range(n).select(
        F.concat(F.lit("cam_"), (F.col("id") % 3).cast("string")).alias("stream_id"),
        F.timestamp_millis((F.col("id") / 3).cast("long") * 1000).alias("ts"),
        F.when(F.col("id") % 50 == 13, F.lit(None).cast("binary"))
        .otherwise(
            F.encode(
                F.repeat(
                    F.concat(
                        F.lit("s"), ((F.col("id") / 97).cast("long") % 7).cast("string")
                    ),
                    40,
                ),
                "UTF-8",
            )
        )
        .alias("frame_data"),
    )
    old = spark.conf.get(BATCH, "10000")
    try:
        _with_batch_size(spark, 611)
        chunked = sorted(map(tuple, keyframe_gate_from_bytes(frames).collect()))
        _with_batch_size(spark, n + 1)
        single = sorted(map(tuple, keyframe_gate_from_bytes(frames).collect()))
    finally:
        spark.conf.set(BATCH, old)
    assert chunked == single
    assert len(chunked) >= n // 5


def test_keyed_scans_multiple_keys_cross_chunk(spark):
    """Key changes inside a chunk AND chunk boundaries inside a key."""
    from video_stream_processing_spark.operators.segments import segment_windows_exact

    frames = spark.range(3 * 1000).select(
        F.concat(F.lit("cam_"), (F.col("id") % 3).cast("string")).alias("stream_id"),
        F.timestamp_millis((F.col("id") / 3).cast("long") * 1000).alias("ts"),
    )
    old = spark.conf.get(BATCH, "10000")
    try:
        _with_batch_size(spark, 97)
        chunked = sorted(map(tuple, segment_windows_exact(frames).collect()))
        _with_batch_size(spark, 10_000)
        single = sorted(map(tuple, segment_windows_exact(frames).collect()))
    finally:
        spark.conf.set(BATCH, old)
    assert chunked == single
    assert {r[0] for r in chunked} == {"cam_0", "cam_1", "cam_2"}


def test_fused_bytes_gate_hot_key_chunk_invariance(spark):
    """The round-6 FUSED gate (histogram + correlation + recurrence in
    one mapInArrow) carries (prev_hist, last_kept_ms) across Arrow
    chunk boundaries: a hot key spanning many chunks must produce
    byte-identical keeps to single-chunk processing, including scene
    cuts planted exactly at chunk edges."""
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes

    n = 20_000
    # payload flips content every 97 rows (coprime with the 611-row chunk
    # size -> cuts land at every offset relative to chunk bounds)
    frames = spark.range(n).select(
        F.lit("hot").alias("stream_id"),
        F.timestamp_millis(F.col("id") * 1000).alias("ts"),
        F.encode(
            F.repeat(F.concat(F.lit("s"), ((F.col("id") / 97).cast("long") % 7).cast("string")), 40),
            "UTF-8",
        ).alias("frame_data"),
    )
    old = spark.conf.get(BATCH, "10000")
    try:
        _with_batch_size(spark, 611)
        chunked = sorted(map(tuple, keyframe_gate_from_bytes(frames).collect()))
        _with_batch_size(spark, n + 1)
        single = sorted(map(tuple, keyframe_gate_from_bytes(frames).collect()))
    finally:
        spark.conf.set(BATCH, old)
    assert chunked == single
    # interval rule keeps every 5th second at minimum; content flips add
    # scene keeps between interval picks
    assert len(chunked) >= n // 5


@pytest.mark.parametrize(
    "name, boundary",
    [
        ("a08_segment_windows_exact", "MapInPandas"),
        ("a09_keyframe_gate_exact", "MapInPandas"),
        ("a10_keyframes_from_bytes", "MapInArrow"),
    ],
)
def test_keyed_scan_python_boundary(spark, sf_dir, name, boundary):
    """Each recurrence has one batch form, on the Python boundary that
    measured faster for it (SCALE.md): pandas for the primitive-column
    scans, Arrow for the binary-payload gate. Explain only; each plan
    keeps its one keyed Exchange."""
    from video_stream_processing_spark.plans.registry import query_map

    qe = query_map()[name](spark, sf_dir)._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    other = "MapInArrow" if boundary == "MapInPandas" else "MapInPandas"
    assert f"{boundary} (" in plan and f"{other} (" not in plan
    assert plan.count("Exchange (") == 1
