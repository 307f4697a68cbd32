"""Bounded-memory per-key sequential scans.

``groupBy(key).applyInPandas`` materializes EACH GROUP as one pandas
DataFrame — at 100 TB a hot stream (months of frames on one key) OOMs the
task. The scalable shape for per-key sequential recurrences is:

    repartition(key)                  # one hash shuffle, same as groupBy
      .sortWithinPartitions(key, ts)  # external sort, spills to disk
      .mapInPandas(scan_fn)           # or mapInArrow: bounded Arrow chunks

``mapInPandas``/``mapInArrow`` stream each partition's rows IN ORDER as a
sequence of bounded Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch, default 10k rows), so the
scan carries one (key, state) pair across chunks, never a key's whole
history. Keys are contiguous after the sort, so the state resets as soon
as the key changes.

This module hosts the one shared shuffle + sort (``keyed_sorted``) and
the run splitter (``key_runs``). The recurrence bodies are per-key
kernels that the streaming state functions (streaming/stateful.py) call
too: ``keyframe.keep_keyframes`` / ``signal_scene_changes``,
``scene.similarity_scene_changes`` and ``segments.close_segments``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame


def _scan_partitions(frames: DataFrame) -> int:
    """Partition count for the keyed exchange feeding a Python scan.

    ``repartition(key)`` without a count is a REPARTITION_BY_COL
    exchange, which AQE coalesces BY BYTES — and the scan body's cost is
    per-row Python/Arrow compute, not bytes, so byte-based coalescing
    serializes it (r15 profile: a10's gate ran 5.6 s of Python on 2
    tasks because 2.4 MB of frames "fit" in 2 partitions). An explicit
    count pins the exchange (REPARTITION_BY_NUM is exempt from AQE
    coalescing); the value stays the session's shuffle-partition conf,
    so a cluster still sizes it centrally. Platforms that set the conf
    to a non-numeric value (e.g. 'auto') fall back to the scheduler's
    default parallelism (r15 ADVICE)."""
    try:
        return int(frames.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        return frames.sparkSession.sparkContext.defaultParallelism


def keyed_sorted(
    frames: DataFrame,
    key_col: str,
    order_cols: tuple[str, ...],
) -> DataFrame:
    """Hash-partition on ``key_col`` and sort each partition by
    (key, *order_cols), ready for ``.mapInPandas(scan_fn, schema)`` or
    ``.mapInArrow(scan_fn, schema)``.

    ``scan_fn`` must tolerate a key spanning multiple consecutive chunks
    (carry state) and multiple keys inside one chunk (keys arrive
    contiguously in sorted order)."""
    return frames.repartition(_scan_partitions(frames), key_col).sortWithinPartitions(
        key_col, *order_cols
    )


def key_runs(keys) -> Iterator[tuple]:
    """Yield ``(key, lo, hi)`` for each contiguous run ``keys[lo:hi]`` of
    one key, in order — one chunk of a ``keyed_sorted`` scan."""
    keys = np.asarray(keys, dtype=object)
    bounds = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1).tolist(), len(keys)]
    for lo, hi in zip(bounds, bounds[1:]):
        if hi > lo:
            yield keys[lo], lo, hi
