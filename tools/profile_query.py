#!/usr/bin/env python
"""Per-query stage-level profiler (optimization guide §1 "measure first").

Runs one or more declared queries at the given SF after one warm-up
execution at the same SF, executes each through the noop sink under its
own job group, and reports per-stage wall/CPU/shuffle metrics read from
Spark's status store (the Spark UI stays disabled) — the empirical
half of the optimization loop (which stage is slow, and is it compute,
shuffle read, or scheduling).

Usage: python tools/profile_query.py [sf_dir] name [name...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from video_stream_processing_spark.plans.registry import query_map
from video_stream_processing_spark.session import (
    get_spark,
    release_since,
    snapshot_persistent_ids,
)


def _run(spark, fn, sf_dir: str) -> None:
    base = snapshot_persistent_ids(spark)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    release_since(spark, base)


def profile(spark, name: str, sf_dir: str) -> tuple[float, int, list[tuple]]:
    """(wall seconds, job count, one row per stage) for one profiled
    execution of ``name``; a row is (wall_s, stage_id, tasks, run_s,
    cpu_s, shuffle_read_bytes, shuffle_write_bytes, input_bytes, name),
    slowest first."""
    fn = query_map()[name]
    sc = spark.sparkContext
    _run(spark, fn, sf_dir)  # warm-up
    sc._jvm.java.lang.System.gc()
    group = f"profile:{name}:{time.time_ns()}"
    sc.setJobGroup(group, f"profile:{name}")
    t0 = time.perf_counter()
    try:
        _run(spark, fn, sf_dir)
    finally:
        wall = time.perf_counter() - t0
        sc._jsc.clearJobGroup()
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    n_jobs = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobGroup().isDefined() and j.jobGroup().get() == group:
            n_jobs += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
    rows = []
    for sid in sorted(stage_ids):
        s = store.lastStageAttempt(sid)
        dur = 0.0
        if s.firstTaskLaunchedTime().isDefined() and s.completionTime().isDefined():
            dur = (s.completionTime().get().getTime() - s.firstTaskLaunchedTime().get().getTime()) / 1e3
        rows.append(
            (
                dur,
                sid,
                s.numCompleteTasks(),
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
                s.shuffleReadBytes(),
                s.shuffleWriteBytes(),
                s.inputBytes(),
                (s.name() or "")[:60],
            )
        )
    rows.sort(reverse=True)
    return wall, n_jobs, rows


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        wall, n_jobs, rows = profile(spark, n, sf_dir)
        print(f"\n=== {n}: wall {wall:.3f}s, {n_jobs} jobs, {len(rows)} stages ===")
        print(f"{'wall_s':>7} {'stage':>5} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} {'shR_kb':>8} {'shW_kb':>8} {'in_kb':>8}  name")
        for dur, sid, nt, run, cpu, shr, shw, inp, name in rows[:18]:
            print(
                f"{dur:7.3f} {sid:5d} {nt:5d} {run:7.2f} {cpu:7.2f} {shr / 1024:8.0f} {shw / 1024:8.0f} {inp / 1024:8.0f}  {name}"
            )
        tot_sched = sum(r[0] for r in rows)
        print(f"stage-wall sum {tot_sched:.3f}s (overlap possible); wall {wall:.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
