"""Jobs launched from worker threads must be attributed to the span that
was open when they were submitted (x48 trains in a thread pool, where a
thread-local job group would miss them)."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from spans import Tracer


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = SparkSession.builder.master("local[2]").appName("perfbench-selftest").config(
        "spark.ui.enabled", "false"
    ).getOrCreate()
    yield s
    s.stop()


def test_jobs_from_worker_threads_are_counted(spark):
    def work(n: int) -> int:
        return spark.range(n + 10).count()

    tr = Tracer(enabled=True)
    with tr.span("main thread", "plans") as main:
        assert [work(n) for n in range(3)] == [10, 11, 12]
    with tr.span("x48", "plans") as threaded:
        spark.sparkContext.setJobGroup("main-thread-group", "main")
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [pool.submit(work, n) for n in range(3)]
            assert [f.result(timeout=120) for f in futures] == [10, 11, 12]
    tr.harvest(spark)
    expected = tr.jobs_under(main)
    under = tr.jobs_under(threaded)
    assert expected and len(under) == len(expected)
    assert all(tr.owner(j) is threaded for j in under)
    # the pool's jobs escape the main thread's job group, so a group-based
    # ledger would have counted none of them
    assert not any(j.group == "main-thread-group" for j in under)
    assert all(st.task_s >= 0 for j in under for st in j.stages)
