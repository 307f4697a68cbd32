"""Span bookkeeping: nesting, self time, and job attribution by window."""

from __future__ import annotations

import time

from spans import JobRecord, Tracer, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-1, 2), (8, 12)], 0, 10) == 4
    assert union_length([], 0, 10) == 0


def test_spans_nest_under_their_parents():
    tr = Tracer(enabled=True)
    with tr.span("run", "perfbench") as run:
        with tr.span("query", "plans") as q:
            with tr.span("build", "plans") as b:
                pass
            with tr.span("action", "operators") as a:
                pass
        rebuilt = tr.add("batch", "streaming.pipeline", run.start, time.time())
    assert run.parent is None
    assert q.parent == run.id and b.parent == q.id and a.parent == q.id
    assert rebuilt.parent == run.id
    for sp in tr.spans:
        if sp.parent is not None:
            parent = tr.spans[sp.parent]
            assert parent.start <= sp.start and sp.end <= parent.end


def test_self_times_are_non_negative_even_with_overlapping_children():
    tr = Tracer(enabled=True)
    root = tr.add("batch", "streaming.pipeline", 100.0, 110.0)
    # children overlap each other and one runs past its parent's end
    tr.add("a", "streaming.sinks", 100.0, 108.0, root)
    tr.add("b", "streaming.stateful", 104.0, 112.0, root)
    tr.add("c", "sources", 101.0, 102.0, root)
    assert tr.self_time(root) == 0.0
    assert all(tr.self_time(s) >= 0 for s in tr.spans)
    selfs = tr.self_times()
    assert all(v >= 0 for v in selfs.values())
    assert selfs["streaming.sinks"] == 8.0


def test_self_time_is_duration_minus_children():
    tr = Tracer(enabled=True)
    root = tr.add("q", "plans", 0.0, 10.0)
    tr.add("build", "plans", 1.0, 4.0, root)
    tr.add("action", "operators", 5.0, 7.0, root)
    assert tr.self_time(root) == 5.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("run", "perfbench") as sp:
        assert sp is None
    assert tr.add("x", "plans", 0.0, 1.0) is None
    assert tr.spans == []


def test_jobs_attach_to_the_innermost_open_span_by_submission_time():
    tr = Tracer(enabled=True)
    with tr.span("query", "plans") as q:
        with tr.span("build", "plans") as b:
            time.sleep(0.01)
            in_build = time.time()
            time.sleep(0.01)
        time.sleep(0.01)
        in_query = time.time()
        time.sleep(0.01)
    tr.jobs = [JobRecord(1, in_build, None, []), JobRecord(2, in_query, None, [])]
    assert tr.owner(tr.jobs[0]) is b
    assert tr.owner(tr.jobs[1]) is q
    assert [j.job_id for j in tr.jobs_under(q)] == [1, 2]
    assert [j.job_id for j in tr.jobs_under(b)] == [1]
