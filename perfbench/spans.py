"""In-memory spans for the traced benchmark run, and the Spark work
attributed to them.

Spans are opened around calls into the engine from the benchmark's own
code; nothing inside the engine is instrumented. Spark jobs are read back
from the driver's status store and attached to the innermost span that
was open when each job was submitted. Attribution is by time window, not
by a thread-local job group, so jobs launched from worker threads (x48's
trainer pool) are counted too.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float  # epoch seconds
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


@dataclass
class StageRecord:
    stage_id: int
    start: float
    end: float
    tasks: int
    failed_tasks: int
    task_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class JobRecord:
    job_id: int
    submitted: float  # epoch seconds
    group: str | None
    stages: list[StageRecord]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


class Tracer:
    """Records spans for one benchmark process. With ``enabled=False``
    every method is a cheap no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.jobs: list[JobRecord] = []
        self._stack: list[Span] = []
        self._seen_jobs: set[int] = set()
        self.harvest_s = 0.0  # time spent reading Spark's status store

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = self.add(name, layer, time.time(), None, **attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add(
        self,
        name: str,
        layer: str,
        start: float,
        end: float | None,
        parent: Span | None = None,
        **attrs,
    ) -> Span | None:
        """Record a span directly, e.g. one rebuilt from a streaming
        progress report. ``parent`` defaults to the innermost open span."""
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        sp = Span(len(self.spans), parent.id if parent else None, name, layer, start, end, attrs)
        self.spans.append(sp)
        return sp

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Duration of ``sp`` minus the part its children cover."""
        kids = [(c.start, c.end or c.start) for c in self.children(sp)]
        return sp.duration - union_length(kids, sp.start, sp.start + sp.duration)

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.layer] = out.get(sp.layer, 0.0) + self.self_time(sp)
        return out

    # -- Spark work ---------------------------------------------------------
    def harvest(self, spark) -> None:
        """Read every job finished since the last harvest from the status
        store. Call it at least once per thousand jobs (the store's
        default retention)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs or not j.completionTime().isDefined():
                continue
            self._seen_jobs.add(jid)
            stages = []
            ids = j.stageIds()
            for k in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(k))
                if not (st.submissionTime().isDefined() and st.completionTime().isDefined()):
                    continue  # skipped: its output was reused
                stages.append(
                    StageRecord(
                        stage_id=st.stageId(),
                        start=st.submissionTime().get().getTime() / 1e3,
                        end=st.completionTime().get().getTime() / 1e3,
                        tasks=st.numTasks(),
                        failed_tasks=st.numFailedTasks(),
                        task_s=st.executorRunTime() / 1e3,
                        cpu_s=st.executorCpuTime() / 1e9,
                        gc_s=st.jvmGcTime() / 1e3,
                        input_bytes=st.inputBytes(),
                        shuffle_read_bytes=st.shuffleReadBytes(),
                        shuffle_write_bytes=st.shuffleWriteBytes(),
                        spill_bytes=st.diskBytesSpilled() + st.memoryBytesSpilled(),
                    )
                )
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            self.jobs.append(
                JobRecord(jid, j.submissionTime().get().getTime() / 1e3, group, stages)
            )
        self.harvest_s += time.perf_counter() - t0

    def owner(self, job: JobRecord, candidates: list[Span] | None = None) -> Span | None:
        """The innermost span open when ``job`` was submitted."""
        best = None
        for sp in self.spans if candidates is None else candidates:
            end = sp.end if sp.end is not None else float("inf")
            if sp.start <= job.submitted < end and (best is None or sp.start >= best.start):
                best = sp
        return best

    def jobs_under(self, sp: Span, group: str | None = None) -> list[JobRecord]:
        """Jobs submitted inside ``sp``'s window (and ``group``, if given)."""
        end = sp.end if sp.end is not None else float("inf")
        return [
            j
            for j in self.jobs
            if sp.start <= j.submitted < end and (group is None or j.group == group)
        ]

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "jobs": [asdict(j) for j in self.jobs],
                    "self_s": self.self_times(),
                    **(extra or {}),
                },
                f,
            )
