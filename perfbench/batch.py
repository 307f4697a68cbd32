"""Batch workloads: closed-loop passes over declared queries.

One client runs the queries of a pass one after another, in an order the
seed shuffles anew for every pass. An execution is the query's plan build
(which includes any eager staging) plus one action that brings the rows
to the driver; the staged blocks it left are then released. Results are
checked against stored oracle fingerprints after each pass, outside the
timed region.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from fingerprint import fingerprint


class QueryPasses:
    def __init__(self, ctx, names: tuple[str, ...]):
        from video_stream_processing_spark.plans.registry import query_map

        self.ctx = ctx
        qmap = query_map()
        self.queries = {n: qmap[n] for n in names}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_s: list[float] = []
        self.pass_s: list[float] = []
        self.executions: list[dict] = []  # traced: one record per measured execution

    def _execute(self, name: str, measured: bool):
        """Build + action + release of one query. Returns the seconds of
        build + action, the seconds including release, and the rows; or
        None when the query raised."""
        from video_stream_processing_spark.session import release_since, snapshot_persistent_ids

        ctx, tracer, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        self.attempted += 1
        # Collect the previous execution's garbage before the clock starts,
        # so each execution pays for its own heap.
        spark.sparkContext._jvm.System.gc()
        with tracer.span(name, "plans", measured=measured) as q_span:
            baseline = snapshot_persistent_ids(spark)
            try:
                t0 = time.perf_counter()
                with tracer.span("build", "plans") as b_span:
                    df = self.queries[name](spark, ctx.sf_dir)
                with tracer.span("action", "operators"):
                    pdf = df.toPandas()
                op_s = time.perf_counter() - t0
            except Exception:
                self.failed += 1
                self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                release_since(spark, baseline)
                return None
            staged = ctx.staged_since(baseline) if tracer.enabled else (0, 0)
            with tracer.span("release", "session") as r_span:
                release_since(spark, baseline)
            total_s = time.perf_counter() - t0
        if tracer.enabled and measured:
            self.executions.append(
                {"span": q_span, "build": b_span, "release": r_span, "staged": staged}
            )
        return op_s, total_s, pdf

    def _check(self, name: str, pdf) -> None:
        with self.ctx.tracer.span(f"check {name}", "oracle"):
            want = self.ctx.fingerprints[os.path.basename(self.ctx.sf_dir)][name]
            got = fingerprint(pdf)
            if (got["rows"], got["sha256"]) != (want["rows"], want["sha256"]):
                self.failed += 1
                self.failures.append(f"{name}: result {got} != oracle {want}")

    def run_pass(self, measured: bool) -> None:
        order = self.ctx.shuffled(list(self.queries))
        results = []
        with self.ctx.tracer.span("pass", "perfbench", measured=measured):
            for name in order:
                out = self._execute(name, measured)
                if out is not None:
                    results.append((name, out))
        for name, (op, total, _) in results:
            print(f"perfbench: {name} {op:.3f} s, {total:.3f} s with release", file=sys.stderr)
        if measured:
            self.pass_s.append(sum(total for _, (_, total, _) in results))
            self.op_s.extend(op for _, (op, _, _) in results)
        for name, (_, _, pdf) in results:
            self._check(name, pdf)
        self.ctx.tracer.harvest(self.ctx.spark)

    def run(self, seconds: float) -> dict:
        """Two warm-up passes (part of set-up), then measured passes: at
        least one, and more until ``seconds`` have elapsed. Returns the
        end-to-end metrics. One warm-up pass is not enough: x02's second
        execution in a process still runs 20–40 % slower than its third."""
        for _ in range(2):
            self.run_pass(measured=False)
        setup_s = time.perf_counter() - self.ctx.t_start
        t0 = time.perf_counter()
        while not self.pass_s or time.perf_counter() - t0 < seconds:
            self.run_pass(measured=True)
        return {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(self.op_s),
            "pass_s": statistics.median(self.pass_s),
        }

    def layer_metrics(self) -> dict:
        """Per-execution means of the per-layer counters (traced run)."""
        tracer = self.ctx.tracer
        rows = []
        for ex in self.executions:
            q = ex["span"]
            jobs = tracer.jobs_under(q)
            stages = [st for j in jobs for st in j.stages]
            rows.append(
                {
                    "plans.build_s": ex["build"].duration,
                    "plans.build_jobs": len(tracer.jobs_under(ex["build"])),
                    **stage_totals(q, jobs, stages),
                    "session.staged_rdds": ex["staged"][0],
                    "session.staged_mb": ex["staged"][1] / 1e6,
                    "session.release_s": ex["release"].duration,
                }
            )
        return {k: statistics.fmean(r[k] for r in rows) for k in rows[0]} if rows else {}


def stage_totals(span, jobs, stages) -> dict:
    """Job/stage/task counters and stage metrics for the work done inside
    ``span``; ``plans.gap_s`` is the span's wall time outside any stage."""
    from spans import union_length

    end = span.start + span.duration
    return {
        "plans.jobs": len(jobs),
        "plans.stages": len(stages),
        "plans.tasks": sum(st.tasks for st in stages),
        "plans.failed_tasks": sum(st.failed_tasks for st in stages),
        "plans.gap_s": span.duration - union_length([(st.start, st.end) for st in stages], span.start, end),
        "operators.task_s": sum(st.task_s for st in stages),
        "operators.cpu_s": sum(st.cpu_s for st in stages),
        "operators.gc_s": sum(st.gc_s for st in stages),
        "operators.shuffle_read_mb": sum(st.shuffle_read_bytes for st in stages) / 1e6,
        "operators.shuffle_write_mb": sum(st.shuffle_write_bytes for st in stages) / 1e6,
        "operators.spill_mb": sum(st.spill_bytes for st in stages) / 1e6,
        "tables.input_mb": sum(st.input_bytes for st in stages) / 1e6,
    }
