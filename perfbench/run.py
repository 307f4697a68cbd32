#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload stream_backlog --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):
  stream_backlog  seeded frame backlog through the two-query streaming pipeline
  fact_queries    passes over short relational declared queries
  curation        passes over curation queries that stage while building

Everything runs in this one process on local[<cores>], closed loop with
one client, through the engine's public functions only. Outputs are
checked outside the timed region. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics, and every span is written to
``perfbench/.work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA_DIR, "sf0.1")
WORK_ROOT = os.path.join(HERE, ".work")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "pass_s": "s"}

LAYER_SELF = (
    "plans",
    "operators",
    "session",
    "sources",
    "streaming.pipeline",
    "streaming.sinks",
    "streaming.stateful",
)

PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.failed_tasks": "count",
    "plans.gap_s": "s",
    "operators.task_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "tables.input_mb": "MB",
    "session.staged_rdds": "count",
    "session.staged_mb": "MB",
    "session.release_s": "s",
    "streaming.stateful.update_ms": "ms",
    "streaming.stateful.commit_ms": "ms",
    "streaming.stateful.store_instances": "count",
    "streaming.stateful.state_rows": "count",
    "streaming.stateful.state_mb": "MB",
    "streaming.sinks.files": "count",
    "streaming.sinks.mb": "MB",
    "streaming.sinks.rows": "count",
    "streaming.sinks.bytes_per_row": "B/row",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.plan_ms": "ms",
    "streaming.pipeline.log_ms": "ms",
    "streaming.pipeline.add_batch_ms": "ms",
    "streaming.pipeline.jobs_per_batch": "count",
    "sources.offset_ms": "ms",
    **{f"{layer}.self_s": "s" for layer in LAYER_SELF},
    "trace.harvest_s": "s",
}


class Context:
    """What a workload needs: the session, the tracer, the seeded order
    of work, and where its inputs and scratch files live."""

    def __init__(self, spark, tracer, seed: int, work: str, t_start: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.rng = random.Random(seed)
        self.sf_dir = SF_DIR
        self.work = work
        self.t_start = t_start
        with open(os.path.join(HERE, "fingerprints.json")) as f:
            self.fingerprints = json.load(f)

    def shuffled(self, names: list[str]) -> list[str]:
        names = list(names)
        self.rng.shuffle(names)
        return names

    def staged_since(self, baseline: set[int]) -> tuple[int, int]:
        """(count, bytes) of RDD blocks persisted since ``baseline``."""
        from video_stream_processing_spark.session import snapshot_persistent_ids

        new = snapshot_persistent_ids(self.spark) - baseline
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return len(new), sum(i.memSize() + i.diskSize() for i in infos if i.id() in new)


def make_workload(name: str, ctx: Context):
    from queries import CURATION_QUERIES, FACT_QUERIES

    if name == "stream_backlog":
        from stream import StreamBacklog

        return StreamBacklog(ctx)
    from batch import QueryPasses

    return QueryPasses(ctx, {"fact_queries": FACT_QUERIES, "curation": CURATION_QUERIES}[name])


WORKLOADS = ("stream_backlog", "fact_queries", "curation")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers import the engine from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)
    sys.path[:0] = [REPO, HERE]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def op_spans(tracer) -> list:
    """The spans of measured operations: query executions and micro-batches."""
    return [
        s
        for s in tracer.spans
        if (s.layer == "plans" and s.attrs.get("measured"))
        or (s.layer == "streaming.pipeline" and s.attrs.get("batch", 0) >= 1)
    ]


def layer_self_times(tracer) -> dict[str, float]:
    """Mean self time per measured operation, by layer."""
    ops = op_spans(tracer)
    kids: dict[int, list] = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)
    totals = {layer: 0.0 for layer in LAYER_SELF}
    stack = list(ops)
    while stack:
        s = stack.pop()
        totals[s.layer] = totals.get(s.layer, 0.0) + tracer.self_time(s)
        stack.extend(kids.get(s.id, ()))
    return {f"{k}.self_s": v / max(1, len(ops)) for k, v in totals.items() if k in LAYER_SELF}


def metric_report(values: dict, spec: dict[str, str]) -> dict:
    """``{name: {"value": number, "unit": unit}}`` for every metric in
    ``spec``; a metric the run did not produce is an error, not a null."""
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in spec.items()}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    # A termination signal unwinds through the finally blocks below, so
    # the streaming queries, the session and its JVM are still stopped.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isfile(os.path.join(REPO, "video_stream_processing_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {REPO}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(SF_DIR, "events.parquet")):
        print(f"perfbench: input tables not found under {SF_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)

    # Anything the engine prints goes to stderr; stdout carries the result.
    stdout, sys.stdout = sys.stdout, sys.stderr
    from spans import Tracer

    from video_stream_processing_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("run", "perfbench"):
            # One shuffle partition per core, as get_spark intends; its
            # default of 32 is sized for local[32].
            cores = len(os.sched_getaffinity(0))
            spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
            spark.sparkContext.setLogLevel("ERROR")
            ctx = Context(spark, tracer, args.seed, work, t_start)
            with tracer.span(args.workload, "perfbench"):
                workload = make_workload(args.workload, ctx)
                e2e = workload.run(args.seconds)
        for failure in workload.failures:
            print(f"perfbench: FAILED {failure}", file=sys.stderr)
        if args.trace:
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(workload.layer_metrics())
            metrics.update(layer_self_times(tracer))
            metrics["trace.harvest_s"] = tracer.harvest_s
            report = metric_report(metrics, PER_LAYER)
            write_trace(args, tracer, e2e, report)
        else:
            report = metric_report(e2e, END_TO_END)
            save_untraced(args, e2e)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)
        sys.stdout = stdout
    result = {
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": report,
    }
    print(json.dumps(result))
    return 0


def save_untraced(args, e2e: dict) -> None:
    """Keep the latest untraced numbers so a traced run can report its
    own overhead against them."""
    d = os.path.join(WORK_ROOT, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}.json"), "w") as f:
        json.dump({"seed": args.seed, "seconds": args.seconds, **e2e}, f)


def write_trace(args, tracer, e2e: dict, report: dict) -> None:
    overhead = None
    path = os.path.join(WORK_ROOT, "results", f"{args.workload}.json")
    if os.path.exists(path):
        with open(path) as f:
            base = json.load(f)
        overhead = {k: e2e[k] - base[k] for k in END_TO_END}
        overhead["untraced_seed"] = base["seed"]
        print(f"perfbench: tracing overhead (traced - untraced): {overhead}", file=sys.stderr)
    d = os.path.join(WORK_ROOT, "traces")
    os.makedirs(d, exist_ok=True)
    tracer.dump(
        os.path.join(d, f"{args.workload}-seed{args.seed}.json"),
        {"traced_end_to_end": e2e, "tracing_overhead": overhead, "metrics": report},
    )


if __name__ == "__main__":
    sys.exit(main())
