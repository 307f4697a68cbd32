"""Stream workload: drain a seeded frame backlog through the production
two-query pipeline (detections fact + segments) at trigger 0, one file
per micro-batch.

Each backlog file holds 2,000 frames of the reference's shape from three
cameras at 25 fps: a 26.7 s clip per camera, clips 200 s apart, so the
first frame of every file closes one 3-minute segment per camera. The
seed picks which camera each frame belongs to and samples the scene
signal from the bundled sf0.1 ``events.value``. Files are written ahead
of the queries so both always have a backlog.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from datetime import datetime, timezone

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

FRAMES_PER_FILE = 2_000
STREAMS = 3
FRAME_MS = 40  # 25 fps per camera
CLIP_PERIOD_MS = 200_000
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
FILES_AHEAD = 3


class Backlog:
    """Writes backlog file ``i`` from ``(seed, i)`` alone, so the same seed
    always gives the same frames whatever order files are made in."""

    def __init__(self, directory: str, seed: int, signal_pool: np.ndarray):
        self.dir = directory
        self.seed = seed
        self.pool = signal_pool
        self.written = 0
        self.t0 = time.time()
        os.makedirs(os.path.join(directory, ".staging"), exist_ok=True)

    def frames(self, i: int):
        import pyarrow as pa

        rng = np.random.default_rng([self.seed, i])
        stream = rng.integers(0, STREAMS, FRAMES_PER_FILE)
        seq = np.zeros(FRAMES_PER_FILE, dtype=np.int64)
        for s in range(STREAMS):
            mask = stream == s
            seq[mask] = np.arange(mask.sum())
        ts_ms = BASE_MS + i * CLIP_PERIOD_MS + seq * FRAME_MS
        sizes = rng.integers(64, 513, FRAMES_PER_FILE)
        blob = rng.bytes(int(sizes.sum()))
        offsets = np.concatenate([[0], np.cumsum(sizes)])
        return pa.table(
            {
                "stream_id": pa.array([f"camera_{s + 1:03d}" for s in stream]),
                "frame_id": pa.array(i * FRAMES_PER_FILE + np.arange(FRAMES_PER_FILE), pa.int64()),
                "ts": pa.array(ts_ms.astype("datetime64[ms]")),
                "scene_signal": pa.array(rng.choice(self.pool, FRAMES_PER_FILE)),
                "frame_data": pa.array(
                    [blob[offsets[k] : offsets[k + 1]] for k in range(FRAMES_PER_FILE)], pa.binary()
                ),
            }
        )

    def path(self, i: int) -> str:
        return os.path.join(self.dir, f"frames-{i:06d}.parquet")

    def fill(self, upto: int) -> None:
        """Make files ``0 .. upto-1`` visible. Each lands by rename, so the
        file source never lists a half-written file, with a modification
        time one second after its predecessor's, which fixes the order in
        which the source takes them."""
        import pyarrow.parquet as pq

        while self.written < upto:
            i = self.written
            tmp = os.path.join(self.dir, ".staging", f"{i}.parquet")
            pq.write_table(self.frames(i), tmp)
            os.utime(tmp, (self.t0 + i, self.t0 + i))
            os.rename(tmp, self.path(i))
            self.written += 1


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _end(progress) -> float:
    """Epoch seconds at which the reported micro-batch finished."""
    return _epoch(progress.timestamp) + progress.durationMs["triggerExecution"] / 1e3


class ProgressLog(StreamingQueryListener):
    """Collects every query's progress reports as Spark posts them."""

    def __init__(self):
        self.cond = threading.Condition()
        self.reports: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self.cond:
            self.reports.setdefault(str(event.progress.id), []).append(event.progress)
            self.cond.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.cond:
            self.cond.notify_all()


# Spark's micro-batch phases in the order MicroBatchExecution runs them,
# each with the layer that owns it.
PHASES = (
    ("latestOffset", "sources"),
    ("walCommit", "streaming.pipeline"),
    ("getBatch", "sources"),
    ("queryPlanning", "streaming.pipeline"),
    ("addBatch", "streaming.sinks"),
    ("commitOffsets", "streaming.pipeline"),
)


class StreamBacklog:
    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.work = os.path.join(ctx.work, "stream")
        import pyarrow.parquet as pq

        pool = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"), columns=["value"])
        self.backlog = Backlog(
            os.path.join(self.work, "frames"), ctx.seed, pool.column("value").to_numpy()
        )
        self.backlog.fill(FILES_AHEAD)
        self.queries = {}
        self.progress: dict[str, list] = {}
        self.batch_spans: dict[str, list] = {}
        self.rows_out: dict[str, int] = {}

    def _start(self) -> None:
        from video_stream_processing_spark.config import EngineConfig
        from video_stream_processing_spark.streaming.pipeline import (
            FRAME_SCHEMA,
            detection_query,
            segment_query,
        )

        cfg = EngineConfig()
        spark, w = self.ctx.spark, self.work
        frames = (
            spark.readStream.schema(FRAME_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.backlog.dir)
        )
        self.queries["detections"] = detection_query(
            frames,
            os.path.join(w, "fact"),
            os.path.join(w, "ck-fact"),
            min_interval_ms=cfg.keyframe_min_interval_ms,
            scene_threshold=cfg.scene_change_threshold,
            trigger_seconds=0,
            watermark=cfg.watermark,
            confidence_threshold=cfg.confidence_threshold,
            nms_iou_threshold=cfg.nms_iou_threshold,
        )
        self.queries["segments"] = segment_query(
            frames,
            os.path.join(w, "segments"),
            os.path.join(w, "ck-seg"),
            duration_ms=cfg.segment_duration_ms,
            trigger_seconds=0,
            watermark=cfg.watermark,
        )

    def _reports(self, name: str) -> list:
        """Progress reports of the query's committed data batches."""
        reports = self.log.reports.get(str(self.queries[name].id), [])
        return [p for p in reports if p.numInputRows > 0]

    def _wait(self, done) -> None:
        """Keep the backlog ahead of the queries until ``done()`` holds.
        ``done`` runs with the progress log locked and returns the queries
        to stop, or ``None`` to keep waiting."""
        while True:
            with self.log.cond:
                to_stop = done()
                if to_stop is None:
                    self.log.cond.wait(timeout=0.25)
                lead = max(len(self._reports(n)) for n in self.queries)
            if to_stop is not None:
                for q in to_stop:
                    q.stop()
                return
            for q in self.queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"streaming query failed: {q.exception()}")
            self.backlog.fill(lead + FILES_AHEAD)

    def run(self, seconds: float) -> dict:
        """Set-up is session start to the end of the first micro-batch of
        both queries. Then each query runs until it completes a batch that
        ends at least ``seconds`` later, and is stopped right after it."""
        tracer = self.ctx.tracer
        spark = self.ctx.spark
        self.log = ProgressLog()
        spark.streams.addListener(self.log)
        try:
            with tracer.span("stream", "streaming.pipeline"):
                self._start()
                self._wait(lambda: [] if all(self._reports(n) for n in self.queries) else None)
                setup_s = time.perf_counter() - self.ctx.t_start
                deadline = time.time() + seconds
                stopped: set[str] = set()

                def done():
                    ready = []
                    for name, q in self.queries.items():
                        reports = self._reports(name)
                        if name not in stopped and len(reports) >= 2 and _end(reports[-1]) >= deadline:
                            stopped.add(name)
                            ready.append(q)
                    if ready or len(stopped) == len(self.queries):
                        return ready
                    return None

                while len(stopped) < len(self.queries):
                    self._wait(done)
        finally:
            for q in self.queries.values():
                q.stop()
            spark.streams.removeListener(self.log)
            self._quiesce()
        for name, q in self.queries.items():
            self.progress[name] = [p for p in q.recentProgress if p.numInputRows > 0]
            self.attempted += len(self.progress[name])
        self._check()
        tracer.harvest(spark)
        if tracer.enabled:
            self._rebuild_spans()

        # Both queries read every file; the job drains one file in the time
        # its slower query takes per batch.
        per_query = [[p.durationMs["triggerExecution"] / 1e3 for p in ps[1:]] for ps in self.progress.values()]
        return {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(d for ds in per_query for d in ds),
            "pass_s": max(statistics.median(ds) for ds in per_query),
        }

    def _quiesce(self, settle_s: float = 0.5, limit_s: float = 30.0) -> None:
        """Cancel the write of the micro-batch that ``stop()`` interrupted.

        ``stop()`` can land after a batch's foreachBatch function has begun
        but before it submits its write; that write then runs on after the
        query is gone. Jobs are cancelled until none has been active for
        ``settle_s``, so the sinks hold what committed batches wrote, plus
        at most the interrupted batch if its write finished first."""
        tracker = self.ctx.spark.sparkContext.statusTracker()
        quiet_since = start = time.monotonic()
        while time.monotonic() - quiet_since < settle_s and time.monotonic() - start < limit_s:
            if tracker.getActiveJobsIds():
                self.ctx.spark.sparkContext.cancelAllJobs()
                quiet_since = time.monotonic()
            time.sleep(0.05)

    # -- correctness -----------------------------------------------------
    def _frames(self, n: int):
        """The frames of backlog files ``0 .. n-1``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = ["stream_id", "ts", "scene_signal"]
        return pa.concat_tables(
            [pq.read_table(self.backlog.path(i), columns=cols) for i in range(n)]
        ).to_pandas()

    def _check(self) -> None:
        """The stream's outputs must equal the batch result over exactly
        the frames its committed batches consumed, or over those plus the
        next file when the batch that ``stop()`` interrupted had already
        written (the sinks are at-least-once; see ``_quiesce``)."""
        import checks
        from video_stream_processing_spark.config import EngineConfig

        with self.ctx.tracer.span("check", "oracle"):
            for name, fn, sub in (
                ("detections", checks.check_detections, "fact"),
                ("segments", checks.check_segments, "segments"),
            ):
                self.attempted += 1
                for p in self.progress[name]:
                    if p.numInputRows != FRAMES_PER_FILE:
                        self.failed += 1
                        self.failures.append(f"{name} batch {p.batchId} read {p.numInputRows} rows")
                n = len(self.progress[name])
                out_dir = os.path.join(self.work, sub)
                problem, self.rows_out[name] = fn(self._frames(n), out_dir, EngineConfig())
                if problem and n < self.backlog.written:
                    if fn(self._frames(n + 1), out_dir, EngineConfig())[0] is None:
                        problem = None
                if problem:
                    self.failed += 1
                    self.failures.append(f"{name}: {problem}")

    # -- tracing -----------------------------------------------------------
    def _rebuild_spans(self) -> None:
        """One span per micro-batch, from its progress report, with a child
        per phase so the children cover the batch. The stateful operator
        runs inside addBatch's stages; its share of addBatch is its share
        of the batch's task time."""
        tracer = self.ctx.tracer
        root = next(s for s in tracer.spans if s.name == "stream")
        for name, q in self.queries.items():
            run_id = str(q.runId)
            spans = []
            for p in self.progress[name]:
                start = _epoch(p.timestamp)
                total = p.durationMs["triggerExecution"] / 1e3
                b = tracer.add(
                    f"{name} batch {p.batchId}", "streaming.pipeline", start, start + total, root,
                    batch=p.batchId,
                )
                jobs = tracer.jobs_under(b, group=run_id)
                cursor = start
                for phase, layer in PHASES:
                    dt = p.durationMs.get(phase, 0) / 1e3
                    child = tracer.add(phase, layer, cursor, cursor + dt, b)
                    if phase == "addBatch":
                        task_s = sum(st.task_s for j in jobs for st in j.stages)
                        state_s = sum(
                            (op.allUpdatesTimeMs + op.allRemovalsTimeMs + op.commitTimeMs) / 1e3
                            for op in p.stateOperators
                        )
                        share = min(1.0, state_s / task_s) if task_s else 0.0
                        tracer.add("state", "streaming.stateful", cursor, cursor + share * dt, child)
                    cursor += dt
                tracer.add("other", "streaming.pipeline", cursor, start + total, b)
                spans.append((b, p, jobs))
            self.batch_spans[name] = spans

    def layer_metrics(self) -> dict:
        """Per-micro-batch medians over the measured batches of both queries,
        plus the state and sink sizes at the end of the run."""
        from batch import stage_totals

        rows = []
        for spans in self.batch_spans.values():
            for b, p, jobs in spans:
                if p.batchId < 1:
                    continue
                d = p.durationMs
                ops = p.stateOperators
                rows.append(
                    {
                        **stage_totals(b, jobs, [st for j in jobs for st in j.stages]),
                        "streaming.pipeline.plan_ms": d.get("queryPlanning", 0),
                        "streaming.pipeline.log_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                        "streaming.pipeline.add_batch_ms": d.get("addBatch", 0),
                        "sources.offset_ms": d.get("latestOffset", 0) + d.get("getBatch", 0),
                        "streaming.stateful.update_ms": sum(o.allUpdatesTimeMs for o in ops),
                        "streaming.stateful.commit_ms": sum(o.commitTimeMs for o in ops),
                    }
                )
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        out["streaming.pipeline.jobs_per_batch"] = out["plans.jobs"]
        out["streaming.pipeline.batches"] = len(rows)
        last = [ps[-1] for ps in self.progress.values()]
        out["streaming.stateful.store_instances"] = sum(
            o.numStateStoreInstances for p in last for o in p.stateOperators
        )
        out["streaming.stateful.state_rows"] = sum(o.numRowsTotal for p in last for o in p.stateOperators)
        out["streaming.stateful.state_mb"] = (
            sum(o.memoryUsedBytes for p in last for o in p.stateOperators) / 1e6
        )
        files, nbytes = 0, 0
        for sub in ("fact", "segments"):
            for dirpath, _, names in os.walk(os.path.join(self.work, sub)):
                for f in names:
                    if f.endswith(".parquet") and not f.startswith((".", "_")):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, f))
        committed = sum(len(ps) for ps in self.progress.values())
        rows_out = sum(self.rows_out.values())
        out["streaming.sinks.files"] = files / committed
        out["streaming.sinks.mb"] = nbytes / 1e6 / committed
        out["streaming.sinks.rows"] = rows_out / committed
        out["streaming.sinks.bytes_per_row"] = nbytes / rows_out if rows_out else 0.0
        return out
