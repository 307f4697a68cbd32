"""User-facing engine facade — the one-stop entry a user of the
reference system would switch to.

The reference's user surface is: configure `application.properties`,
submit `VideoStreamProcessingJob`, query the Doris table downstream
(reference README.md quickstart). The equivalents here:

- batch analytics: ``Engine.run(name)`` over the declared query catalog
  (every operator in COVERAGE.md), or ``Engine.sql(...)`` over the
  registered temp views;
- streaming: ``Engine.start_pipeline(...)`` wires the detection and
  segment queries (streaming/pipeline.py) onto any frame source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from video_stream_processing_spark.plans.registry import all_queries, query_map
from video_stream_processing_spark.session import ensure_session_conf, get_spark
from video_stream_processing_spark.tables import DEFAULT_SF_DIR, load_table, register_temp_views


class Engine:
    """Facade over session + catalog + query registry + pipelines."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str = DEFAULT_SF_DIR,
        config=None,
    ):
        from video_stream_processing_spark.config import EngineConfig

        self.spark = ensure_session_conf(spark) if spark else get_spark()
        self.sf_dir = sf_dir
        self.config = config or EngineConfig.load()

    # -- batch ------------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def queries(self) -> dict[str, str]:
        """name -> one-line description of every declared query."""
        return {
            n: (s.doc.splitlines()[0] if s.doc else "") for n, s in all_queries().items()
        }

    def run(self, name: str) -> DataFrame:
        qs = query_map()
        if name not in qs:
            raise KeyError(f"unknown query {name!r}; see Engine.queries()")
        return qs[name](self.spark, self.sf_dir)

    def sql(self, statement: str) -> DataFrame:
        register_temp_views(self.spark, self.sf_dir)
        return self.spark.sql(statement)

    # -- streaming --------------------------------------------------------
    def start_pipeline(
        self,
        frames: DataFrame,
        output_dir: str | None = None,
        checkpoint_dir: str | None = None,
        segment_duration_ms: int | None = None,
        encoder=None,
        segment_hook=None,
    ):
        """Start BOTH reference dataflows (detections fact + segments) on
        a streaming frame DataFrame; returns the two StreamingQuery
        handles (stop/awaitTermination belong to the caller).

        Unset arguments fall back to ``self.config`` — the
        application.properties-driven workflow of the reference job.

        Each query starts with ``streaming.pipeline.STATE_PARTITIONS``
        state partitions by setting the session's shuffle partition count
        for the length of its start. Do not call this while another
        thread plans batch work on ``frames``' session: a batch query
        planned in that window gets the stream queries' count."""
        import os

        from video_stream_processing_spark.streaming.pipeline import (
            detection_query,
            segment_query,
        )

        cfg = self.config
        output_dir = output_dir or cfg.output_dir
        checkpoint_dir = checkpoint_dir or cfg.checkpoint_dir
        det = detection_query(
            frames,
            os.path.join(output_dir, "detections"),
            os.path.join(checkpoint_dir, "detections"),
            min_interval_ms=cfg.keyframe_min_interval_ms,
            scene_threshold=cfg.scene_change_threshold,
            watermark=cfg.watermark,
            confidence_threshold=cfg.confidence_threshold,
            nms_iou_threshold=cfg.nms_iou_threshold,
        )
        seg = segment_query(
            frames,
            os.path.join(output_dir, "segments"),
            os.path.join(checkpoint_dir, "segments"),
            duration_ms=segment_duration_ms or cfg.segment_duration_ms,
            encoder=encoder,
            watermark=cfg.watermark,
            segment_hook=segment_hook,
        )
        return det, seg
