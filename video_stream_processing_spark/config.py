"""Engine configuration — the analog of the reference's central config
(VideoStreamConfig.java:68-151: classpath application.properties with
code defaults; key names below mirror its property keys, reference
application.properties).

Resolution order: explicit kwargs > properties file > environment
(`VSP_` prefix, dots -> underscores) > code defaults — the same
"file with defaults" shape, plus env for cluster deployments.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields


@dataclass(frozen=True)
class EngineConfig:
    # kafka source (VideoStreamConfig.java:82-84)
    kafka_bootstrap_servers: str = "localhost:9092"
    kafka_topic: str = "video-stream-topic"
    kafka_group_id: str = "video-processing-group"
    # keyframe gate (application.properties:35; KeyFrameExtractor.java:24,27)
    keyframe_min_interval_ms: int = 5_000
    scene_change_threshold: float = 0.3
    # inference (application.properties:31; YOLODetector.java:32-33,58)
    confidence_threshold: float = 0.5
    nms_iou_threshold: float = 0.45
    # segments (application.properties:34,41-44)
    segment_duration_ms: int = 180_000
    video_bitrate: str = "2048k"
    video_fps: int = 25
    # output and checkpoint locations
    output_dir: str = "/tmp/vsp-output"
    checkpoint_dir: str = "/tmp/vsp-checkpoints"
    # watermark — OUR extension (the reference uses noWatermarks())
    watermark: str = "10 minutes"

    # property-file key -> field (names mirror the reference's keys)
    _KEYS = {
        "kafka.bootstrap.servers": "kafka_bootstrap_servers",
        "kafka.topic": "kafka_topic",
        "kafka.group.id": "kafka_group_id",
        "keyframe.min.interval": "keyframe_min_interval_ms",
        "scene.change.threshold": "scene_change_threshold",
        "yolo.confidence.threshold": "confidence_threshold",
        "yolo.nms.threshold": "nms_iou_threshold",
        "video.segment.duration": "segment_duration_ms",
        "video.bitrate": "video_bitrate",
        "video.fps": "video_fps",
        "output.dir": "output_dir",
        "checkpoint.dir": "checkpoint_dir",
        "watermark": "watermark",
    }

    @classmethod
    def load(cls, properties_path: str | None = None, **overrides) -> "EngineConfig":
        values: dict = {}
        ftypes = {f.name: f.type for f in fields(cls)}

        def put(field: str, raw: str) -> None:
            t = ftypes[field]
            if t == "int":
                values[field] = int(raw)
            elif t == "float":
                values[field] = float(raw)
            else:
                values[field] = raw

        # env: VSP_KAFKA_TOPIC etc.
        for field in ftypes:
            env = os.environ.get("VSP_" + field.upper())
            if env is not None:
                put(field, env)
        # properties file (java-style key=value lines, # comments)
        if properties_path and os.path.isfile(properties_path):
            with open(properties_path) as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("#") or "=" not in line:
                        continue
                    k, _, v = line.partition("=")
                    field = cls._KEYS.get(k.strip())
                    if field:
                        put(field, v.strip())
        values.update(overrides)
        return cls(**values)
