"""Streaming sinks — foreachBatch fan-out mirroring the reference's two
sink paths (SURVEY.md §2.1 #3-#5, §3.3):

- detections fact -> partitioned parquet table (the Doris Stream-Load
  analog: DorisSinkBuilder.java:25-95 buffers NDJSON on a 5 s flush;
  our analog is the micro-batch commit of a partitioned columnar table);
- segments -> object storage layout `videos/{stream}/{yyyyMMdd/HH}/
  {stream}_{startMs}.mp4` (MinIOVideoSink.java:50-59 / OSSVideoSink
  key format), with the ffmpeg encode behind a pluggable
  ``SegmentEncoder`` (FFmpegUtils.java:137-189 shells out to ffmpeg;
  correctness tests use the no-op encoder, SURVEY.md §3.3).

Each table has one writer, and it is exactly-once: every micro-batch
lands in its own ``batch_id=`` partition with dynamic overwrite
(``_overwrite_batch``), so a batch that the checkpoint replays replaces
what it wrote instead of duplicating it — the analog of the reference's
Doris stream-load label dedup and keyed MinIO puts.

Both sinks are plain functions over (batch_df, batch_id) so they are
unit-testable without a streaming query.
"""

from __future__ import annotations

import os
import subprocess

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _overwrite_batch(df: DataFrame, batch_id: int, out_dir: str, *partition_cols: str) -> None:
    """Write ``df`` as parquet partitioned by ``partition_cols`` and then
    ``batch_id=<batch_id>``, with dynamic OVERWRITE: a batch replayed
    after a failure between sink write and checkpoint commit replaces
    the partitions it wrote instead of appending duplicates.

    The column name has no leading underscore: readers such as
    pyarrow's ``dataset()`` skip ``_``- and ``.``-prefixed paths as
    hidden files, so an underscore-named partition would read as empty.
    An output directory belongs to one checkpoint: a query started on a
    new checkpoint numbers its batches from 0 again and would overwrite
    the partitions the old one wrote."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.partitionBy(*partition_cols, "batch_id")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_dir)
    )


def write_detections_fact(out_dir: str):
    """foreachBatch sink: the micro-batch as a parquet fact table
    partitioned by (stream_id, date_key, hour_key) — the layout the
    Doris DDL encodes with DISTRIBUTED BY HASH(stream_id) + bitmap
    indexes (reference README.md:94-104), expressed as partition pruning
    — with each batch in its own ``batch_id`` leaf (``_overwrite_batch``)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _overwrite_batch(
            batch_df.withColumn("date_key", F.date_format("detection_time", "yyyyMMdd"))
            .withColumn("hour_key", F.date_format("detection_time", "HH")),
            batch_id, out_dir, "stream_id", "date_key", "hour_key",
        )

    return sink


def write_detections_ndjson(out_dir: str):
    """foreachBatch sink emitting the reference's LITERAL wire format:
    one JSON object per line (`format=json` + `read_json_by_line=true`
    Stream-Load properties, DorisSinkBuilder.java:62-65; the hand-built
    JSON shape of convertToJson :100-124 with detection_time rendered
    `yyyy-MM-dd HH:mm:ss`)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cols = [c for c in batch_df.columns if c != "detection_time"]
        (
            batch_df.select(
                F.to_json(
                    F.struct(
                        F.date_format("detection_time", "yyyy-MM-dd HH:mm:ss").alias(
                            "detection_time"
                        ),
                        *cols,
                    )
                ).alias("value")
            )
            .write.mode("append")
            .text(out_dir)
        )

    return sink


def object_key(stream_id: str, start_ms: int, date_part: str) -> str:
    """`videos/{stream}/{yyyyMMdd/HH}/{stream}_{startMs}.mp4`
    (MinIOVideoSink.java:50-59)."""
    return f"videos/{stream_id}/{date_part}/{stream_id}_{start_ms}.mp4"


class SegmentEncoder:
    """Pluggable encode step (the one stage with no Spark-native
    expression — SURVEY.md §3.3). Implementations run on executors
    inside foreachBatch."""

    def encode(self, stream_id: str, start_ms: int, frame_count: int) -> tuple[str, int]:
        """Returns (local_path, file_size). Overridden by real encoders."""
        raise NotImplementedError


class NoopEncoder(SegmentEncoder):
    """Correctness-test encoder: no ffmpeg, deterministic fake size."""

    def encode(self, stream_id: str, start_ms: int, frame_count: int) -> tuple[str, int]:
        return (f"/tmp/{stream_id}_{start_ms}.mp4", frame_count * 1024)


class FFmpegEncoder(SegmentEncoder):
    """Real path: dump frames, shell out exactly like FFmpegUtils.java:164-167
    (`ffmpeg -framerate 25 -i frame_%05d.jpg -c:v libx264 -pix_fmt yuv420p
    -b:v 2048k out.mp4 -y`), stat the file, clean up.

    ``frame_pattern`` defaults to the reference's jpg sequence; tests feed
    numpy-written BMPs (no image lib needed) via ``frame_%05d.bmp`` —
    same command shape, codec-agnostic input demuxer. Exercised by
    tests/test_ffmpeg_encoder.py (skips where ffmpeg is absent)."""

    def __init__(
        self,
        workdir: str = "/tmp/vsp-segments",
        bitrate: str = "2048k",
        fps: int = 25,
        frame_pattern: str = "frame_%05d.jpg",
    ):
        self.workdir, self.bitrate, self.fps = workdir, bitrate, fps
        self.frame_pattern = frame_pattern

    def encode(self, stream_id: str, start_ms: int, frame_count: int) -> tuple[str, int]:
        out = os.path.join(self.workdir, f"{stream_id}_{start_ms}.mp4")
        cmd = [
            "ffmpeg", "-framerate", str(self.fps),
            "-i", os.path.join(self.workdir, self.frame_pattern),
            "-c:v", "libx264", "-pix_fmt", "yuv420p", "-b:v", self.bitrate, out, "-y",
        ]
        subprocess.run(cmd, check=True, capture_output=True)
        return out, os.path.getsize(out)


def write_segments(out_dir: str, encoder: SegmentEncoder | None = None):
    """foreachBatch sink for segment metadata: derive the object key,
    run the (pluggable) encoder per segment via a mapInPandas pass, and
    land the `segments` metadata table (SURVEY.md §1.4), one
    ``batch_id`` partition per micro-batch (``_overwrite_batch``). A
    replayed batch replaces its own rows, and the object keys it derives
    are deterministic in (stream, start_ms), so the re-encoded upload
    overwrites rather than duplicates — the replay behavior of the
    reference's keyed MinIO put (MinIOVideoSink.java:50-76)."""
    encoder = encoder or NoopEncoder()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        import pandas as pd

        def encode_rows(batches):
            for pdf in batches:
                paths, sizes = [], []
                for r in pdf.itertuples():
                    start_ms = int(pd.Timestamp(r.start_time).value // 1_000_000)
                    p, s = encoder.encode(str(r.stream_id), start_ms, int(r.frame_count))
                    paths.append(p)
                    sizes.append(s)
                pdf = pdf.copy()
                pdf["local_file_path"] = paths
                pdf["file_size"] = sizes
                yield pdf

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in batch_df.schema.fields
        ) + ", local_file_path string, file_size long"
        encoded = batch_df.mapInPandas(encode_rows, schema=schema)
        with_key = encoded.withColumn(
            "object_key",
            F.concat(
                F.lit("videos/"), F.col("stream_id"), F.lit("/"),
                F.date_format("start_time", "yyyyMMdd/HH"), F.lit("/"),
                F.col("stream_id"), F.lit("_"),
                F.unix_millis(F.col("start_time")).cast("string"), F.lit(".mp4"),
            ),
        )
        _overwrite_batch(with_key, batch_id, out_dir)

    return sink
