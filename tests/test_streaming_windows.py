"""Streaming windowed aggregation + watermark late-data semantics — the
M5 extension the reference lacks entirely (it uses noWatermarks() and
arrival-order payload timestamps; SURVEY.md §2.4 #18). Batch and stream
share the same F.window expression (b23); here the STREAM side is
proven: windows close when the watermark passes, in-watermark
out-of-order data is included, and too-late data is dropped."""

from __future__ import annotations

from pyspark.sql import functions as F

BASE = 1_699_999_980_000  # ms; 1_699_999_980 s is divisible by 60 -> window-aligned


def _write(spark, d, rows_ms, mode):
    (
        spark.createDataFrame([("s", t) for t in rows_ms], "stream_id string, ts_ms long")
        .select("stream_id", F.timestamp_millis("ts_ms").alias("ts"))
        .coalesce(1)
        .write.mode(mode)
        .parquet(d)
    )


def _windowed_counts(stream):
    return (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "60 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def test_watermark_closes_windows_and_drops_late(spark, tmp_path):
    d = str(tmp_path / "frames")
    ck = str(tmp_path / "ck")

    # batch 1: two events in window0, one in window1, then a "clock
    # advancer" at +10min that pushes the watermark to +8min (closing
    # windows 0 and 1)
    _write(spark, d, [BASE + 1_000, BASE + 30_000, BASE + 61_000, BASE + 600_000], "overwrite")

    stream = spark.readStream.schema("stream_id string, ts timestamp").parquet(d)
    q = (
        _windowed_counts(stream)
        .writeStream.format("memory")
        .queryName("winagg")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()

        # batch 2: a LATE event for window0 (behind the watermark) must
        # be DROPPED; an event in the advancer's window is fine
        _write(spark, d, [BASE + 45_000, BASE + 610_000], "append")
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        int(r["window_start"].timestamp() * 1000) - BASE: r["n"]
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    # window0 closed with 2 (the late +45s event was dropped), window1 with 1
    assert got.get(0) == 2
    assert got.get(60_000) == 1
    # the advancer window (+600s) is NOT yet closed (watermark hasn't
    # passed it) -> absent from append output
    assert 600_000 not in got


def test_stream_matches_batch_for_closed_windows(spark, tmp_path):
    d = str(tmp_path / "frames")
    rows = [BASE + o for o in (5_000, 10_000, 65_000, 70_000, 125_000, 900_000)]
    _write(spark, d, rows, "overwrite")

    stream = spark.readStream.schema("stream_id string, ts timestamp").parquet(d)
    q = (
        _windowed_counts(stream)
        .writeStream.format("memory")
        .queryName("winagg2")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["window_start"], r["n"]) for r in spark.sql("SELECT * FROM winagg2").collect()
    }

    batch = spark.read.parquet(d)
    want_all = {
        (r["window_start"], r["n"])
        for r in batch.groupBy(F.window("ts", "60 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .collect()
    }
    # stream emits exactly the batch windows whose end precedes the
    # final watermark (all but the advancer's own window)
    assert got < want_all
    assert len(got) == len(want_all) - 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Ingest-side exactly-once: dropDuplicates on (event_id) with a
    watermark — replayed/duplicate events across micro-batches emit
    once (the idempotent-ingest half of the exactly-once story; state
    is bounded by the watermark horizon)."""
    d = str(tmp_path / "ev")

    def write(rows, mode):
        (
            spark.createDataFrame(rows, "event_id long, ts_ms long")
            .select("event_id", F.timestamp_millis("ts_ms").alias("ts"))
            .coalesce(1)
            .write.mode(mode)
            .parquet(d)
        )

    write([(1, BASE + 1_000), (2, BASE + 2_000)], "overwrite")
    stream = spark.readStream.schema("event_id long, ts timestamp").parquet(d)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 replays event 1 and 2 (duplicates) and adds 3
        write([(1, BASE + 1_000), (2, BASE + 2_500), (3, BASE + 3_000)], "append")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT event_id, count(*) AS n FROM dedup_stream GROUP BY 1").collect()
    got = {r["event_id"]: r["n"] for r in rows}
    assert got == {1: 1, 2: 1, 3: 1}


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """F.session_window in streaming mode: gap-based sessions close once
    the watermark passes gap beyond their last event, and the closed
    set equals the batch session_window aggregation (b25's expression,
    proven on the stream side). Mid-session events must FUSE windows."""
    d = str(tmp_path / "frames")
    # session A: 3 events within 30s gaps; session B: later isolated
    # pair; advancer event far in the future closes everything
    rows = [
        BASE + 0,
        BASE + 20_000,
        BASE + 45_000,  # A: one session (gaps < 60s)
        BASE + 300_000,
        BASE + 330_000,  # B: second session
        BASE + 3_600_000,  # advancer (its own session stays open)
    ]
    _write(spark, d, rows, "overwrite")

    def sessions(df):
        return (
            df.withWatermark("ts", "1 minute")
            .groupBy(F.session_window("ts", "60 seconds").alias("w"), "stream_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n",
            )
        )

    stream = spark.readStream.schema("stream_id string, ts timestamp").parquet(d)
    q = (
        sessions(stream)
        .writeStream.format("memory")
        .queryName("sesswin")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["session_start"], r["session_end"], r["n"])
        for r in spark.sql("SELECT * FROM sesswin").collect()
    }

    batch = {
        (r["session_start"], r["session_end"], r["n"])
        for r in sessions(spark.read.parquet(d).withWatermark("ts", "1 minute")).collect()
    }
    # the stream emits exactly the batch sessions minus the advancer's
    # still-open one: the 3-event fused session A and the 2-event B
    assert got == batch - {max(batch)}
    assert {n for _, _, n in got} == {3, 2}
