"""Layer A — declared queries mirroring the reference pipeline's dataflow
operators (SURVEY.md §2.1-§2.4) on the stream-analog tables.

Mapping (FIXTURES.md §A): `events` stands in for the frame stream —
user_id ↔ stream_id (keyBy key, VideoStreamProcessingJob.java:67),
ts ↔ frame timestamp, value ↔ scene-change signal
(KeyFrameExtractor.java:64-78), props ↔ frame metadata. `orders` ↔ frames
and `lineitem` ↔ per-frame detections exercise the nested/explode path.

Every query aliases computed columns identically in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_stream_processing_spark.functions.coco import COCO_CLASSES, coco_sql_array
from video_stream_processing_spark.operators.keyframe import keyframe_gate
from video_stream_processing_spark.operators.segments import segment_windows_aligned
from video_stream_processing_spark.plans.registry import register
from video_stream_processing_spark.tables import load_table

# events arrive ~minutes apart, so the frame-scale 5 s interval maps to
# 300 s and the [0..~200] `value` signal threshold to 50.
KEYFRAME_INTERVAL_MS = 300_000
SCENE_THRESHOLD = 50.0
SEGMENT_SECONDS = 180  # video.segment.duration=180000 ms


# --------------------------------------------------------------------------
# flagship — the reference pipeline in miniature: keyframe gate -> tumbling
# segment windows per stream -> segment stats joined to a broadcast dim.
# --------------------------------------------------------------------------

_FLAGSHIP_ORACLE = f"""
WITH gated AS (
    SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               lag(ts) OVER w AS prev_ts,
               lag(value) OVER w AS prev_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE prev_ts IS NULL
       OR epoch_ms(ts) - epoch_ms(prev_ts) >= {KEYFRAME_INTERVAL_MS}
       OR abs(value - prev_value) > {SCENE_THRESHOLD}
),
seg AS (
    SELECT user_id AS stream_id,
           make_timestamp((epoch_ms(ts) // 1000 // {SEGMENT_SECONDS}) * {SEGMENT_SECONDS} * 1000000) AS window_start,
           count(*) AS frame_count,
           min(ts) AS start_time,
           max(ts) AS end_time,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS signal_sum
    FROM gated
    GROUP BY 1, 2
)
SELECT s.stream_id, s.window_start, s.frame_count, s.start_time, s.end_time,
       s.signal_sum, c.c_mktsegment AS mktsegment
FROM seg s JOIN customer c ON s.stream_id = c.c_custkey
"""


@register("flagship_segment_pipeline", oracle=_FLAGSHIP_ORACLE, tags=("layer_a", "flagship"))
def flagship_segment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pipeline analog end-to-end: stateful keyframe filter
    (KeyFrameExtractor.java:53-82) -> per-key tumbling segment windows
    (VideoSegmentBuffer.java:38-105) -> segment metadata enriched with a
    broadcast dimension (the Doris-side slicing the fact table serves,
    README.md:81-105 of the reference)."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")

    frames = events.select(
        F.col("user_id").alias("stream_id"),
        "ts",
        F.col("value").alias("scene_signal"),
        "event_id",
    )
    gated = keyframe_gate(
        frames,
        key_col="stream_id",
        ts_col="ts",
        signal_col="scene_signal",
        min_interval_ms=KEYFRAME_INTERVAL_MS,
        scene_threshold=SCENE_THRESHOLD,
        order_cols=("event_id",),
    )
    seg = (
        gated.groupBy(
            "stream_id", F.window("ts", f"{SEGMENT_SECONDS} seconds").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("frame_count"),
            F.min("ts").alias("start_time"),
            F.max("ts").alias("end_time"),
            F.sum(F.col("scene_signal").cast("decimal(18,2)"))
            .cast("double")
            .alias("signal_sum"),
        )
        .select(
            "stream_id",
            F.col("w.start").alias("window_start"),
            "frame_count",
            "start_time",
            "end_time",
            "signal_sum",
        )
    )
    dim = customer.select(F.col("c_custkey"), F.col("c_mktsegment").alias("mktsegment"))
    return seg.join(F.broadcast(dim), seg.stream_id == dim.c_custkey, "inner").drop("c_custkey")


# --------------------------------------------------------------------------
# a01 — scan/project/filter with pushdown (Kafka-source projection analog;
# the deserialize+project step of VideoFrameDeserializationSchema.java:13-31)
# --------------------------------------------------------------------------


@register(
    "a01_scan_project_filter",
    oracle="""
SELECT l_orderkey, l_extendedprice, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_discount > 0.05
""",
    tags=("layer_a", "scan"),
)
def a01_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate that must reach the parquet scan
    (PushedFilters / ReadSchema pruning — SURVEY.md §4.2)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_extendedprice", "l_shipdate")


# --------------------------------------------------------------------------
# a02 — keyframe gate (stateful filter, batch lag analog)
# --------------------------------------------------------------------------


@register(
    "a02_keyframe_gate",
    oracle=f"""
SELECT stream_id, ts, scene_signal FROM (
    SELECT user_id AS stream_id, ts, value AS scene_signal,
           lag(ts) OVER w AS prev_ts,
           lag(value) OVER w AS prev_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE prev_ts IS NULL
   OR epoch_ms(ts) - epoch_ms(prev_ts) >= {KEYFRAME_INTERVAL_MS}
   OR abs(scene_signal - prev_value) > {SCENE_THRESHOLD}
""",
    tags=("layer_a", "stateful_filter"),
)
def a02_keyframe_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe gate batch analog — interval OR scene-change rule
    (KeyFrameExtractor.java:53-82; documented semantics of README.md:241-245)."""
    events = load_table(spark, sf_dir, "events")
    frames = events.select(
        F.col("user_id").alias("stream_id"),
        "ts",
        F.col("value").alias("scene_signal"),
        "event_id",
    )
    return keyframe_gate(
        frames,
        key_col="stream_id",
        ts_col="ts",
        signal_col="scene_signal",
        min_interval_ms=KEYFRAME_INTERVAL_MS,
        scene_threshold=SCENE_THRESHOLD,
        order_cols=("event_id",),
    ).select("stream_id", "ts", "scene_signal")


# --------------------------------------------------------------------------
# a03 — nested detections -> flattened fact rows (collect_list -> explode
# round-trip; DorisSinkBuilder.convertToJson explode loop :108-121)
# --------------------------------------------------------------------------


@register(
    "a03_flatten_explode",
    oracle="""
SELECT CAST(o.o_custkey AS VARCHAR) AS stream_id,
       o.o_orderdate AS detection_time,
       o.o_orderkey AS frame_id,
       l.l_returnflag AS object_class,
       l.l_discount AS confidence,
       l.l_quantity AS bbox_x1,
       CAST(l.l_linenumber AS DOUBLE) AS bbox_y1,
       l.l_quantity + 640.0 AS bbox_x2,
       CAST(l.l_linenumber AS DOUBLE) + 480.0 AS bbox_y2,
       '' AS frame_url
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
""",
    tags=("layer_a", "explode"),
)
def a03_flatten_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds the nested detections_nested shape (ARRAY<STRUCT<...>>) from
    orders+lineitem, then flattens via inner explode to the 10-column
    Doris fact shape — the reference's DetectionResult -> NDJSON step."""
    from video_stream_processing_spark.operators.flatten import flatten_detections

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    det_struct = F.struct(
        F.col("l_returnflag").alias("object_class"),
        F.col("l_discount").alias("confidence"),
        F.struct(
            F.col("l_quantity").alias("x1"),
            F.col("l_linenumber").cast("double").alias("y1"),
            (F.col("l_quantity") + 640.0).alias("x2"),
            (F.col("l_linenumber").cast("double") + 480.0).alias("y2"),
        ).alias("bbox"),
    )
    nested = (
        li.groupBy("l_orderkey")
        .agg(F.collect_list(det_struct).alias("detections"))
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .select(
            F.col("o_custkey").cast("string").alias("stream_id"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey").alias("frame_id"),
            "detections",
        )
    )
    return flatten_detections(nested)


# --------------------------------------------------------------------------
# a04 — zero-detection drop semantics (inner explode) vs keep (outer)
# --------------------------------------------------------------------------


@register(
    "a04_zero_detection_drop",
    oracle="""
SELECT o.o_orderkey AS frame_id,
       l.l_partkey AS object_id,
       l.l_extendedprice AS confidence
FROM orders o JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05
""",
    tags=("layer_a", "explode"),
)
def a04_zero_detection_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frames whose detection array ends up EMPTY vanish entirely —
    convertToJson returns null on empty lists and nulls are filtered
    (DorisSinkBuilder.java:101-103, VideoStreamProcessingJob.java:79;
    SURVEY.md §2.6(e)). collect_list skips null structs, so orders where
    no lineitem passes the confidence gate produce an empty array that the
    inner explode then drops."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    det = F.when(
        F.col("l_discount") > 0.05,
        F.struct(F.col("l_partkey").alias("object_id"), F.col("l_extendedprice").alias("confidence")),
    )
    nested = (
        li.groupBy("l_orderkey")
        .agg(F.collect_list(det).alias("detections"))
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
    )
    return nested.select(
        F.col("o_orderkey").alias("frame_id"), F.explode("detections").alias("d")
    ).select(
        "frame_id",
        F.col("d.object_id").alias("object_id"),
        F.col("d.confidence").alias("confidence"),
    )


# --------------------------------------------------------------------------
# a05 — aligned tumbling segment windows (VideoSegmentBuffer analog)
# --------------------------------------------------------------------------


@register(
    "a05_segment_windows",
    oracle=f"""
SELECT user_id AS stream_id,
       make_timestamp((epoch_ms(ts) // 1000 // {SEGMENT_SECONDS}) * {SEGMENT_SECONDS} * 1000000) AS window_start,
       count(*) AS frame_count,
       min(ts) AS start_time,
       max(ts) AS end_time,
       epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
FROM events
GROUP BY 1, 2
""",
    tags=("layer_a", "window_agg"),
)
def a05_segment_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-minute tumbling segment aggregation producing the VideoSegment
    shape (VideoSegment.java:17-55): epoch-aligned batch form of the
    reference's first-arrival-aligned buffer (documented deviation,
    SURVEY.md §2.6(c); exact semantics live in segment_windows_exact)."""
    events = load_table(spark, sf_dir, "events")
    frames = events.select(F.col("user_id").alias("stream_id"), "ts")
    return segment_windows_aligned(
        frames, key_col="stream_id", ts_col="ts", duration_ms=SEGMENT_SECONDS * 1000
    )


# --------------------------------------------------------------------------
# a06 — object-store partition key derivation (MinIOVideoSink key format)
# --------------------------------------------------------------------------


@register(
    "a06_sink_partition_keys",
    oracle="""
SELECT user_id AS stream_id, ts,
       strftime(ts, '%Y%m%d') AS date_key,
       strftime(ts, '%H') AS hour_key,
       'videos/' || CAST(user_id AS VARCHAR) || '/' || strftime(ts, '%Y%m%d/%H') || '/' ||
           CAST(user_id AS VARCHAR) || '_' || CAST(epoch_ms(ts) AS VARCHAR) || '.mp4' AS object_key
FROM events
WHERE event_type = 'purchase'
""",
    tags=("layer_a", "sink"),
)
def a06_sink_partition_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derives the object-store key layout `videos/{stream}/{yyyyMMdd/HH}/
    {stream}_{startMs}.mp4` (MinIOVideoSink.java:50-59) — the same
    expression drives partitionBy(stream_id, date, hour) for partition
    pruning at 100 TB."""
    events = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    sid = F.col("user_id").cast("string")
    return events.select(
        F.col("user_id").alias("stream_id"),
        "ts",
        F.date_format("ts", "yyyyMMdd").alias("date_key"),
        F.date_format("ts", "HH").alias("hour_key"),
        F.concat(
            F.lit("videos/"), sid, F.lit("/"),
            F.date_format("ts", "yyyyMMdd/HH"), F.lit("/"),
            sid, F.lit("_"), F.unix_millis(F.col("ts")).cast("string"), F.lit(".mp4"),
        ).alias("object_key"),
    )


# --------------------------------------------------------------------------
# a07 — full detection-path analog: gate -> synthesize detections ->
# explode -> fact projection with sink-side time formatting
# --------------------------------------------------------------------------

_A07_ORACLE = f"""
WITH gated AS (
    SELECT user_id, ts, event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM (
        SELECT user_id, ts, value, event_id, props,
               lag(ts) OVER w AS prev_ts,
               lag(value) OVER w AS prev_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE prev_ts IS NULL
       OR epoch_ms(ts) - epoch_ms(prev_ts) >= {KEYFRAME_INTERVAL_MS}
       OR abs(value - prev_value) > {SCENE_THRESHOLD}
)
SELECT CAST(g.user_id AS VARCHAR) AS stream_id,
       strftime(g.ts, '%Y-%m-%d %H:%M:%S') AS detection_time,
       g.event_id AS frame_id,
       {coco_sql_array()}[(g.k + i.i) % 80 + 1] AS object_class,
       CAST(0.5 + (g.k % 50) / 100.0 AS DOUBLE) AS confidence,
       '' AS frame_url
FROM gated g JOIN (SELECT unnest([0, 1, 2]) AS i) i ON i.i < g.k % 3
"""


@register("a07_detection_fact_pipeline", oracle=_A07_ORACLE, tags=("layer_a", "pipeline"))
def a07_detection_fact_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot path end-to-end (SURVEY.md §3.2): keyframe gate ->
    deterministic detection synthesis (stand-in for the YOLO UDF; the real
    pandas-UDF path is u01/u02) -> inner explode -> Doris fact projection
    with the sink's yyyy-MM-dd HH:mm:ss formatting
    (DorisSinkBuilder.java:105,111)."""
    events = load_table(spark, sf_dir, "events")
    frames = events.select(
        F.col("user_id").alias("stream_id"),
        "ts",
        F.col("value").alias("scene_signal"),
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    gated = keyframe_gate(
        frames,
        key_col="stream_id",
        ts_col="ts",
        signal_col="scene_signal",
        min_interval_ms=KEYFRAME_INTERVAL_MS,
        scene_threshold=SCENE_THRESHOLD,
        order_cols=("event_id",),
    )
    classes = F.array(*[F.lit(c) for c in COCO_CLASSES])
    exploded = gated.select(
        "stream_id", "ts", "event_id", "k", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i")
    ).where(F.col("i") < F.col("k") % 3)
    return exploded.select(
        F.col("stream_id").cast("string").alias("stream_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("detection_time"),
        F.col("event_id").alias("frame_id"),
        F.element_at(classes, (F.col("k") + F.col("i")) % 80 + 1).alias("object_class"),
        (F.lit(0.5) + (F.col("k") % 50) / 100.0).cast("double").alias("confidence"),
        F.lit("").alias("frame_url"),
    )


# --------------------------------------------------------------------------
# a08 — exact (first-arrival-aligned, trigger-inclusive) segments:
# genuinely non-SQL-expressible -> rows-only check + pytest trace tests
# --------------------------------------------------------------------------


# Same linear-recursion pattern as _A09_ORACLE: each walk row is the
# buffer state AFTER its frame. add-then-check close (trigger frame
# INCLUDED, VideoProcessFunction.java:88-91); after a close the NEXT
# frame opens the new buffer; the final open buffer per stream flushes
# as the tail (batch semantics — SURVEY.md §2.6(g)).
_A08_ORACLE = f"""
WITH RECURSIVE f AS MATERIALIZED (
    SELECT CAST(user_id AS VARCHAR) AS stream_id, ts, epoch_ms(ts) AS ts_ms,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
    FROM events
),
walk AS (
    SELECT stream_id, rn, ts, ts_ms,
           TRUE AS open, ts_ms AS seg_start_ms, ts AS seg_start_ts,
           1 AS cnt, FALSE AS closed
    FROM f WHERE rn = 1
    UNION ALL
    SELECT nf.stream_id, nf.rn, nf.ts, nf.ts_ms,
           CASE WHEN NOT w.open THEN TRUE
                WHEN nf.ts_ms - w.seg_start_ms >= {SEGMENT_SECONDS * 1000} THEN FALSE
                ELSE TRUE END AS open,
           CASE WHEN NOT w.open THEN nf.ts_ms ELSE w.seg_start_ms END AS seg_start_ms,
           CASE WHEN NOT w.open THEN nf.ts ELSE w.seg_start_ts END AS seg_start_ts,
           CASE WHEN NOT w.open THEN 1 ELSE w.cnt + 1 END AS cnt,
           CASE WHEN w.open AND nf.ts_ms - w.seg_start_ms >= {SEGMENT_SECONDS * 1000}
                THEN TRUE ELSE FALSE END AS closed
    FROM walk w JOIN f nf ON nf.stream_id = w.stream_id AND nf.rn = w.rn + 1
)
SELECT stream_id, seg_start_ts AS start_time, ts AS end_time,
       CAST(cnt AS INT) AS frame_count, CAST(ts_ms - seg_start_ms AS BIGINT) AS duration_ms
FROM walk WHERE closed
UNION ALL
SELECT stream_id, seg_start_ts AS start_time, ts AS end_time,
       CAST(cnt AS INT) AS frame_count, CAST(ts_ms - seg_start_ms AS BIGINT) AS duration_ms
FROM (SELECT *, row_number() OVER (PARTITION BY stream_id ORDER BY rn DESC) AS rr FROM walk) w
WHERE rr = 1 AND open
"""


@register("a08_segment_windows_exact", oracle=_A08_ORACLE, tags=("layer_a", "stateful"))
def a08_segment_windows_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact reference buffering semantics (SURVEY.md §2.6(c)):
    first-arrival-aligned windows, trigger frame included, tail flushed.
    Sequential per-key recurrence -> keyed_sorted(...).mapInPandas over
    segments.close_segments; verified by tests/test_segments_property.py
    (model traces) and tests/test_keyed_scan.py (chunk carry). Oracle:
    DuckDB linear RECURSIVE CTE (round-4 upgrade from rows-only)."""
    from video_stream_processing_spark.operators.segments import segment_windows_exact

    events = load_table(spark, sf_dir, "events")
    frames = events.select(F.col("user_id").cast("string").alias("stream_id"), "ts")
    return segment_windows_exact(
        frames, key_col="stream_id", ts_col="ts", duration_ms=SEGMENT_SECONDS * 1000
    )


# --------------------------------------------------------------------------
# a09 — exact keyframe gate (interval measured since last KEPT frame)
# --------------------------------------------------------------------------


# The exact gate is a per-stream sequential recurrence; DuckDB expresses
# it as a linear RECURSIVE CTE stepping one frame per level (depth = max
# frames per stream, ~86 at sf0.01). Each walk row is the state AFTER its
# frame: last-kept ms updates only on keep; the previous frame's signal
# is simply the parent walk row's signal. (stream, ts) is unique in the
# data, so row_number ordering is deterministic.
_A09_ORACLE = f"""
WITH RECURSIVE f AS MATERIALIZED (
    SELECT CAST(user_id AS VARCHAR) AS stream_id, ts, value AS scene_signal,
           epoch_ms(ts) AS ts_ms,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
    FROM events
),
walk AS (
    SELECT stream_id, rn, ts, scene_signal, ts_ms, TRUE AS keep, ts_ms AS last_kept_ms
    FROM f WHERE rn = 1
    UNION ALL
    SELECT nf.stream_id, nf.rn, nf.ts, nf.scene_signal, nf.ts_ms,
           (nf.ts_ms - w.last_kept_ms >= {KEYFRAME_INTERVAL_MS})
               OR (abs(nf.scene_signal - w.scene_signal) > {SCENE_THRESHOLD}) AS keep,
           CASE WHEN (nf.ts_ms - w.last_kept_ms >= {KEYFRAME_INTERVAL_MS})
                     OR (abs(nf.scene_signal - w.scene_signal) > {SCENE_THRESHOLD})
                THEN nf.ts_ms ELSE w.last_kept_ms END AS last_kept_ms
    FROM walk w JOIN f nf ON nf.stream_id = w.stream_id AND nf.rn = w.rn + 1
)
SELECT stream_id, ts, scene_signal FROM walk WHERE keep
"""


@register("a09_keyframe_gate_exact", oracle=_A09_ORACLE, tags=("layer_a", "stateful"))
def a09_keyframe_gate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact reference keyframe semantics: the interval rule measures
    from the last KEPT frame (KeyFrameExtractor.java:57-61 updates
    lastKeyFrameTime only on emission) — a sequential recurrence the
    lag-based a02 can't express. keyed_sorted(...).mapInPandas over the
    keyframe.py kernels the streaming twin
    (streaming/stateful.py:keyframes_stream) calls too, proven equivalent
    in tests/test_streaming.py. Oracle: DuckDB linear RECURSIVE CTE
    (round-4 upgrade from rows-only)."""
    from video_stream_processing_spark.operators.keyframe import keyframe_gate_stateful

    events = load_table(spark, sf_dir, "events")
    frames = events.select(
        F.col("user_id").cast("string").alias("stream_id"),
        "ts",
        F.col("value").alias("scene_signal"),
    )
    return keyframe_gate_stateful(
        frames,
        key_col="stream_id",
        ts_col="ts",
        min_interval_ms=KEYFRAME_INTERVAL_MS,
        scene_threshold=SCENE_THRESHOLD,
    )


# --------------------------------------------------------------------------
# a10 — binary-driven keyframe gate: scene signal computed FROM payload
# bytes (the loop the reference documents but stubs, SURVEY.md §2.6(a))
# --------------------------------------------------------------------------


# The full binary chain in SQL: byte histogram of the payload (the 40x
# repetition cancels under normalization, so per-char counts of the type
# string suffice — chr()/replace() over all 256 bins), HISTCMP_CORREL
# between consecutive frames via lag, then the same linear recursion as
# _A09_ORACLE with the similarity rule. The threshold margin is wide
# (cross-type corr <= 0.42, same-type ~1.0 vs cut 0.7), so sub-ulp float
# divergence between engines cannot flip a keep decision.
_A10_ORACLE = f"""
WITH RECURSIVE f AS MATERIALIZED (
    SELECT CAST(user_id AS VARCHAR) AS stream_id, ts, epoch_ms(ts) AS ts_ms,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
           CAST(length(event_type) * 40 AS BIGINT) AS n_bytes,
           list_transform(range(256), i ->
               CAST(length(event_type) - length(replace(event_type, chr(CAST(i AS INTEGER)), '')) AS DOUBLE)
                   / length(event_type)) AS hist
    FROM events
),
g AS MATERIALIZED (
    SELECT stream_id, ts, ts_ms, rn, n_bytes, hist,
           lag(hist) OVER (PARTITION BY stream_id ORDER BY ts) AS ph
    FROM f
),
m AS MATERIALIZED (
    SELECT *, list_sum(hist) / 256.0 AS ma, list_sum(ph) / 256.0 AS mb FROM g
),
s AS MATERIALIZED (
    SELECT stream_id, ts, ts_ms, rn, n_bytes,
           CASE WHEN ph IS NULL THEN NULL
                ELSE (
                    CASE WHEN sqrt(list_sum(list_transform(hist, x -> (x - ma) * (x - ma)))
                              * list_sum(list_transform(ph, x -> (x - mb) * (x - mb)))) > 0
                         THEN list_sum(list_transform(range(256), i ->
                                  (hist[i + 1] - ma) * (ph[i + 1] - mb)))
                              / sqrt(list_sum(list_transform(hist, x -> (x - ma) * (x - ma)))
                                   * list_sum(list_transform(ph, x -> (x - mb) * (x - mb))))
                         WHEN hist = ph THEN 1.0 ELSE 0.0 END)
           END AS sim
    FROM m
),
walk AS (
    SELECT stream_id, rn, ts, ts_ms, n_bytes, TRUE AS keep, ts_ms AS last_kept_ms
    FROM s WHERE rn = 1
    UNION ALL
    SELECT nf.stream_id, nf.rn, nf.ts, nf.ts_ms, nf.n_bytes,
           (nf.ts_ms - w.last_kept_ms >= {KEYFRAME_INTERVAL_MS})
               OR (nf.sim IS NOT NULL AND nf.sim < 0.7) AS keep,
           CASE WHEN (nf.ts_ms - w.last_kept_ms >= {KEYFRAME_INTERVAL_MS})
                     OR (nf.sim IS NOT NULL AND nf.sim < 0.7)
                THEN nf.ts_ms ELSE w.last_kept_ms END AS last_kept_ms
    FROM walk w JOIN s nf ON nf.stream_id = w.stream_id AND nf.rn = w.rn + 1
)
SELECT stream_id, ts, n_bytes FROM walk WHERE keep
"""


@register("a10_keyframes_from_bytes", oracle=_A10_ORACLE, tags=("layer_a", "stateful"))
def a10_keyframes_from_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end binary gate (operators/scene.py), FUSED round 6 into
    one Arrow pass: payload bytes -> 256-bin byte histogram ->
    consecutive-frame histogram correlation (the documented
    HISTCMP_CORREL intent of README.md:241-245) -> exact isKeyFrame
    recurrence (KeyFrameExtractor.java:53-82), all inside a single
    bounded keyed scan — ONE hash shuffle + ONE Python crossing
    (8.25s -> ~2s at sf0.1). Payload here: each event's type string
    repeated — frames change "scene" when the event type flips. Oracle:
    the WHOLE chain in DuckDB — per-byte histogram, lag correlation,
    linear RECURSIVE CTE (round-4 upgrade from rows-only); the kept
    rows project (stream_id, ts, n_bytes) so the value hash is
    binary-free. Planted-cut + streaming-twin tests in
    tests/test_scene.py. The fused scan is Arrow-native (mapInArrow):
    histograms read the Arrow binary column through its offsets buffer,
    so per-row Python bytes objects never exist — measured 1.14x over
    the former pandas form (SCALE.md; chunk carry pinned in
    tests/test_keyed_scan.py)."""
    from video_stream_processing_spark.operators.scene import keyframe_gate_from_bytes

    events = load_table(spark, sf_dir, "events")
    frames = events.select(
        F.col("user_id").cast("string").alias("stream_id"),
        "ts",
        F.encode(F.repeat(F.col("event_type"), 40), "UTF-8").alias("frame_data"),
    ).withColumn("n_bytes", F.octet_length("frame_data").cast("long"))
    # n_bytes rides through the gate (the payload itself is dropped
    # inside the fused scan — the output schema is binary-free)
    return keyframe_gate_from_bytes(
        frames,
        payload_col="frame_data",
        key_col="stream_id",
        ts_col="ts",
        min_interval_ms=KEYFRAME_INTERVAL_MS,
        scene_threshold=0.3,
    ).select("stream_id", "ts", "n_bytes")
