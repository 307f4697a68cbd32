"""Streaming pipeline assembly — the reference job's dataflow
(VideoStreamProcessingJob.java:60-102) as Structured Streaming:

    source -> keyframe gate (stateful) -> inference UDF -> explode ->
    fact sink;  segments (stateful windows) -> object sink

The reference splits one operator's output two ways with a Flink side
output (OutputTag, §2.1 #21); Spark's analog is two independent queries
over a shared upstream, or a single foreachBatch that persists the batch
and fans out — we use the two-query form (each query has its own
checkpoint and can be restarted independently).

Sources: any streaming DataFrame with (stream_id, ts, scene_signal
[, embedding]) works. ``rate_frames`` builds the mock-producer analog
(VideoStreamMockProducer, §2.1 #6) from the rate source; ``file_frames``
replays a parquet directory (the deterministic test path). A real Kafka
deployment swaps in readStream.format("kafka") + from_json with the
same downstream, exactly like the reference's
KafkaSource + JSON deserializer (§2.1 #1-#2).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from video_stream_processing_spark.streaming.sinks import (
    write_detections_fact,
    write_segments,
)
from video_stream_processing_spark.streaming.stateful import (
    exact_segments_stream,
    keyframes_stream,
)

FRAME_SCHEMA = (
    "stream_id string, frame_id long, ts timestamp, scene_signal double, "
    "frame_data binary"
)


def rate_frames(
    spark: SparkSession, rows_per_second: int = 75, n_streams: int = 3
) -> DataFrame:
    """Synthetic frame stream at the reference's design point (25 fps x 3
    streams = 75 frames/s, BASELINE.md): rate source -> deterministic
    stream assignment + scene signal."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.concat(F.lit("camera_"), (F.col("value") % n_streams + 1).cast("string")).alias(
                "stream_id"
            ),
            F.col("value").alias("frame_id"),
            F.col("timestamp").alias("ts"),
            ((F.col("value") * 37 % 100) / 1.0).alias("scene_signal"),
            F.encode(F.col("value").cast("string"), "UTF-8").alias("frame_data"),
        )
    )


def file_frames(spark: SparkSession, path: str, schema: StructType | str = FRAME_SCHEMA) -> DataFrame:
    """Replay a parquet directory as a stream (deterministic tests)."""
    return spark.readStream.schema(schema).parquet(path)


def detection_query(
    frames: DataFrame,
    fact_dir: str,
    checkpoint_dir: str,
    min_interval_ms: int = 5_000,
    scene_threshold: float = 0.3,
    trigger_seconds: int = 5,
    watermark: str = "10 minutes",
    confidence_threshold: float = 0.5,
    nms_iou_threshold: float = 0.45,
):
    """Hot path: stateful keyframe gate -> (stub) detection -> NMS ->
    explode -> partitioned fact sink. The 5 s trigger mirrors the Doris
    sink's 5 s flush (DorisSinkBuilder.java:72); NMS runs inside the hot
    path like the reference's detect() (YOLODetector.java:170 applies
    applyNMS before returning). Returns the started StreamingQuery."""
    from video_stream_processing_spark.operators.detection import nms_udf, stub_detect_udf

    gated = keyframes_stream(
        frames.select("stream_id", "ts", "scene_signal"),
        min_interval_ms=min_interval_ms,
        scene_threshold=scene_threshold,
        watermark=watermark,
    ).where(F.col("is_keyframe"))

    # The embedding stand-in for pixels: derive a deterministic vector
    # from the signal so the UDF surface is exercised end to end.
    with_vec = gated.withColumn(
        "embedding",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: ((F.col("scene_signal") + i) % 7 - 3).cast("float") / 3.0,
        ),
    )
    detect = stub_detect_udf(confidence_threshold)
    nms = nms_udf(nms_iou_threshold)
    dets = with_vec.select(
        "stream_id",
        F.col("ts").alias("detection_time"),
        F.explode(nms(detect(F.col("embedding")))).alias("d"),
    ).select(
        "stream_id",
        "detection_time",
        F.col("d.object_class").alias("object_class"),
        F.col("d.confidence").alias("confidence"),
    )
    return (
        dets.writeStream.foreachBatch(write_detections_fact(fact_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append")
        .start()
    )


def segment_query(
    frames: DataFrame,
    segments_dir: str,
    checkpoint_dir: str,
    duration_ms: int = 180_000,
    encoder=None,
    trigger_seconds: int = 5,
    watermark: str = "10 minutes",
    segment_hook=None,
):
    """Archival path: exact (first-arrival-aligned, trigger-inclusive)
    segments -> optional per-segment hook -> pluggable encoder ->
    object-layout sink.

    ``segment_hook`` (DataFrame -> DataFrame) is the analog of the
    reference's pass-through VideoSegmentFunction (SURVEY §2.2 #13,
    S/function/VideoSegmentFunction.java:10-23 — a KeyedProcessFunction
    placeholder for "quality check, metadata extraction" that today
    relays unchanged): a declarative hook point on the segment stream
    before the sink; None keeps the reference's identity behavior."""
    segs = exact_segments_stream(
        frames.select("stream_id", "ts"), duration_ms=duration_ms, watermark=watermark
    )
    if segment_hook is not None:
        segs = segment_hook(segs)
    return (
        segs.writeStream.foreachBatch(write_segments(segments_dir, encoder))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append")
        .start()
    )


def attribution_join_stream(
    purchases: DataFrame,
    clicks: DataFrame,
    window_ms: int = 3_600_000,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to same-user
    clicks in the preceding ``window_ms`` — the streaming twin of the
    batch range join (plans/layer_b.py b34).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can expire join state (unbounded state otherwise).
    Late rows beyond the watermark drop; matched pairs emit in append
    mode once both sides' watermarks pass.
    """
    from pyspark.sql import functions as F

    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_ms // 1000} SECONDS")),
        "inner",
    ).select("p_user", "purchase_id", "click_id", "p_ts", "c_ts")


def curation_stream(
    docs: DataFrame,
    watermark: str = "10 minutes",
    dsir_model: list | None = None,
    qc_model: dict | None = None,
    langid_model: dict | None = None,
    html_col: str | None = None,
    unigram_vocab: dict | None = None,
) -> DataFrame:
    """Streaming twin of the batch curation pipeline (x35) over a
    document stream (doc_id, ts, text): normalization and the rule
    filter are the SAME codegen'd expressions the batch query uses
    (operators/text.py:normalize_col / curation_keep — one definition,
    two surfaces), and exact dedup becomes
    ``dropDuplicatesWithinWatermark`` on the md5 content hash, so the
    seen-hash state EXPIRES with the watermark instead of growing with
    stream history. That bounded-state contract is the honest streaming
    analog at 100 TB: a forever-exact dedup belongs to the batch job
    (x01/x17) or an external keyed store, not to operator state.

    Round-9 twins (VERDICT r8 task 6) ride along as STATELESS per-row
    projections on the incoming (pre-normalization) text — exactly the
    columns the batch queries emit:

    - ``gopher_keep``: x118's rule conjunction (operators/text.py:
      gopher_keep — shared expression, zero state);
    - ``dsir_log_weight`` / ``dsir_selected``: x116's importance weight
      under a FIXED model fit offline by dsir_fit_log_ratios and passed
      in as ``dsir_model`` (a 512-float broadcastable list; scoring is
      one constant-folded literal-array lookup per feature — no join,
      no state). Omitted when no model is supplied.
    - ``qc_score``: x119's trained-classifier quality score under a
      FIXED model fit offline by quality_classifier_fit and passed in
      as ``qc_model`` (same literal-array mechanics via
      quality_score_col — the batch query scores through the IDENTICAL
      column, so the two surfaces cannot drift). Omitted when no model
      is supplied; the per-source selection budget stays a batch
      concern (a quota needs the whole source, not a stream prefix).

    Round-11 twins (VERDICT r10 tasks 3/6):

    - ``predicted_lang``: x120's trigram naive-Bayes prediction under a
      FIXED model fit offline by nb_langid_fit and passed in as
      ``langid_model`` — the same literal log-prob arrays, scored as a
      stateless per-row fold (operators/text.py:nb_langid_score_col),
      so a streamed doc and the batch query agree label-for-label.
      Omitted when no model is supplied; model TRAINING stays a batch
      concern (it needs corpus-wide counts, not a stream prefix).
    - ``html_col``: when given, the incoming column holds raw markup
      and x127's extractor runs FIRST — main text is extracted inline
      (operators/html.py:main_text_col, a pure stateless expression)
      and every downstream stage (normalize, filters, models, dedup
      hash) sees extracted text, exactly like the batch extract->filter
      chain (x130).

    - ``unigram_vocab``: x129's tokenizer piece count under a FIXED
      x128-trained vocab, as the shared ``unigram_pieces_col``
      expression — emitted as ``n_pieces``.

    Emits (doc_id, ts, text_hash, n_tokens[, gopher_keep,
    dsir_log_weight, dsir_selected, qc_score, predicted_lang,
    n_pieces]) for kept, first-seen docs.
    """
    from video_stream_processing_spark.operators.html import main_text_col
    from video_stream_processing_spark.operators.text import (
        curation_keep,
        dsir_score_col,
        gopher_keep,
        nb_langid_score_col,
        normalize_col,
        quality_score_col,
        word_count,
    )

    if html_col is not None:
        docs = docs.select(
            "doc_id", "ts", main_text_col(html_col).alias("text")
        )
    extra = [gopher_keep("text").alias("gopher_keep")]
    extra_names = []
    if dsir_model is not None:
        w = dsir_score_col(dsir_model, "text")
        extra += [w.alias("dsir_log_weight"), (w > 0).alias("dsir_selected")]
        extra_names += ["dsir_log_weight", "dsir_selected"]
    if qc_model is not None:
        extra.append(quality_score_col(qc_model, "text").alias("qc_score"))
        extra_names.append("qc_score")
    if langid_model is not None:
        extra.append(
            nb_langid_score_col(langid_model, "text")["cand"].alias(
                "predicted_lang"
            )
        )
        extra_names.append("predicted_lang")
    if unigram_vocab is not None:
        # x129 twin: tokenizer piece count under a FIXED trained vocab
        # (operators/unigram.py:unigram_pieces_col — the same expression
        # the batch query computes n_pieces through; training stays a
        # batch concern, the stream only scores)
        from video_stream_processing_spark.operators.unigram import (
            unigram_pieces_col,
        )

        extra.append(unigram_pieces_col(unigram_vocab, "text").alias("n_pieces"))
        extra_names.append("n_pieces")
    d2 = docs.select("doc_id", "ts", normalize_col().alias("text"), *extra)
    kept = d2.where(curation_keep()).select(
        "doc_id",
        "ts",
        F.md5("text").alias("text_hash"),
        word_count().alias("n_tokens"),
        "gopher_keep",
        *extra_names,
    )
    return kept.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def fertility_stream(
    docs: DataFrame,
    unigram_vocab: dict,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Streaming twin of x134's tokenizer-fertility metric (VERDICT r11
    task 7): per-event-time-window pieces-per-word under a FIXED
    x128-trained vocab — the drift monitor that surfaces tokenizer
    health (a vocab fit to yesterday's distribution over-fragments
    tomorrow's) as data arrives. Scoring is the SAME stateless
    expressions the batch queries use (unigram_pieces_col for pieces,
    the TOKEN_RE word list for words — one definition, two surfaces),
    so a streamed window and the batch aggregate over the same rows
    cannot drift. The only state is the standard watermark-bounded
    windowed aggregation of four integer sums; fertility is the
    integer-ratio double x134 publishes, rounded to 4 dp. At scale this
    is a per-window O(1)-state monitor regardless of stream volume."""
    from video_stream_processing_spark.operators.bpe import _word_tokens
    from video_stream_processing_spark.operators.unigram import (
        unigram_pieces_col,
    )

    scored = docs.select(
        "doc_id",
        "ts",
        F.size(_word_tokens("text")).cast("long").alias("n_tokens"),
        unigram_pieces_col(unigram_vocab, "text").alias("n_pieces"),
    )
    return (
        scored.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.round(
                F.sum("n_pieces").cast("double") / F.sum("n_tokens").cast("double"),
                4,
            ).alias("fertility"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_docs",
            "n_words",
            "n_pieces",
            "fertility",
        )
    )


def _signature_stream(frames: DataFrame, make_sig) -> DataFrame:
    """(doc_id, ts, sig) from (doc_id, ts, payload) rows, computed inside
    one Arrow pass: ``make_sig()`` runs once per task on the executor
    (so codec imports stay worker-side) and returns the per-payload
    signature function; a payload it maps to None (undecodable, too
    short) is dropped."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sig_of = make_sig()
        for pdf in batches:
            sigs = [sig_of(blob) for blob in pdf["payload"]]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "ts": pdf["ts"], "sig": sigs}
            )

    return frames.mapInPandas(
        hash_batch, schema="doc_id long, ts timestamp, sig string"
    ).where(F.col("sig").isNotNull())


def _dhash_sig():
    from video_stream_processing_spark.functions.imagecodec import decode_image_bgr
    from video_stream_processing_spark.operators.multimodal import dhash64

    def sig(blob):
        img = decode_image_bgr(blob)
        return None if img is None else dhash64(img)

    return sig


def _afp_sig():
    from video_stream_processing_spark.functions.wavcodec import decode_wav
    from video_stream_processing_spark.operators.audio import afp64

    def sig(blob):
        decoded = decode_wav(bytes(blob))
        return None if decoded is None else afp64(decoded[0])

    return sig


def _clip_sig():
    from video_stream_processing_spark.operators.multimodal import make_clip_sig_kernel

    clip_sig = make_clip_sig_kernel()
    return lambda blob: clip_sig(bytes(blob))


def image_dedup_stream(
    frames: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of the image-dedup lane's exact-signature gate:
    arriving (doc_id, ts, payload) image frames are decoded + dHashed
    in-stream by the SAME production codec + hash the batch queries use
    (functions/imagecodec.decode_image_bgr + multimodal.dhash64 — one
    definition, two surfaces), undecodable/sub-grid payloads are
    dropped (decode-or-null), and a frame whose 64-bit signature was
    already seen inside the watermark is suppressed by
    ``dropDuplicatesWithinWatermark`` — the bounded-state gate that
    catches the exact re-encode/replay class (a byte-identical or
    losslessly re-encoded copy hashes identically) at ingest time.
    NEAR-dup pairing (Hamming <= 3) stays a stored-index concern —
    x138's incremental band join over the appended signature index is
    the batch step that runs per ingest; splitting the radius this way
    keeps stream state one fixed-width key per signature instead of
    4 band tables. Pixels never leave the Arrow pass; only (doc_id,
    ts, sig) flows into state."""

    hashed = _signature_stream(frames, _dhash_sig)
    return hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["sig"]
    )


def neardup_gate_stream(
    sig_stream: DataFrame,
    index_sig: DataFrame,
    watermark: str = "10 minutes",
    max_hamming: int = 3,
    n_bands: int = 4,
    broadcast_index: bool = False,
) -> DataFrame:
    """Modality-agnostic streaming NEAR-dup ingest gate over 64-bit
    signatures: an already-fingerprinted stream (doc_id, ts, sig —
    dHash, SimHash, audio energy-delta, video temporal... anything the
    batch lanes band with operators/dedup.py:banded_hamming_pairs) is
    gated against the STORED signature index (``index_sig``, x138's
    (doc_id, sig) shape) as a stream-STATIC anti join: the arriving
    signature is split into ``n_bands`` pigeonhole band keys (Manku et
    al. 2007 — any pair within Hamming n_bands - 1 agrees on at least
    one band), each band is an equi-join against the once-materialized
    banded index with a two-XOR+bit_count verify <= ``max_hamming``
    folded into the anti-join condition, so a jittered/re-encoded copy
    of ANY indexed item is suppressed at ingest. Survivors are then
    exact-deduped within the stream by ``dropDuplicatesWithinWatermark``
    (bounded state: one fixed-width key per signature; near-dup pairing
    WITHIN an ingest window remains the incremental batch join over the
    appended index, x138 — splitting the radius this way keeps stream
    state flat while the static side carries the corpus).

    At 100 TB the static side is the banded signature index ((band,
    bkey, two 32-bit halves) — fixed-width rows, partitionable by band
    key, appended per ingest); each micro-batch costs ``n_bands`` hash
    anti-joins on band keys, no stream-stream join, no all-pairs.

    ``broadcast_index=True`` hints each band slice broadcast into the
    anti-joins — measured 1.8x at the index-rebuild knee (1M-signature
    index vs a 100k-row batch: 8.3 s -> 4.6 s warm; SCALE.md) because
    the probe side stops shuffling per micro-batch. Semantics are
    identical (a plan hint only). Keep the default False: past
    driver-memory scale the real fix is the stored index's band-key
    partitioning, not a broadcast."""
    if 64 % n_bands != 0:
        raise ValueError(
            f"n_bands must divide 64 (got {n_bands}): a non-divisor "
            "leaves trailing signature bits out of every band key and "
            "silently voids the pigeonhole recall guarantee"
        )
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds n_bands-1={n_bands - 1}: "
            "a pair at that distance can differ in every band, so the "
            "band join silently loses recall; raise n_bands or lower "
            "max_hamming"
        )
    width = 64 // n_bands
    hashed = sig_stream.select(
        "doc_id",
        "ts",
        "sig",
        F.conv(F.substring("sig", 1, 32), 2, 10).cast("long").alias("h1"),
        F.conv(F.substring("sig", 33, 32), 2, 10).cast("long").alias("h2"),
    ).withWatermark("ts", watermark)

    # Static side banded ONCE (the x106 materialize-once posture) —
    # per-band slices are filters over the checkpointed table, not
    # re-runs of the index scan.
    idx = (
        index_sig.select(
            F.conv(F.substring("sig", 1, 32), 2, 10).cast("long").alias("ih1"),
            F.conv(F.substring("sig", 33, 32), 2, 10).cast("long").alias("ih2"),
            F.explode(F.array(*[F.lit(k) for k in range(n_bands)])).alias("band"),
            "sig",
        )
        .withColumn("ibkey", F.expr(f"substring(sig, band * {width} + 1, {width})"))
        .select("band", "ibkey", "ih1", "ih2")
        .localCheckpoint(eager=True)
    )
    survivors = hashed
    for k in range(n_bands):
        idx_k = idx.where(F.col("band") == k).drop("band")
        if broadcast_index:
            idx_k = F.broadcast(idx_k)
        ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("ih1"))) + F.bit_count(
            F.col("h2").bitwiseXOR(F.col("ih2"))
        )
        survivors = survivors.join(
            idx_k,
            (F.expr(f"substring(sig, {k * width + 1}, {width})") == F.col("ibkey"))
            & (ham <= max_hamming),
            "left_anti",
        )
    return survivors.dropDuplicatesWithinWatermark(["sig"]).select(
        "doc_id", "ts", "sig"
    )


def image_neardup_dedup_stream(
    frames: DataFrame,
    index_sig: DataFrame,
    watermark: str = "10 minutes",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Streaming NEAR-dup ingest gate for the image lane: arriving
    (doc_id, ts, payload) frames are decoded + dHashed in-stream (same
    codec + hash as the batch queries), then gated by
    ``neardup_gate_stream`` against the stored image signature index —
    the radius-3 class that ``image_dedup_stream``'s exact-signature
    gate lets through is suppressed at ingest. Pixels never leave the
    Arrow pass; only (doc_id, ts, sig) flows into the joins and
    state."""

    hashed = _signature_stream(frames, _dhash_sig)
    return neardup_gate_stream(
        hashed, index_sig, watermark=watermark, max_hamming=max_hamming,
        n_bands=n_bands,
    )


def audio_neardup_dedup_stream(
    clips: DataFrame,
    index_sig: DataFrame,
    watermark: str = "10 minutes",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Streaming NEAR-dup ingest gate for the audio lane: arriving
    (doc_id, ts, payload) WAV clips are decoded + fingerprinted
    in-stream (functions/wavcodec.decode_wav + operators/audio.afp64 —
    the same decoder + Haitsma-Kalker energy-delta hash the batch x139
    lane uses), then gated by ``neardup_gate_stream`` against the
    stored audio signature index: an amplitude-jittered or re-encoded
    copy of ANY indexed clip is suppressed at ingest. Undecodable or
    too-short clips yield no signature and are dropped (decode-or-null).
    Audio bytes never leave the Arrow pass; only (doc_id, ts, sig)
    flows into the joins and state."""

    hashed = _signature_stream(clips, _afp_sig)
    return neardup_gate_stream(
        hashed, index_sig, watermark=watermark, max_hamming=max_hamming,
        n_bands=n_bands,
    )


def video_neardup_dedup_stream(
    clips: DataFrame,
    index_sig: DataFrame,
    watermark: str = "10 minutes",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Streaming NEAR-dup ingest gate for the video lane — the last of
    the four modalities onto ``neardup_gate_stream``: arriving
    (doc_id, ts, payload) MJPEG clips are demuxed + decoded +
    temporally fingerprinted in-stream (operators/multimodal.py:
    video_fingerprints' EOI-boundary demux, production JPEG decode,
    sign-of-mean-luma-delta bits — literally the same Arrow kernel the
    batch x140 lane uses, applied per micro-batch), then gated against
    the stored video signature index: a re-encoded or mildly regraded
    copy of ANY indexed clip is suppressed at ingest. Clips that do not
    demux to exactly VFP_FRAMES decodable frames yield no signature and
    drop (decode-or-null). Clip bytes and pixels never leave the Arrow
    pass; only (doc_id, ts, sig) flows into the joins and state."""
    hashed = _signature_stream(clips, _clip_sig)
    return neardup_gate_stream(
        hashed, index_sig, watermark=watermark, max_hamming=max_hamming,
        n_bands=n_bands,
    )


def text_neardup_dedup_stream(
    docs: DataFrame,
    index_sig: DataFrame,
    watermark: str = "10 minutes",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Streaming NEAR-dup ingest gate for the TEXT lane — the fourth
    modality onto ``neardup_gate_stream`` (VERDICT r13 task 3): arriving
    (doc_id, ts, text) documents are tokenized + SimHashed in-stream
    with the IDENTICAL Arrow kernel the batch x78 lane uses
    (operators/text.py:simhash_udf — the md5 bit contract, distinct
    whitespace tokens, sign-sum fold), then gated against the stored
    text signature index: a lightly token-jittered copy of ANY indexed
    document (Hamming <= ``max_hamming``, Charikar 2002's near-dup
    radius) is suppressed at ingest. Null/whitespace-only documents
    carry no content signal and drop BEFORE hashing (the decode-or-null
    analog: the kernel's tokenless output is the constant "0"*64, which
    would alias every empty doc into one near-dup clique, not a
    fingerprint). Document bodies never enter the joins or state — only
    (doc_id, ts, sig) flows past the Arrow pass, the same fixed-width
    posture as the other three wrappers."""
    from video_stream_processing_spark.operators.text import simhash_udf

    hashed = (
        docs.where(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select("doc_id", "ts", simhash_udf(F.col("text")).alias("sig"))
    )
    return neardup_gate_stream(
        hashed, index_sig, watermark=watermark, max_hamming=max_hamming,
        n_bands=n_bands,
    )


def incremental_dedup_stream(
    new_docs: DataFrame,
    existing_corpus: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of x42's incremental-ingest dedup: each arriving
    document is content-hashed, anti-joined against the EXISTING
    corpus's hash set (stream-static join — the static side is its md5
    column only, the bodies are never loaded), then deduped within the
    stream itself by ``dropDuplicatesWithinWatermark`` so a shard
    replayed inside the watermark is emitted exactly once and the
    seen-hash state still EXPIRES (bounded state, the same contract as
    curation_stream).

    At 100 TB the static side is the corpus's hash index (a fixed-width
    column scan, or a pre-built bucketed hash table); the stream-static
    join broadcasts or hash-joins per micro-batch without shuffling the
    stream on anything wider than the md5. Pair with
    sinks.write_docs_idempotent for end-to-end exactly-once
    (plans/extensions.py:x42 is the batch form).

    Input: streaming (doc_id, ts, text); output (doc_id, ts, text_hash)
    for first-seen, not-in-corpus docs.
    """
    seen = existing_corpus.select(F.md5("text").alias("__corpus_hash")).distinct()
    arriving = new_docs.select(
        "doc_id", "ts", F.md5("text").alias("text_hash")
    )
    fresh = (
        arriving.join(seen, arriving.text_hash == seen.__corpus_hash, "left")
        .where(F.col("__corpus_hash").isNull())
        .drop("__corpus_hash")
    )
    return fresh.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def decontaminate_stream(
    new_docs: DataFrame,
    bench: DataFrame,
    k: int = 3,
    min_shared: int = 5,
) -> DataFrame:
    """Streaming twin of the decontamination check (x26/x49): every
    arriving document is screened against the static benchmark set
    BEFORE it can enter the training corpus — the ingest-time guard the
    batch queries run retroactively.

    Stateless by construction (no stream aggregation, no watermark
    state): the bench side collapses to one (bench_id, shingle-set
    array) row per eval doc — eval sets are bounded, this is the same
    broadcast-ability assumption as x26 — and each arriving doc pays
    one broadcast cross join + `array_intersect` per bench doc, all
    JVM-side. A pair is flagged when the distinct-shingle overlap
    reaches ``min_shared``. For a bench set past broadcast size, run
    x49's bitset-gated batch form instead.

    Input: streaming (doc_id, ts, text); output (doc_id, ts, bench_id,
    shared) for flagged pairs.
    """
    from video_stream_processing_spark.operators.text import shingles

    bench_sets = bench.select(
        F.col("doc_id").alias("bench_id"),
        F.array_distinct(shingles("text", k)).alias("bench_shingles"),
    )
    arriving = new_docs.select(
        "doc_id", "ts", F.array_distinct(shingles("text", k)).alias("doc_shingles")
    )
    return (
        arriving.crossJoin(F.broadcast(bench_sets))
        .select(
            "doc_id",
            "ts",
            "bench_id",
            F.size(F.array_intersect("doc_shingles", "bench_shingles"))
            .cast("long")
            .alias("shared"),
        )
        .where(F.col("shared") >= min_shared)
    )


def covariance_partials_sink(emb_stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """Streaming maintenance of the PCA sufficient statistics: each
    micro-batch of arriving embeddings appends ITS 2080-row covariance
    partial table (operators/stats.py:covariance_shard_partials) to a
    parquet directory; readers merge + finish on demand
    (merge_covariance_partials / finish_covariance) for an
    always-current whole-corpus covariance WITHOUT re-scanning history.
    The same stored-partials discipline as x71's incremental view
    refresh and x106's appended LSH band index, applied to x109's
    statistics.

    State: NONE in the streaming engine (stateless foreachBatch) — the
    accumulated partial table on storage IS the state, bounded at
    2080 rows per micro-batch regardless of batch size. Exactness: the
    partial sums are exact decimals, so merge order cannot change a
    bit (tests/test_stats_twin.py pins shard-merge losslessness;
    tests/test_streaming_covariance.py pins stream == batch)."""
    from video_stream_processing_spark.operators.stats import (
        covariance_shard_partials,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            covariance_shard_partials(batch_df)
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        emb_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def quality_histogram_sink(doc_stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """Streaming maintenance of the per-source quality-prune statistics
    (x112): each micro-batch of arriving documents appends ITS
    (source, q, cnt) quality histogram (operators/text.py:
    quality_histogram) to a parquet directory; readers merge + decide
    on demand (merge_quality_histograms -> quality_prune_report) for an
    always-current per-source quantile cut WITHOUT re-scanning
    history. Same stored-partials discipline as covariance_partials_sink
    and x106's appended band index.

    State: NONE in the streaming engine (stateless foreachBatch) — the
    stored histogram partials ARE the state, bounded by |sources| x
    score-resolution bins per micro-batch. Exactness: integer counts
    merge losslessly in any order, so the decision recomputed from
    partials equals the batch report bit-for-bit."""
    from video_stream_processing_spark.operators.text import quality_histogram

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            quality_histogram(batch_df)
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        doc_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def flagship_job_stream(
    frames_stream: DataFrame,
    index_sig: DataFrame,
    frames_static: DataFrame,
    detect_udf,
    fact_dir: str,
    segments_dir: str,
    checkpoint_root: str,
    min_interval_ms: int = 5_000,
    scene_threshold: float = 0.3,
    segment_ms: int = 180_000,
    watermark: str = "10 minutes",
    encoder=None,
    gate_max_hamming: int = 3,
    gate_n_bands: int = 4,
):
    """The reference's WHOLE job as ONE streaming graph, with the
    near-dup ingest gate in front (VERDICT r13 task 7):

        kafka-shaped frames (doc_id, ts, payload) ->
        image_neardup_dedup_stream (stored-index band anti-join +
        watermark-bounded exact gate) -> stream-static re-join of
        (stream_id, frame_id, payload) by doc_id (the pull-from-object-
        storage pattern) -> stateful byte-histogram keyframe gate ->
        detect UDF -> NMS/explode -> idempotent Doris-fact sink
        (VideoStreamProcessingJob.java:60-88)
      + segment side output: every gated frame -> exact unaligned
        segments -> idempotent object-layout sink (:89-102).

    The Flink side output (OutputTag, SURVEY §2.1 #21) maps to two
    queries over the shared gated upstream — each re-executes the gate
    deterministically against its own checkpoint, so both sinks see the
    identical survivor set and either query can be restarted alone.
    PRECONDITION of that survivor-set equality: the source replays the
    same rows into the same micro-batch boundaries for both queries (a
    file source, or Kafka with replayed offsets and identical triggers).
    With nondeterministic batching the two queries' watermarks can
    advance differently, so dropDuplicatesWithinWatermark state eviction
    — and hence the survivor set near the watermark boundary — could
    diverge; a deployment that cannot guarantee deterministic batching
    should gate ONCE into an intermediate topic/table consumed by both
    queries instead. Chained stateful ops
    (dropDuplicatesWithinWatermark -> applyInPandasWithState) run in
    one append-mode query — supported in Spark 4's
    multi-stateful-operator model; pinned by the flagship e2e test
    INCLUDING a mid-stream checkpoint restart of both queries.

    Scale posture: the gate's static side is the banded stored index
    (fixed-width, partitionable by band key); pixels cross the plan
    only inside Arrow passes (gate dHash; keyframe histogram; detect),
    never a shuffle — the re-join pulls payloads by key per micro-batch
    exactly as a production job re-reads frames from object storage.
    Returns (fact_query, segments_query), both started."""
    from video_stream_processing_spark.streaming.sinks import (
        write_detections_fact_idempotent,
    )
    from video_stream_processing_spark.streaming.stateful import (
        keyframes_from_bytes_stream,
    )

    survivors = image_neardup_dedup_stream(
        frames_stream.select("doc_id", "ts", "payload"),
        index_sig,
        watermark=watermark,
        max_hamming=gate_max_hamming,
        n_bands=gate_n_bands,
    )
    enriched = survivors.drop("sig").join(
        frames_static.select("doc_id", "stream_id", "frame_id", "payload"),
        "doc_id",
    )

    # watermark=None on both downstream stateful ops: the gate already
    # defined the event-time watermark; redefining one downstream of a
    # stateful operator is an AnalysisException in the multi-stateful
    # model, and inheriting keeps the whole graph on ONE time frontier.
    gated = keyframes_from_bytes_stream(
        enriched.select("stream_id", "ts", F.col("payload").alias("frame_data")),
        min_interval_ms=min_interval_ms,
        scene_threshold=scene_threshold,
        watermark=None,
        histogram="decoded",
    ).where(F.col("is_keyframe"))
    keyframes = gated.select("stream_id", "ts").join(
        frames_static.select(
            "stream_id", "ts", "frame_id", F.col("payload").alias("frame_data")
        ),
        ["stream_id", "ts"],
    )
    # Full 10-column Doris fact (DorisSinkBuilder.java:108-121 — the
    # same shape the batch lane a03/a07 lands): frame_id rides the
    # payload re-join, bbox comes from the detect struct, frame_url is
    # constant-empty exactly like the reference's unpopulated field
    # (SURVEY §2.6(f)).
    fact = keyframes.select(
        "stream_id",
        F.col("ts").alias("detection_time"),
        "frame_id",
        F.explode(detect_udf(F.col("frame_data"))).alias("d"),
    ).select(
        "stream_id",
        "detection_time",
        "frame_id",
        F.col("d.object_class").alias("object_class"),
        F.col("d.confidence").alias("confidence"),
        F.col("d.bbox.x1").alias("bbox_x1"),
        F.col("d.bbox.y1").alias("bbox_y1"),
        F.col("d.bbox.x2").alias("bbox_x2"),
        F.col("d.bbox.y2").alias("bbox_y2"),
        F.lit("").alias("frame_url"),
    )
    fact_query = (
        fact.writeStream.foreachBatch(write_detections_fact_idempotent(fact_dir))
        .option("checkpointLocation", f"{checkpoint_root}/fact")
        .outputMode("append")
        .start()
    )
    segs = exact_segments_stream(
        enriched.select("stream_id", "ts"), duration_ms=segment_ms,
        watermark=None,
    )
    seg_query = (
        segs.writeStream.foreachBatch(write_segments(segments_dir, encoder, idempotent=True))
        .option("checkpointLocation", f"{checkpoint_root}/segments")
        .outputMode("append")
        .start()
    )
    return fact_query, seg_query
