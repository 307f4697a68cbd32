"""Multimodal column plumbing — images/audio/video as opaque BINARY
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

This is the engine analog of the reference's binary frame payload
(VideoFrame.frameData byte[], /root/reference/src/main/java/com/video/
streaming/model/VideoFrame.java:39) and its decode step
(ImageUtils.decodeImage, util/ImageUtils.java:23-36).

Two decode bodies behind the same mapInPandas plumbing:

- ``fake_decode_meta``: deterministic arithmetic on the raw bytes
  (length/first-byte derived) — SQL-expressible, so this variant is the
  one the DuckDB oracle checks (x20);
- ``real_decode_meta``: REAL decoding via the dependency-free numpy
  codec (functions/imagecodec.py — BMP/PPM native, Pillow only as an
  optional fallback for JPEG/PNG). Undecodable bytes yield null
  dimensions, matching the reference's null-on-failure contract
  (ImageUtils.decodeImage, util/ImageUtils.java:23-36).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, channels int, format string"
)


def with_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary column (UTF-8 bytes of the text stand
    in for JPEG bytes — same BinaryType plumbing end to end)."""
    return docs.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def fake_decode_meta(df: DataFrame) -> DataFrame:
    """mapInPandas "decode": bytes -> typed metadata.

    Deterministic fake: width = n_bytes % 640 + 16, height = first byte
    value + 16, channels = 3, format = 'fake-jpeg'. Bytes never leave the
    executor; the output drops the payload column (UDF-boundary
    discipline — SURVEY.md §4.2: project binary away outside the UDF).
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payload.map(len).astype("int64"),
                    "width": payload.map(lambda b: len(b) % 640 + 16).astype("int32"),
                    "height": payload.map(lambda b: (b[0] if len(b) else 0) + 16).astype(
                        "int32"
                    ),
                    "channels": 3,
                    "format": "fake-jpeg",
                }
            )

    return df.mapInPandas(decode, schema=META_SCHEMA)


def real_decode_meta(df: DataFrame) -> DataFrame:
    """Real image decode: bytes -> actual pixel dimensions.

    Same META_SCHEMA and mapInPandas plumbing as ``fake_decode_meta``,
    but width/height/channels come from genuinely decoding the payload
    (functions/imagecodec.py — pure numpy, no image library needed for
    BMP/PPM). Decode failures yield null dimensions and format
    'undecodable' (the reference treats undecodable frames as skip /
    similarity 1.0 — KeyFrameExtractor.java:94,107; ImageUtils.java:33).
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from video_stream_processing_spark.functions.imagecodec import (
            decode_image_bgr,
            sniff_format,
        )

        for pdf in batches:
            rows = {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0).astype("int64"),
            }
            widths, heights, channels, formats = [], [], [], []
            for blob in pdf["payload"]:
                img = decode_image_bgr(blob)
                if img is None:
                    widths.append(None)
                    heights.append(None)
                    channels.append(None)
                    formats.append("undecodable")
                else:
                    h, w, c = img.shape
                    widths.append(w)
                    heights.append(h)
                    channels.append(c)
                    # A container the sniffer doesn't know but a gated
                    # library decoded (e.g. GIF via Pillow) is 'other',
                    # never NULL — NULL format is reserved for no-row.
                    formats.append(sniff_format(blob) or "other")
            rows["width"] = pd.array(widths, dtype="Int32")
            rows["height"] = pd.array(heights, dtype="Int32")
            rows["channels"] = pd.array(channels, dtype="Int32")
            rows["format"] = formats
            yield pd.DataFrame(rows)

    return df.mapInPandas(decode, schema=META_SCHEMA)


STATS_SCHEMA = (
    "doc_id long, width int, height int, channels int, format string, "
    "px_min int, px_max int"
)


def real_decode_stats(df: DataFrame) -> DataFrame:
    """Real decode + pixel statistics: bytes -> dimensions AND decoded
    pixel min/max.

    Same Arrow-batched mapInPandas plumbing as ``real_decode_meta`` but
    the output proves the DECODED VALUES, not just the header parse —
    x43 encodes flat even-gray JPEGs whose pixels round-trip exactly
    (DC-only blocks; functions/jpegcodec.py), so a DuckDB oracle can
    predict px_min == px_max arithmetically. Undecodable -> null stats,
    format 'undecodable' (ImageUtils.java:33 null contract)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from video_stream_processing_spark.functions.imagecodec import (
            decode_image_bgr,
            sniff_format,
        )

        for pdf in batches:
            widths, heights, channels, formats, mins, maxs = [], [], [], [], [], []
            for blob in pdf["payload"]:
                img = decode_image_bgr(blob)
                if img is None:
                    widths.append(None)
                    heights.append(None)
                    channels.append(None)
                    formats.append("undecodable")
                    mins.append(None)
                    maxs.append(None)
                else:
                    h, w, c = img.shape
                    widths.append(w)
                    heights.append(h)
                    channels.append(c)
                    formats.append(sniff_format(blob) or "other")
                    mins.append(int(img.min()))
                    maxs.append(int(img.max()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "channels": pd.array(channels, dtype="Int32"),
                    "format": formats,
                    "px_min": pd.array(mins, dtype="Int32"),
                    "px_max": pd.array(maxs, dtype="Int32"),
                }
            )

    return df.mapInPandas(decode, schema=STATS_SCHEMA)


def frame_sample(
    frames: DataFrame, key_col: str = "stream_id", ts_col: str = "ts", every_n: int = 10
) -> DataFrame:
    """Every-Nth-frame sampling per stream (video frame-sample analog):
    one window shuffle on the stream key, keep ranks 1, 1+N, 1+2N, ...
    ((rn-1) % N == 0 — degrades correctly to all rows at every_n=1)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col)
    return (
        frames.withColumn("rn", F.row_number().over(w))
        .where(((F.col("rn") - 1) % every_n) == 0)
        .drop("rn")
    )


def mjpeg_frames_stats(df: DataFrame) -> DataFrame:
    """Split a concatenated-JPEG ("MJPEG over the wire") BINARY column
    into frames and decode each — the video-ingest analog of the
    reference's per-frame pipeline when a producer batches whole clips
    instead of single frames.

    Frame boundary rule: split after each EOI marker (FF D9). Sound for
    baseline JPEG streams because entropy-coded data byte-stuffs FF as
    FF 00 (a literal FF D9 cannot occur inside a scan), and our fixed
    header segments carry no FF bytes — the same rule real MJPEG/HTTP
    demuxers use. One Arrow-batched mapInPandas does split AND decode:
    a row fans out to its frames in-place, so the (large) binary never
    crosses a shuffle and no intermediate frame table materializes.
    Emits (doc_id, frame_id, width, height, px_min, px_max); an
    undecodable frame yields null stats (ImageUtils.java:33 contract)."""

    def split_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from video_stream_processing_spark.functions.imagecodec import decode_image_bgr

        for pdf in batches:
            doc_ids, frame_ids = [], []
            widths, heights, mins, maxs = [], [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(blob)
                start = 0
                frame_id = 0
                while start < len(data):
                    eoi = data.find(b"\xff\xd9", start)
                    if eoi < 0:
                        break
                    frame = data[start : eoi + 2]
                    start = eoi + 2
                    img = decode_image_bgr(frame)
                    doc_ids.append(doc_id)
                    frame_ids.append(frame_id)
                    if img is None:
                        widths.append(None)
                        heights.append(None)
                        mins.append(None)
                        maxs.append(None)
                    else:
                        h, w, _ = img.shape
                        widths.append(w)
                        heights.append(h)
                        mins.append(int(img.min()))
                        maxs.append(int(img.max()))
                    frame_id += 1
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(doc_ids, dtype="Int64"),
                    "frame_id": pd.array(frame_ids, dtype="Int32"),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "px_min": pd.array(mins, dtype="Int32"),
                    "px_max": pd.array(maxs, dtype="Int32"),
                }
            )

    return df.mapInPandas(
        split_decode,
        schema="doc_id long, frame_id int, width int, height int, px_min int, px_max int",
    )


SUM_STATS_SCHEMA = (
    "doc_id long, width int, height int, channels int, format string, "
    "px_min int, px_max int, px_sum long"
)


def real_decode_stats_sum(df: DataFrame) -> DataFrame:
    """``real_decode_stats`` plus the exact pixel SUM — for LOSSLESS
    codecs (PNG, BMP) the sum pins every pixel value at every position:
    any single-pixel reconstruction error almost surely shifts it, so a
    DuckDB oracle replaying the render formula checks the whole decode,
    not just extremes. Same Arrow-batched plumbing and null contract."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from video_stream_processing_spark.functions.imagecodec import (
            decode_image_bgr,
            sniff_format,
        )

        for pdf in batches:
            widths, heights, channels, formats = [], [], [], []
            mins, maxs, sums = [], [], []
            for blob in pdf["payload"]:
                img = decode_image_bgr(blob)
                if img is None:
                    widths.append(None)
                    heights.append(None)
                    channels.append(None)
                    formats.append("undecodable")
                    mins.append(None)
                    maxs.append(None)
                    sums.append(None)
                else:
                    h, w, c = img.shape
                    widths.append(w)
                    heights.append(h)
                    channels.append(c)
                    formats.append(sniff_format(blob) or "other")
                    mins.append(int(img.min()))
                    maxs.append(int(img.max()))
                    sums.append(int(img.astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "channels": pd.array(channels, dtype="Int32"),
                    "format": formats,
                    "px_min": pd.array(mins, dtype="Int32"),
                    "px_max": pd.array(maxs, dtype="Int32"),
                    "px_sum": pd.array(sums, dtype="Int64"),
                }
            )

    return df.mapInPandas(decode, schema=SUM_STATS_SCHEMA)


MP4_META_SCHEMA = (
    "doc_id long, duration_ms long, timescale int, n_tracks int, "
    "width int, height int"
)


def mp4_probe_meta(df: DataFrame) -> DataFrame:
    """Catalog MP4 objects by container metadata — the box-walk probe
    (functions/mp4probe.py) over an opaque BINARY column: movie duration
    (normalized to ms), timescale, track count, first video track's
    pixel dimensions. No frame decode, no shuffle; malformed payloads
    yield null metadata (the decode-or-null contract). This is the
    ingest-side catalog pass for the reference's own MinIO segment
    bucket (`videos/{s}/{yyyyMMdd/HH}/{s}_{ms}.mp4`)."""

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from video_stream_processing_spark.functions.mp4probe import probe_mp4

        for pdf in batches:
            durs, scales, tracks, widths, heights = [], [], [], [], []
            for blob in pdf["payload"]:
                m = probe_mp4(blob)
                if m is None:
                    durs.append(None)
                    scales.append(None)
                    tracks.append(None)
                    widths.append(None)
                    heights.append(None)
                else:
                    durs.append(m.duration * 1000 // m.timescale)
                    scales.append(m.timescale)
                    tracks.append(m.n_tracks)
                    widths.append(m.width)
                    heights.append(m.height)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "duration_ms": pd.array(durs, dtype="Int64"),
                    "timescale": pd.array(scales, dtype="Int32"),
                    "n_tracks": pd.array(tracks, dtype="Int32"),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                }
            )

    return df.mapInPandas(probe, schema=MP4_META_SCHEMA)


WDS_SCHEMA = (
    "doc_id long, sample_key string, width int, height int, caption_len int"
)


def webdataset_samples(df: DataFrame) -> DataFrame:
    """WebDataset shard ingest — the standard packaging for image-text
    training corpora: each row is a TAR archive of samples, where files
    sharing a basename stem form one sample (`00001.png` + `00001.txt`).
    One Arrow-batched mapInPandas opens the tar (stdlib tarfile over the
    in-memory bytes), groups members by stem, REALLY decodes each image
    (decode_image_bgr: PNG/JPEG/BMP native) for its dimensions, and
    measures the caption — emitting one typed row per sample, in place.
    Unreadable archives contribute no rows (the frame-table convention,
    x55); an undecodable image inside a readable tar yields null dims
    (decode-or-null). The shard blob never crosses a shuffle; at 100 TB
    this is the scan-side sample-extraction pass WebDataset loaders do
    on every epoch."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import tarfile

        from video_stream_processing_spark.functions.imagecodec import (
            decode_image_bgr,
        )

        for pdf in batches:
            doc_ids, keys, widths, heights, cap_lens = [], [], [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    tar = tarfile.open(fileobj=io.BytesIO(bytes(blob)))
                    members = {m.name: tar.extractfile(m).read() for m in tar if m.isfile()}
                except (tarfile.TarError, OSError, AttributeError):
                    continue
                samples: dict[str, dict[str, bytes]] = {}
                for name, data in members.items():
                    stem, _, ext = name.rpartition(".")
                    if not stem:
                        continue
                    samples.setdefault(stem, {})[ext] = data
                for stem in sorted(samples):
                    parts = samples[stem]
                    img = None
                    for ext in ("png", "jpg", "jpeg", "bmp", "ppm"):
                        if ext in parts:
                            img = decode_image_bgr(parts[ext])
                            break
                    cap = parts.get("txt")
                    doc_ids.append(doc_id)
                    keys.append(stem)
                    if img is None:
                        widths.append(None)
                        heights.append(None)
                    else:
                        widths.append(img.shape[1])
                        heights.append(img.shape[0])
                    cap_lens.append(
                        len(cap.decode("utf-8", "replace")) if cap is not None else None
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(doc_ids, dtype="Int64"),
                    "sample_key": pd.array(keys, dtype="string"),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "caption_len": pd.array(cap_lens, dtype="Int32"),
                }
            )

    return df.mapInPandas(extract, schema=WDS_SCHEMA)


# --------------------------------------------------------------------------
# Perceptual hashing — image-CONTENT near-dup (x135/x137), the pixel
# sibling of the text SimHash (x78). LAION/DataComp-style image-text
# curation dedups PIXELS, not captions; the reference engine has no
# image dedup at all (its frames pass through opaque —
# VideoFrame.frameData byte[], model/VideoFrame.java:39), so this is
# part of the LLM-training-data surface the build brief adds.
# --------------------------------------------------------------------------

DHASH_GRID_H, DHASH_GRID_W = 8, 9  # 8 rows x 8 horizontal diffs = 64 bits


def dhash64(img) -> str | None:
    """64-bit difference hash (dHash, Krawetz 2013 "Kind of Like That")
    of an (H, W, 3) uint8 BGR image, as a '0'/'1' bit string.

    Entirely integer arithmetic so a SQL oracle can replay it exactly:
    integer luma ((299R + 587G + 114B) // 1000), an 8x9 area grid with
    integer cell boundaries (cell (gr, gc) covers rows
    [gr*H//8, (gr+1)*H//8) x cols [gc*W//9, (gc+1)*W//9)), and each bit
    compares horizontally adjacent cell MEANS by cross-multiplied sums
    (sum_l * n_r < sum_r * n_l — exact, no floats). Uniform brightness
    shift adds the same constant to every cell mean, so the comparisons
    — and the hash — are invariant to it; that is the property that
    makes dHash a NEAR-dup signature rather than a checksum. Images
    smaller than the grid return None (no meaningful cells)."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    if h < DHASH_GRID_H or w < DHASH_GRID_W:
        return None
    px = img.astype(np.int64)
    luma = (299 * px[:, :, 2] + 587 * px[:, :, 1] + 114 * px[:, :, 0]) // 1000
    rb = [gr * h // DHASH_GRID_H for gr in range(DHASH_GRID_H + 1)]
    cb = [gc * w // DHASH_GRID_W for gc in range(DHASH_GRID_W + 1)]
    sums = np.array(
        [
            [int(luma[rb[i] : rb[i + 1], cb[j] : cb[j + 1]].sum()) for j in range(DHASH_GRID_W)]
            for i in range(DHASH_GRID_H)
        ],
        dtype=np.int64,
    )
    cnts = np.array(
        [
            [(rb[i + 1] - rb[i]) * (cb[j + 1] - cb[j]) for j in range(DHASH_GRID_W)]
            for i in range(DHASH_GRID_H)
        ],
        dtype=np.int64,
    )
    bits = sums[:, :-1] * cnts[:, 1:] < sums[:, 1:] * cnts[:, :-1]
    return "".join("1" if b else "0" for b in bits.ravel())


DHASH_SCHEMA = "doc_id long, sig string"


def dhash_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, payload binary) -> (doc_id, sig) 64-bit dHash table via
    the production decoder (functions/imagecodec.decode_image_bgr — the
    ImageUtils.decodeImage analog, util/ImageUtils.java:23-36).
    Undecodable or sub-grid images yield sig NULL (decode-or-null
    contract). One Arrow-batched mapInPandas; pixels never cross a
    shuffle — only the fixed-width 64-char signature leaves the scan
    task, which is what makes the downstream banded join 100 TB-safe
    (the stored index is (doc_id, 8 bytes), not images)."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from video_stream_processing_spark.functions.imagecodec import (
            decode_image_bgr,
        )

        for pdf in batches:
            sigs = []
            for blob in pdf["payload"]:
                img = decode_image_bgr(blob)
                sigs.append(None if img is None else dhash64(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return df.mapInPandas(hash_batch, schema=DHASH_SCHEMA)


CURATION_SCHEMA = "doc_id long, sig string, caption string"


def webdataset_curation_rows(df: DataFrame) -> DataFrame:
    """(doc_id, payload tar-bytes) -> (doc_id, sig, caption): the
    extraction pass of the end-to-end multimodal curation lane (x137).
    One Arrow-batched mapInPandas does the whole per-shard pipeline in
    place — tar walk (x65's stem-grouping rule), REAL image decode
    (decode_image_bgr), dhash64 fold to the 64-bit signature, caption
    UTF-8 decode — so pixels and archive bytes never leave the scan
    task; only the fixed-width signature and the caption text flow on.
    Unreadable archives contribute no rows (x65's contract); a readable
    shard with an undecodable/sub-grid image yields sig NULL; a missing
    caption yields caption NULL. One (image, caption) sample per shard
    — the LAION/DataComp row shape; multi-sample shards emit the
    lexicographically first stem's sample (deterministic)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import tarfile

        from video_stream_processing_spark.functions.imagecodec import (
            decode_image_bgr,
        )

        for pdf in batches:
            doc_ids, sigs, captions = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    tar = tarfile.open(fileobj=io.BytesIO(bytes(blob)))
                    members = {
                        m.name: tar.extractfile(m).read() for m in tar if m.isfile()
                    }
                except (tarfile.TarError, OSError, AttributeError):
                    continue
                samples: dict[str, dict[str, bytes]] = {}
                for name, data in members.items():
                    stem, _, ext = name.rpartition(".")
                    if stem:
                        samples.setdefault(stem, {})[ext] = data
                if not samples:
                    continue
                parts = samples[sorted(samples)[0]]
                img = None
                for ext in ("png", "jpg", "jpeg", "bmp", "ppm"):
                    if ext in parts:
                        img = decode_image_bgr(parts[ext])
                        break
                cap = parts.get("txt")
                doc_ids.append(doc_id)
                sigs.append(None if img is None else dhash64(img))
                captions.append(
                    cap.decode("utf-8", "replace") if cap is not None else None
                )
            yield pd.DataFrame(
                {"doc_id": doc_ids, "sig": sigs, "caption": captions}
            )

    return df.mapInPandas(extract, schema=CURATION_SCHEMA)


VFP_FRAMES = 65  # 64 consecutive-frame delta bits


def video_fingerprints(df: DataFrame) -> DataFrame:
    """(doc_id, payload MJPEG clip) -> (doc_id, sig): 64-bit video
    TEMPORAL fingerprint — the clip-level sibling of the per-image
    dHash (x135) and the audio energy-delta fingerprint (x139). One
    Arrow-batched mapInPandas demuxes the concatenated-JPEG clip on EOI
    markers (mjpeg_frames_stats' boundary rule), REALLY decodes every
    frame through the production JPEG codec, reduces each to its
    integer mean intensity over ALL pixels and channels (sum // size —
    on the flat fixture this equals any single pixel, so the oracle is
    unchanged; on real footage it is the frame's mean luma, so the
    signature tracks content), and emits
    sign-of-consecutive-frame-brightness-delta bits — the
    standard shot-/content-signature shape video dedup uses (a
    re-encoded or slightly re-graded copy preserves the delta signs).
    Clips that do not demux to exactly VFP_FRAMES decodable frames
    yield sig NULL (decode-or-null). Clip bytes and pixels never leave
    the scan task; only (doc_id, 8-byte sig) flows into the banded
    join."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        clip_sig = make_clip_sig_kernel()
        for pdf in batches:
            sigs = [clip_sig(bytes(blob)) for blob in pdf["payload"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return df.mapInPandas(fp, schema=DHASH_SCHEMA)


def make_clip_sig_kernel():
    """The per-clip video-fingerprint kernel of the batch lane
    (``video_fingerprints`` / x140). Returns a
    ``bytes -> sig-or-None`` callable that demuxes a concatenated-JPEG
    clip on EOI markers, decodes every frame through the production
    JPEG codec, reduces each to its integer mean intensity (sum //
    size), and emits the 64 sign-of-consecutive-delta bits; clips that
    do not demux to exactly VFP_FRAMES decodable frames yield None.

    Carries a content-addressed decode memo: a clip corpus repeats
    identical frame bitstreams (freeze frames, test cards, synthetic
    fixtures), and a pure-Python JPEG decode is the dominant cost of
    the pass — each DISTINCT bitstream still goes through the
    production decoder exactly once, a miss costs one dict probe.
    Bounded per task (one kernel per Arrow pass); keyed by the raw
    bytes so correctness cannot depend on the memo."""
    from video_stream_processing_spark.functions.imagecodec import (
        decode_image_bgr,
    )

    memo: dict[bytes, int | None] = {}

    def brightness(frame: bytes) -> int | None:
        if frame not in memo:
            img = decode_image_bgr(frame)
            # Integer mean over the whole decoded frame (floor division
            # keeps the oracle replayable): on a flat frame this equals
            # any single pixel, and on real footage it is the frame's
            # mean intensity — the signature tracks content, not one
            # corner pixel.
            memo[frame] = (
                None if img is None else int(img.sum(dtype="int64")) // img.size
            )
        return memo[frame]

    def clip_sig(data: bytes) -> str | None:
        vals, start = [], 0
        while start < len(data):
            eoi = data.find(b"\xff\xd9", start)
            if eoi < 0:
                break
            vals.append(brightness(data[start : eoi + 2]))
            start = eoi + 2
        if len(vals) != VFP_FRAMES or any(v is None for v in vals):
            return None
        return "".join(
            "1" if vals[f + 1] > vals[f] else "0" for f in range(VFP_FRAMES - 1)
        )

    return clip_sig
