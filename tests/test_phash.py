"""Perceptual-hash image near-dup (x135 building blocks): dHash
invariances and the planted-copy guarantee — a shifted/re-encoded copy
is found by the banded Hamming join; a distinct image is not."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from video_stream_processing_spark.functions.imagecodec import (
    decode_bmp,
    encode_bmp,
)
from video_stream_processing_spark.operators.dedup import banded_hamming_pairs
from video_stream_processing_spark.operators.multimodal import (
    dhash64,
    dhash_signatures,
)


def _img(seed: int, h: int = 24, w: int = 36) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)


def test_dhash_is_64_bits():
    sig = dhash64(_img(0))
    assert len(sig) == 64 and set(sig) <= {"0", "1"}


def test_dhash_uniform_brightness_invariance():
    # a uniform brightness shift adds the same constant to every cell
    # mean, so every adjacent comparison — and the hash — is unchanged
    base = (_img(1).astype(np.int64) % 200).astype(np.uint8)
    assert dhash64(base) == dhash64(base + 40)


def test_dhash_reencode_roundtrip_identical():
    img = _img(2)
    assert dhash64(decode_bmp(encode_bmp(img))) == dhash64(img)


def test_dhash_subgrid_image_returns_none():
    assert dhash64(_img(3, h=4, w=4)) is None


def test_dhash_sparse_jitter_flips_few_bits():
    img = _img(4)
    jit = img.astype(np.int64)
    jit[::7, ::11] = np.clip(jit[::7, ::11] + 2, 0, 255)
    ham = sum(
        a != b for a, b in zip(dhash64(img), dhash64(jit.astype(np.uint8)))
    )
    assert ham <= 3


def test_planted_copy_found_distinct_not(spark):
    # 0: base; 1: re-encoded sparse-jitter copy of 0; 2: unrelated
    base = _img(10)
    jit = base.astype(np.int64)
    jit[::9, ::13] += 1
    copy = np.clip(jit, 0, 255).astype(np.uint8)
    other = _img(99)
    rows = [
        (0, bytearray(encode_bmp(base))),
        (1, bytearray(encode_bmp(copy))),
        (2, bytearray(encode_bmp(other))),
        (3, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    sig = dhash_signatures(df)
    got = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert got[3] is None  # decode-or-null contract
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in banded_hamming_pairs(sig.where(F.col("sig").isNotNull())).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 3
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_banded_join_matches_bruteforce(spark):
    # the 4x16 pigeonhole bands + <=3 verify must equal the brute-force
    # all-pairs answer at the guaranteed radius
    rng = np.random.RandomState(7)
    sigs = []
    base = rng.randint(0, 2, 64)
    for i in range(12):
        v = base.copy()
        flip = rng.choice(64, size=rng.randint(0, 6), replace=False)
        v[flip] ^= 1
        sigs.append((i, "".join(map(str, v))))
    df = spark.createDataFrame(sigs, "doc_id long, sig string")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in banded_hamming_pairs(df).collect()
    }
    exp = {}
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            ham = sum(a != b for a, b in zip(sigs[i][1], sigs[j][1]))
            if ham <= 3:
                exp[(i, j)] = ham
    assert got == exp


def test_x137_planted_copies_dropped_corrupt_absent(spark):
    # the end-to-end lane: planted near-copies (doc_id % 7 == 3) must be
    # dropped with dup_of = their source; corrupt shards (doc_id % 97
    # == 0) must contribute no row at all
    from video_stream_processing_spark.plans.registry import query_map

    rows = query_map()["x137_multimodal_curation_e2e"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert 0 not in by_id and 97 not in by_id  # truncated shards
    planted = [d for d in by_id if d % 7 == 3 and (d - 3) in by_id]
    assert planted, "fixture must contain planted copies"
    for d in planted:
        r = by_id[d]
        assert not r["keep"]
        # the copy's minimum partner is its source unless an even
        # earlier near-dup exists
        assert (r["img_dup_of"] is not None and r["img_dup_of"] <= d - 3) or (
            r["cap_dup_of"] is not None and r["cap_dup_of"] <= d - 3
        )
    # docs never referenced by any pair survive
    assert any(r["keep"] for r in rows)


def test_incremental_hamming_shard_discipline(spark):
    # base: 10/11 near-identical (ham 1) — but base-base pairs must NOT
    # emit (the stored index is never re-paired); shard doc 20 is near
    # both (vs_existing) and shard 21 duplicates 20 (within-shard)
    base_sig = "0" * 64
    near = "0" * 63 + "1"
    far = ("01" * 32)[:16] + "1" * 48
    rows = [
        (10, base_sig),
        (11, near),
        (20, near),
        (21, near),
        (30, far),
    ]
    df = spark.createDataFrame(rows, "doc_id long, sig string")
    from video_stream_processing_spark.operators.dedup import (
        incremental_hamming_pairs,
    )
    from pyspark.sql import functions as F

    got = {
        (r["doc_a"], r["doc_b"]): (r["hamming"], r["vs_existing"])
        for r in incremental_hamming_pairs(df, F.col("doc_id") >= 20).collect()
    }
    assert (10, 11) not in got  # base-base never re-paired
    assert got[(10, 20)] == (1, True) and got[(11, 20)] == (0, True)
    assert got[(20, 21)] == (0, False)  # within-shard
    assert all(30 not in pair for pair in got)


def test_video_fingerprint_planted_copy_found(spark):
    import numpy as np

    from video_stream_processing_spark.functions.jpegcodec import encode_jpeg
    from video_stream_processing_spark.operators.multimodal import (
        VFP_FRAMES,
        video_fingerprints,
    )

    rng = np.random.RandomState(5)
    base_vals = [2 * int(v) for v in rng.randint(0, 127, VFP_FRAMES)]
    jit_vals = [v + (2 if f % 13 == 0 else 0) for f, v in enumerate(base_vals)]
    other_vals = [2 * int(v) for v in rng.randint(0, 127, VFP_FRAMES)]

    def clip(vals):
        return b"".join(encode_jpeg(np.full((8, 8, 3), v, np.uint8)) for v in vals)

    rows = [
        (0, bytearray(clip(base_vals))),
        (1, bytearray(clip(jit_vals))),
        (2, bytearray(clip(other_vals))),
        (3, bytearray(clip(base_vals[: VFP_FRAMES - 1]))),  # wrong frame count
        (4, bytearray(b"\xff\xd8 corrupt")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    sig = video_fingerprints(df)
    got = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert got[3] is None and got[4] is None
    assert got[0] is not None and len(got[0]) == 64
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in banded_hamming_pairs(sig.where(F.col("sig").isNotNull())).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 3
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_x141_clusters_are_transitive_and_canonical_min(spark):
    """Every pair from ALL FOUR modality pipelines must land in one
    cluster (transitivity), the canonical doc is the cluster min, sizes
    add up, and each doc's modality attribution is exactly the sorted
    set of modalities whose edges touch it."""
    from video_stream_processing_spark.plans.registry import query_map

    sf = "/root/testdata/sf0.001"
    qm = query_map()
    lab = {r["doc_id"]: r for r in qm["x141_multimodal_dup_clusters"](spark, sf).collect()}
    modality_of = {
        "x135_image_dhash_neardup": "image",
        "x139_audio_fingerprint_neardup": "audio",
        "x78_simhash_neardup": "text",
        "x140_video_fingerprint_neardup": "video",
    }
    pairs, incident = [], {}
    for name, modality in modality_of.items():
        for r in qm[name](spark, sf).collect():
            pairs.append((r["doc_a"], r["doc_b"]))
            for d in (r["doc_a"], r["doc_b"]):
                incident.setdefault(d, set()).add(modality)
    assert pairs
    # each modality must contribute at least one edge on this fixture
    assert {m for ms in incident.values() for m in ms} == set(modality_of.values())
    for a, b in pairs:
        assert lab[a]["cluster_id"] == lab[b]["cluster_id"]
    assert set(lab) == set(incident)
    for d, mods in incident.items():
        assert lab[d]["modalities"] == ",".join(sorted(mods))
    from collections import Counter

    sizes = Counter(r["cluster_id"] for r in lab.values())
    for d, r in lab.items():
        assert r["cluster_size"] == sizes[r["cluster_id"]]
        assert r["is_canonical"] == (d == r["cluster_id"])
        assert r["cluster_id"] == min(
            x for x in lab if lab[x]["cluster_id"] == r["cluster_id"]
        )


def test_x144_one_keeper_per_cluster_and_subset_of_pairwise(spark):
    """Transitive keep: exactly one survivor per canonical cluster, and
    the transitive keep set is a subset of x137's pairwise keep set
    (pairwise can keep a non-min chain member that is only ever the
    LOWER id of its pairs; transitive cannot)."""
    from video_stream_processing_spark.plans.registry import query_map

    sf = "/root/testdata/sf0.001"
    qm = query_map()
    trans = {r["doc_id"]: r for r in qm["x144_multimodal_curation_transitive"](spark, sf).collect()}
    pair = {r["doc_id"]: r["keep"] for r in qm["x137_multimodal_curation_e2e"](spark, sf).collect()}
    assert set(trans) == set(pair)
    from collections import defaultdict

    clusters = defaultdict(list)
    for d, r in trans.items():
        clusters[r["canonical_id"]].append((d, r["keep"]))
    for cid, members in clusters.items():
        keepers = [d for d, k in members if k]
        assert keepers == [cid]  # exactly one survivor: the minimum
        assert min(d for d, _ in members) == cid
    kept_trans = {d for d, r in trans.items() if r["keep"]}
    kept_pair = {d for d, k in pair.items() if k}
    assert kept_trans <= kept_pair


def test_video_fingerprint_uses_mean_luma_not_corner_pixel(spark):
    """Non-flat frames whose corner pixel (0,0) is CONSTANT but whose
    frame mean alternates strongly must yield the alternating delta
    signature — the fingerprint tracks content (integer mean luma),
    not one pixel (the pre-r13 reduction)."""
    import numpy as np

    from video_stream_processing_spark.functions.jpegcodec import encode_jpeg
    from video_stream_processing_spark.operators.multimodal import (
        VFP_FRAMES,
        video_fingerprints,
    )

    def frame(level: int) -> bytes:
        img = np.full((8, 8, 3), level, np.uint8)
        img[0, 0, :] = 128  # corner pixel identical in every frame
        return encode_jpeg(img)

    clip = b"".join(
        frame(200 if f % 2 else 40) for f in range(VFP_FRAMES)
    )
    df = spark.createDataFrame([(0, bytearray(clip))], "doc_id long, payload binary")
    sig = video_fingerprints(df).collect()[0]["sig"]
    # frames go 40, 200, 40, ... -> mean deltas alternate up/down; JPEG
    # loss on a near-flat frame cannot close a 160-level mean gap
    assert sig == "10" * 32


def test_banded_join_rejects_nondivisor_bands(spark):
    """n_bands that doesn't divide 64 would silently drop trailing
    signature bits from every band key, voiding the pigeonhole recall
    guarantee — both join forms must refuse it."""
    from video_stream_processing_spark.operators.dedup import (
        incremental_hamming_pairs,
    )

    df = spark.createDataFrame([(0, "0" * 64)], "doc_id long, sig string")
    with pytest.raises(ValueError, match="divide 64"):
        banded_hamming_pairs(df, n_bands=3)
    with pytest.raises(ValueError, match="divide 64"):
        incremental_hamming_pairs(df, F.col("doc_id") >= 0, n_bands=5)


def test_banded_join_rejects_radius_beyond_pigeonhole(spark):
    """max_hamming > n_bands - 1 means a pair at that distance can
    differ in every band — the join would silently lose recall, the
    same class the non-divisor guard prevents. All three entry points
    (both batch join forms and the streaming gate) must refuse it."""
    from video_stream_processing_spark.operators.dedup import (
        incremental_hamming_pairs,
    )
    from video_stream_processing_spark.streaming.pipeline import (
        neardup_gate_stream,
    )

    df = spark.createDataFrame([(0, "0" * 64)], "doc_id long, sig string")
    with pytest.raises(ValueError, match="pigeonhole|n_bands-1"):
        banded_hamming_pairs(df, max_hamming=5, n_bands=4)
    with pytest.raises(ValueError, match="pigeonhole|n_bands-1"):
        incremental_hamming_pairs(df, F.col("doc_id") >= 0, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="pigeonhole|n_bands-1"):
        neardup_gate_stream(df, df, max_hamming=8, n_bands=8)


@pytest.mark.slow
def test_image_neardup_stream_suppresses_jittered_copy_vs_index(spark, tmp_path):
    """Streaming NEAR-dup ingest gate, stream==batch pinned across a
    micro-batch boundary: a jittered (Hamming <= 3) copy of a
    base-corpus image arriving in EITHER micro-batch is suppressed by
    the stream-static band join against the stored index; a distinct
    image passes; an exact within-stream replay in a later micro-batch
    is suppressed by the watermark-bounded exact gate."""
    from video_stream_processing_spark.operators.multimodal import dhash64
    from video_stream_processing_spark.streaming.pipeline import (
        image_neardup_dedup_stream,
    )

    BASE = 1_700_000_000_000
    img_a, img_b, img_c = _img(40), _img(41), _img(42)

    def jitter(img: np.ndarray, step: int) -> np.ndarray:
        j = img.astype(np.int64)
        j[::9, ::13] += step
        return np.clip(j, 0, 255).astype(np.uint8)

    index_sig = spark.createDataFrame(
        [(100, dhash64(img_a))], "doc_id long, sig string"
    )

    batch1 = [
        (1, BASE, bytearray(encode_bmp(jitter(img_a, 1)))),  # near base -> drop
        (2, BASE + 1_000, bytearray(encode_bmp(img_b))),  # distinct -> keep
    ]
    batch2 = [
        (3, BASE + 2_000, bytearray(encode_bmp(jitter(img_a, 2)))),  # near base
        (4, BASE + 3_000, bytearray(encode_bmp(img_b))),  # in-stream replay
        (5, BASE + 4_000, bytearray(encode_bmp(img_c))),  # distinct -> keep
        (6, BASE + 5_000, bytearray(b"junk")),  # undecodable -> drop
    ]

    def _w(rows, mode):
        (
            spark.createDataFrame(rows, "doc_id long, ts_ms long, payload binary")
            .select("doc_id", F.timestamp_millis("ts_ms").alias("ts"), "payload")
            .coalesce(1)
            .write.mode(mode)
            .parquet(str(tmp_path / "frames"))
        )

    _w(batch1, "overwrite")
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, payload binary"
    ).parquet(str(tmp_path / "frames"))
    q = (
        image_neardup_dedup_stream(stream, index_sig, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("img_neardup")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _w(batch2, "append")
        q.processAllAvailable()
        got = sorted(
            r["doc_id"] for r in spark.sql("SELECT * FROM img_neardup").collect()
        )
    finally:
        q.stop()

    # batch reference: brute-force the same semantics over the same
    # arrivals — drop if within Hamming 3 of any indexed sig, then
    # first-seen-wins on exact sig
    idx_sigs = [dhash64(img_a)]
    seen, expected = set(), []
    for doc_id, _, payload in batch1 + batch2:
        img = decode_bmp(bytes(payload))
        if img is None:
            continue
        s = dhash64(img)
        if any(sum(a != b for a, b in zip(s, t)) <= 3 for t in idx_sigs):
            continue
        if s in seen:
            continue
        seen.add(s)
        expected.append(doc_id)
    assert expected == [2, 5]  # fixture sanity
    assert got == expected


def test_jpeg_flat_block_dc_exact_all_levels():
    """x145's wire-format premise: a flat 8x8 JPEG block is DC-only and
    must decode bit-exactly at EVERY gray level 0..255 (including the
    odd clamp boundary 255) through the production encoder/decoder."""
    from video_stream_processing_spark.functions.imagecodec import (
        decode_image_bgr,
    )
    from video_stream_processing_spark.functions.jpegcodec import encode_jpeg

    for v in range(256):
        img = np.full((8, 8, 3), v, np.uint8)
        out = decode_image_bgr(encode_jpeg(img))
        assert out is not None and (out == v).all(), f"level {v} not DC-exact"


def test_x145_grid_lands_on_blocks():
    """The 8x9 dHash grid must land exactly on the 64x72 fixture's 8x8
    block grid: the hash of a block-flat image equals the hash computed
    directly from the 8x9 block-level matrix."""
    from video_stream_processing_spark.operators.multimodal import dhash64

    rng = np.random.RandomState(3)
    blocks = rng.randint(0, 256, (8, 9)).astype(np.int64)
    gray = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1).astype(np.uint8)
    img = np.repeat(gray[:, :, None], 3, axis=2)
    expected = "".join(
        "1" if blocks[i, j + 1] > blocks[i, j] else "0"
        for i in range(8)
        for j in range(8)
    )
    assert dhash64(img) == expected
