"""Audio fingerprint near-dup (x139 building blocks): afp64 properties
and the planted-copy guarantee through the real WAV codec."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from video_stream_processing_spark.functions.wavcodec import decode_wav, encode_wav
from video_stream_processing_spark.operators.audio import afp64, audio_fingerprints
from video_stream_processing_spark.operators.dedup import banded_hamming_pairs


def _clip(seed: int, n: int = 136) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(-2000, 2001, size=(n, 1)).astype(np.int64)


def test_afp64_is_64_bits_and_codec_stable():
    c = _clip(0)
    sig = afp64(c)
    assert len(sig) == 64 and set(sig) <= {"0", "1"}
    # encode -> decode round trip must not change the fingerprint
    dec, rate = decode_wav(encode_wav(c, sample_rate=8000))
    assert afp64(dec) == sig


def test_afp64_short_clip_returns_none():
    assert afp64(_clip(1, n=100)) is None


def test_afp64_sparse_jitter_flips_few_bits():
    c = _clip(2)
    j = c.copy()
    j[::13, 0] += 2
    ham = sum(a != b for a, b in zip(afp64(c), afp64(j)))
    assert ham <= 3


def test_planted_audio_copy_found_distinct_not(spark):
    base = _clip(10)
    jit = base.copy()
    jit[::13, 0] += 1
    other = _clip(99)
    rows = [
        (0, bytearray(encode_wav(base, sample_rate=8000))),
        (1, bytearray(encode_wav(jit, sample_rate=8000))),
        (2, bytearray(encode_wav(other, sample_rate=8000))),
        (3, bytearray(b"RIFF junk")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    sig = audio_fingerprints(df)
    got = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert got[3] is None  # decode-or-null
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in banded_hamming_pairs(sig.where(F.col("sig").isNotNull())).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 3
    assert (0, 2) not in pairs and (1, 2) not in pairs
