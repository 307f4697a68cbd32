"""The Arrow covariance twin (operators/stats.py) must agree with
x109's JVM explode path bit-for-bit — same quantization, same exact
integer sums, same rounded division, same negative-zero normalization.
"""

import pytest

from video_stream_processing_spark.operators.stats import (
    covariance_upper_triangle_arrow,
    covariance_upper_triangle_jvm,
)


def test_arrow_twin_matches_jvm_path_exactly(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    jvm = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_upper_triangle_jvm(emb).collect()
    }
    arrow = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_upper_triangle_arrow(emb).collect()
    }
    assert jvm.keys() == arrow.keys()
    diff = {k: (jvm[k], arrow[k]) for k in jvm if jvm[k] != arrow[k]}
    assert diff == {}


def test_arrow_twin_half_away_rounding_on_exact_halves(spark):
    """np.rint would send 2.5e-6 -> 2 quantized units; the twin must
    round half AWAY (-> 3) like F.round / DuckDB. One planted vector
    per sign pins it."""
    dim = 64
    base = [0.0] * dim
    v1 = list(base)
    v1[0] = 2.5e-6  # quantizes to 3 under half-away, 2 under half-even
    v2 = list(base)
    v2[0] = -2.5e-6
    v3 = list(base)
    v3[0] = 1.0e-3
    emb = spark.createDataFrame(
        [(0, v1), (1, v2), (2, v3)], "vec_id long, embedding array<float>"
    )
    out = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_upper_triangle_arrow(emb).collect()
    }
    # float32 storage perturbs 2.5e-6 slightly; recompute the expected
    # quantization the same way the operator does
    import numpy as np

    f = np.array([2.5e-6, -2.5e-6, 1.0e-3], dtype=np.float32).astype(np.float64)
    q = np.copysign(np.floor(np.abs(f * 1e6) + 0.5), f)
    n, s, sxy = 3, q.sum(), (q * q).sum()
    expected = round((n * sxy - s * s) / (n * (n - 1) * 1e12), 6) + 0.0
    assert out[(0, 0)] == pytest.approx(expected, abs=0)
    # every other cell is exactly zero (and not negative zero)
    assert out[(0, 1)] == 0.0 and str(out[(0, 1)]) == "0.0"


def test_arrow_twin_matches_numpy_on_random_vectors(spark):
    """Fixed-seed random frame: the distributed statistic equals
    numpy.cov to the documented 1e-6 quantization tolerance."""
    import numpy as np

    rng = np.random.default_rng(20260814)
    x = rng.normal(0, 0.25, size=(50, 64)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    out = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_upper_triangle_arrow(emb).collect()
    }
    ref = np.cov(x.astype(np.float64), rowvar=False)
    worst = max(
        abs(out[(i, j)] - ref[i, j]) for i in range(64) for j in range(i, 64)
    )
    assert worst < 2e-6


def test_degenerate_corpora_yield_no_rows(spark):
    """Sample covariance is undefined below n=2 — both twins emit
    nothing instead of raising ANSI DIVIDE_BY_ZERO."""
    one = spark.createDataFrame([(0, [0.1] * 64)], "vec_id long, embedding array<float>")
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    for df in (one, empty):
        assert covariance_upper_triangle_arrow(df).count() == 0
        assert covariance_upper_triangle_jvm(df).count() == 0


def test_arrow_twin_invariant_to_tiny_batches(spark, sf_dir):
    """Cross-batch partial merging AND sliced-ListArray handling: with
    maxRecordsPerBatch=7 every batch is a slice, and the result must be
    bit-identical to the default batching."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_upper_triangle_arrow(emb).collect()
    }
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        tiny = {
            (r["i"], r["j"]): r["cov"]
            for r in covariance_upper_triangle_arrow(emb).collect()
        }
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    assert base == tiny
