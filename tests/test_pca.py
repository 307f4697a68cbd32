"""PCA on top of x109's distributed covariance output.

x109_embedding_covariance ships the sufficient statistics (upper-triangle
sample covariance, 2080 rows for dim=64); PCA itself is then O(dim^3)
numpy work on the DRIVER — the point of the design is that the corpus
contributes exactly one map-side-combined aggregation and the
eigendecomposition never touches Spark. These tests pin that contract:
the distributed matrix equals numpy.cov of the same vectors (to the
1e-6 quantization the query documents), and the eigen step behaves like
a covariance matrix's should.
"""

import numpy as np
import pytest

from video_stream_processing_spark.plans.registry import all_queries


@pytest.fixture(scope="module")
def cov_and_data(spark, sf_dir):
    spec = all_queries()["x109_embedding_covariance"]
    rows = spec.fn(spark, sf_dir).collect()
    dim = 1 + max(r["j"] for r in rows)
    cov = np.zeros((dim, dim))
    for r in rows:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    emb = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    return cov, emb


def test_distributed_covariance_matches_numpy(cov_and_data):
    cov, emb = cov_and_data
    ref = np.cov(emb, rowvar=False)  # sample covariance, ddof=1 like x109
    # query quantizes coordinates at 1e-6 and rounds output at 1e-6
    assert np.max(np.abs(cov - ref)) < 2e-6


def test_covariance_is_psd_and_pca_recovers_variance(cov_and_data):
    cov, emb = cov_and_data
    evals, evecs = np.linalg.eigh(cov)
    # symmetric PSD up to quantization noise
    assert evals.min() > -1e-9
    # total variance preserved: trace == sum of eigenvalues
    assert np.isclose(evals.sum(), np.trace(cov))
    # projecting onto the top component yields exactly its eigenvalue
    # as sample variance — the PCA identity, end to end through the
    # distributed statistics
    top = evecs[:, -1]
    proj = (emb - emb.mean(axis=0)) @ top
    assert np.isclose(proj.var(ddof=1), evals[-1], rtol=1e-4)


def test_top_components_explain_variance_monotonically(cov_and_data):
    cov, _ = cov_and_data
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    share = np.cumsum(evals) / evals.sum()
    assert np.all(np.diff(share) >= -1e-12)
    assert 0.0 < share[0] <= 1.0 + 1e-12

