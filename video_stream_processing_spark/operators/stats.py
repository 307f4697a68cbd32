"""Distributed matrix statistics over embedding corpora.

Two implementations of the SAME sufficient statistics (the PCA
covariance of x109_embedding_covariance), kept as twins so the choice
is a measurement, not a guess (the keyed-scan precedent in
operators/keyed_scan.py / SCALE.md):

- JVM path (plans/extensions.py:x109): per-row upper-triangle products
  via two Generate nodes, map-side combine before the single shuffle.
  Zero Python; the whole hot loop is WholeStageCodegen.
- Arrow path (here): ``mapInArrow`` computes each batch's quantized
  Gram matrix with one numpy matmul (Q.T @ Q) and emits dim(dim+1)/2
  partial rows per BATCH (not per row), so the post-Python volume is
  O(batches * dim^2) instead of O(rows * dim^2) pre-combine. The
  pay-off grows with rows-per-batch; the cost is one Python boundary.

Both quantize coordinates at 1e-6 with HALF-AWAY rounding (matching
F.round / DuckDB round) and sum exactly (int64 within a batch — safe:
|q| <= ~1e6 so a 10k-row batch's Gram entry is <= 1e16 < 2^63 —
DECIMAL(38,0) across batches), so the two paths and the DuckDB oracle
agree bit-for-bit after the final rounded division.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "covariance_partials",
    "covariance_upper_triangle_arrow",
    "covariance_upper_triangle_jvm",
    "finish_covariance",
]


def covariance_upper_triangle_jvm(
    emb: DataFrame,
    dim: int = 64,
    embedding_col: str = "embedding",
    quant: float = 1e6,
) -> DataFrame:
    """Pure-JVM twin: per-row upper-triangle products via two Generate
    nodes (the second explodes a per-row SLICE, so j >= i without a
    self-join) — zero Python, fully WholeStageCodegen, but it
    materializes O(rows * dim^2) product rows before the map-side
    combine. Kept as the declarative reference the Arrow path is
    equality-pinned against (tests/test_stats_twin.py); the measured
    loser at sf0.1 (0.96 s vs 0.28 s) because per-element codegen
    cannot compete with one BLAS matmul per batch."""
    q = _valid_vectors(emb, dim, embedding_col).select(
        F.transform(
            F.col(embedding_col),
            # explicit widen BEFORE the multiply: float32*int would round
            # in 32-bit and diverge from the oracle's double arithmetic
            lambda x: F.round(x.cast("double") * F.lit(quant)).cast("long"),
        ).alias("qv")
    ).localCheckpoint(eager=True)
    n = q.agg(F.count(F.lit(1)).alias("n"))
    rows = q.select("qv", F.posexplode("qv").alias("i", "qi"))
    m = rows.groupBy("i").agg(F.sum(F.col("qi").cast("decimal(38,0)")).alias("s"))
    pairs = rows.select(
        "i",
        "qi",
        F.posexplode(F.slice("qv", F.col("i") + 1, F.lit(dim))).alias("dj", "qj"),
    ).select(
        "i",
        (F.col("i") + F.col("dj")).alias("j"),
        (F.col("qi") * F.col("qj")).cast("decimal(38,0)").alias("xy"),
    )
    sij = pairs.groupBy("i", "j").agg(F.sum("xy").alias("sxy"))
    mi = m.select(F.col("i").alias("mi_i"), F.col("s").alias("si"))
    mj = m.select(F.col("i").alias("mj_i"), F.col("s").alias("sj"))
    num = (F.col("n") * F.col("sxy") - F.col("si") * F.col("sj")).cast("double")
    den = F.col("n") * (F.col("n") - F.lit(1.0)) * F.lit(quant * quant)
    return (
        sij.join(F.broadcast(mi), sij["i"] == mi["mi_i"])
        .join(F.broadcast(mj), sij["j"] == mj["mj_i"])
        .crossJoin(F.broadcast(n))
        # sample covariance is undefined for n < 2 (see the Arrow twin)
        .where(F.col("n") >= 2)
        # + 0.0 mirrors the oracle's negative-zero normalization
        .select("i", "j", (F.round(num / den, 6) + F.lit(0.0)).alias("cov"))
    )


def _raw_covariance_batches(
    emb: DataFrame,
    dim: int = 64,
    embedding_col: str = "embedding",
    quant: float = 1e6,
) -> DataFrame:
    """Per-ARROW-BATCH raw partial rows (i, j, pn, psi, psj, psxy): one
    numpy Gram matmul per batch, dim(dim+1)/2 rows per batch out."""
    import numpy as np
    import pyarrow as pa

    iu_i, iu_j = (x.tolist() for x in np.triu_indices(dim))
    n_tri = len(iu_i)

    out_schema = "i int, j int, pn long, psi long, psj long, psxy long"

    def batch_stats(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow as pa

        ii = np.array(iu_i, dtype=np.int32)
        jj = np.array(iu_j, dtype=np.int32)
        for batch in it:
            col = batch.column(0)
            if isinstance(col, pa.ChunkedArray):  # pragma: no cover
                col = col.combine_chunks()
            # flatten() (not .values) so a sliced ListArray yields only
            # the slice's child values
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            x = flat.reshape(-1, dim) * quant
            # HALF-AWAY rounding to match F.round / DuckDB round (np.rint
            # is half-to-even and WOULD diverge on exact .5 quantizations)
            q = np.copysign(np.floor(np.abs(x) + 0.5), x).astype(np.int64)
            n = q.shape[0]
            s = q.sum(axis=0)
            g = q.T @ q
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ii, type=pa.int32()),
                    pa.array(jj, type=pa.int32()),
                    pa.array(np.full(n_tri, n, dtype=np.int64)),
                    pa.array(s[ii], type=pa.int64()),
                    pa.array(s[jj], type=pa.int64()),
                    pa.array(g[ii, jj], type=pa.int64()),
                ],
                names=["i", "j", "pn", "psi", "psj", "psxy"],
            )

    return _valid_vectors(emb, dim, embedding_col).mapInArrow(
        batch_stats, out_schema
    )


def _valid_vectors(emb: DataFrame, dim: int, embedding_col: str) -> DataFrame:
    """Drop null / wrong-length / null-ELEMENT embeddings BEFORE the
    statistics: a null list contributes no child values to the flattened
    Arrow buffer, so the reshape(-1, dim) would silently misalign every
    following vector in the batch; a null ELEMENT inside a right-length
    vector is worse — flatten().to_numpy() turns it into NaN and
    astype(int64) on NaN is platform-undefined garbage (typically
    INT64_MIN) that would poison the whole batch's Gram sums, while the
    JVM twin would merely null-propagate that one product. Malformed
    rows degrade to 'excluded' in BOTH twins, never poison a batch
    (tests/test_null_safety.py); the x109 oracle mirrors the same gate."""
    return emb.select(embedding_col).where(
        F.col(embedding_col).isNotNull()
        & (F.size(embedding_col) == dim)
        & ~F.exists(F.col(embedding_col), lambda x: x.isNull())
    )


def covariance_upper_triangle_arrow(
    emb: DataFrame,
    dim: int = 64,
    embedding_col: str = "embedding",
    quant: float = 1e6,
) -> DataFrame:
    """Sample covariance (ddof=1) upper triangle as (i, j, cov) rows —
    the Arrow-native twin of x109's JVM explode path; identical output
    contract including the 1e-6 quantization, round-at-6 and
    negative-zero normalization."""
    raw = _raw_covariance_batches(emb, dim=dim, embedding_col=embedding_col, quant=quant)
    return finish_covariance(covariance_partials(raw), quant=quant)


def covariance_partials(raw_parts: DataFrame) -> DataFrame:
    """Collapse per-batch partial rows to one (i, j, n, si, sj, sxy) row
    per cell — a MERGEABLE sufficient-statistics table (exact decimal
    sums). This is the artifact an incremental pipeline STORES per
    ingested shard: union any number of shard partial tables, re-apply
    this collapse, and ``finish_covariance`` yields exactly the
    whole-corpus covariance — no re-scan of old shards (the x71/x106
    incremental-maintenance discipline). Accepts either raw per-batch rows or
    already-collapsed partials (merging is the same aggregation)."""
    # each batch emits exactly one row per (i, j), so summing pn per key
    # recovers the total row count; decimal sums keep the cross-batch
    # arithmetic exact at any corpus size
    dec = lambda c: F.sum(F.col(c).cast("decimal(38,0)")).alias(c[1:])  # noqa: E731
    return raw_parts.groupBy("i", "j").agg(
        dec("pn"), dec("psi"), dec("psj"), dec("psxy")
    )


def finish_covariance(partials: DataFrame, quant: float = 1e6) -> DataFrame:
    """(i, j, n, si, sj, sxy) partials -> (i, j, cov)."""
    agg = partials.where(
        # sample covariance is undefined for n < 2: emit nothing rather
        # than raise ANSI DIVIDE_BY_ZERO on a degenerate corpus
        F.col("n") >= 2
    )
    num = (F.col("n") * F.col("sxy") - F.col("si") * F.col("sj")).cast("double")
    den = F.col("n").cast("double") * (F.col("n").cast("double") - F.lit(1.0)) * F.lit(
        quant * quant
    )
    return agg.select(
        "i", "j", (F.round(num / den, 6) + F.lit(0.0)).alias("cov")
    )

