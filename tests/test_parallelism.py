"""Focused tests for the r15 optimization internals: the shared
scan-parallelism guard and the packed pair-count formulation in the
co-purchase graph base."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from video_stream_processing_spark.operators.parallelism import ensure_parallelism


def test_spread_width_derives_from_input_bytes(spark, sf_dir):
    import os

    from video_stream_processing_spark.operators.parallelism import (
        _SPREAD_BYTES_PER_TASK,
    )
    from video_stream_processing_spark.tables import load_table

    cores = spark.sparkContext.defaultParallelism
    for table in ("documents", "embeddings"):
        df = load_table(spark, sf_dir, table)
        size = os.path.getsize(os.path.join(sf_dir, f"{table}.parquet"))
        want = min(cores, max(1, -(-size // _SPREAD_BYTES_PER_TASK)))
        out = ensure_parallelism(df, df.columns[0])
        if want > 1:
            # spread fires with the byte-derived width, not the core count
            assert out.rdd.getNumPartitions() == want
            assert out.count() == df.count()
        else:
            # input too small to pay for any exchange: untouched plan
            assert out is df
        if table == "embeddings":
            # Independent of the formula: the ~190 KB table is neither
            # left on one task nor fanned to every core (local[4]).
            assert 1 < out.rdd.getNumPartitions() < cores


def test_spread_partly_unknown_sizes_uses_every_core(spark, sf_dir, monkeypatch):
    import os

    from video_stream_processing_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    local = "file:" + os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    # one local file (~65 KB, a one-task width on its own) and one file
    # whose size the driver cannot see: the byte total is partial, so the
    # width falls back to the core count instead of deriving from it
    monkeypatch.setattr(docs, "inputFiles", lambda: [local, "hdfs://nn/documents-2.parquet"])
    out = ensure_parallelism(docs, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_per_row_heavy_uses_every_core(spark, sf_dir):
    from video_stream_processing_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = ensure_parallelism(docs, "doc_id", per_row_heavy=True)
    # per-row-dominated passes (codec renders, extraction regex) opt out
    # of the byte-derived width: KB inputs still fan to the core count
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == docs.count()


def test_spread_keyed_plan_has_no_sort(spark, sf_dir):
    from video_stream_processing_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    keyed = (
        ensure_parallelism(docs, "doc_id", per_row_heavy=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    rr = (
        ensure_parallelism(docs, per_row_heavy=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # hash repartition needs no sortBeforeRepartition pass; round-robin does
    assert "hashpartitioning" in keyed and "Sort" not in keyed
    assert "roundrobin" in rr.lower()


def test_spread_noop_on_in_memory_many_partitions(spark):
    df = spark.range(1000).repartition(64)
    # non-file source: unconditional spread to default parallelism
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_streaming_passthrough(spark):
    stream = spark.readStream.format("rate").load()
    assert ensure_parallelism(stream) is stream


@pytest.mark.parametrize(
    "a,b",
    [
        (0, 1),
        (1, 2**32 - 1),
        (2**31 - 1, 2**31 - 1),
        (12345, 67890),
    ],
)
def test_packed_pair_roundtrip_exact(spark, a, b):
    # the packed key used by the co-purchase pair aggregation must
    # round-trip any (part_a, part_b) in the guarded domain
    # (part_a < 2^31, part_b < 2^32)
    packed = F.shiftleft(F.lit(a).cast("long"), 32) + F.lit(b).cast("long")
    out = (
        spark.range(1)
        .select(
            F.shiftrightunsigned(packed, 32).alias("pa"),
            packed.bitwiseAND(F.lit((1 << 32) - 1)).alias("pb"),
        )
        .collect()[0]
    )
    assert (out["pa"], out["pb"]) == (a, b)


def test_copurchase_pairs_packed_equals_plain(spark):
    # the packed aggregation and the two-column aggregation must give
    # identical pair counts on a synthetic basket table
    rows = [(c, p) for c in range(40) for p in range(c % 7, c % 7 + 6)]
    b = spark.createDataFrame(rows, "cust int, part long")
    a1 = b.select("cust", F.col("part").alias("part_a"))
    a2 = b.select("cust", F.col("part").alias("part_b"))
    j = a1.join(a2, "cust").where(F.col("part_a") < F.col("part_b"))
    plain = (
        j.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("part_a", "part_b")
        .collect()
    )
    pk = F.shiftleft(F.col("part_a"), 32) + F.col("part_b")
    packed = (
        j.select(pk.alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.shiftrightunsigned("pk", 32).alias("part_a"),
            F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("part_b"),
            "n",
        )
        .orderBy("part_a", "part_b")
        .collect()
    )
    assert [tuple(r) for r in plain] == [tuple(r) for r in packed]
