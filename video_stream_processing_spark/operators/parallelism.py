"""Scan-parallelism guard for compute-heavy map stages.

A parquet scan yields one task per file split; when the input is a
handful of small files (one row group at the test scale factors), every
downstream NARROW operation — codec decode, shingling + md5, per-row
folds, Python/Arrow passes — inherits that single task and serializes
onto one core while the rest of the machine idles. The guard measures
the scan's split count from driver-side metadata and round-robin
repartitions to the default parallelism ONLY when the scan cannot fill
the cores; at real scale (inputs >> cores x 128 MB) it is a no-op, so
no extra full-corpus shuffle is ever introduced on a cluster.

Apply it to inputs whose per-row work dominates (hash pipelines, codec
renders, tokenizer folds, Python boundaries) — not to plain relational
scans, where an extra exchange of the full rows would cost more than
the scan stage it parallelizes.

Moved here (round 15) from operators/dedup.py so every operator family
shares the one audited implementation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

__all__ = ["ensure_parallelism"]

# Width of the spread when it fires, expressed as input bytes per task.
# r15's guard always fanned to defaultParallelism once triggered, and the
# driver's 32-vs-8-core scaling run showed nine queries running FASTER at
# 8 cores (VERDICT r15 item 3): 32 tasks over a ~600 KB input pay more in
# task launch + Python-worker round-trips than they parallelize. A width
# sweep (w in {4,8,16,32}, 3 reps each, sf0.1) found ~100 KB of compressed
# input per task the break-even for every byte-bound pipeline measured
# (hash/shingle, tokenizer folds, CDC, ANN scoring, percentile partials),
# so the width now grows linearly with scan bytes and saturates at the
# core count — still a no-op at real scale, still never a local[32]
# constant (the cap is defaultParallelism, whatever the cluster gives).
_SPREAD_BYTES_PER_TASK = 96 << 10


def ensure_parallelism(df: DataFrame, *keys: str, per_row_heavy: bool = False) -> DataFrame:
    """Spread compute-heavy per-row work when the scan produced fewer
    splits than cores (small-file inputs — documents.parquet is ONE row
    group at test SFs, which serialized 30M md5 calls onto one task). At
    real scale the scan already yields >= cores splits and this is a
    no-op, so no extra full-corpus shuffle is introduced.

    Pass a high-cardinality column (the row id) as ``keys`` whenever one
    exists: a keyed hash repartition skips round-robin's mandatory local
    sort of the input (spark.sql.execution.sortBeforeRepartition —
    measured 2x on the spread itself) AND is deterministic under task
    retries by construction, which is the very hazard the sort exists to
    paper over (SPARK-38388, guide §2.5).

    ``per_row_heavy=True`` opts a call site out of the byte-derived
    width and fans straight to the core count: for passes whose per-ROW
    cost dwarfs the per-byte cost (Python JPEG encode+decode, tar
    renders, the x130 markup-extraction regex chain) the width sweep
    showed full width winning even on KB inputs, because each row is
    milliseconds of CPU regardless of its byte size.

    The guard is driver-side scan metadata (inputFiles + local file
    sizes), never df.rdd — an .rdd access forces physical planning and a
    Python<->JVM RDD conversion on every call."""
    if df.isStreaming:
        # micro-batch partitioning is the source's business (and
        # inputFiles() is undefined on a streaming plan)
        return df

    def spread(frame: DataFrame, n: int) -> DataFrame:
        return frame.repartition(n, *keys) if keys else frame.repartition(n)

    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    files = df.inputFiles()
    if not files:
        # Non-file source (createDataFrame / in-memory view): no scan
        # metadata to reason from, and such inputs are driver-originated
        # and small, so an unconditional spread is cheap and avoids
        # serializing the hash work onto one task.
        return spread(df, cores)
    if len(files) >= cores:
        return df
    # A big splittable file still fans out to ~ceil(size/128MB) scan
    # tasks, so only repartition when the estimated split count is below
    # cores (ceiling division: a 200MB file is 2 splits, not 1).
    est_splits = 0
    total_bytes = 0
    sizes_known = True
    for f in files:
        size = 0
        if f.startswith("file:"):
            try:
                size = os.path.getsize(f[len("file:"):])
            except OSError:
                sizes_known = False
        else:
            sizes_known = False
        total_bytes += size
        est_splits += max(1, -(-size // (128 << 20)))
    if est_splits >= cores:
        return df
    if per_row_heavy or not sizes_known or total_bytes <= 0:
        # per-row-dominated work, or a file whose size is unknown
        # (non-local path, unreadable): a partial byte total would
        # undercount the input, so use every core (the pre-r16 behaviour)
        target = cores
    else:
        # byte-bound work: one task per ~_SPREAD_BYTES_PER_TASK of input,
        # saturating at the core count (see the constant's rationale)
        target = min(cores, max(1, -(-total_bytes // _SPREAD_BYTES_PER_TASK)))
    if est_splits >= target:
        # the scan already yields enough tasks for this input size
        return df
    return spread(df, target)
