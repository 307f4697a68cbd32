#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to plans/<dir>/<q>_<tag>.txt.

Usage: python tools/dump_plans.py <out_dir> <tag> <sf_dir> name [name...]

Used in optimization rounds to commit before/after physical plans for
every query a change touched (the judge checks plan claims against
these files). The dump is the FINAL adaptive plan where possible: each
query is executed once through the noop sink first so AQE's re-planned
form (join strategies, coalesced reads) is what gets printed.

A staged query's final plan starts at `Scan ExistingRDD`, so every frame
it stages through DataFrame.localCheckpoint (spread exchanges, the graph
queries' base pair aggregation) is dumped too, as <q>_ckpt<N>_<tag>.txt
in staging order, explained right after its staging action.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# patch the CONCRETE class: in Spark 4 `pyspark.sql.DataFrame` is the
# abstract base and instances are the classic subclass, which defines
# its own localCheckpoint — patching the base would not intercept
try:
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # Spark 3.x
    from pyspark.sql import DataFrame

from video_stream_processing_spark.plans.registry import query_map
from video_stream_processing_spark.session import (
    get_spark,
    release_since,
    snapshot_persistent_ids,
)


def dump(spark, out_dir: str, tag: str, sf_dir: str, names: list[str]) -> list[str]:
    """Write each query's staged-frame plans and final plan; returns the
    paths written, in order."""
    os.makedirs(out_dir, exist_ok=True)
    qmap = query_map()
    mode = spark.sparkContext._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    written: list[str] = []

    def write(df, fname: str) -> None:
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, fname)
        with open(path, "w") as fh:
            fh.write(plan)
        written.append(path)
        print(f"wrote {fname} ({len(plan)} chars)")

    orig = DataFrame.localCheckpoint
    for n in names:
        staged = [0]

        def capture(df, *a, **kw):
            out = orig(df, *a, **kw)
            staged[0] += 1
            write(df, f"{n}_ckpt{staged[0]}_{tag}.txt")
            return out

        base = snapshot_persistent_ids(spark)
        DataFrame.localCheckpoint = capture
        try:
            df = qmap[n](spark, sf_dir)
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # still dump the static plan
                print(f"{n}: execution failed ({e}); dumping pre-execution plan")
        finally:
            DataFrame.localCheckpoint = orig
        write(df, f"{n}_{tag}.txt")
        release_since(spark, base)
    return written


def main() -> int:
    out_dir, tag, sf_dir, *names = sys.argv[1:]
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    dump(spark, out_dir, tag, sf_dir, names)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
