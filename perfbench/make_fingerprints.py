#!/usr/bin/env python3
"""Derive the stored result fingerprints from the DuckDB oracles.

Runs each benchmark query's ``oracle_sql`` on the bundled tables of one
scale factor and stores the results in ``fingerprints.json`` next to this
file, keyed by scale factor and query. The oracle pass is
slow (minutes), which is why the benchmark compares against stored
fingerprints instead of re-running it.

Usage: python3 perfbench/make_fingerprints.py sf0.1 [query_name ...]
(the first argument names a table directory under perfbench/data)
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from fingerprint import fingerprint  # noqa: E402
from queries import CURATION_DEFERRED, CURATION_QUERIES, FACT_QUERIES  # noqa: E402

OUT = os.path.join(HERE, "fingerprints.json")


def main(sf: str, names: list[str]) -> int:
    import duckdb

    from video_stream_processing_spark.plans.registry import oracle_map
    from video_stream_processing_spark.tables import TABLES

    oracles = oracle_map()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(HERE, "data", sf, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    everything = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            everything = json.load(f)
    stored = everything.setdefault(sf, {})
    for name in names:
        t0 = time.perf_counter()
        fp = fingerprint(con.execute(oracles[name]).fetchdf())
        fp["oracle_s"] = round(time.perf_counter() - t0, 2)
        stored[name] = fp
        everything[sf] = dict(sorted(stored.items()))
        print(sf, name, fp, flush=True)
        with open(OUT, "w") as f:
            json.dump(everything, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(
        main(
            sys.argv[1],
            sys.argv[2:] or list(FACT_QUERIES + CURATION_QUERIES + CURATION_DEFERRED),
        )
    )
