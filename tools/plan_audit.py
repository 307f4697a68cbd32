#!/usr/bin/env python
"""Physical-plan audit: evidence that every declared query compiles to
the plan shape we want at scale (SURVEY.md §4.2 discipline).

For each query, inspects the formatted explain output and reports:
  - pushdown: parquet scans with non-trivial PushedFilters
  - pruning: ReadSchema column count vs full table width
  - joins: broadcast vs shuffle (sort-merge/hash) counts
  - exchanges: number of shuffle Exchange nodes
  - python: Arrow/Pandas UDF eval nodes (should exist ONLY for the
    declared UDF-surface queries)
  - codegen: WholeStageCodegen span count
  - gen-filter: optimized-plan Filters over ``size(f(g(...)))``: the
    ``size(arr) > 0`` that ``explode(arr)`` infers, with a computed
    ``arr``'s derivation chain inlined by pushdown, so it runs twice per
    row (r15 finding 3). A report, not a gate.

Usage: python tools/plan_audit.py [sf_dir] [names...]   (writes PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from video_stream_processing_spark.plans.registry import all_queries, query_map
from video_stream_processing_spark.session import get_spark

_COMPUTED_SIZE = re.compile(r"size\(\w+\(\s*\w+\(")


def audit_plan(df) -> dict:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    plan = qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    optimized = qe.optimizedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "scans": plan.count("Scan parquet"),
        "pushed_filters": sum(1 for p in pushed if p.strip()),
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "shuffle_joins": plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin"),
        "exchanges": len(re.findall(r"\n\(\d+\) Exchange", plan))
        + len(re.findall(r"\+- Exchange", plan)),
        "python_udf": plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas")
        # Spark 4 formatted plans name the mapInArrow node "MapInArrow"
        # (tree + detail line = 2 per surface, same convention as the
        # MapInPandas count; a "PythonMapInArrow" spelling would also
        # contain this substring, so no second term)
        + plan.count("MapInArrow"),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "aqe": "AdaptiveSparkPlan" in plan,
        "gen_filters": sum(
            len(_COMPUTED_SIZE.findall(line))
            for line in optimized.splitlines()
            if line.strip().lstrip("+-: ").startswith("Filter")
        ),
    }


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    explicit = bool(args[1:])
    names = args[1:] or list(all_queries())
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = query_map()

    def render_row(n: str, a: dict) -> str:
        if "error" in a:
            return f"| {n} | ERROR: {a['error']} | | | | | | | | |"
        return (
            f"| {n} | {a['scans']} | {a['pushed_filters']} | {a['broadcast_joins']} "
            f"| {a['shuffle_joins']} | {a['exchanges']} | {a['python_udf']} "
            f"| {a['codegen_spans']} | {'Y' if a['aqe'] else '-'} | {a['gen_filters']} |"
        )

    rows = []
    for n in names:
        try:
            rows.append((n, audit_plan(qmap[n](spark, sf_dir))))
        except Exception as e:  # pragma: no cover
            rows.append((n, {"error": str(e)[:80]}))

    lines = [
        "# PLANS — physical-plan audit (tools/plan_audit.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Static plans (AQE may further",
        "coalesce/convert at runtime). `python_udf` > 0 only where the",
        "operator is genuinely a pandas-UDF surface. `gen-filter` counts",
        "generator-filter sites in the optimized plan (see the tool's docstring).",
        "",
        "| query | scans | pushed | bcast joins | shuffle joins | exchanges | py-UDF | codegen | AQE | gen-filter |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    lines.extend(render_row(n, a) for n, a in rows)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    if explicit and os.path.exists(out):
        # Merge mode: update/append ONLY the named rows, preserving the
        # full-registry audit (a names run must not clobber it). Rows are
        # re-rendered directly from the audit dicts — no dependence on the
        # header length above.
        audited = {n: render_row(n, a) for n, a in rows}
        merged, seen = [], set()
        for line in open(out).read().splitlines():
            qname = line.split("|")[1].strip() if line.startswith("| ") else None
            if qname in audited:
                merged.append(audited[qname])
                seen.add(qname)
            else:
                merged.append(line)
        merged.extend(audited[n] for n in audited if n not in seen)
        lines = merged
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    print(f"\nwrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
