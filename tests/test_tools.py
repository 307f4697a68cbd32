"""The measuring and plan-inspection tools, run in-process on the suite's
session: the plan dumper (final plan plus one plan per staged frame),
bench.py's named-query timing, the stream throughput paths, the
status-store stage profiler and the plan audit's generator-filter
column."""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import dump_plans  # noqa: E402
import plan_audit  # noqa: E402
import profile_query  # noqa: E402
import stream_bench  # noqa: E402


def test_dump_plans_writes_final_and_staged_frame_plans(spark, sf_dir, tmp_path):
    written = dump_plans.dump(spark, str(tmp_path), "t", sf_dir, ["x35_curation_pipeline"])
    names = sorted(os.path.basename(p) for p in written)
    assert "x35_curation_pipeline_t.txt" in names
    assert "x35_curation_pipeline_ckpt1_t.txt" in names
    final = (tmp_path / "x35_curation_pipeline_t.txt").read_text()
    staged = (tmp_path / "x35_curation_pipeline_ckpt1_t.txt").read_text()
    # the final plan reads the staged rows; the staged frame's plan is
    # the tokenizing projection that feeds them
    assert "Scan ExistingRDD" in final
    assert "Scan parquet" in staged and "toks" in staged
    # the hook is removed once the query is dumped
    assert "capture" not in dump_plans.DataFrame.localCheckpoint.__qualname__


def test_dump_plans_includes_graph_base_pairs_plan(spark, sf_dir, tmp_path):
    written = dump_plans.dump(spark, str(tmp_path), "t", sf_dir, ["x82_pagerank_fixedpoint"])
    staged = [p for p in written if "_ckpt" in os.path.basename(p)]
    assert staged
    plans = [open(p).read() for p in staged]
    # _materialized_graph's pair aggregation (co-purchase counts per
    # pair), explained after its staging action: AQE's final plan
    pairs = [p for p in plans if "HashAggregate" in p and "n_cust" in p]
    assert pairs
    assert all("isFinalPlan=true" in p for p in pairs)


def test_bench_named_queries_leave_detail_artifact_alone(spark, sf_dir, monkeypatch, capsys):
    import bench

    detail = os.path.join(ROOT, "BENCH_DETAIL.json")
    before = (os.stat(detail).st_mtime_ns, open(detail).read())
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "2")
    assert bench.main(["b01_pricing_summary"], spark=spark) == 0
    out = json.loads(capsys.readouterr().out)
    assert set(out) == {"queries", "samples", "probe_sec", "sf_dir"}
    assert len(out["samples"]["b01_pricing_summary"]) == 2
    assert out["queries"]["b01_pricing_summary"] > 0
    assert len(out["probe_sec"]) == 3
    assert out["sf_dir"] == sf_dir
    assert (os.stat(detail).st_mtime_ns, open(detail).read()) == before


def test_stream_bench_measures_every_path(spark, sf_dir, monkeypatch):
    # the detection path's frame must come from detection_query's own
    # builder: spy on it and check the frame carries the fact columns
    build, built = stream_bench.detections_stream, []

    def spy(*args, **kwargs):
        built.append(build(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(stream_bench, "detections_stream", spy)
    res = stream_bench.measure(spark, sf_dir, paths=stream_bench.ALL_PATHS)
    assert res["n_frames"] > 0
    assert set(res) == {"n_frames", *stream_bench.ALL_PATHS}
    assert len(stream_bench.ALL_PATHS) == 4
    for name in stream_bench.ALL_PATHS:
        assert res[name]["frames_per_sec"] > 0, name
    # the stateful paths start like the pipeline's queries
    from video_stream_processing_spark.streaming.pipeline import STATE_PARTITIONS

    for name in ("keyframe_gate", "exact_segments", "full_detection_path"):
        assert res[name]["state_stores"] == [STATE_PARTITIONS], name
    assert len(built) == 1
    assert built[0].columns == ["stream_id", "detection_time", "object_class", "confidence"]


def test_profile_query_reads_stages_without_ui(spark, sf_dir):
    assert spark.conf.get("spark.ui.enabled") == "false"
    wall, n_jobs, rows = profile_query.profile(spark, "b01_pricing_summary", sf_dir)
    assert wall > 0 and n_jobs >= 1
    assert any(tasks > 0 for (_dur, _sid, tasks, *_rest) in rows)


def test_plan_audit_counts_generator_filter_on_computed_array(spark, sf_dir):
    # pushdown inlines split(trim(text)) into explode's inferred filter
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    computed = (
        docs.select("doc_id", F.split(F.trim("text"), " ").alias("toks"))
        .select("doc_id", F.explode("toks").alias("w"))
        .where(F.col("doc_id") > 0)
    )
    assert plan_audit.audit_plan(computed)["gen_filters"] > 0


def test_plan_audit_ignores_generator_filter_on_stored_array(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    stored = emb.select("vec_id", F.explode("embedding").alias("x")).where(F.col("vec_id") > 0)
    assert plan_audit.audit_plan(stored)["gen_filters"] == 0
