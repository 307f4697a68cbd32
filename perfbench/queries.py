"""The declared queries each batch workload runs, by registry name."""

from __future__ import annotations

# Short relational queries on the detections-table surface: per-job fixed
# cost and plan build set their time; no staging, no streaming state.
FACT_QUERIES = (
    "a07_detection_fact_pipeline",
    "flagship_segment_pipeline",
    "b01_pricing_summary",
    "b03_broadcast_join",
    "b04_snowflake_join",
    "b07_count_distinct",
    "b14_topk_per_group",
    "b22_sessionization",
    "b23_tumbling_window",
    "b27_percentiles",
    "b55_funnel_steps",
    "b69_forecast_revenue_change",
)

# Curation operators that stage eagerly while their plan is built.
CURATION_QUERIES = (
    "x35_curation_pipeline",
    "x02_minhash_lsh_neardup",
)

# Curation queries sized but left out of the rotation because one pass
# over them costs more than a run's time budget (see README.md, "Run size").
# Their fingerprints are kept so they can be rotated back in.
CURATION_DEFERRED = (
    "x132_unigram_soft_tokenize",
    "x48_ivfpq_topk",
    "x137_multimodal_curation_e2e",
    "x130_extract_filter_chain",
    "x89_kcore_peel",
    "x82_pagerank_fixedpoint",
    "b63_recursive_bfs_reach",
)
