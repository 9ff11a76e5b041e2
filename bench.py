#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...}``.

Headliners cover the engine's hot paths: the star join, window dedup,
whole-table cleaning pipeline, grouped aggregation, rollup, top-N —
the plans whose shape dominates at 100 TB.

Methodology (pinned in round 5): measurements run in FRESH JVMs, one
subprocess per headline group. Rounds 2→4 showed a uniform ~17% drift
across all 35 common queries with unchanged plans — session age, not
plan shape (state-store providers, codegen cache, heap fragmentation
accumulate). Forking per group bounds session age to a handful of
queries, and each query's ``session_age_sec`` is recorded so any
residual drift is attributable. Within a group the r4 discipline
stays: warm each query immediately before measuring it on the
smallest fixture, reset session state outside the timed window, and
measure streaming (stateful, state-store-leaving) queries in the last
group. The child protocol and the warm/reset/sample loop live in
tools/measure.py, shared with the tools/ harnesses.

Round-5 addition: each query is measured TWICE post-warm and the MIN
is reported (both samples land in ``runs``). The sandbox VM shows
multi-x scheduler-noise spikes concentrated on multi-job iterative
queries (near_dup_canonical measured 10-30 s across identical
back-to-back runs); min-of-2 suppresses the spike tail while the raw
pairs keep the noise floor observable.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools import measure  # noqa: E402

# One tuple per fresh-JVM group, in measurement order. Python-worker
# paths (mapInPandas) and iterative jobs first, batch SQL in the
# middle, STREAMING LAST within its own JVM so state stores and
# memory-sink tables never age any other query's window.
GROUPS: tuple[tuple[str, ...], ...] = (
    # Python-path + iterative (most sensitive to session age)
    ("multimodal_features", "kmeans_two_iter", "near_dup_canonical"),
    # training-data ops
    (
        "token_stats", "curation_funnel", "minhash_lsh_dedup",
        "simhash_buckets", "ann_bruteforce_topk", "ann_ivf_topk",
        "embedding_cosine_dedup", "pii_scan_stats", "tfidf_top_terms",
        "stratified_split",
        # r9 registry addition (appended LAST so the group's existing
        # session-age ordering is untouched)
        "minhash_lsh_matview",
    ),
    # round-5 training-data ops (packing, boilerplate, retrieval,
    # incremental dedup, snapshot CDC, DQ suite)
    (
        "sequence_packing", "boilerplate_ngrams", "bm25_topk",
        "incremental_dedup", "pii_redaction", "snapshot_diff",
        "dq_constraint_report", "cube_sales_margins",
        "funnel_conversion", "table_checksum_buckets",
    ),
    # approx sketches + relational / BI hot paths
    (
        "hll_distinct_check", "revenue_by_nation", "pricing_summary",
        "shipping_priority", "dedup_latest", "grouped_count_multi",
        "rollup_agg", "recent_n", "daily_moving_avg", "reconciliation",
    ),
    # cleaning pipeline, analytics views, custom temporal operators
    (
        "clean_table_pipeline", "analytics_view_dates", "asof_join_lag",
        "range_join_windows", "time_rollup",
    ),
    # decision-support join strategies + CDC envelope path
    (
        "priority_semi_count", "inactive_customers_anti",
        "large_order_customers", "groupwise_max_orders", "scd2_history",
        "text_source_agg", "cdc_unwrap_dedup",
    ),
    # round-5 enrichment pack (semantic dedup, substring dedup,
    # tokenizer mining, robust stats, graph centrality)
    (
        "semdedup_prune", "repeated_window_dedup", "chunk_stride_stats",
        "bpe_merge_mining", "outlier_iqr_report", "winsorize_stats",
        "time_gap_fill", "fuzzy_match_recovery", "pagerank_two_iter",
        "embedding_decontaminate", "scd2_point_in_time_join",
        "value_histogram_equidepth", "cluster_top_terms",
    ),
    # round-6 pack (NULL-safe quantiles, window value functions,
    # array HOFs, ANN recall, MinHash calibration, substring decon,
    # Zipf fit)
    (
        "null_safe_quantiles", "window_frame_functions",
        "higher_order_array_ops", "ann_recall_report",
        "minhash_jaccard_calibration", "substring_decontaminate",
        "zipf_slope_by_lang", "multimodal_features_arrow",
        "compaction_file_audit", "corrupt_records_audit",
        "asof_join_forward_lead", "sql_pipe_surface",
        "sorted_array_agg", "mad_robust_scale",
        "recursive_hierarchy_rollup", "python_datasource_scan",
        "collated_group_surface", "xml_source_agg",
        "try_arithmetic_surface", "parameterized_sql_surface",
        "lateral_join_topn", "python_udtf_chunker",
        "temporal_functions_surface", "shuffle_hash_join_agg",
        "dq_metric_drift", "embedding_drift_epochs",
        "quantile_stratified_sample",
    ),
    # round-6 discovery pack (key/FD/FK discovery, entropy profile,
    # Benford, transition mining, basket lift, k-anonymity)
    (
        "candidate_key_report", "functional_dependency_audit",
        "fk_discovery_containment", "column_entropy_profile",
        "benford_first_digit", "event_transition_matrix",
        "cooccurrence_lift", "k_anonymity_report",
        "orphan_fk_audit", "runtime_bloom_join_agg",
        "golden_record_merge", "temperature_mix_allocation",
        "effective_token_report", "quality_dedup_correlation",
        "dynamic_partition_pruning_agg", "string_agg_surface",
        "group_by_all_surface", "oov_rate_report",
        "pii_column_discovery", "join_size_estimate_report",
        "label_centroid_outliers",
    ),
    # late-r6 production-ops pack (MERGE, EWMA, MMR, batching, rules,
    # anti-entropy repair, map-typed state, surrogate keys)
    (
        "merge_three_way", "ewma_anomaly_report", "mmr_diversified_topk",
        "length_bucket_batching", "gopher_rules_report",
        "checksum_repair_plan", "map_delta_report",
        "surrogate_key_assignment", "minmax_skipping_audit",
        "late_dimension_backfill", "bigram_logprob_quality",
        "watermark_lateness_audit", "dynamic_partition_overwrite_agg",
        "ks_drift_test", "id_completeness_audit",
        "kaplan_meier_survival", "peak_concurrency_report",
        "sparse_cosine_pairs", "asof_join_tolerance",
    ),
    # streaming (availableNow, stateful) — last, own JVM
    ("streaming_hourly_counts", "stream_stream_join", "streaming_dq_gate",
     "python_stream_source_totals", "state_store_inspection"),
)

HEADLINE: tuple[str, ...] = tuple(n for g in GROUPS for n in g)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    match = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else -1.0

    # Ambient load at run START (r10 verdict: the r10 baseline was
    # captured at loadavg ~6-8 and silently inflated the drift gate;
    # recording the start value makes "was the machine idle" auditable
    # from the file alone, matching loadavg_end below).
    loadavg_start = list(os.getloadavg())

    # One fresh JVM per group, best-of-2 per query inside it. Failures
    # are isolated per query inside the child and per group around it:
    # a wedged JVM loses one group's signal, never the round's
    # (BENCH_r03 lesson).
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    ages: dict[str, float] = {}
    errors: dict[str, str] = {}
    for names in GROUPS:
        for name, row in measure.run_child(names, sf_dir, 2, 1800).items():
            if "error" in row:
                errors[name] = row["error"]
                continue
            timings[name] = row["min"]
            runs[name] = row["runs"]
            ages[name] = row["session_age_sec"]

    # The final stdout line must stay under the driver's 2,000-char
    # stdout TAIL (measured in BENCH_r06: the captured tail is exactly
    # 2,000 chars and starts mid-line, so the r6 3,172-char "compact"
    # line was still truncated and parsed=null for a second round).
    # Contract: stdout carries the headline total plus ONLY the
    # slowest-10 per-query pairs (~1 kB); the FULL per-query map, raw
    # sample pairs, session ages, and error text live in
    # logs/bench_detail.json.
    detail = {
        "jvm_groups": len(GROUPS),
        "session_age_sec": ages,
        # every per-query timing (stdout carries only the slowest 10)
        "queries": timings,
        # both raw samples per query (timings = min of the two)
        "runs": runs,
        "errors": errors,
        # ambient machine load at run end (1/5/15-min loadavg): the r8
        # mid-round run showed a uniform ~2x cluster on untouched
        # queries that normalized on an idle machine — recording load
        # makes that forensics one field-read instead of a re-run
        "loadavg_start": loadavg_start,
        "loadavg_end": list(os.getloadavg()),
        "host": measure.host_fingerprint(loadavg_start),
    }
    log_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "logs")
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, "bench_detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(render_final_line(timings, errors, sf))


def render_final_line(timings: dict[str, float], errors: dict[str, str],
                      sf: float) -> str:
    """Render the single driver-contract stdout line, hard-bounded to
    1,500 chars (the driver's capture window is a 2,000-char stdout
    tail). Only the slowest-10 query pairs ride on stdout; the full
    per-query map is in logs/bench_detail.json."""
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10]),
        "sf": sf,
        # A partial sum must never read as a full run (ADVICE r4):
        # downstream comparisons check measured == expected first.
        "queries_measured": len(timings),
        "queries_expected": len(HEADLINE),
    }
    if errors:
        # count + first few names — full text lives in
        # logs/bench_detail.json; an unbounded name list re-creates
        # the oversized-line failure once headliners approach ~100
        out["failed_count"] = len(errors)
        out["failed"] = sorted(errors)[:5]
    line = json.dumps(out, separators=(",", ":"))
    # Shed the queries map before ever shedding the headline total.
    if len(line) > 1500:
        out["queries"] = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:3])
        line = json.dumps(out, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
