"""The catalog harness: the one timing protocol, the one comparison
rule and the one entry-build loop. `tools/bench_sf1.py`,
`tools/scaling_probe.py` and the plan inspectors (`dump_plans`,
`plan_audit`, `lambda_agg_scan`, `round_risk_scan`) import them.

    python bench.py              # HEADLINE at $SPARK_GRAFT_SF_DIR
    python bench.py name [...]   # only the named entries; writes nothing

With no arguments it prints ONE JSON line:
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <dir>}
and writes the full record to BENCH_DETAIL.json. With names it prints
their record, compared with BENCH_DETAIL.json by the same rule.

Timing excludes session startup and warm-up; each entry is
materialized via collect() (results are aggregate-sized).
$SPARK_GRAFT_BENCH_PASSES (at least 2) sets the number of passes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from lottery_end_to_end_etl_data_pipeline_spark import get_session  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import QUERIES  # noqa: E402

WARM_SF = "/root/testdata/sf0.001"
DETAIL_PATH = Path(__file__).with_name("BENCH_DETAIL.json")

HEADLINE = [
    "star_join_revenue",
    "gold_draw_summary_shape",
    "gold_frequency_shape",
    "gold_geo_shape",
    "gold_time_series_shape",
    "gold_letters_shape",
    "gold_terminations_shape",
    "gold_leaderboard_shape",
    "topk_per_group_window",
    "iqr_filter",
    "explode_tokens",
    "json_extract",
    "reconcile_diff",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_capped",
    "dedup_embedding_cosine",
    "knn_brute_cosine",
    "text_stats_by_lang",
    "asof_join_latest_order",
    "asof_event_to_prior_purchase",
    "range_join_signup_windows",
    "knn_lsh_indexed_cosine",
    "hypertable_rollup",
    "stratified_sample_counts",
    "sequence_packing_stats",
    "decontaminate_containment",
    "pii_redaction_counts",
    "sessionize_batch_30m",
    "streaming_windowed_counts",
    "lag_lead_inter_event",
    "bm25_topk",
    "full_outer_user_totals",
    "knn_join_topk",
    "repetition_filter_stats",
    "mixture_downsample_counts",
    "zorder_cell_stats",
    "hll_sketch_workflow",
    "embedding_dim_stats",
    "window_function_surface",
    "regression_surface",
    "heavy_hitters_users",
    "mad_outliers_by_type",
    "reservoir_sample_by_lang",
    "lateral_topk_per_region",
    "recursive_cte_month_spine",
    "funnel_conversion",
    "cohort_retention",
    "embedding_quantize_stats",
    "chunk_overlap_stats",
    "knn_label_agreement",
    "stratified_exact_n_sample",
    "dsir_importance_by_lang",
    "semdedup_stats",
    "hard_negative_mining",
    "event_transition_matrix",
    "top_tfidf_terms",
    "weighted_sample_events",
    "session_window_native",
    "collocations_pmi",
    "curation_pipeline_counts",
    "data_contract_report",
    "pareto_revenue_concentration",
    "lang_source_chisq",
    "winsorized_value_stats",
    "daily_autocorrelation",
    "rrf_quality_fusion",
    "fk_integrity_report",
    "benford_digit_audit",
    "cdc_chunk_stats",
    "partition_key_advisor",
    "lexicon_filter_stats",
    "zipf_fit_audit",
    "dow_hour_heatmap",
    "gini_user_activity",
    "equidepth_histogram",
    "multimodal_decode_roundtrip",
    "odds_by_draw_type",
    "grouping_sets_sales",
    "stat_moments_surface",
    "map_functions_surface",
    "activity_streaks",
    "ngram_diversity_by_lang",
    "count_min_heavy_hitters",
    "bloom_semi_join_audit",
    "triangle_count_knn",
    "ewma_daily_value",
    "bucketed_join_no_shuffle",
    "streaming_session_stats",
    "streaming_dedup_counts",
    "streaming_join_attribution",
    "udtf_lateral_segments",
    "datetime_functions_surface",
    "null_semantics_surface",
    "regexp_functions_surface",
    "hof_functions_surface",
    "fuzzy_join_blocked",
    "trend_slope_by_type",
    "schema_evolution_roundtrip",
    "secrets_scan_stats",
    "dup_cluster_size_dist",
    "hll_set_ops_audit",
    "dp_noisy_counts",
    "rendezvous_shard_assignment",
    "small_file_compaction_stats",
    "ivm_join_delta",
    "neyman_allocation_sample",
    "streaming_exactly_once_counts",
    "decile_shift_by_source",
    "repeated_span_stats",
    "temperature_mixture_counts",
    "repeated_span_incremental",
    "quality_classifier_scores",
    "token_budget_selection",
    "canonical_doc_per_cluster",
    "chunk_embedding_pooling",
    "approx_percentile_audit",
    "epoch_shuffle_orders",
    "cdc_apply_tombstones",
    "dedup_prefix_filter_join",
    "bpe_pair_counts",
    "sorted_neighborhood_pairs",
    "skyline_orders",
    "pca_variance_audit",
    "welch_ab_test",
    "phrase_search_positional",
    "attribution_models",
    "frequent_item_pairs",
    "ols_normal_equations",
    "clustering_coefficient_knn",
    "label_propagation_knn",
    "quantile_normalize_lengths",
    "bootstrap_ci_mean",
    "conformal_threshold_coverage",
    "edit_distance_join_parts",
    "langid_agreement_metrics",
    "join_size_estimation",
    "holt_forecast_daily",
    "similar_docs_query",
    "mutual_information_event_dow",
    "personalized_pagerank_knn",
    "facility_location_coreset",
    "session_path_trigrams",
    "theil_sen_daily_trend",
    "incremental_stats_merge",
    "psi_value_drift",
    "rfm_segmentation",
    "streaming_zscore_alerts",
    "abandoned_clicks",
    "auc_quality_classifier",
    "ks_two_sample_binned",
    "table_fingerprint_events",
    "calibration_ece",
    "cusum_changepoint_daily",
    "vocab_oov_rate",
    "forecast_backtest_mase",
    "kcore_mutual_knn",
    "peak_concurrency_sweep",
    "group_split_no_leakage",
    "hits_authority_knn",
    "snapshot_delta_stats",
    "heaps_law_fit",
    "k_anonymity_audit",
    "cascade_delete_audit",
    "ndcg_truncation_audit",
    "column_profile_all",
    "column_profile_approx",
    "tablefmt_concurrency_audit",
    "tablefmt_stats_pruned_read",
    "tablefmt_zorder_skipping",
    "tablefmt_cdf_counts",
    "tablefmt_merge_audit",
    "time_travel_timestamp",
    "tablefmt_upgrade_audit",
    "tablefmt_staging_vacuum_audit",
    "tablefmt_mor_delete_audit",
    "tablefmt_bloom_skipping",
    "streaming_mor_cdc_sink",
    "tablefmt_constraints_audit",
    "tablefmt_restore_clone_audit",
    "tablefmt_metadata_agg_audit",
    "tablefmt_partition_pruning",
    "tablefmt_replace_where_audit",
    "tablefmt_partition_evolution_audit",
    "tablefmt_readstream_audit",
    "tablefmt_metadata_tables",
    "preference_pair_mining",
    "tablefmt_stream_sink_roundtrip",
    "weak_label_model",
    "bfs_blast_radius",
    "embedding_class_separation",
    "mahalanobis_outliers",
    "als_half_step",
    "distinctive_terms_by_source",
    "functional_dependency_audit",
    "knn_reciprocity",
    "bitwise_functions_surface",
    "paragraph_dedup_reassembly",
    "cluster_purity_nmi",
    "raking_ipf_weights",
    "kfold_cv_ridge",
    "business_days_lag",
    "markov_next_event_accuracy",
    "try_functions_surface",
    "association_rules_metrics",
    "pseudonymization_roundtrip",
    "decimal_money_surface",
    "xml_parse_surface",
    "decayed_engagement_score",
    "blocking_quality_metrics",
    "velocity_rule_alerts",
    "weighted_median_by_status",
    "price_volume_mix_decomposition",
    "sequence_gap_audit",
    "rollup_cascade_parity",
    "fk_discovery_containment",
    "state_machine_conformance",
    "group_mean_imputation",
    "churn_labels_audit",
    "nucleus_coverage_stats",
    "source_jsd_matrix",
    "streaming_mor_upsert_sink",
    "tablefmt_rebase_audit",
    # r09 additions
    "exact_int_divergence_probe",
    "knn_pq_cluster_recall",
    "ntile_price_deciles_sharded",
    # r09 continuation: driver surfaces for the formerly pytest-only
    # operators (normalize_text, ORC, int8 ANN, expect_* DQ,
    # multimodal kernels, write_token_shards)
    "unicode_nfc_dedup",
    "orc_roundtrip_audit",
    "knn_int8_indexed_recall",
    "dq_expectations_report",
    "multimodal_feature_pipeline",
    "token_shard_write_audit",
    # r10 additions: the Bronze parser round-trip (the reference's one
    # custom operator, driver-checked end to end) and the two new
    # curation audits
    "bronze_parser_roundtrip",
    "quality_calibration_ece",
    "tokenizer_fertility_audit",
    "scrape_extract_roundtrip",
    "csv_roundtrip_audit",
    "json_audited_roundtrip",
    # r11 addition: the duplicate-collapse blow-up path (PPJoin rework)
    "dedup_pairs_duplicate_heavy",
]

# The reference's only published latency (BASELINE.md: p50 = 135 s,
# p90 = 248 s) times its 7-gold-CTAS pipeline — NOT a 150-query
# analytics suite. The apples-to-apples comparison is therefore the
# sum over these 7 entries, which run the gold SQL the pipeline writes
# (`operators/gold.py::GOLD_TABLES`) over a stand-in silver of about
# 3,000 draws at sf0.1; the full-suite total above it measures breadth
# the reference cannot run at all.
REFERENCE_PIPELINE = [
    "gold_draw_summary_shape",
    "gold_frequency_shape",
    "gold_geo_shape",
    "gold_time_series_shape",
    "gold_letters_shape",
    "gold_terminations_shape",
    "gold_leaderboard_shape",
]


def is_contended(control: float, dispersion_p50: float) -> bool:
    """True when a bench run measured ITSELF as contended and must not
    overwrite the committed baseline (r11 verdict #2: the r11 record,
    taken at control 1.21 / dispersion_p50 1.39, poisoned later
    comparisons). Thresholds match the adjudication protocol:
    control > 1.15 (the per-entry flag normalization already relaxes
    gates to ~1.5x raw there) or dispersion_p50 > 1.25 (the median
    entry's passes disagree by >25% — session-wide noise)."""
    return control > 1.15 or dispersion_p50 > 1.25


def env_passes() -> int:
    return max(2, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))


def collect(df) -> None:
    df.collect()


def noop(df) -> None:
    """Materialize every column at full engine throughput without a
    driver-side collect: for outputs of tens of millions of rows,
    where collect() would time Python deserialization, not the plan."""
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def job_description(spark, name: str):
    """Tag the Spark jobs started inside the block with ``name``, so an
    event log or the UI attributes them to the entry."""
    sc = spark.sparkContext
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def time_entries(spark, entries, sf_dirs, passes, sink=collect):
    """The one timing protocol. ``entries`` maps names to catalog
    builders ``(spark, sf_dir) -> DataFrame``. Returns
    ``{sf_dir: {name: [seconds of each pass]}}``.

    Each entry first runs once at WARM_SF, outside timing, JMH-style:
    its one-time Janino codegen and JIT compilation (1-6 s on the
    widest plans, the same at every scale) then happen before the timed
    passes, which measure steady-state throughput. A warm-up failure
    never fails the run. Then ``passes`` full passes over the entries
    run at each sf dir; the caller keeps the per-entry best, because a
    single measurement cannot tell a regression from contention noise
    (round 5 recorded 16 phantom >30% regressions on untouched code)."""
    if os.path.isdir(WARM_SF):
        for name, build in entries.items():
            with job_description(spark, name):
                try:
                    sink(build(spark, WARM_SF))
                except Exception:
                    pass
    times: dict[str, dict[str, list[float]]] = {}
    for sf_dir in sf_dirs:
        for p in range(passes):
            for name, build in entries.items():
                with job_description(spark, name):
                    t0 = time.monotonic()
                    sink(build(spark, sf_dir))
                    dt = round(time.monotonic() - t0, 3)
                times.setdefault(sf_dir, {}).setdefault(name, []).append(dt)
                print(f"{sf_dir} pass {p + 1}/{passes} {name}: {dt}s", file=sys.stderr)
    return times


def _p50(values) -> float:
    ordered = sorted(values)
    return ordered[len(ordered) // 2] if ordered else 1.0


def record(pass_times, prev_path: Path, metric: str, sf: str, **reported) -> dict:
    """The one comparison rule: per-entry min-of-N against the record
    at ``prev_path``, with dispersion max/min over the passes.

    Per-entry ratios are divided by a machine-drift control: the median
    ratio over the entries the previous record timed above 0.5 s. A
    real regression is isolated, so the median tracks the environment,
    not the defect (r10: the whole box ran ~1.15x slower and min-of-2
    flagged 16 phantom regressions), and it needs no fixed entry list.
    The control is clamped to >= 1 so a faster machine never hides a
    regression. An entry regressed when its min exceeds 1.3x its
    previous time times the control; entries under 0.5 s are noise.
    A control above 1.15 is flagged as its own entry: in that window
    the normalization relaxes every gate (1.3x raw becomes up to
    ~1.7x), where a shared-helper regression slowing many entries
    could normalize itself away, so it must be adjudicated.

    ``reported`` are extra numbers recorded as given."""
    timings = {k: min(v) for k, v in pass_times.items()}
    dispersion = {
        k: round(max(v) / timings[k], 2) if timings[k] > 0 else 1.0
        for k, v in pass_times.items()
    }
    try:
        prev = json.loads(prev_path.read_text()).get("queries", {})
    except (OSError, ValueError):
        prev = {}
    base = {k: prev[k] for k in timings if prev.get(k, 0) > 0.5}
    control = max(1.0, _p50(timings[k] / base[k] for k in base)) if base else 1.0
    regressions = sorted(
        (
            [k, round(timings[k] / (base[k] * control), 2)]
            for k in base
            if timings[k] > 1.3 * base[k] * control
        ),
        key=lambda kv: -kv[1],
    )
    if control > 1.15:
        regressions.insert(0, ["median_drift_CONTROL", round(control, 2)])
    return {
        "metric": metric,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "passes": max(map(len, pass_times.values()), default=0),
        **reported,
        "machine_control_factor": round(control, 3),
        "queries": timings,
        "dispersion_max_over_min": dispersion,
        # per-pass times say WHICH pass stalled, and whether a
        # dispersion spike was one transient event or systematic
        "pass_times": pass_times,
        "regressions_vs_prev": regressions,
        "sf": sf,
        "quarantined": is_contended(control, _p50(dispersion.values())),
    }


def publish(pass_times, path: Path, metric: str, sf: str, **reported) -> dict:
    """Write the ``record`` of ``pass_times`` against ``path`` and
    return its compact line. A run that measured itself as contended
    writes ``<stem>.quarantine.json`` and leaves ``path`` unchanged: a
    contended record, once committed, poisons every later comparison.

    The compact line carries the slowest 25 entries at 2 decimals: it
    is parsed from the tail of stdout, and a full per-entry dict once
    pushed the line's head ("metric"/"value") out of that tail."""
    detail = record(pass_times, path, metric, sf, **reported)
    if detail["quarantined"]:
        path = path.with_name(f"{path.stem}.quarantine.json")
    path.write_text(json.dumps(detail, indent=1) + "\n")
    timings, dispersion = detail["queries"], detail["dispersion_max_over_min"]
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:25]
    return {
        "metric": metric,
        "value": detail["value"],
        "unit": "sec",
        "n_queries": len(timings),
        "passes": detail["passes"],
        "sec_per_query": round(detail["value"] / max(len(timings), 1), 3),
        **reported,
        "machine_control_factor": detail["machine_control_factor"],
        "dispersion_p50": _p50(dispersion.values()),
        "dispersion_max": max(dispersion.values(), default=1.0),
        "dispersion_max_entry": (
            max(dispersion, key=dispersion.get) if dispersion else None
        ),
        "regressions_vs_prev": detail["regressions_vs_prev"][:10],
        "quarantined": detail["quarantined"],
        "queries": {k: round(v, 2) for k, v in slowest},
        "queries_file": path.name,
        "sf": sf,
    }


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def inspect_entries(spark, names, sf_dir, inspect):
    """The one build loop of the plan inspectors. Builds each named
    catalog entry at ``sf_dir`` and applies ``inspect`` to its frame,
    with the Spark jobs of both tagged with the name. Yields
    ``(name, inspect(frame), None)``, or ``(name, None, exc)`` when
    building or inspecting raised. Entries that run side effects when
    built (streaming drains, index writes, k-means training) run them
    here, exactly as the correctness mirror does."""
    for name in names:
        with job_description(spark, name):
            try:
                result, error = inspect(QUERIES[name](spark, sf_dir)), None
            except Exception as exc:  # noqa: BLE001
                result, error = None, exc
        yield name, result, error


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM and the file listing at the timed sf
    QUERIES["gold_letters_shape"](spark, sf_dir).collect()
    entries = {name: QUERIES[name] for name in names or HEADLINE}
    pass_times = time_entries(spark, entries, [sf_dir], env_passes())[sf_dir]
    ref_pipeline_sec = round(
        sum(min(pass_times[q]) for q in REFERENCE_PIPELINE if q in pass_times), 3
    )
    if names:
        detail = record(
            pass_times, DETAIL_PATH, "named_entries_total", sf_dir,
            reference_pipeline_sec=ref_pipeline_sec,
        )
        print(json.dumps(detail, indent=1))
        return
    compact = publish(
        pass_times, DETAIL_PATH, "headline_queries_total", sf_dir,
        reference_pipeline_sec=ref_pipeline_sec,
    )
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main(sys.argv[1:])
