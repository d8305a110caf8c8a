"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.
$SPARK_GRAFT_CPUS defaults to the host's cores.

Each query is materialized via a checksum aggregation over EVERY output
column (sum of xxhash64 of the row) — a bare .count() lets Catalyst's
ColumnPruning delete map-only projections entirely, so a
``df.select(id, f(col)).count()`` collapses to ``count(1)`` over the scan
and times a parquet row-count instead of the operator (this bit four
map-only entries through r5: text_clean_curator, llm_pii_scrub,
multimodal_metadata, text_lang_id_trigram).  For the r5→r6 transition the
old count-materialized total is also reported once as
``value_count_materialized`` so the historical series stays comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational core
    "agg_pricing_summary",
    "join_multiway_revenue_by_nation",
    "join_top_unshipped_orders",
    "join_left_orders_customer",
    "window_topk_per_group",
    "dedup_keep_first_per_key",
    # text / events
    "text_clean_curator",
    "events_windowed_counts",
    "events_sessionize",
    # LLM-pipeline operators
    "llm_exact_dedup",
    "llm_minhash_lsh_pairs",
    "llm_simhash_fingerprints",
    "llm_cosine_topk",
    "llm_ngram_jaccard_pairs",
    # stub-model inference dataflow
    "ml_relevance_inference",
    "ml_qa_inference_topk",
    # curation + advanced relational
    "curation_negative_sample",
    "curation_answer_containment",
    "agg_rollup_revenue",
    "window_running_sum",
    "multimodal_metadata",
]

# Added in round 3 — kept out of HEADLINE so `value` stays comparable with
# BENCH_r02; timings appear in "queries" and the full-set total in
# "total_all_queries".
HEADLINE_R3 = [
    "llm_repetition_stats",
    "llm_pii_scrub",
    "llm_quality_resample",
    "llm_bm25_topk",
    "llm_pack_offset_bins",
    "llm_chunk_documents",
    "pipeline_llm_curation",
]

# Added in round 4 — the reworked banded-LSH ANN paths and the M6 loop;
# same treatment as HEADLINE_R3 (counted in total_all_queries only).
HEADLINE_R4 = [
    "llm_ann_lsh_topk",
    "llm_embedding_near_dup",
    "llm_ann_candidate_count",
    "ml_qa_finetune_loss",
    "llm_hll_vocab_estimate",
    "llm_lm_perplexity",
    "llm_cms_token_counts",
    "text_lang_id_trigram",
    "events_hll_daily_users",
    "llm_prefix_jaccard_join",
    "llm_duplicate_spans",
    "join_salted_skew",
    "agg_quantile_sketch",
    "llm_semantic_dedup",
    "events_range_join_binned",
]

# Added in round 5 — product quantization; counted in total_all_queries only.
HEADLINE_R5 = [
    "llm_pq_codes",
    "llm_pq_adc_topk",
    "llm_ivfpq_topk",
    "llm_retrieve_rerank",
    "events_scd2_type_history",
    "events_scd2_pointintime",
    "events_gapfill_locf",
]

# Added in round 6 — scalar quantization, cluster-aware split, vocabulary
# coverage; counted in total_all_queries only.
HEADLINE_R6 = [
    "llm_sq_codes",
    "llm_sq_recon_error",
    "llm_leakage_safe_split",
    "llm_vocab_coverage",
    "llm_bpe_pair_counts",
    "llm_ann_recall",
    "llm_ivf_recall",
    "llm_pq_recall",
    "llm_corpus_report",
    "llm_semdedup",
    "llm_knn_graph",
    "llm_dsir_resample",
    "llm_mmr_diverse_topk",
    "multimodal_phash_dedup",
    "llm_c4_rules",
    "llm_token_budget_plan",
    "llm_pagerank",
    "llm_cross_corpus_links",
    "llm_feature_hash_embed",
    "llm_pq_refine_topk",
    "llm_bpe_merge_loop",
    "llm_bpe_encode",
    "llm_tfidf_keywords",
    "incremental_apply_cdc",
    "quality_expectations",
    "incremental_agg_maintenance",
    "layout_column_stats",
    "diag_skew_report",
    "llm_triangle_count",
    "privacy_k_anonymity",
    "llm_label_propagation",
    "diag_table_diff",
    "events_sliding_hll_users",
    "layout_zorder_key",
    "diag_join_explosion",
    "events_winsorize",
    "quality_rater_kappa",
    "llm_novelty_score",
    "llm_rand_projection",
    "llm_corpus_overlap",
    "llm_weighted_sample",
    "events_cooccurrence_lift",
    "llm_source_divergence",
    "events_time_weighted_avg",
    "events_transition_matrix",
    "linkage_fs_scores",
    "agg_grouping_sets",
    "window_ntile_deciles",
    "window_percentile_bins",
    "events_decayed_counts",
    "events_mad_outliers",
    "layout_column_histograms",
]


def checksum_materialize(df):
    """Force computation of every output column: count + xor of a
    per-row xxhash64 over all columns.  Unlike .count(), the hash
    REFERENCES every column, so ColumnPruning cannot delete map-side
    work feeding the output.  Primitive columns hash natively —
    casting everything to string doubled the harness's own cost on
    wide outputs and that cost lands on ONE core for the map-only
    queries (single-row-group test files scan as one task); only
    complex types (arrays/structs/maps) go through a string cast for
    hash support across types.

    Module-level and import-shared (tools/scale_curve.py uses this same
    function) so bench and scale-curve timings can never drift onto
    different materializers — the r4 adjudication trap.
    """
    from pyspark.sql import functions as F

    cols = [
        F.col(c).cast("string")
        if dt.startswith(("array", "map", "struct", "binary"))
        else F.col(c)
        for c, dt in df.dtypes
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: summing 2^63-scale hashes overflows under
        # ANSI arithmetic; xor is closed over long and still forces
        # every column's computation
        F.bit_xor(F.xxhash64(*cols)).alias("chk"),
    ).collect()[0]
    return row["n"]


# Round-7 and round-8 additions — same treatment as HEADLINE_R3 (timed,
# counted in total_all_queries only, headline `value` stays comparable).
HEADLINE_R7 = [
    "events_lag_features",
    "events_rfm_scores",
    "incremental_join_maintenance",
    "llm_corpus_resemblance",
    "llm_ivfpq_recall",
    "llm_perplexity_buckets",
    "llm_dedup_rate_by_source",
    "layout_bucketed_join",
    "llm_keep_canonical",
    "llm_fuzzy_ratio_join",
    "ml_relevance_training_metrics",
]

HEADLINE_R8 = [
    "layout_hilbert_key",
    "events_ohlc_bars",
    "events_asof_tolerance",
    "privacy_dp_counts",
    "privacy_l_diversity",
    "ml_group_regression",
    "llm_hard_negatives",
    "events_cusum_changepoint",
    "events_path_trigrams",
    "events_incident_overlap",
    "events_ab_test",
    "diag_correlation_matrix",
    "agg_weighted_percentiles",
    "quality_quantile_normalize",
    "quality_benford_audit",
    "agg_gini_concentration",
    "events_cross_correlation",
    "text_char_entropy",
    "events_asof_nearest",
    "events_timed_funnel",
    "events_dow_seasonality",
    "text_readability",
    "join_top_supplier_share",
    "events_cumulative_new_users",
    "events_time_to_convert",
    "llm_rank_fusion",
    "llm_centroid_outliers",
    "events_theil_sen_trend",
    "events_anomaly_ewma",
    "agg_mode_per_group",
    "agg_distribution_shape",
    "events_interval_coverage",
    "events_attribution_last_touch",
    "events_wilson_ci",
    "quality_psi_drift",
    "privacy_t_closeness",
    "join_exists_order_priority",
    "join_part_value_share",
    "join_single_late_supplier",
    "graph_kcore_copurchase",
    "events_entry_exit_matrix",
    "llm_source_logodds",
    "ml_calibration_bins",
    "events_stickiness_dau_mau",
    "events_stl_decompose",
    "llm_rake_keywords",
    "window_percent_rank_cume",
    "events_retention_d1_d7",
    "llm_dedup_cluster_sizes",
    "llm_filter_funnel",
    "events_retention_halflife",
    "llm_pack_utilization",
    "join_nation_trade_volume",
    "join_returned_revenue_topk",
    "agg_promo_share",
    "filter_or_of_ands",
    "llm_bm25_from_index",
    "llm_pmi_collocations",
    "events_growth_accounting",
    "events_pareto_deciles",
    "agg_share_to_parent",
    "events_stl_anomalies",
    "events_concurrency_peak",
    "llm_lsh_threshold_curve",
    "llm_zipf_fit",
    "events_backtest_seasonal_naive",
    "ml_time_split_report",
    "events_attribution_linear",
    "events_error_budget_burn",
    "events_session_depth_histogram",
    "join_cheapest_supplier_per_part",
]

# Round-9 additions — same treatment (timed, counted in total_all_queries).
HEADLINE_R9 = [
    "join_exists_order_priority_bkt",
    "join_returned_revenue_topk_bkt",
    "agg_custdist",
    "join_large_quantity_orders",
    "join_dormant_rich_customers",
    "join_market_share",
    "llm_heaps_law",
    "llm_bigram_entropy",
    "llm_temperature_mixture",
    "join_unshipped_topk_revenue",
    "agg_forecast_revenue_delta",
    "join_small_quantity_loss",
    "events_cuped",
    "quality_ks_test",
    "ml_auc_rank",
]


# Round-10 additions — same treatment (timed, counted in total_all_queries).
HEADLINE_R10 = [
    "join_product_type_profit",
    "join_shipmode_priority",
    "agg_parts_supplier_counts",
    "join_excess_shipping_share",
    "llm_heavy_hitters_serving",
    "agg_bootstrap_ci",
    "quality_krippendorff_alpha",
    "join_top_revenue_supplier",
    "ml_pr_curve",
    "events_survival_km",
    "events_markov_2step",
    "quality_chi2_independence",
    "quality_anova_f",
    "quality_mann_kendall",
]

HEADLINE_R11 = [
    "quality_jsd_drift",
    "llm_tokenizer_fertility",
    "llm_ndcg_eval",
]

# Round-12 additions — same treatment (timed, counted in total_all_queries).
HEADLINE_R12 = [
    "llm_kmeans_routed",
    "llm_kn_perplexity",
    "llm_good_turing_coverage",
]

# Round-13 additions — same treatment (timed, counted in total_all_queries).
HEADLINE_R13 = [
    "llm_fuzzy_candidates_profile",
    "ml_relevance_split_profile",
    "llm_bleu_doc_pairs",
]


def _drift_canary(spark, sf_dir: str) -> list[float]:
    """Host-drift canary (r12): a FIXED, flat, map-only micro-workload timed
    5x at round close.  Its bytes must never change round-over-round — it
    deliberately bypasses the package (raw parquet scan, inline expression,
    its own materializer) so engine refactors cannot move it.  Purpose:
    separate box-level drift from tree-level drift when comparing BENCH_rN
    series — the r11 judge's ask after the 1.40x r9→r11 residual could only
    be ATTRIBUTED to host drift, not measured.  Interpretation: if the
    canary moved by factor f between rounds, divide per-entry ratios by f
    before calling anything a regression.  DO NOT MODIFY THIS FUNCTION."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    proj = df.select(
        F.xxhash64(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            ),
            F.col("l_returnflag"),
            F.col("l_orderkey"),
        ).alias("h")
    )
    times: list[float] = []
    for _ in range(5):
        t0 = time.time()
        proj.agg(F.bit_xor("h").alias("chk"), F.count(F.lit(1)).alias("n")).collect()
        times.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from aicoe_osc_demo_spark.plans import QUERIES
    from aicoe_osc_demo_spark.session import default_cpus, get_spark

    cpus = default_cpus()

    spark = get_spark("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query timings measure the
    # query, not session startup
    QUERIES["proj_select_columns"](spark, sf_dir).count()
    # warm the Python worker pool (forked lazily on first Arrow stage) so
    # mapInPandas queries measure the operator, not the fork
    spark.range(0, int(cpus), 1, int(cpus)).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()

    load_start = os.getloadavg()
    count_series = os.environ.get("SPARK_GRAFT_COUNT_SERIES", "0") != "0"
    timings: dict[str, float] = {}
    timings_count: dict[str, float] = {}
    total = 0.0
    total_all = 0.0
    total_count = 0.0
    # entries whose cost is a documented Python-semantics path (difflib
    # token_set_ratio has no JVM equivalent) are timed ONCE — best-of-3
    # would triple a 30 s pandas-UDF stage for no extra signal
    slow_once = {"llm_fuzzy_ratio_join"}
    for name in (HEADLINE + HEADLINE_R3 + HEADLINE_R4 + HEADLINE_R5
                 + HEADLINE_R6 + HEADLINE_R7 + HEADLINE_R8 + HEADLINE_R9
                 + HEADLINE_R10 + HEADLINE_R11 + HEADLINE_R12 + HEADLINE_R13):
        fn = QUERIES[name]
        best, n = None, 0
        # best-of-3: amortizes codegen/JIT noise AND makes a one-off
        # container-contention spike visible as (best vs others) spread —
        # the r3 driver run recorded a +21% phantom regression from exactly
        # such a spike
        for _ in range(1 if name in slow_once else 3):
            t0 = time.time()
            n = checksum_materialize(fn(spark, sf_dir))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        # operators that persist internally (e.g. prefix_jaccard_join's
        # shingle base) must not carry cached blocks into later queries —
        # each entry is timed against a clean block manager
        spark.catalog.clearCache()
        # transition series: the pre-r6 count() materialization.  The
        # cross-method pair is pinned in BENCH_r06, so this now defaults
        # OFF (it re-executes every query 3 more times and just triples
        # wall time); SPARK_GRAFT_COUNT_SERIES=1 re-enables it for
        # method-comparison reruns.
        best_c = None
        if count_series:
            for _ in range(3):
                t0 = time.time()
                fn(spark, sf_dir).count()
                dt = time.time() - t0
                best_c = dt if best_c is None else min(best_c, dt)
            timings_count[name] = round(best_c, 3)
            spark.catalog.clearCache()
        if name in HEADLINE:
            total += best
            total_count += best_c or 0.0
        total_all += best
        extra = f" (count-only {best_c:.2f}s)" if best_c is not None else ""
        print(f"# {name}: {n} rows in {best:.2f}s{extra}", file=sys.stderr)

    # drift canary LAST (round close): 5 timings of the fixed workload
    canary_times = _drift_canary(spark, sf_dir)
    canary = {
        "times": canary_times,
        "best": min(canary_times),
        "median": sorted(canary_times)[2],
    }
    print(f"# drift_canary: {canary_times} (best {canary['best']:.2f}s)", file=sys.stderr)

    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = None

    # The full per-query map is ~7 KB at 200+ entries and the driver's tail
    # capture truncates the head of a line that long (BENCH_r01–r09 all show
    # "parsed": null), so stdout carries ONE COMPACT line — headline metric,
    # totals, context — and the complete map goes to BENCH_LOCAL.json next to
    # this script (plus the per-query stderr narration above).
    detail = {
        "metric": "headline_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "total_all_queries": round(total_all, 3),
        # r5→r6 method transition: same queries under the old
        # count() materialization (ColumnPruning-affected); absent
        # when SPARK_GRAFT_COUNT_SERIES=0
        **(
            {
                "value_count_materialized": round(total_count, 3),
                "queries_count_materialized": timings_count,
            }
            if count_series
            else {}
        ),
        "sf": sf,
        # machine load context so a contended run is distinguishable
        # from a real regression when comparing rounds
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # fixed map-only micro-workload (see _drift_canary) — normalize
        # cross-round per-entry ratios by the canary ratio before
        # attributing movement to the tree
        "canary": canary,
    }
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(local_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    compact = {
        k: v
        for k, v in detail.items()
        if k not in ("queries", "queries_count_materialized")
    }
    compact["n_queries_timed"] = len(timings)
    compact["queries"] = {"_full_map": "BENCH_LOCAL.json"}
    # r14 (VERDICT r13 "Next round" #2): the driver's tail capture truncates
    # very long lines, which is why the compact line above carries no
    # per-query map (BENCH_r01–r09 "parsed": null) — but that left
    # PERF_r{N}.per_query empty since r9 and the driver blind to per-query
    # regressions and scaling ratios.  Emit the map in driver-parseable form
    # as ADDITIONAL self-identifying lines of <=80 entries each (2-decimal
    # timings, compact separators: ~2.5 KB/line, far under the observed
    # truncation threshold).  The compact headline line stays byte-compatible
    # (additions only) so the series remains comparable.
    names = sorted(timings)
    chunk = 80
    n_parts = (len(names) + chunk - 1) // chunk
    for part in range(n_parts):
        seg = names[part * chunk : (part + 1) * chunk]
        print(
            json.dumps(
                {
                    "metric": "per_query_map",
                    "part": part + 1,
                    "n_parts": n_parts,
                    "queries": {n: round(timings[n], 2) for n in seg},
                },
                separators=(",", ":"),
            )
        )
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
