"""Generate PLANS.md: the physical-plan properties of the headline queries
— pushed filters, read schemas, join strategies, exchange counts — as
checked-in evidence that the scale-critical plan shapes hold (the same
properties tests/test_plans.py asserts)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# documented beyond the BASELINE.md headline set — module-level so
# tests/test_docs_current.py can assert PLANS.md covers exactly this set
EXTRA_KEYS = [
    "tpch_q6_forecast_revenue",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue_share",
    "tpch_q15_top_supplier",
    "tpch_q18_large_volume",
    "tpch_q21_suppliers_kept_waiting",
    "tpch_q4_order_priority",
    "tpch_q13_custdist",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_disjunctive_pred",
    "tpch_q22_global_sales_opportunity",
    "join_skew_aqe",
    "join_full_outer_reconcile",
    "dedup_embedding_cosine",
    # round 8
    "tpch_q8_market_share",
    "decontam_overlap",
    "chunk_documents",
    "vocab_coverage",
    "layout_zorder_key",
    "scan_dpp_dim_filter",
    "join_bucketed_zero_shuffle",
    "join_bitmap_prefiltered",
    "pack_training_sequences",
    "mv_incremental_refresh",
    # round 12
    "sessionize_batch_clustered",
    "sim_search_pq_adc",
    "sim_search_hamming_binary",
    "events_pattern_match",
    "quality_kneser_ney_logprob",
    "timeseries_holt_winters",
    # round 13
    "events_pattern_match_clustered",
    "timeseries_acf",
    "graph_link_prediction_ra",
    "sim_search_mmr_diversified",
    "timeseries_moving_median",
    # round 13, second wave
    "window_gaps_islands",
    "agg_skew_kurtosis",
    "corpus_gini_by_source",
    "sim_eval_mrr_recall",
    "embedding_pca_power_iteration",
    "dedup_eval_minhash_lsh",
    "events_survival_km",
    "agg_mann_whitney_u",
    # round 13, third wave
    "agg_welch_ttest",
    "agg_oneway_anova",
    "sim_eval_centroid_confusion",
    "sim_eval_roc_auc_ovr",
    "dedup_levenshtein_blocked",
    "graph_clustering_coefficient",
    "timeseries_ccf",
    "events_user_path_trigrams",
    "agg_gini_customer_revenue",
    "events_dau_mau_stickiness",
    "sample_balanced_class_downsample",
    "window_drawdown",
    # round 13, fourth wave
    "rollup_cohort_ltv",
    "agg_mutual_information",
    "timeseries_ar1_halflife",
    "dq_key_uniqueness",
    "window_rolling_ols_slope",
    "text_readability",
    "text_sentiment_lexicon",
    # round 13, fifth wave
    "scd2_point_in_time_join",
    "agg_price_elasticity",
    "sim_search_cascade_rerank",
    "agg_benjamini_hochberg",
    "agg_trimmed_mean",
    "corpus_heaps_law_fit",
    "timeseries_seasonal_strength",
    "agg_hurst_rs",
    "sim_eval_ndcg",
    "dq_outlier_iqr_fences",
    "text_kl_divergence_by_source",
    "events_entropy_rate_markov",
    "agg_cohens_d_effect_size",
    "text_burstiness_fano",
]


def main() -> None:
    from u_s__non_farm_payrolls_an_olap_analysis_spark import registry
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        exchange_count,
        formatted_plan,
        join_kinds,
        pushed_filters,
        read_schemas,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.session import get_spark
    from bench import HEADLINE

    extra = EXTRA_KEYS

    spark = get_spark(app_name="gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    sf_dir = "/root/testdata/sf0.1"

    lines = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        "Generated by `scripts/gen_plans_doc.py` at sf0.1 — do not edit.",
        "Shows, per BASELINE.md headline query: predicates reaching the",
        "Parquet scan, the columns actually decoded, join strategy selection,",
        "and shuffle (Exchange) counts. `tests/test_plans.py` pins the",
        "load-bearing ones.",
        "",
    ]
    for name, key in list(HEADLINE.items()) + [(k, k) for k in extra]:
        df = qs[key](spark, sf_dir)
        lines.append(f"## {name} (`{key}`)")
        lines.append("")
        pf = pushed_filters(df)
        lines.append(f"- PushedFilters: {pf if pf else '(none - full scan)'}")
        rs = read_schemas(df)
        lines.append(f"- ReadSchema: {rs}")
        jk = join_kinds(df)
        if jk:
            lines.append(f"- Joins: {jk}")
        lines.append(f"- Exchanges (shuffles): {exchange_count(df)}")
        if "InMemoryRelation" in formatted_plan(df):
            lines.append(
                "- Reads a cached relation (e.g. `olap.monthly_cube`): counted on the "
                "plan built before the cache fills, so the count includes the cached "
                "plan's own exchanges (run once per fill, not per read) and those AQE "
                "drops once the filled cache reports its partitioning; a filled cube "
                "serves its panels with none"
            )
        if "TakeOrderedAndProject" in formatted_plan(df):
            lines.append("- Top-k: TakeOrderedAndProject (no global sort)")
        lines.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
