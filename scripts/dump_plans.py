#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan snapshots + properties for the
queries in SNAPSHOT. Run after changing any operator: the diff shows
exactly what happened to pushdown/joins/shuffles.

Usage: python scripts/dump_plans.py   (writes PLANS.md in this checkout)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from nyc_taxi_pyspark_spark.catalog import QUERIES  # noqa: E402
from nyc_taxi_pyspark_spark.plans.explain import (  # noqa: E402
    formatted_plan,
    shuffle_count,
)
from nyc_taxi_pyspark_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

# The queries PLANS.md snapshots, in page order: the relational core, the
# similarity north star and one or more per operator family.
SNAPSHOT = """
pricing_summary group_by_day having_topk dedup_keep_first join_three_way
join_asof window_topn_per_group rollup_sums stream_session_window
udf_group_center multimodal_features text_minhash_signature text_near_dup_pairs
text_ngram_jaccard_pairs text_simhash_pairs embed_cosine_topk embed_ann_topk
embed_ann_multiprobe embed_ivf_topk grouping_sets_sums taxi_kpi_by_payment
text_unigram_rarity events_sessionize text_chunk_dedup corpus_pack_bins
text_gopher_rules embed_semantic_dedup embed_knn_join text_bm25_topk
corpus_bloom_prefilter events_rolling_wau embed_matryoshka_topk dq_audit_orders
table_diff_orders customer_rfm text_tfidf_cosine_pairs
events_distribution_drift events_value_winsorized sequence_gaps
events_markov_transitions embed_dim_stats source_syndication_rank
tpch_q5_local_volume tpch_q17_small_qty_revenue orders_cohort_ltv
text_dedup_rate_by_source embed_outlier_docs stream_distribution_drift
events_user_features events_leakfree_labels embed_contrastive_pairs
orders_forecast_linear tpch_q3_shipping_priority tpch_q10_returned_items
text_doc_surprisal tpch_q18_large_orders text_sliding_chunks join_runtime_bloom
pysource_jsonl_scan events_variant_shred stream_state_inspect scan_file_lineage
tpch_q4_priority_check tpch_q7_volume_shipping tpch_q8_market_share
tpch_q13_order_distribution tpch_q14_promo_share tpch_q19_disjunctive_join
tpch_q22_no_order_customers tpch_q6_revenue_delta tpch_q9_profit_by_nation
tpch_q12_late_priority_classes tpch_q15_top_supplier tpch_q21_waiting_suppliers
tpch_q2_min_cost_supplier tpch_q11_important_stock
tpch_q16_supplier_part_counts tpch_q20_promotion_suppliers text_heavy_hitters
text_duplicate_spans events_ewma_anomaly stats_mann_whitney
graph_kcore_membership embed_power_iteration_pc1 events_cusum_changepoint
corpus_token_allocation text_novelty_curve stream_ewma_monitor
events_pattern_match embed_binary_hamming_topk part_skyline search_hybrid_rrf
events_session_overlap events_diff_in_diff privacy_k_anonymity
privacy_l_diversity graph_link_prediction embed_centroid_drift
stats_anova_oneway text_trigram_search graph_brand_modularity
sample_neyman_allocation orders_gini_concentration corpus_source_overlap
text_keyphrases_rake join_asof_forward events_survival_km stats_ks_test
sql_lateral_topn events_funnel events_retention embed_ann_int8 text_tficf_topk
text_repetition text_dup_clusters stream_dedup stream_interval_join
zorder_pruned_scan partitioned_pruned_scan corpus_pipeline events_gapfill
udtf_tokens lambda_functions embed_ivf_train corpus_mixture_sample
corpus_domain_cap corpus_incremental_dedup embed_doc_search
embed_knn_label_vote text_containment_pairs text_cms_counts
text_dedup_survivor_weights stream_static_enrich profile_orders
fuzzy_name_matches inverted_index_topdf null_fill_group_mean stats_regression
stats_chi2 feature_scaling skew_salted_agg benford_first_digit stats_ttest
scd2_point_in_time_join stats_corr_matrix histogram_equidepth
histogram_totalprice orders_mom_growth corpus_shard_manifest
corpus_weighted_sample group_quantiles basket_pair_lift multimodal_dedup
orders_pareto_share stream_stateful_totals group_quantiles_approx
histogram_equidepth_exact text_minhash_calibration join_skew_audit
corpus_budget_select corpus_domain_relevance corpus_training_order
sql_dup_clusters_recursive embed_filtered_topk corpus_dedup_funnel
events_qq_compare text_code_detection text_langid_confusion
events_watermark_tuning text_dedup_threshold_sweep embed_ivf_balance
orders_open_interval_count
""".split()


def main() -> None:
    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    out = [
        "# PLANS — physical-plan snapshots\n",
        "Generated by `scripts/dump_plans.py` (sf0.001, AQE on). The tree is",
        "the pre-AQE static plan; runtime re-planning can only improve it.\n",
    ]
    for name in SNAPSHOT:
        df = QUERIES[name](spark, SF)
        plan = formatted_plan(df)
        tree = plan.split("\n\n")[0]
        props = f"shuffles={shuffle_count(df)}"
        pushed = [
            line.strip()
            for line in plan.splitlines()
            if "PushedFilters" in line and "[]" not in line
        ]
        out.append(f"## {name}\n")
        out.append(f"`{props}`\n")
        if pushed:
            out.append("```\n" + "\n".join(pushed[:3]) + "\n```\n")
        out.append("```\n" + tree + "\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
