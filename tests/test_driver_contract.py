"""Driver-contract regression: __spark_entry__ must work when the driver
process is launched from OUTSIDE the repo (executor Python workers import
the package via the runtime-shipped zip, not the driver's cwd)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CODE = """
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", "%s/__spark_entry__.py")
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
assert len(mod.queries()) == len(mod.oracle_sql()) >= 30
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]").appName("driver-contract")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
n = mod.entry(spark).count()
assert n > 0, n
m = mod.queries()["extract_status_counts"](spark, "/root/testdata/sf0.01").count()
assert m >= 2, m
spark.stop()
print("DRIVER_CONTRACT_OK")
""" % REPO


def test_entry_from_foreign_cwd(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", CODE],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=600,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert "DRIVER_CONTRACT_OK" in out.stdout, out.stderr[-3000:]


# The driver's external correctness harness checks only the FIRST ~50
# registry entries, so dict insertion order is a load-bearing contract
# (ADVICE round 4): pin the window membership so accidental insertions or
# reorders fail loudly.  Update this list ONLY together with a deliberate
# rotation (see the registry-order note atop QUERIES in queries.py).
DRIVER_WINDOW_50 = [
    # round-6 rotation: see the _R06_WINDOW note in queries.py
    "extract_fixture_turns",
    "order_value_benford",
    "customer_revenue_gini",
    "events_user_stats",
    "tfidf_top_terms",
    "ann_lsh_topk",
    "ann_lsh_bucketed",
    "dedup_embedding_lsh",
    "bbit_minhash_estimate",
    "minhash_estimate_error",
    "minhash_lsh_param_plan",
    "dedup_containment",
    "dup_graph_degree_stats",
    "bpe_merge_stability",
    "grounding_overlap_score",
    "doc_quality_classifier",
    "dedup_prefixfilter_pairs",
    "dedup_incremental_merge",
    "chrf_pair_scores",
    "rouge_overlap_pairs",
    "semdedup",
    "data_profile_orders",
    "embedding_pca_power",
    "ranking_kendall_tau",
    "dedup_survivor_bias",
    "outlink_host_hits",
    "bm25_prf_expansion",
    "host_seeded_pagerank",
    "host_kcore_membership",
    "dedup_cluster_diameter",
    "sliding_hll_users",
    "texttiling_boundaries",
    "filter_mcnemar_test",
    "phrase_search",
    "source_trimmed_stats",
    "event_hourly_autocorrelation",
    "filter_cohen_kappa",
    "dedup_threshold_sweep",
    "conversation_topic_shift",
    "embedding_quant_recall_curve",
    "host_degree_assortativity",
    "role_length_effect_size",
    "shuffle_runs_test",
    "event_overdispersion",
    "embedding_mmd_poly",
    "ann_filtered_topk",
    "source_vocab_overlap",
    "knn_label_agreement",
    "mix_temperature_sweep",
    "coreset_kcenter",
]

# Every registry name after the window, in order.  Registry order and the
# oracle text are frozen (ROADMAP constraints): a refactor of the query code
# must leave both unchanged.
REGISTRY_REST = [
    "extract_status_counts",
    "readerable_flags",
    "extraction_lineage",
    "turn_ordering_check",
    "html_gate_selectivity",
    "bpe_tokenize_ids",
    "pack_token_ids",
    "dedup_minhash_clusters",
    "extract_repetition_filters",
    "ann_ivfpq_rerank_topk",
    "embedding_scalar_quantize",
    "boilerplate_line_filter",
    "length_group_batching",
    "turn_html_stats",
    "transcript_integrity_check",
    "corpus_snapshot_delta",
    "doc_ngram_novelty",
    "split_leakage_check",
    "ann_pq_codes",
    "dedup_exact_substring",
    "dedup_minhash_keep_best",
    "inverted_index_postings",
    "bm25_search_topk",
    "dedup_bloom_membership",
    "gopher_quality_filters",
    "dsir_importance_weights",
    "dedup_cluster_stats",
    "corpus_datacard",
    "extract_outlinks",
    "outlink_host_indegree",
    "outlink_host_pagerank",
    "extract_url_normalize",
    "anchor_text_terms",
    "crawl_frontier_topk",
    "ccnet_keep_policy",
    "dedup_sentence_spans",
    "mix_temperature_weights",
    "url_blocklist_filter",
    "doc_chunk_windows",
    "sft_context_windows",
    "dedup_editdistance_pairs",
    "conversation_dedup",
    "role_transition_stats",
    "turn_reply_latency",
    "agent_loop_detect",
    "extract_paragraph_dedup",
    "bpe_learn_merges",
    "bpe_tokenize_stats",
    "dedup_minhash_lsh",
    "dedup_embedding_clusters",
    "extract_quality_filter",
    "doc_lm_score",
    "doc_quality_rank",
    "multimodal_binary_stats",
    "data_split_assign",
    "domain_mix_resample",
    "corpus_sample_stratified",
    "text_quality",
    "token_counts",
    "lang_id",
    "text_redact_pii",
    "doc_repetition",
    "benchmark_contamination",
    "revenue_cube",
    "events_set_ops",
    "big_spender_exists",
    "events_resample_hourly",
    "customers_without_orders",
    "events_pivot",
    "lineitem_percentiles",
    "events_rolling_stats",
    "events_json_props",
    "embedding_norms",
    "ann_cosine_topk",
    "ann_ivf_assign",
    "ann_ivf_probe",
    "ann_ivf_kmeans",
    "dedup_exact",
    "dedup_exact_normalized",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_embedding_cosine",
    "doc_fingerprint",
    "doc_winnow_fingerprints",
    "token_cms_heavy_hitters",
    "distinct_hll_estimate",
    "hll_merge_by_source",
    "order_priority_rank",
    "events_asof_orders",
    "value_band_range_join",
    "revenue_rollup",
    "corpus_sample_topn",
    "sequence_packing",
    "sequence_packing_ffd",
    "sequence_packing_stats",
    "q1_pricing_summary",
    "events_sessionize",
    "top_revenue_orders",
    "nation_revenue",
    "token_zipf_fit",
    "doc_unigram_entropy",
    "small_quantity_revenue",
    "unimax_allocation",
    "embedding_random_projection",
    "source_overlap_minhash",
    "ccnet_perplexity_buckets",
    "source_token_kl",
    "domain_cap_sample",
    "doclen_quantile_sketch",
    "pmi_collocations",
    "ann_recall_eval",
    "quality_calibration_bins",
    "tokenizer_fertility",
    "tool_call_stats",
    "token_coverage_vocab_size",
    "extract_c4_filters",
    "kmeans_silhouette",
    "lm_perplexity_heldout",
    "ann_pq_adc_topk",
    "ann_ivf_pq_topk",
    "transcript_conversation_stats",
    "kmeans_outlier_flags",
    "agent_loop_neardup",
    "conversation_split_assign",
    "bpe_roundtrip_check",
    "dup_ngram_topk",
    "hybrid_rrf_fusion",
    "preference_pair_mining",
    "tool_output_collapse",
    "dedup_index_lookup",
    "filter_agreement_matrix",
    "partition_skew_audit",
    "mojibake_detect",
    "training_shuffle_plan",
    "license_notice_scan",
    "unicode_normalize_stats",
    "weighted_sample_aes",
    "dedup_soft_weights",
    "synthetic_text_flags",
    "eval_pass_at_k",
    "group_advantage_normalize",
    "contrastive_pair_mining",
    "fim_span_plan",
    "shared_prefix_stats",
    "ocr_garbage_detect",
    "instruction_complexity",
    "special_token_leakage",
    "chat_template_render",
    "loss_mask_spans",
    "kmeans_cluster_purity",
    "packing_attention_spans",
    "shard_size_plan",
    "time_split_assign",
    "refusal_rate_scan",
    "search_mrr_eval",
    "lexical_diversity",
    "code_detect",
    "markdown_structure_stats",
    "readability_scores",
    "pii_luhn_scan",
    "toxicity_wordlist_scan",
    "heaps_law_fit",
    "source_keyness",
    "assistant_verbosity_trend",
    "context_budget_plan",
    "truncation_artifact_detect",
    "prompt_injection_scan",
    "cot_structure_detect",
    "sft_prompt_conflicts",
    "trajectory_success_filter",
    "late_shipment_orders",
    "sft_split_prompt_leakage",
    "cdc_chunk_dedup",
    "customer_order_distribution",
    "rake_keywords",
    "idle_customer_balance",
    "span_corruption_plan",
    "top_supplier_revenue",
    "bradley_terry_strength",
    "embedding_dim_truncation",
    "event_funnel",
    "retention_cohorts",
    "negative_sampling_plan",
    "large_volume_orders",
    "sole_late_supplier",
    "outlink_host_components",
    "extract_title_collisions",
    "uncertainty_sample_topk",
    "ndcg_eval",
    "event_rate_anomaly",
    "preference_length_bias",
    "bootstrap_mean_ci",
    "tool_error_rate_by_tool",
    "classifier_ece",
    "tool_chain_topk",
    "agent_error_recovery",
    "citation_url_check",
    "local_supplier_volume",
    "promo_revenue_share",
    "assistant_canned_responses",
    "volume_shipping_pairs",
    "returned_item_revenue",
    "jsonl_transcript_ingest",
    "nation_market_share",
    "disjunctive_part_revenue",
    "forecast_revenue_change",
    "pdf_text_extract",
    "pdf_page_stats",
    "source_concentration",
    "corpus_distinct_ngrams",
    "cross_source_dup_matrix",
    "min_cost_supplier",
    "product_type_profit",
    "shipment_priority_classes",
    "important_part_stock",
    "supplier_part_counts",
    "excess_stock_suppliers",
    "trigram_backoff_score",
    "shingle_df_spectrum",
    "referential_integrity_audit",
    "embedding_hard_negatives",
    "tool_output_stats",
    "robots_meta_flags",
    "textrank_keywords",
    "robots_txt_frontier_filter",
    "digest_collision_audit",
    "label_noise_flags",
    "mlm_masking_plan",
    "hll_intersection_estimate",
    "tool_runtime_stats",
    "host_triangle_counts",
    "term_burstiness",
    "canonical_content_agreement",
    "split_balance_audit",
    "quality_length_bias",
    "part_affinity_lift",
    "label_centroid_similarity",
    "quality_wilson_ci",
    "event_dow_seasonality",
    "customer_rfm_scores",
    "host_crawl_budget",
    "turn_revision_distance",
    "order_reorder_interval",
    "tool_latency_anomaly",
    "supplier_fulfillment_lag",
    "embedding_norm_outliers",
    "doc_language_confusion",
    "minhash_band_occupancy",
    "conversation_context_growth",
    "postings_compression_estimate",
    "zonemap_pruning_estimate",
    "column_dictionary_stats",
    "host_label_propagation",
    "knn_graph_nndescent",
    "brier_decomposition",
    "shard_integrity_manifest",
    "k_anonymity_audit",
    "late_event_watermark_audit",
    "join_cardinality_estimate",
    "kaplan_meier_retention",
    "zorder_layout_plan",
    "neyman_allocation_plan",
    "event_seasonal_decompose",
    "vocab_front_coding_estimate",
    "skew_salt_plan",
    "session_markov_stationary",
    "url_template_mining",
    "ks_drift_test",
]

# md5 over name + "\0" + oracle_sql + "\0" for every entry in registry
# order, with the repo root in the oracle text replaced by "<repo>" (the
# goldens and smoke-transcripts paths are absolute, so the raw text depends
# on where the checkout lives).
ORACLE_DIGEST = "afb993124f85b558f77762923da0a3bf"


def test_registry_window_pinned():
    from readability_1_spark.queries import QUERIES

    names = list(QUERIES)
    assert names[:50] == DRIVER_WINDOW_50, (
        "first-50 registry window changed - if this is a deliberate "
        "rotation, update DRIVER_WINDOW_50 and regenerate "
        "CORRECTNESS_LOCAL.json; otherwise move the new entry past "
        "position 50"
    )
    # every registered query has an oracle twin slot (None = rows-only)
    assert all(isinstance(v, tuple) and len(v) == 2 for v in QUERIES.values())


def test_registry_names_and_oracle_text_pinned():
    import hashlib

    from readability_1_spark import queries as Q

    assert list(Q.QUERIES) == DRIVER_WINDOW_50 + REGISTRY_REST
    h = hashlib.md5()
    for name, (_fn, sql) in Q.QUERIES.items():
        h.update((name + "\0" + sql.replace(Q.REPO, "<repo>") + "\0").encode())
    assert h.hexdigest() == ORACLE_DIGEST
