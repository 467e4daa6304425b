"""Dump formatted physical plans for the headline operators into
BENCH/PLANS.md — evidence that filters push down, scans prune columns,
small sides broadcast, and the hot path stays inside whole-stage codegen.

Run: python3 tools/gen_plans.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from readability_1_spark.pipeline import extract_transcripts, gate_html_turns
    from readability_1_spark.queries import QUERIES
    from readability_1_spark.session import get_spark

    spark = get_spark(app_name="gen_plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    # Extraction pipeline over a parquet transcripts table.
    from readability_1_spark.queries import _transcripts_table

    ex = extract_transcripts(_transcripts_table(spark), num_parts=16)
    sections.append(("extraction pipeline (scan → pushed gate → salt shuffle "
                     "→ mapInArrow kernel)", plan_of(ex)))

    for name in ("q1_pricing_summary", "top_revenue_orders", "dedup_minhash_lsh",
                 "events_asof_orders", "ann_cosine_topk", "dedup_embedding_lsh",
                 "ann_ivf_probe", "ann_lsh_topk", "dedup_minhash_clusters",
                 "data_split_assign", "domain_mix_resample", "sequence_packing",
                 "bm25_search_topk", "dedup_bloom_membership",
                 "gopher_quality_filters", "dsir_importance_weights",
                 "dedup_containment", "pmi_collocations",
                 "source_overlap_minhash", "ccnet_perplexity_buckets",
                 "source_token_kl", "domain_cap_sample",
                 "doclen_quantile_sketch", "semdedup", "doc_ngram_novelty",
                 "split_leakage_check", "ann_pq_adc_topk",
                 "ann_ivf_pq_topk", "embedding_random_projection",
                 "unimax_allocation", "ccnet_keep_policy",
                 "tfidf_top_terms", "token_zipf_fit", "doc_unigram_entropy",
                 "kmeans_silhouette", "lm_perplexity_heldout",
                 "extract_repetition_filters", "small_quantity_revenue",
                 "dedup_cluster_stats", "corpus_datacard",
                 "extract_outlinks", "outlink_host_indegree",
                 "outlink_host_pagerank", "extract_url_normalize",
                 "anchor_text_terms", "crawl_frontier_topk",
                 "dedup_sentence_spans", "mix_temperature_weights",
                 "url_blocklist_filter", "doc_chunk_windows",
                 "sft_context_windows", "dedup_prefixfilter_pairs",
                 "dedup_editdistance_pairs", "embedding_scalar_quantize",
                 "ann_recall_eval", "quality_calibration_bins",
                 "tokenizer_fertility", "minhash_estimate_error",
                 "corpus_snapshot_delta", "boilerplate_line_filter",
                 "tool_call_stats", "length_group_batching",
                 "turn_html_stats", "transcript_integrity_check",
                 "token_coverage_vocab_size", "kmeans_outlier_flags",
                 "agent_loop_neardup", "conversation_split_assign",
                 "dup_ngram_topk", "hybrid_rrf_fusion",
                 "preference_pair_mining", "tool_output_collapse",
                 "dedup_index_lookup", "partition_skew_audit",
                 "mojibake_detect", "training_shuffle_plan",
                 "license_notice_scan", "unicode_normalize_stats",
                 "weighted_sample_aes", "dedup_soft_weights",
                 "synthetic_text_flags", "eval_pass_at_k",
                 "group_advantage_normalize", "grounding_overlap_score",
                 "contrastive_pair_mining", "fim_span_plan",
                 "shared_prefix_stats", "ocr_garbage_detect",
                 "instruction_complexity", "special_token_leakage",
                 "chat_template_render", "loss_mask_spans",
                 "kmeans_cluster_purity", "packing_attention_spans",
                 "pack_token_ids", "shard_size_plan",
                 "time_split_assign", "refusal_rate_scan",
                 "search_mrr_eval", "lexical_diversity",
                 "code_detect", "markdown_structure_stats",
                 "readability_scores", "pii_luhn_scan",
                 "toxicity_wordlist_scan", "embedding_pca_power",
                 "context_budget_plan", "truncation_artifact_detect",
                 "prompt_injection_scan", "cot_structure_detect",
                 "sft_prompt_conflicts", "trajectory_success_filter",
                 "late_shipment_orders", "sft_split_prompt_leakage",
                 "cdc_chunk_dedup", "customer_order_distribution",
                 "rake_keywords", "idle_customer_balance",
                 "span_corruption_plan", "top_supplier_revenue",
                 "embedding_dim_truncation", "retention_cohorts",
                 "negative_sampling_plan", "large_volume_orders",
                 "sole_late_supplier", "extract_title_collisions",
                 "uncertainty_sample_topk", "event_rate_anomaly",
                 "preference_length_bias", "bootstrap_mean_ci",
                 "tool_error_rate_by_tool", "tool_chain_topk",
                 "agent_error_recovery", "citation_url_check",
                 "local_supplier_volume", "promo_revenue_share",
                 "assistant_canned_responses", "volume_shipping_pairs",
                 "returned_item_revenue", "jsonl_transcript_ingest",
                 "embedding_hard_negatives", "tool_output_stats",
                 "rouge_overlap_pairs", "robots_meta_flags",
                 "textrank_keywords", "robots_txt_frontier_filter",
                 "digest_collision_audit", "label_noise_flags",
                 "mlm_masking_plan", "hll_intersection_estimate",
                 "tool_runtime_stats", "host_triangle_counts",
                 "term_burstiness", "canonical_content_agreement",
                 "bbit_minhash_estimate", "split_balance_audit",
                 "quality_length_bias", "part_affinity_lift",
                 "label_centroid_similarity", "quality_wilson_ci",
                 "dup_graph_degree_stats", "event_dow_seasonality",
                 "customer_rfm_scores", "host_crawl_budget",
                 "turn_revision_distance", "order_reorder_interval",
                 "tool_latency_anomaly", "supplier_fulfillment_lag",
                 "embedding_norm_outliers", "doc_language_confusion",
                 "minhash_band_occupancy", "conversation_context_growth",
                 "postings_compression_estimate", "zonemap_pruning_estimate",
                 "column_dictionary_stats", "host_label_propagation",
                 "knn_graph_nndescent", "brier_decomposition",
                 "shard_integrity_manifest", "k_anonymity_audit",
                 "late_event_watermark_audit", "chrf_pair_scores",
                 "join_cardinality_estimate", "kaplan_meier_retention",
                 "zorder_layout_plan", "neyman_allocation_plan",
                 "event_seasonal_decompose", "vocab_front_coding_estimate",
                 "skew_salt_plan", "session_markov_stationary",
                 "url_template_mining", "ks_drift_test",
                 "bm25_prf_expansion", "host_seeded_pagerank",
                 "host_kcore_membership", "dedup_cluster_diameter",
                 "sliding_hll_users", "texttiling_boundaries",
                 "filter_mcnemar_test", "phrase_search",
                 "ranking_kendall_tau", "source_trimmed_stats",
                 "dedup_survivor_bias", "event_hourly_autocorrelation",
                 "filter_cohen_kappa", "dedup_threshold_sweep",
                 "conversation_topic_shift", "host_degree_assortativity",
                 "role_length_effect_size", "shuffle_runs_test",
                 "event_overdispersion", "embedding_mmd_poly",
                 "ann_filtered_topk", "source_vocab_overlap",
                 "knn_label_agreement", "mix_temperature_sweep",
                 "order_value_benford", "customer_revenue_gini",
                 # round-6 (ADVICE): the four wave-87..92 queries that
                 # were silently absent while their wave-mates had gates.
                 "bpe_merge_stability", "embedding_quant_recall_curve",
                 "dedup_incremental_merge", "coreset_kcenter"):
        fn, _sql = QUERIES[name]
        sections.append((name, plan_of(fn(spark, SF_DIR))))

    checks = []
    full = {name: text for name, text in sections}
    ext = full["extraction pipeline (scan → pushed gate → salt shuffle "
               "→ mapInArrow kernel)"]
    checks.append(("extraction scan reads only conv_id/turn_idx/text",
                   "ReadSchema" in ext and "role" not in ext))
    checks.append(("extraction gate pushes IsNotNull(text) to the scan",
                   "PushedFilters: [IsNotNull(text)" in ext))
    checks.append(("q1 uses map-side partial aggregation before the exchange",
                   "partial_sum" in full["q1_pricing_summary"]))
    checks.append(("customer side of Q3 broadcasts",
                   "BroadcastHashJoin" in full["top_revenue_orders"]))
    checks.append(("q1 scan prunes to 5 needed columns",
                   "l_comment" not in full["q1_pricing_summary"]))
    checks.append(("minhash signature subtree computed once (single scan)",
                   full["dedup_minhash_lsh"].count("+- Scan parquet") == 1))
    checks.append(("embedding near-dup pairs join on LSH bucket, no cartesian",
                   "Cartesian" not in full["dedup_embedding_lsh"]
                   and "BroadcastNestedLoop" not in full["dedup_embedding_lsh"]))
    checks.append(("IVF probe searches lists via centroid equi-join",
                   "BroadcastHashJoin" in full["ann_ivf_probe"]
                   or "SortMergeJoin" in full["ann_ivf_probe"]))
    checks.append(("multi-probe ANN candidates via bucket equi-join, no "
                   "corpus cross join",
                   "Cartesian" not in full["ann_lsh_topk"]
                   and "BroadcastNestedLoop" not in full["ann_lsh_topk"]))
    checks.append(("CC cluster labels read from checkpointed scans "
                   "(bounded lineage across iterations)",
                   "ExistingRDD" in full["dedup_minhash_clusters"]
                   and "Cartesian" not in full["dedup_minhash_clusters"]))
    checks.append(("split assignment is shuffle-free (no Exchange)",
                   "Exchange" not in full["data_split_assign"]))
    checks.append(("domain mix weight map broadcasts (corpus side stays put)",
                   "BroadcastHashJoin" in full["domain_mix_resample"]
                   and full["domain_mix_resample"].count("hashpartitioning(") == 0))
    checks.append(("sequence packing shuffles once on shard then runs the "
                   "pandas pass",
                   full["sequence_packing"].count("hashpartitioning(") == 1
                   and "FlatMapGroupsInPandas" in full["sequence_packing"]))
    checks.append(("BM25 candidates come from a broadcast query-term join, "
                   "no cartesian corpus product",
                   "BroadcastHashJoin" in full["bm25_search_topk"]
                   and "CartesianProduct" not in full["bm25_search_topk"]))
    checks.append(("bloom set-bit table broadcasts (prior corpus never "
                   "shuffled against the new slice)",
                   "BroadcastHashJoin" in full["dedup_bloom_membership"]))
    checks.append(("gopher rule battery is a pure scan projection "
                   "(zero exchanges)",
                   "Exchange" not in full["gopher_quality_filters"]))
    checks.append(("DSIR bucket count tables broadcast",
                   "BroadcastHashJoin" in full["dsir_importance_weights"]
                   and "CartesianProduct" not in full["dsir_importance_weights"]))
    checks.append(("containment candidates via shingle equi-join, no "
                   "cartesian / nested-loop",
                   "CartesianProduct" not in full["dedup_containment"]
                   and "BroadcastNestedLoop" not in full["dedup_containment"]))
    checks.append(("PMI top-K is TakeOrdered, not a global sort",
                   "TakeOrderedAndProject" in full["pmi_collocations"]))
    checks.append(("source-overlap minhashes fold via map-side partial min; "
                   "pairing is the intended bounded broadcast nested-loop",
                   "partial_min" in full["source_overlap_minhash"]
                   and "BroadcastNestedLoopJoin" in full["source_overlap_minhash"]
                   and "CartesianProduct" not in full["source_overlap_minhash"]))
    checks.append(("CCNet buckets = LM count-table equi-joins + one "
                   "per-source window, no cartesian",
                   "Window" in full["ccnet_perplexity_buckets"]
                   and "CartesianProduct" not in full["ccnet_perplexity_buckets"]))
    checks.append(("source KL count tables combine map-side and join "
                   "per-word by hash join",
                   "partial_sum" in full["source_token_kl"]
                   and "BroadcastHashJoin" in full["source_token_kl"]
                   and "CartesianProduct" not in full["source_token_kl"]))
    checks.append(("domain cap = ONE exchange on the domain key then a "
                   "streaming rank window",
                   full["domain_cap_sample"].count("hashpartitioning(") == 1
                   and "Window" in full["domain_cap_sample"]))
    checks.append(("doclen sketch histogram combines map-side "
                   "(bounded buckets per source)",
                   "partial_count" in full["doclen_quantile_sketch"]
                   and "CartesianProduct" not in full["doclen_quantile_sketch"]))
    checks.append(("semdedup pair stage is an equi-join on centroid_id "
                   "(cluster-bounded products, no corpus cartesian)",
                   "CartesianProduct" not in full["semdedup"]
                   and ("SortMergeJoin" in full["semdedup"]
                        or "ShuffledHashJoin" in full["semdedup"]
                        or "BroadcastHashJoin" in full["semdedup"])))
    checks.append(("ngram novelty: shingle min-agg combines map-side, "
                   "no cartesian",
                   "partial_min" in full["doc_ngram_novelty"]
                   and "CartesianProduct" not in full["doc_ngram_novelty"]))
    checks.append(("split leakage membership is a shingle equi-join "
                   "(no broadcast of the train shingle set, no cartesian)",
                   "CartesianProduct" not in full["split_leakage_check"]
                   and "BroadcastNestedLoop" not in full["split_leakage_check"]))
    checks.append(("PQ ADC: distance table broadcasts and codes join it by "
                   "hash equi-join (corpus never cartesians with queries)",
                   "BroadcastHashJoin" in full["ann_pq_adc_topk"]
                   and "CartesianProduct" not in full["ann_pq_adc_topk"]))
    checks.append(("IVF-PQ candidates come from a centroid_id equi-join "
                   "(partition pruning), never a corpus cartesian",
                   "BroadcastHashJoin" in full["ann_ivf_pq_topk"]
                   and "CartesianProduct" not in full["ann_ivf_pq_topk"]))
    checks.append(("random projection is a pure scan projection "
                   "(ZERO exchanges)",
                   "Exchange" not in full["embedding_random_projection"]))
    checks.append(("unimax: language totals combine map-side; allocation "
                   "map re-joins as a broadcast",
                   "partial_count" in full["unimax_allocation"]
                   and "BroadcastHashJoin" in full["unimax_allocation"]))
    checks.append(("ccnet keep policy adds NO exchange beyond the bucket "
                   "subplan (policy is a row expression)",
                   full["ccnet_keep_policy"].count("Exchange")
                   <= full["ccnet_perplexity_buckets"].count("Exchange")
                   and "CartesianProduct" not in full["ccnet_keep_policy"]))
    checks.append(("tf-idf: (doc,tok) counts read from the checkpointed "
                   "scan (token explode runs once); doc_len and top-K rank "
                   "share ONE pure-doc_id window exchange; no cartesian",
                   "Scan ExistingRDD" in full["tfidf_top_terms"]
                   and len(re.findall(r"hashpartitioning\(doc_id#\d+L, 32",
                                      full["tfidf_top_terms"])) == 1
                   and "CartesianProduct" not in full["tfidf_top_terms"]))
    checks.append(("zipf fit: partial token counts combine map-side before "
                   "the vocab exchange; no cartesian",
                   "partial_count" in full["token_zipf_fit"]
                   and "CartesianProduct" not in full["token_zipf_fit"]))
    checks.append(("unigram entropy: ONE doc_id window partitioning serves "
                   "length + rollup (plus the doc-key join); no cartesian",
                   full["doc_unigram_entropy"].count(
                       "Exchange hashpartitioning(doc_id") <= 2
                   and "CartesianProduct" not in full["doc_unigram_entropy"]))
    checks.append(("silhouette: centroids broadcast (BroadcastNestedLoopJoin "
                   "over K rows, never a corpus-vs-corpus product); ONE "
                   "vec_id window serves a, b and the rank",
                   "BroadcastExchange" in full["kmeans_silhouette"]
                   and len(re.findall(r"hashpartitioning\(vec_id#\d+L, 32",
                                      full["kmeans_silhouette"])) == 1
                   and "CartesianProduct" not in full["kmeans_silhouette"]))
    checks.append(("held-out LM: collapsed (split,doc,bigram,k) table read "
                   "from checkpointed scans (no explode re-run); vocab "
                   "broadcasts",
                   "Scan ExistingRDD" in full["lm_perplexity_heldout"]
                   and "BroadcastExchange" in full["lm_perplexity_heldout"]))
    checks.append(("repetition battery reads the kernel output from the "
                   "checkpointed scan (kernel runs once for all three "
                   "paths); no cartesian",
                   "Scan ExistingRDD" in full["extract_repetition_filters"]
                   and "InMemoryFileIndex" not in full["extract_repetition_filters"]
                   and "CartesianProduct" not in full["extract_repetition_filters"]))
    checks.append(("Q17 decorrelation: per-part average combines map-side "
                   "(partial_avg/partial_sum) and the brand filter pushes "
                   "to the part scan",
                   ("partial_avg" in full["small_quantity_revenue"]
                    or "partial_sum" in full["small_quantity_revenue"])
                   and "EqualTo(p_brand,"
                       in full["small_quantity_revenue"]))
    checks.append(("cluster-stats histogram reads CC labels from "
                   "checkpointed scans; no cartesian",
                   "Scan ExistingRDD" in full["dedup_cluster_stats"]
                   and "CartesianProduct" not in full["dedup_cluster_stats"]))
    checks.append(("datacard: source rollups combine map-side and join on "
                   "the bounded source key; no cartesian",
                   "partial_count" in full["corpus_datacard"]
                   and "CartesianProduct" not in full["corpus_datacard"]))
    checks.append(("outlink stats add ZERO exchanges beyond the kernel's "
                   "salt scatter (in-row regexp/array projection)",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["extract_outlinks"])) == 1
                   and "CartesianProduct" not in full["extract_outlinks"]))
    checks.append(("URL canonicalization likewise zero added exchanges",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["extract_url_normalize"])) == 1
                   and "CartesianProduct"
                   not in full["extract_url_normalize"]))
    checks.append(("host indegree top-K is TakeOrdered with map-side "
                   "partial counts, no global sort",
                   "TakeOrdered" in full["outlink_host_indegree"]
                   and "partial_count" in full["outlink_host_indegree"]))
    checks.append(("pagerank result reads from checkpointed scans (bounded "
                   "lineage across the 10 iterations, like CC)",
                   "Scan ExistingRDD" in full["outlink_host_pagerank"]
                   and "InMemoryFileIndex"
                   not in full["outlink_host_pagerank"]))
    checks.append(("anchor terms: map-side partial counts + ONE host rank "
                   "window, no cartesian",
                   "partial_count" in full["anchor_text_terms"]
                   and len(re.findall(r"hashpartitioning\(host",
                                      full["anchor_text_terms"])) >= 1
                   and "CartesianProduct" not in full["anchor_text_terms"]))
    checks.append(("frontier: reads the checkpointed kernel output (no "
                   "kernel re-run), top-K is TakeOrdered",
                   "Scan ExistingRDD" in full["crawl_frontier_topk"]
                   and "InMemoryFileIndex" not in full["crawl_frontier_topk"]
                   and "TakeOrdered" in full["crawl_frontier_topk"]))
    checks.append(("span dedup shuffles ONCE on the span digest (the "
                   "first-occurrence window) before the turn rollup",
                   len(re.findall(r"hashpartitioning\(span_digest",
                                  full["dedup_sentence_spans"])) >= 1
                   and "CartesianProduct" not in full["dedup_sentence_spans"]))
    checks.append(("temperature weights: map-side partial sums, totals via "
                   "the intended 1-row broadcast nested loop",
                   "partial_sum" in full["mix_temperature_weights"]
                   and "BroadcastNestedLoopJoin"
                       in full["mix_temperature_weights"]))
    checks.append(("URL blocklist verdicts are in-row over the frontier's "
                   "distinct-URL exchange, no cartesian",
                   len(re.findall(r"hashpartitioning\(url",
                                  full["url_blocklist_filter"])) >= 1
                   and "CartesianProduct"
                   not in full["url_blocklist_filter"]))
    checks.append(("RAG chunking is a zero-exchange linear scan",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["doc_chunk_windows"])) == 0))
    checks.append(("SFT context windows: conv_id prefix-sum window + "
                   "conv_id equi-join, no cartesian",
                   ("SortMergeJoin" in full["sft_context_windows"]
                    or "BroadcastHashJoin" in full["sft_context_windows"])
                   and "CartesianProduct" not in full["sft_context_windows"]
                   and "BroadcastNestedLoop"
                   not in full["sft_context_windows"]))

    checks.append(("prefix-filter join: shared shingle table checkpointed "
                   "once (no parquet re-scan), candidates via shingle "
                   "equi-join, no cartesian",
                   "Scan parquet" not in full["dedup_prefixfilter_pairs"]
                   and "Scan ExistingRDD"
                       in full["dedup_prefixfilter_pairs"]
                   and len(re.findall(r"hashpartitioning\(shingle",
                                      full["dedup_prefixfilter_pairs"])) >= 1
                   and "CartesianProduct"
                   not in full["dedup_prefixfilter_pairs"]))
    checks.append(("edit-distance verifier: banded levenshtein runs in-plan "
                   "over LSH candidates only, no cartesian",
                   "levenshtein" in full["dedup_editdistance_pairs"]
                   and "CartesianProduct"
                   not in full["dedup_editdistance_pairs"]
                   and "BroadcastNestedLoop"
                   not in full["dedup_editdistance_pairs"]))

    checks.append(("SQ8 encode pass is a zero-exchange linear projection "
                   "(per-dim ranges collapsed to literals at build time)",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["embedding_scalar_quantize"])) == 0))
    checks.append(("ANN recall eval: per-query top-K tables equi-join "
                   "(only the intended exact-baseline broadcast against "
                   "the corpus; no cartesian product)",
                   "CartesianProduct" not in full["ann_recall_eval"]))
    checks.append(("calibration bins score the CHECKPOINTED feature frame "
                   "(no feature re-scan) and aggregate through ONE "
                   "10-group exchange",
                   "Scan ExistingRDD" in full["quality_calibration_bins"]
                   and "Scan parquet" not in full["quality_calibration_bins"]
                   and len(re.findall(r"hashpartitioning\(bin",
                                      full["quality_calibration_bins"])) == 1))

    checks.append(("fertility: segmentation joins back by word-key hash "
                   "join over the checkpointed trainer state; no cartesian",
                   "Scan ExistingRDD" in full["tokenizer_fertility"]
                   and "CartesianProduct" not in full["tokenizer_fertility"]))
    checks.append(("minhash estimator audit reads the shingle table from "
                   "ONE checkpointed scan (signatures, candidates, exact "
                   "verify all share it); no parquet re-scan, no cartesian",
                   "Scan parquet" not in full["minhash_estimate_error"]
                   and "Scan ExistingRDD" in full["minhash_estimate_error"]
                   and "CartesianProduct"
                   not in full["minhash_estimate_error"]))
    checks.append(("snapshot delta is ONE full-outer equi-join on the doc "
                   "key (SortMergeJoin FullOuter), no cartesian",
                   "FullOuter" in full["corpus_snapshot_delta"]
                   and "CartesianProduct"
                   not in full["corpus_snapshot_delta"]))

    checks.append(("boilerplate filter reads the kernel output from ONE "
                   "checkpointed scan (explode + coverage join share it); "
                   "no kernel re-run, no cartesian",
                   "Scan ExistingRDD" in full["boilerplate_line_filter"]
                   and "MapInArrow" not in full["boilerplate_line_filter"]
                   and "CartesianProduct"
                   not in full["boilerplate_line_filter"]))
    checks.append(("tool stats: map-side partial counts; total is the "
                   "intended 1-row broadcast nested loop",
                   "partial_count" in full["tool_call_stats"]
                   and "BroadcastNestedLoopJoin" in full["tool_call_stats"]))
    checks.append(("length batching: ONE (bucket, shard) exchange feeds "
                   "the rank window; aggregation combines map-side",
                   len(re.findall(r"hashpartitioning\(bucket",
                                  full["length_group_batching"])) == 1
                   and "CartesianProduct"
                   not in full["length_group_batching"]))

    checks.append(("HTML triage is a zero-exchange scan projection with "
                   "the gate filter in-plan",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["turn_html_stats"])) == 0
                   and "Filter" in full["turn_html_stats"]))
    checks.append(("integrity gate: ONE conv_id exchange serves the lag "
                   "window and the rollup",
                   len(re.findall(r"hashpartitioning\(conv_id",
                                  full["transcript_integrity_check"])) == 1))
    checks.append(("vocab coverage: token counts combine map-side; K "
                   "thresholds and totals broadcast",
                   "partial_count" in full["token_coverage_vocab_size"]
                   and "BroadcastNestedLoopJoin"
                       in full["token_coverage_vocab_size"]))

    checks.append(("outlier flags: centroids broadcast (K-row nested "
                   "loop, never corpus-vs-corpus); assignment + outlier "
                   "rank are the only two window exchanges",
                   "BroadcastNestedLoopJoin" in full["kmeans_outlier_flags"]
                   and "CartesianProduct"
                   not in full["kmeans_outlier_flags"]))

    checks.append(("near-loop detector: banded levenshtein in-plan over "
                   "the conv_id lag window, no cartesian",
                   "levenshtein" in full["agent_loop_neardup"]
                   and "CartesianProduct" not in full["agent_loop_neardup"]))

    checks.append(("conversation split is shuffle-free (no Exchange) - "
                   "the no-straddle invariant holds by construction",
                   "Exchange" not in full["conversation_split_assign"]))

    checks.append(("duplicated-passage miner: ngram groupBy combines "
                   "map-side; the cut is TakeOrdered, not a vocab-wide "
                   "window",
                   "partial_count" in full["dup_ngram_topk"]
                   and "TakeOrderedAndProject" in full["dup_ngram_topk"]
                   and "Window" not in full["dup_ngram_topk"]))

    checks.append(("hybrid fusion: the only cross product is the bounded "
                   "query-vector BROADCAST (BNLJ BuildRight, like "
                   "ann_cosine_topk); lexical candidates come from token "
                   "equi-joins; no CartesianProduct anywhere",
                   "CartesianProduct" not in full["hybrid_rrf_fusion"]
                   and full["hybrid_rrf_fusion"].count(
                       "BroadcastNestedLoopJoin Cross") == 1
                   and "BroadcastHashJoin" in full["hybrid_rrf_fusion"]))

    checks.append(("preference mining: conv_id-keyed joins only, no "
                   "cartesian and no explode",
                   "CartesianProduct" not in full["preference_pair_mining"]
                   and "Generate" not in full["preference_pair_mining"]))

    checks.append(("tool-output collapse: window + rollup + coverage "
                   "join, no cartesian and no explode",
                   "CartesianProduct" not in full["tool_output_collapse"]
                   and "Generate" not in full["tool_output_collapse"]))

    checks.append(("incremental LSH probe: bands on both sides read the "
                   "checkpointed signature table (no shingle re-scan), "
                   "candidates from equi-joins only",
                   "CartesianProduct" not in full["dedup_index_lookup"]
                   and "BroadcastNestedLoopJoin"
                       not in full["dedup_index_lookup"]
                   and full["dedup_index_lookup"].count(
                       "Scan ExistingRDD") >= 2))

    checks.append(("skew audit: the grand total joins as a 1-row "
                   "broadcast, no cartesian beyond it",
                   full["partition_skew_audit"].count(
                       "BroadcastNestedLoopJoin Cross") <= 1
                   and "CartesianProduct"
                       not in full["partition_skew_audit"]))

    checks.append(("mojibake + license scans are Exchange-free scan "
                   "projections",
                   "Exchange" not in full["mojibake_detect"]
                   and "Exchange" not in full["license_notice_scan"]))

    checks.append(("training shuffle plan: exactly ONE exchange (the "
                   "(epoch, shard) slot window), no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["training_shuffle_plan"])) == 1
                   and "Join" not in full["training_shuffle_plan"]))

    checks.append(("unicode triage is an Exchange-free scan projection",
                   "Exchange" not in full["unicode_normalize_stats"]))

    checks.append(("A-ES weighted sample compiles to TakeOrdered — "
                   "no global Sort, no Exchange, no Window",
                   "TakeOrderedAndProject" in full["weighted_sample_aes"]
                   and "Exchange" not in full["weighted_sample_aes"]
                   and "Window" not in full["weighted_sample_aes"]))

    checks.append(("soft-dedup weights: shingle df is a count join, "
                   "never a shingle self-pair (no cartesian/nested-loop)",
                   "CartesianProduct" not in full["dedup_soft_weights"]
                   and "BroadcastNestedLoopJoin"
                       not in full["dedup_soft_weights"]))

    checks.append(("slop triage is an Exchange-free scan projection",
                   "Exchange" not in full["synthetic_text_flags"]))

    checks.append(("pass@k: exactly ONE exchange (the user rollup), "
                   "estimator is in-row arithmetic (no join, no window)",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["eval_pass_at_k"])) == 1
                   and "Join" not in full["eval_pass_at_k"]
                   and "Window" not in full["eval_pass_at_k"]))

    checks.append(("group advantages: exactly ONE exchange shared by all "
                   "three window aggregates, no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["group_advantage_normalize"])) == 1
                   and "Join" not in full["group_advantage_normalize"]))

    checks.append(("grounding: conversation-keyed joins only, no "
                   "cartesian/nested-loop, no turn self-join",
                   "CartesianProduct" not in full["grounding_overlap_score"]
                   and "BroadcastNestedLoopJoin"
                       not in full["grounding_overlap_score"]))

    checks.append(("contrastive pairs: bucket mins broadcast back "
                   "(no shuffle join on the 16-row side)",
                   full["contrastive_pair_mining"].count("BroadcastHashJoin")
                   >= 2
                   and "CartesianProduct"
                       not in full["contrastive_pair_mining"]))

    checks.append(("FIM plan is an Exchange-free scan projection",
                   "Exchange" not in full["fim_span_plan"]))

    checks.append(("prefix-cache audit: turn_idx=0 predicate pushes to "
                   "the scan, ONE exchange, no joins",
                   "EqualTo(turn_idx,0)"
                   in full["shared_prefix_stats"]
                   and len(re.findall(r"\(\d+\) Exchange",
                                      full["shared_prefix_stats"])) == 1
                   and "Join" not in full["shared_prefix_stats"]))

    checks.append(("OCR + instruction triage are Exchange-free scan "
                   "projections",
                   "Exchange" not in full["ocr_garbage_detect"]
                   and "Exchange" not in full["instruction_complexity"]))

    checks.append(("special-token scan is an Exchange-free scan "
                   "projection",
                   "Exchange" not in full["special_token_leakage"]))

    checks.append(("cluster purity: centroid set broadcasts (no shuffle "
                   "join), no cartesian beyond the K-row cross",
                   full["kmeans_cluster_purity"].count(
                       "BroadcastNestedLoopJoin Cross") <= 1
                   and "CartesianProduct"
                       not in full["kmeans_cluster_purity"]))

    checks.append(("attention spans: in-row span math adds NO exchange "
                   "beyond the pack pipeline's own",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["packing_attention_spans"]))
                   <= len(re.findall(r"\(\d+\) Exchange",
                                     full["pack_token_ids"]))))

    checks.append(("shard plan: exactly ONE exchange (the source "
                   "rollup), no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["shard_size_plan"])) == 1
                   and "Join" not in full["shard_size_plan"]))

    checks.append(("time split: the 1-row cutoffs broadcast (nested-loop "
                   "cross of a 1-row side only), no per-event exchange",
                   full["time_split_assign"].count(
                       "BroadcastNestedLoopJoin Cross") <= 1
                   and "hashpartitioning(event_id"
                       not in full["time_split_assign"]))

    checks.append(("refusal scan: exactly ONE exchange (the conv "
                   "rollup), no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["refusal_rate_scan"])) == 1
                   and "Join" not in full["refusal_rate_scan"]))

    checks.append(("MRR eval: candidates via broadcast equi-joins on "
                   "query terms, no cartesian beyond 1-row stats",
                   "CartesianProduct" not in full["search_mrr_eval"]
                   and full["search_mrr_eval"].count("BroadcastHashJoin")
                   >= 2))

    checks.append(("lexical diversity: exactly TWO exchanges ((doc,tok) "
                   "count then doc rollup, both with map-side combine), "
                   "join-back is broadcast",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["lexical_diversity"])) == 2
                   and full["lexical_diversity"].count("partial_") >= 2
                   and "BroadcastHashJoin"
                       in full["lexical_diversity"]
                   and "SortMergeJoin"
                       not in full["lexical_diversity"]))

    checks.append(("code detect + markdown triage: zero-exchange scan "
                   "projections, no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["code_detect"])) == 0
                   and "Join" not in full["code_detect"]
                   and len(re.findall(
                           r"\(\d+\) Exchange",
                           full["markdown_structure_stats"])) == 0
                   and "Join"
                       not in full["markdown_structure_stats"]))

    checks.append(("readability + luhn + toxicity: zero-exchange scan "
                   "projections, no joins",
                   all(len(re.findall(r"\(\d+\) Exchange", full[n])) == 0
                       and "Join" not in full[n]
                       for n in ("readability_scores", "pii_luhn_scan",
                                 "toxicity_wordlist_scan"))))

    checks.append(("chat render + loss mask: exactly ONE conv exchange "
                   "each, no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["chat_template_render"])) == 1
                   and "Join" not in full["chat_template_render"]
                   and len(re.findall(r"\(\d+\) Exchange",
                                      full["loss_mask_spans"])) == 1
                   and "Join" not in full["loss_mask_spans"]))

    checks.append(("PCA: corpus side is ONE dim rollup (in-row (i,j) "
                   "expansion, no corpus self-join — the DIM^2 eigen-solve "
                   "is driver-side on the bounded covariance table)",
                   # r06: a scale-adaptive _widen repartition precedes the
                   # (i,j) expansion, so two exchanges (widen + dim rollup).
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["embedding_pca_power"])) <= 2
                   and "Join" not in full["embedding_pca_power"]
                   and "Cartesian" not in full["embedding_pca_power"]))

    checks.append(("context budget plan: ONE conv exchange shared by the "
                   "suffix window and the rollup, no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["context_budget_plan"])) == 1
                   and "Join" not in full["context_budget_plan"]))

    checks.append(("truncation triage: zero-exchange scan projection, "
                   "no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["truncation_artifact_detect"])) == 0
                   and "Join" not in full["truncation_artifact_detect"]))

    checks.append(("injection scan + CoT detect: zero-exchange scan "
                   "projections, no joins",
                   all(len(re.findall(r"\(\d+\) Exchange", full[n])) == 0
                       and "Join" not in full[n]
                       for n in ("prompt_injection_scan",
                                 "cot_structure_detect"))))

    checks.append(("trajectory filter + prompt leakage: ONE exchange each "
                   "(conv rollup / prompt-digest rollup with map-side "
                   "combine), no joins",
                   all(len(re.findall(r"\(\d+\) Exchange", full[n])) == 1
                       and "Join" not in full[n]
                       and "partial_" in full[n]
                       for n in ("trajectory_success_filter",
                                 "sft_split_prompt_leakage"))))

    checks.append(("late-shipment Q4 shape: EXISTS decorrelates to a LEFT "
                   "SEMI join (no duplicate-producing inner join, no "
                   "cartesian)",
                   "LeftSemi" in full["late_shipment_orders"]
                   and "Cartesian" not in full["late_shipment_orders"]))

    checks.append(("prompt conflict miner: ONE conv window exchange + one "
                   "digest rollup (map-side combine), no self-join",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["sft_prompt_conflicts"])) == 2
                   and "Join" not in full["sft_prompt_conflicts"]
                   and "partial_" in full["sft_prompt_conflicts"]))

    checks.append(("CDC chunk dedup: no cartesian/nested-loop joins, "
                   "digest ownership aggregates with map-side combine",
                   "Cartesian" not in full["cdc_chunk_dedup"]
                   and "BroadcastNestedLoop" not in full["cdc_chunk_dedup"]
                   and "partial_" in full["cdc_chunk_dedup"]))

    checks.append(("Q13 histogram: orders pre-aggregate per custkey with "
                   "map-side combine BEFORE the outer join (probe is one "
                   "row per customer), no cartesian",
                   "partial_count" in full["customer_order_distribution"]
                   and "Cartesian" not in full["customer_order_distribution"]))

    checks.append(("RAKE: every exchange is doc_id-keyed (boundary window, "
                   "phrase/word groups, top-K rank) — no corpus-wide "
                   "window, no cartesian",
                   "Cartesian" not in full["rake_keywords"]
                   and "BroadcastNestedLoop" not in full["rake_keywords"]
                   and full["rake_keywords"].count("hashpartitioning(")
                   == full["rake_keywords"].count("hashpartitioning(doc_id")))

    checks.append(("Q22 idle balances: NOT EXISTS decorrelates to a LEFT "
                   "ANTI join; the only nested-loop joins are the two "
                   "1-row threshold/cutoff broadcasts, no cartesian",
                   "LeftAnti" in full["idle_customer_balance"]
                   and "Cartesian" not in full["idle_customer_balance"]))

    checks.append(("span corruption plan: zero-exchange scan projection, "
                   "no joins (in-row span array, exploded next select)",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["span_corruption_plan"])) == 0
                   and "Join" not in full["span_corruption_plan"]))

    checks.append(("Q15 top supplier: per-suppkey rollup with map-side "
                   "combine, supplier dimension broadcasts, no cartesian",
                   "partial_sum" in full["top_supplier_revenue"]
                   and "BroadcastHashJoin" in full["top_supplier_revenue"]
                   and "Cartesian" not in full["top_supplier_revenue"]))

    checks.append(("MRL truncation audit: zero-exchange scan projection, "
                   "no joins (in-row folds over the prefix slices)",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["embedding_dim_truncation"])) == 0
                   and "Join" not in full["embedding_dim_truncation"]))

    checks.append(("retention cohorts: cohort sizes broadcast back "
                   "(BroadcastHashJoin), no cartesian, map-side combine "
                   "on the rollups",
                   "BroadcastHashJoin" in full["retention_cohorts"]
                   and "Cartesian" not in full["retention_cohorts"]
                   and "partial_" in full["retention_cohorts"]))

    checks.append(("negative-sampling table: top-K is TakeOrdered (no "
                   "global Sort->Limit), counts combine map-side",
                   "TakeOrderedAndProject" in full["negative_sampling_plan"]
                   and "partial_count" in full["negative_sampling_plan"]))

    checks.append(("Q18 heavy orders: quantity rollup combines map-side "
                   "and filters BEFORE the join, customer broadcasts, "
                   "no cartesian",
                   "partial_sum" in full["large_volume_orders"]
                   and "BroadcastHashJoin" in full["large_volume_orders"]
                   and "Cartesian" not in full["large_volume_orders"]))

    checks.append(("Q21 blame table: single orderkey rollup classifies "
                   "orders (no correlated re-probes), TakeOrdered cut, "
                   "supplier broadcasts, no cartesian",
                   "TakeOrderedAndProject" in full["sole_late_supplier"]
                   and "BroadcastHashJoin" in full["sole_late_supplier"]
                   and "Cartesian" not in full["sole_late_supplier"]))

    checks.append(("title collisions: title-keyed rollup with map-side "
                   "combine, no joins beyond the kernel pipeline",
                   "partial_" in full["extract_title_collisions"]
                   and "Cartesian" not in full["extract_title_collisions"]))

    checks.append(("uncertainty sampling: TakeOrdered over the margin "
                   "projection (no global Sort, no Window)",
                   "TakeOrderedAndProject" in full["uncertainty_sample_topk"]
                   and "Window" not in full["uncertainty_sample_topk"]))

    checks.append(("event-rate anomaly: rollups combine map-side, the "
                   "only nested-loop join is the 1-row hour-range "
                   "broadcast, no cartesian",
                   "partial_" in full["event_rate_anomaly"]
                   and "Cartesian" not in full["event_rate_anomaly"]))

    checks.append(("length-bias audit: 1-row final aggregation, no "
                   "cartesian",
                   "Cartesian" not in full["preference_length_bias"]))

    checks.append(("Poisson bootstrap: single pass, ONE exchange (the "
                   "32-group rollup with map-side combine), no joins",
                   len(re.findall(r"\(\d+\) Exchange",
                                  full["bootstrap_mean_ci"])) == 1
                   and "Join" not in full["bootstrap_mean_ci"]
                   and "partial_" in full["bootstrap_mean_ci"]))

    checks.append(("tool error rates: ONE tool-keyed rollup, no joins",
                   "Join" not in full["tool_error_rate_by_tool"]
                   and "partial_" in full["tool_error_rate_by_tool"]))

    checks.append(("tool chains: top-K via TakeOrdered (no global sort), "
                   "no joins",
                   "TakeOrderedAndProject" in full["tool_chain_topk"]
                   and "Join" not in full["tool_chain_topk"]))

    checks.append(("error recovery: conv-keyed window + rollup, "
                   "no cartesian",
                   "Cartesian" not in full["agent_error_recovery"]
                   and "Window" in full["agent_error_recovery"]))

    checks.append(("citation grounding: (conv, url) equi-joins only, "
                   "no cartesian",
                   "Cartesian" not in full["citation_url_check"]))

    checks.append(("Q5: supplier/nation/region broadcast, date filter "
                   "pushed to the orders scan",
                   full["local_supplier_volume"].count("BroadcastExchange")
                   >= 3
                   and "1996" in full["local_supplier_volume"][
                       full["local_supplier_volume"].find("PushedFilters"):]
                   and "Cartesian" not in full["local_supplier_volume"]))

    checks.append(("merge stability: two trainings, no corpus cartesian "
                   "(merge tables joined on the merged token)",
                   "CartesianProduct" not in full["bpe_merge_stability"]))

    checks.append(("quant recall curve: candidate re-rank via equi-join / "
                   "window, no corpus cartesian",
                   "CartesianProduct" not in full["embedding_quant_recall_curve"]))

    checks.append(("incremental merge: cluster tables read from checkpointed "
                   "scans (bounded lineage), no cartesian",
                   "Scan ExistingRDD" in full["dedup_incremental_merge"]
                   and "CartesianProduct" not in full["dedup_incremental_merge"]))

    checks.append(("k-center coreset: final frame assembles the loop's "
                   "collected per-step picks locally — no exchange, no "
                   "cartesian (per-step distances run as bounded broadcast "
                   "jobs during the build loop)",
                   "CartesianProduct" not in full["coreset_kcenter"]
                   and not re.findall(r"\(\d+\) Exchange",
                                      full["coreset_kcenter"])))

    checks.append(("Q14: part broadcasts, year filter pushed to the "
                   "lineitem scan, single bounded agg",
                   "BroadcastExchange" in full["promo_revenue_share"]
                   and "GreaterThanOrEqual(l_shipdate,"
                   in full["promo_revenue_share"]
                   and "partial_" in full["promo_revenue_share"]))

    checks.append(("canned responses: ONE digest-keyed rollup, no joins",
                   "Join" not in full["assistant_canned_responses"]
                   and "partial_" in full["assistant_canned_responses"]))

    checks.append(("Q7: supplier + both nation roles broadcast, ship-date "
                   "window pushed to the lineitem scan",
                   full["volume_shipping_pairs"].count("BroadcastExchange")
                   >= 3
                   and "GreaterThanOrEqual(l_shipdate,"
                   in full["volume_shipping_pairs"]
                   and "Cartesian" not in full["volume_shipping_pairs"]))

    checks.append(("Q10: returnflag pushed to the lineitem scan, top-20 "
                   "via TakeOrdered (no global sort)",
                   "EqualTo(l_returnflag,R)" in full["returned_item_revenue"]
                   and "TakeOrderedAndProject"
                   in full["returned_item_revenue"]))

    checks.append(("JSONL ingest: ONE rollup over the text source, "
                   "no joins",
                   "Join" not in full["jsonl_transcript_ingest"]
                   and "partial_" in full["jsonl_transcript_ingest"]))

    checks.append(("hard negatives: kmeans assignment materializes ONCE "
                   "(no parquet re-scan), query side broadcasts, "
                   "no cartesian",
                   "Scan parquet" not in full["embedding_hard_negatives"]
                   and "Broadcast" in full["embedding_hard_negatives"]
                   and "CartesianProduct"
                   not in full["embedding_hard_negatives"]))

    checks.append(("tool output stats: ONE bounded tool rollup with "
                   "map-side combine, no joins",
                   "Join" not in full["tool_output_stats"]
                   and "partial_" in full["tool_output_stats"]))

    checks.append(("rouge pairs: candidates + n-gram counts come from "
                   "checkpoints (at most the two per-doc total scans "
                   "re-read parquet), no cartesian",
                   full["rouge_overlap_pairs"].count("Scan parquet") <= 4
                   and "CartesianProduct" not in full["rouge_overlap_pairs"]))

    checks.append(("robots meta: zero-exchange scan projection",
                   "Exchange" not in full["robots_meta_flags"]
                   and "Join" not in full["robots_meta_flags"]))

    checks.append(("textrank: final rank table is checkpointed (no "
                   "parquet re-scan), top-K via TakeOrdered",
                   "Scan parquet" not in full["textrank_keywords"]
                   and "TakeOrderedAndProject" in full["textrank_keywords"]))

    checks.append(("robots.txt filter: parsed rule table broadcasts, "
                   "no cartesian",
                   "BroadcastHashJoin" in full["robots_txt_frontier_filter"]
                   and "CartesianProduct"
                   not in full["robots_txt_frontier_filter"]))

    checks.append(("digest collision audit: two-phase distinct with "
                   "map-side partial aggregation",
                   "partial_" in full["digest_collision_audit"]))

    checks.append(("label noise: scores come from the checkpointed "
                   "feature frame (no parquet re-scan), thresholds "
                   "broadcast",
                   "Scan parquet" not in full["label_noise_flags"]
                   and "Broadcast" in full["label_noise_flags"]))

    checks.append(("mlm plan: vocab index broadcasts into the "
                   "random-branch join, no cartesian",
                   "BroadcastHashJoin" in full["mlm_masking_plan"]
                   and "CartesianProduct" not in full["mlm_masking_plan"]))

    checks.append(("hll intersection: registers and shingle table come "
                   "from checkpoints (no parquet re-scan)",
                   "Scan parquet" not in full["hll_intersection_estimate"]))

    checks.append(("tool runtime: one window + one bounded rollup, "
                   "no joins",
                   "Join" not in full["tool_runtime_stats"]
                   and "partial_" in full["tool_runtime_stats"]))

    checks.append(("triangles: oriented edges come from checkpoints "
                   "(no parquet re-scan), no cartesian",
                   "Scan parquet" not in full["host_triangle_counts"]
                   and "CartesianProduct"
                   not in full["host_triangle_counts"]))

    checks.append(("burstiness: map-side combine + TakeOrdered "
                   "(no global sort)",
                   "partial_" in full["term_burstiness"]
                   and "TakeOrderedAndProject" in full["term_burstiness"]))

    checks.append(("bbit minhash: shingle subtree from checkpoint "
                   "(single parquet scan family), no cartesian",
                   "CartesianProduct" not in full["bbit_minhash_estimate"]))

    checks.append(("split balance: margins broadcast into the grid",
                   "BroadcastHashJoin" in full["split_balance_audit"]
                   or "BroadcastNestedLoopJoin"
                   in full["split_balance_audit"]))

    checks.append(("length bias: classifier frame from checkpoint "
                   "(one documents scan only)",
                   full["quality_length_bias"].count("Scan parquet") <= 2))

    checks.append(("part affinity: pair rollup map-side combine + "
                   "TakeOrdered top-K (no global sort), no cartesian",
                   "partial_" in full["part_affinity_lift"]
                   and "TakeOrderedAndProject" in full["part_affinity_lift"]
                   and "CartesianProduct"
                   not in full["part_affinity_lift"]))

    checks.append(("label centroids: (label, dim) rollup map-side "
                   "combine; no cartesian product",
                   "partial_" in full["label_centroid_similarity"]
                   and "CartesianProduct"
                   not in full["label_centroid_similarity"]))

    checks.append(("wilson ci: classifier frame from checkpoint "
                   "(one documents scan only)",
                   full["quality_wilson_ci"].count("Scan parquet") <= 2))

    checks.append(("dup-graph degrees: bucketed LSH candidates "
                   "(no cartesian), degree rollup map-side combine",
                   "CartesianProduct" not in full["dup_graph_degree_stats"]
                   and "partial_" in full["dup_graph_degree_stats"]))

    checks.append(("dow seasonality: bounded rollups with map-side "
                   "combine, margin broadcast into the grid",
                   "partial_" in full["event_dow_seasonality"]
                   and ("BroadcastHashJoin" in full["event_dow_seasonality"]
                        or "BroadcastNestedLoopJoin"
                        in full["event_dow_seasonality"])))

    checks.append(("rfm: the three ntile(5) windows share ONE "
                   "mktsegment exchange (no global-sort ntile)",
                   full["customer_rfm_scores"].count(
                       "hashpartitioning(c_mktsegment") == 1
                   and full["customer_rfm_scores"].count("ntile(5)") == 3))

    checks.append(("crawl budget: host-table work from checkpoints "
                   "(no parquet scan), scalar aggs broadcast",
                   "Scan parquet" not in full["host_crawl_budget"]
                   and "BroadcastNestedLoopJoin"
                   in full["host_crawl_budget"]))

    checks.append(("revision distance: one conv_id window, no join "
                   "at all",
                   "Window" in full["turn_revision_distance"]
                   and "Join" not in full["turn_revision_distance"]))

    checks.append(("reorder interval: lag window and rollup share the "
                   "custkey exchange (ONE Exchange node total)",
                   full["order_reorder_interval"].count("Exchange (") == 1))

    checks.append(("tool latency: per-tool moments broadcast back "
                   "(no extra corpus exchange), no cartesian",
                   "BroadcastHashJoin" in full["tool_latency_anomaly"]
                   and "CartesianProduct"
                   not in full["tool_latency_anomaly"]))

    checks.append(("supplier lag: suppkey rollup map-side combine + "
                   "supplier dim broadcast",
                   "partial_" in full["supplier_fulfillment_lag"]
                   and "BroadcastHashJoin"
                   in full["supplier_fulfillment_lag"]))

    checks.append(("norm outliers: in-row fold, single scan, 1-row "
                   "moments broadcast (no hash exchange at all)",
                   full["embedding_norm_outliers"].count("Scan parquet") <= 1
                   and "hashpartitioning"
                   not in full["embedding_norm_outliers"]))

    checks.append(("language confusion: linear heuristic + bounded "
                   "cell rollup with map-side combine",
                   "partial_" in full["doc_language_confusion"]
                   and "CartesianProduct"
                   not in full["doc_language_confusion"]))

    checks.append(("band occupancy: (band, sig) rollup map-side "
                   "combine, single documents scan",
                   "partial_" in full["minhash_band_occupancy"]
                   and full["minhash_band_occupancy"].count(
                       "Scan parquet") == 2))  # one node = 2 mentions

    checks.append(("context growth: window and rollup share one "
                   "conv_id exchange (ONE Exchange node total)",
                   full["conversation_context_growth"].count(
                       "Exchange (") == 1))

    checks.append(("postings sizing: lag window and per-tok rollup "
                   "share the tok exchange after the distinct",
                   full["postings_compression_estimate"].count(
                       "hashpartitioning(tok") <= 2
                   and "Window" in full["postings_compression_estimate"]))

    checks.append(("zone maps: row_number windows partitioned by file "
                   "key — NO single-partition global sort",
                   "SinglePartition" not in
                   full["zonemap_pruning_estimate"].split("AdaptiveSparkPlan")[-1]
                   and full["zonemap_pruning_estimate"].count("Window") >= 2))

    checks.append(("dictionary stats: unpivot stays linear (Generate, "
                   "no extra exchange before the windows), distinct "
                   "side joins back bounded",
                   "Generate" in full["column_dictionary_stats"]
                   and "CartesianProduct"
                   not in full["column_dictionary_stats"]))

    checks.append(("label propagation: final round reads checkpointed "
                   "host-scale frames (no parquet rescan), no cartesian",
                   "Scan parquet" not in full["host_label_propagation"]
                   and "CartesianProduct"
                   not in full["host_label_propagation"]))

    checks.append(("nn-descent: candidates from keyed joins on the "
                   "checkpointed top-K graph (no cartesian), rank "
                   "windows per vec",
                   "CartesianProduct" not in full["knn_graph_nndescent"]
                   and "SortMergeJoin" in full["knn_graph_nndescent"]
                   or "BroadcastHashJoin" in full["knn_graph_nndescent"]))

    checks.append(("brier: rides the checkpointed classifier frame — "
                   "bounded bin table with 1-row broadcasts",
                   "BroadcastNestedLoopJoin" in full["brier_decomposition"]
                   and "Scan parquet" not in full["brier_decomposition"]))

    checks.append(("shard manifest: single scan, one shard groupBy with "
                   "partial aggregation",
                   full["shard_integrity_manifest"].count("Scan parquet")
                   == 2  # one node = 2 mentions
                   and "partial_" in full["shard_integrity_manifest"]))

    checks.append(("k-anonymity: QI rollup map-side combine; margin "
                   "window only on the bounded histogram",
                   "partial_" in full["k_anonymity_audit"]))

    checks.append(("watermark audit: block-partitioned running-max "
                   "window + bounded block table broadcast back (no "
                   "event-row global window)",
                   "BroadcastHashJoin" in full["late_event_watermark_audit"]
                   and full["late_event_watermark_audit"].count(
                       "hashpartitioning(block") >= 1))

    checks.append(("chrf: candidate joins from checkpointed count "
                   "tables (no parquet rescan per order, no cartesian)",
                   "Scan parquet" not in full["chrf_pair_scores"]
                   and "CartesianProduct" not in full["chrf_pair_scores"]))

    checks.append(("join cardinality: per-key rollups with map-side "
                   "combine, no cartesian",
                   "partial_" in full["join_cardinality_estimate"]
                   and "CartesianProduct"
                   not in full["join_cardinality_estimate"]))

    checks.append(("kaplan-meier: one custkey window over the facts; "
                   "downstream windows/fold on the bounded step table",
                   full["kaplan_meier_retention"].count(
                       "hashpartitioning(o_custkey") >= 1))

    checks.append(("z-order: cell rollup with map-side combine; NO "
                   "window operators anywhere in the plan",
                   "partial_" in full["zorder_layout_plan"]
                   and "Window" not in full["zorder_layout_plan"]))

    checks.append(("neyman: strata rollup map-side combine; 1-row "
                   "total broadcast",
                   "partial_" in full["neyman_allocation_plan"]
                   and "BroadcastNestedLoopJoin"
                   in full["neyman_allocation_plan"]))

    checks.append(("seasonal: daily rollup map-side combine; seasonal "
                   "side broadcast back to the bounded daily table",
                   "partial_" in full["event_seasonal_decompose"]
                   and "BroadcastHashJoin"
                   in full["event_seasonal_decompose"]))

    checks.append(("front coding: lag window partitioned by the block "
                   "key (no single-partition window), distinct with "
                   "partial aggregation",
                   "hashpartitioning(blk" in
                   full["vocab_front_coding_estimate"]
                   and "partial_" in full["vocab_front_coding_estimate"]))

    checks.append(("salt plan: one conv_id rollup with map-side "
                   "combine, no joins",
                   "partial_" in full["skew_salt_plan"]
                   and "Join" not in full["skew_salt_plan"]))

    checks.append(("markov: final iteration reads checkpointed "
                   "matrix-scale frames (no events rescan), no "
                   "cartesian",
                   "Scan parquet" not in full["session_markov_stationary"]
                   and "CartesianProduct"
                   not in full["session_markov_stationary"]))

    checks.append(("url templates: template rollups with map-side "
                   "combine, no cartesian",
                   "partial_" in full["url_template_mining"]
                   and "CartesianProduct"
                   not in full["url_template_mining"]))

    checks.append(("ks drift: one corpus rollup then bounded-grid "
                   "windows partitioned by source",
                   "partial_" in full["ks_drift_test"]
                   and "hashpartitioning(source" in full["ks_drift_test"]))

    checks.append(("bm25 prf: scoring joins broadcast the bounded "
                   "term sets (no corpus-side shuffle per query), "
                   "postings table from checkpoint",
                   "BroadcastHashJoin" in full["bm25_prf_expansion"]
                   and "Scan parquet" not in full["bm25_prf_expansion"]))

    checks.append(("seeded pagerank: the result IS the final round's "
                   "checkpoint (no parquet rescan, no recompute tail)",
                   "Scan parquet" not in full["host_seeded_pagerank"]
                   and "Scan ExistingRDD"
                   in full["host_seeded_pagerank"]))

    checks.append(("k-core: final peel reads checkpointed host-scale "
                   "frames, degree rollups with map-side combine",
                   "Scan parquet" not in full["host_kcore_membership"]
                   and "partial_" in full["host_kcore_membership"]))

    checks.append(("cluster diameter: pair expansion joins on "
                   "cluster_id (no cartesian), shingle side semi-joined",
                   "CartesianProduct" not in full["dedup_cluster_diameter"]
                   and "partial_" in full["dedup_cluster_diameter"]))

    checks.append(("sliding hll: register merge from the checkpointed "
                   "daily registers (one events scan total), max "
                   "combine partial",
                   full["sliding_hll_users"].count("Scan parquet") <= 4
                   and "partial_max" in full["sliding_hll_users"]))

    checks.append(("texttiling: counts with map-side combine, gap "
                   "joins keyed (no cartesian), doc-partitioned windows",
                   "partial_" in full["texttiling_boundaries"]
                   and "CartesianProduct"
                   not in full["texttiling_boundaries"]
                   and "hashpartitioning(doc_id"
                   in full["texttiling_boundaries"]))

    checks.append(("mcnemar: rides the checkpointed classifier frame "
                   "(no parquet scan), 1-row aggregate",
                   "Scan parquet" not in full["filter_mcnemar_test"]))

    checks.append(("phrase search: phrase table broadcast into the "
                   "checkpointed positional stream (no parquet rescan)",
                   "BroadcastHashJoin" in full["phrase_search"]
                   and "Scan parquet" not in full["phrase_search"]))

    checks.append(("kendall tau: K^2-bounded pair join from the "
                   "checkpointed common table, no cartesian",
                   "CartesianProduct" not in full["ranking_kendall_tau"]))

    checks.append(("trimmed stats: source-partitioned rank window (no "
                   "single-partition sort), rollup map-side combine",
                   "hashpartitioning(source" in full["source_trimmed_stats"]
                   and "partial_" in full["source_trimmed_stats"]))

    checks.append(("survivor bias: 2-group rollup with map-side "
                   "combine, no cartesian",
                   "partial_" in full["dedup_survivor_bias"]
                   and "CartesianProduct"
                   not in full["dedup_survivor_bias"]))

    checks.append(("hourly acf: one events rollup with map-side "
                   "combine; lag join on the bounded index (broadcast)",
                   "partial_" in full["event_hourly_autocorrelation"]
                   and "BroadcastHashJoin"
                   in full["event_hourly_autocorrelation"]))

    checks.append(("kappa: rides the checkpointed classifier frame "
                   "(no parquet scan)",
                   "Scan parquet" not in full["filter_cohen_kappa"]))

    checks.append(("threshold sweep: sweep explodes the checkpointed "
                   "pair table (broadcast thresholds), no cartesian "
                   "on corpus tables",
                   "BroadcastHashJoin" in full["dedup_threshold_sweep"]
                   or "BroadcastNestedLoopJoin"
                   in full["dedup_threshold_sweep"]))

    checks.append(("topic shift: adjacent-turn keyed joins from the "
                   "checkpointed count table, conv-partitioned rollups",
                   "CartesianProduct"
                   not in full["conversation_topic_shift"]
                   and "partial_" in full["conversation_topic_shift"]))

    checks.append(("assortativity: degree rollup + keyed edge joins "
                   "from checkpoints, 1-row sums with partial agg",
                   "Scan parquet" not in full["host_degree_assortativity"]
                   and "partial_" in full["host_degree_assortativity"]))

    checks.append(("effect size: one role rollup with map-side "
                   "combine, no window",
                   "partial_" in full["role_length_effect_size"]
                   and "Window" not in full["role_length_effect_size"]))

    checks.append(("runs test: top-source broadcast; runs window "
                   "partitioned by (epoch, shard)",
                   "BroadcastNestedLoopJoin" in full["shuffle_runs_test"]
                   and "hashpartitioning(epoch"
                   in full["shuffle_runs_test"]))

    checks.append(("overdispersion: bounded grid from margins, "
                   "rollups with map-side combine",
                   "partial_" in full["event_overdispersion"]))

    checks.append(("mmd: one corpus explode into a bounded (label,i,j) "
                   "rollup with partial agg; no cartesian on corpus "
                   "tables",
                   "partial_" in full["embedding_mmd_poly"]
                   and "Generate" in full["embedding_mmd_poly"]))

    checks.append(("filtered ann: both strategies rank the SAME "
                   "checkpointed scored frame (one corpus pass)",
                   "Scan parquet" not in full["ann_filtered_topk"]
                   and full["ann_filtered_topk"].count("Window") >= 2))

    checks.append(("vocab overlap: token-key self-join from the "
                   "checkpointed distinct table, bounded sizes "
                   "broadcast",
                   "Scan parquet" not in full["source_vocab_overlap"]
                   and "BroadcastHashJoin"
                   in full["source_vocab_overlap"]))

    checks.append(("knn label agreement: votes and majority on the "
                   "bounded refined edge table, no cartesian",
                   "CartesianProduct" not in full["knn_label_agreement"]
                   and "partial_" in full["knn_label_agreement"]))

    checks.append(("temperature sweep: bounded source table exploded "
                   "by taus (broadcast), totals broadcast back",
                   "BroadcastHashJoin" in full["mix_temperature_sweep"]
                   or "BroadcastNestedLoopJoin"
                   in full["mix_temperature_sweep"]))

    checks.append(("benford: bounded digit rollup with map-side "
                   "combine, margins broadcast",
                   "partial_" in full["order_value_benford"]))

    checks.append(("revenue gini: range-partitioned two-pass rank "
                   "(pid-partitioned row_number, no unpartitioned window)",
                   # r06: the rank is range-partitioned two-pass; the
                   # custkey rollup materializes inside the checkpointed
                   # range-partitioned scan, and the only row_number window
                   # left is partitioned by pid (never unpartitioned).
                   "windowspecdefinition(pid" in full["customer_revenue_gini"]
                   and "Scan ExistingRDD" in full["customer_revenue_gini"]
                   and "windowspecdefinition(cents"
                   not in full["customer_revenue_gini"]))

    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("# BENCH/PLANS — formatted physical plans for headline operators\n\n")
        f.write("Automated checks:\n\n")
        for desc, ok in checks:
            f.write(f"- [{'x' if ok else ' '}] {desc}\n")
        f.write("\n")
        for name, text in sections:
            f.write(f"\n## {name}\n\n```\n{text.strip()}\n```\n")
    print("wrote BENCH/PLANS.md;",
          f"{sum(ok for _, ok in checks)}/{len(checks)} checks pass")
    spark.stop()


if __name__ == "__main__":
    main()
