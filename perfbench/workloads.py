"""Which ``queries()`` keys each workload runs, and which it leaves out.

Every key belongs to exactly one family: ``relational`` (TPC-H, events,
window, cube/rollup/grouping-sets, pivot, set operations, SQL, union,
distinct, data-quality) or ``corpus`` (documents, embeddings, media and
pipeline keys that read the content-addressed artifact store). Within
a family a key is either timed or listed as cut, so a new key fails
the coverage test until someone places it.

The benchmark's time budget (a run has about a minute, warm-up pass
included) keeps the timed sets small; the cut lists are what was left
out.
"""
from __future__ import annotations

import re

_CORPUS = re.compile(r"^(d\d|s\d|m\d|p1_|pl1_)")


def family(key: str) -> str:
    return "corpus" if _CORPUS.match(key) else "relational"


# One timed pass of ``relational``: a join, a window, sessionization
# over events and the SQL surface (which registers the whole catalog).
RELATIONAL = [
    "q3_shipping_priority",
    "w1_top_customers_per_nation",
    "e2_sessionization",
    "sql1_revenue_by_nation",
]

# ``corpus`` phase 1, the write side, into a fresh empty store every
# pass: exact-Jaccard pairs and clusters (prefix-filter candidates, the
# O(L^2) token exchange), plus the benchmark's small DAG run through
# ``LocalBackend`` (see ``pipeline``). The MinHash band self-join
# behind d3 runs in every ingest micro-batch.
CORPUS_COLD = [
    "d11_dedup_clusters",
]

# ``corpus`` phase 2, the read side, on deposits built before timing:
# dedup consumers, the IVF probe sweep and the curation report, plus
# the small DAG again (every persisted task reused).
CORPUS_WARM = [
    "d36_cross_source_dups",
    "d38_threshold_sweep",
    "s17_ivf_probe_sweep",
    "pl1_curation_pipeline",
]

# ``corpus`` phase 3: streaming ingest micro-batches.
INGEST_DOCS = 240
INGEST_BATCHES = 2

RELATIONAL_CUT = [
    "q1_pricing_summary", "q9_product_profit", "q18_large_orders",
    "setops_customer_activity", "cube_revenue",
    "distinct_users_daily", "dq1_constraint_report", "e12_heavy_hitters",
    "e18_rolling_active_users", "e19_gap_fill", "e1_event_counts",
    "e20_mad_outliers", "e21_cusum_drift", "e22_psi_drift",
    "e23_seasonal_anomaly", "e29_trending_events", "e3_hourly_rollup",
    "e4_user_asof_value", "e5_funnel", "e7_value_percentiles_approx",
    "q23_skyline_parts", "e10_value_histogram", "e13_zscore_outliers",
    "e14_ewma_daily", "e15_retention_cohorts", "e16_event_transitions",
    "e17_session_window_stats", "e6_value_percentiles",
    "e8_error_window_stats", "e9_json_props_stats", "gsets_revenue",
    "pivot_returnflag", "q10_returned_items", "q11_important_stock",
    "q12_priority_shipping", "q13_customer_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_brand_counts",
    "q17_small_qty_revenue", "q19_disjunct_filter", "q20_excess_shipments",
    "q21_waiting_suppliers", "q22_global_sales_opp", "q2_min_cost_supplier",
    "q4_order_priority", "q5_local_supplier", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "rollup_revenue",
    "semi_anti_parts", "setops_multiset_except", "union_dedup_keys",
    "w2_running_revenue", "w3_moving_avg_events", "w4_mom_growth",
    "w5_rank_distribution", "e24_common_paths", "e25_interarrival",
    "e26_funnel_latency", "e27_ab_lift", "e28_hll_users",
]

CORPUS_CUT = [
    "d3_minhash_lsh_dups",
    "s2_label_centroids", "s5_quantize_error", "s6_ann_recall",
    "s9_kmeans_refine", "s31_pq_churn", "d55_audio_fingerprint_dups",
    "d56_trigram_lm_perplexity", "s32_filtered_ann_auto", "d57_bpe_train",
    "d58_learned_bpe_budget", "d54_perplexity_filter", "d23_gopher_filter",
    "d18_sequence_packing", "d17_contamination", "s25_int8_recall",
    "d49_retraction_impact", "s26_hnsw_adaptive", "d50_image_phash_dups",
    "d51_html_extract", "s27_graph_churn", "s28_filtered_ann",
    "d25_domain_mix", "d26_quality_buckets", "d27_bloom_contamination",
    "d29_dsir_weights", "d31_token_surprisal", "d32_doc_entropy",
    "d33_split_leakage", "d44_bpe_tokens", "d46_tokenizer_fertility",
    "d47_decontaminate_apply", "m1_multimodal_meta", "m2_resize_framesample",
    "m3_audio_windows", "p1_pii_scan", "s11_knn_graph", "s12_graph_recall",
    "s13_matryoshka_recall", "s18_nn_descent", "s3_lsh_ann", "s4_ivf_ann",
    "s7_semdedup", "s8_pq_ann", "s19_ivfpq_ann", "s20_pq_shortlist_sweep",
    "d9_embedding_neardup", "d59_classifier_train",
    "d60_learned_classifier_filter", "m4_video_scene_cuts",
    "d52_bigram_lm_perplexity", "d28_token_zipf", "d30_oov_rate",
    "d45_langid_model", "s30_ivf_churn", "d53_video_phash_dups",
    "d10_winnow_fingerprint", "d12_subword_stats", "d13_hash_sample",
    "d14_stratified_sample", "d15_profile", "d16_repetition",
    "d19_tfidf_top_terms", "d1_exact_dedup", "d20_dedup_apply",
    "d21_corpus_split", "d22_dup_spans", "d24_weighted_sample",
    "d2_ngram_jaccard_dups", "d34_rag_chunking", "d35_bigram_rarity",
    "d37_span_scrub", "d39_cluster_sizes", "d40_classifier_filter",
    "d41_mix_planner", "d42_source_novelty", "d43_shard_balance",
    "d4_simhash_dups", "d5_lang_id", "d6_quality_score", "d7_token_stats",
    "d8_fingerprint", "s10_cluster_balance", "s14_mmr_rerank",
    "s15_label_drift", "s16_knn_centrality", "s1_cosine_topk",
    "s21_nn_descent_converge", "s22_hnsw_ann", "s24_hnsw_multilevel",
    "s23_hnsw_beam_sweep", "s29_filtered_graph_ann",
]

WORKLOADS = ("relational", "corpus")

# Timed passes per run, after one untimed warm-up pass. A fixed count,
# so every run of a workload does the same work.
PASSES = {"relational": 4, "corpus": 1}


def pipeline(sf_dir: str):
    """A three-task DAG over the documents table for the pipeline layer:
    token sets, their MinHash band keys (persisted) and a per-band
    report (persisted). Task versions carry the table fingerprint, so
    the impression addresses are stable for a given catalog."""
    from pyspark.sql import functions as F

    from yuki_spark.catalog import load
    from yuki_spark.operators import dedup as dd
    from yuki_spark.pipeline.dag import Pipeline
    from yuki_spark.queries.artifact_store import table_fingerprint

    p = Pipeline("perfbench")
    p.source(
        "documents",
        lambda s, _: load(s, sf_dir, "documents"),
        version=table_fingerprint(sf_dir, "documents"),
    )
    p.add("token_sets", lambda s, d: dd.token_sets(d["documents"]), deps=("documents",))
    p.add("bands", lambda s, d: dd.band_index(d["token_sets"]), deps=("token_sets",))
    p.add(
        "report",
        lambda s, d: d["bands"].groupBy("band").agg(
            F.countDistinct("doc_id").alias("docs")
        ),
        deps=("bands",),
    )
    return p


PIPELINE_PERSIST = {"bands", "report"}


def timed_keys(workload: str) -> list[str]:
    if workload == "relational":
        return list(RELATIONAL)
    return list(dict.fromkeys(CORPUS_COLD + CORPUS_WARM))
