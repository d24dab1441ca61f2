"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 plus the
large-scale data-pipeline operators (dedup / similarity / text analysis) for
the DuckDB correctness gate at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from unravelsports_spark.plans import QUERIES

    return QUERIES["q1_pricing_summary"](spark, SF0001)


# Keys already driver-certified (green rows+schema+hash in CORRECTNESS_r01..
# r15). Certification checks a bounded prefix of this dict, so enumerate
# never-certified queries first to widen certification breadth; no keys are
# renamed. This rotation: all 47 hash-green r15 keys (CORRECTNESS_r15.json)
# ENTER this set. The leaving cohort is 47 keys:
#   - out for re-hash: 10 model twins ported to models/frames.py and
#     8 r15 rewrites (w7_row_index, w8_rank_distributions, w9_interpolate_gaps,
#     w10_moving_avg, t_nb_confusion, t_prep_to_shards_e2e,
#     t_full_pipeline_e2e, d_label_communities);
#   - the other 12 keys of the r11 remainder (s_kmeans_fit ..
#     t_text_normalize);
#   - the OLDEST 17 of the r12 cohort (t_langid_confusion ..
#     d_minhash_accuracy, list order = registry order).
# Priority-0 lands on 47, leaving slots 48-50 for the three rows-only
# model checks whose turn it is (_ROWS_ONLY_STALE below).
# q1_pricing_summary keeps its documented rotation exemption (ADVICE r6
# #2): smoke-run by entry() every round + fresh-process re-verified.
_CERTIFIED = frozenset(
    {
        # q1 rotation exemption, documented per ADVICE r6 #2 (r5 green):
        # the late-r7 scaled_units extraction is a pure code move — q1
        # builds the IDENTICAL expression tree (plan guards pass
        # unchanged), it is smoke-run by entry() every round, and the
        # r8/r10 fresh-process oracle compares re-verified it hash-exact
        # at sf0.01.
        "q1_pricing_summary",
        # r12 green (CORRECTNESS_r12.json) REMAINDER: the youngest 27 of
        # the r12 cohort; they lead the next leaving cohort.
        "o13_reservoir_sample", "a11_histogram", "a12_corr_exact",
        "a13_rollup", "o14_pivot", "d_edit_distance", "a14_cube",
        "f11_string_agg", "f12_array_agg_sorted", "f13_bitwise_agg",
        "a16_profile", "o15_morton_key", "j10_full_outer",
        "st_session_window_native", "f14_variant_json",
        "f15_sql_text", "q7_volume_shipping", "q10_returned_items",
        "a22_touch_attribution", "t_bm25_topk",
        "d_countmin_heavyhitters", "d_dup_spans",
        "t_mixture_temperature", "d_semdedup_lsh",
        "t_boilerplate_strip", "d_simhash_neardup", "t_html_extract",
        # r13 green (CORRECTNESS_r13.json, 47/47 hash-exact).
        "p1_p2_project_filter", "f7_f8_conditional_literals",
        "p3_filter_eq", "p4_range_between", "p5_modulo_sample",
        "p6_conditional_cap", "p7_sign_flip", "p8_bool_derive",
        "j1_dim_join", "j2_agg_back_join", "j3_semi_join",
        "j4_anti_join", "j5_enrich_revenue", "j7_distinct_join",
        "a2_distinct_count", "a3_group_stats", "a4_argmin_in_group",
        "d_jaccard_top_pairs", "w6_savgol_oracle",
        "t_repetition_stats", "t_sequence_packing",
        "a15_hll_sketch_union", "t_bigram_logprob", "t_bpe_merges",
        "t_bpe_tokenized_stats", "d_semdedup_multitable",
        "m_savgol_cells", "t_dsir_scores", "t_corpus_kl",
        "t_dsir_resample", "d_bloom_decontamination",
        "t_shard_manifest", "d_incremental_dedup",
        "d_semantic_contamination", "o16_frequent_part_pairs",
        "w13_event_transitions", "w14_daily_anomalies",
        "o18_csv_roundtrip", "a25_t_closeness", "o19_warc_roundtrip",
        "d_release_diff",
        # r14 green (CORRECTNESS_r14.json, 47/47 hash-exact).
        "a5_conditional_sum", "a7_global_distinct", "w1_lag_diff",
        "w2_partitioned_min", "w3_rank_topk", "w4_sessionize",
        "w5_tumbling_window", "o5_top_k_limit", "o6_union_all",
        "o8_unpivot", "o9_explode_tokens", "o11_concat_key",
        "f1_string_ops", "f2_temporal_trunc", "f3_math_ops",
        "f6_array_ops", "f4_null_handling", "f5_casts",
        "t_token_stats", "t_quality_by_source", "t_fingerprint",
        "d_exact_dedup_stats", "d_minhash_signatures",
        "d_lsh_candidate_pairs", "d_dup_clusters", "d_simhash",
        "s_ann_bruteforce", "s_ann_top_pairs", "d_embedding_neardup",
        "s_ann_lsh", "s_ann_ivf", "m_savgol_events_fp",
        "q6_forecast_revenue", "mm_audio_spectral", "mm_image_phash",
        "t_unigram_vocab", "t_unigram_tokens", "t_robots_filter",
        "t_frontier_plan", "t_sitemap_extract",
        "o20_tfrecord_roundtrip",
        # r15 green (CORRECTNESS_r15.json, 47/47 hash-exact).
        "d_mllib_minhash_join", "j8_asof_join",
        "mm_image_dhash_dedup", "j6_label_join", "t_bpe_token_stats",
        "t_pii_scrub", "t_url_domains", "d_contamination",
        "k_salted_agg", "t_tfidf_terms", "t_vocab_top100",
        "t_domain_mixture", "a10_quantiles", "s_kmeans_assign",
        "t_sentences", "t_chunking", "d_pair_degrees",
        "w11_scd2_intervals", "d_triangle_count", "t_bigram_pmi",
        "t_filter_funnel", "a20_retention_cohorts",
        "a21_ordered_funnel", "q3_shipping_priority",
        "q5_local_supplier_volume", "w12_sliding_distinct_users",
        "q18_large_volume_customer", "t_unigram_logprob",
        "t_corpus_prep_e2e", "d_cluster_keep_best", "d_pagerank",
        "d_semdedup_recall", "m_graph_custom_cells", "s_ann_pq",
        "s_ann_ivfpq_residual", "s_ann_ivfpq", "s_ann_recall",
        "d_lsh_recall", "t_hybrid_rrf", "d_cdc_chunks",
        "t_wordpiece_vocab", "t_wordpiece_tokens", "mm_audio_mfcc",
        "t_ppl_bucket_sample", "s_cluster_balanced_sample",
        "a23_k_anonymity", "s_ann_from_index",
    }
)


# The six rows-only model checks overflow one 50-slot window, so they
# alternate rounds. These three last ran rows-green in r14 (the other three
# ran in r15), so it is their turn; their PI and graph kernels also moved
# onto models/frames.py, and m_af_graph_convert now reads the generated
# BDB sample. Each also has a hash-certified full-output _fp twin.
_ROWS_ONLY_STALE = ("m_pressing_intensity", "m_graph_convert",
                    "m_af_graph_convert")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from unravelsports_spark.plans import ORACLE_SQL, QUERIES

    def priority(name: str) -> int:
        if name not in _CERTIFIED and name in ORACLE_SQL:
            return 0  # never-certified, oracle-backed: certify these first
        if name in _ROWS_ONLY_STALE:
            return 1  # rows-only checks whose turn it is (see above)
        if name not in _CERTIFIED:
            return 2  # rows-only checks that ran last round
        return 3  # already green in some CORRECTNESS_r01..r12

    def evicting(fn):
        # Query-boundary cache eviction (VERDICT r4): operators tracked_persist
        # intermediate tables (LSH buckets, pagerank edges, signatures...);
        # without a release point a full registry run accumulates cached
        # relations. Each query call first drops the PREVIOUS query's tracked
        # caches — safe because the driver has already collected that result,
        # and unpersist never changes results (plans recompute if re-run).
        def run(spark, sf_dir, _fn=fn):
            from unravelsports_spark.cache import release_tracked

            release_tracked()
            return _fn(spark, sf_dir)

        return run

    names = sorted(QUERIES, key=lambda n: (priority(n), list(QUERIES).index(n)))
    return {name: evicting(QUERIES[name]) for name in names}


def oracle_sql() -> dict[str, str]:
    from unravelsports_spark.plans import ORACLE_SQL

    return dict(ORACLE_SQL)
