"""Physical-plan quality guards: these fail if a future change breaks
predicate pushdown, column pruning, broadcast joins, or partial aggregation
— the properties that make the same plans viable at 100 TB."""

import pytest

from pyspark.sql import functions as F

from unravelsports_spark.plans import QUERIES

from .conftest import SF_CORRECT


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_partial_agg(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan  # map-side combine before the exchange
    # scan reads only the 6 needed columns of 11
    assert "l_orderkey" not in plan


def test_j1_broadcast_dims(spark):
    plan = plan_of(spark, "j1_dim_join")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_j5_broadcast_enrichment(spark):
    plan = plan_of(spark, "j5_enrich_revenue")
    assert plan.count("BroadcastHashJoin") == 2
    # part filter pushed to the dimension scan
    assert "PushedFilters: [IsNotNull(p_size), LessThanOrEqual(p_size,10)" in plan


def test_o5_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "o5_top_k_limit")
    assert "TakeOrderedAndProject" in plan


def test_column_pruning_semi_join(spark):
    plan = plan_of(spark, "j3_semi_join")
    # lineitem side of the semi join must not read prices
    assert "l_extendedprice" not in plan
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity" in plan


def test_single_shuffle_for_model_kernel(spark):
    from unravelsports_spark.datasets.synthetic import synthetic_tracking_df
    from unravelsports_spark.models.pressing_intensity import PressingIntensity
    from unravelsports_spark.settings import DefaultSettings

    df = synthetic_tracking_df(spark, n_frames=4, seed=1)
    out = PressingIntensity(df, DefaultSettings(home_team_id="home_team")).fit().output
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange: the groupBy on (game, period, chunk)
    assert plan.count("Exchange") == 1


#: documented exception: s_ann_top_pairs probes via BroadcastNestedLoopJoin
#: by design (tiny broadcast side). d_embedding_neardup left this set in
#: round 5: the exact all-pairs query now runs block-pair fan-out
#: (plans/pipeline.py:_allpairs_cosine_removed) — no CartesianProduct.
_ALLOW_CARTESIAN = {"s_ann_top_pairs"}

_SWEEP = [
    "q1_pricing_summary", "j5_enrich_revenue", "j2_agg_back_join",
    "a4_argmin_in_group", "w4_sessionize", "w5_tumbling_window",
    "o9_explode_tokens", "d_lsh_candidate_pairs", "s_ann_lsh",
    "t_bpe_token_stats", "t_tfidf_terms", "t_chunking",
    "t_bm25_topk", "t_unigram_logprob", "d_countmin_heavyhitters",
    "d_dup_spans", "d_semdedup_lsh", "d_cluster_keep_best",
    "d_jaccard_top_pairs", "d_exact_dedup_stats", "d_simhash",
    "d_semdedup_multitable", "t_mixture_temperature", "t_bigram_logprob",
    "t_dsir_scores", "t_nb_confusion", "t_shard_manifest",
    "d_incremental_dedup", "d_semantic_contamination",
    "d_embedding_neardup",
    # round-5 bench-headline additions — the data-heavy set must stay free
    # of cartesian products and row-at-a-time Python too
    "d_pagerank", "d_dup_clusters", "d_cluster_keep_best",
    "d_minhash_signatures", "t_corpus_prep_e2e", "t_prep_to_shards_e2e",
    "t_bpe_tokenized_stats", "w9_interpolate_gaps", "t_repetition_stats",
    "t_full_pipeline_e2e", "s_ann_recall",
    # round-7: hybrid RRF retrieval (BM25 + dense cosine fusion),
    # shingle-df corpus novelty, label-propagation communities, and
    # content-defined chunking
    "t_hybrid_rrf", "t_ngram_novelty", "d_label_communities", "d_cdc_chunks",
    "d_containment_top_pairs", "d_cross_source_overlap",
]


def test_no_cartesian_products_or_row_udfs_in_sweep(spark):
    """Meta plan guard over the headline + round-3 queries: a CartesianProduct
    is the all-pairs blowup that kills any 100 TB run, and BatchEvalPython is
    a row-at-a-time Python UDF in the hot path (Arrow variants are fine)."""
    for name in _SWEEP:
        plan = plan_of(spark, name)
        if name not in _ALLOW_CARTESIAN:
            assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_minhash_signatures_single_exchange_no_hofs(spark):
    """The minhash chain's round-6 shape: ONE exchange (the doc groupBy,
    with map-side partial_min so each partition ships one row per doc) and
    ZERO interpreted higher-order functions — gram construction is
    explode(arrays_zip(slices)) + relational concat_ws, and the needless
    pre-aggregation distinct (min is duplicate-insensitive) is gone."""
    plan = plan_of(spark, "d_minhash_signatures")
    assert plan.count("Exchange") == 1
    assert "partial_min" in plan
    assert "lambdafunction" not in plan


def test_lsh_band_join_reuses_one_signature_lineage(spark):
    """The shingle→minhash subtree is the most expensive stage of the dedup
    pipeline; the band self-join must read it from one persisted
    InMemoryRelation on both sides instead of recomputing the lineage twice
    (round-2 verdict, 100 TB flag #4)."""
    plan = plan_of(spark, "d_lsh_candidate_pairs")
    assert plan.count("InMemoryTableScan") == 2


def test_retrieval_single_tokenize_pass(spark):
    """Round-3 verdict 100 TB flag: bm25 re-tokenized the corpus 4× and the
    LM scorers 2-3× (one explode lineage per consumer). After the fix every
    retrieval statistic derives from ONE persisted per-(doc,term[,term2])
    count table, so the executed plan must contain NO top-level Generate —
    the tokenize explode runs only inside the single cached subtree — and
    multiple InMemoryTableScan readers of it."""
    for name, min_cache_reads in [
        # r8: bm25's second cache consumer (the 1-row stats agg) collects at
        # plan-BUILD time and inlines as literals, so the returned plan
        # reads the per-doc cache exactly once — the scoring projection
        ("t_bm25_topk", 1),
        ("t_unigram_logprob", 2),
        ("t_bigram_logprob", 2),
        ("d_countmin_heavyhitters", 2),
    ]:
        plan = plan_of(spark, name)
        assert plan.count("Generate(") == 0, name
        assert plan.count("InMemoryTableScan") >= min_cache_reads, name


def test_dsir_and_nb_single_tokenize_pass(spark):
    """Round-4 selection operators follow the retrieval single-lineage rule:
    one persisted (doc, bucket, n) table feeds both the model-stats agg and
    the scoring join — no top-level Generate (tokenize runs only inside the
    cached subtree), model tables ship as broadcasts, corpus never
    sort-merge-joins.

    r15: t_nb_confusion's model stats are now COLLECTED from the cache at
    build time (two O(model) integer aggregates) and the grid broadcasts
    from a local collection, so the final plan shows ONE cache scan (the
    scoring pass) and the broadcast build side is a local-collection scan,
    not a distributed range × crossJoin × left-join chain."""
    for name in ["t_dsir_scores", "t_nb_confusion"]:
        plan = plan_of(spark, name)
        assert plan.count("Generate(") == 0, name
        assert plan.count("InMemoryTableScan") >= (
            1 if name == "t_nb_confusion" else 2
        ), name
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
    # the nb grid is an O(classes × buckets) local collection — its
    # broadcast must not contain a distributed Range/cross-join subtree
    nb = plan_of(spark, "t_nb_confusion")
    assert "Scan ExistingRDD" in nb or "LocalTableScan" in nb
    assert "Range (" not in nb and "CartesianProduct" not in nb


def test_ann_lsh_broadcasts_planes_and_query(spark):
    plan = plan_of(spark, "s_ann_lsh")
    # planes and the single query row ship as broadcasts; the corpus side is
    # never the build side of a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_ivf_broadcasts_centroids(spark):
    plan = plan_of(spark, "s_ann_ivf")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_label_join_broadcast(spark):
    plan = plan_of(spark, "j6_label_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_p1_p2_column_pruning(spark):
    plan = plan_of(spark, "p1_p2_project_filter")
    # only p_partkey, p_name, p_size of part's 9 columns reach the scan
    assert "p_retailprice" not in plan
    assert "p_comment" not in plan


def test_multimodal_scan_pruning(spark):
    plan = plan_of(spark, "mm_decode_stats")
    # decode pipeline reads only (source, text); doc metadata never scanned
    assert "n_chars" not in plan
    assert "doc_id" not in plan


def test_sliding_window_partial_agg(spark):
    plan = plan_of(spark, "st_sliding_window")
    # window generation must not break map-side combine
    assert "partial_count" in plan or "partial_sum" in plan


def test_a4_argmin_partial_agg_no_window(spark):
    # min(struct) argmin partial-aggregates map-side (struct buffers force
    # SortAggregate, but the sort is group-key-only and the exchange carries
    # one pre-aggregated row per group) and must never plan a Window
    plan = plan_of(spark, "a4_argmin_in_group")
    assert "partial_min" in plan
    assert "Window" not in plan
    # partial agg sits upstream of (deeper than) the exchange
    assert plan.index("partial_min") > plan.index("Exchange")


def test_repetition_stats_no_extra_shuffle(spark):
    """Both repetition signals are per-row folds: exactly one exchange (the
    final groupBy), no Python evaluation anywhere."""
    plan = plan_of(spark, "t_repetition_stats")
    assert plan.count("Exchange") <= 2  # partial/final agg pair only
    assert "Python" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_contamination_broadcast_semi_join(spark):
    plan = plan_of(spark, "d_contamination")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin LeftSemi" in plan or (
        "BroadcastExchange" in plan and "LeftSemi" in plan
    )


def test_pii_scrub_pure_projection(spark):
    """Scrubbing is regexp projections + one aggregate — no joins, no UDFs."""
    plan = plan_of(spark, "t_pii_scrub")
    assert "Join" not in plan
    assert "Python" not in plan


def test_url_domains_pure_projection(spark):
    plan = plan_of(spark, "t_url_domains")
    assert "Join" not in plan
    assert "Python" not in plan


def test_vocab_topk_take_ordered(spark):
    plan = plan_of(spark, "t_vocab_top100")
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort
    assert "partial_count" in plan


def test_tfidf_broadcasts_doc_count(spark):
    plan = plan_of(spark, "t_tfidf_terms")
    # the N-docs 1-row agg joins in as a broadcast, never a SortMergeJoin
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_domain_mixture_fact_never_shuffled_for_rates(spark):
    plan = plan_of(spark, "t_domain_mixture")
    # rates are a tiny dim joined by broadcast; corpus-side join is broadcast
    assert "SortMergeJoin" not in plan
    # the per-domain counts table is persisted so every rates consumer reads
    # one InMemoryRelation — the corpus-count pass runs once, not per branch
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_kmeans_assign_single_exchange(spark):
    plan = plan_of(spark, "s_kmeans_assign")
    # literal-centroid assignment is a pure projection; the only exchange is
    # the per-cell stats groupBy (plus its partial agg)
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan


def test_rollup_single_aggregation(spark):
    plan = plan_of(spark, "a13_rollup")
    assert "Expand" in plan  # grouping sets expansion, one pass over the data
    assert plan.count("Exchange") == 1


def test_histogram_partial_agg(spark):
    plan = plan_of(spark, "a11_histogram")
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan


def test_edit_distance_pruned_scan(spark):
    plan = plan_of(spark, "d_edit_distance")
    # only doc_id + text reach the scan (no lang/source/n_chars)
    assert "n_chars" not in plan and "source" not in plan


def test_hybrid_rrf_topk_before_windows(spark):
    """t_hybrid_rrf: both per-ranker top-ks must end in
    TakeOrderedAndProject (per-partition heaps) BEFORE any row_number
    window touches the lists, so no corpus-sized single-partition window
    exists; the BM25 side keeps its zero-explode plan and the fusion join
    runs on the two ≤20-row lists."""
    plan = plan_of(spark, "t_hybrid_rrf")
    # lex top-20, dense top-20, fused top-10: all three per-partition heaps
    assert plan.count("TakeOrderedAndProject") == 3
    # every Window sits directly on a TakeOrderedAndProject (the ≤20-row
    # ranked list), never on an Exchange from a corpus-sized input
    import re

    for m in re.finditer(r"Window \[row_number\(\)", plan):
        tail = plan[m.end():]
        nxt = tail.split("+- ", 2)[1]
        assert nxt.startswith("TakeOrderedAndProject"), nxt[:60]
    assert "Generate" not in plan  # BM25 stays explode-free end to end
    # (the 20x20 full-outer fusion join is a SortMergeJoin — Spark cannot
    # broadcast full outer — which is fine on two limit-bounded lists)


def test_cdc_chunks_gram_chain_evaluated_once(spark):
    """d_cdc_chunks: the staged gram-hash chain must survive optimization as
    ONE evaluation per document. Two regressions are pinned here: (a)
    CollapseProject must not re-inline the staged _t/_gh/_ends/_pairs
    aliases into HOF lambdas (each re-reference re-evaluates the whole
    subtree per element — O(grams^2) md5s/doc), and (b)
    InferFiltersFromGenerate must not clone the chain into a
    size(_pairs) > 0 pre-filter below the projections (the inner-explode
    form did exactly that: 92 s at sf0.1 vs ~1 s). Exactly two md5 calls
    may appear: the per-gram boundary hash and the per-chunk dedup hash."""
    plan = plan_of(spark, "d_cdc_chunks")
    assert plan.count("md5") == 2, plan.count("md5")
    assert "arrays_zip" in plan and plan.count("arrays_zip") == 1


def test_q3_pushdown_broadcasts_and_heap(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    # all three scans keep their filters at the parquet reader
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    # top-10 is a heap, never a global sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q5_pushdown_and_dim_broadcasts(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    # the year window reaches the orders scan; the region filter its scan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    # nation/region ride broadcasts into the supplier side
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # two-phase revenue: map-side partial sums before the exchange
    assert "partial_sum" in plan


def test_q18_having_prunes_before_joins(spark):
    plan = plan_of(spark, "q18_large_volume_customer")
    # per-order quantity agg combines map-side and its HAVING applies
    # before any join; top-100 is a heap
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_a21_funnel_single_data_exchange(spark):
    plan = plan_of(spark, "a21_ordered_funnel")
    # three chained window MINs share ONE user_id exchange; the only other
    # exchange is the final 3-row orderBy
    assert plan.count("Window") == 3
    assert plan.count("Exchange") <= 2
    assert "CartesianProduct" not in plan


def test_a20_w12_no_cartesian_partial_aggs(spark):
    for name in ("a20_retention_cohorts", "w12_sliding_distinct_users"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        # per-user / per-(user,day) reductions combine map-side
        assert "partial" in plan, name


def test_q7_pushdown_nation_broadcast_two_phase(spark):
    plan = plan_of(spark, "q7_volume_shipping")
    # shipdate range reaches the lineitem scan; the two-nation restriction
    # its scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "In(n_name" in plan
    # nations broadcast into the supplier and customer sides
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # two-phase revenue: map-side partial sums before the exchange
    assert "partial_sum" in plan


def test_q10_pushdown_heap_topk(spark):
    plan = plan_of(spark, "q10_returned_items")
    # quarter filter at the orders scan, returnflag at the lineitem scan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # top-20 is a heap, never a global sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_a22_attribution_no_window_no_cartesian(spark):
    plan = plan_of(spark, "a22_touch_attribution")
    # per-user first/last are min_by/max_by aggregates — NO window, so no
    # per-user sort; purchase MIN combines map-side
    assert "Window" not in plan
    assert "partial_min" in plan or "partial" in plan
    assert "CartesianProduct" not in plan


def test_q6_all_predicates_pushed_scan_agg_only(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # every predicate reaches the parquet scan (the PushedFilters list is
    # display-truncated after the IsNotNulls, so assert its prefix plus the
    # full data-filter predicates, which the scan mirrors 1:1)
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in plan
    assert ">= 1996-01-01 00:00:00)" in plan
    assert "< 1997-01-01 00:00:00)" in plan
    assert ">= 0.05)" in plan and "<= 0.07)" in plan
    assert "< 24.0)" in plan
    # scan reads only the 4 needed columns of 11
    assert "l_orderkey" not in plan and "l_tax" not in plan
    # one partial/final agg pair, single-row exchange, no join/window
    assert "partial_sum" in plan
    assert "Join" not in plan and "Window" not in plan


def test_o16_basket_bounded_pair_join(spark):
    plan = plan_of(spark, "o16_frequent_part_pairs")
    # the (txn, item) distinct combines map-side BEFORE its exchange (two
    # HashAggregate instances per distinct: partial + final)
    assert plan.count("HashAggregate") >= 4
    # the distinct table is persisted once for its three consumers (guard
    # aggregate + both self-join sides) — no re-scan of the corpus
    assert plan.count("InMemoryTableScan") >= 2
    # the skew cap is a semi filter applied before the pair self-join
    assert "LeftSemi" in plan
    # pair join meets on the transaction key — never a cartesian
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # top-20 via heap
    assert "TakeOrderedAndProject" in plan


def test_w13_single_window_exchange(spark):
    plan = plan_of(spark, "w13_event_transitions")
    # one lag window partitioned by user, one agg exchange — no join
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 2
    assert "Join" not in plan
    # scan reads only the 4 needed columns of 6
    assert "props" not in plan and '"value"' not in plan


def test_w14_counts_reduce_before_window(spark):
    plan = plan_of(spark, "w14_daily_anomalies")
    # the event log reduces to per-(key, day) counts FIRST (partial+final
    # agg around an exchange), THEN the rolling window runs on that tiny
    # table — window input is the aggregate, never raw events
    assert "partial_count" in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 2
    # scan reads only ts + event_type
    assert "user_id" not in plan and "event_id" not in plan


def test_k_anonymity_two_phase_no_expand(spark):
    """a23: the class-size histogram must be two map-side-combinable
    aggregations — no Expand (a COUNT(DISTINCT) formulation would triple
    rows through the exchange), no window, no join."""
    plan = plan_of(spark, "a23_k_anonymity")
    assert "Expand" not in plan
    assert "partial_count" in plan
    assert "Window" not in plan and "Join" not in plan


def test_ppl_bucket_no_per_group_document_sort(spark):
    """t_ppl_bucket_sample: tercile boundaries come from a combinable
    (group, score) COUNT plus windows over the DISTINCT-score frame — the
    corpus-sized frame is never globally sorted per group (an ntile
    formulation would single-reduce each group at 100 TB), and the
    boundary table broadcasts back. Pinned structurally: exactly the two
    boundary windows (cum + total) exist, BOTH sit ABOVE the per-(group,
    score) partial aggregation in the plan tree (their input is the
    distinct-value frame, not the corpus), and no ntile appears."""
    plan = plan_of(spark, "t_ppl_bucket_sample")
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan  # bounds join back, never shuffled
    assert "ntile" not in plan.lower()
    assert plan.count("Window") == 2, plan.count("Window")
    # each Window's own subtree must contain the per-(source, ppl)
    # partial_count aggregate (the distinct-value reduction) BELOW it —
    # i.e. a partial_count appears after the window in the printed tree
    last_window = plan.rindex("Window")
    assert "partial_count" in plan[last_window:], (
        "boundary windows no longer sit above the per-score reduction"
    )


def test_cluster_balanced_sample_narrow_rank_exchange(spark):
    """s_cluster_balanced_sample: the per-cell rank window runs over a
    PROJECTED (cell, id) frame — the exchange must not carry the 64-dim
    embedding vectors — and the kept-id set broadcasts back."""
    from unravelsports_spark.plans import QUERIES

    df = QUERIES["s_cluster_balanced_sample"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the rank window's input exchange must be embedding-free. toString()
    # Exchange lines carry only partitioning keys (r10 review pass 2
    # finding #1: matching them was vacuous) — the FORMATTED explain lists
    # each node's Input columns, so check those.
    fmt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # formatted explain: node-detail blocks "(n) Exchange\nInput [..]:
    # [...]\nArguments: hashpartitioning(...)" separated by blank lines
    checked = 0
    for b in fmt.split("\n\n"):
        head = b.split("\n")[0].rstrip()
        if not head.endswith("Exchange") or "hashpartitioning(cell" not in b:
            continue
        checked += 1
        inp = [l for l in b.split("\n") if l.startswith("Input")]
        assert inp and all("embedding" not in l for l in inp), b
    assert checked >= 1, f"no cell exchange found:\n{fmt[:2000]}"


def test_ann_from_index_partition_and_column_pruning(spark):
    """s_ann_from_index: probed cells prune at the parquet reader
    (PartitionFilters) on the wide scan; the latest-batch ledger scan is
    column-pruned to vec_id + partition columns."""
    plan = plan_of(spark, "s_ann_from_index")
    # a clean assertion failure (not IndexError) when pruning disappears
    # entirely — r10 review pass 2 finding #9
    assert "PartitionFilters" in plan, "no PartitionFilters anywhere in plan"
    tails = [s[:160] for s in plan.split("PartitionFilters")[1:]]
    assert any(
        "cell" in t and (" IN (" in t or "isnotnull(cell" in t) for t in tails
    ), tails
    assert "ReadSchema: struct<vec_id:bigint>" in plan


def test_l_diversity_three_phase_no_expand(spark):
    """a24: value-counts → class-l → histogram, each a map-side-combinable
    two-phase aggregation — no Expand, no window, no join; the corpus
    touches exactly one corpus-sized exchange (on (quasi..., sensitive)),
    the rest are class/histogram-sized."""
    plan = plan_of(spark, "a24_l_diversity")
    assert "Expand" not in plan
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("partial_count") == 3  # one per phase


def test_embedding_dim_stats_fanout_then_combine(spark):
    """s_embedding_dim_stats: the posexplode fan-out (rows × dim) must be
    reduced by a partial aggregate BEFORE its exchange — the shuffle
    carries O(dim × partitions) rows, never the exploded corpus — and the
    scan reads only the embedding column. clearCache first: an earlier
    test's cached embeddings relation substitutes an InMemoryTableScan
    (full schema, vec_id included) for the parquet scan and makes the
    pruning assertions order-dependent (failed in-suite, passed alone)."""
    spark.catalog.clearCache()
    plan = plan_of(spark, "s_embedding_dim_stats")
    assert "Generate posexplode" in plan
    assert "partial_sum" in plan and "partial_min" in plan
    # partial agg sits ABOVE the Generate in the printed tree (map-side)
    assert plan.index("partial_sum") < plan.index("Generate posexplode")
    assert "ReadSchema: struct<embedding:array<float>>" in plan
    assert "vec_id" not in plan  # column pruning through the explode


def test_text_normalize_single_pass_single_exchange(spark):
    """t_text_normalize: suffix concat in Catalyst, exactly ONE Arrow
    MapInPandas pass, md5/length/conv JVM-side in a partial aggregate,
    exactly ONE hash exchange (the per-source combine) — the Python
    boundary is crossed once and the shuffle carries source-sized
    partials, never documents. clearCache: a cached documents relation
    would substitute an InMemoryTableScan for the pruned parquet scan."""
    spark.catalog.clearCache()
    plan = plan_of(spark, "t_text_normalize")
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan  # md5/length sums combine map-side
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan


def test_media_detectors_zero_shuffle_pruned_scan(spark):
    """mm_video_scene_cuts / mm_audio_segments: per-clip detectors are
    pure Arrow map stages and the documents scan is pruned to doc_id only
    — payloads are synthesized and NEVER shuffled. The r14
    widen_narrow_scan parallelism fix may add ONE exchange, but it sits
    BELOW the synth stage and therefore moves only doc_id longs (the
    Exchange's input is the single pruned column, never a payload).
    clearCache: a cached documents relation would mask the pruned scan."""
    import re

    spark.catalog.clearCache()
    # mm_video_scene_cuts was widened in r14 (ONE round-robin exchange of the
    # pruned doc_id column, below the synth stage); mm_audio_segments was
    # measured and deliberately NOT widened — its plan stays exchange-FREE
    # (a second review finding: a shared <=1 cap would silently absorb a
    # regression re-adding an exchange there)
    for name, max_ex in (("mm_video_scene_cuts", 1), ("mm_audio_segments", 0)):
        plan = plan_of(spark, name)
        # plan_of yields the TREE format (executedPlan().toString()), where
        # exchanges print inline as "Exchange <partitioning>(...)" — the
        # earlier "(n) Exchange" block regex matched the EXPLAIN FORMATTED
        # style and was silently vacuous (r14 review finding)
        ex_lines = re.findall(r"\bExchange \w+[^\n]*\n[^\w\n]*([^\n]*)", plan)
        assert len(ex_lines) <= max_ex, (name, ex_lines)
        for child in ex_lines:
            # the one allowed exchange is the widen_narrow_scan round-robin
            # BELOW the synth stage: its child must be the pruned doc_id
            # scan, never a synthesized payload
            assert "payload" not in child and "doc_id#" in child, (name, child)
        assert "ReadSchema: struct<doc_id:bigint>" in plan, name
        assert plan.count("MapInPandas") == 2, name  # synth + detector


def test_boilerplate_strip_no_expand_broadcast_flags(spark):
    """t_boilerplate_strip: the doc-frequency path is distinct-then-count
    (never COUNT(DISTINCT)'s Expand); the per-source totals and the
    template-sized flag table come back as broadcasts, so the flag join
    onto the exploded corpus adds no shuffle. clearCache: a cached
    documents relation would mask the scan shape."""
    spark.catalog.clearCache()
    plan = plan_of(spark, "t_boilerplate_strip")
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_simhash_neardup_co_bucketed_join(spark):
    """d_simhash_neardup: candidates meet ONLY inside (band, key) buckets
    — the self-join must be a shuffled equi-join on those keys, never a
    cartesian/nested-loop — and the hot-bucket cap is a left-anti join
    BEFORE the quadratic step."""
    spark.catalog.clearCache()
    plan = plan_of(spark, "d_simhash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan  # the hot-bucket cap


def test_html_extract_jvm_projection_single_exchange(spark):
    """t_html_extract: the whole extraction chain is JVM-side (ZERO
    Python/Arrow stages — regexp_replace + literal replace inside
    codegen), md5/length partials combine map-side, and exactly ONE hash
    exchange (the per-source combine) moves source-sized partials."""
    spark.catalog.clearCache()
    plan = plan_of(spark, "t_html_extract")
    assert "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan


def test_w8_rank_levels_never_shuffle_rows(spark):
    """w8_rank_distributions (r14): rank/percent_rank/cume_dist are computed
    on the (group, price) LEVEL table — the row-sized side reaches the
    output through a broadcast join and is never exchanged; the only hash
    exchanges carry level partials / levels. Before the rewrite ONE exchange
    funnelled every row onto the 3 l_returnflag reducers."""
    spark.catalog.clearCache()
    plan = plan_of(spark, "w8_rank_distributions")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan  # map-side combine of the level counts
    # every hash-partitioned exchange sits directly on the level
    # aggregation (tree format: the exchange's child line is a
    # HashAggregate over (l_returnflag, l_extendedprice)), never on the
    # row projection carrying l_orderkey — the pre-r14 plan's one exchange
    # funnelled every row onto the 3 l_returnflag reducers
    import re

    ex_children = re.findall(
        r"Exchange hashpartitioning\([^\n]*\n[^\w\n]*([^\n]*)", plan
    )
    assert ex_children, "expected the level-aggregation exchanges in the plan"
    for child in ex_children:
        assert child.startswith("HashAggregate"), child
        assert "l_orderkey" not in child, child


def test_w7_row_index_level_decomposition(spark):
    """w7_row_index (r14): the global row_number runs as per-acctbal-level
    offsets (bounded-domain level table through the single-reducer window)
    plus a PARALLEL per-level row_number — no partition-less Window over the
    row table."""
    spark.catalog.clearCache()
    plan = plan_of(spark, "w7_row_index")
    import re

    # the SinglePartition exchange (feeding the global level window) must
    # exist AND sit on the per-acctbal count aggregate (tree format: its
    # child line is the level HashAggregate), never on supplier rows
    sp_children = re.findall(
        r"Exchange SinglePartition[^\n]*\n[^\w\n]*([^\n]*)", plan
    )
    assert sp_children, "expected the SinglePartition level-window Exchange"
    for child in sp_children:
        assert child.startswith("HashAggregate"), child
        assert "s_name" not in child and "s_suppkey" not in child, child
    # the row-sized window is keyed by the level value → parallel
    assert "windowspecdefinition(s_acctbal" in plan


def test_pagerank_lpa_edge_cache_never_reshuffles_above_broadcast_cap(spark, monkeypatch):
    """VERDICT r14 #8: the pagerank/LPA r14 claim — the persisted edge
    table's pinned hash(src) layout removes the per-iteration edge shuffle
    — was only plan-proven at sf0.01 where AQE broadcasts the node side.
    Force every join above the broadcast cap and assert the claim holds in
    the non-broadcast regime: across the unrolled iterations, NO exchange
    ever sits directly on a cached table scan (the edge cache is consumed
    in its persisted layout; only derived tables may move), and the
    iteration joins really plan as non-broadcast joins. kcore_peel shares
    the edge table; its per-round degree plans are the frames it hands to
    _materialize, captured here."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators import components
    from unravelsports_spark.operators.components import (
        kcore_peel,
        label_propagation,
        pagerank,
    )

    def cache_scans_under_exchange(df):
        """Structurally walk the physical plan (InMemoryTableScan is a LEAF
        of the object tree — the textual dump inlines cache REPLAY plans,
        which a regex would falsely match): count cached-table scans whose
        nearest shuffling ancestor reshuffles them through unary operators
        only (sort/project/filter), i.e. the cache layout did NOT satisfy
        the consumer and the whole cached table moved."""
        root = df._jdf.queryExecution().executedPlan()
        bad = []

        def step_in(node):
            # AQE wraps the plan in a childless AdaptiveSparkPlanExec —
            # descend into initialPlan (inputPlan predates EnsureRequirements
            # and contains NO exchanges at all; using it made this walk
            # vacuous during development — verified against the pre-r14
            # plain-distinct layout, which initialPlan flags with 2 scans)
            if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                return node.initialPlan()
            return node

        def leaf_through_unaries(node):
            node = step_in(node)
            while node.children().size() == 1:
                node = step_in(node.children().apply(0))
            return node

        def walk(node):
            node = step_in(node)
            name = node.getClass().getSimpleName()
            if name == "ShuffleExchangeExec":
                leaf = leaf_through_unaries(node.children().apply(0))
                if leaf.getClass().getSimpleName() == "InMemoryTableScanExec":
                    bad.append(leaf.simpleString(200))
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(root)
        return bad

    pairs = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(1, 200)], "id_a long, id_b long"
    ).filter("id_a != id_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    rounds = []
    materialize = components._materialize
    monkeypatch.setattr(
        components,
        "_materialize",
        lambda df, reliable: rounds.append(df) or materialize(df, reliable),
    )
    try:
        kcore_peel(pairs, k=2, rounds=2).collect()
        assert len(rounds) == 3
        for df in (pagerank(pairs, iters=2), label_propagation(pairs, iters=2), *rounds):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
            if df is not rounds[0]:  # round 0 aggregates the edge table alone
                assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            assert "InMemoryTableScan" in plan  # the caches are actually used
            # a cached table re-shuffled wholesale would be the
            # per-iteration edge/degree re-shuffle the r14 layout removed
            # (non-vacuity: the pre-r14 plain-distinct layout yields 3 such
            # scans on this exact pair set — see OPTIMIZATION_r15.md)
            bad = cache_scans_under_exchange(df)
            assert not bad, bad
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        release_tracked()


def test_sequence_packing_two_level_prefix_sum(spark):
    """t_sequence_packing (r14): the per-source cumsum runs as the two-level
    prefix sum — the corpus window is clustered by (source, _pkb) range
    buckets (n_ranges × sources parallel partitions), not by the handful of
    sources alone; the offset join is broadcast."""
    spark.catalog.clearCache()
    plan = plan_of(spark, "t_sequence_packing")
    assert "hashpartitioning(source#" in plan
    assert "_pkb" in plan
    assert "BroadcastHashJoin" in plan


@pytest.fixture(scope="module")
def one_read_stages(spark, tmp_path_factory):
    """The model stages that aggregate over their own input, each built
    over a tracking table written to parquet."""
    from unravelsports_spark.datasets.bdb import BigDataBowlDataset
    from unravelsports_spark.datasets.synthetic import (
        AWAY,
        HOME,
        synthetic_bdb_csvs,
        synthetic_tracking_pandas,
    )
    from unravelsports_spark.datasets.tracking import TrackingDataset
    from unravelsports_spark.models.af_graph_converter import AmericanFootballGraphConverter
    from unravelsports_spark.models.efpi import EFPI
    from unravelsports_spark.models.graph_converter import SoccerGraphConverter
    from unravelsports_spark.operators.melt import TrackedObject
    from unravelsports_spark.settings import DefaultSettings, GraphSettings

    root = tmp_path_factory.mktemp("one_read")
    long = synthetic_tracking_pandas(n_frames=20, seed=1)
    spark.createDataFrame(long).write.parquet(str(root / "tracking"))
    coords = long.pivot_table(
        index=["period_id", "timestamp", "frame_id"], columns="id", values=["x", "y", "z"]
    )
    wide = coords.set_axis([f"{oid}_{axis}" for axis, oid in coords.columns], axis=1).reset_index()
    wide["ball_state"] = "alive"
    wide["ball_owning_team_id"] = None
    wide.astype({"ball_owning_team_id": "string"}).to_parquet(root / "wide.parquet")
    objects = [
        TrackedObject(r.id, r.team_id, r.position_name)
        for r in long.drop_duplicates("id").itertuples()
    ]
    synthetic_bdb_csvs(str(root / "bdb"))
    bdb = BigDataBowlDataset(*(str(root / "bdb" / f"bdb_{t}-1.csv")
                               for t in ("coords", "players", "plays")))
    bdb.load(spark)
    bdb.add_dummy_labels()
    bdb.add_graph_ids()
    bdb.data.write.parquet(str(root / "af"))

    def tracking():
        return spark.read.parquet(str(root / "tracking"))

    def settings():
        return DefaultSettings(home_team_id=HOME, away_team_id=AWAY)

    return {
        **{
            f"efpi_{every}": lambda every=every: EFPI(tracking(), settings()).fit(every=every).output
            for every in ("possession", "period", "2s")
        },
        "goalkeepers": lambda: TrackingDataset.load_wide(
            spark.read.parquet(str(root / "wide.parquet")), objects, settings(),
            infer_goalkeepers_flag=True,
        ).data,
        "graphs_pad": lambda: SoccerGraphConverter(
            tracking(), GraphSettings(home_team_id=HOME, away_team_id=AWAY), pad=True
        ).to_graph_frames(),
        "af_graphs": lambda: AmericanFootballGraphConverter(
            spark.read.parquet(str(root / "af")), bdb.settings
        ).to_graph_frames(),
    }


@pytest.mark.parametrize(
    "stage", ["efpi_possession", "efpi_period", "efpi_2s", "goalkeepers", "graphs_pad", "af_graphs"]
)
def test_model_stage_reads_its_input_once(one_read_stages, stage):
    """EFPI segmentation, goalkeeper inference, graph padding and the AF
    validity filter are window passes over their input: the executed plan
    scans the table once, joins nothing and needs no dynamic pruning, and
    goalkeeper inference runs the smoothing kernel once."""
    df = one_read_stages[stage]()
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    assert "dynamicpruning" not in plan, plan
    if stage == "goalkeepers":
        assert plan.count("FlatMapGroupsInPandas") == 1, plan
