#!/usr/bin/env python
"""Regenerate PLANS.md: trimmed `explain('formatted')` trees + scan pushdown
details for the headline queries. Run: python tools/gen_plans.py > PLANS.md
(at sf0.1 via $SPARK_GRAFT_SF_DIR). The asserted plan properties live in
tests/test_plan_quality.py; this file is the human-readable evidence."""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unravelsports_spark.plans import QUERIES  # noqa: E402
from unravelsports_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

NOTES = {
    "q1_pricing_summary": "filter reaches the scan (PushedFilters), partial+final hash agg, 6-column ReadSchema from an 11-column table.",
    "j5_enrich_revenue": "both dimension joins are BroadcastHashJoin (no shuffle of the fact side); p_size filter pushed into the part scan; revenue multiplies in exact bigint units, DECIMAL(38,0) only at the sum input.",
    "j2_agg_back_join": "partial agg before the shuffle; the agg-back join shuffles once on the shared key.",
    "a4_argmin_in_group": "min(struct) argmin: partial_min map-side, so the exchange carries one row per group (the window form shuffled every line item). Struct buffers force SortAggregate - the sorts are group-key-only, within partitions.",
    "w4_sessionize": "single window sort per user partition; lag+cumsum sessionization in one pass.",
    "w5_tumbling_window": "window bucketing is a projection (no extra shuffle beyond the group-by).",
    "o9_explode_tokens": "generator (explode) runs inside whole-stage codegen; pruned 2-column read.",
    "d_lsh_candidate_pairs": "shingle explode fans out to cluster parallelism when the scan under-partitions; minhash is one partial-min-combinable hash agg; the self-join meets only inside (band, key) buckets. The signature table is persisted, so both join sides read one InMemoryRelation and the shingle->minhash lineage (the pipeline's most expensive stage) executes once.",
    "t_repetition_stats": "both repetition signals are per-row aggregate folds - one projection + one grouped agg, no extra shuffle, no UDF.",
    "d_contamination": "benchmark shingle set broadcasts (BroadcastHashJoin LeftSemi); the corpus side streams through once.",
    "s_ann_lsh": "corpus signature projection + bucket filter + TakeOrderedAndProject - no global sort, no join.",
    "mm_decode_real": "PNG encode/decode are Arrow-batched mapInPandas stages between pruned scans; the aggregate never touches the payload column.",
    "t_tfidf_terms": "explode + two map-side-combinable aggs; corpus document count N rides as a broadcast 1-row aggregate, no SortMergeJoin anywhere.",
    "t_vocab_top100": "partial HashAggregate then TakeOrderedAndProject: per-partition k-heaps, no global sort at any scale.",
    "t_domain_mixture": "per-domain rates are tiny broadcast dims; the corpus-side keep-filter evaluates in whole-stage codegen; no SortMergeJoin.",
    "s_kmeans_assign": "literal-centroid assignment is a pure projection (zero shuffles); the only exchange is the per-cell stats group-by with partial aggregation.",
    "a13_rollup": "grouping-set hierarchy via one Expand + one aggregation: subtotals and grand total in a single shuffle.",
    "a12_corr_exact": "correlation from DECIMAL sufficient statistics: map-side-combinable exact sums, closed form evaluated on one row per group.",
    "w9_interpolate_gaps": "gap repair: two IGNORE-NULLS window passes share a single sort per series key; interpolation is pure projection arithmetic.",
    "q1_pricing_summary": "two-phase exact money aggregation: per-row work is pure long arithmetic in a (partition_id, group) pre-agg (whole-stage codegen, overflow-safe partials), DECIMAL(38,0) touches only the tiny partial table; filter pushed to scan.",
    "t_bm25_topk": "r8 rewrite of the round-4 wide plan: ZERO explode, ZERO corpus shuffle, ZERO interpreted HOFs - per-doc (dl, tf_i) via codegen regexp_count over one hoisted union-pattern match string, cached (n_docs x (|Q|+2) ints); the 1-row stats agg collects at plan-build time and inlines as literals, so the executed plan is cache-scan -> filter -> projection -> TakeOrderedAndProject with NO broadcast exchange.",
    "d_dup_spans": "span fingerprints exploded once; duplication counts via one count-window over the fp partitioning (single shuffle, no agg+join-back double compute); per-source rollup is a broadcast join to the pruned documents scan.",
    "d_semdedup_multitable": "four sign-LSH tables via one broadcast plane join + one grouped agg; candidates meet only inside (table, bucket); persisted key table feeds both self-join sides; cosine verify runs on candidates only.",
    "t_dsir_scores": "single tokenize pass into a persisted (doc, bucket, n) aggregate; the <=1024-row log-ratio table broadcasts back; per-doc scores are exact BIGINT sums (integer micro-nats) - no Generate at top level, no SortMergeJoin.",
    "t_nb_confusion": "train AND inference in one plan: class x bucket grid (<=5k rows) built from the same cached token aggregate with the class prior riding on the grid rows (single broadcast exchange, r5); argmax is a combinable min_by, no per-doc window; corpus tokenized once.",
    "t_shard_manifest": "two-level distributed prefix sum: fixed-boundary range buckets partition the corpus window (no single-reducer global sort); the P-row bucket totals are collected once and the prefix-summed offsets return as a literal map projection (r5: no offsets broadcast join); shard ids are exact integer arithmetic.",
    "d_bloom_decontamination": "relational Bloom bitmap (bit_or aggregation, m/32 rows) broadcasts; k double-hash probes prune corpus shingles before the exact confirm join - same oracle as d_contamination, certifying losslessness.",
    "s_ann_pq": "PQ encode + ADC rank: pure projection against literal integer centroids ending in TakeOrderedAndProject - zero joins, zero shuffles, corpus read once.",
    "s_ann_ivfpq": "coarse-cell probe filter evaluates in the scan's codegen stage (partition pruning with a cell-partitioned layout); ADC ranks only probed candidates - projection + filter + TakeOrderedAndProject.",
    "t_prep_to_shards_e2e": "dedup window (fingerprint partition) -> quality/langid projections -> skey-range packing window: two inherent corpus shuffles on different keys, everything else map-side; the narrow (id, skey, n_tokens, bucket) projection is persisted once so the offsets pass does not recompute the dedup chain (r5).",
    "d_jaccard_top_pairs": "inverted-index join with the df > cap hot-shingle anti-join (one combinable count agg + broadcast, r5 - no sort-based count window); the capped shingle table is persisted once for its three consumers (sizes + both self-join sides).",
    "d_minhash_signatures": "one shingle pass into 32 partial-min-combinable minhash aggregates; the signature table is the persisted artifact every LSH consumer reads.",
    "d_cluster_keep_best": "large-star/small-star connected components over the LSH pair graph, then one min_by struct argmax per cluster - no window, no all-pairs.",
    "t_corpus_prep_e2e": "dedup fingerprint window -> quality/langid projections in one codegen stage; one corpus shuffle total.",
    "d_semdedup_lsh": "sign-LSH bucket self-join on the persisted bucketed-vector table; candidates meet only inside buckets; cosine verify on candidates only.",
    "s_ann_ivfpq_residual": "residual encoding against literal coarse+PQ codebooks with per-cell ADC tables - still a single projection + filter + TakeOrderedAndProject, zero joins.",
    "t_hybrid_rrf": "r8: BM25 side is the literal-stats wide plan (no broadcast), the dense side one Arrow cosine pass; BOTH rankers end in TakeOrderedAndProject and every row_number window sits on a limit-bounded <=20-row list; the fusion full-outer join touches only the two lists. 5 jobs total (qrow collect + 2-job stats agg + 2-job fused collect).",
    "t_ngram_novelty": "r7 shingle-df novelty: NO posting-list join-back - uniqueness collapses inside one map-side-combinable (count, min doc_id) aggregate per shingle; the source rollup joins two |docs|-sized frames via BroadcastHashJoin, zero SortMergeJoin.",
    "d_label_communities": "r7 synchronous label propagation: per round one co-partitioned hash join (symmetric edges pinned on src x labels on src; dst is the voter) + two combinable aggs (vote counts, per-node max_by argmax - no window over the corpus); deterministic lowest-label ties certify 3 unrolled iterations exactly.",
    "d_cdc_chunks": "r9 two-phase rollup: boundary hashes, filter, and start/stop pairing stay doc-bounded array arithmetic in ONE projection; chunks then group by (source, chunk_hash) - duplicates collapse map-side before the wire - and per-source counts read off the deduplicated table (the old multi-COUNT(DISTINCT) Expand pushed every chunk row through the aggregate three times); the 20-row per-source doc count inlines as a literal map.",
    "d_containment_top_pairs": "r7 asymmetric containment: the shingle inverted-index self-join aggregates ONCE per unordered pair; both directions explode out of that single frame (no union double-execution); size denominators join on the src id; top-k is a TakeOrderedAndProject heap.",
    "d_kcore_peeling": "r7 k-core: the symmetric edge table is persisted once, hash-pinned on src; the loop carries only the node-sized live set. Per round one degree agg over edges semi-joined to the live set on both endpoints, materialized as the next live set; an observation on the degree frame reads (n_nodes, n_edges) in that same job, so the query itself is the literal curve below.",
    "q3_shipping_priority": "TPC-H Q3 shape: segment/date predicates at all three parquet scans, two BroadcastHashJoins at this SF (plain shuffle joins under AQE at scale), top-10 via TakeOrderedAndProject - no global sort; revenue in exact cent x basis-point int64 units.",
    "q5_local_supplier_volume": "TPC-H Q5 shape: nation/region broadcast through supplier BEFORE the fact join (only region-local suppliers shuffle); the c_nationkey = s_nationkey correlation is a join predicate, not a post-join filter; two-phase _pid revenue sum keeps int64 codegen on rows, DECIMAL(38,0) on partials.",
    "a20_retention_cohorts": "retention matrix: per-user MIN is map-side combinable; the agg-back join and both aggs share the user_id hash partitioning; distinct-count expansion bounded by users x active weeks.",
    "a21_ordered_funnel": "ordered funnel: three chained window MIN aggregates share ONE user_id Exchange (the in-partition window sorts are group-key-only); the stage counts collapse to a 1-row agg + 3-row inline stack.",
    "w12_sliding_distinct_users": "sliding distinct: (user, day) reduction first (the only big shuffle), then a bounded 7x date explode replaces the range self-join; the observed-days semi-join broadcasts.",
    "q18_large_volume_customer": "TPC-H Q18 shape: the per-order quantity agg combines map-side and its HAVING prunes to ~0.2% of orders BEFORE the orders/customer joins; exact cent-scaled threshold; top-100 via TakeOrderedAndProject.",
    "d_cross_source_overlap": "cross-source duplication matrix: one persisted (source, fp) distinct feeds sizes and both self-join sides; posting lists bounded by #sources, size denominators broadcast.",
    "mm_image_dhash_dedup": "image dHash dedup: synth + decode + hash are two Arrow passes over the binary column; the dedup itself is one combinable groupBy on the 64-bit key - no joins, no windows.",
    "s_ann_recall": "r9 restructure: ONE Arrow pass emits per-(vector, query) cosine WITH the vector's nearest-centroid cell (argmax inside the batch - no cells aggregate, no retrieval join); probe membership is a literal map; exact rank and both probe-depth ranks are running conditional counts over the SAME qid window, all nine counts in one single-row agg - two exchanges end-to-end (the r8 plan had five plus three persisted intermediates). The IVF-PQ branch keeps its persisted one-time int-grid quantization.",
    "q6_forecast_revenue": "TPC-H Q6 shape: every predicate (shipdate range, discount band, quantity cap) pushed to the parquet scan over a 4-column ReadSchema; one partial/final agg pair, single-row exchange - no join, no window; revenue in exact cent x basis-point int64 units.",
    "o16_frequent_part_pairs": "market-basket pairs: (txn, item) distinct combines map-side; the max-basket skew cap is a semi filter BEFORE the self-join (one malformed basket cannot emit k^2/2 rows); the pair join meets on the transaction key; top-20 via TakeOrderedAndProject.",
    "w14_daily_anomalies": "rolling z-score: the event log reduces to per-(key, day) counts FIRST (partial+final agg), then ONE bounded rows-frame window over that tiny table - two exchanges total, scan reads only (ts, event_type).",
    "a23_k_anonymity": "r10 privacy audit: two map-side-combinable aggregations (quasi classes, then the size histogram) - no Expand, no window, no join; the scan reads only the two quasi columns.",
    "t_ppl_bucket_sample": "r10 CCNet bucketing: tercile boundaries come from a combinable (source, score) count plus two windows over the DISTINCT-score frame (never a per-group corpus sort / ntile); the bounds table broadcasts back onto the scored projection; md5 keep-decisions are pure codegen.",
    "s_cluster_balanced_sample": "r10 balanced sampling: nearest-centroid assignment is a literal projection (zero shuffles); the per-cell rank window's exchange carries ONLY (cell, id, hash key) - never the 64-dim vectors (formatted-explain-guarded); the kept-id set broadcasts back onto a re-scanned projection.",
    "s_ann_from_index": "r10 streamed-index search: the probed 3 of 8 cells prune at the parquet reader (PartitionFilters on the cell directory), the latest-batch dedup ledger scan is column-pruned to vec_id + partition columns, and the final cosine ranks via TakeOrderedAndProject over the pruned candidates.",
    "a24_l_diversity": "r11 l-diversity audit: three chained map-side-combinable aggregations (value counts -> class l -> histogram) - no Expand (a COUNT DISTINCT formulation would triple rows through the exchange), no window, no join; exactly one corpus-sized exchange on (quasi..., sensitive).",
    "d_cluster_safe_split": "r11 leakage-safe splits: connected components (large-star/small-star) over the certified LSH pairs, one broadcast-sized left join back to the doc spine, md5(component) split assignment in codegen; the audit is one combinable (component, split) rollup + a components-sized self-check join - the zero-straddle invariant rides INSIDE the certified hash.",
    "s_embedding_dim_stats": "r11 quantizer calibration: one posexplode fan-out reduced by a map-side partial aggregate BEFORE its exchange (the shuffle carries O(dim x partitions) rows, never the exploded corpus); exact int64 on the canonical 2^-20 grid; scan reads only the embedding column.",
    "o17_jsonl_roundtrip": "r11 JSONL boundary: sharded write.json -> schema'd PERMISSIVE read (explicit schema - no inference double-scan) with the corrupt row quarantined by _corrupt_record; the certified rollup excludes it AND counts it exactly once; tiny result materialized so the scratch dir can be removed.",
    "mm_video_scene_cuts": "r11 scene cuts: two Arrow MapInPandas stages (mux, then parse+decode+diff) over a doc_id-only pruned scan - ZERO exchanges; per clip two decoded frames resident; cut positions certified via the closed-form arithmetic-series sum.",
    "mm_audio_segments": "r11 audio segments: two Arrow MapInPandas stages (WAV synth, then decode + vectorized frame-RMS) over a doc_id-only pruned scan - ZERO exchanges; O(samples) per clip; segment starts certified via the burst-arithmetic sum.",
    "t_text_normalize": "r11 unicode canonicalization: suffix concat in Catalyst, ONE Arrow MapInPandas pass (stdlib unicodedata, memoized Cc/Cf table), md5/length/conv JVM-side in a partial aggregate, exactly one hash exchange carrying source-sized partials - the Python boundary is crossed once and documents never shuffle.",
    "t_boilerplate_strip": "r12 boilerplate removal: explode -> distinct-then-count doc frequency (two-phase, no Expand), per-source totals and the template-sized flag table come back as broadcasts (the flag join adds no shuffle), in-order reassembly via collect_list(struct)+array_sort in ONE corpus-sized aggregate.",
    "d_simhash_neardup": "r12 Hamming-LSH mining: one projection fans each 64-bit code into 4 (band, key) rows; the hot-bucket cap is a LEFT ANTI join BEFORE the quadratic step; candidates meet only inside co-bucketed (band, key) partitions (shuffled equi-join, never cartesian), exact bit_count(xor) verifies post-join.",
    "t_html_extract": "r12 markup extraction: the whole strip/decode chain is JVM-side regexp_replace + literal replace inside whole-stage codegen - ZERO Python stages, ZERO shuffles in the extraction itself; one hash exchange carries source-sized md5/length partials; scan pruned to (doc_id, text, source).",
    "t_robots_filter": "r13/r14 RFC 9309 compliance: verdicts per DISTINCT (canonical host, path?query) key - the corpus never fans out against the rule table (keys meet rules inside a domain-keyed join bounded by rules-per-domain, then ONE lexicographic max(struct(octets, allow)) per key); the domain-sized rule side (parse windows, agent-selection joins) broadcasts back onto the corpus join; the whole rule-pattern match chain is codegen'd regexp.",
    "t_frontier_plan": "r13/r14 politeness planning: ONE host-partitioned row_number window + closed-form integer div/mod (no iteration, no driver state); the duplicate-url tripwire's (host, url) count window REUSES the host exchange (hash(host) satisfies the (host, url) clustering requirement - subset clustering, so zero extra shuffles); deterministic priority-then-md5(url) order makes the plan reproducible across retries and repartitionings.",
}


def main() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    print("# PLANS — physical-plan evidence for the headline queries")
    print()
    print("Generated by `python tools/gen_plans.py > PLANS.md` at sf0.1.")
    print("Plan properties are regression-guarded by `tests/test_plan_quality.py`;")
    print("trees are trimmed to the operator pipeline + scan pushdown details.")
    for name in NOTES:
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree, _, details = buf.getvalue().partition("\n\n")
        print(f"\n## {name}\n")
        print(NOTES[name])
        print("\n```")
        print(tree.strip())
        scans = [
            l.strip()[:200]
            for l in details.splitlines()
            if re.search(r"PushedFilters|ReadSchema", l)
        ]
        if scans:
            print("-- scan details --")
            for l in scans:
                print(l)
        print("```")
    spark.stop()


if __name__ == "__main__":
    main()
