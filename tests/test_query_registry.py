"""The query registry in ``unravelsports_spark/plans/__init__.py``: a name
registers once, with at most one oracle, and the registry's content is
pinned, so a query, oracle, headline flag or scale class lost or changed
while moving code between the domain modules fails here. Spark-free."""

import hashlib

import pytest

#: md5 of the sorted ``(name, md5(oracle or ""))`` pairs of every query
MANIFEST_MD5 = "b343cc1d1e62f7416d54f5ec2539f052"

HEADLINE = {
    "q1_pricing_summary", "j2_agg_back_join", "j5_enrich_revenue", "a4_argmin_in_group",
    "w4_sessionize", "w5_tumbling_window", "o9_explode_tokens",
    "d_lsh_candidate_pairs", "d_dup_spans", "d_pagerank", "d_dup_clusters",
    "d_cluster_keep_best", "d_minhash_signatures", "d_jaccard_top_pairs",
    "d_semdedup_multitable", "d_label_communities", "d_cdc_chunks",
    "d_containment_top_pairs", "d_simhash_neardup",
    "s_ann_lsh", "s_ann_recall", "t_bm25_topk", "t_hybrid_rrf",
    "t_bpe_token_stats", "t_tfidf_terms", "t_chunking", "t_dsir_scores",
    "t_nb_confusion", "t_shard_manifest", "t_prep_to_shards_e2e", "t_bpe_merges",
    "t_bpe_tokenized_stats", "t_corpus_prep_e2e", "t_langid_confusion",
    "t_full_pipeline_e2e", "t_ngram_novelty",
}
SCALES = {
    "sf0.01": {
        "a9_approx_distinct", "a15_hll_sketch_union", "s_ann_mllib_brp",
        "d_mllib_minhash_join", "t_unigram_tokens", "t_wordpiece_tokens",
        "m_savgol_events_fp",
    },
    "ln_boundary": {"t_unigram_logprob", "t_bigram_logprob"},
}


def _fn(spark, sf_dir):
    return None


def test_a_name_registers_once_with_one_oracle(monkeypatch):
    from unravelsports_spark.plans import ORACLE_SQL, QUERIES, query

    n = len(QUERIES)
    with pytest.raises(ValueError, match="already registered"):
        query("q1_pricing_summary")
    with pytest.raises(ValueError, match="already registered"):
        query("m_pressing_intensity", "SELECT 1")
    monkeypatch.setitem(ORACLE_SQL, "zz_unregistered", "SELECT 1")
    with pytest.raises(ValueError, match="already has an oracle"):
        query("zz_unregistered", "SELECT 2")
    assert len(QUERIES) == n and "zz_unregistered" not in QUERIES


def test_query_records_oracle_headline_and_scale(monkeypatch):
    from unravelsports_spark import plans

    for name, empty in (("QUERIES", {}), ("ORACLE_SQL", {}), ("HEADLINE", []), ("SCALE", {})):
        monkeypatch.setattr(plans, name, empty)
    plans.query("zz_a", "SELECT 1", headline=True, scale="sf0.01")(_fn)
    plans.query("zz_b")(_fn)
    assert plans.QUERIES == {"zz_a": _fn, "zz_b": _fn}
    assert plans.ORACLE_SQL == {"zz_a": "SELECT 1"}
    assert plans.HEADLINE == ["zz_a"]
    assert plans.SCALE == {"zz_a": "sf0.01", "zz_b": "exact"}
    with pytest.raises(ValueError, match="scale"):
        plans.query("zz_c", "SELECT 1", scale="sf0.1")
    assert "zz_c" not in plans.QUERIES


def test_registry_manifest_pin():
    """Same 210 names and the same 204 oracle texts, byte for byte."""
    from unravelsports_spark.plans import ORACLE_SQL, QUERIES

    pairs = sorted((n, hashlib.md5((ORACLE_SQL.get(n) or "").encode()).hexdigest()) for n in QUERIES)
    assert (len(QUERIES), len(ORACLE_SQL)) == (210, 204)
    assert set(ORACLE_SQL) <= set(QUERIES)
    assert hashlib.md5(repr(pairs).encode()).hexdigest() == MANIFEST_MD5


def test_headline_and_scale_pins():
    from unravelsports_spark.plans import HEADLINE as registered
    from unravelsports_spark.plans import QUERIES, SCALE

    assert registered == [n for n in QUERIES if n in HEADLINE]
    assert set(registered) == HEADLINE
    assert set(SCALE) == set(QUERIES)
    for scale, names in SCALES.items():
        assert {n for n, s in SCALE.items() if s == scale} == names
    assert {n for n, s in SCALE.items() if s != "exact"} == set().union(*SCALES.values())
