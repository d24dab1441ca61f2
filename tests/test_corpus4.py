"""Round-4 data-selection / sharding operators: properties beyond the
oracle hash-match (which tests/test_relational_oracle.py already enforces
for t_dsir_scores / t_nb_confusion / t_shard_manifest)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from unravelsports_spark.cache import release_tracked
from unravelsports_spark.operators.importance import dsir_scores
from unravelsports_spark.operators.nbayes import nb_confusion
from unravelsports_spark.operators.sharding import shard_assignments, shard_manifest
from unravelsports_spark.session import read_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def _release():
    yield
    release_tracked()


def test_dsir_target_slice_scores_higher(spark):
    """In-sample, the target slice must out-score the background on average
    (the target distribution is estimated from those very documents)."""
    docs = read_table(spark, SF, "documents")
    scored = dsir_scores(docs, target=F.col("lang") == "en").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    rows = (
        scored.groupBy(F.col("lang") == "en")
        .agg(F.avg("score_micro").alias("mean_score"))
        .collect()
    )
    means = {r[0]: r["mean_score"] for r in rows}
    assert means[True] > means[False]


def test_dsir_scores_every_tokenized_doc(spark):
    docs = read_table(spark, SF, "documents")
    out = dsir_scores(docs, target=F.col("lang") == "en")
    n_docs_with_tokens = docs.filter(
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))) > 0
    ).count()
    assert out.count() == n_docs_with_tokens


def test_nb_argmax_tiebreak_picks_lowest_label(spark):
    """The combinable min_by argmax must break score ties by label
    ascending (the contract the oracle's ROW_NUMBER ORDER BY encodes).
    Symmetric training data forces an exact tie: two classes whose training
    docs are identical word multisets give bit-identical micro-nat scores
    for any test doc, so every prediction must land on the
    lexicographically smallest class."""
    rows = [
        # train (even ids): class "aa" and class "zz" see the SAME text
        (0, "aa", "alpha beta gamma"),
        (2, "zz", "alpha beta gamma"),
        # held-out (odd ids)
        (1, "aa", "alpha beta"),
        (3, "zz", "gamma alpha"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    conf = nb_confusion(df, label_col="lang").collect()
    assert {r["predicted"] for r in conf} == {"aa"}
    assert sum(r["n_docs"] for r in conf) == 2


def test_nb_null_label_matches_duckdb_oracle(spark):
    """A NULL label in the training half is never a class (it cannot
    equi-join the model grid) but still counts toward the prior's document
    total; a NULL label in the test half is scored like any other document
    and reported as actual NULL — exactly what nb_confusion_sql computes."""
    import duckdb
    import pandas as pd

    from unravelsports_spark.operators.nbayes import nb_confusion_sql

    rows = [
        (0, "en", "the cat sat on the mat"),
        (1, "en", "the dog sat"),
        (2, None, "der hund und die katze"),
        (3, None, "the mat und die katze"),
        (4, "de", "die katze sass auf der matte"),
        (5, "de", "der hund sass"),
        (6, "en", "a cat and a dog"),
        (7, "de", "die matte"),
    ]
    schema = "doc_id long, lang string, text string"
    conf = nb_confusion(spark.createDataFrame(rows, schema), label_col="lang", n_buckets=64)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "lang", "text"]))
    expected = con.execute(nb_confusion_sql("lang", 64)).fetchall()
    con.close()

    def key(r):
        return tuple((v is None, v) for v in r)

    assert sorted(map(tuple, conf.collect()), key=key) == sorted(expected, key=key)
    assert any(r[0] is None for r in expected)  # the NULL test doc is scored


def test_nb_confusion_covers_heldout_half_exactly(spark):
    docs = read_table(spark, SF, "documents")
    conf = nb_confusion(docs, label_col="lang")
    # every held-out doc gets exactly one prediction
    assert conf.agg(F.sum("n_docs")).first()[0] == docs.filter("doc_id % 2 = 1").count()
    # row sums per actual class match the held-out class sizes
    per_class = {
        r["actual"]: r["n"]
        for r in conf.groupBy("actual").agg(F.sum("n_docs").alias("n")).collect()
    }
    expected = {
        r["lang"]: r["n"]
        for r in docs.filter("doc_id % 2 = 1")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_class == expected


def test_shard_two_level_prefix_sum_equals_naive(spark):
    """The algebra behind the scale-out plan: the n_ranges decomposition must
    be invariant — 1 range (the naive single cumsum) and 64 ranges produce
    identical per-document shard assignments."""
    docs = read_table(spark, SF, "documents")
    a1 = shard_assignments(docs, budget=4096, n_ranges=1).orderBy("doc_id").collect()
    a64 = shard_assignments(docs, budget=4096, n_ranges=64).orderBy("doc_id").collect()
    assert a1 == a64


def test_shard_precompute_equals_text_path(spark):
    """r15: shard_precompute attaches the packer's (skey, n_tokens) as
    per-row columns so upstream shuffles can drop text; shard_assignments
    consuming those columns must reproduce the text-path assignments
    exactly — including whitespace-heavy and duplicate-normalizing texts."""
    from unravelsports_spark.operators.sharding import shard_precompute

    rows = [
        (1, "  alpha   beta\tgamma  "),
        (2, "alpha beta gamma"),
        (3, "one"),
        (4, " x " * 50),
        (5, ""),
        (6, "alpha beta gamma delta epsilon " * 7),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    via_text = shard_assignments(df, budget=20, n_ranges=4).orderBy("doc_id").collect()
    via_pre = (
        shard_assignments(shard_precompute(df), budget=20, n_ranges=4)
        .orderBy("doc_id")
        .collect()
    )
    assert via_text == via_pre


def test_shard_manifest_packs_to_budget(spark):
    docs = read_table(spark, SF, "documents")
    budget = 4096
    m = shard_manifest(docs, budget=budget).orderBy("shard_id").collect()
    max_doc = docs.select(
        F.max(F.size(F.split(F.trim("text"), r"\s+")))
    ).first()[0]
    # shard ids are contiguous from 0
    assert [r["shard_id"] for r in m] == list(range(len(m)))
    # token conservation
    assert sum(r["shard_tokens"] for r in m) == docs.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).first()[0]
    # every shard but the last is filled to at least budget - (max doc - 1):
    # a doc starting below the boundary lands in the shard, so underfill is
    # bounded by the largest document
    for r in m[:-1]:
        assert r["shard_tokens"] >= budget - max_doc + 1
        assert r["shard_tokens"] <= budget + max_doc - 1


def test_shard_window_is_partitioned(spark):
    """The corpus-sized window must carry a partition spec (the fixed-range
    bucket) — a no-partition window over the corpus is the single-reducer
    scale-killer this operator exists to avoid."""
    docs = read_table(spark, SF, "documents")
    plan = shard_assignments(docs, budget=4096)._jdf.queryExecution().executedPlan().toString()
    windows = [ln.strip() for ln in plan.splitlines() if "Window " in ln]
    assert windows, plan
    for ln in windows:
        if "bucket_tokens" in ln:
            continue  # the P-row offset window is allowed to be global
        assert "partitionBy=[bucket]" in ln or "bucket#" in ln.split("],")[-2], ln


def test_bloom_decontamination_lossless_even_with_tiny_filter(spark):
    """The Bloom pre-filter must be lossless for ANY (m_bits, k): a 256-bit
    filter has a massive false-positive rate, yet the exact confirm join
    must still reproduce the plain screen's answer exactly."""
    from unravelsports_spark.operators.bloom import bloom_contaminated_docs
    from unravelsports_spark.operators.filtering import contaminated_docs

    docs = read_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    exact = sorted(r[0] for r in contaminated_docs(corpus, bench, n=5).collect())
    bloomed = sorted(
        r[0]
        for r in bloom_contaminated_docs(
            corpus, bench, n=5, m_bits=256, k=3
        ).collect()
    )
    assert bloomed == exact


def test_bloom_bitmap_is_broadcast_and_corpus_never_builds(spark):
    from unravelsports_spark.plans import QUERIES

    plan = (
        QUERIES["d_bloom_decontamination"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pq_lloyd_reduces_quantization_error(spark):
    """Two integer Lloyd rounds must beat the raw seed codebook on total
    quantization error (the k-means objective, computed exactly in int64)."""
    import numpy as np

    from unravelsports_spark.operators.pq import Q, pq_train_codebook

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    X = np.floor(np.stack(pdf["embedding"].values).astype(np.float64) * Q).astype(
        np.int64
    )

    def qerr(cb):
        err = 0
        for m in range(4):
            sub = X[:, m * 16 : (m + 1) * 16]
            C = np.array(cb[m])
            err += ((sub[:, None, :] - C[None, :, :]) ** 2).sum(2).min(1).sum()
        return err

    e0 = qerr(pq_train_codebook(emb, n_rounds=0))
    e2 = qerr(pq_train_codebook(emb, n_rounds=2))
    assert e2 < e0


def test_pq_recall_beats_random(spark):
    """ADC top-20 must overlap the exact top-20 far above chance (20/500 =
    4% for random picks; measured 30% on this corpus — floor at 15%)."""
    import numpy as np

    from unravelsports_spark.plans import QUERIES

    pdf = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    X = np.stack(pdf["embedding"].values).astype(np.float64)
    ids = pdf["vec_id"].values
    q = X[np.argmin(ids)]
    exact = set(ids[np.argsort(((X - q) ** 2).sum(1), kind="stable")[:20]].tolist())
    got = {r["vec_id"] for r in QUERIES["s_ann_pq"](spark, SF).collect()}
    assert len(got & exact) / 20 >= 0.15


def test_pq_adc_scan_is_projection_only(spark):
    """Encoding + ADC ranking must be a pure projection over one corpus scan
    ending in TakeOrderedAndProject — no join, no shuffle, no Python."""
    from unravelsports_spark.plans import QUERIES

    plan = (
        QUERIES["s_ann_pq"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    for bad in ["Join", "Exchange", "BatchEvalPython"]:
        assert bad not in plan, bad


def test_ivfpq_consistent_with_full_pq_on_probed_cells(spark):
    """IVF-PQ must rank exactly like the full PQ ADC scan restricted to the
    probed cells (pruning changes the candidate set, never the order), and
    the probe must actually prune (candidates < corpus)."""
    import math

    import pyspark.sql.functions as F

    from unravelsports_spark.operators.pq import (
        Q,
        pq_adc_topk,
        pq_ivf_adc_topk,
        pq_train_codebook,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    coarse = pq_train_codebook(emb, m_subspaces=1, k=8, n_rounds=1)
    cb = pq_train_codebook(emb, m_subspaces=4, k=16, n_rounds=2)
    q = [
        int(math.floor(float(v) * Q))
        for v in emb.orderBy("vec_id").limit(1).first()["embedding"]
    ]
    ivf = pq_ivf_adc_topk(emb, coarse, cb, q, n_probe=2, top=10)
    probed_ids = {r["vec_id"] for r in ivf.select("vec_id").collect()}
    n_corpus = emb.count()
    # full ADC over everything, then keep only ivf candidates' cells
    full = pq_adc_topk(emb, cb, q, top=n_corpus)
    full_rank = {r["vec_id"]: r["adc_dist"] for r in full.collect()}
    ivf_rows = ivf.collect()
    # same adc values as the full scan
    for r in ivf_rows:
        assert full_rank[r["vec_id"]] == r["adc_dist"]
    # pruning is real: the probed candidate pool is smaller than the corpus
    cells = pq_ivf_adc_topk(emb, coarse, cb, q, n_probe=2, top=n_corpus)
    assert cells.count() < n_corpus


def test_ivfpq_scan_is_projection_only(spark):
    from unravelsports_spark.plans import QUERIES

    plan = (
        QUERIES["s_ann_ivfpq"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    for bad in ["Join", "Exchange", "BatchEvalPython"]:
        assert bad not in plan, bad


def test_dsir_select_keeps_about_the_target_fraction(spark):
    """Histogram-threshold selection keeps ~keep_frac of the raw pool
    (within one score bucket of exact-p) and only scores above everything
    it rejects."""
    from unravelsports_spark.operators.importance import dsir_scores, dsir_select

    docs = read_table(spark, SF, "documents")
    sel = dsir_select(docs, target=F.col("lang") == "en", keep_frac=0.2).collect()
    n_sel = sum(r["n_selected"] for r in sel)
    n_raw = docs.filter("lang <> 'en'").count()
    assert 0.15 * n_raw <= n_sel <= 0.35 * n_raw
    assert all(r["label"] != "en" for r in sel)
    # selection is top-of-distribution: the kept minimum beats the raw median
    scores = dsir_scores(docs, target=F.col("lang") == "en").join(
        docs.select("doc_id", "lang"), "doc_id"
    ).filter("lang <> 'en'")
    median = scores.approxQuantile("score_micro", [0.5], 0.0)[0]
    assert min(r["min_score"] for r in sel) > median


def test_shard_invariance_property(spark):
    """Property check over random corpora: for ANY documents (duplicates,
    empties, budget-sized docs), budget, and fan-out, the two-level prefix
    sum equals the naive pack and conserves every token."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        docs=st.lists(
            st.integers(min_value=0, max_value=12),  # tokens per doc
            min_size=1,
            max_size=40,
        ),
        budget=st.integers(min_value=3, max_value=20),
        n_ranges=st.sampled_from([1, 3, 16]),
    )
    def check(docs, budget, n_ranges):
        rows = [
            (i, " ".join(f"t{j}" for j in range(n)) if n else "x")
            for i, n in enumerate(docs)
        ]
        # duplicate text collisions on skey are intended: tie-break is doc_id
        rows += [(1000 + i, t) for i, (_, t) in enumerate(rows[: len(rows) // 2])]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        a = shard_assignments(df, budget=budget, n_ranges=n_ranges).collect()
        naive = shard_assignments(df, budget=budget, n_ranges=1).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, naive))
        total = sum(r["n_tokens"] for r in a)
        assert total == sum(
            len(t.split()) for _, t in rows
        )
        assert all(0 <= r["shard_id"] <= (total - 1) // budget for r in a)

    check()


def test_residual_pq_quantizes_better_than_global(spark):
    """The point of residual encoding (FAISS IVFPQ): after subtracting the
    coarse centroid, the same M×k codebook budget quantizes the corpus with
    strictly less total squared error than PQ on raw vectors."""
    import numpy as np

    from unravelsports_spark.operators.pq import (
        Q,
        pq_train_codebook,
        pq_train_residual_codebook,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    X = np.floor(np.stack(pdf["embedding"].values).astype(np.float64) * Q).astype(
        np.int64
    )
    coarse = pq_train_codebook(emb, m_subspaces=1, k=8, n_rounds=1)
    C = np.array(coarse[0])
    cells = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2).argmin(1)
    R = X - C[cells]

    def qerr(cb, data):
        err = 0
        for m in range(4):
            sub = data[:, m * 16 : (m + 1) * 16]
            K = np.array(cb[m])
            err += ((sub[:, None, :] - K[None, :, :]) ** 2).sum(2).min(1).sum()
        return err

    global_cb = pq_train_codebook(emb, m_subspaces=4, k=16, n_rounds=2)
    residual_cb = pq_train_residual_codebook(emb, coarse, m_subspaces=4, k=16, n_rounds=2)
    assert qerr(residual_cb, R) < qerr(global_cb, X)


def test_corpus_kl_detects_injected_drift(spark):
    """Smoothed KL is ~0 on an arbitrary split of a homogeneous corpus and
    must grow when real drift is injected (target docs get an extra token
    vocabulary); values stay non-negative."""
    from unravelsports_spark.operators.importance import corpus_kl

    docs = read_table(spark, SF, "documents")
    base = corpus_kl(docs, target=F.col("doc_id") % 2 == 0).first()
    assert 0 < base["n_buckets_observed"] <= 1024
    assert base["kl_tr_micro"] >= 0 and base["kl_rt_micro"] >= 0

    drifted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" zzzdrift zzzdrift zzzdrift")),
        ).otherwise(F.col("text")),
    )
    shifted = corpus_kl(drifted, target=F.col("doc_id") % 2 == 0).first()
    assert shifted["kl_tr_micro"] > base["kl_tr_micro"]


def test_bloom_lossless_property_over_random_params(spark):
    """Hypothesis sweep: losslessness must hold for ANY (m_bits, k) — the
    exact-confirm join makes Bloom parameters a pure performance knob."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from unravelsports_spark.operators.bloom import bloom_contaminated_docs
    from unravelsports_spark.operators.filtering import contaminated_docs

    docs = read_table(spark, SF, "documents").limit(120).cache()
    docs.count()
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    corpus = docs.filter(F.col("doc_id") % 11 != 0)
    exact = sorted(r[0] for r in contaminated_docs(corpus, bench, n=4).collect())

    @settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(
        m_bits=st.sampled_from([64, 512, 4096, 1 << 16]),
        k=st.integers(min_value=1, max_value=7),
    )
    def check(m_bits, k):
        got = sorted(
            r[0]
            for r in bloom_contaminated_docs(
                corpus, bench, n=4, m_bits=m_bits, k=k
            ).collect()
        )
        assert got == exact

    check()
    docs.unpersist()


def test_dsir_score_conservation_identity(spark):
    """Exact integer invariant: the per-document scores must decompose back
    to the bucket-level identity Σ_docs score = Σ_b (c_t(b)+c_r(b))·Δ(b) —
    any drift in the join/agg plumbing breaks this equality exactly."""
    from unravelsports_spark.operators.importance import (
        MICRO,
        doc_bucket_counts,
        dsir_scores,
    )

    docs = read_table(spark, SF, "documents")
    target = F.col("lang") == "en"
    total_from_docs = (
        dsir_scores(docs, target=target).agg(F.sum("score_micro")).first()[0]
    )
    dbc = doc_bucket_counts(docs, target)
    stats = dbc.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(F.lit(0))).alias("c_t"),
        F.sum(F.when(~F.col("is_target"), F.col("n")).otherwise(F.lit(0))).alias("c_r"),
    )
    from pyspark.sql import Window

    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    b = F.lit(1024.0)
    delta = (
        F.round(F.log((F.col("c_t") + F.lit(1.0)) / (F.sum("c_t").over(w) + b)) * MICRO)
        - F.round(F.log((F.col("c_r") + F.lit(1.0)) / (F.sum("c_r").over(w) + b)) * MICRO)
    ).cast("bigint")
    total_from_buckets = (
        stats.select(((F.col("c_t") + F.col("c_r")) * delta).alias("t"))
        .agg(F.sum("t"))
        .first()[0]
    )
    assert total_from_docs == total_from_buckets


def test_partition_count_invariance_of_exact_operators(spark):
    """SCALING.md's core claim, asserted directly: the integer-exact
    operators return IDENTICAL rows whether the corpus arrives as 1
    partition or 32 — partition count (and therefore cluster size) can
    never change an answer."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators.importance import corpus_kl, dsir_scores
    from unravelsports_spark.operators.nbayes import nb_confusion
    from unravelsports_spark.operators.sharding import shard_manifest

    docs = read_table(spark, SF, "documents")
    for make in (
        lambda d: dsir_scores(d, target=F.col("lang") == "en").orderBy("doc_id"),
        lambda d: corpus_kl(d, target=F.col("lang") == "en"),
        lambda d: nb_confusion(d, label_col="lang").orderBy("actual", "predicted"),
        lambda d: shard_manifest(d, budget=4096).orderBy("shard_id"),
    ):
        narrow = make(docs.coalesce(1)).collect()
        release_tracked()
        wide = make(docs.repartition(32, "doc_id")).collect()
        release_tracked()
        assert narrow == wide


def test_partition_count_invariance_of_two_phase_money_aggs(spark):
    """q1/j5 pre-aggregate on spark_partition_id before the exact decimal
    sum — the partial split must never change the answer. Varying the scan
    split size changes the partition count (and thus every _pid), so the
    collected rows must stay bit-identical."""
    import struct

    from unravelsports_spark.plans import QUERIES

    def rows(name):
        df = QUERIES[name](spark, SF)
        out = []
        for r in sorted(map(tuple, df.collect())):
            out.append(
                tuple(
                    struct.pack("<d", v) if isinstance(v, float) else v for v in r
                )
            )
        return out

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for name in ("q1_pricing_summary", "j5_enrich_revenue"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
            one = rows(name)
            spark.conf.set("spark.sql.files.maxPartitionBytes", "256k")
            many = rows(name)
            assert one == many, name
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
