"""Operator-level tests for dedup / as-of beyond the oracle queries: exact
dedup keep-min, as-of edge semantics."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from unravelsports_spark.operators.asof import asof_join
from unravelsports_spark.operators.dedup import doc_shingles, exact_dedup, jaccard_pairs

from .conftest import SF_CORRECT


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [5, 3, 9, 1],
                "text": ["Hello  World", "hello world", "unique doc", "HELLO world"],
            }
        )
    )
    kept = exact_dedup(df).toPandas()
    assert sorted(kept.doc_id) == [1, 9]


def test_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b c d e f g h",
                    "a b c d e f g h",
                    "z y x w v u t s",
                ],
            }
        )
    )
    pairs = jaccard_pairs(doc_shingles(df)).toPandas()
    assert len(pairs) == 1
    assert (pairs.id_a.iloc[0], pairs.id_b.iloc[0]) == (1, 2)
    assert pairs.jaccard.iloc[0] == 1.0


def test_dup_span_stats(spark):
    """Span-level dedup: a 10-token span copied between two docs marks
    exactly its window starts as duplicated; within-doc repetition counts
    too; a unique doc reports zero."""
    from unravelsports_spark.operators.dedup import dup_span_stats, window_fingerprints

    boiler = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    f"{boiler} alpha beta gamma",          # shares spans with 2
                    f"intro words here {boiler}",          # shares spans with 1
                    "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11",  # all unique
                    f"{boiler} {boiler}",                  # self-repetition
                ],
            }
        )
    )
    fps = window_fingerprints(df, window=10)
    stats = {r.doc_id: r for r in dup_span_stats(fps).collect()}
    # doc 1: 13 tokens → 4 windows; only the boiler-aligned start (pos 0)
    # also occurs elsewhere
    assert stats[1].n_windows == 4
    assert stats[1].n_dup_windows == 1
    # doc 3: 11 tokens → 2 windows, none duplicated
    assert (stats[3].n_dup_windows, stats[3].n_windows) == (0, 2)
    assert stats[3].dup_fraction == 0.0
    # doc 4: 20 tokens → 11 windows; pos 0 and pos 10 are the same span
    # (within-doc repetition is duplication), and pos 0/10 also match docs
    # 1/2's boiler start
    assert stats[4].n_windows == 11
    assert stats[4].n_dup_windows >= 2
    # fp-frequency clamp only bounds the carried count, never drops windows
    clamped = {r.doc_id: r for r in dup_span_stats(fps, max_fp_freq=1).collect()}
    assert all(clamped[i].n_windows == stats[i].n_windows for i in stats)
    # with every count clamped to 1, nothing registers as duplicated
    assert all(r.n_dup_windows == 0 for r in clamped.values())


def test_window_fingerprint_counts_property(spark):
    """Property: every doc emits exactly max(0, n_tokens - w + 1) window
    starts, duplicated fraction is within [0, 1], and permuting doc order
    never changes any per-doc result."""
    from hypothesis import given, settings as hsettings
    from hypothesis import strategies as st

    from unravelsports_spark.operators.dedup import dup_span_stats, window_fingerprints

    token = st.text(alphabet="abcdefg", min_size=1, max_size=3)
    doc = st.lists(token, min_size=0, max_size=20).map(" ".join)

    @hsettings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6))
    def check(texts):
        rows = [(i, t) for i, t in enumerate(texts) if t.strip()]
        if not rows:
            return
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        w = 4
        stats = {r.doc_id: r for r in dup_span_stats(window_fingerprints(df, window=w)).collect()}
        for i, t in rows:
            n_tok = len(t.strip().split())
            expect = max(0, n_tok - w + 1)
            if expect == 0:
                assert i not in stats
            else:
                assert stats[i].n_windows == expect, (i, t)
                assert 0.0 <= stats[i].dup_fraction <= 1.0
        # permutation invariance
        df_rev = spark.createDataFrame(list(reversed(rows)), "doc_id bigint, text string")
        stats_rev = {
            r.doc_id: (r.n_windows, r.n_dup_windows)
            for r in dup_span_stats(window_fingerprints(df_rev, window=w)).collect()
        }
        assert stats_rev == {k: (v.n_windows, v.n_dup_windows) for k, v in stats.items()}

    check()


def test_semdedup_bucketed_subset_of_exact(spark):
    """Sign-LSH bucketing may only MISS near-dup pairs, never invent them:
    bucketed removal counts are bounded by the exact all-pairs counts per
    label, and the bucketing keeps useful recall on this corpus."""
    from unravelsports_spark.plans import QUERIES

    exact = {
        r.label: r.n_removed
        for r in QUERIES["d_embedding_neardup"](spark, SF_CORRECT).collect()
    }
    bucketed = {
        r.label: r.n_removed
        for r in QUERIES["d_semdedup_lsh"](spark, SF_CORRECT).collect()
    }
    assert set(bucketed) == set(exact)
    for label in exact:
        assert bucketed[label] <= exact[label], label
    total_exact, total_bucketed = sum(exact.values()), sum(bucketed.values())
    assert total_exact > 0
    # single-table sign-LSH recall at cosine>=0.4 (theta ~66 deg) is
    # (1 - theta/pi)^4 ~ 16% per pair — this is the one-signature probe
    assert total_bucketed / total_exact >= 0.1

    # the OR-amplified 4-table variant must strictly dominate a single
    # table and land near its theoretical ~50% recall
    multi = {
        r.label: r.n_removed
        for r in QUERIES["d_semdedup_multitable"](spark, SF_CORRECT).collect()
    }
    for label in exact:
        assert multi[label] <= exact[label], label
    total_multi = sum(multi.values())
    assert total_multi >= total_bucketed
    assert total_multi / total_exact >= 0.3


def test_jaccard_hot_shingle_cap_bounds_skew(spark):
    """One boilerplate sentence in every doc must not pair all docs with all
    docs: with the document-frequency cap, boilerplate-only overlaps emit no
    pair at all, while a genuine near-duplicate pair survives."""
    import random

    rng = random.Random(7)
    boiler = "this document is provided as is without any warranty"
    docs = []
    for i in range(60):
        unique = " ".join(f"w{rng.randrange(10**9)}" for _ in range(12))
        docs.append((i, f"{boiler} {unique}"))
    # one genuine near-dup pair sharing unique content
    docs.append((100, f"{boiler} alpha beta gamma delta epsilon zeta eta theta"))
    docs.append((101, f"{boiler} alpha beta gamma delta epsilon zeta eta iota"))
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    shingled = doc_shingles(df)

    uncapped = jaccard_pairs(shingled, max_doc_freq=None)
    capped = jaccard_pairs(shingled, max_doc_freq=20)
    n_uncapped, n_capped = uncapped.count(), capped.count()
    # uncapped: every one of the 62 docs pairs with every other via boilerplate
    assert n_uncapped == 62 * 61 // 2
    # capped: boilerplate shingles (df=62 > 20) are dropped — only genuine
    # shared content can produce pairs
    assert n_capped < 5
    survivors = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in survivors


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b"], "t": [10, 20, 10], "lv": [1, 2, 3]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b"], "t": [10, 15, 99], "rv": [100, 150, 999]})
    )
    out = (
        asof_join(left, right, on="t", by=["k"], value_cols=["rv"])
        .orderBy("k", "t")
        .toPandas()
    )
    # exact-equal timestamp matches (<=); later right rows don't leak back
    assert out.rv_right.tolist()[0] == 100  # a@10 ← right a@10
    assert out.rv_right.tolist()[1] == 150  # a@20 ← right a@15
    assert np.isnan(out.rv_right.tolist()[2])  # b@10: right only at 99


def test_asof_directions_and_tolerance(spark):
    """polars/pandas join_asof surface: backward/forward/nearest + tolerance
    (single-pass union+carry in all modes — never a range join)."""
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "a"], "t": [10, 20, 35], "lv": [1, 2, 3]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "t": [12, 30], "rv": [100, 200]})
    )

    def got(**kw):
        rows = asof_join(left, right, on="t", by=["k"], value_cols=["rv"], **kw)
        return [(r.t, r.rv_right) for r in rows.orderBy("t").collect()]

    assert got() == [(10, None), (20, 100), (35, 200)]
    assert got(direction="forward") == [(10, 100), (20, 200), (35, None)]
    assert got(direction="nearest") == [(10, 100), (20, 100), (35, 200)]
    assert got(direction="nearest", tolerance=4) == [(10, 100), (20, None), (35, None)]
    with pytest.raises(ValueError):
        got(direction="sideways")


def test_pack_sequences_semantics(spark):
    from unravelsports_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "source": ["s"] * 5,
                "n_tokens": [600, 600, 600, 600, 600],
            }
        )
    )
    out = {r.doc_id: r.bin for r in pack_sequences(df, budget=1000).collect()}
    # start offsets 0,600,1200,1800,2400 → bins 0,0,1,1,2
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2}
    with pytest.raises(ValueError):
        pack_sequences(df, budget=0)


def test_pack_sequences_two_level_equals_single_window(spark):
    """The r14 two-level prefix sum (per-range local cumsum + bucket-offset
    join) must reproduce the naive single-window bins exactly — including
    ids spread over a wide sparse range so several buckets are non-empty,
    multiple groups, and n_ranges exceeding the row count."""
    import random

    from unravelsports_spark.operators.packing import pack_sequences

    rng = random.Random(7)
    ids = sorted(rng.sample(range(0, 10_000_000), 400))
    rows = pd.DataFrame(
        {
            "doc_id": ids,
            "source": [f"s{i % 3}" for i in range(400)],
            "n_tokens": [rng.randrange(1, 900) for _ in range(400)],
        }
    )
    df = spark.createDataFrame(rows)
    naive = {
        (r.source, r.doc_id): r.bin
        for r in pack_sequences(df, budget=1000, n_ranges=None).collect()
    }
    for n_ranges in (1, 7, 64, 1000):
        got = {
            (r.source, r.doc_id): r.bin
            for r in pack_sequences(df, budget=1000, n_ranges=n_ranges).collect()
        }
        assert got == naive, n_ranges


def test_pack_sequences_two_level_ties_and_nulls(spark):
    """Review-finding coverage (r14): duplicate order values must bin
    identically to the naive form (both windows use the peers-inclusive
    default RANGE frame — an explicit ROWS frame diverged on ties), and
    NULL order/group keys must survive the offset join (null-safe keys —
    a plain equi-join dropped them)."""
    from unravelsports_spark.operators.packing import pack_sequences

    rows = [
        # duplicate doc_ids within a group (peers) + NULL doc_id + NULL source
        (7, "a", 600), (7, "a", 600), (3, "a", 100), (None, "a", 250),
        (5, "b", 900), (5, "b", 900), (5, "b", 900), (None, None, 400),
        (9, None, 300), (1, None, 50),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_tokens bigint")
    from collections import Counter

    def canon(res):
        # multiset compare: tuples contain None, which Python can't sort
        return Counter((r.source, r.doc_id, r.n_tokens, r.bin) for r in res.collect())

    naive = canon(pack_sequences(df, budget=1000, n_ranges=None))
    assert sum(naive.values()) == len(rows)  # nothing dropped by the naive path
    for n_ranges in (1, 4, 64):
        got = canon(pack_sequences(df, budget=1000, n_ranges=n_ranges))
        assert got == naive, n_ranges


def test_pack_sequences_fractional_tokens_fall_back_to_naive(spark):
    """ADVICE r14: a fractional token_col must NOT take the decomposed path
    (its per-bucket totals are cast('long'), truncating, and regrouped
    float addition is non-associative) — with n_ranges set it must still
    reproduce the naive single-window bins exactly."""
    from unravelsports_spark.operators.packing import pack_sequences

    rows = [
        (1, "a", 600.25), (2, "a", 600.25), (3, "a", 600.25),
        (4, "b", 999.5), (5, "b", 0.75), (6, "b", 999.5),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_tokens double")
    naive = {
        (r.source, r.doc_id): r.bin
        for r in pack_sequences(df, budget=1000, n_ranges=None).collect()
    }
    for n_ranges in (1, 4, 64):
        got = {
            (r.source, r.doc_id): r.bin
            for r in pack_sequences(df, budget=1000, n_ranges=n_ranges).collect()
        }
        assert got == naive, n_ranges


def test_approx_distinct_within_rsd(spark):
    """a9: HLL++ estimate within 5x rsd of the exact distinct count."""
    from unravelsports_spark.plans import QUERIES

    from .conftest import SF_CORRECT

    rows = QUERIES["a9_approx_distinct"](spark, SF_CORRECT).collect()
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(
            F.countDistinct("l_orderkey").alias("n")
        ).collect()
    }
    for r in rows:
        assert abs(r.approx_orders - exact[r.l_returnflag]) / exact[r.l_returnflag] < 0.05


def test_minhash_join_excludes_empty_docs(spark):
    """ADVICE r6: empty/whitespace-only docs must NOT enter the MinHash
    near-dup join (the old unconditional short-doc fallback gave them all
    the identical '' gram -> mutual Jaccard-1.0 candidates, quadratic among
    empty docs at crawl scale). Non-empty short docs keep the whole-doc
    fallback: identical 1-token docs still pair."""
    import pandas as pd

    from unravelsports_spark.operators.mllib_lsh import minhash_similarity_join

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "text": [
                    "",            # empty -> excluded
                    "   \t ",      # whitespace-only -> excluded
                    "hello",       # short, non-empty -> whole-doc gram
                    "hello",       # identical twin -> pairs with 3
                    "one two three four five six seven",
                    "one two three four five six seven",
                ],
            }
        )
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_similarity_join(df, max_jaccard_distance=0.5).collect()
    }
    assert (3, 4) in pairs and (5, 6) in pairs
    flat = {i for p in pairs for i in p}
    assert 1 not in flat and 2 not in flat

    # shingle_n=1: split('') == [''] satisfies size >= 1, so the emptiness
    # guard must be OUTSIDE the short-doc fallback or empty docs sneak back
    # in via the main gram branch (r7 review finding)
    uni = {
        (r.id_a, r.id_b)
        for r in minhash_similarity_join(
            df, max_jaccard_distance=0.5, shingle_n=1
        ).collect()
    }
    uni_flat = {i for p in uni for i in p}
    assert 1 not in uni_flat and 2 not in uni_flat
    assert (3, 4) in uni


def test_cdc_chunking_insertion_stability(spark):
    """The property content-defined chunking exists for: inserting tokens
    mid-document only reshapes the chunks around the insertion — chunk
    hashes re-synchronize afterward — whereas fixed-width chunking shifts
    every later boundary. Also: chunk lengths partition the token count."""
    import random

    from unravelsports_spark.plans.corpus4 import cdc_chunk_frame

    rng = random.Random(11)
    words = [f"w{rng.randint(0, 500)}" for _ in range(400)]
    original = " ".join(words)
    mutated = " ".join(words[:200] + ["INSERTED", "TOKENS"] + words[200:])
    df = spark.createDataFrame(
        [(1, original), (2, mutated)], "doc_id bigint, text string"
    )
    ch = cdc_chunk_frame(df).collect()
    a = [(r.chunk_hash, r.chunk_len) for r in ch if r.doc_id == 1]
    b = [(r.chunk_hash, r.chunk_len) for r in ch if r.doc_id == 2]
    assert sum(l for _, l in a) == 400
    assert sum(l for _, l in b) == 402
    shared = set(h for h, _ in a) & set(h for h, _ in b)
    # most chunks survive the insertion (only the window around token 200
    # reshapes); fixed-width chunking from the same offsets would keep
    # only the pre-insertion prefix
    assert len(shared) >= len(a) * 0.6, (len(shared), len(a))
    # and the two docs do differ where the insertion landed
    assert set(h for h, _ in a) != set(h for h, _ in b)


def test_containment_pairs_doc_inside_doc(spark):
    """The asymmetric property containment exists for: when doc 1's shingle
    set is a strict subset of doc 2's, C(1→2) is exactly 1.0 (1e6 ppm)
    while C(2→1) is |S1|/|S2| — and the symmetric Jaccard equals the
    smaller direction, which is why a Jaccard threshold misses the pair."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators.dedup import containment_pairs, doc_shingles

    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),                 # 4 distinct 3-gram shingles
            (2, "w1 w2 w3 w4 w5 w6 w7 w8"),           # those 4 plus 2 more
            (3, "x1 x2 x3 x4"),                        # disjoint: no pair rows
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.id_src, r.id_dst): (r.n_common, r.containment_ppm)
        for r in containment_pairs(doc_shingles(df), max_doc_freq=None).collect()
    }
    release_tracked()
    assert out == {
        (1, 2): (4, 1_000_000),          # S1 ⊂ S2 → full containment
        (2, 1): (4, 4_000_000 // 6),     # 4 of 6 shingles → 666666 ppm
    }


def test_containment_df_cap_drops_hot_shingles(spark):
    """With max_doc_freq=1 every shared shingle is 'hot' and anti-joined
    away, so no pair survives — the posting-list bound that keeps the
    inverted-index join skew-safe at corpus scale."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators.dedup import containment_pairs, doc_shingles

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e")], ["doc_id", "text"]
    )
    rows = containment_pairs(doc_shingles(df), max_doc_freq=1).collect()
    release_tracked()
    assert rows == []


def test_perplexity_bucket_sample_matches_duckdb(spark, duck):
    """CCNet-style head/middle/tail bucketing + deterministic md5
    downsampling (operators/importance.py, r9 build / r10 registration):
    full equivalence with the SQL twin — boundary-based terciles over the
    certified unigram pseudo-perplexity, equal scores in equal buckets,
    exact integer keep counts."""
    from unravelsports_spark.operators.importance import perplexity_bucket_sample
    from unravelsports_spark.operators.retrieval import unigram_logprob
    from unravelsports_spark.plans.corpus3 import _unigram_sql
    from unravelsports_spark.session import read_table

    from .conftest import SF_CORRECT

    docs = read_table(spark, SF_CORRECT, "documents")
    got = sorted(
        map(
            tuple,
            perplexity_bucket_sample(docs, unigram_logprob(docs)).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                f"""
        WITH scored AS ({_unigram_sql()}),
        s AS (SELECT sc.*, d.source FROM scored sc
              JOIN documents d USING (doc_id)),
        per_ppl AS (SELECT source, pseudo_ppl, COUNT(*) AS n
                    FROM s GROUP BY 1, 2),
        cum AS (SELECT source, pseudo_ppl,
                       SUM(n) OVER (PARTITION BY source ORDER BY pseudo_ppl
                                    ROWS UNBOUNDED PRECEDING) AS c,
                       SUM(n) OVER (PARTITION BY source) AS tot
                FROM per_ppl),
        bounds AS (SELECT source,
                          MIN(CASE WHEN c >= CEIL(tot / 3.0) THEN pseudo_ppl END) AS b1,
                          MIN(CASE WHEN c >= CEIL(2 * tot / 3.0) THEN pseudo_ppl END) AS b2
                   FROM cum GROUP BY source),
        tagged AS (
          SELECT s.source, s.n_tokens,
                 CASE WHEN s.pseudo_ppl <= b.b1 THEN 'head'
                      WHEN s.pseudo_ppl <= b.b2 THEN 'middle'
                      ELSE 'tail' END AS bucket,
                 CAST(('0x' || substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 4))
                      AS INT) % 100 AS pct
          FROM s JOIN bounds b USING (source)),
        keep AS (SELECT *,
                        pct < CASE bucket WHEN 'head' THEN 100
                                          WHEN 'middle' THEN 50 ELSE 10 END AS k
                 FROM tagged)
        SELECT source, bucket, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
               CAST(SUM(CASE WHEN k THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
        FROM keep GROUP BY 1, 2
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0
    # every (source) splits into at most 3 buckets and head keeps all docs
    srcs = {}
    for src, bucket, n_docs, n_kept, _, _ in got:
        srcs.setdefault(src, set()).add(bucket)
        if bucket == "head":
            assert n_kept == n_docs  # 100% keep rate
    assert all(b <= {"head", "middle", "tail"} for b in srcs.values())


def test_perplexity_bucket_ties_share_a_bucket(spark):
    """Boundary-based bucketing (NOT ntile): equal scores must land in the
    same bucket even when a tercile boundary falls inside the tie run."""
    import pandas as pd

    from unravelsports_spark.operators.importance import perplexity_bucket_sample

    docs = spark.createDataFrame(
        [(i, "s") for i in range(9)], ["doc_id", "source"]
    )
    # six docs tie at ppl 5.0 (crossing both tercile boundaries), three at 9
    scored = spark.createDataFrame(
        [(i, 10, 5.0) for i in range(6)] + [(i, 10, 9.0) for i in range(6, 9)],
        ["doc_id", "n_tokens", "pseudo_ppl"],
    )
    rows = {
        (r["bucket"]): r["n_docs"]
        for r in perplexity_bucket_sample(docs, scored).collect()
    }
    # ceil(9/3)=3 and ceil(18/3... 2n/3)=6 both land inside the 5.0 run →
    # b1 = b2 = 5.0: all six tied docs are head, the rest tail, no middle
    assert rows == {"head": 6, "tail": 3}


def test_cluster_balanced_sample_matches_duckdb(spark, duck):
    """Cluster-balanced subsampling (operators/similarity.py, r9 build /
    r10 registration): nearest-centroid assignment + per-cell top-n by
    deterministic md5 hash order, exact vs the SQL twin built on the
    certified s_kmeans_assign CTE shape."""
    import numpy as np

    from unravelsports_spark.operators.similarity import cluster_balanced_sample
    from unravelsports_spark.session import read_table

    from .conftest import SF_CORRECT

    emb = read_table(spark, SF_CORRECT, "embeddings")
    init = emb.select("vec_id", "embedding").orderBy("vec_id").limit(8).collect()
    cents = np.asarray([[float(v) for v in r[1]] for r in init])

    kept = cluster_balanced_sample(emb, cents, per_cell=5)
    got = sorted(
        map(
            tuple,
            kept.groupBy("cell")
            .agg(
                F.count("*").alias("n_kept"),
                F.sum("vec_id").alias("sum_kept_ids"),
                F.max("pick").alias("max_pick"),
            )
            .collect(),
        )
    )
    d2 = """
      list_reduce(
        list_transform(range(1, len(e.embedding) + 1),
          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))
             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))),
        (a, b) -> a + b)
    """
    want = sorted(
        map(
            tuple,
            duck.execute(
                f"""
        WITH cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
                 embedding AS cemb
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        d AS (SELECT e.vec_id, c.cell, {d2} AS d2
              FROM embeddings e CROSS JOIN cent c),
        best AS (SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cell) AS rn
                 FROM d),
        assigned AS (SELECT vec_id, cell FROM best WHERE rn = 1),
        ranked AS (SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY cell
                                             ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                                      vec_id) AS pick
                   FROM assigned)
        SELECT cell, COUNT(*) AS n_kept,
               CAST(SUM(vec_id) AS BIGINT) AS sum_kept_ids,
               CAST(MAX(pick) AS BIGINT) AS max_pick
        FROM ranked WHERE pick <= 5 GROUP BY cell
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0
    assert all(r[3] <= 5 for r in got)  # budget respected per cell


def test_cluster_balanced_sample_is_order_invariant(spark):
    """The hash order makes the kept set independent of row order and
    partitioning — reshuffled input keeps EXACTLY the same ids."""
    import numpy as np

    from unravelsports_spark.operators.similarity import cluster_balanced_sample
    from unravelsports_spark.session import read_table

    from .conftest import SF_CORRECT

    emb = read_table(spark, SF_CORRECT, "embeddings")
    init = emb.select("vec_id", "embedding").orderBy("vec_id").limit(4).collect()
    cents = np.asarray([[float(v) for v in r[1]] for r in init])
    a = {
        r["vec_id"]
        for r in cluster_balanced_sample(emb, cents, per_cell=3).collect()
    }
    b = {
        r["vec_id"]
        for r in cluster_balanced_sample(
            emb.repartition(13), cents, per_cell=3
        ).collect()
    }
    assert a == b and len(a) <= 4 * 3
