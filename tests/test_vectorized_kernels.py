"""Head-to-head properties for the round-5 vectorized Arrow kernels.

Each kernel's docstring claims bit-identical results vs the expression/fold
form it replaced; these tests make those claims executable on seeded random
inputs (plus the structural edge cases: singleton buckets, empty block
pairs, cross-table duplicate candidates, bucket-count invariance)."""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F


def _rand_vecs(n, dim, seed):
    rng = random.Random(seed)
    return [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(n)
    ]


def test_allpairs_cosine_matches_bruteforce(spark):
    """Block-pair fan-out == naive all-pairs (every pair exactly once,
    identical threshold decisions), across block counts including nb=1."""
    from unravelsports_spark.operators.similarity import _allpairs_cosine_removed
    from unravelsports_spark.plans.dedup import _dot_col

    rows = _rand_vecs(61, 8, seed=3)
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    ev = e.select("vec_id", "v", _dot_col(F.col("v"), F.col("v")).alias("n2"))

    # naive reference in python floats (same left-to-right accumulation)
    vecs = {i: v for i, v in rows}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    thr = 0.2
    expected = sorted(
        j
        for i in vecs
        for j in vecs
        if i < j and dot(vecs[i], vecs[j]) / (math.sqrt(dot(vecs[i], vecs[i])) * math.sqrt(dot(vecs[j], vecs[j]))) >= thr
    )
    # b_id is emitted once per verified PAIR (a vector similar to several
    # lower-id vectors repeats; .distinct() is the caller's contract), so
    # compare the full multiset: each qualifying pair exactly once.
    from collections import Counter

    for nb in (1, 2, 8):
        got = Counter(
            r["b_id"]
            for r in _allpairs_cosine_removed(ev, threshold=thr, n_blocks=nb).collect()
        )
        assert got == Counter(expected), f"nb={nb}"


def test_bucket_cosine_handles_singletons_and_duplicates(spark):
    """Cross-table duplicate candidates are allowed (distinct downstream);
    singleton buckets yield nothing; pair decisions match the scalar form."""
    from unravelsports_spark.operators.similarity import _bucket_cosine_removed
    from unravelsports_spark.plans.dedup import _dot_col

    rows = _rand_vecs(20, 4, seed=9)
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    ev = e.select("vec_id", "v", _dot_col(F.col("v"), F.col("v")).alias("n2"))
    # table 0: everyone in one bucket; table 1: vec_id parity buckets;
    # vec 19 isolated in its own bucket (singleton)
    keys = spark.createDataFrame(
        [(i, 0, 0) for i in range(19)]
        + [(i, 1, i % 2) for i in range(19)]
        + [(19, 2, 99)],
        "vec_id long, tbl long, bucket long",
    )
    bev = keys.join(ev, "vec_id")
    got = sorted(
        set(r["b_id"] for r in _bucket_cosine_removed(bev, threshold=0.3).collect())
    )
    vecs = {i: v for i, v in rows}

    def cos(a, b):
        def dot(x, y):
            acc = 0.0
            for p, q in zip(x, y):
                acc = acc + p * q
            return acc

        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    expected = sorted(
        set(
            j
            for i in range(19)
            for j in range(19)
            if i < j and cos(vecs[i], vecs[j]) >= 0.3
        )
    )
    assert got == expected
    assert 19 not in got  # the singleton bucket can't produce a pair


def _expression_sign_keys(e, planes, n_tables, bits_per_table):
    """{(vec_id, tbl): bucket} from the literal-array JVM sign-dot expression."""
    from unravelsports_spark.plans.dedup import _dot_col

    def lit_dot(plane):
        return _dot_col(F.col("v"), F.array(*[F.lit(float(x)) for x in plane]))

    keys = {}
    for t in range(n_tables):
        bits = [
            F.when(lit_dot(planes[t * bits_per_table + i]) > 0, F.lit(1 << i)).otherwise(0)
            for i in range(bits_per_table)
        ]
        b = bits[0]
        for x in bits[1:]:
            b = b + x
        for r in e.select("vec_id", b.alias("b")).collect():
            keys[(r["vec_id"], t)] = r["b"]
    return keys


def test_sign_lsh_keys_match_expression_form(spark):
    """The Arrow sign-dot bucket bits == the literal-array JVM expression."""
    from unravelsports_spark.operators.similarity import _sign_lsh_bev

    rows = _rand_vecs(40, 6, seed=11)
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    planes = [rows[i][1] for i in range(8)]
    got = {
        (r["vec_id"], r["tbl"]): r["bucket"]
        for r in _sign_lsh_bev(e, planes, n_tables=2, bits_per_table=4).collect()
    }
    ref = _expression_sign_keys(e, planes, n_tables=2, bits_per_table=4)
    for key, bucket in ref.items():
        assert got[key] == bucket, key


def test_bucket_cosine_partitioned_matches_grouped(spark):
    """partitions=N (repartition + per-partition pandas groupby) must emit
    the same removal multiset-up-to-distinct as the per-group applyInPandas
    path, for plain AND ledger (new_col) semantics, at several widths."""
    from unravelsports_spark.operators.similarity import _bucket_cosine_removed
    from unravelsports_spark.plans.dedup import _dot_col

    rows = _rand_vecs(60, 5, seed=21)
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    ev = e.select("vec_id", "v", _dot_col(F.col("v"), F.col("v")).alias("n2"))
    keys = spark.createDataFrame(
        [(i, t, (i * (t + 3)) % 7) for i, _ in rows for t in range(3)],
        "vec_id long, tbl long, bucket long",
    )
    bev = keys.join(ev, "vec_id")
    ref = set(r["b_id"] for r in _bucket_cosine_removed(bev, 0.3).distinct().collect())
    for nparts in (1, 3, 16):
        got = set(
            r["b_id"]
            for r in _bucket_cosine_removed(bev, 0.3, partitions=nparts)
            .distinct()
            .collect()
        )
        assert got == ref, nparts
    # ledger semantics: mark low ids as previously-kept ledger rows
    bev_l = bev.withColumn("_new", F.col("vec_id") >= 30)
    ref_l = set(
        r["b_id"]
        for r in _bucket_cosine_removed(bev_l, 0.3, new_col="_new").distinct().collect()
    )
    got_l = set(
        r["b_id"]
        for r in _bucket_cosine_removed(bev_l, 0.3, new_col="_new", partitions=5)
        .distinct()
        .collect()
    )
    assert got_l == ref_l


def test_sign_lsh_bev_matches_keys_plus_join(spark):
    """The fused bev kernel == expression-form keys + (v, n2) attach,
    bit-exact (same bucket bits, same fold-order self-dot)."""
    from unravelsports_spark.operators.similarity import _sign_lsh_bev
    from unravelsports_spark.plans.dedup import _dot_col

    rows = _rand_vecs(40, 6, seed=11)
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    planes = [rows[i][1] for i in range(8)]
    keys = _expression_sign_keys(e, planes, n_tables=2, bits_per_table=4)
    n2 = {
        r["vec_id"]: r["n2"]
        for r in e.select(
            "vec_id", _dot_col(F.col("v"), F.col("v")).alias("n2")
        ).collect()
    }
    fused = _sign_lsh_bev(e, planes, n_tables=2, bits_per_table=4).collect()
    assert len(fused) == len(keys)
    vecs = dict(rows)
    for r in fused:
        assert keys[(r["vec_id"], r["tbl"])] == r["bucket"]
        assert n2[r["vec_id"]] == r["n2"]  # bit-exact, not approx
        assert list(r["v"]) == list(vecs[r["vec_id"]])


def test_with_codes_matches_scalar_assignment(spark):
    """Arrow int64 assignment == scalar fold semantics (ties -> lowest
    cluster), for two codebooks assigned in ONE pass, on a fixture with
    engineered exact ties."""
    from unravelsports_spark.operators.pq import _with_codes

    # 2 subspaces of 3 dims; cluster 1 duplicates cluster 0 in subspace 0 so
    # every vector TIES between them there -> code must be 0
    codebook = [
        [[0, 0, 0], [0, 0, 0], [5, 5, 5]],
        [[1, 2, 3], [3, 2, 1], [0, 0, 0]],
    ]
    # a second, 1-subspace codebook over all 6 dims; cluster 2 duplicates
    # cluster 1, so it never wins
    coarse = [[[0] * 6, [4, -4, 4, -4, 4, -4], [4, -4, 4, -4, 4, -4]]]
    rng = random.Random(5)
    rows = [
        (i, [rng.randint(-10, 10) for _ in range(6)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, iq array<bigint>")
    got = {
        r["vec_id"]: (r["a0"], r["a1"], r["c0"])
        for r in _with_codes(df, [("a", codebook), ("c", coarse)]).collect()
    }

    def assign(sub, cents):
        best = None
        for c, cent in enumerate(cents):
            d = sum((a - b) ** 2 for a, b in zip(sub, cent))
            if best is None or d < best[0]:
                best = (d, c)
        return best[1]

    for vid, iq in rows:
        exp = (
            assign(iq[:3], codebook[0]),
            assign(iq[3:], codebook[1]),
            assign(iq, coarse[0]),
        )
        assert got[vid] == exp, vid
    assert {a0 for a0, _, _ in got.values()} <= {0, 2}
    assert 2 not in {c0 for _, _, c0 in got.values()}


def test_savgol_by_key_bucket_invariant(spark):
    """n_buckets must not change any smoothed value (same per-series math
    regardless of which kernel call a series lands in)."""
    from unravelsports_spark.functions.savgol import savgol_by_key

    rng = random.Random(13)
    rows = [
        (k, i, float(i), rng.uniform(-5, 5))
        for k in range(9)
        for i in range(rng.randint(3, 20))
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts double, value double")

    def run(nb):
        return sorted(
            map(
                tuple,
                savgol_by_key(
                    df, "user_id", ["ts", "event_id"], "value",
                    ["user_id", "event_id"], 7, 2, 6, n_buckets=nb,
                ).collect(),
            )
        )

    assert run(1) == run(4) == run(32)


def test_doc_shingles_short_docs_and_distinct_modes(spark):
    """The arrays_zip gram rewrite: docs shorter than n yield no shingles
    (zip of exact-length slices, never null-padded); distinct=False keeps
    multiset rows whose min-aggregation is unchanged."""
    from unravelsports_spark.operators.dedup import doc_shingles, minhash_signatures

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three"),
         (5, "a b c d"), (6, "  x   y  z  "), (7, "p p p p p")],
        "doc_id long, text string",
    )
    for dist in (True, False):
        got = {
            r["doc_id"]: r["count"]
            for r in doc_shingles(df, distinct=dist).groupBy("doc_id").count().collect()
        }
        if dist:
            assert got == {4: 1, 5: 2, 6: 1, 7: 1}  # 'p p p' x3 dedups
        else:
            assert got == {4: 1, 5: 2, 6: 1, 7: 3}
    # minhash signatures identical across the two modes (min is
    # duplicate-insensitive) — the property the distinct=False fast path
    # relies on
    a = sorted(map(tuple, minhash_signatures(doc_shingles(df, distinct=True)).collect()))
    b = sorted(map(tuple, minhash_signatures(doc_shingles(df, distinct=False)).collect()))
    assert a == b


def test_cosine_vs_refs_matches_expression_form(spark):
    """_cosine_vs_refs == the _dot_col cosine expression, bit-exact."""
    from unravelsports_spark.operators.similarity import _cosine_vs_refs
    from unravelsports_spark.plans.dedup import _cos_col

    rows = _rand_vecs(30, 5, seed=33)
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    refs = [(int(i), v) for i, v in rows[:4]]
    got = {
        (r["vec_id"], r["ref_id"]): r["cosine"]
        for r in _cosine_vs_refs(e, refs).collect()
    }
    assert len(got) == 30 * 4
    for rid, rv in refs:
        ref_lit = F.array(*[F.lit(float(x)) for x in rv])
        for r in e.select(
            "vec_id", _cos_col(F.col("v"), ref_lit).alias("c")
        ).collect():
            assert got[(r["vec_id"], rid)] == r["c"], (r["vec_id"], rid)


def test_cosine_vs_queries_with_cell_matches_two_pass_form(spark):
    """_cosine_vs_queries_with_cell (the r9 s_ann_recall fusion) must
    return bit-exactly the query cosines _cosine_vs_refs computes AND the
    nearest-centroid assignment the certified max-cosine/lowest-id rule
    produces — including a deliberate centroid tie (two identical centroid
    vectors must resolve to the lower id) and unsorted centroid input."""
    from unravelsports_spark.operators.similarity import (
        _cosine_vs_queries_with_cell,
        _cosine_vs_refs,
    )

    rows = _rand_vecs(40, 6, seed=7)
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    queries = [(int(i), v) for i, v in rows[:3]]
    # centroids deliberately unsorted + an exact duplicate pair (9 == 21)
    cents = [(21, rows[9][1]), (5, rows[5][1]), (9, rows[9][1]), (30, rows[30][1])]

    got = _cosine_vs_queries_with_cell(e, queries, cents).collect()
    assert len(got) == 40 * 3

    qcos = {
        (r["vec_id"], r["ref_id"]): r["cosine"]
        for r in _cosine_vs_refs(e, queries, ref_id_name="ref_id").collect()
    }
    ccos = {
        (r["vec_id"], r["ref_id"]): r["cosine"]
        for r in _cosine_vs_refs(e, cents, ref_id_name="ref_id").collect()
    }
    want_cell = {}
    for vid, _ in rows:
        vid = int(vid)
        want_cell[vid] = max(
            (cid for cid, _ in cents),
            key=lambda c: (ccos[(vid, c)], -c),
        )
    cells = {}
    for r in got:
        assert r["cosine"] == qcos[(r["vec_id"], r["qid"])]
        cells.setdefault(r["vec_id"], set()).add(r["cell"])
    for vid, cs in cells.items():
        assert cs == {want_cell[vid]}, (vid, cs, want_cell[vid])
    # the duplicated centroid vector must never win under its higher id
    assert 21 not in {c for cs in cells.values() for c in cs}


def _lloyd_reference(vecs, m_subspaces, k, n_rounds):
    """Driver-side integer Lloyd over id-ordered int vectors: the k
    smallest-id vectors seed, ties go to the lowest cluster, each member
    dim updates to floor(sum / count), an empty cluster keeps its
    centroid."""
    X = np.asarray(vecs, dtype=np.int64)
    sd = X.shape[1] // m_subspaces
    book = [
        [[int(v) for v in X[c, m * sd : (m + 1) * sd]] for c in range(k)]
        for m in range(m_subspaces)
    ]
    for _ in range(n_rounds):
        for m in range(m_subspaces):
            S = X[:, m * sd : (m + 1) * sd]
            C = np.asarray(book[m], dtype=np.int64)
            codes = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for c in range(k):
                members = S[codes == c]
                if len(members):
                    book[m][c] = [
                        math.floor(int(t) / len(members)) for t in members.sum(axis=0)
                    ]
    return book


def test_pq_train_codebooks_equals_sequential(spark):
    """Specs trained together come back EXACTLY as each trained alone (the
    shared max-k seed prefix and the fused per-round stats cannot move a
    single int) and equal to a driver-side integer Lloyd; a 0-round spec
    returns its seeds; a spec whose subspaces do not divide the dimension
    is refused."""
    from unravelsports_spark.operators.pq import (
        _int_grid, pq_train_codebook, pq_train_codebooks,
    )
    from unravelsports_spark.session import read_table

    from .conftest import SF_CORRECT

    emb = read_table(spark, SF_CORRECT, "embeddings")
    iq = emb.select(F.col("vec_id").alias("_id"), _int_grid("embedding").alias("iq"))
    coarse, pq, seeded = pq_train_codebooks(iq, [(1, 8, 1), (4, 16, 2), (2, 4, 0)])
    assert coarse == pq_train_codebook(emb, m_subspaces=1, k=8, n_rounds=1)
    assert pq == pq_train_codebook(emb, m_subspaces=4, k=16, n_rounds=2)

    vecs = [list(r["iq"]) for r in iq.orderBy("_id").collect()]
    assert coarse == _lloyd_reference(vecs, 1, 8, 1)
    assert pq == _lloyd_reference(vecs, 4, 16, 2)
    half = len(vecs[0]) // 2
    assert seeded == [[v[m * half : (m + 1) * half] for v in vecs[:4]] for m in range(2)]

    with pytest.raises(ValueError, match="not divisible by m_subspaces=5"):
        pq_train_codebooks(iq, [(4, 16, 1), (5, 8, 1)])
