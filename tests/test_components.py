"""Connected components (large-star/small-star) vs driver-side union-find."""

import random

import pytest
from pyspark.sql import functions as F

from unravelsports_spark.operators.components import connected_components


def _union_find(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id per component
    comp = {}
    for v in range(n):
        r = find(v)
        comp.setdefault(r, []).append(v)
    out = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


def _expected_components(edges):
    """Union-find rows (id, component) for every non-root node, sorted —
    the row set connected_components must return (roots and isolated nodes
    do not appear)."""
    touched = sorted({v for e in edges for v in e})
    uf = _union_find(max(touched, default=-1) + 1, edges)
    return sorted((v, uf[v]) for v in touched if uf[v] != v)


def _components_rows(df):
    # a list, not a dict: a node listed twice must show up as a mismatch
    return sorted(map(tuple, connected_components(df).collect()))


@pytest.mark.parametrize("seed,n,m", [(1, 30, 25), (2, 60, 80)])
def test_connected_components_random(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    assert _components_rows(df) == _expected_components(edges)


def test_connected_components_two_root_parents_not_converged(spark):
    """A round can end with no node both a src and a dst while one node
    still points at two roots, (4, 0) and (4, 2): that is not a star
    forest, and stopping there split the component at 2 (nodes 2, 6, 10
    and 11 were mapped to 2 instead of 0)."""
    edges = [(1, 5), (2, 11), (10, 4), (4, 9), (3, 9), (0, 9), (10, 2),
             (6, 10), (6, 11), (8, 5), (8, 7)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = _components_rows(df)
    assert got == _expected_components(edges)
    assert {c for _, c in got} == {0, 1}


def test_connected_components_chain(spark):
    # worst case for naive propagation: one long path (log-round convergence)
    edges = [(i, i + 1) for i in range(16)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert all(got[v] == 0 for v in range(1, 17))


def test_connected_components_long_path_runs_to_fixpoint(spark):
    """A 5,000-node path with sequential ids needs 13 star rounds; a
    12-round cap returned it with hundreds of nodes still pointing at an
    intermediate root instead of 0."""
    n = 5000
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = connected_components(df).collect()
    assert len(got) == n - 1
    assert [r["id"] for r in got if r["component"] != 0] == []
    assert sorted(r["id"] for r in got) == list(range(1, n))


def test_connected_components_degenerate_inputs(spark):
    # self-loops and duplicate edges must not break or pollute the output
    edges = [(1, 1), (2, 3), (3, 2), (2, 3), (4, 4), (5, 6)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {3: 2, 6: 5}
    # empty edge set -> empty result, no exception
    empty = spark.createDataFrame([], "id_a int, id_b int")
    assert connected_components(empty).count() == 0


def test_connected_components_two_cliques_bridge(spark):
    # two cliques joined by one bridge edge collapse to one component
    k1 = [(a, b) for a in range(0, 5) for b in range(a + 1, 5)]
    k2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    df = spark.createDataFrame(k1 + k2 + [(4, 10)], "id_a int, id_b int")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert all(c == 0 for c in got.values())
    assert set(got) == set(range(1, 5)) | set(range(10, 15))


def test_label_propagation_triangles_with_bridge(spark):
    """Hand-traced 3-round synchronous LPA with lowest-label ties: two
    triangles joined by one bridge edge resolve to one community per
    triangle — finer than connected components (which would merge all 6)."""
    from unravelsports_spark.operators.components import label_propagation

    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(4, 5), (4, 6), (5, 6)]
    df = spark.createDataFrame(tri1 + tri2 + [(3, 4)], "id_a int, id_b int")
    got = {r["id"]: r["label"] for r in label_propagation(df, iters=3).collect()}
    # traced by hand: l3 = {1:1, 2:1, 3:1, 4:3, 5:3, 6:3}
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    comps = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert len(set(comps.values())) == 1  # CC merges what LPA separates


def test_label_propagation_matches_python_reference(spark):
    """Engine LPA == a direct Python implementation of the same synchronous
    min-tie recurrence on random graphs, and every community sits inside
    one connected component (LPA refines CC, never crosses it)."""
    from unravelsports_spark.operators.components import label_propagation

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(4, 12)
        edges = sorted(
            {
                (a, b)
                for _ in range(rng.randint(n, 3 * n))
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        if not edges:
            continue
        nbrs = {}
        for a, b in edges:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        labels = {v: v for v in nbrs}
        for _ in range(3):
            nxt = {}
            for v in nbrs:
                cnt = {}
                for u in nbrs[v]:
                    cnt[labels[u]] = cnt.get(labels[u], 0) + 1
                best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
                nxt[v] = best
            labels = nxt
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        got = {r["id"]: r["label"] for r in label_propagation(df, iters=3).collect()}
        assert got == labels, (trial, edges, got, labels)
        comps = {r["id"]: r["component"] for r in connected_components(df).collect()}
        comp_of = lambda v: comps.get(v, v)
        by_label = {}
        for v, l in got.items():
            by_label.setdefault(l, set()).add(comp_of(v))
        assert all(len(cs) == 1 for cs in by_label.values())


def test_kcore_peel_triangle_with_tail(spark):
    """Hand-traced: triangle 1-2-3 plus tail 3-4-5, k=2. Round 1 peels the
    degree-1 leaf (5), round 2 peels the now-degree-1 node 4, round 3 is
    the stable 2-core (the triangle)."""
    from unravelsports_spark.operators.components import kcore_peel

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = [tuple(r) for r in kcore_peel(df, k=2, rounds=3).collect()]
    assert got == [(0, 5, 5), (1, 4, 4), (2, 3, 3), (3, 3, 3)]


def test_kcore_peel_everything_peels(spark):
    """A path graph has no 2-core: survivor counts must reach (0, 0) and
    stay there (empty-graph rounds still emit a row — the aggregate has
    no groupBy, so zero input rows produce one zero row)."""
    from unravelsports_spark.operators.components import kcore_peel

    edges = [(1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = [tuple(r) for r in kcore_peel(df, k=2, rounds=3).collect()]
    assert got[0] == (0, 4, 3)
    assert got[-1] == (3, 0, 0)
    assert all(g[1] >= n[1] for g, n in zip(got, got[1:]))  # monotone


def _random_edges(seed, n, m):
    rng = random.Random(seed)
    return sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})


def _python_peel(edges, k, rounds):
    """Brute-force peeling trace: pairs with a NULL endpoint and self-loops
    drop out, duplicates collapse; per round (round, nodes, edges), then
    every node of current degree < k goes with its edges."""
    pairs = {(a, b) for a, b in edges if a is not None and b is not None and a != b}
    cur = pairs | {(b, a) for a, b in pairs}
    expect = []
    for i in range(rounds + 1):
        expect.append((i, len({a for a, _ in cur}), sum(1 for a, b in cur if a < b)))
        deg = {}
        for a, _ in cur:
            deg[a] = deg.get(a, 0) + 1
        keep = {a for a, d in deg.items() if d >= k}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
    return expect


@pytest.mark.parametrize(
    "edges,k",
    [
        pytest.param(_random_edges(7, 25, 40), 2, id="7-25-40"),
        pytest.param(_random_edges(13, 40, 55), 2, id="13-40-55"),
        pytest.param(
            [(1, None), (None, 2), (None, None), (1, 2), (2, 3), (3, 1), (3, 4)],
            2,
            id="null-ids",
        ),
        pytest.param(
            [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3), (3, 3), (3, 1), (3, 4), (4, 3)],
            2,
            id="self-loops-duplicates",
        ),
        pytest.param([], 2, id="empty"),
        pytest.param([(1, 2), (2, 3), (3, 4), (4, 5)], 2, id="fully-peeled"),
        pytest.param([(0, i) for i in range(1, 201)], 2, id="hub-200-spokes"),
        pytest.param(_random_edges(21, 14, 60), 3, id="k3"),
    ],
)
def test_kcore_peel_matches_python_reference(spark, edges, k):
    """kcore_peel's curve == the brute-force Python peel, row for row and in
    round order, on random graphs and the degenerate inputs."""
    from unravelsports_spark.operators.components import kcore_peel

    rounds = 4
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = [tuple(r) for r in kcore_peel(df, k=k, rounds=rounds).collect()]
    assert got == _python_peel(edges, k, rounds)


def test_kcore_peel_releases_its_edge_cache(spark):
    """Every table the graph operators persist is tracked: after the result
    is consumed and release_tracked() runs, the session's cache manager
    holds nothing."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators.components import (
        kcore_peel,
        label_propagation,
        pagerank,
    )

    release_tracked()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    df = spark.createDataFrame(_random_edges(5, 20, 40), "id_a int, id_b int")
    for op in (kcore_peel, pagerank, label_propagation):
        op(df).collect()
        assert not cache.isEmpty()  # the edge table was cached
        release_tracked()
        assert cache.isEmpty(), op.__name__


def test_kcore_peel_k3(spark):
    """k=3: a 4-clique survives, a triangle does not."""
    from unravelsports_spark.operators.components import kcore_peel

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tri = [(10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(clique + tri, "id_a int, id_b int")
    got = [tuple(r) for r in kcore_peel(df, k=3, rounds=2).collect()]
    assert got[0] == (0, 7, 9)
    assert got[-1] == (2, 4, 6)  # only the 4-clique remains


def test_reliable_checkpoint_variants_match_default(spark, tmp_path):
    """ADVICE r7 #3 fallback: with a session checkpoint dir set,
    reliable=True (per-round checkpoint() to storage instead of
    non-reliable executor blocks) must produce identical results for both
    iterative operators."""
    from unravelsports_spark.operators.components import (
        connected_components,
        kcore_peel,
    )

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = [(1, 2), (2, 3), (10, 11), (1, 3), (3, 4), (11, 12), (10, 12)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    cc_default = sorted(map(tuple, connected_components(df).collect()))
    cc_reliable = sorted(map(tuple, connected_components(df, reliable=True).collect()))
    assert cc_reliable == cc_default and len(cc_default) > 0
    kc_default = [tuple(r) for r in kcore_peel(df, k=2, rounds=3).collect()]
    kc_reliable = [tuple(r) for r in kcore_peel(df, k=2, rounds=3, reliable=True).collect()]
    assert kc_reliable == kc_default


def _sym(edges):
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def _large_star(edges):
    """Naive reference: connect every strictly-larger neighbor to the
    neighborhood minimum (including self)."""
    nbr = _sym(edges)
    m = nbr.groupBy("src").agg(F.min(F.least(F.col("dst"), F.col("src"))).alias("m"))
    return (
        nbr.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges):
    """Naive reference: point every smaller-or-equal neighbor at the
    neighborhood minimum."""
    nbr = _sym(edges).filter(F.col("dst") < F.col("src"))
    m = nbr.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        nbr.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(m.select(F.col("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


@pytest.mark.parametrize("seed,n,m", [(11, 25, 20), (12, 40, 60), (13, 12, 40)])
def test_star_round_equals_composed_stars(spark, seed, n, m):
    """r14 optimization guard: the fused one-round kernel (_star_round over
    the canonical edge form) is SET-identical to the composed
    _small_star(_large_star(sym)) it replaced — per round, not just at the
    fixed point."""
    from unravelsports_spark.operators.components import _canon, _star_round

    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fused = _canon(df)
    composed = _sym(df)
    # materialize each round exactly as connected_components does — both
    # star forms reference their input ~4x per round, so an unmaterialized
    # 3-round chain grows the plan ~4^6-fold and measures the planner, not
    # the kernel
    for _ in range(3):
        fused = _star_round(fused).localCheckpoint(eager=True)
        composed = _small_star(_large_star(composed)).localCheckpoint(eager=True)
        got = sorted(map(tuple, fused.collect()))
        want = sorted(map(tuple, composed.collect()))
        assert got == want
        # the fused round's output keeps the canonical invariant it relies on
        assert all(s > d for s, d in got)
