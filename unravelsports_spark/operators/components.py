"""Connected components over candidate-pair edges, in pure DataFrame ops.

The missing piece between near-duplicate *pairs* (dedup.py / similarity.py)
and dedup *decisions*: duplicate pairs form clusters, and each cluster keeps
one canonical document (its minimum id). This is the GraphX-connected-
components use case expressed Spark-DataFrame-first (GraphX is JVM/RDD-only
and not reachable from PySpark).

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014). Each round is two
hash-shuffles on the node id; rounds converge in O(log² n) — in practice a
handful — and every step is a plain groupBy/join, so AQE handles skew (a
celebrity node with millions of neighbors is exactly the skew-join case).

At 100 TB the edge list (LSH candidate pairs) is many orders smaller than
the corpus, so this runs on the pruned pair set, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _materialize(df: DataFrame, reliable: bool) -> DataFrame:
    """Per-round materialization for iterative chains. Default: eager
    localCheckpoint — truncates lineage, blocks stored NON-reliably (an
    executor loss after checkpointing fails the query; acceptable when a
    rerun is cheap). ``reliable=True`` swaps in ``checkpoint(eager=True)``
    — per-round writes to ``spark.sparkContext.setCheckpointDir`` storage,
    surviving executor loss — the ADVICE r7 #3 cluster fallback. The
    caller must have set a checkpoint dir; the error raised otherwise is
    Spark's own and names the fix."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _edge_table(pairs: DataFrame) -> tuple[DataFrame, int]:
    """The one edge table of the iterated graph operators, and its node
    count: the ``(id_a, id_b)`` candidate pairs made symmetric,
    self-loop-free (a NULL endpoint drops the pair), distinct, persisted
    (tracked for ``cache.release_tracked``) and already materialized.

    It is hash-partitioned on ``src`` with a PINNED partition count
    (spark.sql.shuffle.partitions — scale-adaptive config, not a constant).
    The consumers key on src: the pagerank contribution join and degree
    aggregation, the LPA label probe, the k-core degree and src semi-join. The
    layout is free (guide §2.4): the symmetrize dedup needs one exchange
    anyway, and hash(src) satisfies the (src, dst) dedup clustering, so
    repartition + dropDuplicates replaces distinct's own exchange instead of
    adding one. The count is pinned because an AQE-coalescible exchange would
    cache the table at whatever width AQE picked at build time, and a later
    join against a differently-numbered side would re-shuffle the EDGE side;
    pinning keeps the cached width equal to every aggregation's width so the
    node-sized side is the only thing that can move (the
    repartition_for_kernel trade, session.py).

    The node count builds the cache before any consumer is planned: an
    unmaterialized AQE-cached plan reports UnknownPartitioning, and the
    planner then puts a full-edge exchange above the cache scan in every
    iteration (caught by the non-broadcast plan walk in
    tests/test_plan_quality.py). A persisted table keeps its layout once
    built; a localCheckpoint of it would not."""
    from ..cache import tracked_persist

    try:
        n = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # managed runtimes may set the conf non-numeric (e.g. "auto");
        # fall back to the cluster-core default rather than crash here
        # (ADVICE r14)
        n = pairs.sparkSession.sparkContext.defaultParallelism
    raw = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    rev = raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    edges = tracked_persist(
        raw.unionByName(rev)
        .filter(F.col("src") != F.col("dst"))
        .repartition(n, F.col("src"))
        .dropDuplicates(["src", "dst"])
    )
    n_nodes = edges.select("src").distinct().count()
    return edges, n_nodes


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical directed form: one distinct (src, dst) row per undirected
    edge with src > dst, self-loops dropped. Half the rows of the symmetric
    form — the loop invariant of :func:`_star_round`."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest(F.col("src"), F.col("dst")).alias("src"),
            F.least(F.col("src"), F.col("dst")).alias("dst"),
        )
        .distinct()
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round over a CANONICAL edge set
    (src > dst, distinct) — set-identical to
    a large-star then a small-star step over the symmetric set (the naive
    reference in tests/test_components.py, property-tested head-to-head) with
    the shuffles the composed form pays between the steps removed
    (optimization guide §2.4):

    - the symmetric neighbor table is ``E ∪ rev(E)`` with NO distinct: the
      two branches are disjoint by the src>dst invariant (a shuffle saved);
    - large-star output always has src > dst, so small-star's
      re-symmetrize + filter + distinct is the identity on it and is
      dropped entirely (two more shuffles saved); its duplicates are
      harmless — min() is duplicate-insensitive and the round ends in the
      distinct both stars previously paid separately;
    - each star's neighbor table is hash-repartitioned on its key ONCE
      (AQE-coalescible: no pinned partition count) and feeds both the
      min-aggregation and the join from the same exchange, instead of
      shuffling once for the partial-agg and again for the join side.

    Net plan: 3 exchanges per round (nbr by src, large-star output by its
    src, final distinct) vs 8 for the composed form."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    nbr = edges.unionByName(rev).repartition(F.col("src"))
    m = nbr.groupBy("src").agg(F.min(F.least(F.col("dst"), F.col("src"))).alias("m"))
    large = (
        nbr.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .repartition(F.col("src"))
    )
    m2 = large.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        large.join(m2, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(m2.select(F.col("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(pairs: DataFrame, reliable: bool = False) -> DataFrame:
    """(id_a, id_b) undirected edges → (id, component) with component = min id
    reachable. Isolated nodes don't appear (callers left-join and coalesce to
    the node's own id). Star rounds run until the edge set is a star forest
    — they always get there (Kiveris et al. 2014), in a number of rounds
    that grows with the graph's diameter (13 for a 5,000-node path), so any
    fixed cap returns unconverged components on some input.
    ``reliable=True`` checkpoints each round to the session checkpoint dir
    instead of executor memory (see :func:`_materialize`)."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # materialize each round: truncates the exponentially-growing lineage
    # (the standard pattern for iterative DataFrame algorithms). The loop
    # carries the CANONICAL half-sized form; each round re-symmetrizes
    # with a shuffle-free union (see _star_round).
    edges = _materialize(_canon(edges), reliable)
    while True:
        edges = _materialize(_star_round(edges), reliable)
        # converged when the edge set is a star forest: no dst is also a
        # src, and no src has two parents (two roots of one component). One
        # map-side-combinable aggregation over the materialized round
        # (single exchange) instead of the distinct + semi-join form. It has
        # to read the round's OUTPUT, so it cannot ride the checkpoint job
        # as an observation (that would judge the input, one round late).
        roles = edges.select(F.col("src").alias("n"), F.lit(1).alias("r")).unionByName(
            edges.select(F.col("dst").alias("n"), F.lit(2).alias("r"))
        )
        open_nodes = (
            roles.groupBy("n")
            .agg(
                F.min("r").alias("lo"),
                F.max("r").alias("hi"),
                F.count(F.when(F.col("r") == 1, 1)).alias("parents"),
            )
            .filter(((F.col("lo") == 1) & (F.col("hi") == 2)) | (F.col("parents") > 1))
        )
        if open_nodes.isEmpty():
            break
    return edges.select(F.col("src").alias("id"), F.col("dst").alias("component"))


def pagerank(
    pairs: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank on an undirected pair graph → (id, pr).

    Boilerplate-triage signal on the near-dup candidate graph: a template
    page duplicated across thousands of URLs becomes a high-PR hub. Each
    iteration is one broadcast-free hash join (edges ⋈ ranks on src — both
    sides partitioned by node id, so a cluster co-partitions them once and
    reuses the exchange across iterations) plus one map-side-combinable
    aggregation on dst. The unbounded-iteration variant would converge on a
    residual; a fixed small iteration count is the production norm and keeps
    the query oracle-checkable.

    Cross-engine float discipline: per-edge contributions pr/deg are single
    IEEE divisions (deterministic); the per-node contribution sum rides
    DECIMAL(26,12); each iteration's rank is rounded to 9 decimals so the
    next round's inputs are engine-identical.
    """
    edges, n_nodes = _edge_table(pairs)
    # an exchange-free aggregation over the src-pinned cache
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = deg.select(
        "src", "deg", F.round(F.lit(1.0) / F.lit(n_nodes), 9).alias("pr")
    )
    for _ in range(iters):
        contrib = edges.join(ranks, "src").select(
            F.col("dst"),
            F.round(F.col("pr") / F.col("deg"), 12).cast("decimal(26,12)").alias("c"),
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").cast("double").alias("s"))
        ranks = (
            deg.join(sums, deg.src == sums.dst, "left")
            .select(
                "src",
                "deg",
                F.round(
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                    9,
                ).alias("pr"),
            )
        )
    return ranks.select(F.col("src").alias("id"), "pr")


def kcore_peel(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 4,
    reliable: bool = False,
) -> DataFrame:
    """Fixed-round k-core peeling on an undirected pair graph →
    (round, n_nodes, n_edges): round 0 is the input graph; each round
    drops every node whose CURRENT degree is < k, plus its incident
    edges. After enough rounds the survivors are exactly the k-core —
    the densest dedup clusters (a doc with >= k near-dup neighbors that
    themselves sit in dense neighborhoods), the standard triage for
    template/boilerplate families that pairwise thresholds overcount.

    Deterministic for any fixed (k, rounds), so the per-round survivor
    curve is hash-certifiable cross-engine (same contract as the
    unrolled-iteration pagerank/LPA oracles).

    Scale shape: the edge table is built once (:func:`_edge_table`,
    persisted and pinned on src) and never rewritten; the loop carries only
    node state, the live set. Each round computes the degree over the edges
    with BOTH endpoints live (two semi-joins against the node-sized live
    set; round 0 uses every edge), keeps the nodes with degree >= k as the
    next live set and materializes it (:func:`_materialize`). That one job
    also yields the round's curve row: an ``observe`` on the degree frame
    reads n_nodes = |deg| and n_edges = sum(deg) div 2 (every undirected
    edge counts twice in the degree total of the symmetric set), so no
    count job or union of per-round branches follows the loop. The curve
    comes back as a literal (round, n_nodes, n_edges) frame.

    Cluster caveat (ADVICE r7 #3, same trade as connected_components):
    eager localCheckpoint runs jobs at plan-construction time and stores
    blocks NON-reliably — losing an executor after a round checkpoints
    fails the query (lineage is truncated, Spark cannot recompute) and it
    must be rerun from the start. That is the right default here: the
    checkpointed live sets are node-sized, rounds are few, and a rerun is
    cheap relative to reliable-checkpoint I/O per round. For very long
    cluster runs, set ``spark.sparkContext.setCheckpointDir`` and pass
    ``reliable=True`` — each round then writes a reliable checkpoint,
    trading per-round HDFS I/O for executor-loss resilience.
    """
    edges, _ = _edge_table(pairs)
    live = edges
    curve = []
    for i in range(rounds + 1):
        obs = Observation()
        deg = (
            live.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .observe(
                obs,
                F.count("*").alias("n_nodes"),
                # sum() is NULL on a fully-peeled (empty) round: report 0
                F.coalesce(F.expr("sum(deg) div 2"), F.lit(0).cast("long")).alias(
                    "n_edges"
                ),
            )
        )
        alive = _materialize(deg.filter(F.col("deg") >= k).select("src"), reliable)
        curve.append((i, obs.get["n_nodes"], obs.get["n_edges"]))
        live = edges.join(alive, "src", "left_semi").join(
            alive.select(F.col("src").alias("dst")), "dst", "left_semi"
        )
    # a VALUES literal, not createDataFrame: a Python list becomes a pickled
    # RDD that starts Python workers, which nothing else here needs
    rows = ", ".join(f"({i}, {n}L, {e}L)" for i, n, e in curve)
    return edges.sparkSession.sql(
        f"SELECT * FROM VALUES {rows} AS curve(round, n_nodes, n_edges)"
    )


def label_propagation(pairs: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label propagation on an undirected pair graph →
    (id, label): community detection at finer granularity than connected
    components — a template family and the pages quoting it land in one
    component but separate communities. Labels start as node ids; each
    round every node adopts its neighbors' most frequent label, ties to
    the LOWEST label (fully deterministic synchronous variant, so a
    fixed iteration count is hash-certifiable cross-engine — the
    classic near-linear community algorithm of Raghavan et al. 2007).

    Scale shape: per round one hash join (symmetric edges ⋈ labels on the
    neighbor id — both sides partitioned by node id, co-partitioned once
    on a cluster) and two map-side-combinable aggregations ((id, label)
    vote counts, then a combinable max_by argmax per node — no window, no
    global sort). Edges persist across rounds; all arithmetic is exact
    integers."""
    edges, _ = _edge_table(pairs)
    # the node set comes off the src endpoint in the cache's hash(src)
    # layout, so the init distinct runs exchange-free
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for _ in range(iters):
        # one exchange per round: votes move to their node once; hash
        # partitioning on id alone satisfies the (id, label) clustering of
        # the vote count AND the (id) clustering of the argmax, so both
        # aggregations run exchange-free on top of it (previously the
        # (id, label) agg and the (id) agg each shuffled).
        votes = (
            edges.join(labels, edges.src == labels.id)
            .select(edges.dst.alias("id"), "label")
            .repartition(F.col("id"))
        )
        counted = votes.groupBy("id", "label").agg(F.count("*").alias("cnt"))
        labels = counted.groupBy("id").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
    return labels
