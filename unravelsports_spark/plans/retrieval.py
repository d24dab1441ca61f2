"""Retrieval queries: brute-force, LSH, IVF, PQ and IVF-PQ nearest-neighbour
search and their recall panel, k-means, BM25 and hybrid (reciprocal-rank)
ranking, and the embedding statistics, each with an exact DuckDB oracle
unless noted.

Embeddings are quantized to a 2^-20 integer grid where a distance must be
exact, so every sum and distance is int64 arithmetic on both engines; the
oracles are the naive single-node formulations (including CTE-unrolled
Lloyd rounds) of the Spark plans' scale-out decompositions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.pq import (
    Q,
    pq_adc_topk,
    pq_ivf_adc_topk,
    pq_ivf_residual_adc_topk,
    pq_train_codebook,
    pq_train_residual_codebook,
)
from ..operators.retrieval import bm25_scores
from ..operators.similarity import cosine_topk, with_nearest_centroid
from ..session import read_table
from . import query
from .dedup import _TOK, _cos_col, _cos_sql, _dbl, _dot_col, _emb
from .relational import dsum


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "s_ann_bruteforce",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 6) AS cosine
    FROM embeddings, q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def s_ann_bruteforce(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return cosine_topk(emb, [float(v) for v in qvec], k=10)


@query(
    "s_ann_top_pairs",
    oracle="""
    WITH sub AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 100)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    ORDER BY cosine DESC, id_a, id_b
    LIMIT 20
    """,
)
def s_ann_top_pairs(spark, sf_dir):
    """Pairwise near-duplicate detection over embeddings (the embedding-cosine
    near-dup path): exact top-20 most-similar pairs in a bounded subset."""
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    e = F.transform("embedding", lambda x: x.cast("double"))
    sub = emb.select("vec_id", e.alias("e"))
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    a, b = sub.alias("a"), sub.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                dot(F.col("a.e"), F.col("b.e"))
                / (F.sqrt(dot(F.col("a.e"), F.col("a.e"))) * F.sqrt(dot(F.col("b.e"), F.col("b.e")))),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "id_a", "id_b")
        .limit(20)
    )


def _cos_sql_guarded(a: str, b: str) -> str:
    """The DuckDB twin of the zero-norm guard in the Arrow cosine kernels
    (operators/similarity._cosine_vs_refs / _cosine_vs_queries_with_cell):
    cosine 0.0 when either norm is zero, the identical quotient otherwise
    (the THEN branch is byte-for-byte _cos_sql's formula). Use this in any
    oracle whose Spark side computes cosines through a guarded kernel —
    an unguarded oracle would NaN-rank exactly the rows the kernel zeroes
    (r10 review finding #1)."""
    denom = (
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    return (
        f"CASE WHEN {denom} > 0 THEN list_dot_product({a}, {b}) / {denom} "
        f"ELSE CAST(0.0 AS DOUBLE) END"
    )


@query(
    "s_ann_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes AS (SELECT vec_id AS plane_id, v AS p FROM e WHERE vec_id BETWEEN 1 AND 4),
    buckets AS (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(e.v, p.p) > 0
                           THEN 1 << (p.plane_id - 1) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id),
    be AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN buckets b ON e.vec_id = b.vec_id),
    q AS (SELECT bucket AS qbucket, v AS qv FROM be WHERE vec_id = 0)
    SELECT be.vec_id, ROUND({_cos_sql('be.v', 'q.qv')}, 6) AS cosine
    FROM be, q WHERE be.bucket = q.qbucket
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    headline=True,
)
def s_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (the scale path for similarity search): 4 hyperplanes
    (here drawn from the data itself so the oracle is expressible in SQL) give
    a 16-way sign bucket; the query probes only its own bucket, so the cosine
    is evaluated on ~1/16 of the corpus. Planes and the single query row are
    broadcast; the corpus side is never shuffled."""
    e = _emb(spark, sf_dir)
    planes = e.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("plane_id"), F.col("v").alias("p")
    )
    buckets = (
        e.crossJoin(F.broadcast(planes))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(_dot_col(F.col("v"), F.col("p")) > 0,
                       F.expr("shiftleft(1, cast(plane_id as int) - 1)")).otherwise(0)
            ).alias("bucket")
        )
    )
    from ..cache import tracked_persist

    # the bucketed table feeds both the broadcast query row and the corpus
    # probe side; persist so the bucket computation runs once
    be = tracked_persist(e.join(buckets, "vec_id"))
    q = be.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket"), F.col("v").alias("qv")
    )
    return (
        be.crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qbucket"))
        .select("vec_id", F.round(_cos_col(F.col("v"), F.col("qv")), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@query(
    "s_ann_ivf",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
      FROM e CROSS JOIN c),
    cells AS (SELECT vec_id, v, cid AS cell FROM scored WHERE rn = 1),
    q AS (SELECT cell AS qcell, v AS qv FROM cells WHERE vec_id = 7)
    SELECT cells.vec_id, ROUND({_cos_sql('cells.v', 'q.qv')}, 6) AS cosine
    FROM cells, q WHERE cells.cell = q.qcell
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def s_ann_ivf(spark, sf_dir):
    """IVF ANN: a small deterministic centroid set (every 50th vector — the
    k-means fit lives in operators/similarity.py; fixed seeds here keep the
    oracle expressible) partitions the corpus into cells via a broadcast
    nearest-centroid argmax; the query scans only its own cell."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    c = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    w = Window.partitionBy("vec_id").orderBy(
        _cos_col(F.col("v"), F.col("cv")).desc(), F.col("cid")
    )
    cells = (
        e.crossJoin(F.broadcast(c))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", F.col("cid").alias("cell"))
    )
    q = cells.filter(F.col("vec_id") == 7).select(
        F.col("cell").alias("qcell"), F.col("v").alias("qv")
    )
    return (
        cells.crossJoin(F.broadcast(q))
        .filter(F.col("cell") == F.col("qcell"))
        .select("vec_id", F.round(_cos_col(F.col("v"), F.col("qv")), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# Scale sf0.01: the MLlib LSH hash family has no SQL form, but the output is deterministic
# (seeded hash functions), verified across masters and partition counts before
# snapshotting; at any other scale it differs by construction.
@query(
    "s_ann_mllib_brp",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(1.18925 AS DOUBLE)),
      (CAST(73 AS BIGINT), CAST(1.187069 AS DOUBLE)),
      (CAST(190 AS BIGINT), CAST(1.198503 AS DOUBLE)),
      (CAST(320 AS BIGINT), CAST(1.193432 AS DOUBLE)),
      (CAST(365 AS BIGINT), CAST(1.122503 AS DOUBLE)),
      (CAST(387 AS BIGINT), CAST(1.1566 AS DOUBLE)),
      (CAST(388 AS BIGINT), CAST(1.203079 AS DOUBLE)),
      (CAST(423 AS BIGINT), CAST(1.185805 AS DOUBLE)),
      (CAST(464 AS BIGINT), CAST(1.202807 AS DOUBLE))
    ) AS t(vec_id, distance)
    """,
    scale="sf0.01",
)
def s_ann_mllib_brp(spark, sf_dir):
    """MLlib BucketedRandomProjectionLSH ANN (rows-only: the hash family is
    MLlib-internal, not SQL-expressible; seeded → deterministic)."""
    from ..operators.mllib_lsh import brp_ann_topk

    emb = read_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return brp_ann_topk(emb, [float(v) for v in qvec], k=10)


_KMEANS_D2 = """
      list_reduce(
        list_transform(range(1, len(e.embedding) + 1),
          i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))
             * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))),
        (a, b) -> a + b)
"""


@query(
    "s_kmeans_assign",
    oracle=f"""
    WITH cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cemb
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    d AS (
      SELECT e.vec_id, c.cell, {_KMEANS_D2} AS d2
      FROM embeddings e CROSS JOIN cent c
    ),
    best AS (
      SELECT vec_id, cell, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM d
    )
    SELECT cell, COUNT(*) AS n_members,
           CAST(SUM(CAST(d2 AS DECIMAL(18,8))) AS DOUBLE) AS inertia
    FROM best WHERE rn = 1 GROUP BY cell
    """,
)
def s_kmeans_assign(spark, sf_dir):
    """K-means assignment step (engine addition §2.12), exact oracle:
    deterministic init (8 lowest vec_ids), literal-centroid projection —
    zero shuffles for the assignment, one map-side-combinable agg for the
    per-cell stats. d2 folds left with acc=0.0 in both engines (0.0 + x is
    exact), inertia sums ride DECIMAL for order-independence."""
    emb = read_table(spark, sf_dir, "embeddings")
    init = emb.select("vec_id", "embedding").orderBy("vec_id").limit(8).collect()
    centroids = [[float(v) for v in r[1]] for r in init]
    import numpy as np

    assigned = with_nearest_centroid(emb, np.asarray(centroids))
    return assigned.groupBy("cell").agg(
        F.count("*").alias("n_members"),
        dsum("d2", 8).alias("inertia"),
    )


#: fixed query-term set for the BM25 oracle pair (all present in the corpus)
BM25_TERMS = ("join", "hash", "vector", "customer", "slow")


def _bm25_sql(terms=BM25_TERMS, k1: float = 1.2, b: float = 0.75, limit: int = 20) -> str:
    term_list = ", ".join(f"'{t}'" for t in terms)
    norm_len = "d.dl * i.n_docs / i.sum_dl"
    denom = f"q.tf + {_dbl(k1)} * ({_dbl(1.0)} - {_dbl(b)} + {_dbl(b)} * {norm_len})"
    numer = f"i.idf * (q.tf * {_dbl(k1 + 1.0)})"
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    qtf AS (SELECT * FROM tf WHERE term IN ({term_list})),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
    corpus AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                      (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS sum_dl),
    idf AS (
      SELECT term, COUNT(*) AS doc_freq, n_docs, sum_dl,
             ROUND(LN((n_docs - COUNT(*) + {_dbl(0.5)})
                      / (COUNT(*) + {_dbl(0.5)}) + {_dbl(1.0)}), 6) AS idf
      FROM qtf, corpus GROUP BY term, n_docs, sum_dl),
    scored AS (
      SELECT q.doc_id, ROUND({numer} / ({denom}), 6) AS term_score, d.dl
      FROM qtf q JOIN dl d ON q.doc_id = d.doc_id
      JOIN idf i ON q.term = i.term)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched, MIN(dl) AS dl,
           ROUND(CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE), 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {limit}
    """


@query("t_bm25_topk", oracle=_bm25_sql(), headline=True)
def t_bm25_topk(spark, sf_dir):
    """Okapi BM25 (Lucene idf) of a fixed query-term set, top-20 documents
    (engine addition §2.12, operators/retrieval.py). All Catalyst and fully
    wide: zero explodes, zero corpus shuffles — one tokenize projection into
    a compact per-doc stats cache, one broadcast 1-row corpus agg, pure
    projection scoring, TakeOrderedAndProject for the top-k."""
    d = read_table(spark, sf_dir, "documents")
    return (
        bm25_scores(d, list(BM25_TERMS))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def _assign_sql(dims: str, cb: str, out: str) -> str:
    """Lloyd assignment CTE: nearest centroid per (vector, subspace), ties
    to the lowest cluster id — mirrors Spark's array_min over (d, c) structs."""
    return f"""
    {out} AS (
      SELECT vec_id, m, cluster FROM (
        SELECT d.vec_id, d.m, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                                  ORDER BY SUM((d.v - c.c) * (d.v - c.c)), c.cluster) AS rk
        FROM {dims} d JOIN {cb} c ON d.m = c.m AND d.d = c.d
        GROUP BY d.vec_id, d.m, c.cluster) WHERE rk = 1)"""


def _update_sql(dims: str, prev_cb: str, a: str, out: str) -> str:
    """Lloyd update CTE: floor-mean per (subspace, cluster, dim); empty
    clusters carry the previous centroid (COALESCE)."""
    return f"""
    {out} AS (
      SELECT c0.m, c0.cluster, c0.d, COALESCE(u.c_new, c0.c) AS c
      FROM {prev_cb} c0 LEFT JOIN (
        SELECT a.m, a.cluster, d.d,
               CAST(FLOOR(SUM(d.v) / COUNT(*)) AS BIGINT) AS c_new
        FROM {a} a JOIN {dims} d ON a.vec_id = d.vec_id AND a.m = d.m
        GROUP BY a.m, a.cluster, d.d) u
      ON c0.m = u.m AND c0.cluster = u.cluster AND c0.d = u.d)"""


def _lloyd_rounds_sql(dims: str, cb0: str, n_rounds: int, prefix: str) -> tuple[str, str]:
    """Chain n assignment/update CTE pairs; returns (sql, final cb name)."""
    rounds = []
    cb = cb0
    for r in range(1, n_rounds + 1):
        rounds.append(_assign_sql(dims, cb, f"{prefix}a{r}"))
        rounds.append(_update_sql(dims, cb, f"{prefix}a{r}", f"{prefix}cb{r}"))
        cb = f"{prefix}cb{r}"
    return ",".join(rounds), cb


def _pq_sql() -> str:
    """DuckDB oracle for s_ann_pq: unrolls the identical integer Lloyd
    rounds as CTEs (per-dim row formulation — algebraically the same exact
    int64 math as the Spark array-fold projections)."""

    def assign(cb: str, out: str) -> str:
        return _assign_sql("dims", cb, out)

    rounds_sql, cb = _lloyd_rounds_sql("dims", "cb0", 2, "")
    code_cols = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN cluster END) AS code{m}" for m in range(4)
    )
    return f"""
    WITH iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    dims AS (SELECT vec_id, pos // 16 AS m, pos % 16 AS d, v FROM iq),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT 16)),
    cb0 AS (
      SELECT d.m, s.cluster, d.d, d.v AS c FROM seeds s JOIN dims d USING (vec_id)),
    {rounds_sql},
    {assign(cb, "codes").strip().rstrip()},
    q AS (SELECT m, d, v FROM dims WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
    lut AS (
      SELECT c.m, c.cluster, SUM((q.v - c.c) * (q.v - c.c)) AS qd
      FROM {cb} c JOIN q ON c.m = q.m AND c.d = q.d
      GROUP BY c.m, c.cluster),
    pivoted AS (
      SELECT vec_id, {code_cols}
      FROM codes GROUP BY vec_id),
    adc AS (
      SELECT codes.vec_id, CAST(SUM(lut.qd) AS BIGINT) AS adc_dist
      FROM codes JOIN lut ON codes.m = lut.m AND codes.cluster = lut.cluster
      GROUP BY codes.vec_id)
    SELECT p.vec_id, {", ".join(f"CAST(p.code{m} AS BIGINT) AS code{m}" for m in range(4))},
           a.adc_dist
    FROM pivoted p JOIN adc a USING (vec_id)
    ORDER BY a.adc_dist, p.vec_id
    LIMIT 20
    """


@query("s_ann_pq", oracle=_pq_sql())
def s_ann_pq(spark, sf_dir):
    """Product-quantization ANN (operators/pq.py): exact-integer Lloyd
    codebook (M=4 subspaces × 16 centroids, 2 rounds, smallest-id seeds),
    byte-code encoding, and asymmetric-distance top-20 vs the min-id query
    vector. The whole pipeline is hash-certified against a DuckDB CTE unroll
    of the identical int64 math."""
    emb = read_table(spark, sf_dir, "embeddings")
    codebook = pq_train_codebook(emb, m_subspaces=4, k=16, n_rounds=2)
    qrow = emb.orderBy("vec_id").limit(1).select("embedding").first()[0]
    import math

    query_int = [int(math.floor(float(v) * Q)) for v in qrow]
    return pq_adc_topk(emb, codebook, query_int, top=20)


def _ivfpq_sql() -> str:
    """DuckDB oracle for s_ann_ivfpq: coarse Lloyd (1 subspace over the full
    vector) for cell assignment + probe selection, then the PQ rounds, then
    ADC over candidates in the probed cells only."""
    coarse_rounds, ccb = _lloyd_rounds_sql("cdims", "ccb0", 1, "c")
    pq_rounds, cb = _lloyd_rounds_sql("dims", "cb0", 2, "")
    return f"""
    WITH iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    dims AS (SELECT vec_id, pos // 16 AS m, pos % 16 AS d, v FROM iq),
    cdims AS (SELECT vec_id, 0 AS m, pos AS d, v FROM iq),
    cseeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT 8)),
    ccb0 AS (
      SELECT d.m, s.cluster, d.d, d.v AS c FROM cseeds s JOIN cdims d USING (vec_id)),
    {coarse_rounds},
    {_assign_sql("cdims", ccb, "cells").strip()},
    q AS (SELECT m, d, v FROM cdims WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
    probes AS (
      SELECT cluster AS cell FROM (
        SELECT c.cluster,
               ROW_NUMBER() OVER (ORDER BY SUM((q.v - c.c) * (q.v - c.c)), c.cluster) AS rk
        FROM {ccb} c JOIN q ON c.d = q.d
        GROUP BY c.cluster) WHERE rk <= 2),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT 16)),
    cb0 AS (
      SELECT d.m, s.cluster, d.d, d.v AS c FROM seeds s JOIN dims d USING (vec_id)),
    {pq_rounds},
    {_assign_sql("dims", cb, "codes").strip()},
    pqq AS (SELECT m, d, v FROM dims WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
    lut AS (
      SELECT c.m, c.cluster, SUM((pqq.v - c.c) * (pqq.v - c.c)) AS qd
      FROM {cb} c JOIN pqq ON c.m = pqq.m AND c.d = pqq.d
      GROUP BY c.m, c.cluster),
    adc AS (
      SELECT codes.vec_id, CAST(SUM(lut.qd) AS BIGINT) AS adc_dist
      FROM codes JOIN lut ON codes.m = lut.m AND codes.cluster = lut.cluster
      WHERE codes.vec_id IN (
        SELECT vec_id FROM cells WHERE cluster IN (SELECT cell FROM probes))
      GROUP BY codes.vec_id)
    SELECT a.vec_id, CAST(cl.cluster AS BIGINT) AS cell, a.adc_dist
    FROM adc a JOIN cells cl ON a.vec_id = cl.vec_id
    ORDER BY a.adc_dist, a.vec_id
    LIMIT 10
    """


def _ivfpq_residual_sql() -> str:
    """DuckDB oracle for s_ann_ivfpq_residual: the FAISS IVFPQ recipe —
    PQ codebook trained on coarse-cell residuals; ADC uses the query's
    per-cell residual."""
    coarse_rounds, ccb = _lloyd_rounds_sql("cdims", "ccb0", 1, "c")
    pq_rounds, rcb = _lloyd_rounds_sql("rdims", "rcb0", 2, "r")
    return f"""
    WITH iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    dims AS (SELECT vec_id, pos // 16 AS m, pos % 16 AS d, v FROM iq),
    cdims AS (SELECT vec_id, 0 AS m, pos AS d, v FROM iq),
    cseeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT 8)),
    ccb0 AS (
      SELECT d.m, s.cluster, d.d, d.v AS c FROM cseeds s JOIN cdims d USING (vec_id)),
    {coarse_rounds},
    {_assign_sql("cdims", ccb, "cells").strip()},
    q AS (SELECT m, d, v FROM cdims WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
    probes AS (
      SELECT cluster AS cell FROM (
        SELECT c.cluster,
               ROW_NUMBER() OVER (ORDER BY SUM((q.v - c.c) * (q.v - c.c)), c.cluster) AS rk
        FROM {ccb} c JOIN q ON c.d = q.d
        GROUP BY c.cluster) WHERE rk <= 2),
    rdims AS (
      SELECT d.vec_id, d.m, d.d, d.v - cc.c AS v
      FROM dims d
      JOIN cells cl ON d.vec_id = cl.vec_id
      JOIN {ccb} cc ON cc.cluster = cl.cluster AND cc.d = d.m * 16 + d.d),
    rseeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM rdims ORDER BY vec_id LIMIT 16)),
    rcb0 AS (
      SELECT d.m, s.cluster, d.d, d.v AS c FROM rseeds s JOIN rdims d USING (vec_id)),
    {pq_rounds},
    {_assign_sql("rdims", rcb, "rcodes").strip()},
    qres AS (
      SELECT cc.cluster AS cell, q.d // 16 AS m, q.d % 16 AS d,
             q.v - cc.c AS v
      FROM q JOIN {ccb} cc ON cc.d = q.d),
    lut AS (
      SELECT qr.cell, c.m, c.cluster, SUM((qr.v - c.c) * (qr.v - c.c)) AS qd
      FROM {rcb} c JOIN qres qr ON qr.m = c.m AND qr.d = c.d
      GROUP BY 1, 2, 3),
    adc AS (
      SELECT rc.vec_id, CAST(cl.cluster AS BIGINT) AS cell,
             CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM rcodes rc
      JOIN cells cl ON rc.vec_id = cl.vec_id
      JOIN lut l ON l.cell = cl.cluster AND l.m = rc.m AND l.cluster = rc.cluster
      WHERE cl.cluster IN (SELECT cell FROM probes)
      GROUP BY 1, 2)
    SELECT vec_id, cell, adc_dist FROM adc
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """


@query("s_ann_ivfpq_residual", oracle=_ivfpq_residual_sql())
def s_ann_ivfpq_residual(spark, sf_dir):
    """Residual IVF-PQ (the exact FAISS IVFPQ recipe): PQ codebook trained
    on coarse-cell residuals, per-cell query-residual ADC tables, probe
    pruning. All int64-exact; hash-certified vs a CTE unroll of both
    codebooks over the residual table."""
    emb = read_table(spark, sf_dir, "embeddings")
    coarse = pq_train_codebook(emb, m_subspaces=1, k=8, n_rounds=1)
    rcb = pq_train_residual_codebook(emb, coarse, m_subspaces=4, k=16, n_rounds=2)
    qrow = emb.orderBy("vec_id").limit(1).select("embedding").first()[0]
    import math

    query_int = [int(math.floor(float(v) * Q)) for v in qrow]
    return pq_ivf_residual_adc_topk(emb, coarse, rcb, query_int, n_probe=2, top=10)


@query("s_ann_ivfpq", oracle=_ivfpq_sql())
def s_ann_ivfpq(spark, sf_dir):
    """IVF-PQ ANN (operators/pq.py:pq_ivf_adc_topk): 8 coarse cells prune
    the corpus to 2 probed inverted lists, PQ ADC ranks only those
    candidates — the FAISS-style layout where, with a cell-partitioned
    parquet layout, the probe filter becomes partition pruning. Exact int64
    end-to-end; hash-certified vs a CTE unroll of both codebooks.

    Both codebooks train in one pq_train_codebooks call (one shared seed
    collect, one assignment pass + stats collect per round covering both;
    each codebook is tested equal to training it alone) over one persisted
    int-grid frame that the ADC scan and query row reuse."""
    from ..cache import tracked_persist
    from ..operators.pq import _int_grid, pq_train_codebooks

    emb = read_table(spark, sf_dir, "embeddings")
    iq = tracked_persist(
        emb.select(F.col("vec_id").alias("_id"), _int_grid("embedding").alias("iq"))
    )
    coarse, codebook = pq_train_codebooks(iq, [(1, 8, 1), (4, 16, 2)])
    query_int = [int(v) for v in iq.orderBy("_id").limit(1).select("iq").first()[0]]
    return pq_ivf_adc_topk(
        None, coarse, codebook, query_int, n_probe=2, top=10,
        iq_df=iq.select(F.col("_id").alias("vec_id"), "iq"),
    )


# ---------------------------------------------------------------------------
# Round-5 certification: s_kmeans_fit on the exact int64 grid — the same
# 2^-20 quantization + floor-mean Lloyd discipline that made the PQ family
# hash-certifiable.
# ---------------------------------------------------------------------------

_KM_K = 8


_KM_ROUNDS = 3


def _kmeans_fit_sql() -> str:
    """DuckDB oracle: CTE-unrolled integer Lloyd (single subspace = plain
    k-means over the whole vector), then the final assignment's cluster
    profile. Same _assign/_update CTE builders as the PQ oracles."""
    rounds_sql, cb = _lloyd_rounds_sql("dims", "cb0", _KM_ROUNDS, "")
    return f"""
    WITH iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    dims AS (SELECT vec_id, 0 AS m, pos AS d, v FROM iq),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT {_KM_K})),
    cb0 AS (
      SELECT d.m, s.cluster, d.d, d.v AS c FROM seeds s JOIN dims d USING (vec_id)),
    {rounds_sql},
    final_d AS (
      SELECT d.vec_id, c.cluster, SUM((d.v - c.c) * (d.v - c.c)) AS d2
      FROM dims d JOIN {cb} c ON d.m = c.m AND d.d = c.d
      GROUP BY d.vec_id, c.cluster),
    best AS (
      SELECT vec_id, cluster, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
      FROM final_d)
    SELECT cluster AS cell, COUNT(*) AS n_members,
           CAST(SUM(d2) AS BIGINT) AS inertia
    FROM best WHERE rk = 1 GROUP BY 1
    """


@query("s_kmeans_fit", oracle=_kmeans_fit_sql())
def s_kmeans_fit(spark, sf_dir):
    """Distributed Lloyd's (3 rounds, k=8) on the 2^-20 integer grid, then
    the trained model's cluster profile ``(cell, n_members, inertia)`` —
    exact int64 end-to-end, hash-certified against a CTE unroll of the
    identical rounds (previously the lone rows-only relational entry).

    Scale shape: per round, assignment is a zero-join projection against
    literal centroids and the update shuffle carries k x D sufficient-stat
    rows, not the corpus; the final profile is one map-side-combinable agg.
    """
    from ..operators.pq import _dist2, _int_grid

    emb = read_table(spark, sf_dir, "embeddings")
    codebook = pq_train_codebook(
        emb, m_subspaces=1, k=_KM_K, n_rounds=_KM_ROUNDS
    )
    cents = codebook[0]
    iq = emb.select(_int_grid("embedding").alias("iq"))
    dists = F.array(
        *[
            F.struct(
                _dist2(F.col("iq"), F.array(*[F.lit(x) for x in c])).alias("d"),
                F.lit(ci).alias("c"),
            )
            for ci, c in enumerate(cents)
        ]
    )
    return (
        iq.select(F.array_min(dists).alias("b"))
        .groupBy(F.col("b.c").cast("bigint").alias("cell"))
        .agg(F.count("*").alias("n_members"), F.sum("b.d").alias("inertia"))
    )


# ---------------------------------------------------------------------------
# Round-6: certified ANN recall — the IVF and IVF-PQ approximation quality
# as hash-checked exact counts against ground truth (the s_ann_* twins
# certify the VALUES each method returns; this certifies how much of the
# true top-k those values cover), mirroring d_semdedup_recall.
# ---------------------------------------------------------------------------

_ANN_RECALL_NQ = 20  # query vectors (vec_id < 20), top-10 each


_ANN_RECALL_K = 10


def _ann_recall_sql() -> str:
    from .dedup import _cos_sql

    nq, k = _ANN_RECALL_NQ, _ANN_RECALL_K
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {nq}),
    allp AS (
      SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
                                ORDER BY {_cos_sql_guarded('e.v', 'q.qv')} DESC, e.vec_id) AS rk
      FROM e CROSS JOIN qs q),
    exact AS (SELECT qid, vec_id FROM allp WHERE rk <= {k}),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {_cos_sql_guarded('e.v', 'c.cv')} DESC, c.cid) AS rn
      FROM e CROSS JOIN c),
    cells AS (SELECT vec_id, v, cid AS cell FROM scored WHERE rn = 1),
    qcells AS (
      SELECT q.qid, q.qv, c.cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY q.qid
                                ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cid) AS prk
      FROM qs q CROSS JOIN c),
    probes AS (SELECT 1 AS p UNION ALL SELECT 2),
    ret AS (
      SELECT pr.p, qc.qid, cells.vec_id,
             ROW_NUMBER() OVER (PARTITION BY pr.p, qc.qid
                                ORDER BY {_cos_sql_guarded('cells.v', 'qc.qv')} DESC,
                                         cells.vec_id) AS rk
      FROM qcells qc
      JOIN cells ON cells.cell = qc.cell
      CROSS JOIN probes pr
      WHERE qc.prk <= pr.p),
    retk AS (SELECT p, qid, vec_id FROM ret WHERE rk <= {k}),
    ivf AS (
      SELECT 'ivf_p' || CAST(p AS VARCHAR) AS method,
             (SELECT COUNT(*) FROM exact) AS n_exact,
             COUNT(*) AS n_retrieved,
             CAST(SUM(CASE WHEN EXISTS (
               SELECT 1 FROM exact x
               WHERE x.qid = retk.qid AND x.vec_id = retk.vec_id)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_common
      FROM retk GROUP BY p),
    iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    qint AS (SELECT pos, v FROM iq WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
    l2 AS (
      SELECT iq.vec_id, SUM((iq.v - qint.v) * (iq.v - qint.v)) AS d2
      FROM iq JOIN qint USING (pos) GROUP BY iq.vec_id),
    gt AS (SELECT vec_id FROM l2 ORDER BY d2, vec_id LIMIT {k}),
    pqret AS (SELECT vec_id FROM ({{ivfpq}})),
    ivfpq AS (
      SELECT 'ivfpq_p2' AS method,
             (SELECT COUNT(*) FROM gt) AS n_exact,
             (SELECT COUNT(*) FROM pqret) AS n_retrieved,
             (SELECT COUNT(*) FROM gt g
               WHERE EXISTS (SELECT 1 FROM pqret r WHERE r.vec_id = g.vec_id))
               AS n_common)
    SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_retrieved AS BIGINT) AS n_retrieved,
           CAST(n_common AS BIGINT) AS n_common
    FROM ivf
    UNION ALL
    SELECT method, CAST(n_exact AS BIGINT), CAST(n_retrieved AS BIGINT),
           CAST(n_common AS BIGINT)
    FROM ivfpq
    """.replace("{ivfpq}", _ivfpq_sql())


@query("s_ann_recall", oracle=_ann_recall_sql(), headline=True)
def s_ann_recall(spark, sf_dir):
    """Certified ANN recall (VERDICT r5 #4): for the IVF path, the top-10
    retrieved sets of 20 query vectors at probe depths 1 and 2 are compared
    against exact brute-force cosine top-10 ground truth; for IVF-PQ, the
    certified s_ann_ivfpq retrieval (8 coarse cells, probe 2, int64 ADC) is
    compared against exact integer-grid L2 top-10. Output is exact counts
    (method, n_exact, n_retrieved, n_common) — n_common / n_exact IS the
    recall, as a hash-checked number rather than prose. Probe depth 2
    beating depth 1 is the multi-probe amplification claim, certified.

    Scale shape (r9 restructure, VERDICT r8 #5): ONE vectorized Arrow pass
    over the corpus emits, per (vector, query) pair, the cosine AND the
    vector's nearest-centroid cell — the argmax happens inside the Arrow
    batch (operators/similarity.py:_cosine_vs_queries_with_cell), so the
    IVF cell assignment costs no shuffle, no (vec x centroid) intermediate,
    and no retrieval join. Which cells each query probes at each depth is
    O(model) driver arithmetic inlined as a literal map, so exact rank,
    both probe-depth retrieval ranks (running conditional counts over the
    SAME qid window — a probed-subset rank needs no second partition key),
    and all nine counts resolve in ONE window + ONE single-row aggregate:
    two exchanges end-to-end where the r8 plan had five plus three
    persisted intermediates. The IVF-PQ branch quantizes the corpus to the
    int grid ONCE into a persisted frame shared by the coarse training,
    the PQ training, the query row, the ADC retrieval, and the exact
    ground truth. Collected values are bounded driver state (the 20-query
    / 40-centroid panels, k·D training stats per round, and 9 count
    scalars)."""
    import math

    from pyspark.sql import Window

    from ..cache import release_tracked, tracked_persist
    from ..operators.pq import _int_grid
    from ..operators.similarity import _cosine_vs_queries_with_cell
    from .dedup import _emb

    nq, k = _ANN_RECALL_NQ, _ANN_RECALL_K
    e = _emb(spark, sf_dir)
    # ONE panel collect (queries: vec_id < nq; centroids: vec_id % 50 == 0
    # — a vector may serve both roles, e.g. vec_id 0)
    panel = (
        e.filter((F.col("vec_id") < nq) | (F.col("vec_id") % 50 == 0))
        .select("vec_id", "v")
        .collect()
    )
    queries = [(r["vec_id"], list(r["v"])) for r in panel if r["vec_id"] < nq]
    cents = [
        (r["vec_id"], list(r["v"])) for r in panel if r["vec_id"] % 50 == 0
    ]
    # query probe cells: O(model) driver arithmetic, same dim-ascending
    # accumulation as the kernel/oracle so the probe ranking cannot diverge.
    # Unguarded like the oracle's panel-side prk site: zero-norm PANEL
    # vectors (queries/centroids) are a model-input precondition — only
    # CORPUS-side zero norms get the kernel/oracle 0.0 guard (r10 review)
    def _cos(a, b):
        dot = n2a = n2b = 0.0
        for x, y in zip(a, b):
            dot += x * y
            n2a += x * x
            n2b += y * y
        return dot / (math.sqrt(n2a) * math.sqrt(n2b))

    rows = []
    if queries:
        pairs = _cosine_vs_queries_with_cell(e, queries, cents)
        # (qid, cell) -> probe rank, inlined as a literal map (40 entries);
        # keys pack as qid * 2^40 + cell (cell ids are vec_ids < 2^40)
        _OFF = 1 << 40
        prk_entries = []
        for qid, qv in queries:
            ranked = sorted(((-_cos(qv, cv), cid) for cid, cv in cents))[:2]
            for prk, (_, cid) in enumerate(ranked, start=1):
                prk_entries += [
                    F.lit(int(qid) * _OFF + int(cid)), F.lit(prk)
                ]
        prk = F.element_at(
            F.create_map(*prk_entries), F.col("qid") * _OFF + F.col("cell")
        )
        # ONE window: exact rank = row_number over the full qid partition;
        # depth-p retrieval rank = RUNNING COUNT of probed rows in the same
        # total order (the probed subset keeps the partition's order, so
        # its rank is a conditional running sum — no second partition key,
        # no join). vec_id is unique, so the ROWS frame equals the logical
        # RANGE semantics.
        w = (
            Window.partitionBy("qid")
            .orderBy(F.col("cosine").desc(), "vec_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        m1 = F.col("_prk") == 1
        m2 = F.col("_prk").isNotNull()
        scored = pairs.withColumn("_prk", prk).select(
            (F.row_number().over(w) <= k).alias("ex"),
            (m1 & (F.sum(m1.cast("int")).over(w) <= k)).alias("r1"),
            (m2 & (F.sum(m2.cast("int")).over(w) <= k)).alias("r2"),
        )
        c = scored.agg(
            F.sum(F.col("ex").cast("long")).alias("n_exact"),
            F.sum(F.col("r1").cast("long")).alias("n_ret1"),
            F.sum((F.col("r1") & F.col("ex")).cast("long")).alias("n_common1"),
            F.sum(F.col("r2").cast("long")).alias("n_ret2"),
            F.sum((F.col("r2") & F.col("ex")).cast("long")).alias("n_common2"),
        ).collect()[0]
        n_exact = int(c["n_exact"] or 0)
        for p in (1, 2):
            rows.append(
                (f"ivf_p{p}", n_exact,
                 int(c[f"n_ret{p}"] or 0), int(c[f"n_common{p}"] or 0))
            )
    else:  # pragma: no cover — degenerate corpus without vec_id < nq
        rows += [("ivf_p1", 0, 0, 0), ("ivf_p2", 0, 0, 0)]
    # IVF-PQ branch: certified retrieval vs exact integer-grid L2 top-k.
    # The corpus quantizes to the int grid ONCE; the persisted frame feeds
    # both trainings, the query row, the ADC retrieval, and the ground
    # truth (identical values to per-step quantization by construction:
    # double-cast of the float32 source then FLOOR*2^20, see operators/pq).
    from ..operators.pq import _dist2, pq_train_codebooks

    iq = tracked_persist(
        e.select(F.col("vec_id").alias("_id"), _int_grid("v").alias("iq"))
    )
    # one shared seed collect, one assignment+stats job per round for BOTH
    # codebooks (each tested equal to training it alone)
    coarse, codebook = pq_train_codebooks(iq, [(1, 8, 1), (4, 16, 2)])
    # the min-id query vector is already IN the collected panel (vec_ids
    # start below nq), so quantize it driver-side with the identical
    # floor(double * 2^20) — no separate first() job; panel-emptiness
    # falls back to the frame probe for safety
    if queries:
        qv_min = min(queries, key=lambda t: t[0])[1]
        query_int = [int(math.floor(float(x) * Q)) for x in qv_min]
    else:  # pragma: no cover — nq>0 queries always exist on the testdata
        query_int = [
            int(v) for v in iq.orderBy("_id").limit(1).select("iq").first()[0]
        ]
    iq_named = iq.select(F.col("_id").alias("vec_id"), "iq")
    pqret = pq_ivf_adc_topk(
        None, coarse, codebook, query_int, n_probe=2, top=k, iq_df=iq_named
    ).select("vec_id")
    qlit = F.array(*[F.lit(int(v)).cast("bigint") for v in query_int])
    gt = (
        iq_named.select("vec_id", _dist2(F.col("iq"), qlit).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(k)
        .select("vec_id")
    )
    # single action: gt and the retrieval are both top-k (tiny); the full
    # outer join counts both sides and the overlap at once
    r = (
        gt.withColumn("_g", F.lit(1))
        .join(pqret.withColumn("_p", F.lit(1)), "vec_id", "full_outer")
        .agg(
            F.sum(F.coalesce(F.col("_g"), F.lit(0))).alias("n_gt"),
            F.sum(F.coalesce(F.col("_p"), F.lit(0))).alias("n_ret"),
            F.sum(
                F.when(F.col("_g").isNotNull() & F.col("_p").isNotNull(), 1).otherwise(0)
            ).alias("n_common"),
        )
        .first()
    )
    rows.append(("ivfpq_p2", int(r["n_gt"]), int(r["n_ret"]), int(r["n_common"])))
    release_tracked()
    return spark.createDataFrame(
        rows, "method string, n_exact bigint, n_retrieved bigint, n_common bigint"
    )


# ---------------------------------------------------------------------------
# Round-7: hybrid retrieval — BM25 lexical top-k fused with dense-cosine
# top-k by reciprocal-rank fusion (Cormack et al. 2009), the standard RAG
# first-stage ranker. Composes the certified t_bm25_topk scoring CTEs and
# the certified s_ann_bruteforce cosine ordering; both ranked lists and the
# fused scores are hash-exact.
# ---------------------------------------------------------------------------

_RRF_K = 60       # the canonical RRF damping constant


_RRF_DEPTH = 20   # per-ranker candidate depth


_RRF_TOP = 10     # fused output size


def _hybrid_rrf_sql() -> str:

    d, top, kk = _RRF_DEPTH, _RRF_TOP, _RRF_K
    one = "CAST(1.0 AS DOUBLE)"
    return f"""
    WITH lexk AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
      FROM ({_bm25_sql(limit=d)})),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e
          WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
    dense AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY {_cos_sql_guarded('e.v', 'q.qv')} DESC,
                                vec_id) AS r_dense
      FROM e, q),
    densek AS (SELECT vec_id, r_dense FROM dense WHERE r_dense <= {d}),
    fused AS (
      SELECT COALESCE(l.doc_id, dn.vec_id) AS doc_id,
             CAST((l.doc_id IS NOT NULL) AS INTEGER)
               + CAST((dn.vec_id IS NOT NULL) AS INTEGER) AS n_lists,
             ROUND(COALESCE({one} / ({kk} + l.r_lex), 0)
                   + COALESCE({one} / ({kk} + dn.r_dense), 0), 6) AS rrf
      FROM lexk l FULL OUTER JOIN densek dn ON l.doc_id = dn.vec_id)
    SELECT doc_id, n_lists, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {top}
    """


@query("t_hybrid_rrf", oracle=_hybrid_rrf_sql(), headline=True)
def t_hybrid_rrf(spark, sf_dir):
    """Hybrid first-stage retrieval (engine addition §2.12): the BM25
    top-20 for the fixed lexical query and the cosine top-20 for the
    corpus's first embedding (vec_id == doc_id, as in t_full_pipeline_e2e)
    fuse by reciprocal rank — rrf = Σ 1/(60 + rank) over the rankings that
    retrieved the doc — and the top-10 fused docs come back with how many
    rankers found them. Both ranks use full (score DESC, id) tie-breaks,
    so the fused ordering is engine-exact.

    Scale shape: the lexical side is the certified zero-explode BM25 plan
    (compact per-doc stats + 1-row corpus agg collected driver-side +
    TakeOrderedAndProject); the dense side is ONE _cosine_vs_refs Arrow
    pass against the O(1) query panel + TakeOrderedAndProject. Ranks
    materialize on the two ≤20-row lists (row_number windows AFTER the
    top-k, so no single-partition window ever sees the corpus); the fusion
    is a 20x20 full-outer join. Driver state: one query vector. The rank
    and fusion math is the SHARED operators/retrieval.py:rank_topk /
    rrf_fuse — the example pipeline calls the same code, so the formula
    cannot drift from this certified query."""
    from ..operators.retrieval import bm25_scores, rank_topk, rrf_fuse
    from ..operators.similarity import _cosine_vs_refs
    from .dedup import _emb

    d = read_table(spark, sf_dir, "documents")
    lexk = rank_topk(
        bm25_scores(d, list(BM25_TERMS)), "bm25", "doc_id", _RRF_DEPTH, "r_lex"
    )
    e = _emb(spark, sf_dir)
    qrow = e.orderBy("vec_id").limit(1).select("vec_id", "v").collect()[0]
    densek = rank_topk(
        _cosine_vs_refs(e, [(qrow["vec_id"], list(qrow["v"]))], ref_id_name="qid")
        .withColumnRenamed("vec_id", "doc_id"),
        "cosine", "doc_id", _RRF_DEPTH, "r_dense",
    )
    return rrf_fuse([lexk, densek], k_rrf=_RRF_K, top=_RRF_TOP)


# ---------------------------------------------------------------------------
# Cluster-balanced subsampling (operators/similarity.py, r9 build — SQL
# twin verified in tests/test_pipeline_ops.py)
# ---------------------------------------------------------------------------

#: euclid d2 between two DuckDB lists — the same left-to-right
#: dim-ascending fold sequence as operators/similarity.with_nearest_centroid
#: (and, on the Spark driver side, ann_search_from_index's probe ranking).
#: ONE template for every consumer in this file (r10 review finding #5: a
#: second hand-copied variant desynchronizes silently).
_D2_SQL = """
      list_reduce(
        list_transform(range(1, len({a}) + 1),
          i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
             * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))),
        (x, y) -> x + y)
"""


_CBS_D2 = _D2_SQL.format(a="e.embedding", b="c.cemb")


@query(
    "s_cluster_balanced_sample",
    oracle=f"""
    WITH cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
             embedding AS cemb
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
    d AS (SELECT e.vec_id, c.cell, {_CBS_D2} AS d2
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
    """,
)
def s_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced subsampling (the SemDeDup / DiverseSample recipe:
    spread the sampling budget EVENLY across embedding-space cells so the
    kept set covers the distribution instead of over-sampling its modes;
    operators/similarity.py): nearest-centroid assignment is a literal
    projection (zero shuffles), the per-cell top-5 rank runs over a
    PROJECTED (cell, id) frame — the one shuffle carries ids and hash
    keys, never the 64-dim vectors — and the kept order is deterministic
    md5(id), stable under any partitioning. Certified per-cell rollup:
    (cell, n_kept, sum of kept ids, max pick rank)."""
    import numpy as np

    from ..operators.similarity import cluster_balanced_sample

    emb = read_table(spark, sf_dir, "embeddings")
    init = emb.select("vec_id", "embedding").orderBy("vec_id").limit(8).collect()
    cents = np.asarray([[float(v) for v in r[1]] for r in init])
    kept = cluster_balanced_sample(emb, cents, per_cell=5)
    return kept.groupBy("cell").agg(
        F.count("*").alias("n_kept"),
        F.sum("vec_id").alias("sum_kept_ids"),
        F.max("pick").alias("max_pick"),
    )


# ---------------------------------------------------------------------------
# Streamed-IVF-index search surface (VERDICT r9 #3): build the
# cell-partitioned index through the BATCH path and search it with
# partition pruning — makes streaming/windows.py's ingest/search pair
# driver-certifiable end to end.
# ---------------------------------------------------------------------------

#: the shared _D2_SQL fold (see the cluster-balanced section above)
_IDX_D2 = _D2_SQL


_COS_IDX = (
    "list_dot_product(a.v, q.qv) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
)


def _index_dir(sf_dir: str) -> str:
    """Scratch location for the certified index build — keyed by PID as
    well as scale factor (ADVICE r10 #1): two CONCURRENT runs against the
    same sf (parallel CI, a second checkout) previously shared one fixed
    path, so one run's hermetic rmtree could clear the directory while the
    other was reading it. PID-keying gives each process its own tree while
    keeping repeated runs WITHIN a process self-limiting (they reuse and
    re-clear the same dir instead of accumulating one copy per run; a
    recycled PID inherits only a dir the build clears first anyway). The
    path is scratch layout only — index contents, search plan shape, and
    certified values are untouched. tests/test_corpus6.py imports this
    helper, so test and query can never disagree about the location.

    The per-PID root is atexit-removed (r11 review finding #2): the old
    fixed path was self-limiting because every run re-cleared it, but a
    PID-keyed tree would otherwise leak one embeddings-sized parquet copy
    per process until the tempdir fills. atexit is safe here — the driver
    collects the returned frame long before interpreter exit. The cleanup
    is PID-guarded (ADVICE r11 #1): a forked child inherits the parent's
    atexit registry, and an unguarded callback would rmtree the PARENT's
    still-live index tree on child exit — so the callback no-ops unless
    os.getpid() equals the PID that registered it, and the registered-flag
    is PID-keyed so the child registers its OWN cleanup for its own root
    on first use."""
    import atexit
    import os
    import shutil
    import tempfile

    pid = os.getpid()
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_ann_index_{pid}")
    if getattr(_index_dir, "_cleanup_pid", None) != pid:

        def _cleanup(root=root, pid=pid):
            if os.getpid() == pid:  # never fire in a forked child
                shutil.rmtree(root, ignore_errors=True)

        atexit.register(_cleanup)
        _index_dir._cleanup_pid = pid
    return os.path.join(root, os.path.basename(os.path.normpath(sf_dir)))


def _ann_from_index_sql() -> str:
    d2_ec = _IDX_D2.format(a="e.v", b="c.cv")
    d2_cq = _IDX_D2.format(a="c.cv", b="q.qv")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
             FROM (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0
                   ORDER BY vec_id LIMIT 8)),
    d AS (SELECT e.vec_id, e.v, c.cell, {d2_ec} AS d2
          FROM e CROSS JOIN cent c),
    best AS (SELECT vec_id, v, cell,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cell) AS rn
             FROM d),
    assigned AS (SELECT vec_id, v, cell FROM best WHERE rn = 1),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
    qcells AS (SELECT c.cell FROM cent c, q
               ORDER BY {d2_cq}, c.cell LIMIT 3)
    SELECT a.vec_id, ROUND({_COS_IDX}, 6) AS cosine
    FROM assigned a, q
    WHERE a.cell IN (SELECT cell FROM qcells)
    ORDER BY cosine DESC, a.vec_id LIMIT 10
    """


@query("s_ann_from_index", oracle=_ann_from_index_sql())
def s_ann_from_index(spark, sf_dir):
    """IVF search over a MATERIALIZED cell-partitioned index — the
    certification surface for streaming/windows.py:ann_search_from_index
    (driver-certified here per VERDICT r9 #3).

    Build: two "batches" land under /tmp/.../batch_id={{0,1}} through the
    SAME write shape the foreachBatch sink uses — batch 0 ingests the full
    corpus, batch 1 RE-ingests every 10th vector — so the per-id
    latest-batch dedup is load-bearing: without the left-semi against the
    narrow (id, batch_id) scan, the re-ingested ids would rank twice and
    the hash would flip. Search: the 3 nearest of 8 fixed centroids
    (every-50th vector) are ranked driver-side, ONLY those cell
    directories are scanned (PartitionFilters — plan-guarded in
    tests/test_corpus6.py), and the exact rounded cosine ranks the
    candidates with the certified (cosine DESC, id) tie-break.

    At 100 TB this is the serving path for a streamed ANN index: ingest is
    a stateless projection + partitioned append; every query reads
    n_probe/k of the corpus at the SCAN, never post-filter."""
    import numpy as np

    from ..operators.similarity import with_nearest_centroid
    from ..streaming.windows import ann_search_from_index

    emb = read_table(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(8)
        .collect()
    )
    C = np.asarray([[float(v) for v in r[1]] for r in cent_rows])
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    ]

    index_dir = _index_dir(sf_dir)
    # Hermetic build (r10 review finding #4): the query writes exactly
    # batch_id={0,1}, but the SEARCH reads the whole directory — a stale
    # batch_id=2 from an older code version (or an earlier run of this
    # process) would win the latest-batch dedup and leak phantom rows
    # into the certified result. Clear the dir first so the read set is
    # exactly what this run wrote.
    import shutil

    shutil.rmtree(index_dir, ignore_errors=True)
    # batch 0: full corpus; batch 1: every-10th vector re-ingested (same
    # embedding — exercises the latest-batch-wins dedup without moving the
    # oracle). mode=overwrite per batch dir = the foreachBatch replay rule.
    for batch_id, batch in (
        (0, emb),
        (1, emb.filter(F.col("vec_id") % 10 == 0)),
    ):
        out = with_nearest_centroid(batch, C).drop("d2")
        out.write.mode("overwrite").partitionBy("cell").parquet(
            f"{index_dir}/batch_id={batch_id}"
        )
    return ann_search_from_index(spark, index_dir, C, qvec, k=10, n_probe=3)


# ---------------------------------------------------------------------------
# s_embedding_dim_stats (operators/embstats.py — quantizer-grid exact
# per-dimension calibration stats)
# ---------------------------------------------------------------------------

#: canonical SQL twin (verified in tests/test_embstats_jsonl.py since r10)
#: — the same 2^-20 integer grid as the certified PQ/IVF-PQ oracles
EMB_DIM_STATS_SQL = """
    WITH comp AS (
      SELECT u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i))
    SELECT CAST(pos AS INT) AS pos, COUNT(*) AS n,
           CAST(SUM(q) AS BIGINT) AS sum_q,
           CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_q,
           CAST(MIN(q) AS BIGINT) AS min_q,
           CAST(MAX(q) AS BIGINT) AS max_q
    FROM comp GROUP BY pos ORDER BY pos
"""


@query("s_embedding_dim_stats", oracle=EMB_DIM_STATS_SQL)
def s_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding calibration stats (engine addition §2.12):
    exact int64 count/sum/mean/min/max per dimension on pq.py's canonical
    2^-20 grid (imported, not re-declared) — associative, so BIT-identical
    under any partitioning where a double AVG is not (the mean is integer
    `div`, truncating toward zero exactly like DuckDB's `//` — pinned in
    tests). Plan: one posexplode into one map-side-combinable groupBy —
    the shuffle carries O(dim × partitions) rows regardless of corpus
    size."""
    from ..operators.embstats import embedding_dim_stats

    return embedding_dim_stats(read_table(spark, sf_dir, "embeddings"))
