"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force exact top-k — the correctness baseline. The dot
  product is a JVM-side `aggregate`/`zip_with` fold (no Python), the top-k is
  TakeOrderedAndProject (no global sort).
- `with_nearest_centroid`: the IVF cell assignment — the same JVM-side fold
  against literal centroids, zero shuffles.
- `_sign_lsh_bev` and `_bucket_cosine_removed`: multi-table random-hyperplane
  bucketing, the scale path; hyperplanes are seeded NumPy, broadcast as
  literals.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _vec_lit(vec: Sequence[float]):
    return F.array(*[F.lit(float(v)) for v in vec])


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_cosine(df: DataFrame, query_vec, emb_col: str = "embedding", out: str = "cosine"):
    q = _vec_lit(query_vec) if not isinstance(query_vec, F.Column) else query_vec
    c = F.col(emb_col)
    return df.withColumn(out, F.round(_dot(c, q) / (_norm(c) * _norm(q)), 6))


def cosine_topk(
    df: DataFrame, query_vec, k: int = 10, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Exact brute-force cosine top-k (deterministic tie-break on id)."""
    return (
        with_cosine(df, query_vec, emb_col)
        .select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def with_nearest_centroid(
    df: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
    cell_col: str = "cell",
    d2_col: str = "d2",
) -> DataFrame:
    """Nearest centroid by squared L2 plus the distance itself (the inertia
    term) — literal-projection plan, zero shuffles, ties to the lowest cell
    index."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(emb_col), _vec_lit(c),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in centroids
        ]
    )
    return (
        df.withColumn("_dists", dists)
        .withColumn(d2_col, F.array_min("_dists"))
        .withColumn(cell_col, F.array_position(F.col("_dists"), F.col(d2_col)).cast("int") - 1)
        .drop("_dists")
    )


def _sign_lsh_keys(e, planes, n_tables, bits_per_table, v_col="v", id_col="vec_id"):
    """(vec_id, tbl, bucket) sign-LSH keys for ``n_tables`` tables of
    ``bits_per_table`` hyperplanes each, vectorized in Arrow batches.

    ``planes[t * bits_per_table + i]`` is hyperplane i of table t (a plain
    float list — O(model), collected once by the caller). Each sign bit is
    ``dot(v, plane) > 0`` with the dot accumulated one dimension at a time
    in ascending order — the identical IEEE add sequence as the
    ``_dot_col`` fold the oracle mirrors, so boundary signs cannot flip.
    Replaces a 16-literal-array HOF projection whose lambda interpreted
    ~2M steps per pass."""
    import numpy as np
    import pandas as pd

    P = [np.asarray(p, dtype=float) for p in planes]

    def keys(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(pdf[v_col].to_numpy())
            frames = []
            for t in range(n_tables):
                bucket = np.zeros(n, dtype=np.int64)
                for i in range(bits_per_table):
                    p = P[t * bits_per_table + i]
                    acc = np.zeros(n)
                    for d in range(V.shape[1]):
                        acc += V[:, d] * p[d]
                    bucket |= (acc > 0).astype(np.int64) << i
                frames.append(
                    pd.DataFrame(
                        {"vec_id": pdf[id_col], "tbl": t, "bucket": bucket}
                    )
                )
            yield pd.concat(frames)

    return e.select(id_col, v_col).mapInPandas(
        keys, "vec_id bigint, tbl bigint, bucket bigint"
    )


def _sign_lsh_bev(e, planes, n_tables, bits_per_table, v_col="v", id_col="vec_id"):
    """Fused sign-LSH bucketing: ONE Arrow pass over the corpus emitting
    ledger-format rows ``(vec_id, tbl, bucket, v, n2)`` — the direct input
    of :func:`_bucket_cosine_removed`.

    Fuses what used to be two passes plus a join (``_sign_lsh_keys`` then
    ``keys.join(ev, vec_id)`` to re-attach the vector and its self-dot):
    the vector is already in hand while the sign bits are computed, so the
    kernel emits it alongside the keys and the join disappears entirely.
    That join was also the scale hazard flagged in ADVICE r5 — a broadcast
    of the FULL embedding corpus; now nothing is broadcast and the only
    shuffle is the (tbl, bucket) verify grouping, carrying exactly the rows
    this emits (~n_tables x n, the LSH-replication minimum).

    Arithmetic is bit-compatible with the expression form: each sign dot
    and the ``n2`` self-dot accumulate one dimension at a time in ascending
    order — the identical left-to-right IEEE sequence as the ``_dot_col``
    fold the oracles mirror."""
    import numpy as np
    import pandas as pd

    P = [np.asarray(p, dtype=float) for p in planes]

    def bev(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack([np.asarray(v, dtype=float) for v in pdf[v_col]])
            n2 = np.zeros(n)
            for d in range(V.shape[1]):
                n2 += V[:, d] * V[:, d]
            vlist = list(V)  # row views; reused across tables
            frames = []
            for t in range(n_tables):
                bucket = np.zeros(n, dtype=np.int64)
                for i in range(bits_per_table):
                    p = P[t * bits_per_table + i]
                    acc = np.zeros(n)
                    for d in range(V.shape[1]):
                        acc += V[:, d] * p[d]
                    bucket |= (acc > 0).astype(np.int64) << i
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf[id_col].to_numpy(),
                            "tbl": t,
                            "bucket": bucket,
                            "v": vlist,
                            "n2": n2,
                        }
                    )
                )
            yield pd.concat(frames)

    return e.select(id_col, v_col).mapInPandas(
        bev, "vec_id bigint, tbl bigint, bucket bigint, v array<double>, n2 double"
    )


def _cosine_vs_refs(e, refs, id_col="vec_id", v_col="v", ref_id_name="ref_id"):
    """(row_id, ref_id, cosine) for every (corpus row, reference vector)
    pair — ``refs`` is an O(model) list of (ref_id, vector) the caller
    collected (query panel, centroid set). ONE vectorized Arrow pass over
    the corpus; never a corpus x corpus product.

    Bit-compatibility: the cross dots and both self-dots accumulate one
    dimension at a time in ascending order — the identical left-to-right
    IEEE sequence as the ``_dot_col`` fold / DuckDB ``list_dot_product`` —
    and the cosine divides by sqrt(n2_row) * sqrt(n2_ref) exactly as
    ``_cos_sql``, so downstream orderings cannot diverge from the oracle.
    Replaces interpreted per-pair HOF folds (~190 lambda steps per pair:
    the 40k-pair ground truth of s_ann_recall spent ~4 s there)."""
    import numpy as np
    import pandas as pd

    if not refs:
        raise ValueError("refs must be a non-empty list of (ref_id, vector)")
    rids = np.asarray([int(r) for r, _ in refs], dtype="int64")
    R = np.stack([np.asarray(v, dtype=float) for _, v in refs])
    m, dim = R.shape
    n2r = np.zeros(m)
    for d in range(dim):
        n2r = n2r + R[:, d] * R[:, d]
    sqr = np.sqrt(n2r)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # C-level (n, dim) conversion; float32→float64 widening is
            # exact, so values match the per-row np.asarray stack form
            V = np.asarray(pdf[v_col].tolist(), dtype=float)
            n2v = np.zeros(n)
            acc = np.zeros((n, m))
            tmp = np.empty((n, m))
            for d in range(dim):
                col = V[:, d]
                # in-place accumulate (r14): a + b elementwise in the same
                # dim-ascending IEEE order as `acc = acc + ...`, without
                # allocating a fresh (n, m) temporary per dimension
                np.add(n2v, col * col, out=n2v)
                np.multiply(col[:, None], R[:, d][None, :], out=tmp)
                np.add(acc, tmp, out=acc)
            # Zero-norm guard (ADVICE r9 #3): a zero vector on either side
            # yields cosine 0.0, not NaN (NaN sorts ABOVE every real value
            # under Spark's DESC, polluting top-k). Non-zero pairs keep the
            # bit-identical acc/denom quotient.
            denom = np.sqrt(n2v)[:, None] * sqr[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0.0, acc / denom, 0.0)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, m),
                    ref_id_name: np.tile(rids, n),
                    "cosine": cos.ravel(),
                }
            )

    return e.select(id_col, v_col).mapInPandas(
        gen, f"{id_col} bigint, {ref_id_name} bigint, cosine double"
    )


def _cosine_vs_queries_with_cell(e, queries, cents, id_col="vec_id", v_col="v"):
    """(row_id, qid, cosine, cell): cosine of every corpus row against each
    QUERY vector, with the row's nearest-CENTROID id (max cosine, ties to
    the lowest centroid id) riding along on every emitted row. The centroid
    argmax happens INSIDE the same Arrow batch as the query cosines, so the
    IVF cell assignment costs no shuffle, no second corpus pass, and no
    (vec x centroid) intermediate — the r9 restructure that removed the
    cells-aggregate exchange and the retrieval join from s_ann_recall.

    Bit-compatibility: identical dim-ascending accumulation and
    sqrt(n2a)*sqrt(n2b) division as :func:`_cosine_vs_refs` (queries and
    centroids stack into ONE ref matrix, so both cosine sets come from the
    same IEEE sequence as before); centroids order ascending by id so
    ``np.argmax``'s first-max rule IS the lowest-id tie-break the certified
    SQL (ROW_NUMBER ... ORDER BY cosine DESC, cid) applies."""
    import numpy as np
    import pandas as pd

    if not queries or not cents:
        raise ValueError("queries and cents must be non-empty (ref_id, vector) lists")
    cents = sorted(cents, key=lambda t: int(t[0]))
    qids = np.asarray([int(r) for r, _ in queries], dtype="int64")
    cids = np.asarray([int(r) for r, _ in cents], dtype="int64")
    R = np.stack([np.asarray(v, dtype=float) for _, v in list(queries) + list(cents)])
    mq = len(qids)
    m, dim = R.shape
    n2r = np.zeros(m)
    for d in range(dim):
        n2r = n2r + R[:, d] * R[:, d]
    sqr = np.sqrt(n2r)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # C-level conversion + in-place accumulation (r14): identical
            # IEEE sequence as the allocating form — see _cosine_vs_refs
            V = np.asarray(pdf[v_col].tolist(), dtype=float)
            n2v = np.zeros(n)
            acc = np.zeros((n, m))
            tmp = np.empty((n, m))
            for d in range(dim):
                col = V[:, d]
                np.add(n2v, col * col, out=n2v)
                np.multiply(col[:, None], R[:, d][None, :], out=tmp)
                np.add(acc, tmp, out=acc)
            # Same zero-norm guard as _cosine_vs_refs (ADVICE r9 #3): a
            # zero-norm corpus vector gets cosine 0.0 against every ref and
            # a DETERMINISTIC lowest-id cell (argmax first-max over zeros)
            # instead of NaN cosines + arbitrary cell.
            denom = np.sqrt(n2v)[:, None] * sqr[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0.0, acc / denom, 0.0)
            cell = cids[np.argmax(cos[:, mq:], axis=1)]
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, mq),
                    "qid": np.tile(qids, n),
                    "cosine": cos[:, :mq].ravel(),
                    "cell": np.repeat(cell, mq),
                }
            )

    return e.select(id_col, v_col).mapInPandas(
        gen, f"{id_col} bigint, qid bigint, cosine double, cell bigint"
    )


def auto_bits_per_table(n_rows: int, target_bucket: int = 64, min_bits: int = 4, max_bits: int = 24) -> int:
    """The sign-LSH operating rule as code: pick ``bits_per_table`` so the
    expected bucket size ``n / 2^bits`` stays ~``target_bucket`` as the
    corpus grows — i.e. bits grow by log2(growth), keeping the quadratic
    within-bucket verify linear in n overall. Used programmatically by
    tools/scale_probe.py so scale runs never rely on hand-set bits."""
    import math

    return max(min_bits, min(max_bits, int(math.ceil(math.log2(max(2.0, n_rows / float(target_bucket)))))))


def _allpairs_cosine_removed(ev, threshold, n_blocks=8):
    """EXACT all-pairs cosine >= threshold (emit the larger id of each hit)
    via block-pair fan-out — the scale shape for brute-force all-pairs:

    vectors land in ``n_blocks`` hash blocks; every unordered block pair
    (bi <= bj) is one task group receiving both blocks' vectors (each
    vector is replicated n_blocks times — O(n·B) rows moved, never O(n²)),
    and each group computes its (n, n) cosine matrix vectorized. A pair is
    counted exactly once: same-block pairs in the (b, b) group, cross-block
    pairs (masked to blk_x != blk_y) in the (bi, bj) group. Memory per task
    is (2n/B)² doubles — B tunes the task grid to the cluster. Dots
    accumulate dim-at-a-time in ascending order (the `_dot_col` fold
    sequence), so results are bit-identical to the scalar form; ``n2`` is
    the precomputed per-vector self-dot. Replaced an interpreted HOF
    cosine over the joined pair table: 69 s -> ~1 s at sf0.1."""
    import numpy as np
    import pandas as pd

    nb = n_blocks
    # pmod, not %: Spark's % preserves sign, and a NEGATIVE block id never
    # pairs with another negative block under the least/greatest group-id
    # scheme below (o ranges over 0..nb-1) — pairs would be silently missed
    # for negative vec_ids (ADVICE r5)
    blk = F.pmod(F.col("vec_id"), F.lit(nb)).cast("int")
    group_ids = F.array(
        *[
            F.least(blk, F.lit(o)) * nb + F.greatest(blk, F.lit(o))
            for o in range(nb)
        ]
    )
    fanned = ev.select(
        "vec_id", "v", "n2", blk.alias("blk"), F.explode(group_ids).alias("g")
    )

    def verify(key, pdf):
        g = int(key[0])
        bi, bj = g // nb, g % nb
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"b_id": pd.Series([], dtype="int64")})
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.stack(pdf["v"].to_numpy())[order]
        n2 = pdf["n2"].to_numpy()[order]
        blks = pdf["blk"].to_numpy()[order]
        sq = np.sqrt(n2)
        hits = []
        # row-blocked like _bucket_cosine_removed: (block, n) buffers bound
        # task memory even when n_blocks under-partitions a huge corpus
        block = max(1, min(n, (1 << 22) // max(n, 1)))
        for s in range(0, n, block):
            e_ = min(s + block, n)
            acc = np.zeros((e_ - s, n))
            for d in range(V.shape[1]):
                col = V[:, d]
                acc += col[s:e_, None] * col[None, :]
            cos = acc / (sq[s:e_, None] * sq[None, :])
            mask = cos >= threshold
            if bi != bj:
                mask &= blks[s:e_, None] != blks[None, :]
            ri, rj = np.where(mask)
            keep = rj > (ri + s)
            hits.append(ids[rj[keep]])
        out = np.concatenate(hits) if hits else np.array([], dtype="int64")
        return pd.DataFrame({"b_id": out})

    return fanned.groupBy("g").applyInPandas(verify, "b_id bigint")


def _bucket_cosine_removed(bev, threshold, group_cols=("tbl", "bucket"), new_col=None, partitions=None):
    """Within-bucket pairwise cosine verify, vectorized per bucket group.

    Input: one row per (vector, bucket-key) with columns ``vec_id``, ``v``
    (double array) and ``n2`` (the vector's self-dot, precomputed with the
    fold order of :func:`_dot_col`). Output: one ``b_id`` row per verified
    pair (the larger vec_id of a pair with cosine >= threshold), duplicates
    possible across buckets — ``.distinct()`` downstream.

    ``new_col`` switches on LEDGER semantics for incremental SemDeDup: rows
    where ``bev[new_col]`` is False are previously-kept ledger vectors —
    they are never removed themselves, and a NEW vector is removed when it
    verifies against ANY ledger vector (either id order) or against a
    lower-id new vector. With every row new (or ``new_col=None``) this
    reduces exactly to the batch larger-id-of-each-pair rule.

    This is the scale-correct shape for LSH-style verify: vectors cross the
    wire once per (vector, table) — ~|keys| rows — instead of once per
    CANDIDATE PAIR (the pair-join attach ships O(pairs) x dim doubles;
    measured 550 MB vs 4 MB at sf0.1, 2.1 s vs 0.6 s). Inside a group the
    (n, n) dot matrix accumulates one dim at a time in ascending order, so
    every pair's dot is the identical left-to-right IEEE add sequence as
    the scalar fold — oracle thresholds cannot flip; cos divides by
    sqrt(n2_i)*sqrt(n2_j) exactly as the JVM expression.

    ``partitions``: when set, groups are verified by a PARTITION-grouped
    pass instead of per-group applyInPandas — ``repartition(partitions,
    *group_cols)`` (one shuffle either way; the groupBy reuses the
    clustering) then one ``mapInPandas`` call per partition running a
    pandas groupby internally. Identical output and per-pair arithmetic;
    the win is one Arrow/pandas round-trip per PARTITION instead of per
    GROUP (~0.3 s at sf0.1's 64 tiny groups; at scale, thousands of
    auto-sized buckets per task stop paying per-group overhead). Memory
    bound: a task materializes its whole partition (~|bev| / partitions
    rows) plus the 32 MB row-blocked matrix buffers — size ``partitions``
    so partitions fit executor memory; per-group applyInPandas (the
    default) bounds by the largest single group instead, which is the
    safer shape when bucket skew is unknown."""
    import numpy as np
    import pandas as pd

    def _emit(pdf):
        n = len(pdf)
        if n < 2:
            return None
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.stack(pdf["v"].to_numpy())[order]
        n2 = pdf["n2"].to_numpy()[order]
        new = (
            pdf[new_col].to_numpy()[order]
            if new_col is not None
            else np.ones(n, dtype=bool)
        )
        sq = np.sqrt(n2)
        hits = []
        # row-blocked matrix: peak memory is (block, n) doubles no matter
        # how large a skewed bucket gets; per-entry arithmetic identical
        block = max(1, min(n, (1 << 22) // max(n, 1)))  # ~32 MB per buffer
        for s in range(0, n, block):
            e_ = min(s + block, n)
            acc = np.zeros((e_ - s, n))
            for d in range(V.shape[1]):
                col = V[:, d]
                acc += col[s:e_, None] * col[None, :]
            cos = acc / (sq[s:e_, None] * sq[None, :])
            mask = cos >= threshold
            bi, bj = np.where(mask)
            gi = bi + s  # global row (i) index
            # a removal of ids[j] needs: j NEW, and (i below j in id order)
            # OR (i is a ledger vector, any order); i == j excluded by both
            keep = new[bj] & ((bj > gi) | ~new[gi])
            hits.append(ids[bj[keep]])
        return np.concatenate(hits) if hits else None

    if partitions is None:
        def verify(_key, pdf):
            out = _emit(pdf)
            if out is None:
                return pd.DataFrame({"b_id": pd.Series([], dtype="int64")})
            return pd.DataFrame({"b_id": out})

        return bev.groupBy(*group_cols).applyInPandas(verify, "b_id bigint")

    gcols = list(group_cols)

    def verify_partition(batches):
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if len(pdf) == 0:
            return
        outs = []
        for _, g in pdf.groupby(gcols, sort=False):
            out = _emit(g)
            if out is not None:
                outs.append(out)
        all_out = np.concatenate(outs) if outs else np.array([], dtype="int64")
        yield pd.DataFrame({"b_id": all_out})

    return bev.repartition(partitions, *gcols).mapInPandas(
        verify_partition, "b_id bigint"
    )


def incremental_semdedup(
    new_batch: DataFrame,
    planes,
    seen: DataFrame | None = None,
    threshold: float = 0.4,
    n_tables: int = 4,
    bits_per_table: int = 4,
    id_col: str = "vec_id",
    v_col: str = "v",
) -> DataFrame:
    """Cross-batch SemDeDup: flag vectors of ``new_batch`` that are within
    ``cosine >= threshold`` of any previously-SEEN vector in the ``seen``
    ledger or of a lower-id vector inside the batch — the embedding
    analogue of ``dedup.incremental_dedup`` for streaming ingest.

    Returns ALL of the batch's ledger-format rows
    ``(vec_id, tbl, bucket, v, n2, kept)``; survivors are
    ``.filter("kept")``. The caller chooses the chaining semantics by what
    it feeds back as the next batch's ``seen``:

    - **exact** (chain the FULL returned frame, removed rows included):
      every seen vector — kept or not — remains a removal witness, exactly
      matching the one-shot batch rule "drop j iff some lower-id i in a
      shared bucket has cos >= t" for id-ordered splits, including chains
      where the witness was itself removed (sim(1,2) >= t, sim(2,3) >= t,
      sim(1,3) < t drops BOTH 2 and 3 regardless of batch boundaries).
      Ledger size is O(corpus) rows — same asymptotics as survivors-only.
    - **greedy-kept** (chain only ``.filter("kept")``): a new vector is
      dropped only when a KEPT vector witnesses it. Smaller ledger, but
      batch-boundary-dependent: in the chain above, {1,2}|{3} keeps {1,3}
      while one shot keeps {1}. Equivalent to exact only when no removed
      vector is the sole witness for a later removal.

    ``planes`` is the fixed hyperplane model (``n_tables * bits_per_table``
    float lists — O(model), decided once for the pipeline's lifetime so
    every batch buckets identically). ``seen`` rows need
    ``(vec_id, tbl, bucket, v, n2)``; an extra ``kept`` column is ignored
    (ledger rows are witness-only either way and are never re-emitted).
    Candidates only meet inside a (table, bucket), the ledger is stored BY
    its join key, the key build is the fused one-pass ``_sign_lsh_bev``
    kernel (nothing broadcast, nothing all-pairs at any batch count)."""
    bev_new = _sign_lsh_bev(
        new_batch.select(F.col(id_col).alias("vec_id"), F.col(v_col).alias("v")),
        planes,
        n_tables=n_tables,
        bits_per_table=bits_per_table,
    )
    if seen is None:
        bev = bev_new.withColumn("_new", F.lit(True))
    else:
        bev = (
            seen.select("vec_id", "tbl", "bucket", "v", "n2")
            .withColumn("_new", F.lit(False))
            .unionByName(bev_new.withColumn("_new", F.lit(True)))
        )
    removed = _bucket_cosine_removed(bev, threshold, new_col="_new").distinct()
    return bev_new.join(removed, bev_new.vec_id == removed.b_id, "left").select(
        "vec_id", "tbl", "bucket", "v", "n2", F.col("b_id").isNull().alias("kept")
    )


def cluster_balanced_sample(
    df: DataFrame,
    centroids: np.ndarray,
    per_cell: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced subsampling (the SemDeDup / DiverseSample recipe:
    spread a sampling budget EVENLY across embedding-space clusters so the
    kept set covers the distribution instead of over-sampling its modes):
    assign each vector to its nearest centroid (literal projection, zero
    shuffles), then keep the ``per_cell`` lowest-(md5(id), id) members of
    each cell — a deterministic hash order, so the sample is stable under
    any row order and reshuffling, never favoring ingestion order.

    Output: input columns + (cell, d2, pick) for kept rows only, where
    ``pick`` is the 1-based hash rank within the cell.

    Scale shape: the rank window runs over a PROJECTED (cell, id) frame —
    the one shuffle really does carry only the id and its hash key, never
    the embedding vectors (r9 review finding: the unprojected form moved
    dim×8 bytes per row through the cell exchange) — and the kept id set
    (≤ k·per_cell rows, model-sized) broadcasts back onto the assignment
    projection, which is a re-scanned zero-shuffle projection. When
    per-cell membership is huge and only the keep-RATE matters (not an
    exact count), prefer the constant-time hash-threshold filter
    (``perplexity_bucket_sample``'s pct discipline) over this exact-n
    variant."""
    from pyspark.sql import Window

    assigned = with_nearest_centroid(df, centroids, emb_col=emb_col)
    hkey = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy("cell").orderBy(hkey, F.col(id_col))
    kept = (
        assigned.select("cell", id_col)
        .withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= int(per_cell))
        .select(id_col, "pick")
    )
    return assigned.join(F.broadcast(kept), id_col)
