"""Product-quantization ANN: the compressed-codebook path for
embedding search/dedup when 100 TB of vectors can't be held — or shuffled —
in float form (Jégou et al. 2011, "Product Quantization for Nearest
Neighbor Search"; the IVF-PQ layout every production vector store uses).

Recipe: split each D-dim vector into M subvectors, train a small k-means
codebook per subspace, store each vector as M one-byte codes (D×4 bytes →
M bytes, 32× compression at D=64/M=8), and answer queries with asymmetric
distance (ADC): the query's exact distance to every centroid is a tiny
lookup table and a candidate's distance is the sum of M table entries.

**Everything is exact integer arithmetic**, which is what makes this the
first hash-certifiable distributed PQ: floats quantize once onto a 2^-20
grid (``FLOOR(v * 2^20)`` — measured: decimal casts of float32 differ
between engines on exact-half values, but double multiply-by-power-of-2 and
FLOOR are bit-identical), and every later step — Lloyd assignment, centroid
update (floor-mean), encoding, ADC — is int64 math with explicit
``(distance, cluster)`` tie-breaks. The DuckDB oracle unrolls the identical
rounds as CTEs and must match hash-exactly.

Scale shape (Spark):

- codebook training is the standard distributed Lloyd, and
  :func:`pq_train_codebooks` is its only loop: the single-codebook
  trainers (raw vectors, IVF residuals, ``s_kmeans_fit``) call it with one
  spec, the IVF-PQ queries with two. Assignment is a zero-join Arrow pass
  against the driver-held centroids (the k×D sufficient statistics
  collected per round are ~kB — same contract as MLlib's k-means); the
  per-dim update aggregation is map-side combinable, so the shuffle
  carries (M × k × D/M) rows, not the corpus;
- encoding is the same assignment kernel (no join, no shuffle);
- the ADC scan is a projection + ``TakeOrderedAndProject`` top-k — the
  corpus is read once, never joined, never globally sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q = 1 << 20  # quantization grid: floor(v * 2^20); |iq| ≤ 2^23 for |v| ≤ 8


def _int_grid(vec_col: str = "embedding"):
    """float32 array → exact int64 array on the 2^-20 grid."""
    return F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * F.lit(float(Q))).cast("bigint"),
    )


def _sub(iq_col, m: int, sub_dim: int):
    """Slice subspace m (1-indexed slice; returns array<bigint> of sub_dim)."""
    return F.slice(iq_col, m * sub_dim + 1, sub_dim)


def _dist2(a, b):
    """Σ (a_i − b_i)² over two int arrays — exact int64 (≤ 2^52 at D≤64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, d: acc + d,
    )


def _with_codes(df: DataFrame, tagged, iq_col: str = "iq"):
    """Append nearest-centroid assignment columns for every ``(prefix,
    codebook)`` in ``tagged`` in ONE Arrow pass: ``{prefix}0..{prefix}M-1``
    (int), one per subspace of that codebook.

    Every quantity is int64 (exact, order-free), so the numpy evaluation is
    IDENTICAL to the expression form by construction — no float rounding
    anywhere; ties resolve to the lowest cluster via np.argmin's
    first-occurrence rule, matching the (d, c) struct array_min. Replaces
    the literal-centroid ``aggregate``-fold projections whose lambdas
    interpreted M·k·sub_dim steps per row AND whose fresh-literal plans
    cost seconds of analysis per training round (PQ train 9.2 s -> 1.4 s,
    ADC 6.6 s -> 0.6 s at sf0.1)."""
    import numpy as np
    from pyspark.sql import types as T

    plans = []
    fields = list(df.schema.fields)
    for prefix, codebook in tagged:
        m_subspaces = len(codebook)
        sub_dim = len(codebook[0][0])
        C = [np.asarray(codebook[m], dtype=np.int64) for m in range(m_subspaces)]
        plans.append((prefix, sub_dim, C))
        fields += [
            T.StructField(f"{prefix}{m}", T.IntegerType()) for m in range(m_subspaces)
        ]
    schema = T.StructType(fields)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            IQ = np.stack(pdf[iq_col].to_numpy()).astype(np.int64)
            out = pdf.copy()
            for prefix, sub_dim, C in plans:
                for m, Cm in enumerate(C):
                    S = IQ[:, m * sub_dim : (m + 1) * sub_dim]
                    diff = S[:, None, :] - Cm[None, :, :]
                    dist = (diff * diff).sum(axis=2)
                    out[f"{prefix}{m}"] = dist.argmin(axis=1).astype(np.int32)
            yield out

    return df.mapInPandas(assign, schema)


def _round_stats(assigned: DataFrame, tagged):
    """Per-(codebook, subspace, cluster, dim) floor-mean sufficient
    statistics for every ``(prefix, codebook)`` assigned by
    :func:`_with_codes`; rows carry the prefix as ``tag``.

    Every codebook's subspaces explode out of ONE pass over ``assigned``: a
    union of per-subspace projections would physically re-execute the Arrow
    assignment subtree once per union branch (Spark does not share a common
    subplan across union children)."""
    m_structs = [
        F.struct(
            F.lit(prefix).alias("tag"),
            F.lit(m).alias("m"),
            F.col(f"{prefix}{m}").alias("cluster"),
            _sub(F.col("iq"), m, len(codebook[0][0])).alias("vals"),
        )
        for prefix, codebook in tagged
        for m in range(len(codebook))
    ]
    return (
        assigned.select(F.explode(F.array(*m_structs)).alias("s"))
        # posexplode positions are 0-based — they ARE the dim index
        .select("s.tag", "s.m", "s.cluster", F.posexplode("s.vals").alias("d", "v"))
        .groupBy("tag", "m", "cluster", "d")
        .agg(F.floor(F.sum("v") / F.count("*")).cast("bigint").alias("c_int"))
        .collect()
    )


def pq_train_codebooks(
    iq_df: DataFrame, specs: list[tuple[int, int, int]]
) -> list[list[list[list[int]]]]:
    """Integer Lloyd training of one or more independent codebooks over a
    ``(_id, iq: array<bigint>)`` int-grid frame; each ``specs`` entry is
    ``(m_subspaces, k, n_rounds)`` and the codebooks come back in order as
    ``codebook[m][c] = int centroid``.

    Seeds are the ``k`` vectors with smallest ids (deterministic), so ONE
    seed collect of the max-k prefix seeds every spec. Each round runs ONE
    fused assignment pass + ONE stats collect covering every spec still in
    training and updates each centroid dim to the floor-mean of its
    members; empty clusters keep their previous centroid. A spec's result
    does not depend on the others it trains with. Driver payload bound per
    round: Σ_active k_i·D stats rows (M subspaces × k clusters × D/M dims),
    independent of corpus size; the update aggregation is map-side
    combinable, so the shuffle carries those rows, not the corpus.

    The int-grid frame is persisted for the training's lifetime (released
    in the ``finally``): every round scans it, plus the seed collect —
    without the cache each action re-ran the upstream quantization lineage
    (residual path: a join) from the source. A frame the CALLER already
    persisted is left cached on exit, so one cache can serve the trainings
    plus the retrieval scans."""
    caller_cached = iq_df.is_cached
    if not caller_cached:
        iq_df = iq_df.persist()
    try:
        k_max = max(k for _, k, _ in specs)
        seeds = [
            list(r["iq"])
            for r in iq_df.orderBy("_id").limit(k_max).select("iq").collect()
        ]
        if len(seeds) < k_max:
            raise ValueError(
                f"need at least k={k_max} vectors to seed the codebooks, "
                f"got {len(seeds)}"
            )
        dim = len(seeds[0])
        books = []
        for m_subspaces, k, _ in specs:
            if dim % m_subspaces:
                raise ValueError(
                    f"dimension {dim} is not divisible by m_subspaces={m_subspaces}"
                )
            sd = dim // m_subspaces
            books.append(
                [[seeds[c][m * sd : (m + 1) * sd] for c in range(k)]
                 for m in range(m_subspaces)]
            )
        for rnd in range(max(r for _, _, r in specs)):
            tagged = [
                (f"s{i}_", books[i]) for i, (_, _, r) in enumerate(specs) if rnd < r
            ]
            stats = _round_stats(_with_codes(iq_df.select("iq"), tagged), tagged)
            # the round's assignment has run; each book updates in place
            by_tag = dict(tagged)
            for r in stats:
                by_tag[r["tag"]][r["m"]][r["cluster"]][r["d"]] = r["c_int"]
        return books
    finally:
        if not caller_cached:
            iq_df.unpersist()


def pq_train_codebook(
    df: DataFrame,
    m_subspaces: int = 4,
    k: int = 16,
    n_rounds: int = 2,
) -> list[list[list[int]]]:
    """Lloyd-train one PQ codebook on the raw vectors of ``df`` (see
    :func:`pq_train_codebooks`); returns ``codebook[m][c] = int centroid``."""
    iq = df.select(F.col("vec_id").alias("_id"), _int_grid().alias("iq"))
    return pq_train_codebooks(iq, [(m_subspaces, k, n_rounds)])[0]


def _adc_lut(query_int: list[int], codebook: list[list[list[int]]]) -> list[list[int]]:
    """The ADC trick: ``lut[m][c]`` is the squared distance from the query's
    m-th subvector to centroid c — an M×k python-side table, so candidates
    never touch the query vector."""
    sub_dim = len(codebook[0][0])
    return [
        [
            sum((query_int[m * sub_dim + i] - cent[i]) ** 2 for i in range(sub_dim))
            for cent in cents
        ]
        for m, cents in enumerate(codebook)
    ]


def _adc_sum(lut: list[list[int]]):
    """BIGINT asymmetric distance of a row coded ``_c0.._cM-1``: the sum of
    the table entries its codes select."""
    adc = F.lit(0).cast("bigint")
    for m, row in enumerate(lut):
        adc = adc + F.element_at(
            F.array(*[F.lit(int(x)).cast("bigint") for x in row]), F.col(f"_c{m}") + 1
        )
    return adc


def _probe_cells(
    query_int: list[int], coarse_cb: list[list[list[int]]], n_probe: int
) -> list[int]:
    """The ``n_probe`` coarse cells nearest the query, ties to the lower
    cell — driver-side integer math over kc centroids."""
    cents = coarse_cb[0]
    d2 = [sum((query_int[d] - x) ** 2 for d, x in enumerate(c)) for c in cents]
    return sorted(range(len(cents)), key=lambda c: (d2[c], c))[:n_probe]


def pq_adc_topk(
    df: DataFrame,
    codebook: list[list[list[int]]],
    query_int: list[int],
    top: int = 20,
) -> DataFrame:
    """Encode every vector against ``codebook`` and rank by asymmetric
    distance to ``query_int`` (already on the int grid). Returns
    ``(vec_id, code0..codeM-1, adc_dist)`` — all BIGINT, hash-exact."""
    iq = df.select("vec_id", _int_grid().alias("iq"))
    coded = _with_codes(iq, [("_c", codebook)])
    codes = [F.col(f"_c{m}").cast("bigint").alias(f"code{m}") for m in range(len(codebook))]
    adc = _adc_sum(_adc_lut(query_int, codebook))
    return (
        coded.select("vec_id", *codes, adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(top)
    )


def pq_ivf_adc_topk(
    df: DataFrame,
    coarse_cb: list[list[list[int]]],
    codebook: list[list[list[int]]],
    query_int: list[int],
    n_probe: int = 2,
    top: int = 10,
    iq_df: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ scan: coarse cells prune the corpus to ``n_probe`` probed
    inverted lists, then the PQ ADC ranks only those candidates — the
    FAISS-style two-level layout that makes 100 TB ANN a partition-pruned
    scan instead of a full pass. ``coarse_cb`` is a 1-subspace codebook from
    :func:`pq_train_codebook` (``m_subspaces=1``); this variant encodes
    original vectors against a global PQ codebook (residual encoding is the
    classic refinement — the pruning/ADC plumbing is identical).

    At scale the corpus would be WRITTEN partitioned by ``cell`` (as
    ``s_ann_from_index`` does), turning the probe filter into partition
    pruning; here it evaluates in the scan's codegen stage. The whole query
    remains a projection + filter + TakeOrderedAndProject — zero joins,
    zero shuffles.

    Returns ``(vec_id, cell, adc_dist)`` — exact int64, hash-certifiable.
    """
    # iq_df: optional pre-built (vec_id, iq) int-grid frame, e.g. the
    # persisted frame the codebooks trained on — quantizes once per caller
    iq = (
        iq_df
        if iq_df is not None
        else df.select("vec_id", _int_grid().alias("iq"))
    )
    candidates = (
        _with_codes(iq, [("_cell", coarse_cb)])
        .withColumn("cell", F.col("_cell0").cast("bigint"))
        .filter(F.col("cell").isin(_probe_cells(query_int, coarse_cb, n_probe)))
        .drop("_cell0")
    )
    coded = _with_codes(candidates, [("_c", codebook)])
    adc = _adc_sum(_adc_lut(query_int, codebook))
    return (
        coded.select("vec_id", "cell", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(top)
    )


def _cell_and_residual(df: DataFrame, coarse_cb: list[list[list[int]]]) -> DataFrame:
    """``(vec_id, cell, iq)`` where ``iq`` is the RESIDUAL int vector
    (quantized vector minus its coarse centroid) — a pure projection against
    the literal kc×D coarse matrix."""
    kc = len(coarse_cb[0])
    centroid_matrix = F.array(
        *[F.array(*[F.lit(x) for x in coarse_cb[0][c]]) for c in range(kc)]
    )
    raw = df.select(F.col("vec_id").alias("_id"), _int_grid().alias("_raw"))
    return (
        _with_codes(raw, [("_cell", coarse_cb)], iq_col="_raw")
        .withColumn("cell", F.col("_cell0"))
        .withColumn(
            "iq",
            F.zip_with(
                F.col("_raw"),
                F.element_at(centroid_matrix, F.col("cell") + 1),
                lambda x, y: x - y,
            ),
        )
        .select(F.col("_id"), F.col("cell").cast("bigint").alias("cell"), "iq")
    )


def pq_train_residual_codebook(
    df: DataFrame,
    coarse_cb: list[list[list[int]]],
    m_subspaces: int = 4,
    k: int = 16,
    n_rounds: int = 2,
) -> list[list[list[int]]]:
    """Train the PQ codebook on coarse-cell RESIDUALS — the classic FAISS
    IVFPQ refinement: residual magnitudes are much smaller than raw vectors,
    so the same k centroids quantize them with less error."""
    iq = _cell_and_residual(df, coarse_cb).select("_id", "iq")
    return pq_train_codebooks(iq, [(m_subspaces, k, n_rounds)])[0]


def pq_ivf_residual_adc_topk(
    df: DataFrame,
    coarse_cb: list[list[list[int]]],
    codebook: list[list[list[int]]],
    query_int: list[int],
    n_probe: int = 2,
    top: int = 10,
) -> DataFrame:
    """Residual IVF-PQ scan: probe the ``n_probe`` cells nearest the query,
    encode each candidate's RESIDUAL against ``codebook``, and rank by the
    per-cell ADC table (the query's residual differs per probed cell, so the
    lookup is kc×M×k ints — still driver-trivial). Exact int64 end-to-end;
    still a projection + filter + TakeOrderedAndProject."""
    kc = len(coarse_cb[0])
    # per-cell query residual → per-(cell, m, code) ADC entries
    lut = [
        _adc_lut([q - x for q, x in zip(query_int, coarse_cb[0][cell])], codebook)
        for cell in range(kc)
    ]

    cand = _cell_and_residual(df, coarse_cb).filter(
        F.col("cell").isin(_probe_cells(query_int, coarse_cb, n_probe))
    )
    cand = _with_codes(cand, [("_c", codebook)])
    adc = F.lit(0).cast("bigint")
    for m in range(len(codebook)):
        code = F.col(f"_c{m}")
        lut_m = F.array(
            *[
                F.array(*[F.lit(int(x)).cast("bigint") for x in lut[cell][m]])
                for cell in range(kc)
            ]
        )
        adc = adc + F.element_at(
            F.element_at(lut_m, F.col("cell").cast("int") + 1), code + 1
        )
    return (
        cand.select(F.col("_id").alias("vec_id"), "cell", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(top)
    )
