"""Round-4 corpus queries — the stretch between "filtered corpus" and
"training run" in a production LLM data pipeline: DSIR importance scoring,
selection, and drift monitoring; a hashed-feature Naive Bayes filter
trained and scored in Catalyst; token-budget shard manifests (plus the
dedup→quality→langid→shards composition); Bloom-prefiltered
decontamination; and the compressed ANN ladder (PQ → IVF-PQ → residual
IVF-PQ).

All follow the established engine-parity discipline: md5-derived hashes
(bit-identical across engines), log terms as integer micro-nats and
embeddings quantized to a 2^-20 integer grid so every sum/distance is exact
int64 arithmetic, deterministic tie-breaks everywhere. The oracles are the
naive single-node formulations (including CTE-unrolled Lloyd rounds); the
Spark plans are the scale-out decompositions (single tokenize pass +
broadcast model tables; two-level prefix sum instead of a one-reducer
global window; literal-codebook projections instead of joins) —
algebraically identical, hash-verified by the driver.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.bloom import bloom_contaminated_docs
from ..operators.pq import (
    Q,
    pq_adc_topk,
    pq_ivf_adc_topk,
    pq_ivf_residual_adc_topk,
    pq_train_codebook,
    pq_train_residual_codebook,
)
from ..operators.importance import (
    corpus_kl,
    corpus_kl_sql,
    dsir_scores,
    dsir_select,
    dsir_select_sql,
    dsir_sql,
)
from ..operators.nbayes import nb_confusion, nb_confusion_sql
from ..operators.sharding import shard_manifest, shard_manifest_sql
from ..session import read_table
from .relational import ORACLE_SQL, query

SHARD_BUDGET = 4_096  # tokens per training shard (whole-doc greedy packing)


@query(
    "t_dsir_scores",
    oracle=f"""
    WITH scores AS ({dsir_sql("lang = 'en'", n_buckets=1024)})
    SELECT doc_id, n_tokens, score_micro
    FROM scores
    ORDER BY score_micro DESC, doc_id
    LIMIT 50
    """,
)
def t_dsir_scores(spark, sf_dir):
    """DSIR importance scores (target = English slice): top-50 most
    target-like documents by hashed-unigram log-likelihood ratio.

    Beyond-reference LLM-pipeline operator (the reference engine has no text
    stack); recipe follows Xie et al. 2023 (DSIR). One corpus pass, ≤1024-row
    broadcast model, exact integer micro-nat scores."""
    docs = read_table(spark, sf_dir, "documents")
    out = dsir_scores(docs, target=F.col("lang") == "en", n_buckets=1024)
    return out.orderBy(F.desc("score_micro"), "doc_id").limit(50)


@query("t_corpus_kl", oracle=corpus_kl_sql("lang = 'en'", 1024))
def t_corpus_kl(spark, sf_dir):
    """Corpus-drift monitor: symmetric smoothed KL divergence between the
    English slice's and the rest's hashed-unigram distributions, in exact
    integer micro-nats (per-bucket terms rounded before the sum). The
    aggregate twin of DSIR scoring — one tokenize pass, a ≤1024-row stats
    table, one output row."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus_kl(docs, target=F.col("lang") == "en", n_buckets=1024)


@query(
    "t_dsir_resample",
    oracle=dsir_select_sql("lang = 'en'", keep_frac=0.2) + " ORDER BY 1",
)
def t_dsir_resample(spark, sf_dir):
    """DSIR selection step: keep the most-English-like ~20% of the
    non-English pool via a histogram threshold (no global sort — the
    corpus-scale shape of top-p%) and account per language for what was
    kept. Completes the DSIR recipe: score → threshold → resample."""
    docs = read_table(spark, sf_dir, "documents")
    return dsir_select(
        docs, target=F.col("lang") == "en", keep_frac=0.2, label_col="lang"
    )  # r15: terminal sort removed (order-insensitive comparator; §2.4)


@query("t_nb_confusion", oracle=nb_confusion_sql("lang", 1024) + " ORDER BY 1, 2")
def t_nb_confusion(spark, sf_dir):
    """Hashing-trick multinomial Naive Bayes trained on even doc_ids,
    scored on odd doc_ids: the fastText-style classifier filter (CCNet /
    RefinedWeb pattern) evaluated as an exact confusion matrix.

    Train AND inference are pure Catalyst — the model is a ≤(classes×1024)-row
    broadcast grid of integer micro-nat log-probabilities; no Python in
    either phase."""
    docs = read_table(spark, sf_dir, "documents")
    # r15: terminal sort removed (order-insensitive comparator; §2.4)
    return nb_confusion(docs, label_col="lang", n_buckets=1024)


@query("d_bloom_decontamination", oracle=ORACLE_SQL["d_contamination"])
def d_bloom_decontamination(spark, sf_dir):
    """The 100 TB decontamination plan: a broadcast relational Bloom bitmap
    prunes corpus shingles before the exact benchmark join (operators/
    bloom.py). Lossless for every (m_bits, k) — this query deliberately
    shares d_contamination's oracle verbatim, so the driver hash-match
    certifies that the Bloom pre-filter changes the plan, not the answer."""
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = bloom_contaminated_docs(corpus, bench, n=5, m_bits=1 << 20, k=5)
    return (
        flagged.join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_contaminated"))
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


def _pq_sql(m_sub: int = 4, k: int = 16, n_rounds: int = 2, sub_dim: int = 16, top: int = 20) -> str:
    """DuckDB oracle for s_ann_pq: unrolls the identical integer Lloyd
    rounds as CTEs (per-dim row formulation — algebraically the same exact
    int64 math as the Spark array-fold projections)."""

    def assign(cb: str, out: str) -> str:
        return _assign_sql("dims", cb, out)

    rounds_sql, cb = _lloyd_rounds_sql("dims", "cb0", n_rounds, "")
    code_cols = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN cluster END) AS code{m}" for m in range(m_sub)
    )
    return f"""
    WITH iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    dims AS (SELECT vec_id, pos // {sub_dim} AS m, pos % {sub_dim} AS d, v FROM iq),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT {k})),
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
    SELECT p.vec_id, {", ".join(f"CAST(p.code{m} AS BIGINT) AS code{m}" for m in range(m_sub))},
           a.adc_dist
    FROM pivoted p JOIN adc a USING (vec_id)
    ORDER BY a.adc_dist, p.vec_id
    LIMIT {top}
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


def _ivfpq_sql(
    kc: int = 8,
    nc_rounds: int = 1,
    m_sub: int = 4,
    k: int = 16,
    n_rounds: int = 2,
    sub_dim: int = 16,
    n_probe: int = 2,
    top: int = 10,
) -> str:
    """DuckDB oracle for s_ann_ivfpq: coarse Lloyd (1 subspace over the full
    vector) for cell assignment + probe selection, then the PQ rounds, then
    ADC over candidates in the probed cells only."""
    coarse_rounds, ccb = _lloyd_rounds_sql("cdims", "ccb0", nc_rounds, "c")
    pq_rounds, cb = _lloyd_rounds_sql("dims", "cb0", n_rounds, "")
    return f"""
    WITH iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    dims AS (SELECT vec_id, pos // {sub_dim} AS m, pos % {sub_dim} AS d, v FROM iq),
    cdims AS (SELECT vec_id, 0 AS m, pos AS d, v FROM iq),
    cseeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT {kc})),
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
        GROUP BY c.cluster) WHERE rk <= {n_probe}),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT {k})),
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
    LIMIT {top}
    """


def _ivfpq_residual_sql(
    kc: int = 8,
    nc_rounds: int = 1,
    m_sub: int = 4,
    k: int = 16,
    n_rounds: int = 2,
    sub_dim: int = 16,
    n_probe: int = 2,
    top: int = 10,
) -> str:
    """DuckDB oracle for s_ann_ivfpq_residual: the FAISS IVFPQ recipe —
    PQ codebook trained on coarse-cell residuals; ADC uses the query's
    per-cell residual."""
    coarse_rounds, ccb = _lloyd_rounds_sql("cdims", "ccb0", nc_rounds, "c")
    pq_rounds, rcb = _lloyd_rounds_sql("rdims", "rcb0", n_rounds, "r")
    return f"""
    WITH iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    dims AS (SELECT vec_id, pos // {sub_dim} AS m, pos % {sub_dim} AS d, v FROM iq),
    cdims AS (SELECT vec_id, 0 AS m, pos AS d, v FROM iq),
    cseeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT {kc})),
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
        GROUP BY c.cluster) WHERE rk <= {n_probe}),
    rdims AS (
      SELECT d.vec_id, d.m, d.d, d.v - cc.c AS v
      FROM dims d
      JOIN cells cl ON d.vec_id = cl.vec_id
      JOIN {ccb} cc ON cc.cluster = cl.cluster AND cc.d = d.m * {sub_dim} + d.d),
    rseeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM rdims ORDER BY vec_id LIMIT {k})),
    rcb0 AS (
      SELECT d.m, s.cluster, d.d, d.v AS c FROM rseeds s JOIN rdims d USING (vec_id)),
    {pq_rounds},
    {_assign_sql("rdims", rcb, "rcodes").strip()},
    qres AS (
      SELECT cc.cluster AS cell, q.d // {sub_dim} AS m, q.d % {sub_dim} AS d,
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
    LIMIT {top}
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


def _prep_to_shards_sql() -> str:
    from .corpus3 import _prep_kept_ctes

    return shard_manifest_sql(SHARD_BUDGET, table="kept", extra_ctes=_prep_kept_ctes())


@query("t_prep_to_shards_e2e", oracle=_prep_to_shards_sql())
def t_prep_to_shards_e2e(spark, sf_dir):
    """The full pretraining-data path as ONE certified query: exact dedup →
    quality gate → language gate → deterministic token-budget shard
    manifest. Composition of t_corpus_prep_e2e's filter chain (one window +
    projections, no joins) with the two-level prefix-sum packer — what a
    user runs to turn a raw document dump into loader-ready shard
    accounting."""
    from ..operators.dedup import exact_dedup
    from ..operators.sharding import NTOK_PRE, SKEY_PRE, shard_precompute
    from ..operators.text import with_lang_id, with_quality

    # scores before the dedup aggregate: identical survivor values, and the
    # agg barrier stops CollapseProject re-evaluating the heavy text
    # expressions downstream (see t_corpus_prep_e2e). r15 (guide §2.3): the
    # packer's (skey, n_tokens) are per-row functions of text too, so
    # precompute them here and DROP text from the dedup payload — the dedup
    # exchange moves five scalars per doc instead of the document body, and
    # the packer's post-agg text pass disappears (A/B at sf0.1: 3.24 →
    # 2.22 s best-of-3 interleaved).
    d = exact_dedup(
        shard_precompute(
            with_lang_id(with_quality(read_table(spark, sf_dir, "documents")))
        ),
        payload_cols=["doc_id", "quality_score", "predicted_lang", SKEY_PRE, NTOK_PRE],
    )
    kept = d.filter(
        (F.col("quality_score") >= 0.6) & (F.col("predicted_lang") == "en")
    )
    return shard_manifest(kept, budget=SHARD_BUDGET, n_ranges=64)


@query("t_shard_manifest", oracle=shard_manifest_sql(SHARD_BUDGET))
def t_shard_manifest(spark, sf_dir):
    """Token-budget training-shard manifest over the deterministically
    shuffled corpus (md5 order): shard_id → (n_docs, shard_tokens).

    The Spark plan is a two-level distributed prefix sum (64 fixed-boundary
    ranges, P-row offset broadcast) — no single-reducer global window; the
    oracle is the naive global cumsum, algebraically identical."""
    docs = read_table(spark, sf_dir, "documents")
    return shard_manifest(docs, budget=SHARD_BUDGET, n_ranges=64)


# ---------------------------------------------------------------------------
# Round-4 late certifications: cross-batch incremental dedup and embedding-
# space benchmark decontamination — both upgrade tested-only operator
# families to driver hash-certified queries.
# ---------------------------------------------------------------------------

_NORM_FP_SQL = r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"


@query(
    "d_incremental_dedup",
    oracle=f"""
    WITH fpb AS (
      SELECT doc_id, source, {_NORM_FP_SQL} AS fingerprint
      FROM (SELECT doc_id, source, text FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id + (1::BIGINT << 40), source, text FROM documents WHERE doc_id % 2 = 0)),
    ledger AS (
      SELECT DISTINCT {_NORM_FP_SQL} AS fingerprint
      FROM documents WHERE doc_id % 4 = 0),
    surv AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM fpb
        WHERE NOT EXISTS (SELECT 1 FROM ledger l WHERE l.fingerprint = fpb.fingerprint))
      WHERE rn = 1),
    nb AS (SELECT source, COUNT(*) AS n_batch FROM fpb GROUP BY source),
    ns AS (SELECT source, COUNT(*) AS n_survivors, MIN(doc_id) AS min_surv_id
           FROM surv GROUP BY source)
    SELECT nb.source, nb.n_batch,
           COALESCE(ns.n_survivors, 0) AS n_survivors,
           ns.min_surv_id
    FROM nb LEFT JOIN ns ON nb.source = ns.source
    """,
)
def d_incremental_dedup(spark, sf_dir):
    """Cross-batch incremental dedup (operators/dedup.py:incremental_dedup —
    the streaming-ingest shape of exact dedup, previously tested-only), on
    the re-crawl scenario every production ingest hits: the arriving batch
    is the doc_id % 2 == 0 slice plus an id-shifted copy of itself (a
    re-crawled shard arrives under new ids but identical text), and the
    ledger holds fingerprints of the previously-ingested doc_id % 4 == 0
    docs. So the query certifies BOTH mechanisms with guaranteed non-trivial
    counts: ledger-seen texts (half the batch) drop in the anti-join, and
    each surviving text arrives twice with different ids — the
    keep-lowest-id tie-break is what min_surv_id hash-checks.

    100 TB posture: the ledger anti-join is a hash join on the fingerprint —
    the key both sides are stored by in the durable-ledger deployment — and
    the within-batch window partitions by fingerprint (no global sort)."""
    from ..operators.dedup import incremental_dedup, norm_text

    d = read_table(spark, sf_dir, "documents")
    half = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source", "text")
    batch = half.unionAll(
        half.select(
            (F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"), "source", "text"
        )
    )
    ledger = (
        d.filter(F.col("doc_id") % 4 == 0)
        .select(F.md5(norm_text()).alias("fingerprint"))
    )
    surv = incremental_dedup(batch, seen=ledger)
    n_batch = batch.groupBy("source").agg(F.count("*").alias("n_batch"))
    n_surv = surv.groupBy("source").agg(
        F.count("*").alias("n_survivors"), F.min("doc_id").alias("min_surv_id")
    )
    return (
        n_batch.join(F.broadcast(n_surv), "source", "left")
        .withColumn("n_survivors", F.coalesce(F.col("n_survivors"), F.lit(0)))
        .select("source", "n_batch", "n_survivors", "min_surv_id")
    )


def _semantic_contamination_sql() -> str:
    from .pipeline import _cos_sql

    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    planes AS (SELECT vec_id AS plane_id, v AS p FROM e WHERE vec_id BETWEEN 1 AND 4),
    buckets AS (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(e.v, p.p) > 0
                           THEN 1 << (p.plane_id - 1) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id),
    be AS (SELECT e.vec_id, e.label, e.v, b.bucket
           FROM e JOIN buckets b ON e.vec_id = b.vec_id),
    corp AS (SELECT * FROM be WHERE vec_id % 7 != 0),
    bench AS (SELECT * FROM be WHERE vec_id % 7 = 0),
    hits AS (
      SELECT DISTINCT a.vec_id
      FROM corp a JOIN bench b ON a.bucket = b.bucket
      WHERE {_cos_sql('a.v', 'b.v')} >= 0.35)
    SELECT corp.label, COUNT(*) AS n_corpus,
           CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated
    FROM corp LEFT JOIN hits h ON corp.vec_id = h.vec_id
    GROUP BY corp.label
    """


@query("d_semantic_contamination", oracle=_semantic_contamination_sql())
def d_semantic_contamination(spark, sf_dir):
    """Embedding-space benchmark decontamination — the semantic complement
    of the n-gram d_contamination / d_bloom_decontamination pair: flag
    corpus vectors whose cosine similarity to ANY benchmark vector (the
    vec_id % 7 == 0 slice) reaches 0.35, with candidates meeting only
    inside a sign-LSH bucket (planes drawn from the data so the oracle is
    SQL-expressible — the d_semdedup_lsh discipline, applied cross-set).

    100 TB posture: one bucket pass over all vectors, persisted; the
    benchmark side is broadcast (a benchmark is always ≪ the corpus), so
    the corpus never shuffles and never self-joins; the cosine confirm runs
    only on bucket-colliding (corpus, bench) pairs."""
    from ..cache import tracked_persist
    from .pipeline import _cos_col, _dot_col, _emb

    e = _emb(spark, sf_dir, extra_cols=("label",))
    planes = e.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("plane_id"), F.col("v").alias("p")
    )
    buckets = (
        e.crossJoin(F.broadcast(planes))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(
                    _dot_col(F.col("v"), F.col("p")) > 0,
                    F.expr("shiftleft(1, cast(plane_id as int) - 1)"),
                ).otherwise(0)
            ).alias("bucket")
        )
    )
    be = tracked_persist(e.join(buckets, "vec_id"))
    corp = be.filter(F.col("vec_id") % 7 != 0)
    bench = be.filter(F.col("vec_id") % 7 == 0)
    a, b = corp.alias("a"), bench.alias("b")
    hits = (
        a.join(F.broadcast(b), F.col("a.bucket") == F.col("b.bucket"))
        .filter(_cos_col(F.col("a.v"), F.col("b.v")) >= 0.35)
        .select(F.col("a.vec_id").alias("hit_id"))
        .distinct()
    )
    return (
        corp.join(hits, corp.vec_id == hits.hit_id, "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_corpus"),
            F.sum(F.when(F.col("hit_id").isNotNull(), 1).otherwise(0)).alias(
                "n_contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 certification: s_kmeans_fit on the exact int64 grid — the same
# 2^-20 quantization + floor-mean Lloyd discipline that made the PQ family
# hash-certifiable.
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ROUNDS = 3


def _kmeans_fit_sql(k: int = _KM_K, n_rounds: int = _KM_ROUNDS) -> str:
    """DuckDB oracle: CTE-unrolled integer Lloyd (single subspace = plain
    k-means over the whole vector), then the final assignment's cluster
    profile. Same _assign/_update CTE builders as the PQ oracles."""
    rounds_sql, cb = _lloyd_rounds_sql("dims", "cb0", n_rounds, "")
    return f"""
    WITH iq AS (
      SELECT vec_id, u.i - 1 AS pos,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {float(Q)!r}) AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    dims AS (SELECT vec_id, 0 AS m, pos AS d, v FROM iq),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, vec_id
      FROM (SELECT DISTINCT vec_id FROM iq ORDER BY vec_id LIMIT {k})),
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
    from .pipeline import _cos_sql, _cos_sql_guarded

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


@query("s_ann_recall", oracle=_ann_recall_sql())
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
    from .pipeline import _emb

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
# Round-6: the FULL training-data pipeline as one certified query — lexical
# gates, semantic (embedding) dedup gate, and loader-ready shard packing
# composed end-to-end. Each stage's oracle already exists as a certified CTE
# family; this composes them verbatim, so any stage drift breaks this hash
# too.
# ---------------------------------------------------------------------------


def _full_pipeline_sql() -> str:
    from .corpus3 import _prep_kept_ctes, _semdedup_removed_ctes

    extra = f"""{_prep_kept_ctes()},
    {_semdedup_removed_ctes('s')},
    kept2 AS (
      SELECT k.doc_id, k.text FROM kept k
      WHERE NOT EXISTS (SELECT 1 FROM removeds r WHERE r.b_id = k.doc_id))"""
    return shard_manifest_sql(SHARD_BUDGET, table="kept2", extra_ctes=extra)


@query("t_full_pipeline_e2e", oracle=_full_pipeline_sql())
def t_full_pipeline_e2e(spark, sf_dir):
    """The whole pretraining-data path, one certified query: exact dedup →
    quality gate → language gate (the lexical funnel), then the SEMANTIC
    gate — documents whose embedding (vec_id == doc_id) lands in the
    OR-amplified SemDeDup removal set are dropped too (docs without an
    embedding pass through) — then the deterministic token-budget shard
    manifest over the survivors. Composes the certified
    t_corpus_prep_e2e / d_semdedup_multitable / t_shard_manifest pieces;
    the oracle reuses their CTE builders verbatim.

    Scale shape: every stage keeps its certified plan — narrow-payload
    dedup aggregate, one fused Arrow pass + (tbl, bucket)-grouped verify
    for the embedding side, an equi-key anti-join for the semantic gate
    (NO broadcast hint: the removal set is a corpus-sized FRACTION — up to
    ~half the vectors on dup-heavy crawls — so forcing a broadcast would
    hit the driver/broadcast limits the r5 ADVICE flagged; AQE picks
    broadcast itself when the set is actually small), and the two-level
    prefix-sum packer. No new shuffle shapes."""
    from ..operators.dedup import exact_dedup
    from ..operators.sharding import NTOK_PRE, SKEY_PRE, shard_precompute
    from ..operators.text import with_lang_id, with_quality
    from .corpus3 import semdedup_multitable_stats  # noqa: F401 (family doc)
    from .pipeline import _bucket_cosine_removed, _emb, _sign_lsh_bev

    # r15 (guide §2.3): precompute the packer's (skey, n_tokens) before the
    # dedup aggregate and the semantic anti-join so NEITHER shuffle moves
    # document text — both are survivor filters, so the carried per-row
    # values are identical on every surviving row.
    d = shard_precompute(
        with_lang_id(with_quality(read_table(spark, sf_dir, "documents")))
    )
    kept = exact_dedup(
        d, payload_cols=["doc_id", "quality_score", "predicted_lang", SKEY_PRE, NTOK_PRE]
    ).filter((F.col("quality_score") >= 0.6) & (F.col("predicted_lang") == "en"))

    e = _emb(spark, sf_dir)
    plane_rows = {
        r["vec_id"]: list(r["v"])
        for r in e.filter(F.col("vec_id").between(1, 16)).select("vec_id", "v").collect()
    }
    bev = _sign_lsh_bev(
        e, [plane_rows[i + 1] for i in range(16)], n_tables=4, bits_per_table=4
    )
    # r15 (guide §2.4): no .distinct() on the removal set — a LEFT ANTI
    # join is insensitive to duplicate build-side rows, so the dedup
    # exchange+aggregate bought nothing here (the semdedup queries that
    # OUTPUT the removal set keep their distinct)
    removed = _bucket_cosine_removed(
        bev, threshold=0.4, partitions=max(4, e.rdd.getNumPartitions())
    )
    kept2 = kept.join(removed, kept.doc_id == removed.b_id, "left_anti").select(
        "doc_id", SKEY_PRE, NTOK_PRE
    )
    return shard_manifest(kept2, budget=SHARD_BUDGET, n_ranges=64)


# ---------------------------------------------------------------------------
# Round-6: banding recall for the text MinHash/LSH path — the s_ann_recall
# counterpart on the lexical side. Ground truth is EXACT set-Jaccard >= 1/2
# via integer cross-multiplication (2c >= |A|+|B|-c — no float thresholds to
# flip), candidates are the certified banding generator at two (bands, rows)
# operating points, so the bands-vs-rows precision/recall trade-off becomes
# hash-checked counts instead of prose.
# ---------------------------------------------------------------------------


def _lsh_recall_sql() -> str:
    from .pipeline import _SHINGLE_SQL, _lsh_sql

    def counts(tag: str, cand: str) -> str:
        return f"""
    SELECT '{tag}' AS method,
           (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM {cand}) AS n_candidates,
           (SELECT COUNT(*) FROM exact e WHERE EXISTS (
              SELECT 1 FROM {cand} c
              WHERE c.id_a = e.id_a AND c.id_b = e.id_b)) AS n_common"""

    return (
        _SHINGLE_SQL
        + f""",
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM shingled a JOIN shingled b
        ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON i.id_a = sa.doc_id
      JOIN sizes sb ON i.id_b = sb.doc_id
      WHERE 2 * i.c >= sa.n + sb.n - i.c),
    c42 AS (SELECT * FROM ({_lsh_sql(4, 2)})),
    c24 AS (SELECT * FROM ({_lsh_sql(2, 4)}))
    {counts('b4r2', 'c42')}
    UNION ALL
    {counts('b2r4', 'c24')}
    """
    )


@query("d_lsh_recall", oracle=_lsh_recall_sql())
def d_lsh_recall(spark, sf_dir):
    """MinHash banding recall vs exact Jaccard ground truth: pairs with
    true set-Jaccard >= 1/2 (integer comparison — 2·|A∩B| >= |A∪B|), and
    how many of them each banding configuration surfaces as candidates.
    4 bands × 2 rows (high recall, more false candidates) vs 2 bands × 4
    rows (precise, lower recall) over the same 8 minhashes — the
    probability-of-collision trade-off every LSH deployment tunes,
    certified as exact counts.

    Scale shape: ground truth uses the UN-capped inverted-index join —
    that is the exact-ground-truth cost (quadratic per posting list, the
    thing the df cap exists to avoid) and belongs in a recall audit, not a
    production path; the candidate sides are the certified banding
    generator (map-side-combined signatures, band-bucket self-join).
    Collected driver state: 4 count scalars per configuration."""
    from ..cache import release_tracked, tracked_persist
    from ..operators.dedup import doc_shingles, lsh_candidate_pairs, minhash_signatures

    docs = read_table(spark, sf_dir, "documents")
    sh = tracked_persist(doc_shingles(docs))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_hash") == F.col("b.shingle_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    exact = tracked_persist(
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .filter(2 * F.col("c") >= F.col("na") + F.col("nb") - F.col("c"))
        .select("id_a", "id_b")
    )
    n_exact = exact.count()
    # no outer persist: lsh_candidate_pairs tracked-persists the signature
    # lineage itself, and both banding configs pass the same frame
    sigs = minhash_signatures(doc_shingles(docs, distinct=False), num_hashes=8)
    rows = []
    for tag, bands, rpb in (("b4r2", 4, 2), ("b2r4", 2, 4)):
        cand = tracked_persist(lsh_candidate_pairs(sigs, bands=bands, rows_per_band=rpb))
        n_cand = cand.count()
        n_common = exact.join(cand, ["id_a", "id_b"], "left_semi").count()
        rows.append((tag, n_exact, n_cand, n_common))
    release_tracked()
    return spark.createDataFrame(
        rows, "method string, n_exact bigint, n_candidates bigint, n_common bigint"
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
    from .corpus3 import _bm25_sql
    from .pipeline import _cos_sql_guarded

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


@query("t_hybrid_rrf", oracle=_hybrid_rrf_sql())
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
    from .corpus3 import BM25_TERMS
    from .pipeline import _emb

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
# Round-7: n-gram novelty — the memorization/duplication metric LLM corpus
# audits report: what fraction of each source's distinct 3-gram shingles
# appear in NO other document. Exact integer output (parts-per-million via
# integer division), composed over the shared shingle CTE.
# ---------------------------------------------------------------------------


def _ngram_novelty_sql() -> str:
    from .pipeline import _SHINGLE_SQL

    return f"""{_SHINGLE_SQL},
    dfc AS (SELECT shingle_hash, COUNT(*) AS df, MIN(doc_id) AS d
            FROM shingled GROUP BY 1),
    uniq AS (SELECT d AS doc_id, COUNT(*) AS n_uniq FROM dfc
             WHERE df = 1 GROUP BY 1),
    tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY 1),
    agg AS (
      SELECT d.source, COUNT(*) AS n_docs,
             CAST(COALESCE(SUM(t.n_sh), 0) AS BIGINT) AS n_shingles,
             CAST(COALESCE(SUM(u.n_uniq), 0) AS BIGINT) AS n_unique
      FROM documents d
      LEFT JOIN tot t USING (doc_id)
      LEFT JOIN uniq u USING (doc_id)
      GROUP BY d.source)
    SELECT source, n_docs, n_shingles, n_unique,
           CAST(CASE WHEN n_shingles > 0
                THEN (1000000 * n_unique) // n_shingles ELSE 0 END
                AS BIGINT) AS novelty_ppm
    FROM agg ORDER BY source
    """


@query("t_ngram_novelty", oracle=_ngram_novelty_sql())
def t_ngram_novelty(spark, sf_dir):
    """Corpus novelty by source (engine addition §2.12): the fraction of
    each source's distinct 3-gram shingles that occur in NO other document
    — high novelty means unique text, low novelty means the source is
    largely reassembled from shingles seen elsewhere (the memorization /
    near-duplication signal corpus audits report). Exact integers
    end-to-end: counts plus parts-per-million via integer division.

    Scale shape: NO posting-list join-back and NO doc-keyed frames at all —
    the shingle frame carries ``source`` (functionally dependent on doc_id,
    so the per-doc distinct's cardinality is unchanged), a shingle's
    uniqueness collapses inside ONE map-side-combinable aggregate (count +
    min source per shingle: df=1 rows carry their only document's source),
    and both rollups land directly on |sources|-sized frames. One
    corpus-wide shuffle for the df aggregate, map-side-combined per-source
    totals, then broadcast joins of ~20-row frames. (The earlier form
    grouped to per-DOC frames and joined them back to the documents scan —
    two extra |corpus|-row exchanges plus two doc-keyed joins.)"""
    from ..cache import tracked_persist
    from ..operators.dedup import doc_shingles

    docs = read_table(spark, sf_dir, "documents")
    sh = tracked_persist(doc_shingles(docs, keep_cols=("source",)))
    # df=1 groups have exactly one (doc, source) row, so min(source) IS that
    # document's source; the partial min/count combine map-side
    uniq = (
        sh.groupBy("shingle_hash")
        .agg(F.count("*").alias("df"), F.min("source").alias("source"))
        .filter(F.col("df") == 1)
        .groupBy("source")
        .agg(F.count("*").alias("n_unique_raw"))
    )
    tot = sh.groupBy("source").agg(F.count("*").alias("n_shingles_raw"))
    agg = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .join(F.broadcast(tot), "source", "left")
        .join(F.broadcast(uniq), "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_shingles_raw", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("n_unique_raw", F.lit(0)).cast("bigint").alias("n_unique"),
        )
    )
    ppm = F.when(
        F.col("n_shingles") > 0,
        F.expr("div(1000000 * n_unique, n_shingles)"),
    ).otherwise(F.lit(0)).cast("bigint")
    return agg.select(
        "source", "n_docs", "n_shingles", "n_unique", ppm.alias("novelty_ppm")
    )  # r15: terminal sort removed (order-insensitive comparator; §2.4)


# ---------------------------------------------------------------------------
# Round-7: label-propagation communities over the LSH near-dup candidate
# graph — finer structure than connected components (a boilerplate family
# and the pages quoting it share a component but not a community). The
# synchronous min-tie variant is deterministic, so 3 unrolled iterations
# certify exactly.
# ---------------------------------------------------------------------------


def _label_communities_sql(iters: int = 3) -> str:
    from .pipeline import _lsh_sql

    parts = [
        "WITH pairs AS (" + _lsh_sql() + ")",
        """sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs)""",
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""v{i} AS (SELECT e.src AS id, l.label, COUNT(*) AS cnt
               FROM sym e JOIN l{i - 1} l ON e.dst = l.id GROUP BY 1, 2)"""
        )
        parts.append(
            f"""l{i} AS (SELECT id, label FROM (
                 SELECT id, label,
                        ROW_NUMBER() OVER (PARTITION BY id
                                           ORDER BY cnt DESC, label ASC) AS rk
                 FROM v{i}) WHERE rk = 1)"""
        )
    parts.append(
        f"""sizes AS (SELECT label, COUNT(*) AS community_size
             FROM l{iters} GROUP BY label)"""
    )
    return (
        ",\n".join(parts)
        + """
    SELECT community_size, CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM sizes GROUP BY community_size ORDER BY community_size"""
    )


@query("d_label_communities", oracle=_label_communities_sql())
def d_label_communities(spark, sf_dir):
    """Community-size histogram of the LSH near-dup candidate graph under
    3 rounds of synchronous label propagation
    (operators/components.py:label_propagation) — the near-linear
    community detector, deterministic via lowest-label tie-breaks so both
    engines produce identical labels. Complements d_dup_clusters
    (connected components) with sub-component structure.

    Scale shape: per round one co-partitioned hash join + two combinable
    aggregations (vote counts, per-node max_by argmax — no window over
    the corpus); the histogram is two more tiny combinable aggs."""
    from ..operators.components import label_propagation
    from .pipeline import d_lsh_candidate_pairs

    labels = label_propagation(d_lsh_candidate_pairs(spark, sf_dir), iters=3)
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return (
        sizes.groupBy("community_size")
        .agg(F.count("*").alias("n_communities"))
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )


def _kcore_sql(k: int = 2, rounds: int = 4) -> str:
    from .pipeline import _lsh_sql

    # every e{i} is referenced three times (its count branch, the k{i+1}
    # degree agg, and the e{i+1} filter) and each k{i+1} twice — AS
    # MATERIALIZED pins single evaluation; with DuckDB's default inlining
    # heuristic free to expand, the unrolled chain re-evaluates the LSH
    # pipeline exponentially (it spilled >78 GB of temp at sf0.1)
    parts = [
        "WITH pairs AS MATERIALIZED (" + _lsh_sql() + ")",
        """e0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs)""",
    ]
    selects = []
    for i in range(rounds + 1):
        selects.append(
            f"""SELECT CAST({i} AS INTEGER) AS round,
                       COUNT(DISTINCT src) AS n_nodes,
                       COUNT(*) FILTER (WHERE src < dst) AS n_edges
                FROM e{i}"""
        )
        if i == rounds:
            break
        parts.append(
            f"""k{i + 1} AS MATERIALIZED (SELECT src FROM e{i} GROUP BY src
                             HAVING COUNT(*) >= {k})"""
        )
        parts.append(
            f"""e{i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i} e
                 WHERE e.src IN (SELECT src FROM k{i + 1})
                   AND e.dst IN (SELECT src FROM k{i + 1}))"""
        )
    return (
        ",\n".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY round"
    )


@query("d_kcore_peeling", oracle=_kcore_sql())
def d_kcore_peeling(spark, sf_dir):
    """k-core peeling curve of the LSH near-dup candidate graph
    (operators/components.py:kcore_peel, k=2, 4 rounds): per round, how
    many nodes/edges survive dropping every node with current degree < k.
    The survivor curve separates dense template/boilerplate families
    (which persist into the core) from incidental pairwise collisions
    (peeled in round 1) — the third graph lens after connected components
    (d_dup_clusters) and communities (d_label_communities).

    Scale shape: one persisted edge table pinned on src, built once; per
    round one degree agg over the edges with both endpoints in the live set
    (two semi-joins against the node-sized set), whose materializing job
    also reports the curve row through an observation; fixed rounds keep
    it exactly oracle-checkable (unrolled CTEs)."""
    from ..operators.components import kcore_peel
    from .pipeline import d_lsh_candidate_pairs

    return kcore_peel(d_lsh_candidate_pairs(spark, sf_dir), k=2, rounds=4)


# ---------------------------------------------------------------------------
# Round-7: content-defined chunking — the rsync/LBFS-style variable-width
# chunker behind file-level dedup in data lakes: boundaries fall where a
# rolling window's hash satisfies hash % D == 0, so an insertion only
# reshapes the chunks it touches (fixed-width chunking would shift every
# later boundary). Certified as per-source chunk/dedup statistics.
# ---------------------------------------------------------------------------

_CDC_W = 4   # token window width for boundary hashes
_CDC_D = 16  # divisor: boundary iff gram_hash % D == 0 (mean chunk ~D tokens)


def _cdc_chunks_sql(w: int = _CDC_W, D: int = _CDC_D) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents),
    g AS (
      SELECT doc_id, source, t, len(t) AS n,
             CASE WHEN len(t) >= {w} THEN
               list_transform(range(0, len(t) - {w - 1}),
                 i -> CAST(('0x' || substring(md5(
                        array_to_string(t[i + 1 : i + {w}], ' ')), 1, 15))
                      AS BIGINT))
             ELSE [] END AS gh
      FROM toks),
    b AS (
      SELECT doc_id, source, t, n,
             list_transform(
               list_filter(range(0, len(gh)), i -> gh[i + 1] % {D} = 0),
               x -> x + {w}) AS ends
      FROM g),
    c AS (SELECT doc_id, source, t, n, ends,
                 unnest(range(0, len(ends) + 1)) AS k FROM b),
    ch AS (
      SELECT doc_id, source, t,
             CASE WHEN k = 0 THEN 0 ELSE ends[k] END AS s,
             CASE WHEN k = len(ends) THEN n ELSE ends[k + 1] END AS e
      FROM c),
    ch2 AS (
      SELECT doc_id, source, e - s AS chunk_len,
             md5(array_to_string(t[s + 1 : e], ' ')) AS chunk_hash
      FROM ch WHERE s < e)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(chunk_len) AS BIGINT) AS n_tokens,
           CAST((1000000 * (COUNT(*) - COUNT(DISTINCT chunk_hash)))
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM ch2 GROUP BY source ORDER BY source
    """


def cdc_chunk_frame(docs, w: int = _CDC_W, D: int = _CDC_D):
    """(doc_id, source?, chunk_len, chunk_hash) via content-defined
    boundaries — the reusable chunker behind d_cdc_chunks; also directly
    testable for the insertion-stability property CDC exists for.

    STAGED as named columns, deliberately: referencing an expensive array
    expression from inside an interpreted HOF lambda re-evaluates the
    WHOLE tree per element (the inline form ran the md5 gram chain once
    per filter step — O(grams²) md5s per doc, 93 s at sf0.1; this form is
    ~1 s). Each heavy array (_t → _gh → _ends → _pairs) materializes once
    per row in its own projection; every alias is referenced more than
    once by non-cheap consumers, so CollapseProject cannot inline them
    back (same discipline as with_lang_id's hoisted reduced string)."""
    from ..operators.dedup import hash64

    keep = [c for c in docs.columns if c != "text"]
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d1 = docs.select(*keep, t.alias("_t"))
    width = F.greatest(F.size("_t") - (w - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice("_t", i + 1, width).alias(f"t{i}") for i in range(w)]
    )
    d2 = d1.withColumn(
        "_gh",
        F.transform(
            zipped,
            lambda s: hash64(F.concat_ws(" ", *[s[f"t{i}"] for i in range(w)])),
        ),
    )
    idx = F.when(
        F.size("_gh") > 0, F.sequence(F.lit(0), F.size("_gh") - 1)
    ).otherwise(F.array().cast("array<int>"))
    d3 = d2.withColumn(
        "_ends",
        F.transform(
            F.filter(
                idx, lambda i: F.pmod(F.element_at(F.col("_gh"), i + 1), F.lit(D)) == 0
            ),
            lambda x: x + w,
        ),
    )
    starts = F.concat(F.array(F.lit(0)), F.col("_ends"))
    stops = F.concat(F.col("_ends"), F.array(F.size("_t")))
    d4 = d3.withColumn(
        "_pairs",
        F.filter(
            F.zip_with(
                starts, stops, lambda s_, e_: F.struct(s_.alias("s"), e_.alias("e"))
            ),
            lambda p: p["s"] < p["e"],
        ),
    )
    # explode_outer, NOT explode: Generate(explode) makes Catalyst infer a
    # size(_pairs) > 0 pre-filter (InferFiltersFromGenerate) and push it
    # BELOW every staged projection — re-inlining the whole gram chain into
    # one per-row filter and re-creating the O(grams²) evaluation the
    # staging exists to prevent (92 s at sf0.1). Outer generate infers no
    # filter; the null-chunk drop happens on the cheap generated column.
    return (
        d4.select(*keep, "_t", F.explode_outer("_pairs").alias("p"))
        .filter(F.col("p").isNotNull())
        .select(
            *keep,
            (F.col("p.e") - F.col("p.s")).cast("long").alias("chunk_len"),
            F.md5(
                F.array_join(
                    F.slice("_t", F.col("p.s") + 1, F.col("p.e") - F.col("p.s")), " "
                )
            ).alias("chunk_hash"),
        )
    )


@query("d_cdc_chunks", oracle=_cdc_chunks_sql())
def d_cdc_chunks(spark, sf_dir):
    """Content-defined chunking statistics by source (engine addition
    §2.12): token windows of width 4 hash to a boundary wherever
    hash % 16 == 0, documents split at those content-determined points,
    and chunks dedupe by md5 of their text — n_chunks vs
    n_distinct_chunks (dup_ppm, exact integer division) is the
    storage-dedup win CDC exists to measure, robust to insertions in a
    way fixed windows are not. Σ chunk_len == token count, certified.

    Scale shape: everything up to the explode is per-document array
    arithmetic (gram hashes, boundary filter, start/stop pairing) inside
    one projection — the HOF lambdas run on doc-bounded arrays, not the
    corpus. The rollup is TWO-PHASE (r9, VERDICT r8 #5): chunks first
    group by (source, chunk_hash) — map-side combinable, duplicate chunks
    collapse before the wire — then per-source counts read off that
    deduplicated table, so no row crosses the shuffle more than once. The
    old single groupBy with two COUNT(DISTINCT)s expanded every chunk row
    THREE times through the aggregate (Catalyst's Expand plan for
    multi-distinct). n_docs comes from the documents table itself — a
    20-row per-source count collected once and inlined as a literal map
    (the bm25 stats-literal discipline: a broadcast-join chain for 20
    rows costs more jobs than it saves): every NON-NULL-text document
    emits at least one chunk by construction (an empty token list still
    yields the (0, n) tail pair), and the doc count filters text IS NOT
    NULL to match, so COUNT(DISTINCT doc_id) over chunks equals the
    per-source count STRUCTURALLY, not data-dependently (ADVICE r9 #2) —
    hash-verified at both sweep scales.
    No windows; the boundary hash reuses the certified shingle hash
    (md5-prefix int64)."""
    from ..session import widen_narrow_scan

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # the per-doc gram/chunk chain is CPU-bound, not byte-bound: spread a
    # narrower-than-cluster scan across cores (no-op on a wide scan)
    ch = cdc_chunk_frame(widen_narrow_scan(docs)).drop("doc_id")
    by_hash = ch.groupBy("source", "chunk_hash").agg(
        F.count("*").alias("_cnt"), F.sum("chunk_len").alias("_len")
    )
    agg = by_hash.groupBy("source").agg(
        F.sum("_cnt").alias("n_chunks"),
        F.count("*").alias("n_distinct_chunks"),
        F.sum("_len").alias("n_tokens"),
    )
    # Count n_docs only over docs that can emit chunks (non-null text) so
    # equality with the oracle's COUNT(DISTINCT doc_id)-over-chunks is
    # structural, not data-generator-dependent: a NULL-text document emits
    # nothing on either side now (ADVICE r9 #2).
    nd_rows = (
        docs.where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    nd_map = F.create_map(
        *[F.lit(v) for r in nd_rows for v in (r["source"], int(r["n"]))]
    )
    dup_ppm = F.expr("div(1000000 * (n_chunks - n_distinct_chunks), n_chunks)").cast("bigint")
    return agg.select(
        "source",
        F.element_at(nd_map, F.col("source")).cast("bigint").alias("n_docs"),
        "n_chunks", "n_distinct_chunks", "n_tokens",
        dup_ppm.alias("dup_ppm"),
    )  # r15: terminal sort removed (order-insensitive comparator; §2.4)


# ---------------------------------------------------------------------------
# Round-7 (cont.): asymmetric containment near-dup and the cross-source
# exact-duplication matrix — the two duplication views Jaccard-style
# symmetric pair mining does not report.
# ---------------------------------------------------------------------------


def _containment_sql(cap: int = 50, top: int = 20) -> str:
    from .pipeline import _SHINGLE_SQL

    return (
        _SHINGLE_SQL
        + f"""
    , dfreq AS (SELECT shingle_hash, COUNT(*) AS df FROM shingled GROUP BY 1),
    capped AS (SELECT s.doc_id, s.shingle_hash FROM shingled s
               JOIN dfreq f USING (shingle_hash) WHERE f.df <= {cap}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1),
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
               FROM capped a JOIN capped b
                 ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    dirs AS (SELECT id_a AS id_src, id_b AS id_dst, n_common FROM common
             UNION ALL SELECT id_b, id_a, n_common FROM common)
    SELECT id_src, id_dst, n_common,
           CAST((1000000 * n_common) // s.n AS BIGINT) AS containment_ppm
    FROM dirs JOIN sizes s ON s.doc_id = id_src
    ORDER BY containment_ppm DESC, id_src, id_dst
    LIMIT {top}
    """
    )


@query("d_containment_top_pairs", oracle=_containment_sql())
def d_containment_top_pairs(spark, sf_dir):
    """Top ordered pairs by shingle containment (engine addition §2.12):
    C(src→dst) = |S_src ∩ S_dst| / |S_src| flags doc-INSIDE-doc
    duplication — a short document quoted whole inside a longer one scores
    ~1 here while its symmetric Jaccard stays low, which is why crawl
    dedup pipelines run containment alongside Jaccard. Exact integer ppm.

    Scale shape (operators/dedup.py:containment_pairs): ONE df-capped
    inverted-index join computes the symmetric intersection per unordered
    pair; both directions explode out of that single aggregated frame (no
    union → no double execution of the join), and the size denominator
    joins once on the src id. Top-k via TakeOrderedAndProject heaps."""
    from ..operators.dedup import containment_pairs, doc_shingles

    shingled = doc_shingles(read_table(spark, sf_dir, "documents"))
    return (
        containment_pairs(shingled, max_doc_freq=50)
        .orderBy(F.col("containment_ppm").desc(), "id_src", "id_dst")
        .limit(20)
    )


def _cross_source_overlap_sql() -> str:
    return f"""
    WITH fps AS (SELECT DISTINCT source, {_NORM_FP_SQL} AS fp FROM documents),
    sizes AS (SELECT source, COUNT(*) AS n FROM fps GROUP BY 1),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     COUNT(*) AS n_shared_fps
              FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
              GROUP BY 1, 2)
    SELECT source_a, source_b, n_shared_fps,
           CAST((1000000 * n_shared_fps)
                // (sa.n + sb.n - n_shared_fps) AS BIGINT) AS jaccard_ppm
    FROM pairs
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY n_shared_fps DESC, source_a, source_b
    """


@query("d_cross_source_overlap", oracle=_cross_source_overlap_sql())
def d_cross_source_overlap(spark, sf_dir):
    """Cross-source exact-duplication matrix (engine addition §2.12): for
    every source pair, how many distinct normalized-text fingerprints both
    sources contain, plus the exact-integer Jaccard over their fingerprint
    sets — the report that tells a corpus curator which feeds are
    re-crawls / mirrors of each other before any expensive near-dup pass.

    Scale shape: one distinct over (source, fp), persisted once for its
    three consumers (per-source sizes + both sides of the fp self-join).
    A fingerprint's posting list is bounded by the number of SOURCES
    (dozens), not documents, so the self-join emits at most
    |sources|²-ish rows per fp — no skew bomb; the per-pair aggregate is
    map-side combinable and the size denominators broadcast."""
    from ..cache import tracked_persist
    from ..operators.dedup import norm_text

    docs = read_table(spark, sf_dir, "documents")
    fps = tracked_persist(
        docs.select("source", F.md5(norm_text()).alias("fp")).distinct()
    )
    sizes = fps.groupBy("source").agg(F.count("*").alias("n"))
    a = fps.alias("a")
    b = fps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared_fps"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_fps",
            F.expr("div(1000000 * n_shared_fps, n_a + n_b - n_shared_fps)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )
