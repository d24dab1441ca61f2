"""Round-10 queries: the six operators VERDICT r9 #2 queued for registration
(WordPiece trainer twin + vocab-bound apply, MFCC front end, CCNet-style
perplexity bucketing, cluster-balanced subsampling, k-anonymity audit) plus
the streamed-IVF-index search surface (VERDICT r9 #3).

Oracle styles used here (same taxonomy as corpus5):
- exact SQL (t_ppl_bucket_sample / s_cluster_balanced_sample /
  a23_k_anonymity / s_ann_from_index): DuckDB recomputes the full result.
  The first three SQL twins were landed and verified in round 9's tests
  (tests/test_pipeline_ops.py, tests/test_filtering.py) before this
  registration; s_ann_from_index reuses the certified IVF assignment CTE
  shape from test_cluster_balanced_sample.
- literal VALUES (t_wordpiece_vocab / mm_audio_mfcc): deterministic
  fixtures snapshotted from the test-verified operators (regenerate via
  ``tools/registry.py values`` after an INTENDED change; the md5 pins in
  tests/test_snapshot_pins.py make any regeneration a visible diff).
- sf0.01 snapshot (t_wordpiece_tokens): greedy longest-match segmentation
  is not SQL-expressible — same class as t_unigram_tokens, listed in the
  registry tool's EXPECTED_SNAPSHOT set.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import read_table, widen_narrow_scan
from .relational import ORACLE_SQL, query

# ---------------------------------------------------------------------------
# WordPiece (operators/wordpiece.py): trainer twin + vocab-bound apply
# ---------------------------------------------------------------------------

# Deterministic training corpus for the golden-cells twin — the same corpus
# tests/test_wordpiece.py verifies against an INDEPENDENT pure-Python
# implementation of the likelihood-scored merge spec.
_WORDPIECE_CORPUS = [
    (0, "low lower lowest low low"),
    (1, "new newer newest new"),
    (2, "wide wider widest wide wide wide"),
    (3, "the lowest of the low and the new"),
    (4, "newer and wider and lower"),
]
_WORDPIECE_MERGES = 12


def _wordpiece_vocab(spark):
    from ..operators.wordpiece import wordpiece_train

    corpus = spark.createDataFrame(_WORDPIECE_CORPUS, ["doc_id", "text"])
    _, vocab = wordpiece_train(corpus, n_merges=_WORDPIECE_MERGES)
    return vocab


@query("t_wordpiece_vocab")
def t_wordpiece_vocab(spark, sf_dir):
    """WordPiece trainer twin (likelihood-scored merges, exact integer
    cross-product compare, lexicographic ties — operators/wordpiece.py):
    train 12 merges on the fixed inline corpus and return the final symbol
    table (piece, exact count under the final segmentation) against a
    literal VALUES oracle snapshotted from the trainer, which
    tests/test_wordpiece.py pins against an independent reference
    implementation. Deterministic by construction, sf- and
    partitioning-independent; any scoring/tie/merge-application change
    moves at least one count."""
    vocab = _wordpiece_vocab(spark)
    return spark.createDataFrame(
        [(p, int(c)) for p, c in vocab], "piece string, count long"
    )


def _apply_vocab(spark):
    """Trained pieces UNION a character base (with ``##`` continuations) —
    the BERT convention: a released WordPiece vocab carries base characters
    so ordinary words segment rather than whole-word-[UNK]. The base
    deliberately OMITS 'q' and 'j' (the two rarest letters in the synthetic
    corpus, ~3% of word occurrences each), so those words take the [UNK]
    path: the twin then exercises all three inference branches — multi-char
    greedy match, char fallback, and [UNK] — with non-trivial hash weight
    for each."""
    import string

    pieces = {p for p, _ in _wordpiece_vocab(spark)}
    for ch in string.ascii_lowercase:
        if ch in ("q", "j"):
            continue
        pieces.add(ch)
        pieces.add("##" + ch)
    return sorted(pieces)


@query("t_wordpiece_tokens")
def t_wordpiece_tokens(spark, sf_dir):
    """Vocab-bound WordPiece APPLY over the documents table: greedy
    longest-match segments the DISTINCT word table ONCE (whole-word [UNK]
    fallback = 1 piece, the BERT rule), n_pieces/n_unk join back to the
    corpus-sized occurrence list through the shared vocab_bound_stats
    scaffolding, per-source compression rolls up — integer-exact. The
    applied vocab is the trained table plus the a-z char base (see
    :func:`_apply_vocab`) so all three inference branches carry weight in
    the hash. The oracle is an sf0.01 snapshot (greedy segmentation is not
    SQL-expressible; same class as t_unigram_tokens); equivalence with the
    per-occurrence rule is pinned by tests/test_wordpiece.py."""
    from ..operators.wordpiece import wordpiece_tokenize_stats

    docs = read_table(spark, sf_dir, "documents")
    stats = wordpiece_tokenize_stats(docs, _apply_vocab(spark))
    src = docs.select("doc_id", "source")
    return (
        stats.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_pieces").alias("total_pieces"),
            F.sum("n_unk").alias("total_unk"),
        )
    )


# ---------------------------------------------------------------------------
# MFCC front end (operators/multimodal.py audio_mfcc): tone VALUES twin
# ---------------------------------------------------------------------------


@query("mm_audio_mfcc")
def mm_audio_mfcc(spark, sf_dir):
    """REAL MFCC DSP end-to-end (WAV encode → decode → framing → rFFT power
    → HTK mel filterbank → log → DCT-II), certified as a VALUES twin: each
    document synthesizes the deterministic 1-second int16 pure tone of its
    group (grp = doc_id % 20, f = 150 + grp*80 Hz at rate 4000 — every f
    below Nyquist), audio_mfcc reduces it to 13 frame-averaged
    coefficients rounded to 6 decimals, and the query returns the 20*13
    DISTINCT (grp, ci, coef) rows. sf-independent (same grp → identical
    payload → identical vector), so the oracle is a literal snapshot from
    the test-verified operator (scaling/silence/discrimination invariants
    pinned in tests/test_imagecodec.py). Any defect in the window, the
    filterbank, the log floor, or the DCT basis moves at least one of the
    260 cells."""
    import numpy as np

    from ..functions.audiocodec import encode_wav
    from ..operators.multimodal import audio_mfcc

    # CPU-bound WAV+MFCC kernel over a single-split scan: widen so the
    # Arrow pass parallelizes (no-op on a wide cluster scan)
    docs = widen_narrow_scan(read_table(spark, sf_dir, "documents").select("doc_id"))
    rate = 4000

    def synth(batches):
        t = np.arange(rate)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["grp"] = [int(i) % 20 for i in pdf["doc_id"]]
            pdf["payload"] = [
                encode_wav(
                    np.round(
                        10_000 * np.sin(2 * np.pi * (150 + int(g) * 80) * t / rate)
                    ).astype(np.int16),
                    rate,
                )
                for g in pdf["grp"]
            ]
            yield pdf

    media = docs.mapInPandas(
        synth,
        T.StructType(
            docs.schema.fields
            + [T.StructField("grp", T.LongType()), T.StructField("payload", T.BinaryType())]
        ),
    )
    return (
        audio_mfcc(media)
        .select("grp", F.posexplode("mfcc").alias("ci", "coef"))
        .select("grp", F.col("ci").cast("bigint").alias("ci"), "coef")
        .distinct()
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing + deterministic downsampling
# (operators/importance.py, r9 build — the SQL twin verified in
# tests/test_pipeline_ops.py::test_perplexity_bucket_sample_matches_duckdb)
# ---------------------------------------------------------------------------


def _ppl_bucket_sql() -> str:
    from .corpus3 import _unigram_sql

    return f"""
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


@query("t_ppl_bucket_sample", oracle=_ppl_bucket_sql())
def t_ppl_bucket_sample(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity bucketing + deterministic
    md5 downsampling (Wenzek et al. 2020; operators/importance.py):
    boundary-based terciles over the certified unigram pseudo-perplexity
    (equal scores ALWAYS share a bucket — unlike ntile — and the
    boundaries come from a map-side-combinable (source, ppl) count plus a
    window over DISTINCT score values, so no full per-group document sort
    exists in the plan), then keep 100/50/10 pct by md5(doc_id) 16-bit
    prefix — the fingerprint-hash discipline, bit-identical in DuckDB.
    Output: exact integer keep/token counts per (source, bucket)."""
    from ..operators.importance import perplexity_bucket_sample
    from ..operators.retrieval import unigram_logprob

    docs = read_table(spark, sf_dir, "documents")
    return perplexity_bucket_sample(docs, unigram_logprob(docs))


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
# k-anonymity audit (operators/filtering.py, r9 build — SQL twin verified
# in tests/test_filtering.py)
# ---------------------------------------------------------------------------


@query(
    "a23_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
      FROM customer GROUP BY 1, 2)
    SELECT class_size, COUNT(*) AS n_classes,
           CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
           class_size < 5 AS at_risk
    FROM classes GROUP BY class_size ORDER BY class_size
    """,
)
def a23_k_anonymity(spark, sf_dir):
    """Privacy re-identification audit (engine addition §2.12): the
    k-anonymity class-size HISTOGRAM over customer quasi-identifiers
    (nation, market segment) — per equivalence-class size, how many
    classes/rows sit there and whether the size violates k=5. Two
    map-side-combinable groupBys (the d_cdc_chunks two-phase discipline),
    no windows/joins/collects; the report is tiny, shard-aggregable, and
    never itself leaks a quasi-identifier combination."""
    from ..operators.filtering import k_anonymity_report

    c = read_table(spark, sf_dir, "customer")
    return k_anonymity_report(c, ["c_nationkey", "c_mktsegment"], k=5)


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


# Literal VALUES / snapshot oracles for the deterministic twins above —
# snapshotted from the test-verified operators via
# ``tools/registry.py values`` (md5-pinned in tests/test_snapshot_pins.py;
# regenerating requires touching BOTH files, by design). ``values`` prints
# rows sorted: t_wordpiece_vocab is stored in rank order, so its
# regeneration also reorders the rows.
ORACLE_SQL.update(
    {
        "t_wordpiece_vocab": """
    SELECT * FROM (VALUES
      ('low', CAST(8 AS BIGINT)),
      ('##e', CAST(7 AS BIGINT)),
      ('wid', CAST(7 AS BIGINT)),
      ('##er', CAST(6 AS BIGINT)),
      ('new', CAST(6 AS BIGINT)),
      ('##est', CAST(4 AS BIGINT)),
      ('and', CAST(3 AS BIGINT)),
      ('th', CAST(3 AS BIGINT)),
      ('##f', CAST(1 AS BIGINT)),
      ('o', CAST(1 AS BIGINT))
    ) AS t(piece, count)
    """,
        "mm_audio_mfcc": """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(36.487918 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(19.890968 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(15.492113 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(3.354768 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(-2.529542 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(5 AS BIGINT), CAST(-7.488191 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(6 AS BIGINT), CAST(-12.398986 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(7 AS BIGINT), CAST(-11.134695 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(8 AS BIGINT), CAST(-12.575497 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(9 AS BIGINT), CAST(-7.766681 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(10 AS BIGINT), CAST(-0.662974 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(11 AS BIGINT), CAST(-2.88941 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(12 AS BIGINT), CAST(1.876315 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(36.417994 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(15.042658 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(6.230649 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(-5.505266 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(-11.47965 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST(-13.225172 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(6 AS BIGINT), CAST(-10.218383 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(7 AS BIGINT), CAST(-3.836819 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(8 AS BIGINT), CAST(2.296218 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(9 AS BIGINT), CAST(6.497235 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(10 AS BIGINT), CAST(7.01524 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(11 AS BIGINT), CAST(6.875886 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(12 AS BIGINT), CAST(3.119347 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(36.331166 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(11.997276 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(-1.180367 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(-13.531536 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(-14.233957 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(-6.869796 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(6 AS BIGINT), CAST(3.880027 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(7 AS BIGINT), CAST(10.044386 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(8 AS BIGINT), CAST(8.051441 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(9 AS BIGINT), CAST(2.032192 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(10 AS BIGINT), CAST(-4.130761 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(11 AS BIGINT), CAST(-7.862178 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(12 AS BIGINT), CAST(-6.066194 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(37.491909 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(10.265167 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(-9.249992 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(-19.192276 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(4 AS BIGINT), CAST(-11.090309 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(5 AS BIGINT), CAST(6.058039 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(6 AS BIGINT), CAST(14.231209 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(7 AS BIGINT), CAST(6.411439 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(8 AS BIGINT), CAST(-3.105485 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(9 AS BIGINT), CAST(-9.263301 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(10 AS BIGINT), CAST(-5.462848 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(11 AS BIGINT), CAST(2.271107 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(12 AS BIGINT), CAST(5.758888 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(35.192168 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(6.100125 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(-11.821964 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(-15.302454 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(0.847668 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(12.906372 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(6 AS BIGINT), CAST(6.82043 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(7 AS BIGINT), CAST(-5.073795 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(8 AS BIGINT), CAST(-10.093365 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(9 AS BIGINT), CAST(-0.960103 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(10 AS BIGINT), CAST(8.143437 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(11 AS BIGINT), CAST(5.690999 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(12 AS BIGINT), CAST(-1.547095 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(32.090226 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(-0.230638 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(-18.0087 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(3 AS BIGINT), CAST(-13.365984 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(4 AS BIGINT), CAST(7.930687 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(5 AS BIGINT), CAST(10.711513 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(6 AS BIGINT), CAST(-2.33562 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(7 AS BIGINT), CAST(-10.189209 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(8 AS BIGINT), CAST(-3.944618 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(9 AS BIGINT), CAST(8.55094 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(10 AS BIGINT), CAST(7.523979 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(11 AS BIGINT), CAST(-5.526601 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(12 AS BIGINT), CAST(-6.363163 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(34.531282 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(1 AS BIGINT), CAST(-0.915521 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(2 AS BIGINT), CAST(-16.376425 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(3 AS BIGINT), CAST(-5.344985 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(4 AS BIGINT), CAST(14.369887 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(5 AS BIGINT), CAST(6.991107 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(6 AS BIGINT), CAST(-9.126722 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(7 AS BIGINT), CAST(-6.739437 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(8 AS BIGINT), CAST(7.806567 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(9 AS BIGINT), CAST(7.867346 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(10 AS BIGINT), CAST(-3.426726 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(11 AS BIGINT), CAST(-6.855792 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(12 AS BIGINT), CAST(1.772471 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(36.290843 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(1 AS BIGINT), CAST(-4.223792 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(2 AS BIGINT), CAST(-19.859595 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(3 AS BIGINT), CAST(2.057181 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(4 AS BIGINT), CAST(16.251495 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(5 AS BIGINT), CAST(-4.178556 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(6 AS BIGINT), CAST(-13.029082 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(7 AS BIGINT), CAST(5.891215 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(8 AS BIGINT), CAST(10.637463 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(9 AS BIGINT), CAST(-5.281012 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(10 AS BIGINT), CAST(-6.952694 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(11 AS BIGINT), CAST(3.990853 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(12 AS BIGINT), CAST(4.54406 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(0 AS BIGINT), CAST(33.302453 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(1 AS BIGINT), CAST(-6.679067 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(2 AS BIGINT), CAST(-14.956155 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(3 AS BIGINT), CAST(9.630999 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(4 AS BIGINT), CAST(10.70371 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(5 AS BIGINT), CAST(-11.127537 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(6 AS BIGINT), CAST(-2.83817 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(7 AS BIGINT), CAST(11.885182 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(8 AS BIGINT), CAST(-3.053132 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(9 AS BIGINT), CAST(-8.76432 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(10 AS BIGINT), CAST(4.556122 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(11 AS BIGINT), CAST(4.45744 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(12 AS BIGINT), CAST(-6.41578 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(0 AS BIGINT), CAST(33.665928 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(1 AS BIGINT), CAST(-7.861598 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(2 AS BIGINT), CAST(-12.300951 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(3 AS BIGINT), CAST(13.108257 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(4 AS BIGINT), CAST(3.373541 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(5 AS BIGINT), CAST(-12.904862 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(6 AS BIGINT), CAST(5.366086 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(7 AS BIGINT), CAST(7.232404 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(8 AS BIGINT), CAST(-9.765569 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(9 AS BIGINT), CAST(0.697302 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(10 AS BIGINT), CAST(8.886151 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(11 AS BIGINT), CAST(-5.196939 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(12 AS BIGINT), CAST(-3.021334 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(0 AS BIGINT), CAST(32.551296 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(1 AS BIGINT), CAST(-8.207154 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(2 AS BIGINT), CAST(-10.6255 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(3 AS BIGINT), CAST(15.216097 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(4 AS BIGINT), CAST(-2.404643 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(5 AS BIGINT), CAST(-11.055529 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(6 AS BIGINT), CAST(11.770643 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(7 AS BIGINT), CAST(-3.134284 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(8 AS BIGINT), CAST(-7.438785 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(9 AS BIGINT), CAST(9.251241 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(10 AS BIGINT), CAST(0.700271 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(11 AS BIGINT), CAST(-8.328342 AS DOUBLE)),
      (CAST(10 AS BIGINT), CAST(12 AS BIGINT), CAST(5.077566 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(0 AS BIGINT), CAST(33.152237 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(1 AS BIGINT), CAST(-10.446863 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(2 AS BIGINT), CAST(-7.058138 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(3 AS BIGINT), CAST(15.103061 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(4 AS BIGINT), CAST(-9.207294 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(5 AS BIGINT), CAST(-3.449891 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(6 AS BIGINT), CAST(11.767511 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(7 AS BIGINT), CAST(-9.5602 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(8 AS BIGINT), CAST(-0.534711 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(9 AS BIGINT), CAST(7.469058 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(10 AS BIGINT), CAST(-8.083776 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(11 AS BIGINT), CAST(1.820473 AS DOUBLE)),
      (CAST(11 AS BIGINT), CAST(12 AS BIGINT), CAST(5.711853 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(0 AS BIGINT), CAST(34.239793 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(1 AS BIGINT), CAST(-15.847683 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(2 AS BIGINT), CAST(-5.317131 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(3 AS BIGINT), CAST(15.596353 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(4 AS BIGINT), CAST(-13.742019 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(5 AS BIGINT), CAST(2.825189 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(6 AS BIGINT), CAST(9.153475 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(7 AS BIGINT), CAST(-13.400546 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(8 AS BIGINT), CAST(6.124864 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(9 AS BIGINT), CAST(3.081595 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(10 AS BIGINT), CAST(-9.27839 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(11 AS BIGINT), CAST(6.802444 AS DOUBLE)),
      (CAST(12 AS BIGINT), CAST(12 AS BIGINT), CAST(-0.286518 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(0 AS BIGINT), CAST(32.349826 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(1 AS BIGINT), CAST(-12.667927 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(2 AS BIGINT), CAST(-2.040905 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(3 AS BIGINT), CAST(10.402135 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(4 AS BIGINT), CAST(-15.529984 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(5 AS BIGINT), CAST(7.617318 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(6 AS BIGINT), CAST(4.867726 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(7 AS BIGINT), CAST(-8.998261 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(8 AS BIGINT), CAST(10.961758 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(9 AS BIGINT), CAST(-3.466313 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(10 AS BIGINT), CAST(-2.484512 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(11 AS BIGINT), CAST(8.242304 AS DOUBLE)),
      (CAST(13 AS BIGINT), CAST(12 AS BIGINT), CAST(-5.588415 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(0 AS BIGINT), CAST(32.828918 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(1 AS BIGINT), CAST(-12.694896 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(2 AS BIGINT), CAST(3.442678 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(3 AS BIGINT), CAST(7.709514 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(4 AS BIGINT), CAST(-13.182283 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(5 AS BIGINT), CAST(12.421335 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(6 AS BIGINT), CAST(-4.543631 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(7 AS BIGINT), CAST(-4.340658 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(8 AS BIGINT), CAST(9.228638 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(9 AS BIGINT), CAST(-9.933543 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(10 AS BIGINT), CAST(5.307673 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(11 AS BIGINT), CAST(0.329935 AS DOUBLE)),
      (CAST(14 AS BIGINT), CAST(12 AS BIGINT), CAST(-5.045583 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(0 AS BIGINT), CAST(31.243053 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(1 AS BIGINT), CAST(-13.241356 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(2 AS BIGINT), CAST(7.169028 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(3 AS BIGINT), CAST(5.293591 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(4 AS BIGINT), CAST(-11.374519 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(5 AS BIGINT), CAST(13.355179 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(6 AS BIGINT), CAST(-11.472681 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(7 AS BIGINT), CAST(4.252972 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(8 AS BIGINT), CAST(1.772443 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(9 AS BIGINT), CAST(-4.605269 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(10 AS BIGINT), CAST(7.962826 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(11 AS BIGINT), CAST(-9.402372 AS DOUBLE)),
      (CAST(15 AS BIGINT), CAST(12 AS BIGINT), CAST(5.205197 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(0 AS BIGINT), CAST(31.710862 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(-16.281566 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(2 AS BIGINT), CAST(7.646746 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(3 AS BIGINT), CAST(-1.912068 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(4 AS BIGINT), CAST(-5.968846 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(5 AS BIGINT), CAST(9.253391 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(6 AS BIGINT), CAST(-11.884987 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(7 AS BIGINT), CAST(12.062011 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(8 AS BIGINT), CAST(-5.934601 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(9 AS BIGINT), CAST(3.055562 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(10 AS BIGINT), CAST(2.53848 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(11 AS BIGINT), CAST(-4.841479 AS DOUBLE)),
      (CAST(16 AS BIGINT), CAST(12 AS BIGINT), CAST(7.753553 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(0 AS BIGINT), CAST(34.924322 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(1 AS BIGINT), CAST(-17.995979 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(2 AS BIGINT), CAST(10.914336 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(3 AS BIGINT), CAST(-6.223074 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(4 AS BIGINT), CAST(-3.369193 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(5 AS BIGINT), CAST(7.475251 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(6 AS BIGINT), CAST(-12.078535 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(7 AS BIGINT), CAST(12.486768 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(8 AS BIGINT), CAST(-11.625252 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(9 AS BIGINT), CAST(9.028253 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(10 AS BIGINT), CAST(-3.561482 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(11 AS BIGINT), CAST(0.948956 AS DOUBLE)),
      (CAST(17 AS BIGINT), CAST(12 AS BIGINT), CAST(2.003462 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(0 AS BIGINT), CAST(30.618101 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(1 AS BIGINT), CAST(-16.884097 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(2 AS BIGINT), CAST(10.912463 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(3 AS BIGINT), CAST(-6.360639 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(4 AS BIGINT), CAST(1.782916 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(5 AS BIGINT), CAST(0.284443 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(6 AS BIGINT), CAST(-7.971285 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(7 AS BIGINT), CAST(9.839178 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(8 AS BIGINT), CAST(-10.476922 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(9 AS BIGINT), CAST(9.283356 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(10 AS BIGINT), CAST(-8.711186 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(11 AS BIGINT), CAST(7.112011 AS DOUBLE)),
      (CAST(18 AS BIGINT), CAST(12 AS BIGINT), CAST(-2.636472 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(0 AS BIGINT), CAST(32.030559 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(1 AS BIGINT), CAST(-15.511379 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(2 AS BIGINT), CAST(11.988317 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(3 AS BIGINT), CAST(-10.422877 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(4 AS BIGINT), CAST(7.550695 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(5 AS BIGINT), CAST(-3.968771 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(6 AS BIGINT), CAST(1.096249 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(7 AS BIGINT), CAST(1.584805 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(8 AS BIGINT), CAST(-3.836901 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(9 AS BIGINT), CAST(7.506129 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(10 AS BIGINT), CAST(-7.44878 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(11 AS BIGINT), CAST(7.907576 AS DOUBLE)),
      (CAST(19 AS BIGINT), CAST(12 AS BIGINT), CAST(-7.874518 AS DOUBLE))
    ) AS t(grp, ci, coef)
    """,
        "t_wordpiece_tokens": """
    SELECT * FROM (VALUES
      ('src0', CAST(25 AS BIGINT), CAST(1435 AS BIGINT), CAST(5993 AS BIGINT), CAST(80 AS BIGINT)),
      ('src1', CAST(25 AS BIGINT), CAST(1540 AS BIGINT), CAST(6456 AS BIGINT), CAST(100 AS BIGINT)),
      ('src10', CAST(25 AS BIGINT), CAST(1303 AS BIGINT), CAST(5365 AS BIGINT), CAST(84 AS BIGINT)),
      ('src11', CAST(25 AS BIGINT), CAST(1522 AS BIGINT), CAST(6223 AS BIGINT), CAST(123 AS BIGINT)),
      ('src12', CAST(25 AS BIGINT), CAST(1272 AS BIGINT), CAST(5165 AS BIGINT), CAST(90 AS BIGINT)),
      ('src13', CAST(25 AS BIGINT), CAST(1553 AS BIGINT), CAST(6311 AS BIGINT), CAST(112 AS BIGINT)),
      ('src14', CAST(25 AS BIGINT), CAST(1318 AS BIGINT), CAST(5431 AS BIGINT), CAST(77 AS BIGINT)),
      ('src15', CAST(25 AS BIGINT), CAST(1298 AS BIGINT), CAST(5321 AS BIGINT), CAST(76 AS BIGINT)),
      ('src16', CAST(25 AS BIGINT), CAST(1351 AS BIGINT), CAST(5550 AS BIGINT), CAST(114 AS BIGINT)),
      ('src17', CAST(25 AS BIGINT), CAST(1373 AS BIGINT), CAST(5586 AS BIGINT), CAST(90 AS BIGINT)),
      ('src18', CAST(25 AS BIGINT), CAST(1364 AS BIGINT), CAST(5678 AS BIGINT), CAST(91 AS BIGINT)),
      ('src19', CAST(25 AS BIGINT), CAST(1147 AS BIGINT), CAST(4712 AS BIGINT), CAST(82 AS BIGINT)),
      ('src2', CAST(25 AS BIGINT), CAST(1407 AS BIGINT), CAST(5732 AS BIGINT), CAST(96 AS BIGINT)),
      ('src3', CAST(25 AS BIGINT), CAST(1384 AS BIGINT), CAST(5655 AS BIGINT), CAST(104 AS BIGINT)),
      ('src4', CAST(25 AS BIGINT), CAST(1294 AS BIGINT), CAST(5351 AS BIGINT), CAST(78 AS BIGINT)),
      ('src5', CAST(25 AS BIGINT), CAST(1329 AS BIGINT), CAST(5474 AS BIGINT), CAST(77 AS BIGINT)),
      ('src6', CAST(25 AS BIGINT), CAST(1266 AS BIGINT), CAST(5190 AS BIGINT), CAST(84 AS BIGINT)),
      ('src7', CAST(25 AS BIGINT), CAST(1507 AS BIGINT), CAST(6125 AS BIGINT), CAST(104 AS BIGINT)),
      ('src8', CAST(25 AS BIGINT), CAST(1136 AS BIGINT), CAST(4690 AS BIGINT), CAST(82 AS BIGINT)),
      ('src9', CAST(25 AS BIGINT), CAST(1366 AS BIGINT), CAST(5588 AS BIGINT), CAST(91 AS BIGINT))
    ) AS t(source, n_docs, total_words, total_pieces, total_unk)
    """,
    }
)
