"""Round-11 registrations: the six r10-built operators VERDICT r10 #2
queued for driver certification (l-diversity audit, leakage-safe cluster
splits, per-dimension embedding stats, the JSONL source boundary, video
scene cuts, audio activity segments).

Oracle styles (same taxonomy as corpus5/corpus6):
- exact SQL (a24_l_diversity / d_cluster_safe_split /
  s_embedding_dim_stats / o17_jsonl_roundtrip): DuckDB recomputes the
  full result. The first three SQL twins were landed and verified in
  round 10's tests (tests/test_privacy_splits.py,
  tests/test_embstats_jsonl.py) before this registration — those tests
  now IMPORT the canonical strings from here, so twin and oracle cannot
  drift.
- analytic SQL (mm_video_scene_cuts / mm_audio_segments): the clip
  payloads are synthesized from doc_id arithmetic inside the query, so
  the oracle derives the expected detector output in closed form — the
  mm_video_real discipline (the oracle recomputes the synthesis
  arithmetic, certifying the WAV/AVI/JPEG codecs + detector end to end on
  integer-exact fields). The formulas are pinned against the real
  operators in tests/test_videoscene.py / tests/test_audioseg.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import read_table, widen_narrow_scan
from .relational import ORACLE_SQL, query

# ---------------------------------------------------------------------------
# a24_l_diversity (operators/privacy.py — the homogeneity-attack audit
# k-anonymity misses)
# ---------------------------------------------------------------------------

#: canonical SQL twin (verified in tests/test_privacy_splits.py since r10)
L_DIVERSITY_SQL = """
    WITH tagged AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
      FROM customer),
    per_value AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, COUNT(*) AS cnt
      FROM tagged GROUP BY 1, 2, 3),
    per_class AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS l_distinct, SUM(cnt) AS class_rows
      FROM per_value GROUP BY 1, 2)
    SELECT l_distinct, COUNT(*) AS n_classes,
           CAST(SUM(class_rows) AS BIGINT) AS n_rows,
           l_distinct < 3 AS at_risk
    FROM per_class GROUP BY l_distinct ORDER BY l_distinct
"""


@query("a24_l_diversity", oracle=L_DIVERSITY_SQL)
def a24_l_diversity(spark, sf_dir):
    """Distinct-l-diversity audit (Machanavajjhala et al. 2007; engine
    addition §2.12): over customer quasi-identifier classes (nation,
    market segment) with the account-balance thousand-bucket as the
    sensitive attribute, the histogram of per-class DISTINCT sensitive
    values — the homogeneity leak a passing k-anonymity report misses.
    Three map-side-combinable rollups (corpus → value-counts → class-l →
    histogram), no windows/joins/Expand; the report is tiny and never
    itself leaks a quasi-identifier combination."""
    from ..operators.privacy import l_diversity_report

    c = read_table(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return l_diversity_report(c, ["c_nationkey", "c_mktsegment"], "bal_bucket", l=3)


# ---------------------------------------------------------------------------
# d_cluster_safe_split (operators/corpus_splits.py — eval leakage made
# impossible by construction)
# ---------------------------------------------------------------------------


def _split_audit_sql() -> str:
    """Canonical recursive-CTE twin (verified in tests/test_privacy_splits.py
    since r10): transitive closure over the certified LSH candidate pairs,
    md5-of-component split assignment, per-split rollup with the
    zero-straddle invariant inside the hash."""
    from .pipeline import _lsh_sql

    return (
        "WITH RECURSIVE pairs AS (" + _lsh_sql() + """),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
    assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)),
    tagged AS (
      SELECT *, CASE WHEN pct < 80 THEN 'train'
                     WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT *,
                   CAST(('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 4))
                        AS INT) % 100 AS pct
            FROM assigned)),
    per_comp AS (SELECT component, split, COUNT(*) AS n
                 FROM tagged GROUP BY 1, 2),
    comp_splits AS (SELECT component, COUNT(*) AS ns FROM per_comp GROUP BY 1)
    SELECT split, CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_clusters,
           CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_docs_in_dup_clusters,
           CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_straddling
    FROM per_comp JOIN comp_splits USING (component)
    GROUP BY split ORDER BY split
    """
    )


@query("d_cluster_safe_split", oracle=_split_audit_sql())
def d_cluster_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test splits (engine addition §2.12): split
    by the NEAR-DUP CLUSTER, not the document, so an eval copy of a
    training document is impossible by construction — connected components
    (large-star/small-star, the certified d_dup_clusters machinery) over
    the certified LSH candidate pairs, md5(component) split assignment
    (the repo-wide fingerprint-hash sampling discipline, bit-identical in
    DuckDB), and the split_audit rollup whose n_straddling column puts the
    zero-leakage invariant INSIDE the certified hash. One corpus-sized
    exchange in the audit; the split itself adds one broadcast-sized left
    join to the component map."""
    from ..operators.corpus_splits import cluster_safe_split, split_audit
    from .pipeline import d_lsh_candidate_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = d_lsh_candidate_pairs(spark, sf_dir)
    return split_audit(cluster_safe_split(docs.select("doc_id"), pairs))


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


# ---------------------------------------------------------------------------
# o17_jsonl_roundtrip (sources/jsonl.py — the crawl-exchange boundary)
# ---------------------------------------------------------------------------


@query(
    "o17_jsonl_roundtrip",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(1 AS BIGINT) AS n_quarantined
    FROM documents GROUP BY source
    """,
)
def o17_jsonl_roundtrip(spark, sf_dir):
    """JSONL source/sink boundary certified end to end (engine addition
    §2.1 surface): documents → sharded `write.json` → schema'd PERMISSIVE
    `read.json` with a _corrupt_record quarantine → per-source rollup that
    must equal DuckDB on the ORIGINAL parquet (clean rows round-trip
    byte-exactly through JSON quoting/unicode/null handling). One
    malformed line is INJECTED into the shard directory, so both
    quarantine semantics are load-bearing in the certified hash: the
    corrupt row must be excluded from the rollup (else an extra
    NULL-source group appears) AND counted exactly once in n_quarantined.

    The shard directory is a per-invocation mkdtemp (no fixed shared path
    — the ADVICE r10 #1 lesson), removed before returning; the tiny
    20-row result is materialized first so the returned frame never
    references the deleted files."""
    import os
    import shutil
    import tempfile

    from ..sources.jsonl import quarantine_counts, read_jsonl, write_jsonl

    tmp = tempfile.mkdtemp(prefix="spark_graft_jsonl_")
    try:
        path = os.path.join(tmp, "docs")
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        write_jsonl(docs, path)
        # injected BEFORE the first read of this brand-new directory, so
        # no FileStatusCache refresh is needed (the cache pins listings at
        # first read — the gotcha tests/test_embstats_jsonl.py pins)
        with open(os.path.join(path, "part-corrupt.json"), "w") as fh:
            fh.write('{"doc_id": 999999, "source": "x", "text": truncated\n')
        back = read_jsonl(spark, path)
        rollup = (
            back.where(F.col("_corrupt_record").isNull())
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).alias("total_chars"),
                F.sum("doc_id").alias("sum_ids"),
            )
            .crossJoin(quarantine_counts(back).select("n_quarantined"))
        )
        rows = rollup.collect()
        return spark.createDataFrame(rows, rollup.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# mm_video_scene_cuts (operators/videoscene.py — real AVI parse + JPEG
# decode + hard-cut detector, analytic oracle)
# ---------------------------------------------------------------------------


@query(
    "mm_video_scene_cuts",
    oracle="""
    WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS n, 1 + doc_id % 3 AS s
               FROM documents WHERE doc_id % 25 = 0),
    k AS (SELECT doc_id, n, s, (n - 1) // s AS kk FROM d)
    SELECT doc_id, CAST(n AS INT) AS n_frames, CAST(kk AS INT) AS n_cuts,
           CAST(s * kk * (kk + 1) // 2 AS BIGINT) AS cut_sum
    FROM k
    """,
)
def mm_video_scene_cuts(spark, sf_dir):
    """REAL scene-cut pipeline, analytic oracle (the mm_video_real
    discipline): per sampled doc a genuine MJPEG-AVI clip is muxed in an
    Arrow stage — n = 4 + doc_id%5 solid frames, a hard luma cut (40↔200)
    every s = 1 + doc_id%3 frames — then operators/videoscene.scene_cuts
    parses the container, decodes each JPEG, and scores consecutive-frame
    mean |Δluma|. Cut COUNT and POSITIONS are quantization-robust
    (within-scene diffs are exactly 0, cross-scene far above threshold),
    so the oracle recomputes them in closed form: n_cuts = (n-1)//s and
    cut_sum = s·k(k+1)/2 (the cuts are s, 2s, …, ks — their sum pins the
    positions, not just the count). Formula pinned against the operator in
    tests/test_videoscene.py. One Arrow pass; two decoded frames resident
    per clip."""
    import pandas as pd

    from ..operators.videoscene import scene_cuts

    # CPU-bound codec kernel over a single-split scan: widen so the
    # Arrow pass parallelizes (no-op on a wide cluster scan)
    d = widen_narrow_scan(
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id")
    )

    def build(batches):
        import numpy as np

        import os
        import tempfile

        from ..functions.jpegcodec import encode_jpeg
        from ..sources.avi import write_mjpeg_avi

        w, h = 16, 12
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n, s = 4 + int(doc_id) % 5, 1 + int(doc_id) % 3
                frames = [
                    encode_jpeg(
                        np.full((h, w, 3), 40 if (i // s) % 2 == 0 else 200, np.uint8),
                        95,
                    )
                    for i in range(n)
                ]
                fd, path = tempfile.mkstemp(suffix=".avi")
                os.close(fd)
                write_mjpeg_avi(path, frames, w, h, fps=10)
                with open(path, "rb") as fh:
                    payloads.append(fh.read())
                os.unlink(path)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    clips = d.mapInPandas(
        build,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    return scene_cuts(clips).select(
        "doc_id",
        "n_frames",
        "n_cuts",
        F.expr(
            "aggregate(cut_indices, 0L, (acc, x) -> acc + cast(x as bigint))"
        ).alias("cut_sum"),
    )


# ---------------------------------------------------------------------------
# mm_audio_segments (operators/audioseg.py — real WAV decode + VAD-style
# segmentation, analytic oracle)
# ---------------------------------------------------------------------------


@query(
    "mm_audio_segments",
    oracle="""
    WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS k, 1 + doc_id % 3 AS b,
                      1 + doc_id % 2 AS g
               FROM documents WHERE doc_id % 25 = 0)
    SELECT doc_id,
           CAST(k * (b + g) + g AS INT) AS n_frames,
           CAST(k * b AS INT) AS n_active_frames,
           CAST(k AS INT) AS n_segments,
           CAST(k * g + (b + g) * k * (k - 1) // 2 AS BIGINT) AS start_sum
    FROM d
    """,
)
def mm_audio_segments(spark, sf_dir):
    """REAL audio-segmentation pipeline, analytic oracle: per sampled doc
    a genuine 16-bit WAV is synthesized — k = 1 + doc_id%4 tone bursts of
    b = 1 + doc_id%3 frames, led and separated by g = 1 + doc_id%2 frames
    of digital silence (frame = 400 samples at 4 kHz, every boundary
    frame-aligned) — then operators/audioseg.audio_segments decodes it
    with the repo's own codec and segments by frame RMS. Silence has RMS
    exactly 0 and a full-scale tone sits orders of magnitude above the
    threshold, so segment counts and positions are bin-exact and the
    oracle recomputes the burst arithmetic in closed form: segments start
    at g + i·(b+g), so start_sum = k·g + (b+g)·k(k-1)/2 pins the
    positions. Formula pinned against the operator in
    tests/test_audioseg.py. One Arrow pass, O(samples) per clip."""
    import pandas as pd

    from ..operators.audioseg import audio_segments

    d = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id")
    )

    def build(batches):
        import numpy as np

        from ..functions.audiocodec import encode_wav

        rate, fl = 4000, 400
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                k = 1 + int(doc_id) % 4
                b = 1 + int(doc_id) % 3
                g = 1 + int(doc_id) % 2
                sig, t0 = [], 0
                for _ in range(k):
                    sig.append(np.zeros(g * fl))
                    t = np.arange(t0, t0 + b * fl)
                    sig.append(10_000 * np.sin(2 * np.pi * 440 * t / rate))
                    t0 += b * fl
                sig.append(np.zeros(g * fl))
                payloads.append(
                    encode_wav(
                        np.round(np.concatenate(sig)).astype(np.int16), rate
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    clips = d.mapInPandas(
        build,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    return audio_segments(clips).select(
        "doc_id",
        "n_frames",
        "n_active_frames",
        "n_segments",
        F.expr(
            "aggregate(segment_starts, 0L, (acc, x) -> acc + cast(x as bigint))"
        ).alias("start_sum"),
    )


# ---------------------------------------------------------------------------
# t_text_normalize (operators/textnorm.py — built round 11, VERDICT r10 #3:
# the pre-fingerprint Unicode canonicalization stage)
# ---------------------------------------------------------------------------

#: per-doc unicode suffixes keyed by doc_id % 6 — the documents table is
#: pure printable ASCII (probed: zero non-ASCII, zero tabs/newlines at
#: sf0.01 and sf0.1), so these injections fully control the unicode
#: repertoire the query certifies: each variant exercises one pipeline
#: stage (NFC composition ×2, Cc control strip, Cf zero-width/soft-hyphen/
#: BOM strip, whitespace canonicalization) with ~1/6 of the corpus behind
#: it. The DuckDB twin rebuilds the IDENTICAL strings with chr() (E'\\u'
#: escapes don't parse there).
_TEXTNORM_SUFFIXES = [
    "",
    " cafe\u0301 crame\u0301e",
    " A\u030angstro\u0308m",
    " x\u0007y end\u0002",
    " a\u200bb c\u00add \ufeffe",
    "  tab\there  and\u000bthere ",
]

_TEXTNORM_SQL = """
    WITH sfx AS (
      SELECT doc_id, source,
             text || (LIST_VALUE('',
                ' cafe'||chr(769)||' crame'||chr(769)||'e',
                ' A'||chr(778)||'ngstro'||chr(776)||'m',
                ' x'||chr(7)||'y end'||chr(2),
                ' a'||chr(8203)||'b c'||chr(173)||'d '||chr(65279)||'e',
                '  tab'||chr(9)||'here  and'||chr(11)||'there '
             ))[CAST(doc_id % 6 AS INT) + 1] AS raw
      FROM documents),
    n AS (
      SELECT source, raw,
             regexp_replace(regexp_replace(regexp_replace(nfc_normalize(raw),
               '[\\x00-\\x08\\x0e-\\x1f\\x7f-\\x9f\\p{Cf}]', '', 'g'),
               '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g'),
               '^ +| +$', '', 'g') AS norm
      FROM sfx)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(length(raw)) AS BIGINT) AS total_raw_chars,
           CAST(SUM(length(norm)) AS BIGINT) AS total_norm_chars,
           CAST(SUM(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(CAST(('0x' || substring(md5(norm), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_sum
    FROM n GROUP BY source
"""


@query("t_text_normalize", oracle=_TEXTNORM_SQL)
def t_text_normalize(spark, sf_dir):
    """Unicode text normalization certified end to end (engine addition
    §2.12; the pre-fingerprint stage every corpus-prep pipeline runs —
    without it a zero-width space or a decomposed accent defeats every
    byte-level dedup key in operators/dedup.py): per doc a deterministic
    unicode suffix (see _TEXTNORM_SUFFIXES) is concatenated in Catalyst,
    operators/textnorm.normalize_text canonicalizes it (NFC → Cc/Cf strip
    → whitespace collapse, one Arrow pass), and the per-source rollup
    pins raw/normalized char counts, how many docs changed, and the SUM
    of 32-bit md5 prefixes of the normalized text — the fingerprint sum
    certifies the exact normalized BYTES, so any drift in composition,
    stripping, or collapse order flips the hash. The DuckDB twin is
    nfc_normalize + the identical regex pipeline (the NFKC leg has no
    DuckDB builtin and is pinned by a VALUES twin + independent
    pure-Python recompute in tests/test_textnorm.py). Plan: JVM-side
    concat, ONE Arrow pass, JVM-side md5/length, one combinable groupBy."""
    from ..operators.textnorm import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _TEXTNORM_SUFFIXES]),
        (F.col("doc_id") % 6).cast("int") + 1,
    )
    raw = docs.select("source", F.concat(F.col("text"), sfx).alias("raw"))
    normed = normalize_text(raw, text_col="raw", form="NFC", out_col="norm_text")
    fp = F.conv(F.substring(F.md5("norm_text"), 1, 8), 16, 10).cast("long")
    return normed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("raw")).alias("total_raw_chars"),
        F.sum(F.length("norm_text")).alias("total_norm_chars"),
        F.sum((F.col("norm_text") != F.col("raw")).cast("long")).alias("n_changed"),
        F.sum(fp).alias("fp_sum"),
    )
