"""Round-9 queries: pattern mining + anomaly detection (operators/mining.py),
TPC-H Q6 shape, real-DSP spectral certification, pHash VALUES twin, and the
unigram tokenizer pair (operators/unigram.py) — the six operators VERDICT r8
#2 queued for registration plus two window fillers (q6, the tokenize-stats
apply after the vocab-bound rework).

Oracle styles used here:
- exact SQL (o16/w13/w14/q6): DuckDB recomputes the full result.
- analytic SQL (mm_audio_spectral): the oracle regenerates the synthesized
  tone frequency from doc_id arithmetic — the Spark side must MEASURE it via
  the real WAV + rFFT path (mm_decode_real pattern). Only bin-exact
  quantities (argmax bin, rolloff bin) enter the hash: the spectral centroid
  of an int16-quantized tone is off its bin by ~0.03 Hz (quantization
  distortion), so it is test-covered but not hash-certified.
- literal VALUES (mm_image_phash / t_unigram_vocab): the m_*_cells pattern —
  deterministic fixtures, snapshotted from the test-verified operators
  (regenerate with ``tools/registry.py values`` after an intended change).
- sf0.01 snapshot (t_unigram_tokens): the segmentation itself is not
  SQL-expressible (Viterbi); deterministic output pinned at the gate scale,
  same class as the MLlib/HLL snapshot oracles (plans/snapshots.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import read_table, widen_narrow_scan
from .relational import ORACLE_SQL, query, scaled_units

# ---------------------------------------------------------------------------
# pattern mining + anomaly detection (operators/mining.py, VERDICT r8 #2)
# ---------------------------------------------------------------------------


@query(
    "o16_frequent_part_pairs",
    oracle="""
    WITH ti AS (SELECT DISTINCT l_orderkey AS t, l_partkey AS i FROM lineitem),
    p AS (
      SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_txns
      FROM ti a JOIN ti b ON a.t = b.t AND a.i < b.i
      GROUP BY a.i, b.i HAVING COUNT(*) >= 2)
    SELECT item_a, item_b, n_txns FROM p
    ORDER BY n_txns DESC, item_a, item_b LIMIT 20
    """,
)
def o16_frequent_part_pairs(spark, sf_dir):
    """Market-basket 2-itemset mining: parts co-ordered in the same order,
    support >= 2, top-20 by (support, pair). The self-join meets INSIDE a
    transaction so fan-out is basket-bounded (TPC-H: <= 7 lines/order), and
    ``max_basket=50`` arms the skew guard (VERDICT r8 #4) — a malformed
    100 TB input cannot emit k²/2 rows onto one reducer. The cap drops
    nothing here (every basket is far below 50), so the capped plan and the
    uncapped oracle agree exactly."""
    from ..operators.mining import frequent_pairs

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return frequent_pairs(
        li, "l_orderkey", "l_partkey", min_support=2, top=20, max_basket=50
    )


@query(
    "w13_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events)
    SELECT prev AS from_state, event_type AS to_state, COUNT(*) AS n_transitions
    FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
    """,
)
def w13_event_transitions(spark, sf_dir):
    """First-order state-transition matrix over each user's event sequence
    ordered by (ts, event_id) — the Markov-chain rollup of user paths. One
    lag window per user (the w11 exchange shape) feeding a map-side-
    combinable count; exact under timestamp collisions via the event_id
    tie-break."""
    from ..operators.mining import transition_counts

    e = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    return transition_counts(e, "user_id", "event_type", "ts", "event_id")


@query(
    "w14_daily_anomalies",
    oracle="""
    WITH counts AS (
      SELECT event_type AS k, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT k, day, n_events,
             COUNT(n_events) OVER w AS n_prev,
             ROUND(AVG(n_events) OVER w, 6) AS mean_prev,
             ROUND(COALESCE(STDDEV_SAMP(n_events) OVER w, 0.0), 6) AS std_prev
      FROM counts
      WINDOW w AS (PARTITION BY k ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
    scored AS (
      SELECT k AS event_type, CAST(epoch_ms(day) AS BIGINT) AS day_ms,
             n_events, mean_prev, std_prev,
             CASE WHEN n_prev >= 3 AND std_prev > 0
                  THEN ROUND((n_events - mean_prev) / std_prev, 6) END AS zscore
      FROM stats)
    SELECT event_type, day_ms, n_events, mean_prev, std_prev, zscore,
           COALESCE(ABS(zscore) > 2.0, FALSE) AS is_anomaly
    FROM scored
    """,
)
def w14_daily_anomalies(spark, sf_dir):
    """Rolling z-score anomaly detection on daily event counts per type:
    each (type, day) scored against the trailing 7 OBSERVED days (current
    day excluded), |z| > 2 flags; cold-start (<3 days) and zero-variance
    series never flag. The event log reduces to per-(key, day) counts
    FIRST — the rolling window then runs over that tiny table, so the
    detector's cost is days x keys, not events."""
    from ..operators.mining import rolling_zscore_anomalies

    e = read_table(spark, sf_dir, "events")
    return rolling_zscore_anomalies(e, "event_type", "ts", window_days=7, threshold=2.0)


# ---------------------------------------------------------------------------
# TPC-H Q6 shape (window filler: the classic all-pushdown scan-agg)
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: forecast-revenue-change — the canonical scan-dominated
    query. EVERY predicate (shipdate range, discount band, quantity cap)
    reaches the parquet scan as a pushed filter over a 3-column ReadSchema;
    the sum is one partial-agg pair with no shuffle beyond the 1-row merge.
    Revenue rides the q1 scaled-long discipline (cents x basis points =
    exact int64 products, summed wide and rescaled once) so both engines
    hold the identical rational."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    pc = scaled_units("l_extendedprice", 100)
    dsc = scaled_units("l_discount", 10000)
    return li.agg(
        (
            F.sum(pc * dsc).cast("decimal(38,0)")
            / F.lit(1000000).cast("decimal(7,0)")
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# multimodal: real-DSP spectral certification + pHash twin
# ---------------------------------------------------------------------------


@query(
    "mm_audio_spectral",
    oracle="""
    WITH d AS (SELECT doc_id, 100 + (doc_id % 18) * 50 AS f FROM documents)
    SELECT CAST(f AS DOUBLE) AS dominant_hz,
           COUNT(*) AS n_clips,
           CAST(f AS DOUBLE) AS min_rolloff_hz,
           CAST(f AS DOUBLE) AS max_rolloff_hz
    FROM d GROUP BY f
    """,
)
def mm_audio_spectral(spark, sf_dir):
    """REAL spectral DSP end-to-end: synthesize a 1-second int16 pure tone
    per document at f = 100 + (doc_id % 18)*50 Hz (rate 2000 → 1 Hz bins,
    every tone exactly on a bin), run the WAV encode → decode → rFFT
    pipeline (operators/multimodal.audio_spectral_features), and group by
    the MEASURED dominant frequency. The oracle regenerates f analytically
    — the hash match certifies that argmax-bin and 85%-rolloff-bin both
    recover the synthesized frequency exactly for every clip (min = max =
    f within each group; a single wrong clip splits a group). Centroid and
    flatness are noise-floor-sensitive under int16 quantization (~0.03 Hz
    centroid shift) and are covered by tests, not the hash."""
    import numpy as np
    from ..functions.audiocodec import encode_wav
    from ..operators.multimodal import audio_spectral_features

    # CPU-bound codec/DSP kernel over a single-split scan: widen so the
    # Arrow pass parallelizes (no-op on a wide cluster scan)
    docs = widen_narrow_scan(read_table(spark, sf_dir, "documents").select("doc_id"))
    rate = 2000

    def synth(batches):
        t = np.arange(rate)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [
                encode_wav(
                    np.round(
                        10_000
                        * np.sin(2 * np.pi * (100 + int(i) % 18 * 50) * t / rate)
                    ).astype(np.int16),
                    rate,
                )
                for i in pdf["doc_id"]
            ]
            yield pdf

    media = docs.mapInPandas(
        synth,
        T.StructType(docs.schema.fields + [T.StructField("payload", T.BinaryType())]),
    )
    feats = audio_spectral_features(media)
    return feats.groupBy("dominant_hz").agg(
        F.count("*").alias("n_clips"),
        F.min("rolloff85_hz").alias("min_rolloff_hz"),
        F.max("rolloff85_hz").alias("max_rolloff_hz"),
    )


@query("mm_image_phash")
def mm_image_phash(spark, sf_dir):
    """Perceptual-hash (DCT pHash) VALUES twin: each document synthesizes
    the deterministic 64x64 PNG of its group (grp = doc_id % 25; pixel
    (r, c) = (a·r + b·c + c2·r·c + d) mod 256 with a,b,c2,d from
    md5(grp)), the REAL codec + block-mean + DCT-II + median-threshold
    pipeline hashes it, and the query returns the 25 DISTINCT
    (grp, phash) pairs — sf-independent, so the oracle is a literal
    snapshot from the test-verified operator (brightness-invariance and
    discrimination are pinned in tests/test_imagecodec.py). Any defect in
    the PNG round-trip, the 32x32 downsample, the cosine basis, or the
    bit packing moves at least one of the 25 hashes."""
    import hashlib

    import numpy as np
    from ..functions.imagecodec import encode_png
    from ..operators.multimodal import image_phash

    # CPU-bound codec/DSP kernel over a single-split scan: widen so the
    # Arrow pass parallelizes (no-op on a wide cluster scan)
    docs = widen_narrow_scan(read_table(spark, sf_dir, "documents").select("doc_id"))

    def synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["grp"] = [int(i) % 25 for i in pdf["doc_id"]]
            payloads = []
            for g in pdf["grp"]:
                h = hashlib.md5(str(int(g)).encode()).digest()
                a, b, c2, d = h[0], h[1], h[2], h[3]
                r = np.arange(64, dtype=np.int64).reshape(-1, 1)
                c = np.arange(64, dtype=np.int64).reshape(1, -1)
                img = ((a * r + b * c + c2 * r * c + d) % 256).astype(np.uint8)
                payloads.append(
                    encode_png(np.repeat(img[:, :, None], 3, axis=2), compress_level=1)
                )
            pdf["payload"] = payloads
            yield pdf

    media = docs.mapInPandas(
        synth,
        T.StructType(
            docs.schema.fields
            + [T.StructField("grp", T.LongType()), T.StructField("payload", T.BinaryType())]
        ),
    )
    return image_phash(media).select("grp", "phash").distinct()


# ---------------------------------------------------------------------------
# unigram tokenizer (operators/unigram.py): train twin + vocab-bound apply
# ---------------------------------------------------------------------------

# Deterministic training corpus for the golden-cells twin: built inline (no
# sf dependence), rich enough that multi-char pieces beat chars in EM.
_UNIGRAM_CORPUS = [
    (0, "the cat sat on the mat and the cat ran"),
    (1, "the cats sat on the mats and the dogs ran"),
    (2, "a catalog of cats and dogs and logs"),
    (3, "the dog sat on the log and the dog ran"),
    (4, "dogs and cats and dogs and cats on logs"),
    (5, "running cats running dogs running rats"),
    (6, "the rat sat on the cat on the mat"),
    (7, "rats and bats and cats in the catalog"),
]


def _unigram_vocab(spark):
    from ..operators.unigram import unigram_train

    corpus = spark.createDataFrame(_UNIGRAM_CORPUS, ["doc_id", "text"])
    return unigram_train(
        corpus, vocab_size=16, max_piece_len=4, seed_size=64, iters=3
    )


@query("t_unigram_vocab")
def t_unigram_vocab(spark, sf_dir):
    """Unigram-LM tokenizer training twin (SentencePiece hard-EM,
    operators/unigram.py): train on the fixed inline corpus and return the
    final vocabulary — (piece, exact integer E-step count, logp rounded 6)
    — against a literal VALUES oracle snapshotted from the trainer, which
    tests/test_unigram.py pins against an INDEPENDENT pure-Python
    implementation of the same spec. Deterministic by construction (ties
    break on fewer pieces then lexicographic), so the twin is sf- and
    partitioning-independent; any EM/seed/prune change flips the hash."""
    vocab = _unigram_vocab(spark)
    return spark.createDataFrame(
        [(p, c, lp) for p, c, lp in vocab],
        "piece string, count long, logp double",
    )


@query("t_unigram_tokens")
def t_unigram_tokens(spark, sf_dir):
    """Vocab-bound tokenizer APPLY (VERDICT r8 #3) over the documents
    table: Viterbi segments the DISTINCT word table ONCE, n_pieces joins
    back to the corpus-sized occurrence list, per-source compression
    rolls up — integer-exact. The oracle is an sf0.01 snapshot
    (segmentation is not SQL-expressible; same class as the MLlib/HLL
    snapshot oracles) — equivalence with the per-occurrence path is pinned
    by tests/test_unigram.py."""
    from ..operators.unigram import unigram_tokenize_stats

    docs = read_table(spark, sf_dir, "documents")
    stats = unigram_tokenize_stats(docs, _unigram_vocab(spark))
    src = docs.select("doc_id", "source")
    return (
        stats.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_pieces").alias("total_pieces"),
        )
    )


# Literal VALUES oracles for the deterministic twins above — snapshotted
# from the test-verified operators via ``tools/registry.py values``, which
# prints rows sorted: t_unigram_vocab is stored in rank order, so its
# regeneration also reorders the rows.
ORACLE_SQL.update(
    {
        "mm_image_phash": """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(-796639149958253559 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST(-2748565064733148377 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(-3056751518483616982 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(14574818227059713 AS BIGINT)),
      (CAST(4 AS BIGINT), CAST(7404381586088336595 AS BIGINT)),
      (CAST(5 AS BIGINT), CAST(1757094836499081098 AS BIGINT)),
      (CAST(6 AS BIGINT), CAST(-4482550311305827990 AS BIGINT)),
      (CAST(7 AS BIGINT), CAST(3097451047555205606 AS BIGINT)),
      (CAST(8 AS BIGINT), CAST(5767018255185975436 AS BIGINT)),
      (CAST(9 AS BIGINT), CAST(-196931230679899493 AS BIGINT)),
      (CAST(10 AS BIGINT), CAST(3729145816445636510 AS BIGINT)),
      (CAST(11 AS BIGINT), CAST(5926349089983706285 AS BIGINT)),
      (CAST(12 AS BIGINT), CAST(-6359900924491115484 AS BIGINT)),
      (CAST(13 AS BIGINT), CAST(-3406265419990394423 AS BIGINT)),
      (CAST(14 AS BIGINT), CAST(-7702171443849735555 AS BIGINT)),
      (CAST(15 AS BIGINT), CAST(-2456645603371056727 AS BIGINT)),
      (CAST(16 AS BIGINT), CAST(-5611665082695013645 AS BIGINT)),
      (CAST(17 AS BIGINT), CAST(-6491947601932246307 AS BIGINT)),
      (CAST(18 AS BIGINT), CAST(5650025742190420434 AS BIGINT)),
      (CAST(19 AS BIGINT), CAST(5343256111693837224 AS BIGINT)),
      (CAST(20 AS BIGINT), CAST(300480151615434665 AS BIGINT)),
      (CAST(21 AS BIGINT), CAST(8091846354677264241 AS BIGINT)),
      (CAST(22 AS BIGINT), CAST(-2654914160891359456 AS BIGINT)),
      (CAST(23 AS BIGINT), CAST(-5263113540442315191 AS BIGINT)),
      (CAST(24 AS BIGINT), CAST(-7204432637901251986 AS BIGINT))
    ) AS t(grp, phash)
    """,
        "t_unigram_vocab": """
    SELECT * FROM (VALUES
      ('the', CAST(13 AS BIGINT), CAST(-2.03017 AS DOUBLE)),
      ('and', CAST(10 AS BIGINT), CAST(-2.292535 AS DOUBLE)),
      ('cats', CAST(6 AS BIGINT), CAST(-2.80336 AS DOUBLE)),
      ('on', CAST(6 AS BIGINT), CAST(-2.80336 AS DOUBLE)),
      ('cat', CAST(5 AS BIGINT), CAST(-2.985682 AS DOUBLE)),
      ('dogs', CAST(5 AS BIGINT), CAST(-2.985682 AS DOUBLE)),
      ('sat', CAST(4 AS BIGINT), CAST(-3.208825 AS DOUBLE)),
      ('mat', CAST(3 AS BIGINT), CAST(-3.496508 AS DOUBLE)),
      ('ning', CAST(3 AS BIGINT), CAST(-3.496508 AS DOUBLE)),
      ('ran', CAST(3 AS BIGINT), CAST(-3.496508 AS DOUBLE)),
      ('run', CAST(3 AS BIGINT), CAST(-3.496508 AS DOUBLE)),
      ('a', CAST(2 AS BIGINT), CAST(-3.496508 AS DOUBLE)),
      ('alog', CAST(2 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('dog', CAST(2 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('logs', CAST(2 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('o', CAST(2 AS BIGINT), CAST(-3.496508 AS DOUBLE)),
      ('f', CAST(1 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('g', CAST(1 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('i', CAST(1 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('l', CAST(1 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('n', CAST(1 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('r', CAST(1 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('s', CAST(1 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('t', CAST(1 AS BIGINT), CAST(-3.901973 AS DOUBLE)),
      ('b', CAST(0 AS BIGINT), CAST(-4.59512 AS DOUBLE)),
      ('c', CAST(0 AS BIGINT), CAST(-4.59512 AS DOUBLE)),
      ('d', CAST(0 AS BIGINT), CAST(-4.59512 AS DOUBLE)),
      ('e', CAST(0 AS BIGINT), CAST(-4.59512 AS DOUBLE)),
      ('h', CAST(0 AS BIGINT), CAST(-4.59512 AS DOUBLE)),
      ('m', CAST(0 AS BIGINT), CAST(-4.59512 AS DOUBLE)),
      ('u', CAST(0 AS BIGINT), CAST(-4.59512 AS DOUBLE))
    ) AS t(piece, count, logp)
    """,
        "t_unigram_tokens": """
    SELECT * FROM (VALUES
      ('src0', CAST(25 AS BIGINT), CAST(1435 AS BIGINT), CAST(6437 AS BIGINT)),
      ('src1', CAST(25 AS BIGINT), CAST(1540 AS BIGINT), CAST(7001 AS BIGINT)),
      ('src10', CAST(25 AS BIGINT), CAST(1303 AS BIGINT), CAST(5791 AS BIGINT)),
      ('src11', CAST(25 AS BIGINT), CAST(1522 AS BIGINT), CAST(6812 AS BIGINT)),
      ('src12', CAST(25 AS BIGINT), CAST(1272 AS BIGINT), CAST(5590 AS BIGINT)),
      ('src13', CAST(25 AS BIGINT), CAST(1553 AS BIGINT), CAST(6816 AS BIGINT)),
      ('src14', CAST(25 AS BIGINT), CAST(1318 AS BIGINT), CAST(5837 AS BIGINT)),
      ('src15', CAST(25 AS BIGINT), CAST(1298 AS BIGINT), CAST(5731 AS BIGINT)),
      ('src16', CAST(25 AS BIGINT), CAST(1351 AS BIGINT), CAST(6090 AS BIGINT)),
      ('src17', CAST(25 AS BIGINT), CAST(1373 AS BIGINT), CAST(6057 AS BIGINT)),
      ('src18', CAST(25 AS BIGINT), CAST(1364 AS BIGINT), CAST(6161 AS BIGINT)),
      ('src19', CAST(25 AS BIGINT), CAST(1147 AS BIGINT), CAST(5108 AS BIGINT)),
      ('src2', CAST(25 AS BIGINT), CAST(1407 AS BIGINT), CAST(6191 AS BIGINT)),
      ('src3', CAST(25 AS BIGINT), CAST(1384 AS BIGINT), CAST(6187 AS BIGINT)),
      ('src4', CAST(25 AS BIGINT), CAST(1294 AS BIGINT), CAST(5751 AS BIGINT)),
      ('src5', CAST(25 AS BIGINT), CAST(1329 AS BIGINT), CAST(5866 AS BIGINT)),
      ('src6', CAST(25 AS BIGINT), CAST(1266 AS BIGINT), CAST(5633 AS BIGINT)),
      ('src7', CAST(25 AS BIGINT), CAST(1507 AS BIGINT), CAST(6627 AS BIGINT)),
      ('src8', CAST(25 AS BIGINT), CAST(1136 AS BIGINT), CAST(5106 AS BIGINT)),
      ('src9', CAST(25 AS BIGINT), CAST(1366 AS BIGINT), CAST(6037 AS BIGINT))
    ) AS t(source, n_docs, total_words, total_pieces)
    """,
    }
)
