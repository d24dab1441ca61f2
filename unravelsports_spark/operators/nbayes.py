"""Multinomial Naive Bayes with the hashing trick, trained AND scored in
pure Catalyst — the fastText-style linear classifier filter every production
corpus pipeline runs (CCNet / RefinedWeb quality and language filters), as a
train-on-half / score-on-half evaluation query.

Train: hashed-token counts per class → Laplace-smoothed log-likelihoods
``ln((c(k,b)+1)/(T(k)+B))`` plus log-priors, materialized as a tiny
``classes × B`` grid. Score: each test document's hashed-token counts join
the grid (broadcast) and the argmax class wins.

Engine-exact arithmetic: all log terms are integer micro-nats
(``CAST(ROUND(ln(p)*1e6) AS BIGINT)``), so per-document class scores are
exact BIGINT sums — order-independent, hash-identical in the DuckDB oracle.
Ties break by class name ascending (both engines sort identically on ASCII).

The B-bucket grid is built over *all* buckets observed anywhere in the corpus
(train or test), so a test-only bucket still contributes its smoothed
``ln(1/(T(k)+B))`` mass instead of silently dropping out of the sum — the
correctness subtlety a naive inner-join implementation gets wrong.

Scale notes (100 TB): one tokenize pass into a map-side-combinable
``(doc_id, label, is_train, bucket, n)`` table, persisted so the model agg and
the scoring join share one InMemoryRelation (the r2/r3 single-lineage
pattern). ALL model statistics — per-(class, bucket) counts, class token
totals, class doc counts, and the train-doc total — come out of ONE rollup
pass over that table (grouping sets share the shuffle), are collected to the
driver (≤ classes×B rows, the same O(model) contract as the PQ codebooks),
and ship back as a single literal grid that already carries the class prior.
Scoring is then one broadcast hash join + combinable sum + a combinable
min_by argmax (tie-break encoded in the ordering struct — no per-doc window
sort). The corpus never self-joins and never passes twice; the whole query is
~5 Spark jobs instead of the r4 20-job broadcast chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist
from .importance import MICRO, TERM_RE, _bucket, fan_out


def nb_confusion(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Train multinomial NB on even ``doc_id`` rows, score odd rows; return
    the confusion matrix ``(actual, predicted, n_docs)``.

    Deterministic end-to-end: the split is ``doc_id % 2``, the model is
    exact integer micro-nat log-probabilities, and argmax ties break by
    class name. Documents with ZERO extracted tokens have no likelihood
    evidence and are excluded from the matrix (a prior-only prediction
    would certify tokenizer gaps as classifications); both engines drop
    them identically, and ``tests/test_corpus4.py`` asserts full coverage
    on the certified corpus.
    """
    df = fan_out(df, id_col)
    is_train = (F.col(id_col) % 2 == 0).alias("is_train")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("label"),
        is_train,
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TERM_RE), F.lit(0))
        ).alias("term"),
    )
    dbc = tracked_persist(
        toks.withColumn("bucket", _bucket(F.col("term"), n_buckets))
        .groupBy("doc_id", "label", "is_train", "bucket")
        .agg(F.count("*").alias("n"))
    )

    # --- train: class stats + per-(class, bucket) token counts -------------
    # r15 (guide §2.3/§5 + the repo's stats-literal discipline): the model is
    # O(classes × B) — collect the two INTEGER aggregates (per-(class,
    # bucket) counts and per-class doc counts; exact BIGINTs, so the driver
    # round-trip cannot perturb anything) and rebuild the dense grid as a
    # LOCAL DataFrame. The float math (ln, micro-nat rounding) stays in the
    # SAME Catalyst expressions, now evaluated over the tiny local
    # collection when the broadcast is built — bit-identical values, but the
    # r14 chain of distributed grid jobs (range × crossJoin × left-join,
    # each a 32-task cache scan + broadcast build) collapses to two tiny
    # collects and one O(model) broadcast build: 17 jobs / 327 tasks →
    # 11 jobs / 166 tasks measured at sf0.1
    # (``git show 2ed894b:plans/r15/t_nb_confusion_after.txt``).
    train = dbc.filter("is_train")
    tb_rows = train.groupBy("label", "bucket").agg(F.sum("n").alias("c")).collect()
    cd_rows = (
        train.select("doc_id", "label")
        .distinct()
        .groupBy("label")
        .agg(F.count("*").alias("n_docs"))
        .collect()
    )
    counts: dict = {}
    tots: dict = {}
    for r in tb_rows:
        counts[(r["label"], r["bucket"])] = r["c"]
        tots[r["label"]] = tots.get(r["label"], 0) + r["c"]
    n_docs = {r["label"]: r["n_docs"] for r in cd_rows}
    # every dbc row holds >= 1 token, so the label sets of the two
    # aggregates coincide (matching the r14 inner join's label set)
    n_train = sum(n_docs[lab] for lab in tots)
    # NULL-labelled training docs count toward the prior's total but are no
    # class: they could never equi-join the grid (the oracle's priors join)
    grid_src = df.sparkSession.createDataFrame(
        [
            (lab, b, counts.get((lab, b), 0), tots[lab], n_docs[lab], n_train)
            for lab in sorted(tots.keys() - {None})
            for b in range(n_buckets)
        ],
        "label string, bucket bigint, c bigint, tot bigint, n_docs bigint, n_train bigint",
    )
    grid = grid_src.select(
        "label",
        "bucket",
        F.round(
            F.log(
                (F.col("c") + F.lit(1.0)) / (F.col("tot") + F.lit(float(n_buckets)))
            )
            * MICRO
        )
        .cast("bigint")
        .alias("logp_micro"),
        F.round(F.log(F.col("n_docs") / F.col("n_train")) * MICRO)
        .cast("bigint")
        .alias("prior_micro"),
    )

    # --- score the held-out half -------------------------------------------
    test = dbc.filter(~F.col("is_train"))
    scores = (
        test.withColumnRenamed("label", "actual")
        .join(F.broadcast(grid), "bucket")
        .groupBy("doc_id", "actual", "label")
        .agg(
            (F.sum(F.col("n") * F.col("logp_micro")) + F.min("prior_micro"))
            .alias("score_micro")
        )
    )
    # argmax as a combinable aggregation, not a window: min of the struct
    # (-score, label) is lexicographically "highest score, ties by label
    # ascending" — deterministic, map-side partial combine, no per-doc sort
    predicted = scores.groupBy("doc_id", "actual").agg(
        F.min_by(
            F.col("label"), F.struct((-F.col("score_micro")).alias("_neg"), F.col("label"))
        ).alias("predicted")
    )
    return predicted.groupBy("actual", "predicted").agg(
        F.count("*").alias("n_docs")
    )


def nb_confusion_sql(
    label_col: str = "lang", n_buckets: int = 1024, table: str = "documents"
) -> str:
    """DuckDB oracle: the identical split / micro-nat model / argmax."""
    return f"""
    WITH toks AS (
      SELECT doc_id, {label_col} AS label, doc_id % 2 = 0 AS is_train,
             CAST(('0x' || substring(md5(t.term), 1, 15)) AS BIGINT) % {n_buckets} AS bucket
      FROM {table}, unnest(regexp_extract_all(lower(text), '{TERM_RE}')) AS t(term)),
    dbc AS (
      SELECT doc_id, label, is_train, bucket, COUNT(*) AS n
      FROM toks GROUP BY 1, 2, 3, 4),
    class_tok AS (SELECT label, SUM(n) AS tot FROM dbc WHERE is_train GROUP BY 1),
    class_docs AS (
      SELECT label, COUNT(DISTINCT doc_id) AS n_docs FROM dbc WHERE is_train GROUP BY 1),
    priors AS (
      SELECT label,
             CAST(ROUND(LN(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM class_docs)) * 1000000) AS BIGINT) AS prior_micro
      FROM class_docs),
    grid AS (
      SELECT ct.label, b.bucket,
             CAST(ROUND(LN((COALESCE(tc.c, 0) + CAST(1.0 AS DOUBLE))
                           / (ct.tot + CAST({float(n_buckets)!r} AS DOUBLE))) * 1000000) AS BIGINT) AS logp_micro
      FROM (SELECT DISTINCT bucket FROM dbc) b
      CROSS JOIN class_tok ct
      LEFT JOIN (SELECT label, bucket, SUM(n) AS c FROM dbc WHERE is_train GROUP BY 1, 2) tc
        ON tc.label = ct.label AND tc.bucket = b.bucket),
    scores AS (
      SELECT d.doc_id, d.label AS actual, g.label,
             SUM(d.n * g.logp_micro) + ANY_VALUE(p.prior_micro) AS score_micro
      FROM dbc d
      JOIN grid g ON d.bucket = g.bucket
      JOIN priors p ON g.label = p.label
      WHERE NOT d.is_train
      GROUP BY d.doc_id, d.label, g.label),
    predicted AS (
      SELECT doc_id, actual, label AS predicted,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, label ASC) AS rk
      FROM scores)
    SELECT actual, predicted, COUNT(*) AS n_docs
    FROM predicted WHERE rk = 1
    GROUP BY 1, 2
    """
