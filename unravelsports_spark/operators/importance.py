"""DSIR-style importance scoring: rank raw documents by how target-like
their hashed n-gram distribution is (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling" — the standard recipe for picking
pretraining data that matches a high-quality target set).

Recipe: hash every token into B buckets, estimate the bucket distribution of
the *target* slice and of the *rest* of the corpus (Laplace-smoothed), and
score each document by the log-likelihood ratio
``sum_tokens ln(p_target(b) / p_rest(b))``. Positive score = looks more like
the target than the background.

Engine-exact arithmetic (the corpus2/3 float rules): each ``ln`` is scaled to
an integer micro-nat (``CAST(ROUND(ln(p) * 1e6) AS BIGINT)``) in the tiny
B-row bucket table; per-document scores are then pure BIGINT sums
(order-independent, so the DuckDB oracle hash-matches exactly). The md5-based
bucket hash is the same bit-identical-across-engines scheme as
``operators/dedup.py``.

Scale notes (100 TB): the corpus is scanned and tokenized ONCE into a
map-side-combinable ``(doc_id, is_target, bucket, n)`` aggregate (persisted
via :func:`~unravelsports_spark.cache.tracked_persist`, the round-2/3
single-lineage fix pattern — both the bucket-stats agg and the score join
read one InMemoryRelation). The bucket distribution table is ≤B rows and
broadcast; per-document scoring is a broadcast hash join + one combinable
sum. Nothing all-pairs, no second corpus pass, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist

#: lowercase alnum runs — identical semantics in Java regex and RE2 (DuckDB)
TERM_RE = "[a-z0-9]+"

MICRO = 1_000_000


def _bucket(col: Column, n_buckets: int) -> Column:
    """md5-hex → bigint → bucket, bit-identical across Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint") % n_buckets


def fan_out(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Spread an under-partitioned scan across the cluster before a
    CPU-bound tokenize stage (small corpora arrive as one file → one
    partition → one core does all the regex work). A no-op at scale where
    the scan already has ≥ cores partitions — same guard as
    ``operators/dedup.py:doc_shingles``."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(id_col))
    return df


def doc_bucket_counts(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """One tokenize pass → ``(doc_id, is_target, bucket, n)``.

    The groupBy is map-side combinable (partial agg before the shuffle), so
    the shuffle carries one row per (doc, bucket), not per token.
    ``carry`` lists per-document columns (functional on the id) to thread
    through, so downstream accounting never re-joins the corpus."""
    df = fan_out(df, id_col)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        target.alias("is_target"),
        *[F.col(c) for c in carry],
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TERM_RE), F.lit(0))
        ).alias("term"),
    )
    return (
        toks.withColumn("bucket", _bucket(F.col("term"), n_buckets))
        .groupBy("doc_id", "is_target", *carry, "bucket")
        .agg(F.count("*").alias("n"))
    )


def dsir_scores(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document DSIR importance score vs the ``target`` slice.

    Returns ``(doc_id[, carry…], is_target?, n_tokens, score_micro)`` where
    ``score_micro`` is the log-likelihood ratio in integer micro-nats
    (divide by 1e6 for nats) — kept integral so the output value-hashes
    identically across engines. ``carry`` columns (and ``is_target`` when
    carry is non-empty) ride along for join-free downstream accounting.
    """
    dbc = tracked_persist(
        doc_bucket_counts(df, target, text_col, id_col, n_buckets, carry)
    )

    stats = dbc.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(F.lit(0))).alias("c_t"),
        F.sum(F.when(~F.col("is_target"), F.col("n")).otherwise(F.lit(0))).alias("c_r"),
    )
    b = F.lit(float(n_buckets))
    # corpus totals via an unpartitioned window over the ≤B-row stats table
    # (trivially small) — one fewer broadcast-exchange job than a
    # crossJoin'd 1-row aggregate, same exact numbers
    from pyspark.sql import Window

    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    deltas = (
        stats.withColumn("tot_t", F.sum("c_t").over(w_all))
        .withColumn("tot_r", F.sum("c_r").over(w_all))
        .select(
            "bucket",
            (
                F.round(F.log((F.col("c_t") + F.lit(1.0)) / (F.col("tot_t") + b)) * MICRO)
                - F.round(F.log((F.col("c_r") + F.lit(1.0)) / (F.col("tot_r") + b)) * MICRO)
            ).cast("bigint").alias("delta_micro"),
        )
    )
    group_cols = ["doc_id"] + (["is_target", *carry] if carry else [])
    return (
        dbc.join(F.broadcast(deltas), "bucket")
        .groupBy(*group_cols)
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("delta_micro")).alias("score_micro"),
        )
    )


def dsir_select(
    df: DataFrame,
    target: Column,
    keep_frac: float = 0.2,
    label_col: str = "lang",
) -> DataFrame:
    """DSIR *selection*: keep the most target-like ~``keep_frac`` of the
    raw (non-target) pool and account for what was kept per ``label_col``.

    The 100 TB shape for "top p% by score" — which is naively a global sort
    — is a histogram threshold: bucket the integer scores (fixed width,
    10,000 micro-nats), aggregate bucket counts (tiny), walk the cumulative
    from the top on that ≤few-thousand-row table, and broadcast the
    crossing bucket back as a pure filter. Deterministic (integer buckets, exact counts), within one
    bucket of exact-p, and the corpus is never sorted. Returns
    ``(label, n_selected, sel_tokens, min_score)`` — all exact ints."""
    scores = dsir_scores(df, target, carry=(label_col,))
    raw = scores.filter(~F.col("is_target"))
    hist = raw.groupBy(
        F.floor(F.col("score_micro") / F.lit(10_000.0))
        .cast("bigint")
        .alias("b")
    ).agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_top = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, 0)
    thr = (
        hist.withColumn("total", F.sum("n").over(w_all))
        .withColumn("c", F.sum("n").over(w_top))
        .filter(
            F.col("c")
            >= F.floor(F.col("total") * F.lit(float(keep_frac))).cast("bigint")
        )
        .agg(F.max("b").alias("tb"))
    )
    return (
        raw.crossJoin(F.broadcast(thr))
        .filter(
            F.floor(F.col("score_micro") / F.lit(10_000.0)).cast("bigint")
            >= F.col("tb")
        )
        .groupBy(F.col(label_col).alias("label"))
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("n_tokens").alias("sel_tokens"),
            F.min("score_micro").alias("min_score"),
        )
    )


def dsir_sql(
    target_pred: str, n_buckets: int = 1024, table: str = "documents"
) -> str:
    """DuckDB oracle computing the identical micro-nat scores."""
    return f"""
    WITH toks AS (
      SELECT doc_id, ({target_pred}) AS is_target,
             CAST(('0x' || substring(md5(t.term), 1, 15)) AS BIGINT) % {n_buckets} AS bucket
      FROM {table}, unnest(regexp_extract_all(lower(text), '{TERM_RE}')) AS t(term)),
    dbc AS (
      SELECT doc_id, is_target, bucket, COUNT(*) AS n
      FROM toks GROUP BY 1, 2, 3),
    stats AS (
      SELECT bucket,
             SUM(CASE WHEN is_target THEN n ELSE 0 END) AS c_t,
             SUM(CASE WHEN NOT is_target THEN n ELSE 0 END) AS c_r
      FROM dbc GROUP BY 1),
    totals AS (SELECT SUM(c_t) AS tot_t, SUM(c_r) AS tot_r FROM stats),
    deltas AS (
      SELECT bucket,
             CAST(ROUND(LN((c_t + CAST(1.0 AS DOUBLE)) / (tot_t + CAST({float(n_buckets)!r} AS DOUBLE))) * 1000000)
                  - ROUND(LN((c_r + CAST(1.0 AS DOUBLE)) / (tot_r + CAST({float(n_buckets)!r} AS DOUBLE))) * 1000000)
                  AS BIGINT) AS delta_micro
      FROM stats, totals)
    SELECT d.doc_id, CAST(SUM(d.n) AS BIGINT) AS n_tokens,
           CAST(SUM(d.n * x.delta_micro) AS BIGINT) AS score_micro
    FROM dbc d JOIN deltas x USING (bucket)
    GROUP BY d.doc_id
    """


def dsir_select_sql(target_pred: str, keep_frac: float = 0.2) -> str:
    """DuckDB oracle for :func:`dsir_select` (the label rides a plain join —
    single-node; scores are identical, so the histogram/threshold/accounting
    arithmetic mirrors the Spark plan exactly)."""
    fb = "CAST(FLOOR(score_micro / CAST(10000.0 AS DOUBLE)) AS BIGINT)"
    return f"""
    WITH scores AS ({dsir_sql(target_pred)}),
    lab AS (
      SELECT s.doc_id, s.n_tokens, s.score_micro, d.lang
      FROM scores s JOIN documents d USING (doc_id)
      WHERE NOT ({target_pred})),
    hist AS (SELECT {fb} AS b, COUNT(*) AS n FROM lab GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM hist),
    cum AS (SELECT b, SUM(n) OVER (ORDER BY b DESC) AS c FROM hist),
    thr AS (
      SELECT MAX(b) AS tb FROM cum, tot
      WHERE c >= CAST(FLOOR(total * CAST({float(keep_frac)!r} AS DOUBLE)) AS BIGINT)),
    sel AS (SELECT lab.* FROM lab, thr WHERE {fb} >= thr.tb)
    SELECT lang AS label, COUNT(*) AS n_selected,
           CAST(SUM(n_tokens) AS BIGINT) AS sel_tokens,
           CAST(MIN(score_micro) AS BIGINT) AS min_score
    FROM sel GROUP BY 1
    """


def corpus_kl(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Corpus drift as symmetric smoothed KL divergence between the target
    slice's and the rest's hashed-unigram distributions — the standard
    monitor for "did this month's crawl shift away from the reference mix"
    (and the aggregate DSIR quantity: E_target[log ratio]).

    One row out: ``(n_buckets_observed, kl_tr_micro, kl_rt_micro)`` in
    micro-nats. Each bucket's term ``p(b) · Δ(b)`` is rounded to an integer
    micro-nat BEFORE the sum, so the total is an exact BIGINT — the same
    order-independence discipline as the scoring path. Unobserved buckets
    are NOT zero under Laplace smoothing when the two slices have different
    token totals (``Δ₀ = ln((tot_r+B)/(tot_t+B))``), so the ``B − observed``
    empty buckets enter as one closed-form correction term — dropping them
    makes the "KL" non-KL (it can go negative; caught by Gibbs' inequality
    in tests). Reuses the single tokenize pass (tracked-persisted bucket
    counts)."""
    dbc = tracked_persist(doc_bucket_counts(df, target, text_col, id_col, n_buckets))
    stats = dbc.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(F.lit(0))).alias("c_t"),
        F.sum(F.when(~F.col("is_target"), F.col("n")).otherwise(F.lit(0))).alias("c_r"),
    )
    from pyspark.sql import Window

    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    b = F.lit(float(n_buckets))
    p_t = (F.col("c_t") + F.lit(1.0)) / (F.col("tot_t") + b)
    p_r = (F.col("c_r") + F.lit(1.0)) / (F.col("tot_r") + b)
    delta = F.round(F.log(p_t) * MICRO) - F.round(F.log(p_r) * MICRO)
    terms = (
        stats.withColumn("tot_t", F.sum("c_t").over(w_all))
        .withColumn("tot_r", F.sum("c_r").over(w_all))
        .select(
            F.round(p_t * delta).cast("bigint").alias("kl_tr_term"),
            F.round(p_r * -delta).cast("bigint").alias("kl_rt_term"),
            "tot_t",
            "tot_r",
        )
    )
    agg = terms.agg(
        F.count("*").alias("n_buckets_observed"),
        F.sum("kl_tr_term").alias("kl_tr_obs"),
        F.sum("kl_rt_term").alias("kl_rt_obs"),
        # tot_t/tot_r are constant across rows (window over all); max is the
        # order-independent way to carry the constant through the agg
        F.max("tot_t").alias("tot_t"),
        F.max("tot_r").alias("tot_r"),
    )
    # closed-form term for the B - observed empty buckets (all share
    # p = 1/(tot+B) and the same Δ₀)
    p_t0 = F.lit(1.0) / (F.col("tot_t") + b)
    p_r0 = F.lit(1.0) / (F.col("tot_r") + b)
    d0 = F.round(F.log(p_t0) * MICRO) - F.round(F.log(p_r0) * MICRO)
    n_empty = F.lit(n_buckets) - F.col("n_buckets_observed")
    # one ROUND over the whole empty-bucket mass (not per bucket): all B−n
    # empty buckets share the identical term, so the aggregate is a single
    # deterministic expression and the quantization loss stays sub-micro
    return agg.select(
        "n_buckets_observed",
        (F.col("kl_tr_obs") + F.round(n_empty * p_t0 * d0).cast("bigint"))
        .cast("bigint")
        .alias("kl_tr_micro"),
        (F.col("kl_rt_obs") + F.round(n_empty * p_r0 * -d0).cast("bigint"))
        .cast("bigint")
        .alias("kl_rt_micro"),
    )


def corpus_kl_sql(
    target_pred: str, n_buckets: int = 1024, table: str = "documents"
) -> str:
    """DuckDB oracle computing the identical integer micro-nat KL terms."""
    nb = f"CAST({float(n_buckets)!r} AS DOUBLE)"
    return f"""
    WITH toks AS (
      SELECT doc_id, ({target_pred}) AS is_target,
             CAST(('0x' || substring(md5(t.term), 1, 15)) AS BIGINT) % {n_buckets} AS bucket
      FROM {table}, unnest(regexp_extract_all(lower(text), '{TERM_RE}')) AS t(term)),
    stats AS (
      SELECT bucket,
             SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t,
             SUM(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS c_r
      FROM toks GROUP BY 1),
    tot AS (SELECT SUM(c_t) AS tot_t, SUM(c_r) AS tot_r FROM stats),
    terms AS (
      SELECT
        (c_t + CAST(1.0 AS DOUBLE)) / (tot_t + {nb}) AS p_t,
        (c_r + CAST(1.0 AS DOUBLE)) / (tot_r + {nb}) AS p_r,
        ROUND(LN((c_t + CAST(1.0 AS DOUBLE)) / (tot_t + {nb})) * 1000000)
          - ROUND(LN((c_r + CAST(1.0 AS DOUBLE)) / (tot_r + {nb})) * 1000000) AS delta
      FROM stats, tot),
    obs AS (
      SELECT COUNT(*) AS n_obs,
             CAST(SUM(CAST(ROUND(p_t * delta) AS BIGINT)) AS BIGINT) AS kl_tr_obs,
             CAST(SUM(CAST(ROUND(p_r * -delta) AS BIGINT)) AS BIGINT) AS kl_rt_obs
      FROM terms),
    empties AS (
      SELECT CAST(1.0 AS DOUBLE) / (tot_t + {nb}) AS p_t0,
             CAST(1.0 AS DOUBLE) / (tot_r + {nb}) AS p_r0,
             ROUND(LN(CAST(1.0 AS DOUBLE) / (tot_t + {nb})) * 1000000)
               - ROUND(LN(CAST(1.0 AS DOUBLE) / (tot_r + {nb})) * 1000000) AS d0
      FROM tot)
    SELECT n_obs AS n_buckets_observed,
           CAST(kl_tr_obs + CAST(ROUND(({n_buckets} - n_obs) * p_t0 * d0) AS BIGINT) AS BIGINT) AS kl_tr_micro,
           CAST(kl_rt_obs + CAST(ROUND(({n_buckets} - n_obs) * p_r0 * -d0) AS BIGINT) AS BIGINT) AS kl_rt_micro
    FROM obs, empties
    """


def perplexity_bucket_sample(
    docs: DataFrame,
    scored: DataFrame,
    keep_pcts: tuple = (100, 50, 10),
    group_col: str = "source",
    id_col: str = "doc_id",
):
    """CCNet-style perplexity bucketing + deterministic downsampling
    (Wenzek et al. 2020: split each language's corpus into head / middle /
    tail by LM perplexity terciles, keep the head, subsample the rest).
    ``scored`` is any per-doc frame carrying (id_col, n_tokens,
    pseudo_ppl) — :func:`~unravelsports_spark.operators.retrieval.unigram_logprob`
    output here; a real LM scorer slots in unchanged.

    Buckets are BOUNDARY-based, not ntile: per group, b1 = the smallest
    ppl value whose cumulative doc count reaches ceil(n/3), b2 likewise at
    ceil(2n/3); bucket = head (ppl <= b1) / middle (<= b2) / tail. Equal
    scores always land in the same bucket (deterministic under any row
    order, unlike ntile's arbitrary tie split), and the boundaries come
    from a per-(group, ppl) COUNT aggregate — map-side combinable — plus a
    window over DISTINCT score values, so no full per-group document sort
    exists anywhere in the plan (the ntile formulation would single-reduce
    each group at 100 TB).

    Sampling keeps a doc iff md5(doc_id)'s 16-bit prefix mod 100 falls
    under its bucket's ``keep_pcts`` — the fingerprint-hash discipline,
    bit-identical in DuckDB, stable under reshuffling and across runs.

    Output: (group, bucket, n_docs, n_kept, tokens_total, tokens_kept) —
    all exact integers."""
    from pyspark.sql import Window

    s = scored.join(docs.select(id_col, group_col), id_col)
    per_ppl = s.groupBy(group_col, "pseudo_ppl").agg(F.count("*").alias("_n"))
    w = (
        Window.partitionBy(group_col)
        .orderBy("pseudo_ppl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_ppl.withColumn("_cum", F.sum("_n").over(w)).withColumn(
        "_tot", F.sum("_n").over(Window.partitionBy(group_col))
    )
    bounds = cum.groupBy(group_col).agg(
        F.min(
            F.when(F.col("_cum") >= F.ceil(F.col("_tot") / 3), F.col("pseudo_ppl"))
        ).alias("_b1"),
        F.min(
            F.when(
                F.col("_cum") >= F.ceil(F.lit(2) * F.col("_tot") / 3),
                F.col("pseudo_ppl"),
            )
        ).alias("_b2"),
    )
    pct = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    bucket = (
        F.when(F.col("pseudo_ppl") <= F.col("_b1"), F.lit("head"))
        .when(F.col("pseudo_ppl") <= F.col("_b2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    keep_pct = (
        F.when(F.col("bucket") == "head", F.lit(int(keep_pcts[0])))
        .when(F.col("bucket") == "middle", F.lit(int(keep_pcts[1])))
        .otherwise(F.lit(int(keep_pcts[2])))
    )
    tagged = (
        s.join(F.broadcast(bounds), group_col)
        .withColumn("bucket", bucket)
        .withColumn("_keep", pct < keep_pct)
    )
    return tagged.groupBy(group_col, "bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_total"),
        F.sum(F.when(F.col("_keep"), F.col("n_tokens")).otherwise(F.lit(0))).alias(
            "tokens_kept"
        ),
    )
