"""Lexical retrieval / statistical LM scoring / sketch operators for
training-data pipelines (engine additions, SURVEY §2.12).

- ``bm25_scores``: Okapi BM25 (Lucene idf variant) of a fixed query-term set
  over the corpus. Everything is Catalyst: one explode, two hash
  aggregations, a broadcast of the (tiny) per-term stats, zero Python.
- ``unigram_logprob``: add-one-smoothed unigram language-model score per
  document — the classic cheap "perplexity-ish" quality signal when a real
  LM isn't available. One explode + corpus-level term counts (broadcast
  agg-back) + one per-doc aggregation.
- ``countmin_estimates``: a Count–Min sketch (d hash rows × w buckets) built
  as a single aggregation over term counts, with point-query estimates for a
  candidate set. The sketch itself is d×w rows — mergeable across shards by
  summing bucket counts, which is what makes it the 100 TB heavy-hitters
  path (the exact top-k needs a full shuffle of the vocabulary; the sketch
  needs a constant-size reduce).

Float discipline (measured in round 2, see plans/corpus2.py): ln() can
differ by 1 ulp between the JVM and libm → every ln goes through ROUND(_, 6)
on both engines; cross-term sums ride DECIMAL (order-independent); plain
products/divisions of identical operands are IEEE-deterministic and stay
double.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist
from .dedup import hash64

#: tokenizer shared with TF-IDF / vocab (operators/vocab.py): ASCII word runs
TOKEN_RE = "[a-z0-9]+"

#: a query term can equal a tokenizer output iff it IS one lowercase token
_TOKEN_EXACT = re.compile(r"[a-z0-9]+\Z")


def tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per token occurrence: (id, term)."""
    return df.select(
        id_col,
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)).alias(
            "term"
        ),
    )


def _doc_term_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Persisted per-(doc, term) occurrence counts — the single tokenize pass
    every retrieval statistic derives from.

    The scan + lowercase + regexp explode of the whole corpus is the most
    expensive stage of any retrieval job; computing tf, dl, df, and corpus
    totals each from their own ``tokens(df)`` lineage re-runs it once per
    consumer (the round-3 verdict's 100 TB flag on ``bm25_scores``, the same
    disease as round-2's LSH signature recompute). Aggregating to
    per-(doc, term) counts first shrinks the data to the tf table — orders of
    magnitude smaller than token occurrences — and persisting it means every
    downstream statistic reads one InMemoryRelation:

      tf  = filter on term          dl     = Σ tf per doc
      df  = row-count per term      totals = Σ over the cached table
    """
    return tracked_persist(
        tokens(df, id_col, text_col).groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    )


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_stats: tuple[int, int, dict[str, int]] | None = None,
) -> DataFrame:
    """Per-document BM25 score for ``query_terms``.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl·N/Σdl))
    with the Lucene idf ln((N−df+0.5)/(df+0.5) + 1).

    Plan shape — ZERO explode, ZERO corpus shuffle (round-4 rewrite of the
    round-3 "4× tokenize" flag; the first fix cached the per-(doc,term) tf
    table, but that table is corpus-sized, and reading a corpus-sized cache
    4× costs more than the recompute it saves — measured 0.69→1.27 s at
    sf0.1). The query-term set is small and fixed, so BM25 goes *wide*:

    1. one codegen projection per doc → (dl = regexp_count(tokens),
       tf_i = anchored regexp_count over ONE union-pattern match string
       for each of the |Q| terms — round-8 rewrite: interpreted
       size(filter(tokens)) HOFs re-evaluated the tokenizing regex |Q|+1
       times per doc and walked arrays in interpreted steps); cached, but
       the cache is n_docs × (|Q|+2) ints — thousands of times smaller
       than the corpus;
    2. one 1-row aggregation over that cache (n_docs, Σdl, doc_freq_i via
       conditional counts), collected driver-side — |Q|+2 ints of driver
       state, cheaper than the broadcast-exchange job chain it replaces;
    3. scoring is a single pure projection over the same cache with the
       stats inlined as literals (one SQL string: plan build was the
       dominant cost at |Q| terms × ~20 py4j calls each) — per-term scores
       summed wide via exact DECIMAL addition (associative,
       engine-identical, bit-identical to the former broadcast-join
       formulation: same JVM ln/round/divide tree on the same values).

    Only docs containing ≥1 query term appear (absent terms contribute 0 on
    both engines). At 100 TB: one streaming scan builds the compact per-doc
    stats, everything after never touches the corpus again.
    """
    terms = [str(t) for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    # tf/dl via codegen regexp_count, never interpreted HOFs (round-8
    # rewrite of the round-4 wide plan: F.size(F.filter(tokens, ==t)) per
    # term evaluated the tokenizing regexp_extract_all |Q|+1 times per doc
    # — codegen subexpression elimination does not reach inside
    # interpreted lambda expressions — and walked the token array in
    # Python-shaped interpreted steps; measured 2.1 → sub-second wall for
    # t_hybrid_rrf at sf0.1). Counts are provably identical: a token
    # equals term t  <=>  the lowered text contains t with no [a-z0-9] on
    # either side (TOKEN_RE is the maximal [a-z0-9]+ run), so the anchored
    # count over ONE union-pattern match extraction — the langid
    # union-pattern discipline, operators/text.py — equals the token
    # filter count. A term that is not itself a single lowercase token can
    # never equal any tokenizer output: its tf is the literal 0.
    matchable = [t for t in terms if _TOKEN_EXACT.fullmatch(t)]
    lowered = df.select(id_col, F.lower(F.col(text_col)).alias("_lc"))
    if matchable:
        union_pat = (
            "(?<![a-z0-9])(?:" + "|".join(sorted(matchable, key=len, reverse=True))
            + ")(?![a-z0-9])"
        )
        # hoisted named column: referenced once per term below, and
        # CollapseProject never inlines a non-cheap multi-referenced alias
        lowered = lowered.withColumn(
            "_qm",
            F.array_join(
                F.regexp_extract_all(F.col("_lc"), F.lit(union_pat), 0), " "
            ),
        )

    def tf_of(term: str):
        if term not in matchable:
            return F.lit(0).cast("long")
        pat = f"(?<![a-z0-9]){term}(?![a-z0-9])"
        return F.regexp_count(F.col("_qm"), F.lit(pat)).cast("long")

    per_doc = tracked_persist(
        lowered.select(
            id_col,
            F.regexp_count(F.col("_lc"), F.lit(TOKEN_RE)).cast("long").alias("dl"),
            *[tf_of(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
        )
    )
    if corpus_stats is None:
        # ONE 1-row aggregation over the compact cached per-doc table,
        # collected driver-side (round-8: the former broadcast-join of the
        # stats row cost a broadcast-exchange job chain per consumer; three
        # ints per term of driver state replaces it). Scoring below inlines
        # the integers as literals — the JVM evaluates the IDENTICAL
        # ln/round/divide expression tree on identical values, so scores
        # are bit-for-bit the same as the broadcast formulation.
        srow = per_doc.agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            *[
                F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
                .cast("long")
                .alias(f"df_{i}")
                for i in range(len(terms))
            ],
        ).collect()[0]  # collect, not first(): executeTake on an agg adds a job
        n_docs, sum_dl = int(srow["n_docs"]), int(srow["sum_dl"])
        dfs_list = [int(srow[f"df_{i}"]) for i in range(len(terms))]
    else:
        # incremental-index mode: (n_docs, sum_dl, {term: df}) supplied
        # externally. Identical integer inputs → bit-identical scoring;
        # the scored frame can be any subset (a fresh batch) while
        # idf/avgdl reflect the whole indexed corpus.
        n_docs, sum_dl, dfs = corpus_stats
        n_docs, sum_dl = int(n_docs), int(sum_dl)
        if n_docs <= 0:
            # an empty index would make norm_len a NULL-producing 0/0 and
            # every score silently coalesce to 0.000000 — fail loudly
            raise ValueError(
                "corpus_stats has n_docs <= 0 (empty index) — ingest at "
                "least one batch before scoring against the ledger"
            )
        dfs_list = [int(dfs.get(t, 0)) for t in terms]

    # scoring assembled as ONE SQL string (the ~0.5 ms/py4j-call build tax
    # measured in round 7 made plan construction the dominant cost of this
    # operator at bench scale). Every float literal is CAST(.. AS DOUBLE)
    # — a bare SQL decimal literal would switch the arithmetic from double
    # to DECIMAL and change values. (n_docs - df) + 0.5 folds in Python:
    # int→double conversion and the +0.5 follow the same IEEE rules as the
    # JVM's long→double, so the folded literal is the identical double.
    def dbl(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    score_sqls, match_sqls = [], []
    for i, dfi in enumerate(dfs_list):
        idf = f"ROUND(LN({dbl((n_docs - dfi) + 0.5)} / {dbl(dfi + 0.5)} + {dbl(1.0)}), 6)"
        norm = f"dl * {n_docs} / {sum_dl}"
        denom = f"tf_{i} + {dbl(k1)} * ({dbl(1.0)} - {dbl(b)} + {dbl(b)} * ({norm}))"
        s = (
            f"CASE WHEN tf_{i} > 0 THEN "
            f"ROUND({idf} * (tf_{i} * {dbl(k1 + 1.0)}) / ({denom}), 6) END"
        )
        score_sqls.append(f"CAST({s} AS DECIMAL(18,6))")
        match_sqls.append(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)")
    zero = "CAST(0 AS DECIMAL(18,6))"
    total_sql = (
        score_sqls[0]
        if len(score_sqls) == 1
        else " + ".join(f"COALESCE({s}, {zero})" for s in score_sqls)
    )
    n_matched_sql = " + ".join(match_sqls)
    return per_doc.where(f"({n_matched_sql}) > 0").selectExpr(
        f"`{id_col}`",
        f"CAST({n_matched_sql} AS BIGINT) AS n_terms_matched",
        "dl",
        f"ROUND(CAST({total_sql} AS DOUBLE), 6) AS bm25",
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Add-one-smoothed unigram LM scored on the corpus it was counted from:
    p(t) = (c_t + 1)/(T + V); per-doc mean log-probability and the
    pseudo-perplexity exp(−mean). Low scores flag gibberish / off-vocabulary
    documents — the cheap stand-in for model-based perplexity filtering.

    Single tokenize pass: corpus term counts and the per-doc tf table both
    read the persisted per-(doc,term) table (:func:`_doc_term_counts`)."""
    doc_terms = _doc_term_counts(df, id_col, text_col)
    term_counts = doc_terms.groupBy("term").agg(F.sum("tf").alias("c_t"))
    corpus = term_counts.agg(
        F.sum("c_t").alias("t_total"), F.count("*").alias("v_size")
    )
    lp = F.round(
        F.log((F.col("c_t") + F.lit(1.0)) / (F.col("t_total") + F.col("v_size"))), 6
    )
    term_lp = term_counts.crossJoin(F.broadcast(corpus)).withColumn("lp", lp)
    # no broadcast hint on the term table: it is VOCABULARY-sized, which at
    # web scale is unbounded (noise/typo tail) — a forced broadcast would
    # hit the hard limit; AQE still broadcasts it whenever it is actually
    # small (all local runs), and the fallback is a plain term-keyed join
    per_doc = (
        doc_terms.join(term_lp.select("term", "lp"), "term")
        .groupBy(id_col)
        .agg(
            F.sum(F.round(F.col("lp") * F.col("tf"), 6).cast("decimal(20,6)"))
            .cast("double")
            .alias("_lp_sum"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    avg = F.round(F.col("_lp_sum") / F.col("n_tokens"), 6)
    return (
        per_doc.withColumn("avg_logprob", avg)
        .withColumn("pseudo_ppl", F.round(F.exp(-F.col("avg_logprob")), 6))
        .select(id_col, "n_tokens", "avg_logprob", "pseudo_ppl")
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Add-one-smoothed bigram LM scored on the corpus it was counted from:
    p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V); per-doc mean bigram
    log-probability. The order-aware upgrade of :func:`unigram_logprob` —
    shuffled or template-stitched text scores poorly even when its unigram
    distribution looks natural (the KenLM-style filter signal, in-engine).

    Plan shape: ONE generator over the token array emits every token position
    as a struct (term_i, term_{i+1} | NULL-for-last) — sequence + transform +
    explode, zero joins, the corpus is never position-joined with itself. The
    exploded rows aggregate once to a persisted per-(doc, term, term2) count
    table, from which unigram counts (Σ over term2, every position counted
    exactly once via the NULL sentinel), bigram counts (term2 non-null), the
    vocabulary size, and the per-doc scoring table all derive — one tokenize
    pass total (the round-3 lineage-recompute fix, as in :func:`bm25_scores`)."""
    arr = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    # arrays_zip pads the shorter array with NULL, so zipping the token
    # array with its own 1-shifted slice yields (term_i, term_{i+1}) pairs
    # where the LAST position's term2 is NULL — the "unigram occurrence
    # with no following bigram" sentinel — with zero higher-order lambdas
    # (the transform/element_at form cost ~10 s of fresh-plan compile)
    prs = F.arrays_zip(
        arr.alias("term"),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))).alias("term2"),
    )
    positions = df.select(id_col, F.explode(prs).alias("p")).select(
        id_col, F.col("p.term").alias("term"), F.col("p.term2").alias("term2")
    )
    doc_pos = tracked_persist(
        positions.groupBy(id_col, "term", "term2").agg(F.count("*").alias("tf"))
    )
    big_counts = (
        doc_pos.filter(F.col("term2").isNotNull())
        .groupBy("term", "term2")
        .agg(F.sum("tf").alias("c12"))
    )
    uni_counts = doc_pos.groupBy("term").agg(F.sum("tf").alias("c1"))
    vocab = uni_counts.agg(F.count("*").alias("v_size"))
    lp = F.round(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v_size"))), 6
    )
    pair_lp = (
        big_counts.join(uni_counts, "term")
        .crossJoin(F.broadcast(vocab))
        .withColumn("lp", lp)
        .select("term", "term2", "lp")
    )
    doc_pairs = doc_pos.filter(F.col("term2").isNotNull()).select(
        id_col, "term", "term2", "tf"
    )
    return (
        doc_pairs.join(pair_lp, ["term", "term2"])
        .groupBy(id_col)
        .agg(
            F.sum(F.round(F.col("lp") * F.col("tf"), 6).cast("decimal(20,6)"))
            .cast("double")
            .alias("_lp_sum"),
            F.sum("tf").alias("n_bigrams"),
        )
        .withColumn("avg_logprob", F.round(F.col("_lp_sum") / F.col("n_bigrams"), 6))
        .select(id_col, "n_bigrams", "avg_logprob")
    )


def countmin_estimates(
    df: DataFrame,
    depth: int = 4,
    width: int = 256,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Count–Min sketch heavy-hitter check: build the d×w sketch from exact
    term counts (one aggregation; the sketch is mergeable — shards sum
    bucket-wise), then point-query the true top-``top_k`` terms and report
    estimate vs truth. Integer-exact end to end (no float discipline needed).

    CM guarantees estimate ≥ truth; ``overcount`` shows collision inflation
    at this (d, w). At 100 TB the sketch replaces the full-vocabulary shuffle
    for heavy-hitter screening: d·w counters per shard, one constant-size
    merge.

    The exact term-count table feeds both the sketch build and the candidate
    top-k, so it is persisted — one tokenize pass, not two."""
    counts = tracked_persist(
        tokens(df, id_col, text_col).groupBy("term").agg(
            F.count("*").alias("true_count")
        )
    )
    rows = counts.select(
        "term",
        "true_count",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row"),
    ).withColumn(
        "bucket",
        F.pmod(hash64(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("term"))), F.lit(width)),
    )
    sketch = rows.groupBy("row", "bucket").agg(F.sum("true_count").alias("bucket_count"))
    cand = counts.orderBy(F.col("true_count").desc(), "term").limit(top_k)
    cand_rows = cand.select(
        "term",
        "true_count",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row"),
    ).withColumn(
        "bucket",
        F.pmod(hash64(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("term"))), F.lit(width)),
    )
    return (
        cand_rows.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("term")
        .agg(
            F.first("true_count").alias("true_count"),
            F.min("bucket_count").alias("cm_estimate"),
        )
        .withColumn("overcount", F.col("cm_estimate") - F.col("true_count"))
    )


def rank_topk(
    df: DataFrame, score_col: str, id_col: str, depth: int, rank_name: str
) -> DataFrame:
    """Top-``depth`` rows by (score DESC, id ASC) with the 1-based rank
    materialized AFTER the limit: the plan is TakeOrderedAndProject
    (per-partition heaps) followed by a row_number window over the
    ≤depth-row list — no corpus-sized single-partition window ever exists.
    Returns ``(id_col, rank_name)``."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(score_col).desc(), id_col)
    return (
        df.orderBy(F.col(score_col).desc(), id_col)
        .limit(depth)
        .withColumn(rank_name, F.row_number().over(w))
        .select(id_col, rank_name)
    )


def rrf_fuse(
    ranked: Sequence[DataFrame],
    k_rrf: int = 60,
    top: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of ``rank_topk``
    outputs: each input frame carries (id_col, one rank column); the fused
    score is Σ 1/(k_rrf + rank) over the lists that retrieved the doc,
    ties broken by id. Output: (id_col, n_lists, rrf) — the single shared
    formula behind the certified t_hybrid_rrf query and the example
    pipeline, so the constant and tie-breaks cannot drift between them.
    The joins touch only the ≤depth-row lists."""
    if not ranked:
        raise ValueError("ranked must contain at least one rank frame")
    rank_cols: list[str] = []
    fused = None
    for fdf in ranked:
        extra = [c for c in fdf.columns if c != id_col]
        if len(extra) != 1:
            raise ValueError(
                f"each rank frame needs exactly ({id_col}, rank), got {fdf.columns}"
            )
        rank_cols.append(extra[0])
        fused = fdf if fused is None else fused.join(fdf, id_col, "full_outer")
    rrf = F.lit(0.0)
    n_lists = F.lit(0)
    for rc in rank_cols:
        rrf = rrf + F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(rc)), F.lit(0.0)
        )
        n_lists = n_lists + F.when(F.col(rc).isNotNull(), 1).otherwise(0)
    return (
        fused.select(
            id_col, n_lists.alias("n_lists"), F.round(rrf, 6).alias("rrf")
        )
        .orderBy(F.col("rrf").desc(), id_col)
        .limit(top)
    )
