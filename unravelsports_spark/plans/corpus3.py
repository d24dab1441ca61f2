"""Round-3 corpus queries: lexical retrieval (BM25), unigram-LM scoring,
Count-Min heavy-hitter sketching, and PageRank on the near-dup candidate
graph — each with an exact DuckDB oracle. These wire the operators in
``operators/retrieval.py`` and ``operators/components.py:pagerank`` into the
driver correctness gate (round-2 verdict action #2).

Float-parity notes (the corpus2.py rules plus one new one):

- DuckDB parses decimal literals as DECIMAL, not DOUBLE, so an expression
  like ``1.0 - 0.85`` is exact decimal there but IEEE double in Spark. Every
  float constant in these oracles is therefore interpolated as
  ``CAST(<python repr> AS DOUBLE)`` — repr is the shortest round-trip form,
  so both engines see bit-identical doubles.
- ln() / division / multiplication of identical double operands are
  IEEE-deterministic; every ln is rounded to 6 on both sides; cross-term
  sums ride DECIMAL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.components import pagerank
from ..operators.retrieval import bm25_scores, countmin_estimates, unigram_logprob
from ..session import read_table
from .pipeline import _lsh_sql, d_lsh_candidate_pairs
from .relational import query

_TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"

#: fixed query-term set for the BM25 oracle pair (all present in the corpus)
BM25_TERMS = ("join", "hash", "vector", "customer", "slow")


def _dbl(x: float) -> str:
    """A double literal DuckDB parses to the same bits Spark's F.lit gives."""
    return f"CAST({x!r} AS DOUBLE)"


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


@query("t_bm25_topk", oracle=_bm25_sql())
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


def _unigram_sql() -> str:
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    term_counts AS (SELECT term, COUNT(*) AS c_t FROM tok GROUP BY term),
    corpus AS (SELECT CAST(SUM(c_t) AS BIGINT) AS t_total,
                      COUNT(*) AS v_size FROM term_counts),
    term_lp AS (
      SELECT term,
             ROUND(LN((c_t + {_dbl(1.0)}) / (t_total + v_size)), 6) AS lp
      FROM term_counts, corpus),
    doc_terms AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
    SELECT d.doc_id,
           CAST(SUM(d.tf) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(ROUND(l.lp * d.tf, 6) AS DECIMAL(20,6))) AS DOUBLE)
                 / CAST(SUM(d.tf) AS BIGINT), 6) AS avg_logprob,
           ROUND(EXP(-ROUND(CAST(SUM(CAST(ROUND(l.lp * d.tf, 6) AS DECIMAL(20,6))) AS DOUBLE)
                 / CAST(SUM(d.tf) AS BIGINT), 6)), 6) AS pseudo_ppl
    FROM doc_terms d JOIN term_lp l ON d.term = l.term
    GROUP BY d.doc_id
    """


@query("t_unigram_logprob", oracle=_unigram_sql())
def t_unigram_logprob(spark, sf_dir):
    """Add-one-smoothed unigram LM score per document — the cheap
    perplexity-ish quality signal (engine addition §2.12,
    operators/retrieval.py). One explode + broadcast term table."""
    return unigram_logprob(read_table(spark, sf_dir, "documents"))


def _bigram_lm_sql() -> str:
    return f"""
    WITH base AS (SELECT doc_id, {_TOK} AS arr FROM documents),
    toks AS (SELECT doc_id, unnest(arr) AS term FROM base),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(arr) - 1),
                                   i -> [arr[i + 1], arr[i + 2]])) AS pr
      FROM base),
    bigrams AS (SELECT doc_id, pr[1] AS term, pr[2] AS term2 FROM pairs),
    big_counts AS (SELECT term, term2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
    uni_counts AS (SELECT term, COUNT(*) AS c1 FROM toks GROUP BY term),
    vocab AS (SELECT COUNT(*) AS v_size FROM uni_counts),
    pair_lp AS (
      SELECT b.term, b.term2,
             ROUND(LN((b.c12 + {_dbl(1.0)}) / (u.c1 + v.v_size)), 6) AS lp
      FROM big_counts b JOIN uni_counts u ON b.term = u.term CROSS JOIN vocab v),
    doc_pairs AS (SELECT doc_id, term, term2, COUNT(*) AS tf FROM bigrams GROUP BY 1, 2, 3)
    SELECT d.doc_id,
           CAST(SUM(d.tf) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(CAST(ROUND(l.lp * d.tf, 6) AS DECIMAL(20,6))) AS DOUBLE)
                 / CAST(SUM(d.tf) AS BIGINT), 6) AS avg_logprob
    FROM doc_pairs d JOIN pair_lp l ON d.term = l.term AND d.term2 = l.term2
    GROUP BY d.doc_id
    """


@query("t_bigram_logprob", oracle=_bigram_lm_sql())
def t_bigram_logprob(spark, sf_dir):
    """Add-one bigram LM per-doc scoring (operators/retrieval.py:bigram_logprob)
    — the order-aware quality signal: template-stitched or shuffled text
    scores poorly even with a natural unigram profile."""
    from ..operators.retrieval import bigram_logprob

    return bigram_logprob(read_table(spark, sf_dir, "documents"))


def _countmin_sql(depth: int = 4, width: int = 256, top_k: int = 20) -> str:
    rows = ", ".join(str(i) for i in range(depth))
    bucket = (
        "CAST(('0x' || substring(md5(CAST(rw AS VARCHAR) || ':' || term), 1, 15)) "
        f"AS BIGINT) % {width}"
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    counts AS (SELECT term, COUNT(*) AS true_count FROM tok GROUP BY term),
    expanded AS (SELECT term, true_count, unnest([{rows}]) AS rw FROM counts),
    hashed AS (SELECT term, true_count, rw, {bucket} AS bucket FROM expanded),
    sketch AS (SELECT rw, bucket, CAST(SUM(true_count) AS BIGINT) AS bucket_count
               FROM hashed GROUP BY 1, 2),
    cand AS (SELECT term, true_count FROM counts
             ORDER BY true_count DESC, term LIMIT {top_k}),
    cand_exp AS (SELECT term, true_count, unnest([{rows}]) AS rw FROM cand),
    cand_rows AS (SELECT term, true_count, rw, {bucket} AS bucket FROM cand_exp)
    SELECT c.term, MIN(c.true_count) AS true_count,
           MIN(s.bucket_count) AS cm_estimate,
           MIN(s.bucket_count) - MIN(c.true_count) AS overcount
    FROM cand_rows c JOIN sketch s ON c.rw = s.rw AND c.bucket = s.bucket
    GROUP BY c.term
    """


@query("d_countmin_heavyhitters", oracle=_countmin_sql())
def d_countmin_heavyhitters(spark, sf_dir):
    """Count-Min sketch point-queries for the exact top-20 terms (engine
    addition §2.12, operators/retrieval.py). Integer-exact end to end; the
    d×w sketch is the mergeable 100 TB heavy-hitter path."""
    return countmin_estimates(read_table(spark, sf_dir, "documents"))


_DUP_SPAN_SQL = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
    starts AS (
      SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i FROM toks),
    spans AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substring(md5(array_to_string(t[i + 1 : i + 8], ' ')), 1, 15)) AS BIGINT) AS fp
      FROM starts),
    counts AS (SELECT fp, LEAST(COUNT(*), 10000) AS n_occ FROM spans GROUP BY fp),
    stats AS (
      SELECT s.doc_id, COUNT(*) AS n_windows,
             SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM spans s JOIN counts c ON s.fp = c.fp GROUP BY s.doc_id)
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(st.n_windows), 0) AS BIGINT) AS total_windows,
           CAST(COALESCE(SUM(st.n_dup), 0) AS BIGINT) AS dup_windows,
           ROUND(CAST(SUM(st.n_dup) AS DOUBLE) / SUM(st.n_windows), 6) AS dup_fraction,
           CAST(SUM(CASE WHEN CAST(st.n_dup AS DOUBLE) / st.n_windows >= 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_dup_docs
    FROM documents d LEFT JOIN stats st ON d.doc_id = st.doc_id
    GROUP BY d.source
    """


@query("d_dup_spans", oracle=_DUP_SPAN_SQL)
def d_dup_spans(spark, sf_dir):
    """Span-level duplication profile (the 'deduplicating training data'
    shape, engine addition §2.12): rolling 8-token window fingerprints with
    positions, per-doc duplicated-window fraction, rolled up per source.
    One fp hash-agg + one co-keyed join back — the corpus never self-joins,
    so unlike pair-level Jaccard there is no k² term to cap."""
    from ..operators.dedup import dup_span_stats, window_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    stats = dup_span_stats(window_fingerprints(docs, window=8))
    j = docs.select("doc_id", "source").join(stats, "doc_id", "left")
    frac = F.col("n_dup_windows").cast("double") / F.col("n_windows")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_windows"), F.lit(0)).alias("total_windows"),
        F.coalesce(F.sum("n_dup_windows"), F.lit(0)).alias("dup_windows"),
        F.round(
            F.sum("n_dup_windows").cast("double") / F.sum("n_windows"), 6
        ).alias("dup_fraction"),
        F.sum(F.when(frac >= 0.5, 1).otherwise(0)).alias("n_heavy_dup_docs"),
    )


def _bpe_sql(num_merges: int = 5) -> str:
    """Unrolled BPE merge rounds: per round, a best-pair argmax CTE and a
    list_reduce fold applying it — mirroring operators/bpe.py exactly."""
    split = "string_split(s, chr(31))"
    parts = [
        f"""t0 AS (
      SELECT doc_id,
             array_to_string({_TOK}, chr(31)) AS s
      FROM documents WHERE len({_TOK}) >= 1)"""
    ]
    for i in range(1, num_merges + 1):
        prev = f"t{i - 1}"
        parts.append(
            f"""p{i} AS (
      SELECT unnest(list_transform(range(0, len({split}) - 1),
                    j -> [{split}[j + 1], {split}[j + 2]])) AS pr
      FROM {prev})"""
        )
        parts.append(
            f"""b{i} AS (
      SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS cnt
      FROM p{i} GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1)"""
        )
        parts.append(
            f"""t{i} AS (
      SELECT doc_id,
             list_reduce({split}, (acc, x) ->
               CASE WHEN (acc = b{i}.a OR ends_with(acc, chr(31) || b{i}.a))
                         AND x = b{i}.b
                    THEN left(acc, len(acc) - len(b{i}.a)) || b{i}.a || '~' || b{i}.b
                    ELSE acc || chr(31) || x END) AS s
      FROM {prev}, b{i})"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT {i} AS step, a AS left_tok, b AS right_tok, CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, num_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


@query("t_bpe_merges", oracle=_bpe_sql())
def t_bpe_merges(spark, sf_dir):
    """Distributed BPE merge training (operators/bpe.py): 5 corpus-level
    merge rounds, each one generator pass + one count agg + a 1-row argmax;
    greedy left-to-right merge application as a pure-projection fold. The
    oracle unrolls the identical rounds with list_reduce."""
    from ..operators.bpe import bpe_train_merges

    return bpe_train_merges(read_table(spark, sf_dir, "documents"), num_merges=5)


def _bpe_stats_sql(num_merges: int = 5) -> str:
    base = _bpe_sql(num_merges)
    with_block = base[: base.rindex("\nSELECT 1 AS step")]
    return (
        with_block
        + f"""
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(t.s, chr(31)))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(list_filter(string_split(t.s, chr(31)),
                                    x -> contains(x, '~')))) AS BIGINT) AS merged_tokens
    FROM t{num_merges} t JOIN documents d USING (doc_id)
    GROUP BY d.source
    """
    )


@query("t_bpe_tokenized_stats", oracle=_bpe_stats_sql())
def t_bpe_tokenized_stats(spark, sf_dir):
    """Train 5 BPE merges, then tokenize the corpus with them (a chain of
    pure-projection folds — the applied tokenizer is one codegen'd
    projection, zero shuffles) and report per-source token counts and
    merged-unit occurrences."""
    from ..operators.bpe import bpe_apply, bpe_train_merges

    d = read_table(spark, sf_dir, "documents")
    merges = [
        (r.left_tok, r.right_tok)
        for r in bpe_train_merges(d, num_merges=5).orderBy("step").collect()
    ]
    tok = bpe_apply(d, merges)
    j = tok.join(d.select("doc_id", "source"), "doc_id")
    merged_ct = F.size(F.filter(F.col("tokens"), lambda x: x.contains("~")))
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("tokens")).alias("total_tokens"),
        F.sum(merged_ct).alias("merged_tokens"),
    )


def _prep_kept_ctes() -> str:
    """The dedup → quality → langid → kept CTE chain, shared by the prep
    accounting oracle and the prep→shards composition (corpus4)."""
    # langid CASE mirrors plans/pipeline.py:_langid_sql (shared constants)
    from ..operators.text import LANG_STOPWORDS

    score_exprs, langs = [], list(LANG_STOPWORDS.keys())
    for lang, stops in LANG_STOPWORDS.items():
        arr = "[" + ", ".join(f"'{s}'" for s in stops) + "]"
        score_exprs.append(
            f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> list_contains({arr}, t))) AS s_{lang}"
        )
    cases = []
    for lang in langs:
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        cases.append(f"WHEN {cond} THEN '{lang}'")
    return rf"""deduped AS (
      SELECT * FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1),
    scored AS (
      SELECT doc_id, source, text,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             ROUND(CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 10 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) > 0.6 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) < 0.1 THEN 0.2 ELSE 0.0 END, 6) AS quality_score,
             {', '.join(score_exprs)}
      FROM deduped),
    lang AS (SELECT *, CASE {' '.join(cases)} END AS predicted_lang FROM scored),
    kept AS (SELECT * FROM lang WHERE quality_score >= 0.6 AND predicted_lang = 'en')"""


def _prep_e2e_sql() -> str:
    return f"""
    WITH {_prep_kept_ctes()}
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality
    FROM kept GROUP BY source
    """


@query("t_corpus_prep_e2e", oracle=_prep_e2e_sql())
def t_corpus_prep_e2e(spark, sf_dir):
    """End-to-end corpus prep in one job: exact dedup (min-id per
    fingerprint) → composite quality gate (>= 0.6) → language gate (en) →
    per-source doc/token accounting. Composition of the individual
    operators — one agg shuffle + pure projections + one final agg, no
    joins. Quality/langid are computed BEFORE the dedup aggregate: the
    per-doc scores are pure functions of the text, so the survivor's values
    are identical, and the aggregate is a CollapseProject barrier — the
    heavy tokenize/regex expressions run exactly once per input row instead
    of being inlined (and so re-evaluated) into the post-dedup filter and
    the accounting projection."""
    from ..operators.dedup import exact_dedup
    from ..operators.text import with_lang_id, with_quality

    d = with_lang_id(with_quality(read_table(spark, sf_dir, "documents")))
    # narrow payload: only the accounting columns ride the dedup shuffle —
    # Catalyst can't prune struct fields through the min_by buffer, so
    # without this the full text shuffles twice for no reader
    d = exact_dedup(
        d, payload_cols=["source", "n_tokens", "quality_score", "predicted_lang"]
    )
    kept = d.filter((F.col("quality_score") >= 0.6) & (F.col("predicted_lang") == "en"))
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_quality"),
    )


_MIX_TEMP_SQL = f"""
    WITH per AS (
      SELECT source,
             CAST(SUM(len({_TOK})) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source),
    per2 AS (SELECT source, total_tokens, ROUND(SQRT(total_tokens), 6) AS s FROM per),
    scalars AS (
      SELECT CAST(SUM(total_tokens) AS BIGINT) AS total_all,
             CAST(SUM(CAST(s AS DECIMAL(24,6))) AS DOUBLE) AS denom
      FROM per2)
    SELECT source, total_tokens,
           ROUND(CAST(total_tokens AS DOUBLE) / total_all, 6) AS natural_share,
           ROUND(s / denom, 6) AS temp_share,
           ROUND(ROUND(s / denom, 6)
                 / ROUND(CAST(total_tokens AS DOUBLE) / total_all, 6), 6) AS boost
    FROM per2, scalars
    """


@query("t_mixture_temperature", oracle=_MIX_TEMP_SQL)
def t_mixture_temperature(spark, sf_dir):
    """Temperature-based mixture weights (engine addition §2.12): per-source
    token totals T_d reweighted by T_d^alpha (alpha = 0.5, the T5/multi-
    lingual sampling scheme) and normalized — low-resource domains get a
    boost > 1, dominant ones < 1. Two aggregations and a broadcast 1-row
    scalar; sqrt is IEEE-correctly-rounded on both engines and the
    normalizer sum rides DECIMAL."""
    from .relational import dec

    d = read_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    per = d.groupBy("source").agg(F.sum(F.size(toks)).alias("total_tokens"))
    per2 = per.withColumn("s", F.round(F.sqrt(F.col("total_tokens")), 6))
    scalars = per2.agg(
        F.sum("total_tokens").alias("total_all"),
        F.sum(dec("s", 6, 24)).cast("double").alias("denom"),
    )
    natural = F.round(F.col("total_tokens").cast("double") / F.col("total_all"), 6)
    temp = F.round(F.col("s") / F.col("denom"), 6)
    return per2.crossJoin(F.broadcast(scalars)).select(
        "source",
        "total_tokens",
        natural.alias("natural_share"),
        temp.alias("temp_share"),
        F.round(temp / natural, 6).alias("boost"),
    )


def _keep_best_sql() -> str:
    from .pipeline import _lsh_sql

    return (
        "WITH RECURSIVE pairs AS (" + _lsh_sql() + r"""),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
    q AS (
      SELECT doc_id,
             ROUND(CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 10 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) > 0.6 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) < 0.1 THEN 0.2 ELSE 0.0 END, 6) AS quality_score
      FROM documents),
    ranked AS (
      SELECT c.component, c.doc_id, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY q.quality_score DESC, c.doc_id) AS rn
      FROM comp c JOIN q ON c.doc_id = q.doc_id)
    SELECT component,
           MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
           MIN(CASE WHEN rn = 1 THEN quality_score END) AS keep_quality,
           COUNT(*) AS n_members,
           COUNT(*) - 1 AS n_dropped
    FROM ranked GROUP BY component
    """
    )


@query("d_cluster_keep_best", oracle=_keep_best_sql())
def d_cluster_keep_best(spark, sf_dir):
    """The dedup *decision* step: near-dup clusters (LSH pairs → distributed
    connected components) each keep their highest-quality member
    (tie → lowest id) and drop the rest — quality-aware canonical selection
    rather than min-id. One window over the component key; membership and
    quality are co-keyed joins. The oracle recomputes the closure with a
    recursive CTE."""
    from ..operators.components import connected_components
    from ..operators.text import with_quality

    docs = read_table(spark, sf_dir, "documents")
    cc = connected_components(d_lsh_candidate_pairs(spark, sf_dir))
    members = cc.unionByName(
        cc.select(F.col("component").alias("id"), "component").distinct()
    )
    q = with_quality(docs).select(F.col("doc_id").alias("id"), "quality_score")
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("id")
    )
    ranked = members.join(q, "id").withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.min(F.when(F.col("rn") == 1, F.col("id"))).alias("keep_id"),
        F.min(F.when(F.col("rn") == 1, F.col("quality_score"))).alias("keep_quality"),
        F.count("*").alias("n_members"),
        (F.count("*") - 1).alias("n_dropped"),
    )


def _semdedup_sql() -> str:
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
    removed AS (
      SELECT DISTINCT b.vec_id AS b_id
      FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.v', 'b.v')} >= 0.4)
    SELECT be.label, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN r.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM be LEFT JOIN removed r ON be.vec_id = r.b_id
    GROUP BY be.label
    """


@query("d_semdedup_lsh", oracle=_semdedup_sql())
def d_semdedup_lsh(spark, sf_dir):
    """SemDeDup at scale: embedding near-duplicate removal where candidate
    pairs only meet inside a sign-LSH bucket (planes drawn from the data so
    the oracle is SQL-expressible), the bucketed twin of the exact all-pairs
    d_embedding_neardup. The bucket self-join is a hash join on the bucket
    key — never an all-pairs cross product; at corpus scale more planes →
    exponentially more, smaller buckets, the same plan shape."""
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
    from ..cache import tracked_persist

    # bucketed vectors feed both self-join sides AND the final stats join —
    # persist so the bucket computation runs once (same single-lineage rule
    # as lsh_candidate_pairs; production stages this to a table)
    be = tracked_persist(e.join(buckets, "vec_id"))
    a, b = be.alias("a"), be.alias("b")
    removed = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(_cos_col(F.col("a.v"), F.col("b.v")) >= 0.4)
        .select(F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    return (
        be.join(removed, be.vec_id == removed.b_id, "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("b_id").isNotNull(), 1).otherwise(0)).alias("n_removed"),
        )
    )


def _semdedup_removed_ctes(suffix: str = "") -> str:
    """The 4x4-bit OR-amplified SemDeDup removal-set CTE chain (suffixable
    so it composes with other CTE families without name collisions) —
    ends with ``removed{suffix}(b_id)``."""
    from .pipeline import _cos_sql

    s = suffix
    return f"""e{s} AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes{s} AS (SELECT vec_id AS plane_id, v AS p FROM e{s} WHERE vec_id BETWEEN 1 AND 16),
    keys{s} AS (
      SELECT e{s}.vec_id, (p.plane_id - 1) // 4 AS tbl,
             CAST(SUM(CASE WHEN list_dot_product(e{s}.v, p.p) > 0
                           THEN 1 << CAST((p.plane_id - 1) % 4 AS INT) ELSE 0 END) AS BIGINT) AS bucket
      FROM e{s} CROSS JOIN planes{s} p GROUP BY e{s}.vec_id, (p.plane_id - 1) // 4),
    cand{s} AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM keys{s} a JOIN keys{s} b ON a.tbl = b.tbl AND a.bucket = b.bucket
                             AND a.vec_id < b.vec_id),
    removed{s} AS (
      SELECT DISTINCT c.id_b AS b_id
      FROM cand{s} c JOIN e{s} ea ON c.id_a = ea.vec_id JOIN e{s} eb ON c.id_b = eb.vec_id
      WHERE {_cos_sql('ea.v', 'eb.v')} >= 0.4)"""


def _semdedup_multitable_sql() -> str:
    return f"""
    WITH el AS (SELECT vec_id, label FROM embeddings),
    {_semdedup_removed_ctes()}
    SELECT el.label, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN r.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM el LEFT JOIN removed r ON el.vec_id = r.b_id
    GROUP BY el.label
    """


def semdedup_multitable_stats(
    e, threshold: float = 0.4, n_tables: int = 4, bits_per_table: int = 4, planes=None
) -> "F.DataFrame":
    """OR-amplified SemDeDup over a ``(vec_id, label, v)`` frame:
    ``n_tables`` independent sign-LSH tables of ``bits_per_table`` planes
    each (planes = vectors with vec_id 1..n_tables*bits_per_table); a pair
    is a candidate if it collides in ANY table, then candidates-only cosine
    verification, per-label survivor stats. Extracted from the query so
    tools/scale_probe.py can drive it on blown-up corpora.

    SIZE THE BITS TO THE CORPUS: expected bucket size is n / 2^bits, and
    the within-bucket verify is quadratic in it — growing the corpus 10x
    at fixed bits measured 33x wall, while adding log2(10) ≈ 3-4 bits per
    table keeps bucket sizes (and per-pair work ∝ n) constant. That rule is
    code now (`operators.similarity.auto_bits_per_table`, applied
    programmatically by tools/scale_probe.py); the certified query keeps
    4x4 so the oracle stays SQL-small. Pass ``planes`` to override the
    data-derived plane vectors (scale runs need more planes than the
    corpus carries as rows)."""
    from .pipeline import _bucket_cosine_removed, _sign_lsh_bev

    n_planes = n_tables * bits_per_table
    if planes is None:
        # the plane vectors are O(model): collect once (vec_ids 1..n_planes
        # double as the hyperplane model so the DuckDB oracle can rebuild it)
        plane_rows = {
            r["vec_id"]: list(r["v"])
            for r in e.filter(F.col("vec_id").between(1, n_planes)).select("vec_id", "v").collect()
        }
        planes = [plane_rows[i + 1] for i in range(n_planes)]
    # fused key build + within-bucket verify: ONE Arrow pass emits
    # (vec_id, tbl, bucket, v, n2) directly (_sign_lsh_bev — no key/vector
    # re-join, and in particular no full-corpus broadcast, the ADVICE r5
    # hazard), then each (tbl, bucket) group computes its (n, n) cosine
    # matrix vectorized — same pairs, same bit-exact per-pair fold
    # arithmetic, dedup across tables via the id-level distinct. The only
    # shuffle in the whole chain is the verify grouping of ~n_tables x n
    # ledger rows.
    # partition-grouped verify: one Python call per partition (pandas
    # groupby inside) instead of per bucket — task count follows the scan's
    # input parallelism, so it scales with the corpus while sf0.1's 64 tiny
    # buckets stop paying 64 Arrow round-trips
    nparts = max(4, e.rdd.getNumPartitions())
    bev = _sign_lsh_bev(e, planes, n_tables=n_tables, bits_per_table=bits_per_table)
    removed = _bucket_cosine_removed(bev, threshold=threshold, partitions=nparts).distinct()
    return (
        e.join(removed, e.vec_id == removed.b_id, "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("b_id").isNotNull(), 1).otherwise(0)).alias("n_removed"),
        )
    )


@query("d_semdedup_multitable", oracle=_semdedup_multitable_sql())
def d_semdedup_multitable(spark, sf_dir):
    """OR-amplified SemDeDup: 4 independent sign-LSH tables of 4 planes
    each; a pair is a candidate if it collides in ANY table (union via the
    (table, bucket) join key — exactly the MinHash banding trick applied to
    sign bits), then candidates-only cosine verification. Takes single-table
    pair recall at cosine 0.4 from ~16% to ~50%; more tables amplify
    further at linear cost, never all-pairs. Body in
    :func:`semdedup_multitable_stats` (shared with the 10x blowup probe)."""
    from .pipeline import _emb

    return semdedup_multitable_stats(_emb(spark, sf_dir, extra_cols=("label",)))


def _pagerank_sql(iters: int = 3, damping: float = 0.85) -> str:
    parts = [
        "WITH pairs AS (" + _lsh_sql() + ")",
        """sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs)""",
        "deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        f"""r0 AS (SELECT src, deg, ROUND({_dbl(1.0)} / nn.n, 9) AS pr
                   FROM deg CROSS JOIN nn)""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS dst,
                      CAST(ROUND(r.pr / r.deg, 12) AS DECIMAL(26,12)) AS c
               FROM sym e JOIN r{i - 1} r ON e.src = r.src)"""
        )
        parts.append(
            f"s{i} AS (SELECT dst, CAST(SUM(c) AS DOUBLE) AS s FROM c{i} GROUP BY dst)"
        )
        parts.append(
            f"""r{i} AS (SELECT d.src, d.deg,
                      ROUND({_dbl(1.0 - damping)} / nn.n
                            + {_dbl(damping)} * COALESCE(s.s, {_dbl(0.0)}), 9) AS pr
               FROM deg d LEFT JOIN s{i} s ON d.src = s.dst CROSS JOIN nn)"""
        )
    return ",\n".join(parts) + f"\nSELECT src AS id, pr FROM r{iters}"


@query("d_pagerank", oracle=_pagerank_sql())
def d_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the LSH near-dup candidate graph
    (operators/components.py:76): boilerplate-template hubs become high-PR
    nodes. Each iteration is one co-partitioned hash join + one map-side
    combinable aggregation; DECIMAL contribution sums + per-iteration
    round(9) keep both engines bit-identical."""
    return pagerank(d_lsh_candidate_pairs(spark, sf_dir), iters=3, damping=0.85)


# ---------------------------------------------------------------------------
# Round-5: certified recall of the OR-amplified SemDeDup candidate generator
# vs ground truth — the docstring's "~16% -> ~50% pair recall" claim as a
# hash-checked number instead of prose.
# ---------------------------------------------------------------------------


def _semdedup_recall_sql() -> str:
    from .pipeline import _cos_sql

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact_removed AS (
      SELECT DISTINCT b.vec_id AS b_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {_cos_sql('a.v', 'b.v')} >= 0.4),
    planes AS (SELECT vec_id AS plane_id, v AS p FROM e WHERE vec_id BETWEEN 1 AND 16),
    keys AS (
      SELECT e.vec_id, (p.plane_id - 1) // 4 AS tbl,
             CAST(SUM(CASE WHEN list_dot_product(e.v, p.p) > 0
                           THEN 1 << CAST((p.plane_id - 1) % 4 AS INT) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id, (p.plane_id - 1) // 4),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bucket = b.bucket
                             AND a.vec_id < b.vec_id),
    lsh_removed AS (
      SELECT DISTINCT c.id_b AS b_id
      FROM cand c JOIN e ea ON c.id_a = ea.vec_id JOIN e eb ON c.id_b = eb.vec_id
      WHERE {_cos_sql('ea.v', 'eb.v')} >= 0.4)
    SELECT
      (SELECT COUNT(*) FROM exact_removed) AS n_exact,
      (SELECT COUNT(*) FROM lsh_removed) AS n_lsh,
      (SELECT COUNT(*) FROM exact_removed x
        WHERE EXISTS (SELECT 1 FROM lsh_removed l WHERE l.b_id = x.b_id)) AS n_common
    """


@query("d_semdedup_recall", oracle=_semdedup_recall_sql())
def d_semdedup_recall(spark, sf_dir):
    """Removal-set recall of the 4x4-bit OR-amplified SemDeDup vs exact
    ground truth at cosine 0.4: (n_exact, n_lsh, n_common) as exact BIGINTs
    — n_lsh ⊆ n_exact by construction (every LSH removal is cosine-verified),
    so n_common == n_lsh and n_lsh / n_exact IS the amplified recall the
    family's docstrings claim. Ground truth runs through the block-pair
    fan-out (never a cartesian join); the LSH side is the certified
    multitable path."""
    from .pipeline import _allpairs_cosine_removed, _bucket_cosine_removed, _dot_col, _emb, _sign_lsh_bev
    from ..cache import tracked_persist

    e = _emb(spark, sf_dir)
    ev = e.select("vec_id", "v", _dot_col(F.col("v"), F.col("v")).alias("n2"))
    # both removal sets are read three times (their count + the overlap
    # join) — persist so each kernel pipeline executes once
    exact = tracked_persist(
        _allpairs_cosine_removed(ev, threshold=0.4, n_blocks=8).distinct()
    )
    plane_rows = {
        r["vec_id"]: list(r["v"])
        for r in e.filter(F.col("vec_id").between(1, 16)).select("vec_id", "v").collect()
    }
    # fused key build: one Arrow pass emits the bucketed-vector rows with
    # (v, n2) in hand — no corpus-wide key/vector re-join (ADVICE r5)
    bev = _sign_lsh_bev(
        e, [plane_rows[i + 1] for i in range(16)], n_tables=4, bits_per_table=4
    )
    lsh = tracked_persist(
        _bucket_cosine_removed(
            bev, threshold=0.4, partitions=max(4, e.rdd.getNumPartitions())
        ).distinct()
    )
    exact_c = exact.count()
    lsh_c = lsh.count()
    common = exact.join(lsh, "b_id", "left_semi").count()
    return spark.createDataFrame(
        [(exact_c, lsh_c, common)], "n_exact bigint, n_lsh bigint, n_common bigint"
    )
