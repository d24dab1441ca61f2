"""Text-corpus queries: tokenizer statistics and training (BPE, unigram,
WordPiece), language id and quality filters, PII scrubbing, normalization,
n-gram LMs, DSIR selection, Naive Bayes filtering, mixtures, packing and
sharding, and the composed corpus-prep pipelines.

Float-parity rules (measured, see tests/test_vocab.py):

- ``ln()`` differs by 1 ulp between JVM and libm on ~5% of inputs, so every
  log term is rounded to 6 decimals on BOTH sides (or carried as integer
  micro-nats).
- ``CAST(double AS BIGINT)`` truncates in Spark but rounds in DuckDB, so all
  ppm rates go through an explicit FLOOR on both sides.
- DuckDB parses decimal literals as DECIMAL, not DOUBLE, so every float
  constant in an oracle is interpolated as ``CAST(<python repr> AS DOUBLE)``.
- double sums are order-dependent, so cross-term sums ride DECIMAL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.importance import (
    corpus_kl,
    corpus_kl_sql,
    dsir_scores,
    dsir_select,
    dsir_select_sql,
    dsir_sql,
)
from ..operators.nbayes import nb_confusion, nb_confusion_sql
from ..operators.retrieval import unigram_logprob
from ..operators.sampling import PPM, mixture_rates, sample_mixture
from ..operators.sharding import shard_manifest, shard_manifest_sql
from ..operators.similarity import _bucket_cosine_removed, _sign_lsh_bev
from ..operators.text import (
    LANG_STOPWORDS,
    with_fingerprint,
    with_lang_id,
    with_quality,
    with_token_count,
)
from ..operators.vocab import tfidf_terms, vocab_topk
from ..session import read_table
from . import query
from .dedup import _TOK, _dbl
from .relational import dec


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "t_token_stats",
    oracle=r"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
           MIN(len(string_split_regex(trim(text), '\s+'))) AS min_tokens,
           MAX(len(string_split_regex(trim(text), '\s+'))) AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def t_token_stats(spark, sf_dir):
    d = with_token_count(read_table(spark, sf_dir, "documents"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


@query(
    "t_quality_by_source",
    oracle=r"""
    WITH q AS (
      SELECT source,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 6) AS alpha_ratio,
             ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text), 6) AS punct_ratio
      FROM documents),
    s AS (
      SELECT source, n_tokens, alpha_ratio, punct_ratio,
             ROUND(CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN alpha_ratio > 0.6 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END, 6) AS quality_score
      FROM q)
    SELECT source, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
           CAST(SUM(CASE WHEN quality_score >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality
    FROM s GROUP BY source
    """,
)
def t_quality_by_source(spark, sf_dir):
    d = with_quality(read_table(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum(dec("quality_score", 6)).cast("double") / F.count("*"), 6).alias("avg_quality"),
        F.sum(F.when(F.col("quality_score") >= 0.8, 1).otherwise(0)).alias("n_high_quality"),
    )


def _langid_sql() -> str:
    score_exprs = []
    for lang, stops in LANG_STOPWORDS.items():
        arr = "[" + ", ".join(f"'{s}'" for s in stops) + "]"
        score_exprs.append(
            f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> list_contains({arr}, t))) AS s_{lang}"
        )
    langs = list(LANG_STOPWORDS.keys())
    cases = []
    for lang in langs:
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        cases.append(f"WHEN {cond} THEN '{lang}'")
    return f"""
    WITH scores AS (SELECT lang, {', '.join(score_exprs)} FROM documents)
    SELECT lang, CASE {' '.join(cases)} END AS predicted_lang, COUNT(*) AS n
    FROM scores GROUP BY 1, 2
    """


@query("t_langid_confusion", oracle=_langid_sql(), headline=True)
def t_langid_confusion(spark, sf_dir):
    d = with_lang_id(read_table(spark, sf_dir, "documents"))
    return d.groupBy("lang", "predicted_lang").agg(F.count("*").alias("n"))


@query(
    "t_fingerprint",
    oracle=r"""
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def t_fingerprint(spark, sf_dir):
    return with_fingerprint(read_table(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# BPE-ish token counting (north-star text-analysis item): the GPT-2
# pre-tokenizer regex, counted JVM-side (regexp_extract_all, no UDF). The
# pattern is lookahead-free so Java regex and DuckDB's RE2 segment the corpus
# identically (verified exact on all docs).
# ---------------------------------------------------------------------------

def _bpe_stats_sql() -> str:
    from ..operators.text import BPE_PRETOKEN_RE

    pat = BPE_PRETOKEN_RE.replace("'", "''")
    return f"""
    WITH t AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_ws,
             len(regexp_extract_all(text, '{pat}')) AS n_bpe
      FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           MIN(n_bpe) AS min_bpe, MAX(n_bpe) AS max_bpe
    FROM t GROUP BY lang
    """


@query("t_bpe_token_stats", oracle=_bpe_stats_sql(), headline=True)
def t_bpe_token_stats(spark, sf_dir):
    from ..operators.text import with_bpe_token_count

    d = with_bpe_token_count(with_token_count(read_table(spark, sf_dir, "documents")))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("ws_tokens"),
        F.sum("n_bpe_tokens").alias("bpe_tokens"),
        F.min("n_bpe_tokens").cast("long").alias("min_bpe"),
        F.max("n_bpe_tokens").cast("long").alias("max_bpe"),
    )


# ---------------------------------------------------------------------------
# corpus-filtering operators (operators/filtering.py): repetition quality
# signals, PII scrubbing, URL normalization, benchmark decontamination —
# the remaining first-class filters of a pretraining data pipeline. All pure
# Catalyst with exact DuckDB oracles; integer-exact aggregates (sums of
# per-doc micro-rounded values) dodge float summation-order drift.
# ---------------------------------------------------------------------------


@query(
    "t_repetition_stats",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    dup AS (
      SELECT doc_id, source,
             CASE WHEN len(t) > 0
                  THEN ROUND(1 - len(list_distinct(t))::DOUBLE / len(t), 6)
                  ELSE 0.0 END AS dupr
      FROM toks),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
      FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2),
    gcnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    per_doc AS (
      SELECT doc_id, ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS topr
      FROM gcnt GROUP BY doc_id)
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(ROUND(d.dupr * 1e6) AS BIGINT)) AS BIGINT) AS dup_micro,
           CAST(SUM(CAST(ROUND(COALESCE(p.topr, 0.0) * 1e6) AS BIGINT)) AS BIGINT) AS top_micro,
           CAST(SUM(CASE WHEN d.dupr > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_dup
    FROM dup d LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.source
    """,
)
def t_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-token ratio + top-bigram
    fraction per doc (single aggregate-fold projection, no shuffle — the
    longest equal-run in the sorted gram list IS the max frequency), rolled
    up per source as integer-exact micro sums. The oracle recomputes the
    bigram mode the relational way (unnest → group → max/sum)."""
    from ..operators.filtering import with_repetition_stats

    d = with_repetition_stats(read_table(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.round(F.col("dup_token_ratio") * 1e6).cast("long")).alias("dup_micro"),
        F.sum(F.round(F.col("top_bigram_ratio") * 1e6).cast("long")).alias("top_micro"),
        F.sum(F.when(F.col("dup_token_ratio") > 0.5, 1).otherwise(0)).cast("long").alias("n_high_dup"),
    )


_PII_AUG_SQL = r"""
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || doc_id || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS text
      FROM documents
"""


@query(
    "t_pii_scrub",
    oracle=r"""
    WITH aug AS (""" + _PII_AUG_SQL + r"""),
    scrub AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\+?[0-9][0-9()\-. ]{6,}[0-9]')) AS n_phones,
             regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\+?[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
      FROM aug)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           CAST(SUM(len(scrubbed)) AS BIGINT) AS scrubbed_len
    FROM scrub GROUP BY source
    """,
)
def t_pii_scrub(spark, sf_dir):
    """PII scrubbing end-to-end on deterministically PII-augmented documents
    (every 7th doc gains an email, every 11th a phone number — synthesized
    identically in the oracle). Redaction counts and post-scrub lengths must
    match byte-for-byte, proving the Java-regex and RE2 patterns agree."""
    from ..operators.filtering import scrub_pii

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" call +1 555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ),
    )
    s = scrub_pii(aug)
    return s.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_phones").cast("long").alias("n_phones"),
        F.sum(F.length("text")).cast("long").alias("scrubbed_len"),
    )


@query(
    "t_url_domains",
    oracle=r"""
    WITH urls AS (
      SELECT doc_id, source,
             'https://' || source || '.Example.com/docs/' || doc_id
             || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN '?utm=1' ELSE '' END AS url
      FROM documents),
    parts AS (
      SELECT doc_id, source,
             lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS domain,
             lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) || '://'
             || lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
             || regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS url_norm
      FROM urls)
    SELECT domain, COUNT(*) AS n_urls,
           COUNT(DISTINCT url_norm) AS n_unique_norm
    FROM parts GROUP BY domain
    """,
)
def t_url_domains(spark, sf_dir):
    """URL normalization + domain extraction over synthesized per-doc URLs
    (mixed-case host, some with query strings / trailing slashes). The
    normalized-URL distinct count is the URL-level dedup key: trailing-slash
    and query/fragment variants collapse (doc 15 = both %3 and %5 → its
    slash+query variants normalize together)."""
    from ..operators.filtering import with_url_parts

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    urls = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".Example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?utm=1")).otherwise(F.lit("")),
        ),
    )
    parts = with_url_parts(urls)
    return parts.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("url_norm").alias("n_unique_norm"),
    )


@query(
    "t_sequence_packing",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split_regex(trim(text), '\s+')) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                         - n_tokens) / 2048.0) AS BIGINT) AS bin
      FROM toks)
    SELECT source, COUNT(DISTINCT bin) AS n_bins,
           CAST(MAX(bin) AS BIGINT) AS max_bin,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(cnt) AS BIGINT) AS max_docs_per_bin
    FROM (SELECT source, bin, n_tokens,
                 COUNT(*) OVER (PARTITION BY source, bin) AS cnt
          FROM packed)
    GROUP BY source
    """,
)
def t_sequence_packing(spark, sf_dir):
    """Token-budget sequence packing (budget 2048): start-offset binning via
    one window cumsum per source — the corpus→training-sequences step. The
    oracle reruns the identical window in DuckDB."""
    from ..operators.packing import pack_sequences

    docs = with_token_count(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "n_tokens"
    )
    packed = pack_sequences(docs, budget=2048)
    per_bin = packed.withColumn(
        "cnt", F.count("*").over(Window.partitionBy("source", "bin"))
    )
    return per_bin.groupBy("source").agg(
        F.countDistinct("bin").alias("n_bins"),
        F.max("bin").alias("max_bin"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("cnt").alias("max_docs_per_bin"),
    )


@query(
    "t_tfidf_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    stats AS (
      SELECT term, COUNT(*) AS doc_freq, CAST(SUM(tf) AS BIGINT) AS total_tf,
             MAX(tf) AS max_tf
      FROM tf GROUP BY term
    )
    SELECT term, doc_freq, total_tf,
           ROUND(LN((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0, 6) AS idf,
           ROUND(max_tf * ROUND(LN((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0, 6), 6) AS max_tfidf
    FROM stats, n
    WHERE doc_freq >= 2
    """,
    headline=True,
)
def t_tfidf_terms(spark, sf_dir):
    """Corpus TF-IDF term statistics (engine addition §2.12): explode + two
    map-side-combinable aggregations; N broadcast as a 1-row agg."""
    d = read_table(spark, sf_dir, "documents")
    return tfidf_terms(d, min_doc_freq=2)


@query(
    "t_vocab_top100",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS term FROM documents
    )
    SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM tok GROUP BY term
    ORDER BY n_occurrences DESC, term
    LIMIT 100
    """,
)
def t_vocab_top100(spark, sf_dir):
    """Top-100 vocabulary (engine addition §2.12): partial HashAggregate →
    TakeOrderedAndProject, deterministic tie-break by term."""
    return vocab_topk(read_table(spark, sf_dir, "documents"), k=100)


#: mixture targets for the oracle pair (shares sum to 1; the other 17
#: sources get rate 0)
MIX_TARGETS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


@query(
    "t_domain_mixture",
    oracle=f"""
    WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    tgt(source, target) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
    c2 AS (
      SELECT c.source, c.n_docs, COALESCE(t.target, 0.0) AS target
      FROM counts c LEFT JOIN tgt t USING (source)
    ),
    tt AS (SELECT MIN(n_docs / target) AS t FROM c2 WHERE target > 0),
    rates AS (
      SELECT source, n_docs,
             CAST(FLOOR(target * {PPM}) AS BIGINT) AS target_ppm,
             LEAST({PPM}, CAST(FLOOR(target * t / n_docs * {PPM}) AS BIGINT)) AS rate_ppm
      FROM c2, tt
    ),
    samp AS (
      SELECT d.source, COUNT(*) AS n_sampled
      FROM documents d JOIN rates r USING (source)
      WHERE CAST(('0x' || substring(md5(d.text), 1, 15)) AS BIGINT) % {PPM} < r.rate_ppm
      GROUP BY d.source
    )
    SELECT r.source, r.n_docs, r.target_ppm, r.rate_ppm,
           COALESCE(s.n_sampled, 0) AS n_sampled
    FROM rates r LEFT JOIN samp s USING (source)
    """,
)
def t_domain_mixture(spark, sf_dir):
    """Domain-mixture resampling (engine addition §2.12): per-domain
    keep-rates for a 50/30/20 target mix, deterministic md5 Bernoulli
    sampling, per-domain sampled counts. The corpus never shuffles — rates
    are a broadcast dim, the sample is a codegen filter."""
    d = read_table(spark, sf_dir, "documents")
    rates = mixture_rates(d, MIX_TARGETS)
    sampled = (
        sample_mixture(d, MIX_TARGETS, rates=rates)
        .groupBy("source")
        .agg(F.count("*").alias("_n_sampled"))
    )
    return (
        rates.join(F.broadcast(sampled), "source", "left")
        .withColumn("n_sampled", F.coalesce(F.col("_n_sampled"), F.lit(0)))
        .drop("_n_sampled")
    )


@query(
    "t_sentences",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                        x -> trim(x)), x -> x != '') AS sents
      FROM documents WHERE doc_id % 25 = 0
    ),
    e AS (
      SELECT doc_id,
             unnest(list_transform(sents,
                    (x, i) -> struct_pack(sentence_idx := i - 1, sentence := x))) AS u
      FROM s
    )
    SELECT doc_id, CAST(u.sentence_idx AS INT) AS sentence_idx, u.sentence AS sentence
    FROM e
    """,
)
def t_sentences(spark, sf_dir):
    """Sentence segmentation (engine addition §2.12): split + transform +
    filter + posexplode, all inside whole-stage codegen — no Python in the
    hot path."""
    from ..operators.text import split_sentences

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    return split_sentences(d)


@query(
    "t_chunking",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             1 + GREATEST(0, CAST(CEIL((len(toks) - 32) / 24.0) AS INT)) AS n_chunks
      FROM d
    ),
    e AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32)) AS INT) AS chunk_len,
           array_to_string(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' ') AS chunk_text
    FROM e
    """,
    headline=True,
)
def t_chunking(spark, sf_dir):
    """Overlapping token-window chunking (engine addition §2.12): 32-token
    windows every 24 tokens — the RAG/pretraining chunk primitive. Integer
    arithmetic only; projection + explode, no shuffle, no UDF."""
    from ..operators.text import chunk_tokens

    return chunk_tokens(read_table(spark, sf_dir, "documents"))


@query(
    "t_bigram_pmi",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ),
    uni AS (
      SELECT unnest(toks) AS w FROM tok
    ),
    unic AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM unic),
    bi AS (
      SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM tok
    ),
    bic AS (SELECT bg, COUNT(*) AS c FROM bi GROUP BY bg HAVING COUNT(*) >= 5),
    btot AS (SELECT CAST(SUM(c) AS DOUBLE) AS bn FROM (SELECT COUNT(*) AS c FROM bi))
    SELECT bg AS bigram, bic.c AS n_bigram,
           ROUND(LN((bic.c / btot.bn)
             / ((u1.c / tot.n) * (u2.c / tot.n))), 6) AS pmi
    FROM bic, btot, tot
    JOIN unic u1 ON u1.w = string_split(bic.bg, ' ')[1]
    JOIN unic u2 ON u2.w = string_split(bic.bg, ' ')[2]
    """,
)
def t_bigram_pmi(spark, sf_dir):
    """Bigram PMI (corpus-analysis addition): pointwise mutual information
    of adjacent-token pairs with count ≥5 — the collocation / multi-word-
    expression signal. Unigram and bigram counts are two combinable aggs;
    the probability ratio is one broadcast join per side; ln rounded at 6
    (measured JVM/libm ulp divergence)."""
    d = read_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))
    t = d.select(F.col("doc_id"), toks.alias("toks"))
    uni = t.select(F.explode("toks").alias("w"))
    unic = uni.groupBy("w").agg(F.count("*").alias("c"))
    tot = unic.agg(F.sum("c").cast("double").alias("n"))
    bi = t.select(
        F.explode(
            F.expr("transform(sequence(1, size(toks) - 1), i -> concat(toks[i - 1], ' ', toks[i]))")
        ).alias("bg")
    )
    bic = bi.groupBy("bg").agg(F.count("*").alias("c")).filter(F.col("c") >= 5)
    btot = bi.agg(F.count("*").cast("double").alias("bn"))
    w1 = F.split(F.col("bg"), " ").getItem(0)
    w2 = F.split(F.col("bg"), " ").getItem(1)
    j = (
        bic.withColumn("w1", w1).withColumn("w2", w2)
        # unigram counts are vocabulary-sized — no forced broadcast (AQE
        # broadcasts when genuinely small; see retrieval.py term_lp note)
        .join(unic.selectExpr("w as w1", "c as c1"), "w1")
        .join(unic.selectExpr("w as w2", "c as c2"), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    pmi = F.round(
        F.log((F.col("c") / F.col("bn")) / ((F.col("c1") / F.col("n")) * (F.col("c2") / F.col("n")))), 6
    )
    return j.select(F.col("bg").alias("bigram"), F.col("c").alias("n_bigram"), pmi.alias("pmi"))


@query(
    "t_filter_funnel",
    oracle=r"""
    WITH q AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 6) AS alpha_ratio,
             ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text), 6) AS punct_ratio
      FROM documents),
    f AS (
      SELECT doc_id,
             (n_chars >= 100) AS p1,
             (n_chars >= 100 AND n_tokens >= 10) AS p2,
             (n_chars >= 100 AND n_tokens >= 10 AND alpha_ratio > 0.6) AS p3,
             (n_chars >= 100 AND n_tokens >= 10 AND alpha_ratio > 0.6 AND punct_ratio < 0.1) AS p4
      FROM q)
    SELECT 'p0_total' AS stage, COUNT(*) AS n_surviving FROM f
    UNION ALL SELECT 'p1_min_chars', CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) FROM f
    UNION ALL SELECT 'p2_min_tokens', CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) FROM f
    UNION ALL SELECT 'p3_alpha', CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) FROM f
    UNION ALL SELECT 'p4_punct', CAST(SUM(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) FROM f
    """,
)
def t_filter_funnel(spark, sf_dir):
    """Corpus filter funnel (pipeline addition): cumulative survival counts
    through the standard cheap pre-filters — the attrition report every
    corpus-cleaning run ships. One scan, conditional sums (no per-stage
    passes)."""
    from ..operators.text import with_quality

    d = with_quality(read_table(spark, sf_dir, "documents"))
    p1 = F.col("n_chars") >= 100
    p2 = p1 & (F.col("n_tokens") >= 10)
    p3 = p2 & (F.col("alpha_ratio") > 0.6)
    p4 = p3 & (F.col("punct_ratio") < 0.1)
    agg = d.agg(
        F.count("*").alias("p0_total"),
        F.sum(p1.cast("long")).alias("p1_min_chars"),
        F.sum(p2.cast("long")).alias("p2_min_tokens"),
        F.sum(p3.cast("long")).alias("p3_alpha"),
        F.sum(p4.cast("long")).alias("p4_punct"),
    )
    stack = ", ".join(f"'{c}', {c}" for c in
                      ["p0_total", "p1_min_chars", "p2_min_tokens", "p3_alpha", "p4_punct"])
    return agg.selectExpr(f"stack(5, {stack}) as (stage, n_surviving)")


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


# Scale ln_boundary: ln can differ by one ulp between the JVM and libm, and
# ROUND(_, 6) absorbs it unless a value lands exactly on a rounding
# boundary, as one t_bigram_logprob row does at sf0.1 (avg_logprob
# -3.414089 vs -3.414090).
@query("t_unigram_logprob", oracle=_unigram_sql(), scale="ln_boundary")
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


# Scale ln_boundary: ln can differ by one ulp between the JVM and libm, and
# ROUND(_, 6) absorbs it unless a value lands exactly on a rounding
# boundary, as one t_bigram_logprob row does at sf0.1 (avg_logprob
# -3.414089 vs -3.414090).
@query("t_bigram_logprob", oracle=_bigram_lm_sql(), scale="ln_boundary")
def t_bigram_logprob(spark, sf_dir):
    """Add-one bigram LM per-doc scoring (operators/retrieval.py:bigram_logprob)
    — the order-aware quality signal: template-stitched or shuffled text
    scores poorly even with a natural unigram profile."""
    from ..operators.retrieval import bigram_logprob

    return bigram_logprob(read_table(spark, sf_dir, "documents"))


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


@query("t_bpe_merges", oracle=_bpe_sql(), headline=True)
def t_bpe_merges(spark, sf_dir):
    """Distributed BPE merge training (operators/bpe.py): 5 corpus-level
    merge rounds, each one generator pass + one count agg + a 1-row argmax;
    greedy left-to-right merge application as a pure-projection fold. The
    oracle unrolls the identical rounds with list_reduce."""
    from ..operators.bpe import bpe_train_merges

    return bpe_train_merges(read_table(spark, sf_dir, "documents"), num_merges=5)


def _bpe_tokenized_stats_sql(num_merges: int = 5) -> str:
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


@query("t_bpe_tokenized_stats", oracle=_bpe_tokenized_stats_sql(), headline=True)
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
    accounting oracle and the prep→shards composition."""
    # langid CASE mirrors _langid_sql (shared constants)
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


@query("t_corpus_prep_e2e", oracle=_prep_e2e_sql(), headline=True)
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
    headline=True,
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


@query("t_nb_confusion", oracle=nb_confusion_sql("lang", 1024) + " ORDER BY 1, 2", headline=True)
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


def _prep_to_shards_sql() -> str:
    return shard_manifest_sql(SHARD_BUDGET, table="kept", extra_ctes=_prep_kept_ctes())


@query("t_prep_to_shards_e2e", oracle=_prep_to_shards_sql(), headline=True)
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


@query("t_shard_manifest", oracle=shard_manifest_sql(SHARD_BUDGET), headline=True)
def t_shard_manifest(spark, sf_dir):
    """Token-budget training-shard manifest over the deterministically
    shuffled corpus (md5 order): shard_id → (n_docs, shard_tokens).

    The Spark plan is a two-level distributed prefix sum (64 fixed-boundary
    ranges, P-row offset broadcast) — no single-reducer global window; the
    oracle is the naive global cumsum, algebraically identical."""
    docs = read_table(spark, sf_dir, "documents")
    return shard_manifest(docs, budget=SHARD_BUDGET, n_ranges=64)


# ---------------------------------------------------------------------------
# Round-6: the FULL training-data pipeline as one certified query — lexical
# gates, semantic (embedding) dedup gate, and loader-ready shard packing
# composed end-to-end. Each stage's oracle already exists as a certified CTE
# family; this composes them verbatim, so any stage drift breaks this hash
# too.
# ---------------------------------------------------------------------------


def _full_pipeline_sql() -> str:
    from .dedup import _semdedup_removed_ctes

    extra = f"""{_prep_kept_ctes()},
    {_semdedup_removed_ctes('s')},
    kept2 AS (
      SELECT k.doc_id, k.text FROM kept k
      WHERE NOT EXISTS (SELECT 1 FROM removeds r WHERE r.b_id = k.doc_id))"""
    return shard_manifest_sql(SHARD_BUDGET, table="kept2", extra_ctes=extra)


@query("t_full_pipeline_e2e", oracle=_full_pipeline_sql(), headline=True)
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
    from .dedup import semdedup_multitable_stats  # noqa: F401 (family doc)
    from .dedup import _emb

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
# Round-7: n-gram novelty — the memorization/duplication metric LLM corpus
# audits report: what fraction of each source's distinct 3-gram shingles
# appear in NO other document. Exact integer output (parts-per-million via
# integer division), composed over the shared shingle CTE.
# ---------------------------------------------------------------------------


def _ngram_novelty_sql() -> str:
    from .dedup import _SHINGLE_SQL

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


@query("t_ngram_novelty", oracle=_ngram_novelty_sql(), headline=True)
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


@query(
    "t_unigram_vocab",
    oracle="""
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
)
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


# Scale sf0.01: Viterbi segmentation of the documents table is deterministic
# but not SQL-expressible, so its output is pinned at the gate scale.
@query(
    "t_unigram_tokens",
    oracle="""
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
    scale="sf0.01",
)
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


@query(
    "t_wordpiece_vocab",
    oracle="""
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
)
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


# Scale sf0.01: greedy longest-match segmentation of the documents table is
# deterministic but not SQL-expressible, so its output is pinned at the
# gate scale.
@query(
    "t_wordpiece_tokens",
    oracle="""
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
    scale="sf0.01",
)
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
# CCNet-style perplexity bucketing + deterministic downsampling
# (operators/importance.py, r9 build — the SQL twin verified in
# tests/test_pipeline_ops.py::test_perplexity_bucket_sample_matches_duckdb)
# ---------------------------------------------------------------------------


def _ppl_bucket_sql() -> str:
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
