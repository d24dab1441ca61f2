"""Vocabulary / TF-IDF operators for training-data pipelines: corpus term
statistics, top-k vocabulary extraction, and per-term TF-IDF scoring — all
pure Catalyst (explode + two hash aggregations), no Python in the hot path.

Scale notes (100 TB): the explode produces one row per token, but both
aggregations are map-side combinable on (doc, term) / (term), so the shuffle
carries one row per distinct key, not per token. The document count N is a
scalar broadcast (literal after a first action or a cross-joined 1-row agg —
we use the 1-row broadcast so the whole thing stays one lazy plan). Top-k
vocabulary ends in TakeOrderedAndProject (per-partition heaps, no full sort).

Transcendental caution: `ln()` differs by 1 ulp between the JVM and libm
(measured: 98/1997 inputs), so IDF values are rounded to 6 decimals on both
the Spark and oracle sides; `tests/test_vocab.py` re-verifies bit-parity on
the live corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: lowercase alnum runs — identical semantics in Java regex and RE2 (DuckDB)
TERM_RE = "[a-z0-9]+"


def term_tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per (doc, term occurrence): lowercase alphanumeric runs.

    Fans out an under-partitioned scan first (one-file corpora tokenize on
    one core otherwise — the doc_shingles guard; a no-op at scale)."""
    from .importance import fan_out

    df = fan_out(df, id_col)
    return df.select(
        id_col,
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TERM_RE), F.lit(0))).alias("term"),
    )


def term_frequencies(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term, tf) — term frequency per document."""
    return (
        term_tokens(df, text_col, id_col)
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def tfidf_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 1,
) -> DataFrame:
    """Term-level TF-IDF statistics over the corpus.

    Returns one row per term with ``doc_freq``, ``total_tf``, smoothed
    ``idf = round(ln((N+1)/(doc_freq+1)) + 1, 6)`` and
    ``max_tfidf = round(max(tf) * idf, 6)`` (max, not sum — max over doubles
    is order-independent, so the oracle matches exactly without a decimal
    detour). N rides along as a broadcast 1-row aggregate so the plan stays
    a single lazy pipeline.
    """
    tf = term_frequencies(df, text_col, id_col)
    n_docs = df.select(F.count("*").alias("_n"))
    stats = tf.groupBy("term").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").alias("total_tf"),
        F.max("tf").alias("max_tf"),
    )
    idf = F.round(
        F.log((F.col("_n") + F.lit(1.0)) / (F.col("doc_freq") + F.lit(1.0))) + F.lit(1.0), 6
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_freq") >= min_doc_freq)
        .withColumn("idf", idf)
        .withColumn("max_tfidf", F.round(F.col("max_tf") * F.col("idf"), 6))
        .drop("_n", "max_tf")
    )


def vocab_topk(
    df: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k corpus vocabulary by occurrence count, ties broken by token asc.
    groupBy + orderBy + limit compiles to partial HashAggregate →
    TakeOrderedAndProject: each partition keeps a k-heap, the driver merges
    k-sized lists — no global sort at any scale."""
    return (
        term_tokens(df, text_col, id_col)
        .groupBy("term")
        .agg(F.count("*").alias("n_occurrences"), F.countDistinct(id_col).alias("n_docs"))
        .orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(k)
    )
