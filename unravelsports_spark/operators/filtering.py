"""Corpus-filtering operators for training-data pipelines: repetition-based
quality signals (the Gopher/MassiveText family of filters), PII scrubbing,
URL normalization/domain extraction, and benchmark-contamination detection.

All pure Catalyst (whole-stage codegen, no Python in the hot path); regex
patterns are restricted to the syntax Java regex and RE2/DuckDB share, so
every operator has an exact DuckDB oracle (plans/pipeline.py).

Scale posture: repetition stats are per-row folds (no shuffle); PII/URL ops
are projections; contamination is a shingle semi-join — the benchmark side is
tiny (broadcast), the corpus side streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import doc_shingles

#: conservative patterns valid in both Java regex (Spark) and RE2 (DuckDB)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\-. ]{6,}[0-9]"


def _tokens(text_col) -> F.Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(F.lower(c)), r"\s+")


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals, per document:

    - ``dup_token_ratio``: 1 − distinct/total tokens;
    - ``top_bigram_ratio``: occurrences of the most frequent word 2-gram
      over all 2-grams.

    Tokenization and ALL ratio arithmetic (including the round(…, 6)) stay
    in Catalyst so oracle parity is untouched; only the four integer counts
    per document (tokens, distinct tokens, bigrams, max-bigram frequency)
    come from an Arrow batch kernel — integers are rounding-free, and the
    previous all-Catalyst form (longest equal-run over the sorted gram list
    via an ``aggregate`` fold) interpreted a struct-building lambda per
    gram: 9.6 s warm at sf0.1 vs ~1 s now, bit-identical output. Still a
    per-row signal — no shuffle, no join."""
    from collections import Counter

    from pyspark.sql import types as T

    tok_df = df.withColumn("_toks", _tokens(text_col))
    fields = list(tok_df.schema.fields)
    out_schema = T.StructType(
        fields
        + [
            T.StructField("_n_toks", T.LongType()),
            T.StructField("_n_distinct", T.LongType()),
            T.StructField("_max_gram", T.LongType()),
        ]
    )

    def counts(batches):
        for pdf in batches:
            toks = pdf["_toks"]
            pdf = pdf.copy()
            pdf["_n_toks"] = toks.map(len)
            pdf["_n_distinct"] = toks.map(lambda t: len(set(t)))

            def max_gram(t):
                if len(t) < 2:
                    return 0
                return max(Counter(zip(t, t[1:])).values())

            pdf["_max_gram"] = toks.map(max_gram)
            yield pdf

    stats = tok_df.mapInPandas(counts, out_schema)
    n = F.col("_n_toks")
    ng = n - 1  # bigram count; guarded by the when() below
    dup_ratio = F.when(n > 0, F.round(1 - F.col("_n_distinct") / n, 6)).otherwise(0.0)
    top_ratio = F.when(ng > 0, F.round(F.col("_max_gram") / ng, 6)).otherwise(0.0)
    return (
        stats.withColumn("dup_token_ratio", dup_ratio)
        .withColumn("top_bigram_ratio", top_ratio)
        .drop("_toks", "_n_toks", "_n_distinct", "_max_gram")
    )


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/phone numbers; adds ``n_emails`` / ``n_phones`` counts
    (measured BEFORE redaction) and rewrites ``text_col`` with ``<EMAIL>`` /
    ``<PHONE>`` placeholders. Order matters: emails first, so the phone
    pattern cannot eat digit runs inside already-redacted spans."""
    c = F.col(text_col)
    df = df.withColumn("n_emails", F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))))
    df = df.withColumn(
        "n_phones",
        F.size(
            F.regexp_extract_all(
                F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), F.lit(PHONE_RE), F.lit(0)
            )
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.withColumn(text_col, scrubbed)


#: the ONE URL-component regex set (r13 review #7 — robots.py briefly
#: hand-rolled a copy of the host pattern, the exact duplication the r12
#: review removed from warc.py; every URL consumer imports these).
#: Portable Java/RE2 subset so DuckDB oracles run them verbatim.
URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)"
URL_PATHQ_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)"  # path + query
URL_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"


def url_trim(url_col):
    """Regex whitespace trim for URL columns (F.trim strips only 0x20 —
    CSV-tail '\\n'/'\\t' survived it; r13 pass 9/12). EXPLICIT class, not
    \\s (pass 15: Java's \\s includes U+000B, RE2's does not — the exact
    cross-engine divergence htmltext.py pins; an oracle running this
    chain verbatim must trim identically)."""
    from . import PORTABLE_WS

    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_replace(c, f"^[{PORTABLE_WS}]+|[{PORTABLE_WS}]+$", "")


def url_canonical_host(url_col):
    """Canonical DNS host of a URL column: trim → URL_HOST_RE extract →
    :func:`canonical_host`. The ONE composition every host-identity
    consumer (robots, frontier) shares — a third hand-rolled copy is the
    divergence class the r12/r13 reviews removed twice (r13 pass 14 #4
    hoisted this from robots/frontier duplicates)."""
    return canonical_host(F.regexp_extract(url_trim(url_col), URL_HOST_RE, 1))


def canonical_host(host_col):
    """The DNS identity of an extracted URL authority: lowered, userinfo
    and port stripped (INCLUDING the RFC 3986 empty port 'host:'), the
    FQDN root dot removed — 'User@D.Example.:80' → 'd.example'. Shared so
    every host-identity consumer canonicalizes identically (r13 review
    pass 5 #3 — the divergence class the r12/r13 reviews removed twice).

    Userinfo strips to the LAST '@' (pass 6 #1: WHATWG parsing puts the
    host after the last '@', and '^[^@]*@' left 'pass@host' for the
    classic 'http://trusted@evil/' obfuscation — an allow-all leak in the
    robots filter). IPv6 literals are bracket-aware (pass 6 #2: a plain
    ':\\d*$' strip turned '2001:db8::1' into '2001:db8:', which both
    missed its bracketed URL-side twin and collided distinct IPv6 hosts):
    a '[...]' authority reduces to the address inside the brackets, and
    the port strip on non-bracketed hosts requires a colon-free prefix so
    unbracketed IPv6 keys pass through intact.

    NOTE: with_url_parts' certified ``domain`` column deliberately does
    NOT use this (it predates it and its exact bytes are hash-pinned);
    new consumers should."""
    # trim + scheme strip first (pass 9 #1: a robots key contaminated
    # with surrounding whitespace or pasted as a full URL —
    # 'https://d.example' / ' d.example\n' — canonicalized to a string no
    # URL host ever equals, the same silent allow-all class as the other
    # five authority variants)
    # the SHARED url_trim (pass 15: a second inline trim regex is the
    # divergence class this module keeps removing)
    h = F.lower(url_trim(host_col))
    h = F.regexp_replace(h, r"^[a-z][a-z0-9+.-]*://", "")
    h = F.regexp_replace(h, r"[/?#].*$", "")  # full-URL key: cut at path
    h = F.regexp_replace(h, r"^.*@", "")
    bracketed = F.regexp_extract(h, r"^\[([^\]]*)\]", 1)
    h = F.when(h.startswith("["), bracketed).otherwise(
        F.regexp_replace(h, r"^([^:]*):\d*$", "$1")
    )
    return F.regexp_replace(h, r"\.$", "")


def with_url_parts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """``domain`` (lowercased host) + ``url_norm`` (scheme+host lowercased,
    query/fragment stripped, trailing slash trimmed) — the canonical key for
    URL-level dedup. Regex-based so the DuckDB oracle is identical
    (Spark's parse_url has no DuckDB twin)."""
    c = F.col(url_col)
    host = F.lower(F.regexp_extract(c, URL_HOST_RE, 1))
    path = F.regexp_extract(c, URL_PATH_RE, 1)
    scheme = F.lower(F.regexp_extract(c, URL_SCHEME_RE, 1))
    norm = F.concat(
        scheme, F.lit("://"), host, F.regexp_replace(path, r"/+$", "")
    )
    return df.withColumn("domain", host).withColumn("url_norm", norm)


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Docs sharing at least one word n-gram with the benchmark set (the
    standard decontamination screen). Shingle the benchmark (tiny → its
    distinct hash set broadcasts), semi-join the corpus shingles, return
    distinct contaminated ids. One shuffle for the corpus distinct; the join
    is broadcast."""
    bench = doc_shingles(benchmark, id_col=id_col, text_col=text_col, n=n).select(
        "shingle_hash"
    ).distinct()
    corp = doc_shingles(corpus, id_col=id_col, text_col=text_col, n=n)
    return (
        corp.join(F.broadcast(bench), on="shingle_hash", how="left_semi")
        .select(id_col)
        .distinct()
    )


def k_anonymity_report(
    df: DataFrame, quasi_cols: list, k: int = 5
) -> DataFrame:
    """Privacy re-identification audit (engine addition §2.12, r9 build /
    r10 registration): group the table by its quasi-identifier columns
    (the attributes an adversary could link to external data) and report,
    per equivalence-class SIZE, how many classes and rows sit at that
    size plus whether the size violates k-anonymity — the release-gating
    measure that complements content-level PII scrubbing
    (:func:`scrub_pii`): a row whose text is clean can still be
    re-identified when its (region, segment, ...) combination is unique.

    Output: (class_size, n_classes, n_rows, at_risk) sorted by
    class_size — the class-size HISTOGRAM rather than the classes
    themselves, so the report is tiny, aggregable across shards, and
    never itself leaks a quasi-identifier combination.

    Scale shape: one map-side-combinable groupBy on the quasi columns
    (the only corpus-sized shuffle), then a combinable count-by-size over
    the class table — the same two-phase rollup discipline as
    d_cdc_chunks; no windows, no joins, no collects."""
    classes = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count("*").alias("class_size")
    )
    return class_size_histogram(classes, k)


def class_size_histogram(classes: DataFrame, k: int) -> DataFrame:
    """The histogram stage of the k-anonymity report: a frame
    carrying a ``class_size`` column → (class_size, n_classes, n_rows,
    at_risk) ordered by size. The expression tree is identical to the
    inline form the a23 oracle certified."""
    return (
        classes.groupBy("class_size")
        .agg(F.count("*").alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_rows"),
            (F.col("class_size") < int(k)).alias("at_risk"),
        )
        .orderBy("class_size")
    )
