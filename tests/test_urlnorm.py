"""URL canonicalization (operators/urlnorm.py) — built round 14, driver
registration queued r15 (`t_url_canonicalize`). T_URL_CANONICALIZE_SQL
verified here is the r15 oracle; `_url_canonical_query` is the query shape
that moves to the plans registry at registration, as
the crawl queries' did. The oracle is CLOSED-FORM (the robots style): the messy URL
spellings are synthesized per class inside the query, so DuckDB states
the hand-derived canonical form from the same synthesis arithmetic
instead of re-implementing the canonicalizer — a normalizer bug cannot
hide in both engines. Engine behavior of the regex/array machinery is
pinned by the hand-case battery below."""

import pytest

from pyspark.sql import functions as F

from .conftest import SF_CORRECT

#: per-class canonical forms, hand-derived from the synthesis arithmetic
#: (k = doc_id % 8): 0 shouty scheme/host, 1 userinfo + default port,
#: 2 duplicate slashes + "." segment, 3 "x/.." segment, 4 tracking params
#: + unsorted query, 5 fragment, 6 empty path, 7 non-default port (KEPT).
T_URL_CANONICALIZE_SQL = """
    WITH c AS (
      SELECT doc_id, source, doc_id % 8 AS k,
             CASE doc_id % 8
               WHEN 4 THEN 'http://' || source || '.example/doc'
                           || doc_id || '?a=1&b=2'
               WHEN 5 THEN 'http://' || source || '.example/'
               WHEN 6 THEN 'http://' || source || '.example/'
               WHEN 7 THEN 'http://' || source || '.example:8080/doc' || doc_id
               ELSE 'http://' || source || '.example/doc' || doc_id
             END AS canonical,
             CASE doc_id % 8
               WHEN 4 THEN 'example,' || source || ')/doc'
                           || doc_id || '?a=1&b=2'
               WHEN 5 THEN 'example,' || source || ')/'
               WHEN 6 THEN 'example,' || source || ')/'
               WHEN 7 THEN 'example,' || source || ':8080)/doc' || doc_id
               ELSE 'example,' || source || ')/doc' || doc_id
             END AS surt
      FROM documents)
    SELECT k, COUNT(*) AS n_urls,
           CAST(SUM(CAST(('0x' || substring(md5(canonical), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_sum,
           CAST(SUM(CAST(('0x' || substring(md5(surt), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_surt
    FROM c GROUP BY k ORDER BY k
"""


def _url_canonical_query(spark, sf_dir):
    """The r15 t_url_canonicalize query shape: eight messy spellings of
    documents-table URLs, canonicalized, fingerprinted per class — the
    fp_sum pins every canonical byte, so any normalization drift flips
    the driver hash."""
    from unravelsports_spark.operators.urlnorm import with_canonical_url
    from unravelsports_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 8
    d = F.col("doc_id").cast("string")
    host = F.concat(F.col("source"), F.lit(".example"))
    messy = (
        F.when(k == 0, F.concat(F.lit("HTTP://"), F.upper(host), F.lit("/doc"), d))
        .when(k == 1, F.concat(F.lit("http://user:pw@"), host, F.lit(":80/doc"), d))
        .when(k == 2, F.concat(F.lit("http://"), host, F.lit("//a/.././doc"), d))
        .when(k == 3, F.concat(F.lit("http://"), host, F.lit("/a/../doc"), d))
        .when(k == 4, F.concat(F.lit("http://"), host,
                               F.lit("/doc"), d, F.lit("?utm_source=x&b=2&a=1")))
        .when(k == 5, F.concat(F.lit("http://"), host, F.lit("/#frag")))
        .when(k == 6, F.concat(F.lit("http://"), host))
        .otherwise(F.concat(F.lit("http://"), host, F.lit(":8080/doc"), d))
    )
    # class 5's fragment rides an empty-ish path on purpose: '/#frag'
    # canonicalizes to '/', same as class 6 — two spellings, one identity
    from unravelsports_spark.operators.urlnorm import surt_key

    urls = docs.select("doc_id", messy.alias("url"))
    out = with_canonical_url(urls).withColumn("surt", surt_key(F.col("url")))
    fp = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    return (
        out.groupBy((F.col("doc_id") % 8).alias("k"))
        .agg(
            F.count("*").alias("n_urls"),
            F.sum(fp("url_canonical")).alias("fp_sum"),
            F.sum(fp("surt")).alias("fp_surt"),
        )
        .orderBy("k")
    )


def test_url_canonicalize_matches_duckdb(spark, duck):
    got = sorted(map(tuple, _url_canonical_query(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(T_URL_CANONICALIZE_SQL).fetchall()))
    assert got == want and len(got) == 8


CASES = [
    # scheme + host case
    ("HTTP://WWW.Example.COM/A/b", "http://www.example.com/A/b"),
    # default ports (scheme-matched), empty port, non-default kept
    ("http://h.example:80/x", "http://h.example/x"),
    ("https://h.example:443/x", "https://h.example/x"),
    ("https://h.example:80/x", "https://h.example:80/x"),
    ("http://h.example:8080/x", "http://h.example:8080/x"),
    ("http://h.example:/x", "http://h.example/x"),
    # userinfo to the LAST @ (the WHATWG/obfuscation rule)
    ("http://user:pw@h.example/x", "http://h.example/x"),
    ("http://trusted@evil@h.example/x", "http://h.example/x"),
    # FQDN root dot
    ("http://h.example./x", "http://h.example/x"),
    # path machinery: dup slashes, ".", "x/..", root "..", empty path
    ("http://h.example//a///b", "http://h.example/a/b"),
    ("http://h.example/a/./b/.", "http://h.example/a/b/"),
    # ADJACENT dot segments: replaceAll consumes the shared '/' of each
    # pair, so a run must clear within the fixpoint loop, not a fixed
    # prelude (r14 review #1 — this false-fired the depth tripwire)
    ("http://h.example/a/././././b", "http://h.example/a/b"),
    ("http://h.example/" + "./" * 16 + "b", "http://h.example/b"),
    ("http://h.example/a/b/../c", "http://h.example/a/c"),
    ("http://h.example/a/b/c/../../../d", "http://h.example/d"),
    ("http://h.example/../a", "http://h.example/a"),
    ("http://h.example/a/..", "http://h.example/"),
    ("http://h.example", "http://h.example/"),
    # dot-ish SEGMENT NAMES survive (only "." / ".." resolve)
    ("http://h.example/.well-known/x", "http://h.example/.well-known/x"),
    ("http://h.example/a.b/..c/x", "http://h.example/a.b/..c/x"),
    # query: sort, drop tracking + empties, keep bare flags, drop "?" when emptied
    ("http://h.example/x?b=2&a=1", "http://h.example/x?a=1&b=2"),
    ("http://h.example/x?utm_source=s&utm_campaign=c&a=1", "http://h.example/x?a=1"),
    ("http://h.example/x?gclid=g", "http://h.example/x"),
    ("http://h.example/x?a=1&&b=2", "http://h.example/x?a=1&b=2"),
    ("http://h.example/x?flag&a=1", "http://h.example/x?a=1&flag"),
    # "utm" without underscore-family name is NOT a tracking param
    ("http://h.example/x?utm=1", "http://h.example/x?utm=1"),
    # fragment always dropped
    ("http://h.example/x?a=1#sec", "http://h.example/x?a=1"),
    ("http://h.example/#top", "http://h.example/"),
    # IPv6: brackets kept, default port dropped, other ports kept
    ("http://[2001:DB8::1]:80/x", "http://[2001:db8::1]/x"),
    ("https://[::1]:8443/x", "https://[::1]:8443/x"),
    # whitespace-contaminated input (the url_trim class)
    ("  http://h.example/x\n", "http://h.example/x"),
    # non-URLs → NULL
    ("not a url", None),
    ("", None),
    ("//protocol-relative.example/x", None),
]


def test_hand_cases(spark):
    from unravelsports_spark.operators.urlnorm import with_canonical_url

    df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
    got = {
        r["url"]: r["url_canonical"]
        for r in with_canonical_url(df).collect()
    }
    for u, want in CASES:
        assert got[u] == want, (u, want, got[u])


def test_pathological_nesting_trips_loud(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    from unravelsports_spark.operators.urlnorm import with_canonical_url

    deep = "http://h.example/" + "a/" * 12 + "../" * 12 + "x"
    df = spark.createDataFrame([(deep,)], "url string")
    with pytest.raises((PySparkException, Py4JJavaError), match="dot segments deeper"):
        with_canonical_url(df).collect()


def test_query_carrying_dot_segments_does_not_trip(spark):
    """A query param whose VALUE contains '/../' is legit content — the
    resolution tripwire reads the path only."""
    from unravelsports_spark.operators.urlnorm import with_canonical_url

    df = spark.createDataFrame(
        [("http://h.example/x?next=/a/../b",)], "url string"
    )
    got = with_canonical_url(df).collect()[0]["url_canonical"]
    assert got == "http://h.example/x?next=/a/../b"


def test_out_col_collision_raises(spark):
    from unravelsports_spark.operators.urlnorm import with_canonical_url

    df = spark.createDataFrame([("http://h/x", "y")], "url string, url_canonical string")
    with pytest.raises(ValueError, match="already a column"):
        with_canonical_url(df)


def test_pure_projection_plan(spark):
    """Canonicalization must stay a zero-shuffle projection — regex/array
    built-ins only, no Exchange, no Python UDF (the pii_scrub guard
    shape)."""
    from unravelsports_spark.operators.urlnorm import with_canonical_url
    from unravelsports_spark.session import read_table

    docs = read_table(spark, SF_CORRECT, "documents")
    urls = docs.select(
        F.concat(F.lit("http://"), "source", F.lit(".example/d"), "doc_id").alias("url")
    )
    plan = with_canonical_url(urls)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_custom_strip_params(spark):
    from unravelsports_spark.operators.urlnorm import url_canonicalize

    df = spark.createDataFrame(
        [("http://h.example/x?sid=1&a=2",)], "url string"
    )
    got = df.select(
        url_canonicalize(F.col("url"), strip_params=("sid",)).alias("c")
    ).collect()[0]["c"]
    assert got == "http://h.example/x?a=2"


SURT_CASES = [
    # canonicalization composes in: shouty spelling, default port, tracking
    ("HTTP://News.Example.COM:80/a/b?b=2&a=1&utm_source=s",
     "com,example,news)/a/b?a=1&b=2"),
    # non-default port rides the reversed host (the Heritrix convention)
    ("https://news.example.com:8443/x", "com,example,news:8443)/x"),
    # empty path keys as ")/"
    ("http://example.com", "com,example)/"),
    # IPv6: bracketed authority is NOT label-reversed
    ("http://[2001:db8::1]/x", "[2001:db8::1])/x"),
    ("http://[2001:db8::1]:8080/x", "[2001:db8::1]:8080)/x"),
    # non-URL -> NULL
    ("no scheme here", None),
]


def test_surt_hand_cases(spark):
    from unravelsports_spark.operators.urlnorm import surt_key

    df = spark.createDataFrame([(u,) for u, _ in SURT_CASES], "url string")
    got = {r["url"]: r["surt"] for r in df.withColumn("surt", surt_key(F.col("url"))).collect()}
    for u, want in SURT_CASES:
        assert got[u] == want, (u, want, got[u])


def test_surt_prefix_locality(spark):
    """The layout property the key exists for: every subdomain of one
    registrable domain shares a byte prefix, so a byte-ordered range
    partitioning co-locates the site subtree."""
    from unravelsports_spark.operators.urlnorm import surt_key

    urls = [
        "http://a.example.com/1", "http://b.a.example.com/2",
        "http://example.com/3", "http://example.org/x",
        "http://other.net/y",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    keys = sorted(r["surt"] for r in df.withColumn("surt", surt_key(F.col("url"))).collect())
    com = [k for k in keys if k.startswith("com,example")]
    assert len(com) == 3
    # byte order clusters them contiguously
    i = keys.index(com[0])
    assert keys[i:i + 3] == com


def test_surt_zero_shuffle_plan(spark):
    from unravelsports_spark.operators.urlnorm import surt_key
    from unravelsports_spark.session import read_table

    docs = read_table(spark, SF_CORRECT, "documents")
    urls = docs.select(
        F.concat(F.lit("http://"), "source", F.lit(".example/d"), "doc_id").alias("url")
    )
    plan = urls.withColumn("surt", surt_key(F.col("url")))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
