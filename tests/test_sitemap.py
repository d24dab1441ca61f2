"""Sitemap ingestion (operators/sitemap.py) — built round 13, REGISTERED
round 14 as `t_sitemap_extract`. The canonical oracle SQL and query shape
now live in plans/crawl.py; this suite imports them, so twin and oracle cannot drift. The oracle is
CLOSED-FORM (the robots style): it re-derives locs/lastmods from the same
synthesis arithmetic rather than re-running the parser, so a parser bug
cannot hide in both engines; engine behavior of the regex patterns
themselves is pinned by the hand-case battery below."""

from pyspark.sql import functions as F

from unravelsports_spark.plans.crawl import (
    SITEMAP_SQL,
    t_sitemap_extract as _sitemap_query,
)

from .conftest import SF_CORRECT


def test_sitemap_extract_matches_duckdb(spark, duck):
    got = sorted(map(tuple, _sitemap_query(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(SITEMAP_SQL).fetchall()))
    assert got == want and len(got) == 20


def test_urlset_and_index_hand_cases(spark):
    """Semantics pinned: urlset vs sitemapindex kind detection; loc
    entity decode (incl. the &amp;lt; single-level edge); lastmod pairing
    per entry (absent → NULL); attributes on entry tags; whitespace
    inside loc; entries without loc dropped; <urlset> never swallowed as
    a <url> block; CRLF documents."""
    from unravelsports_spark.operators.sitemap import parse_sitemaps

    urlset = (
        '<?xml version="1.0"?>\r\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\r\n'
        "  <url><loc>http://a.example/x?q=1&amp;r=2</loc>"
        "<lastmod>2026-01-02</lastmod></url>\r\n"
        '  <url priority="0.5">\r\n    <loc>\r\n http://a.example/amp&amp;lt;'
        "\r\n</loc>\r\n  </url>\r\n"
        "  <url><lastmod>2026-01-03</lastmod></url>\r\n"  # no loc: dropped
        "</urlset>\r\n"
    )
    index = (
        "<sitemapindex>"
        "<sitemap><loc>http://b.example/s1.xml</loc></sitemap>"
        "<sitemap><loc>http://b.example/s2.xml</loc>"
        "<lastmod>2025-12-31</lastmod></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("a.example", urlset), ("b.example", index)],
        "domain string, sitemap_xml string",
    )
    rows = parse_sitemaps(df).collect()
    got = {(r["domain"], r["loc"]): (r["kind"], r["lastmod"]) for r in rows}
    assert got == {
        ("a.example", "http://a.example/x?q=1&r=2"): ("urlset", "2026-01-02"),
        # single-level decode: &amp;lt; → &lt;, never <
        ("a.example", "http://a.example/amp&lt;"): ("urlset", None),
        ("b.example", "http://b.example/s1.xml"): ("index", None),
        ("b.example", "http://b.example/s2.xml"): ("index", "2025-12-31"),
    }
    # entry order is preserved via pos
    a_rows = sorted((r["pos"], r["loc"]) for r in rows if r["domain"] == "a.example")
    assert [p for p, _ in a_rows] == [0, 1]


def test_sitemap_feeds_frontier_composition(spark):
    """The crawl-planning triad composes: sitemap discovery → robots
    compliance → frontier scheduling, all pure Catalyst."""
    from unravelsports_spark.operators.frontier import frontier_plan
    from unravelsports_spark.operators.robots import robots_filter
    from unravelsports_spark.operators.sitemap import parse_sitemaps

    xml = (
        "<urlset>"
        + "".join(
            f"<url><loc>http://c.example/p{i}</loc></url>" for i in range(8)
        )
        + "<url><loc>http://c.example/private/secret</loc></url></urlset>"
    )
    sitemaps = spark.createDataFrame(
        [("c.example", xml)], "domain string, sitemap_xml string"
    )
    robots = spark.createDataFrame(
        [("c.example", "User-agent: *\nDisallow: /private\n")],
        "domain string, robots_txt string",
    )
    discovered = parse_sitemaps(sitemaps).select(F.col("loc").alias("url"))
    allowed = robots_filter(discovered, robots, mode="filter")
    planned = frontier_plan(allowed, per_host_limit=4)
    rows = planned.collect()
    assert len(rows) == 8  # the disallowed loc never reaches the frontier
    assert {r["wave"] for r in rows} == {0, 1}
    assert all(r["slot"] < 4 and r["host"] == "c.example" for r in rows)


def test_sitemap_plan_shape(spark):
    """Pure projection + one explode: no shuffle, no join in the parse
    itself (the rollup's exchange is the query's, not the parser's)."""
    from unravelsports_spark.operators.sitemap import parse_sitemaps

    df = spark.createDataFrame(
        [("d.example", "<urlset><url><loc>http://d.example/</loc></url></urlset>")],
        "domain string, sitemap_xml string",
    )
    plan = (
        parse_sitemaps(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert "Generate" in plan  # the one posexplode


def test_comment_cannot_flip_classification(spark):
    """r13 review pin: a '<sitemapindex>' inside an XML comment must not
    reclassify a urlset (which silently dropped every <url> entry) —
    comments strip before classification and extraction, and a commented-
    out <url> block is likewise ignored."""
    from unravelsports_spark.operators.sitemap import parse_sitemaps

    xml = (
        "<!-- <sitemapindex> format retired 2020 -->\n"
        "<urlset>\n"
        "<!-- <url><loc>http://e.example/ghost</loc></url> -->\n"
        "<url><loc>http://e.example/real</loc></url>\n"
        "</urlset>"
    )
    df = spark.createDataFrame(
        [("e.example", xml)], "domain string, sitemap_xml string"
    )
    rows = parse_sitemaps(df).collect()
    assert [(r["kind"], r["loc"]) for r in rows] == [
        ("urlset", "http://e.example/real")
    ]


def test_namespace_prefixed_tags_match_local_name(spark):
    """r13 review pass 18 #1 pin: ElementTree-style prefixed serialization
    ('<ns0:url><ns0:loc>…') parses by local name, per the documented
    contract — the unprefixed patterns returned zero rows."""
    from unravelsports_spark.operators.sitemap import parse_sitemaps

    xml = (
        '<ns0:urlset xmlns:ns0="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<ns0:url><ns0:loc>http://n.example/a</ns0:loc>"
        "<ns0:lastmod>2026-02-03</ns0:lastmod></ns0:url>"
        "</ns0:urlset>"
    )
    idx = (
        "<x:sitemapindex><x:sitemap><x:loc>http://n.example/s.xml</x:loc>"
        "</x:sitemap></x:sitemapindex>"
    )
    df = spark.createDataFrame(
        [("n.example", xml), ("m.example", idx)],
        "domain string, sitemap_xml string",
    )
    got = {(r["domain"], r["loc"]): (r["kind"], r["lastmod"])
           for r in parse_sitemaps(df).collect()}
    assert got == {
        ("n.example", "http://n.example/a"): ("urlset", "2026-02-03"),
        ("m.example", "http://n.example/s.xml"): ("index", None),
    }


def test_unterminated_comment_is_dead_text(spark):
    """r13 review pass 21 #1 pin: an UNCLOSED comment (truncated fetch)
    runs to EOF — commented '<sitemapindex' must not flip classification,
    and entries after the unterminated open are dead text; entries BEFORE
    it still parse."""
    from unravelsports_spark.operators.sitemap import parse_sitemaps

    xml = (
        "<urlset><url><loc>http://f.example/keep</loc></url>\n"
        "<!-- <sitemapindex> retired, comment never closed\n"
        "<url><loc>http://f.example/ghost</loc></url></urlset>"
    )
    df = spark.createDataFrame(
        [("f.example", xml)], "domain string, sitemap_xml string"
    )
    rows = parse_sitemaps(df).collect()
    assert [(r["kind"], r["loc"]) for r in rows] == [
        ("urlset", "http://f.example/keep")
    ]


def test_comment_inside_loc_and_null_doc(spark):
    """r13 review pass 22 pins: (1) a comment INSIDE <loc> strips to ''
    (a space would corrupt the URL — XML-value semantics, diverging
    deliberately from htmltext's prose discipline); (2) a NULL document
    yields zero entries, per the documented extractor contract."""
    from unravelsports_spark.operators.sitemap import parse_sitemaps

    df = spark.createDataFrame(
        [("g.example",
          "<urlset><url><loc>http://g.example/x<!--y-->z</loc></url></urlset>"),
         ("h.example", None)],
        "domain string, sitemap_xml string",
    )
    rows = parse_sitemaps(df).collect()
    assert [(r["domain"], r["loc"]) for r in rows] == [
        ("g.example", "http://g.example/xz")
    ]
