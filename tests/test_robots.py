"""Robots Exclusion Protocol filtering (operators/robots.py) — built round
13, REGISTERED round 14 as `t_robots_filter`. The canonical oracle SQL and
query shape now live in plans/corpus10.py (the corpus7/8/9 registration
discipline); this suite imports them, so twin and oracle cannot drift.

The oracle is CLOSED-FORM (the t_closeness hand-example style, certifiable
at any scale): the robots bodies are synthesized per source in the query,
so DuckDB states the hand-derived verdict table directly instead of
re-implementing the parser — a parser bug cannot hide in both engines."""

from pyspark.sql import functions as F

from unravelsports_spark.plans.corpus10 import (
    ROBOTS_FILTER_SQL,
    t_robots_filter as _robots_query,
)

from .conftest import SF_CORRECT


def test_robots_filter_matches_duckdb(spark, duck):
    got = sorted(map(tuple, _robots_query(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(ROBOTS_FILTER_SQL).fetchall()))
    assert got == want and len(got) == 20
    # the filter must genuinely discriminate: some sources fully allowed,
    # some partially blocked — an all-allowed run certifies nothing
    assert {n_urls == n_allowed for _, n_urls, n_allowed, _ in got} == {True, False}


def test_rfc_semantics_hand_cases(spark):
    """RFC 9309 semantics pinned one by one: group merge, specific-agent
    suppression of *, longest-match precedence, allow-wins-octet-ties,
    $ anchor, * wildcard, empty Disallow, rules before the first
    User-agent ignored, consecutive User-agent lines sharing rules,
    case-insensitive directives/agent, comment stripping, query-string
    matching, no-robots and no-matching-group domains allowed."""
    from unravelsports_spark.operators.robots import robots_filter

    body = (
        "Disallow: /orphan\n"            # before any UA: ignored
        "User-Agent: TrainBot\n"         # case-insensitive name + agent
        "user-agent: otherbot\n"         # consecutive UA lines share rules
        "Disallow: /a # trailing comment\n"
        "Allow: /a$\n"                   # same octets as /a after strip? no: 3 vs 2 — longest wins
        "Disallow: /dl/*.zip$\n"
        "Disallow: /q?x=\n"              # query-string matching
        "\n"
        "User-agent: trainbot\n"         # second group, same agent: MERGES
        "Allow: /a/open\n"
        "Disallow:\n"                    # empty value: matches nothing
        "User-agent: *\n"
        "Disallow: /\n"                  # must be IGNORED for trainbot
    )
    urls = [
        ("http://d.example/a", True),           # Allow /a$ (3) beats Disallow /a (2)
        ("http://d.example/a/open/x", True),    # Allow /a/open (7) > Disallow /a (2)
        ("http://d.example/ab", False),         # /a prefix matches /ab
        ("http://d.example/b", True),           # no rule (star group suppressed)
        ("http://d.example/dl/f.zip", False),   # * and $ both engage
        ("http://d.example/dl/f.zipx", True),   # $ anchor prevents match
        ("http://d.example/q?x=1", False),      # pattern matches path?query
        ("http://d.example/q?y=1", True),
        ("http://nobots.example/a", True),      # no robots row
        ("http://empty.example/a", True),       # robots row, no matching group
    ]
    df = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    robots = spark.createDataFrame(
        [("d.example", body),
         ("empty.example", "User-agent: elsebot\nDisallow: /\n")],
        "domain string, robots_txt string",
    )
    got = {
        r["url"]: r["robots_allowed"]
        for r in robots_filter(df, robots, agent="trainbot").collect()
    }
    for u, want in urls:
        assert got[u] is want, (u, want, got[u])


def test_allow_wins_true_octet_tie(spark):
    from unravelsports_spark.operators.robots import robots_filter

    body = "User-agent: *\nDisallow: /tie\nAllow: /tie\n"
    df = spark.createDataFrame([("http://t.example/tie/x",)], "url string")
    robots = spark.createDataFrame(
        [("t.example", body)], "domain string, robots_txt string"
    )
    row = robots_filter(df, robots).collect()[0]
    assert row["robots_allowed"] is True  # equal octets → allow wins


def test_mode_filter_and_collision_guard(spark):
    import pytest

    from unravelsports_spark.operators.robots import robots_filter

    df = spark.createDataFrame(
        [("http://d.example/keep",), ("http://d.example/drop/x",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [("d.example", "User-agent: *\nDisallow: /drop\n")],
        "domain string, robots_txt string",
    )
    kept = robots_filter(df, robots, mode="filter").collect()
    assert [r["url"] for r in kept] == ["http://d.example/keep"]
    assert kept[0].asDict().keys() == {"url"}  # columns unchanged
    with pytest.raises(ValueError):
        robots_filter(df, robots, mode="nuke")
    with pytest.raises(ValueError):
        robots_filter(df.withColumn("robots_allowed", F.lit(True)), robots)


def test_robots_plan_shape(spark):
    """Scale shape: verdicts per DISTINCT key joined back (the corpus
    never fans out against the rule table); no cartesian anywhere; the
    rule-side frames are domain-sized."""
    plan = (
        _robots_query(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blank_and_unknown_lines_do_not_split_ua_cluster(spark):
    """r13 review #1 pin: the RFC 9309 ABNF allows empty lines between
    consecutive User-agent lines, and unrecognized directives (Sitemap,
    Crawl-delay) MUST be ignored — neither may sever an agent from the
    group's rules (the lag-based group tracking used to start a new group
    at the second UA line, leaving the first agent an EMPTY group that
    also suppressed the * fallback)."""
    from unravelsports_spark.operators.robots import robots_filter

    body = (
        "User-agent: trainbot\n"
        "\n"                               # blank line inside the cluster
        "# interleaved comment\n"
        "User-agent: otherbot\n"
        "Crawl-delay: 10\n"                # unknown directive: ignored
        "Disallow: /x\n"
        "Sitemap: http://d.example/s.xml\n"
    )
    df = spark.createDataFrame(
        [("http://d.example/x/1",), ("http://d.example/y",)], "url string"
    )
    robots = spark.createDataFrame(
        [("d.example", body)], "domain string, robots_txt string"
    )
    got = {
        r["url"]: r["robots_allowed"]
        for r in robots_filter(df, robots, agent="trainbot").collect()
    }
    assert got == {"http://d.example/x/1": False, "http://d.example/y": True}


def test_null_url_survives_annotate_mode(spark):
    """r13 review #3 pin: a NULL url row is annotated with a NULL verdict
    (never silently dropped); filter mode drops it."""
    from unravelsports_spark.operators.robots import robots_filter

    df = spark.createDataFrame(
        [("http://d.example/ok",), (None,)], "url string"
    )
    robots = spark.createDataFrame(
        [("d.example", "User-agent: *\nDisallow: /drop\n")],
        "domain string, robots_txt string",
    )
    rows = robots_filter(df, robots).collect()
    assert len(rows) == 2
    got = {r["url"]: r["robots_allowed"] for r in rows}
    assert got["http://d.example/ok"] is True and got[None] is None
    kept = robots_filter(df, robots, mode="filter").collect()
    assert [r["url"] for r in kept] == ["http://d.example/ok"]


def test_caller_domain_column_survives_annotate(spark):
    """r13 review pass 2 #1 pin: a caller frame already carrying a
    'domain' column (e.g. with_url_parts output, which the module
    docstring recommends upstream) keeps it — the verdict join's own keys
    ride under _rbv_ aliases, so the post-join drop cannot delete caller
    columns."""
    from unravelsports_spark.operators.filtering import with_url_parts
    from unravelsports_spark.operators.robots import robots_filter

    df = with_url_parts(
        spark.createDataFrame([("http://d.example/x/1",)], "url string")
    )
    robots = spark.createDataFrame(
        [("d.example", "User-agent: *\nDisallow: /x\n")],
        "domain string, robots_txt string",
    )
    row = robots_filter(df, robots).collect()[0]
    assert row["domain"] == "d.example" and row["url_norm"] is not None
    assert row["robots_allowed"] is False


def test_empty_path_with_query_normalizes_to_slash(spark):
    """r13 review pass 2 #2 pin: 'http://host?x=1' has an empty path but a
    query — RFC matches against '/?x=1', so 'Disallow: /' must block it
    (the empty-only normalization let it leak through)."""
    from unravelsports_spark.operators.robots import robots_filter

    df = spark.createDataFrame(
        [("http://d.example?x=1",), ("http://d.example/?x=1",),
         ("http://d.example",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [("d.example", "User-agent: *\nDisallow: /\n")],
        "domain string, robots_txt string",
    )
    got = [r["robots_allowed"] for r in robots_filter(df, robots).collect()]
    assert got == [False, False, False]


def test_mixed_case_robots_domain_joins(spark):
    """r13 review pass 2 #3 pin: a robots row keyed 'D.example' must still
    govern http://D.example/ (hosts compare case-insensitively; both sides
    now lowered)."""
    from unravelsports_spark.operators.robots import robots_filter

    df = spark.createDataFrame([("http://D.example/x",)], "url string")
    robots = spark.createDataFrame(
        [("D.example", "User-agent: *\nDisallow: /x\n")],
        "domain string, robots_txt string",
    )
    assert robots_filter(df, robots).collect()[0]["robots_allowed"] is False


def test_precedence_counts_octets_not_characters(spark):
    """r13 review pass 2 #4 pin: RFC 9309 §2.2.2 precedence is
    most-OCTETS. First the agreeing case ('Allow: /データ' 10 octets beats
    'Disallow: /デー' 7 octets — char-length agrees), then the
    DISAGREEMENT case where char- and octet-length pick opposite rules
    ('/データ*' 5 chars / 11 octets vs '/*ータx$' 6 chars / 10 octets):
    char-length would block, the RFC octet rule allows."""
    from unravelsports_spark.operators.robots import robots_filter

    body = "User-agent: *\nAllow: /データ\nDisallow: /デー\n"
    df = spark.createDataFrame([("http://d.example/データx",)], "url string")
    robots = spark.createDataFrame(
        [("d.example", body)], "domain string, robots_txt string"
    )
    assert robots_filter(df, robots).collect()[0]["robots_allowed"] is True
    # the DISAGREEMENT case — char- and octet-length pick opposite rules:
    # Allow '/データ*' = 5 chars / 11 octets; Disallow '/*ータx$' = 6 chars /
    # 10 octets. Char-length picks the Disallow (6 > 5) → blocked;
    # RFC octet-length picks the Allow (11 > 10) → allowed.
    body2 = "User-agent: *\nAllow: /データ*\nDisallow: /*ータx$\n"
    df2 = spark.createDataFrame([("http://d.example/データx",)], "url string")
    robots2 = spark.createDataFrame(
        [("d.example", body2)], "domain string, robots_txt string"
    )
    assert robots_filter(df2, robots2).collect()[0]["robots_allowed"] is True


def test_multi_at_userinfo_and_ipv6_hosts(spark):
    """r13 review pass 6 pins: (1) userinfo strips to the LAST '@' — the
    'http://trusted@evil/' obfuscation shape must resolve to the real
    host, not 'pass@host'; (2) IPv6 authorities are bracket-aware — a
    robots row keyed '2001:db8::1' governs 'http://[2001:db8::1]:8080/'
    (a colon-blind port strip mangled the key to '2001:db8:' and made the
    host allow-all, while colliding distinct IPv6 hosts)."""
    from unravelsports_spark.operators.robots import robots_filter

    df = spark.createDataFrame(
        [("http://user@pass@d.example/private/x",),
         ("http://[2001:db8::1]:8080/private/y",),
         ("http://[2001:db8::1]/private/z",),
         ("http://[2001:db8::2]/private/w",)],  # DIFFERENT host: no rules
        "url string",
    )
    robots = spark.createDataFrame(
        [("d.example", "User-agent: *\nDisallow: /private\n"),
         ("2001:db8::1", "User-agent: *\nDisallow: /private\n")],
        "domain string, robots_txt string",
    )
    # keyed by url, NOT positional (r13 review pass 7 #1: join output
    # order is nondeterministic and this test's expectations are
    # heterogeneous — it flipped in 4 of the reviewer's 6 runs)
    got = {
        r["url"]: r["robots_allowed"]
        for r in robots_filter(df, robots).collect()
    }
    assert got == {
        "http://user@pass@d.example/private/x": False,
        "http://[2001:db8::1]:8080/private/y": False,
        "http://[2001:db8::1]/private/z": False,
        "http://[2001:db8::2]/private/w": True,  # DIFFERENT host: no rules
    }


def test_empty_canonical_robots_key_cannot_govern_non_urls(spark):
    """r13 review pass 8 #2 pin: a robots row whose key canonicalizes to
    the empty host ('.', 'user@', '[unclosed') is dropped — it would
    otherwise join every malformed-URL row's empty-host sentinel and flip
    the documented allow-by-default contract for non-URLs."""
    from unravelsports_spark.operators.robots import robots_filter

    df = spark.createDataFrame(
        [("not a url at all",), ("http://d.example/x",)], "url string"
    )
    robots = spark.createDataFrame(
        [(".", "User-agent: *\nDisallow: /\n"),
         ("user@", "User-agent: *\nDisallow: /\n"),
         ("d.example", "User-agent: *\nDisallow: /x\n")],
        "domain string, robots_txt string",
    )
    got = {
        r["url"]: r["robots_allowed"]
        for r in robots_filter(df, robots).collect()
    }
    assert got == {"not a url at all": True, "http://d.example/x": False}


def test_contaminated_robots_keys_still_govern(spark):
    """r13 review pass 9 pins: (1) a robots key contaminated with
    surrounding whitespace or pasted as a full URL still governs its host
    (canonical_host trims + strips scheme/path); (2) duplicate
    UNGOVERNABLE keys (NULL, '.') are dropped as garbage BEFORE the
    duplicate tripwire — explicitly ordered, not left to filter-pushdown
    — so they neither govern nor raise the one-robots-per-host error."""
    from unravelsports_spark.operators.robots import robots_filter

    df = spark.createDataFrame(
        [("http://a.example/private/x",), ("http://b.example/private/y",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [(" a.example\n", "User-agent: *\nDisallow: /private\n"),
         ("https://b.example/robots.txt", "User-agent: *\nDisallow: /private\n"),
         (None, "User-agent: *\nDisallow: /\n"),
         (None, "User-agent: *\nDisallow: /\n"),   # duplicate NULLs: dropped
         (".", "User-agent: *\nDisallow: /\n"),
         (".", "User-agent: *\nDisallow: /\n")],   # duplicate garbage: dropped
        "domain string, robots_txt string",
    )
    got = {
        r["url"]: r["robots_allowed"]
        for r in robots_filter(df, robots).collect()
    }
    assert got == {"http://a.example/private/x": False,
                   "http://b.example/private/y": False}


def test_whitespace_contaminated_url_still_governed(spark):
    """r13 review pass 12 pin: ' http://d.example/x' (leading space — CSV
    tail / concat artifact) must still resolve to d.example and be
    governed by its robots; the ^-anchored extraction on the raw string
    yielded an empty host and an allow-all leak."""
    from unravelsports_spark.operators.robots import robots_filter

    df = spark.createDataFrame(
        [(" http://d.example/private/x",), ("http://d.example/private/y\n",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [("d.example", "User-agent: *\nDisallow: /private\n")],
        "domain string, robots_txt string",
    )
    got = [r["robots_allowed"] for r in robots_filter(df, robots).collect()]
    assert got == [False, False]


def test_vertical_tab_before_colon_portable(spark):
    """ADVICE r13 #4 pin: a vertical tab (U+000B) between a directive
    name and ':' — Java's \\s includes it but RE2's does not, so the
    directive regexes now spell the class via PORTABLE_WS like the rest
    of the crawl modules. The line must parse as its directive (not be
    dropped as unrecognized, which would allow the URL)."""
    from unravelsports_spark.operators.robots import robots_filter

    body = "User-agent\x0b: trainbot\nDisallow\x0b: /vt\n"
    df = spark.createDataFrame(
        [("http://d.example/vt/x",), ("http://d.example/ok",)], "url string"
    )
    robots = spark.createDataFrame(
        [("d.example", body)], "domain string, robots_txt string"
    )
    got = {
        r["url"]: r["robots_allowed"]
        for r in robots_filter(df, robots, agent="trainbot").collect()
    }
    assert got == {"http://d.example/vt/x": False,
                   "http://d.example/ok": True}


def test_parse_robots_duplicate_host_tripwire(spark):
    """Two robots rows resolving to one canonical host fail loud instead
    of merging: a host has exactly one /robots.txt."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    from unravelsports_spark.operators.robots import parse_robots

    robots = spark.createDataFrame(
        [("d.example", "User-agent: *\nDisallow: /a\n"),
         ("D.EXAMPLE", "User-agent: *\nDisallow: /b\n")],
        "domain string, robots_txt string",
    )
    with pytest.raises((PySparkException, Py4JJavaError), match="ONE /robots.txt"):
        parse_robots(robots, "trainbot").collect()
