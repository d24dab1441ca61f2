"""Robots Exclusion Protocol filtering (engine addition §2.12; built round
13, driver registration queued r14 as `t_robots_filter`) — the
crawl-compliance stage VERDICT r12 named as the largest remaining
crawl-adjacent gap: before a crawl's pages enter a training corpus, a
pipeline drops URLs the site's robots.txt disallows for the crawling
agent. RFC 9309 semantics:

- a robots.txt body is a sequence of GROUPS: one or more ``User-agent:``
  lines followed by ``Allow:`` / ``Disallow:`` rules; rules before the
  first User-agent line belong to no group and are ignored; consecutive
  User-agent lines (with no rules between) share the following rules;
  multiple groups for the same agent MERGE (RFC 9309 §2.2.1).
- group selection: if any group names the crawler's product token
  (case-insensitive equality), exactly those groups apply and ``*``
  groups are ignored; otherwise the ``*`` groups apply; a domain with
  neither allows everything (RFC 9309 §2.2.1).
- rule matching: the pattern matches from the START of the URL's
  path-plus-query; ``*`` matches any run of characters, a trailing ``$``
  anchors the end (RFC 9309 §2.2.3). The MOST-OCTETS matching rule wins;
  on a tie allow wins (§2.2.2). An empty rule value matches nothing
  (the conventional ``Disallow:`` = allow-all). No matching rule →
  allowed.

Spark-first shape (pure Catalyst end to end — certifiable):
- :func:`parse_robots` — line explode + ONE domain-partitioned window
  pass for group tracking (a running sum over group-boundary flags — the
  sessionize idiom), domain-sized joins for agent→group selection. The
  robots table is domain-sized (one body per host), so every frame here
  is tiny next to the URL corpus.
- rule patterns compile to a Java/RE2-PORTABLE regex subset (every
  metachar escaped in one pass, then ``*`` → ``.*`` and a trailing
  escaped ``$`` re-anchored — the scrub_pii portability discipline), so
  the DuckDB oracle runs the IDENTICAL expressions.
- :func:`robots_filter` — verdicts are computed per DISTINCT
  (domain, path?query) key, NOT per corpus row: distinct keys join the
  rule table on domain (fan-out bounded by rules-per-domain, typically
  tens), one lexicographic ``max(struct(octets, allow))`` picks the
  winning rule per key, and the tiny verdict frame joins back. At 100 TB
  the corpus shuffles ONCE on the key join; everything rule-sided stays
  domain-sized (broadcastable when the crawl covers few hosts).

Deliberate simplifications (documented contract): agent matching is
case-insensitive token EQUALITY (no prefix product-token matching);
percent-encoding is NOT normalized (compare consistently-encoded URLs —
pair with with_url_parts/textnorm upstream); only Allow/Disallow
directives are consumed (Sitemap/Crawl-delay ignored, as RFC 9309 allows);
the host's robots govern every port of that host (userinfo/port stripped
at matching — the conservative reading of per-authority compliance).

PRECONDITION (enforced loud): at most one robots row per CANONICAL host —
two rows resolving to the same host (identical spelling, case variants,
CSV-tail whitespace, port variants) mean a broken fetch join, and their
conflicting bodies must never silently merge into a rule set neither
origin published (r13 review pass 10: a spelling-keyed tripwire let
exactly the real-world duplicate shapes bypass it). A host has exactly
one /robots.txt; dedupe upstream. Rows whose key canonicalizes to the
EMPTY host are ungovernable garbage and are dropped before the check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: regex metacharacters escaped in ONE left-to-right pass — ``*`` is
#: deliberately NOT in the class (it becomes ``.*``), ``$`` IS (a trailing
#: escaped ``$`` is re-anchored afterwards). Portable: the same chain runs
#: verbatim in DuckDB (RE2) and Spark (java.util.regex).
_ESCAPE_CLASS = r"([.^$+?(){}\[\]|\\])"


def pattern_to_regex(col):
    """REP path pattern → anchored-later regex (portable subset): escape
    every metachar once, ``*`` → ``.*``, trailing ``\\$`` → ``$``."""
    esc = F.regexp_replace(col, _ESCAPE_CLASS, r"\\$1")
    star = F.regexp_replace(esc, r"\*", ".*")
    # replacement '$' must itself be escaped — bare '$' in a Java
    # replacement string is a group reference (found live: IllegalArgument
    # "Illegal group reference")
    return F.regexp_replace(star, r"\\\$$", r"\$")


def _robots_directives(
    robots: DataFrame, domain_col: str, text_col: str
) -> DataFrame:
    """Shared robots.txt ingestion (r14 code motion — byte-identical to
    the chain parse_robots carried inline): canonical-host keying with
    the empty-host drop + one-robots-per-host tripwire, line explode,
    comment strip, and (directive, value) extraction. parse_robots
    consumes the group/rule subset."""
    from . import precondition_filter, require_new_column
    from .filtering import canonical_host

    for col in ("_canon", "_rbn"):
        require_new_column(robots, col)
    # rows whose key canonicalizes to the EMPTY host ('.', 'user@', an
    # unclosed bracket, NULL) carry no governable host and are dropped
    # FIRST — explicitly before the duplicate tripwire, not left to
    # filter-pushdown ordering (r13 review pass 8 #2 + pass 9 #2): such a
    # key would otherwise join every malformed-URL row's empty-host
    # sentinel and flip the documented allow-by-default contract for
    # non-URLs, and duplicate garbage keys must be dropped as
    # ungovernable rather than trip the one-robots-per-host error.
    # canonical host materialized ONCE (pass 12 #2: three independently
    # constructed chains — filter, window key, select — had to stay
    # identical by convention, the documented divergence class)
    robots = robots.withColumn("_canon", canonical_host(F.col(domain_col)))
    robots = robots.where(F.length("_canon") > 0)
    # the one-row-per-HOST precondition is ENFORCED (r13 review pass 7 #2
    # + pass 10: the package convention is fail LOUD at call time, and a
    # spelling-keyed count let the real-world duplicate shapes — case
    # variants, CSV-tail whitespace, port variants — silently merge
    # conflicting bodies into a rule set neither origin published). The
    # count window keys on the CANONICAL host; the shared filter-tripwire
    # shape (precondition_filter); the robots frame is domain-sized, so
    # the window is cheap.
    robots = precondition_filter(
        robots.withColumn(
            "_rbn", F.count("*").over(Window.partitionBy("_canon"))
        ),
        F.col("_rbn") == 1,
        "robots ingestion precondition (parse_robots): "
        "multiple robots rows resolve to one canonical host — a host has "
        "exactly ONE /robots.txt; dedupe the fetch join upstream",
    ).drop("_rbn")
    lines = robots.select(
        F.col("_canon").alias("domain"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    # strip comments + whitespace; directives are case-insensitive.
    # The whitespace class is spelled via PORTABLE_WS, not \s (ADVICE r13
    # #4): Java's \s includes U+000B but RE2's does not, and the r14 SQL
    # certification runs this chain verbatim in DuckDB — the rest of the
    # crawl modules single-source the class for exactly this identity.
    from . import PORTABLE_WS as _WS

    body = F.trim(F.regexp_replace(F.col("_line"), "#.*$", ""))
    return lines.select(
        "domain",
        "_pos",
        F.lower(
            F.trim(F.regexp_extract(body, f"^([A-Za-z-]+)[{_WS}]*:", 1))
        ).alias("_dir"),
        F.trim(
            F.regexp_extract(body, f"^[A-Za-z-]+[{_WS}]*:(.*)$", 1)
        ).alias("_val"),
    )


def parse_robots(
    robots: DataFrame,
    agent: str,
    domain_col: str = "domain",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Parse one robots.txt body per domain into the rule table the
    filter consumes: (domain, allow boolean, pattern, octets, rx).

    Group tracking is ONE window pass per domain: a group starts at a
    User-agent line whose predecessor is not one (lag) or at the body's
    first line, the running sum of starts is the group id; rules before
    the first User-agent line form an AGENTLESS group that never joins an
    agent row — the RFC's ignore-orphan-rules behavior (pass 4 #1
    reworked this from the earlier id-0 convention). Agent→group
    selection is two domain-sized semi/anti joins (specific groups
    suppress ``*`` groups per RFC).

    The domain canonicalizes AT INGESTION (r13 review pass 3: lowering
    only the output column applied the spec/star group selection per
    spelling, so a '*' group from 'd.example' leaked into 'D.example'
    even though its specific-agent group should suppress it); since pass
    10 any two rows resolving to one canonical host fail the duplicate
    tripwire loud instead of merging.

    Ingestion (canonical host, empty-host drop, duplicate tripwire, line
    explode, comment strip, directive extraction) lives in
    :func:`_robots_directives` since r14."""
    parsed = _robots_directives(robots, domain_col, text_col)
    # blank lines, comment-only lines, and unrecognized directives
    # (Sitemap, Crawl-delay, …) are dropped BEFORE the adjacency window
    # (r13 review #1): the RFC 9309 ABNF allows emptyline between
    # consecutive startgrouplines, and crawlers MUST ignore unrecognized
    # lines — keeping them in the frame made a blank line between two
    # User-agent lines split the group, silently severing the first
    # agent from its rules.
    parsed = parsed.where(
        F.col("_dir").isin("user-agent", "allow", "disallow")
    )
    w = Window.partitionBy("domain").orderBy("_pos")
    is_ua = F.col("_dir") == "user-agent"
    # the body's first surviving row always starts a fresh group (r13
    # review pass 4 #1), so a body-LEADING rule gets its own agentless
    # group, which never joins an agent row — exactly the RFC's
    # ignore-orphan-rules behavior. One body per canonical host is
    # tripwire-guaranteed since pass 10, so first-row detection is just
    # a NULL lag (pass 11 removed the dead _rawdom plumbing).
    boundary = F.lag("_pos").over(w).isNull()
    # no NULL-lag coalesce needed (pass 13): lag is NULL only on the
    # first row, where boundary is already True and the OR absorbs it
    starts = boundary | (is_ua & ~F.lag(is_ua).over(w))
    grouped = parsed.withColumn(
        "_grp", F.sum(starts.cast("int")).over(w)
    )
    agents = grouped.where(is_ua).select(
        "domain", "_grp", F.lower(F.col("_val")).alias("_agent")
    )
    spec = agents.where(F.col("_agent") == agent.lower()).select(
        "domain", "_grp"
    ).distinct()
    star = agents.where(F.col("_agent") == "*").select("domain", "_grp").distinct()
    # RFC 9309 §2.2.1: specific-agent groups suppress the * groups
    chosen = spec.unionByName(
        star.join(spec.select("domain").distinct(), "domain", "left_anti")
    )
    rules = (
        grouped.where(F.col("_dir").isin("allow", "disallow"))
        .where(F.length("_val") > 0)  # empty value matches nothing
        .join(chosen, ["domain", "_grp"])
        .select(
            # domain already lowered at ingestion — matches the lowered
            # URL host (r13 review pass 2 #3: a robots row keyed
            # 'D.example' was silently ignored and its host became
            # allow-all; pass 3 moved the lower() from here to the scan)
            "domain",
            (F.col("_dir") == "allow").alias("allow"),
            F.col("_val").alias("pattern"),
            # RFC 9309 §2.2.2 precedence counts OCTETS, not characters
            # (pass 2 #4: F.length picked 'Disallow: /data12' (7 chars)
            # over 'Allow: /データ' (10 UTF-8 octets, 4 chars))
            F.octet_length("_val").alias("octets"),
            F.concat(F.lit("^"), pattern_to_regex(F.col("_val"))).alias("rx"),
        )
    )
    return rules


def robots_verdicts(keys: DataFrame, rules: DataFrame) -> DataFrame:
    """Per-(domain, pathq) verdict: longest matching rule wins, allow wins
    octet ties, no match → allowed. ``keys`` must be DISTINCT (domain,
    pathq) rows; the lexicographic max(struct(octets, allow)) IS the RFC
    §2.2.2 precedence."""
    j = keys.join(rules, "domain", "left")
    hit = F.col("rx").isNotNull() & F.expr("pathq rlike rx")
    best = F.max(
        F.when(hit, F.struct(F.col("octets"), F.col("allow")))
    ).alias("_best")
    return (
        j.groupBy("domain", "pathq")
        .agg(best)
        .select(
            "domain",
            "pathq",
            F.coalesce(F.col("_best.allow"), F.lit(True)).alias("robots_allowed"),
        )
    )


def robots_filter(
    urls: DataFrame,
    robots: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    mode: str = "annotate",
) -> DataFrame:
    """Annotate (or filter) a URL frame against per-domain robots.txt
    bodies for ``agent``. ``robots`` columns: (domain, robots_txt).

    ``mode="annotate"`` appends ``robots_allowed``; ``mode="filter"``
    keeps only allowed rows (columns unchanged). Verdicts are computed
    per DISTINCT (domain, path?query) and joined back, so the corpus
    never fans out against the rule table.

    NULL / malformed URL contract (r13 review #3): a NULL url row has no
    domain to consult — annotate keeps the row with ``robots_allowed``
    NULL (unknown, never silently dropped); filter drops it (compliance
    cannot be verified). A non-URL string extracts an EMPTY host, which
    matches no robots row → allowed (no robots to consult) — pair with a
    URL-validity filter upstream when that matters."""
    from . import require_new_column
    from .filtering import URL_PATHQ_RE, url_canonical_host, url_trim

    if mode not in ("annotate", "filter"):
        raise ValueError(f"mode must be 'annotate' or 'filter', got {mode!r}")
    for col in ("robots_allowed", "_rb_domain", "_rb_pathq",
                "_rbv_domain", "_rbv_pathq"):
        require_new_column(urls, col)
    # the SHARED trim + host-identity composition (filtering.py:
    # url_trim / url_canonical_host — hoisted in pass 14 when frontier
    # became the second consumer; a hand-rolled copy is the divergence
    # class the r12/r13 reviews removed twice). It trims whitespace
    # (pass 12: ' http://d.example/x' failed the ^-anchored extraction →
    # empty host → allow-all) and reduces the authority to its DNS
    # identity (userinfo / port incl. empty / FQDN root dot / IPv6
    # brackets — pass 4 #3, pass 5 #1/#2, pass 6: each unstripped variant
    # made its URLs allow-all; RFC 9309 keys compliance to the host — we
    # apply the host's robots to every port, the conservative reading).
    # The certified with_url_parts 'domain' is deliberately untouched.
    c = url_trim(F.col(url_col))
    host = url_canonical_host(F.col(url_col))
    # REP matches path PLUS query (fragment never reaches the server);
    # an empty or missing path normalizes to '/' INCLUDING when a query
    # follows directly (r13 review pass 2 #2: 'http://host?x=1' matched
    # rules against '?x=1', so 'Disallow: /' leaked it through)
    pathq = F.regexp_extract(c, URL_PATHQ_RE, 1)
    pathq = F.when(pathq.startswith("/"), pathq).otherwise(
        F.concat(F.lit("/"), pathq)
    )
    u = urls.withColumn("_rb_domain", host).withColumn("_rb_pathq", pathq)
    keys = u.select(
        F.col("_rb_domain").alias("domain"), F.col("_rb_pathq").alias("pathq")
    ).distinct()
    rules = parse_robots(robots, agent=agent)
    # verdict keys ride under _rbv_ aliases so the post-join drop can
    # never delete a CALLER column named 'domain'/'pathq' (pass 2 #1 —
    # with_url_parts output, which the docstring recommends upstream,
    # carries exactly such a 'domain' column)
    verd = robots_verdicts(keys, rules).select(
        F.col("domain").alias("_rbv_domain"),
        F.col("pathq").alias("_rbv_pathq"),
        "robots_allowed",
    )
    # LEFT join (r13 review #3): a NULL url yields NULL keys, which an
    # inner join silently dropped even in annotate mode — NULL-key rows
    # must survive with a NULL verdict
    out = u.join(
        verd,
        (F.col("_rb_domain") == F.col("_rbv_domain"))
        & (F.col("_rb_pathq") == F.col("_rbv_pathq")),
        "left",
    ).drop("_rbv_domain", "_rbv_pathq")
    if mode == "filter":
        return out.where("robots_allowed").drop(
            "robots_allowed", "_rb_domain", "_rb_pathq"
        )
    return out.drop("_rb_domain", "_rb_pathq")
