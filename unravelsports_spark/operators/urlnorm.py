"""URL canonicalization for crawl-scale dedup (engine addition §2.12;
built round 14, driver registration queued r15 as `t_url_canonicalize`) —
the identity stage between frontier planning and URL-level dedup: a crawl
sees the same resource spelled many ways (scheme/host case, default
ports, userinfo obfuscation, duplicate and dot path segments, shuffled
query params, tracking params, fragments), and every spelling that is not
collapsed becomes a duplicate fetch at crawl time and a duplicate
document at corpus time. ``with_url_parts``'s ``url_norm`` is the LIGHT
key (lowercase scheme+host, query dropped); this module is the full
canonicalizer for pipelines where the query string is load-bearing
(searchable archives, API-shaped URLs) and must be normalized rather
than discarded.

Canonical form produced by :func:`url_canonicalize`:

- scheme lowercased;
- authority: lowercased, userinfo stripped to the LAST ``@`` (the robots
  canonical_host lesson — WHATWG hosts follow the last ``@``), the root
  FQDN dot removed, the port dropped only when it is the scheme DEFAULT
  (http:80 / https:443) or RFC 3986's empty ``host:``. Unlike
  ``canonical_host`` (which strips EVERY port — robots compliance is
  per-host by contract), URL identity must keep ``host:8080`` distinct
  from ``host``: different origins serve different content;
- path: duplicate slashes collapsed, ``.`` and ``x/..`` segments removed
  (RFC 3986 §5.2.4 via bounded fixpoint — see below), empty path → ``/``;
- query: split on ``&``, empty params and TRACKING params dropped
  (``utm_*``, gclid, fbclid, msclkid, mc_eid, igshid — the widely
  published click-id set; extend via ``strip_params``), remaining params
  BYTE-SORTED so param order never splits an identity, rejoined; an
  emptied query drops its ``?``;
- fragment always dropped (never sent to the server).

Deliberate simplifications (documented contract, the robots style):
percent-encoding is NOT decoded or case-folded — compare
consistently-encoded URLs (pair with textnorm upstream); IDN hosts are
not punycoded (no codec in this environment); ``+``/space equivalence is
form-data semantics, not URL semantics, and is left alone.

Spark-first shape: one pure-Catalyst projection — regex/array built-ins
only, zero shuffles, zero UDFs, fully pushdown-transparent. The dot
segment fixpoint is a BOUNDED chain of ``regexp_replace`` (depth
``_DOT_ITERS``), which covers any real URL; a pathological
``a/../a/../…`` deeper than the bound fails LOUD through
``precondition_filter`` (never a silently wrong identity). Every regex is
the Java/RE2-portable subset — no lookahead (RE2 has none), explicit
whitespace classes — so a DuckDB oracle can run the identical chain.

At 100 TB: canonicalization is embarrassingly parallel (a projection);
the downstream dedup groupBy shuffles on the CANONICAL key, which is
exactly the point — spelling variants of one resource land in one
partition instead of surviving as distinct keys.

Ties to the reference: none (beyond-reference pipeline surface); the
single-source regex discipline follows operators/filtering.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .filtering import (
    URL_HOST_RE,
    URL_PATH_RE,
    URL_SCHEME_RE,
    url_trim,
)

#: query param names that carry click/campaign tracking, not content
#: identity — the published cross-site set (utm_* is the Google Analytics
#: family; the rest are the major platforms' click ids).
DEFAULT_TRACKING_PARAMS = (
    "utm_[A-Za-z0-9_]*",
    "gclid",
    "fbclid",
    "msclkid",
    "mc_eid",
    "igshid",
)

#: dot-segment fixpoint bound: each iteration removes one nesting level
#: of "x/../"; 10 levels is beyond any real URL (the tripwire catches
#: deeper pathological input LOUDLY rather than mis-canonicalizing it).
_DOT_ITERS = 10

#: a path segment that is NOT ".." (RE2-safe — no lookahead): starts with
#: a non-dot, or is "." followed by a non-dot, or is ".." followed by
#: more. Single "." segments are already removed when this runs.
_SEG_NOT_DOTDOT = r"(?:[^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)"

#: query string: everything between the first "?" after the authority and
#: the fragment. Same prefix discipline as filtering.URL_*.
URL_QUERY_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^?#]*\?([^#]*)"


def canonical_url_authority(scheme_col: Column, auth_col: Column) -> Column:
    """URL-identity form of an extracted authority: lowered, userinfo
    stripped (last ``@``), root dot removed, and the port dropped ONLY
    when empty or the scheme default. Distinct from
    ``filtering.canonical_host`` by contract: that one strips every port
    (robots compliance is per-host); URL identity keeps non-default
    ports. IPv6 brackets are preserved (they are part of the URL
    spelling; the port strip is bracket-aware)."""
    a = F.lower(url_trim(auth_col))
    a = F.regexp_replace(a, r"^.*@", "")
    default_port = F.when(scheme_col == "http", F.lit("80")).when(
        scheme_col == "https", F.lit("443")
    )
    # ':' + (default port | nothing) at the end, on a bracket-free host
    # prefix OR right after a ']' — both engines treat the alternation
    # identically (no lookahead needed: anchor on the two legal shapes)
    port = F.regexp_extract(a, r":(\d*)$", 1)
    host_only = F.regexp_replace(a, r":\d*$", "")
    has_port = a.rlike(r"^(\[[^\]]*\]|[^:\[\]]*):\d*$")
    stripped = F.when(
        has_port
        & (
            (port == "")
            | (default_port.isNotNull() & (port == default_port))
        ),
        host_only,
    ).otherwise(a)
    return F.regexp_replace(stripped, r"\.$", "")


def _remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 over a bounded fixpoint: collapse ``//``, drop
    ``.`` segments, then resolve ``seg/..`` pairs innermost-first for
    ``_DOT_ITERS`` rounds. Residual dot segments after the bound are the
    caller's tripwire (see :func:`with_canonical_url`)."""
    p = F.regexp_replace(path, r"/{2,}", "/")
    for _ in range(_DOT_ITERS):
        # "." segments FIRST, inside the loop (r14 review #1: a fixed
        # 2-pass prelude left a residual '.' on 4+ ADJACENT '/./' — a
        # messy-but-benign URL then false-fired the depth tripwire and
        # aborted the job; replaceAll consumes the shared '/' of each
        # adjacent pair, so one pass halves a run rather than clearing it)
        p = F.regexp_replace(p, r"/\./", "/")
        p = F.regexp_replace(p, r"/\.$", "/")
        # one "seg/../" resolution per round, leftmost-innermost; a root
        # "/../" (nothing left to pop) removes the orphan ".." (§5.2.4.C)
        p = F.regexp_replace(p, f"/{_SEG_NOT_DOTDOT}/\\.\\./", "/")
        p = F.regexp_replace(p, f"/{_SEG_NOT_DOTDOT}/\\.\\.$", "/")
        p = F.regexp_replace(p, r"^/\.\./", "/")
        p = F.regexp_replace(p, r"^/\.\.$", "/")
    return p


def canonical_query(query_col: Column, strip_params=DEFAULT_TRACKING_PARAMS) -> Column:
    """Normalize a raw query string: split on ``&``, drop empty params
    and the ``strip_params`` name patterns (matched against the full
    name, with or without ``=value``), byte-sort the survivors, rejoin.
    NULL/empty in → empty out."""
    names = "|".join(strip_params)
    drop_re = f"^({names})(=.*)?$"
    parts = F.split(F.coalesce(query_col, F.lit("")), "&")
    kept = F.filter(
        parts, lambda x: (x != "") & ~x.rlike(drop_re)
    )
    return F.array_join(F.array_sort(kept), "&")


def url_canonicalize(url_col, strip_params=DEFAULT_TRACKING_PARAMS) -> Column:
    """The canonical spelling of a URL column (see module docstring). A
    value that does not parse as ``scheme://authority…`` canonicalizes to
    NULL — schedule or drop such rows explicitly downstream (the
    frontier's empty-host contract)."""
    u = url_trim(url_col)
    scheme = F.lower(F.regexp_extract(u, URL_SCHEME_RE, 1))
    auth = canonical_url_authority(scheme, F.regexp_extract(u, URL_HOST_RE, 1))
    path = _remove_dot_segments(F.regexp_extract(u, URL_PATH_RE, 1))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = canonical_query(F.regexp_extract(u, URL_QUERY_RE, 1), strip_params)
    out = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    return F.when((scheme != "") & (auth != ""), out)


def surt_host(host_col: Column) -> Column:
    """SURT form of a DNS host — dot components reversed onto commas:
    ``news.bbc.co.uk`` → ``uk,co,bbc,news``. Sort-friendly URI
    Reordering Transform (the web-archive convention: Heritrix/OpenWayback
    CDX keys): every subdomain of a registrable domain shares a key
    PREFIX, so a byte-ordered layout co-locates a site's whole subtree."""
    return F.array_join(F.reverse(F.split(host_col, r"\.")), ",")


def surt_key(url_col) -> Column:
    """Canonical SURT key of a URL: ``scheme://news.example.com:8080/a?q``
    → ``com,example,news:8080)/a?q`` (scheme dropped — one resource, one
    key, whatever the fetch scheme). Built ON the canonical spelling
    (:func:`url_canonicalize`), so every spelling variant keys
    identically; non-URLs → NULL. A bracketed IPv6 authority is NOT
    component-reversed (dots there are not DNS labels).

    This is the 100 TB layout key: ``df.repartitionByRange(N,
    F.col("surt"))`` (or a sorted bucketing on it) packs each host's —
    and each registrable domain's — pages into contiguous ranges, so
    host-scoped scans (robots re-checks, per-site exports, link-graph
    locality) prune to a few partitions instead of shuffling the corpus."""
    canon = url_canonicalize(url_col)
    auth = F.regexp_extract(canon, URL_HOST_RE, 1)
    rest = F.regexp_extract(canon, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    host = F.regexp_replace(auth, r":\d+$", "")
    port = F.regexp_extract(auth, r"(:\d+)$", 1)
    rev = F.when(auth.startswith("["), auth).otherwise(
        F.concat(surt_host(host), port)
    )
    return F.when(canon.isNotNull(), F.concat(rev, F.lit(")"), rest))


def with_canonical_url(df: DataFrame) -> DataFrame:
    """Append ``url_canonical`` = canonical ``url``. LOUD tripwire (the
    precondition_filter contract): a path still carrying a dot segment
    after the bounded fixpoint — nesting deeper than ``_DOT_ITERS`` —
    throws instead of emitting a wrong identity."""
    from . import precondition_filter, require_new_column

    require_new_column(df, "url_canonical")
    out = df.withColumn("url_canonical", url_canonicalize(F.col("url")))
    c = F.col("url_canonical")
    # check the PATH only — a query param legitimately carrying "/../"
    # (?next=/a/../b) must not trip the path-resolution wire
    path = F.regexp_extract(c, URL_PATH_RE, 1)
    resolved = c.isNull() | ~path.rlike(r"/\.\.?(/|$)")
    return precondition_filter(
        out,
        resolved,
        f"url_canonicalize: dot segments deeper than {_DOT_ITERS} levels "
        "in 'url' — raise _DOT_ITERS or clean the input",
    )
