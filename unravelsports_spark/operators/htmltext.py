"""HTML/markup-to-text extraction (engine addition §2.12; built round 12 —
VERDICT r11 #3, the one genuinely missing crawl-pipeline operator): every
web-corpus pipeline strips markup BEFORE boilerplate removal and unicode
normalization — the repo's text stages (operators/textnorm.py,
operators/boilerplate.py, the dedup/quality chain) all assume markup-free
input, and a crawl dump is anything but. This is step −1 of the release
pipeline: ``extract_html_text`` → ``normalize_text`` →
``strip_boilerplate`` → fingerprint/dedup.

Spark-first, pure Catalyst: one whole-stage-codegen'd chain of
``regexp_replace`` (block/tag removal) and LITERAL ``replace`` (entity
decode) — zero UDFs, zero shuffles, projection-only, so it composes into
any scan for free at 100 TB. Every regex is written in the Java/RE2
COMMON subset (inline ``(?is)`` flags, lazy ``.*?``, character classes —
no backreferences, no lookaround; the scrub_pii portability discipline),
so the DuckDB oracle runs the IDENTICAL chain and certifies the exact
extracted bytes.

Semantics (a deliberate regex extractor, not an HTML5 parser):
- ``<!-- … -->`` comments, ``<script …>…</script>`` and
  ``<style …>…</style>`` blocks (case-insensitive, dot-matches-newline)
  are removed whole — script/style CONTENT is code, never corpus text.
  Removal order (comments first) and the lazy spans are part of the
  pinned contract; a block missing its close tag degrades to plain tag
  stripping (its content survives as text — the conservative failure).
- every remaining ``<…>`` tag becomes ONE SPACE (not ''), so
  ``…text</p><p>more…`` never fuses words; the downstream whitespace
  collapse in ``normalize_text`` owns run-of-space cleanup.
- a PINNED entity set decodes single-level: named
  ``&lt; &gt; &quot; &apos; &nbsp; &amp;`` plus their numeric twins
  ``&#60; &#62; &#34; &#39; &#160; &#38;``. ``&nbsp;``/``&#160;`` map to
  a PLAIN SPACE (extraction folds layout spacing; callers wanting U+00A0
  preserved decode differently). The non-amp entities are literal
  single-pass replaces (their outputs can never assemble a new entity);
  the AMP FAMILY decodes LAST and as ONE regex alternation pass
  (``&amp;|&#38;`` → ``&``), because two sequential literal replaces
  would rescan each other's output: ``&amp;#38;`` must yield the literal
  text ``&#38;`` exactly as ``&amp;lt;`` yields ``&lt;`` — one decode
  level for EVERY spelling, never a double-decoded ``&`` or ``<`` (the
  classic entity-chain bug; both edges pinned in tests). Entities outside
  the pin (``&copy;``, general ``&#NNNN;``) pass through unchanged:
  Catalyst cannot synthesize chr(NNNN) in a replace, and a silent partial
  decode would be worse than a visible passthrough.
- NULL text stays NULL (regexp_replace/replace are NULL-propagating on
  both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: block/tag removal, in order: comments, script blocks, style blocks,
#: every remaining tag → one space. Java/RE2-common syntax only — the
#: close-tag whitespace is an EXPLICIT class, not ``\s``, because the two
#: engines disagree on ``\s`` itself: Java's includes U+000B (vertical
#: tab), RE2's does not (r12 review pass 1 #1, confirmed live — a VT
#: inside ``</script␋>`` made the engines extract different bytes). The
#: class spells out Java's five-plus-VT set so both strip identically.
from . import PORTABLE_WS

#: comment removal runs FIRST and is shared with sitemap.py's classifier
#: (r13 review pass 19 — single-sourced like entity_decode_expr)
COMMENT_PATTERN = r"(?s)<!--.*?-->"

_BLOCK_PATTERNS = (
    COMMENT_PATTERN,
    f"(?is)<script[^>]*>.*?</script[{PORTABLE_WS}]*>",
    f"(?is)<style[^>]*>.*?</style[{PORTABLE_WS}]*>",
    r"(?s)<[^>]*>",
)

#: the pinned entity set, DECODE ORDER IS LOAD-BEARING: the amp family
#: decodes LAST — and in ONE regexp alternation pass, not two sequential
#: literal replaces (r12 review pass 1 #2): sequentially, ``&amp;`` → ``&``
#: re-forms ``&#38;`` out of ``&amp;#38;`` and the later literal pass
#: double-decodes it to bare ``&`` (and swapping the order just moves the
#: hole to ``&#38;amp;``). A single left-to-right regex pass never rescans
#: its own replacements, so BOTH spellings decode exactly one level.
#: The non-amp entities are safe as literal replaces: their outputs
#: (``< > " '`` space) can never assemble a new entity.
ENTITIES = (
    ("&lt;", "<"),
    ("&#60;", "<"),
    ("&gt;", ">"),
    ("&#62;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&#160;", " "),
)

#: amp family — one alternation, one pass (see ENTITIES note)
_AMP_PATTERN = "&amp;|&#38;"


def entity_decode_expr(col, entities=ENTITIES) -> F.Column:
    """Single-level entity decode with the load-bearing ordering rule
    (non-amp literals first, the amp family LAST in one alternation pass
    — see the ENTITIES note). The ONE copy of that rule: sitemap.py's XML
    decode passes its 8-entity subset here (r13 review: a verbatim copy
    of this loop was the divergence class the reviews keep removing)."""
    c = F.col(col) if isinstance(col, str) else col
    for src, dst in entities:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return F.regexp_replace(c, _AMP_PATTERN, "&")


def html_text_expr(col) -> F.Column:
    """The extraction chain as a single Catalyst column expression —
    usable inline in any projection (the 100 TB shape: fused into the
    scan, no materialization between stages)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat in _BLOCK_PATTERNS:
        c = F.regexp_replace(c, pat, " ")
    return entity_decode_expr(c)


def extract_html_text(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Append ``out_col`` = the markup-stripped, entity-decoded form of
    ``text_col`` (NULL stays NULL; all other columns ride through). See
    the module docstring for the pinned semantics. Fails loud on an
    ``out_col`` collision (the shared textnorm rule, ADVICE r11 #3)."""
    from . import require_new_column

    require_new_column(df, out_col)
    return df.withColumn(out_col, html_text_expr(text_col))


def html_text_sql(expr: str) -> str:
    """The IDENTICAL chain as DuckDB SQL over ``expr`` — the oracle
    builder (kept beside the operator so the two pattern lists are one
    edit apart; plans/crawl.py imports it, tests import both and a
    parity check pins that the pattern tables match)."""
    c = expr
    for pat in _BLOCK_PATTERNS:
        # quote-escape the pattern too (r12 review pass 1 #3): the table
        # is designed to be edited, and the first future pattern with a
        # literal quote must not produce malformed SQL in every oracle
        c = f"regexp_replace({c}, '{pat.replace(chr(39), chr(39) * 2)}', ' ', 'g')"
    for src, dst in ENTITIES:
        dst_sql = dst.replace("'", "''")
        src_sql = src.replace("'", "''")
        c = f"replace({c}, '{src_sql}', '{dst_sql}')"
    return f"regexp_replace({c}, '{_AMP_PATTERN}', '&', 'g')"
