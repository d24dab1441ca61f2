"""Crawl and corpus-boundary queries: robots compliance, frontier
politeness, sitemap ingestion, HTML-to-text extraction, boilerplate removal,
and the JSONL/CSV/WARC/TFRecord write→read round trips.

The round trips recompute their rollup from the ORIGINAL parquet plus the
same injection arithmetic: the container bytes exist only between Spark's
writer and Spark's reader, md5-prefix fingerprint sums certify the exact
round-tripped text, and an injected corrupt shard makes quarantine
semantics load-bearing in the hash (excluded from the rollup AND counted
exactly once). ``t_robots_filter`` and ``t_sitemap_extract`` are closed
form: DuckDB states the hand-derived verdicts / re-derives the locs from the
synthesis arithmetic instead of re-implementing the parser. The tests
import the oracle strings from here, so twin and oracle cannot drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import read_table
from . import query


# ---------------------------------------------------------------------------
# o17_jsonl_roundtrip (sources/jsonl.py — the crawl-exchange boundary)
# ---------------------------------------------------------------------------


@query(
    "o17_jsonl_roundtrip",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(1 AS BIGINT) AS n_quarantined
    FROM documents GROUP BY source
    """,
)
def o17_jsonl_roundtrip(spark, sf_dir):
    """JSONL source/sink boundary certified end to end (engine addition
    §2.1 surface): documents → sharded `write.json` → schema'd PERMISSIVE
    `read.json` with a _corrupt_record quarantine → per-source rollup that
    must equal DuckDB on the ORIGINAL parquet (clean rows round-trip
    byte-exactly through JSON quoting/unicode/null handling). One
    malformed line is INJECTED into the shard directory, so both
    quarantine semantics are load-bearing in the certified hash: the
    corrupt row must be excluded from the rollup (else an extra
    NULL-source group appears) AND counted exactly once in n_quarantined.

    The shard directory is a per-invocation mkdtemp (no fixed shared path
    — the ADVICE r10 #1 lesson), removed before returning; the tiny
    20-row result is materialized first so the returned frame never
    references the deleted files."""
    import os
    import shutil
    import tempfile

    from ..sources.jsonl import quarantine_counts, read_jsonl, write_jsonl

    tmp = tempfile.mkdtemp(prefix="spark_graft_jsonl_")
    try:
        path = os.path.join(tmp, "docs")
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        write_jsonl(docs, path)
        # injected BEFORE the first read of this brand-new directory, so
        # no FileStatusCache refresh is needed (the cache pins listings at
        # first read — the gotcha tests/test_embstats_jsonl.py pins)
        with open(os.path.join(path, "part-corrupt.json"), "w") as fh:
            fh.write('{"doc_id": 999999, "source": "x", "text": truncated\n')
        back = read_jsonl(spark, path)
        rollup = (
            back.where(F.col("_corrupt_record").isNull())
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).alias("total_chars"),
                F.sum("doc_id").alias("sum_ids"),
            )
            .crossJoin(quarantine_counts(back).select("n_quarantined"))
        )
        rows = rollup.collect()
        return spark.createDataFrame(rows, rollup.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# t_boilerplate_strip (operators/boilerplate.py)
# ---------------------------------------------------------------------------

#: canonical SQL twin (verified in tests/test_boilerplate.py since r11) —
#: per-source footer injected into ~half of each source's docs, keyed by
#: (doc_id // 20) % 2 because source IS doc_id % 20 (plain parity would be
#: constant per source), and a unique note into the rest (doc-frequency 1,
#: must never flag); the fingerprint sum pins the exact reassembled bytes
BOILERPLATE_SQL = """
    WITH aug AS (
      SELECT doc_id, source,
             text || chr(10) ||
             CASE WHEN (doc_id // 20) % 2 = 0
                  THEN 'visit the ' || source || ' portal today'
                  ELSE 'unique note ' || CAST(doc_id AS VARCHAR) END AS text
      FROM documents),
    lines AS (
      SELECT doc_id, source, parts[u.i] AS line, u.i AS pos
      FROM (SELECT doc_id, source, string_split(text, chr(10)) AS parts FROM aug),
           unnest(range(1, len(parts) + 1)) AS u(i)),
    freq AS (
      SELECT source, line, COUNT(*) AS doc_freq
      FROM (SELECT DISTINCT source, line, doc_id FROM lines) GROUP BY 1, 2),
    tot AS (SELECT source, COUNT(*) AS n_docs FROM aug GROUP BY 1),
    bp AS (SELECT f.source, f.line FROM freq f JOIN tot t USING (source)
           WHERE doc_freq >= GREATEST(5, CAST(CEIL(0.3 * n_docs) AS BIGINT))),
    flagged AS (
      SELECT l.doc_id, l.source, l.line, l.pos,
             (b.line IS NOT NULL) AS is_bp
      FROM lines l LEFT JOIN bp b ON l.source = b.source AND l.line = b.line),
    per_doc AS (
      SELECT doc_id, source,
             COUNT(*) AS lines_before,
             SUM(CASE WHEN is_bp THEN 0 ELSE 1 END) AS lines_after,
             SUM(length(line)) + COUNT(*) - 1 AS raw_chars,
             COALESCE(string_agg(CASE WHEN is_bp THEN NULL ELSE line END,
                                 chr(10) ORDER BY pos), '') AS clean_text
      FROM flagged GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(lines_before) AS BIGINT) AS lines_before,
           CAST(SUM(lines_after) AS BIGINT) AS lines_after,
           CAST(SUM(raw_chars) AS BIGINT) AS chars_before,
           CAST(SUM(length(clean_text)) AS BIGINT) AS chars_after,
           CAST(SUM(CAST(('0x' || substring(md5(clean_text), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_sum
    FROM per_doc GROUP BY source
"""


# Not headlined: DuckDB runs the oracle in 54 ms at sf0.1 (a source-sized rollup over one projection pass), so a bench
# row would measure Spark job floors against a near-zero denominator.
# Its plan shape is guarded in tests.
@query("t_boilerplate_strip", oracle=BOILERPLATE_SQL)
def t_boilerplate_strip(spark, sf_dir):
    """Boilerplate line removal certified end to end (engine addition
    §2.12; the jusText/CCNet template-cleaning stage — left in, a shared
    footer inflates near-dup similarity between unrelated pages and drags
    quality signals toward the template): per doc a footer is injected in
    Catalyst — the SAME line across ~half of each source's docs (template;
    must flag at min_frac=0.3/min_docs=5) or a doc-unique note
    (doc-frequency 1; must never flag) — then boilerplate_flags detects
    and strip_boilerplate removes it, and the per-source rollup pins
    line/char counts before/after plus the SUM of 32-bit md5 prefixes of
    the reassembled clean text: the fingerprint sum certifies the exact
    surviving BYTES in original order, so a wrong threshold, a dropped
    content line, or an out-of-order reassembly flips the hash. Plan:
    explode → distinct-then-count (no Expand), totals and flags broadcast,
    ONE corpus-sized exchange (the per-doc reassembly aggregate)."""
    from ..operators.boilerplate import boilerplate_flags, strip_boilerplate

    docs = read_table(spark, sf_dir, "documents")
    footer = F.when(
        F.expr("(doc_id div 20) % 2 = 0"),
        F.concat(F.lit("visit the "), F.col("source"), F.lit(" portal today")),
    ).otherwise(F.concat(F.lit("unique note "), F.col("doc_id").cast("string")))
    aug = docs.select(
        "doc_id", "source", F.concat_ws("\n", "text", footer).alias("text")
    )
    stripped = strip_boilerplate(aug, boilerplate_flags(aug))
    fp = F.conv(F.substring(F.md5("clean_text"), 1, 8), 16, 10).cast("long")
    return stripped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("lines_before").alias("lines_before"),
        F.sum("lines_after").alias("lines_after"),
        F.sum("raw_chars").alias("chars_before"),
        F.sum(F.length("clean_text")).alias("chars_after"),
        F.sum(fp).alias("fp_sum"),
    )


# ---------------------------------------------------------------------------
# t_html_extract (operators/htmltext.py — built round 12, VERDICT r11 #3:
# the crawl-ingest step BEFORE textnorm/boilerplate)
# ---------------------------------------------------------------------------

#: per-doc markup wrappers keyed by doc_id % 6 — the documents table is
#: markup-free (probed: zero '<', '>', '&' at sf0.01 AND sf0.1), so the
#: injections fully control the repertoire the query certifies. Each
#: variant exercises one removal/decode leg with ~1/6 of the corpus behind
#: it: inline tags+attributes, a script block whose CONTENT contains a
#: bare '<', style+comment blocks, the pinned entity set INCLUDING the
#: single-level &amp;amp; edge and a passthrough entity, and uppercase
#: tags + a void element.
_HTML_WRAPS = [
    ("", ""),
    ('<p class="intro">', " has <b>bold</b> and <i>italic</i></p>"),
    ("", '<script type="text/javascript">var x = 1 < 2; alert("hi");'
         "</script> after script"),
    ("<style>.c{color:red}</style>", "<!-- hidden comment --> tail"),
    ("", " &lt;tag&gt; &amp;amp; Tom &amp; Jerry &#39;q&#39;&nbsp;SP"
         " &copy; stays"),
    ('<DIV CLASS="x">', "</DIV><BR/> done"),
]


def _html_oracle() -> str:
    """DuckDB rebuilds the identical wrapped corpus and runs the IDENTICAL
    extraction chain (operators/htmltext.html_text_sql — one pattern table
    shared with the operator, parity-pinned in tests/test_htmltext.py)."""
    from ..operators.htmltext import html_text_sql

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    pres = ", ".join(lit(p) for p, _ in _HTML_WRAPS)
    sufs = ", ".join(lit(s) for _, s in _HTML_WRAPS)
    clean = html_text_sql("raw")
    return f"""
    WITH wrapped AS (
      SELECT source,
             (LIST_VALUE({pres}))[CAST(doc_id % 6 AS INT) + 1] || text ||
             (LIST_VALUE({sufs}))[CAST(doc_id % 6 AS INT) + 1] AS raw
      FROM documents),
    x AS (SELECT source, raw, {clean} AS clean FROM wrapped)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(length(raw)) AS BIGINT) AS total_raw_chars,
           CAST(SUM(length(clean)) AS BIGINT) AS total_clean_chars,
           CAST(SUM(CASE WHEN clean <> raw THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(CAST(('0x' || substring(md5(clean), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_sum
    FROM x GROUP BY source
    """


# Not headlined: DuckDB runs the oracle in 73 ms at sf0.1 (a source-sized rollup over one projection pass), so a bench
# row would measure Spark job floors against a near-zero denominator.
# extract_html_text is a pure codegen'd projection (SCALING.md).
@query("t_html_extract", oracle=_html_oracle())
def t_html_extract(spark, sf_dir):
    """HTML/markup-to-text extraction certified end to end (engine
    addition §2.12; VERDICT r11 #3 — the stage every web-crawl pipeline
    runs before boilerplate removal and normalization): per doc a
    deterministic markup wrapper (see _HTML_WRAPS) is concatenated in
    Catalyst, operators/htmltext.extract_html_text strips blocks/tags and
    decodes the pinned entity set, and the per-source rollup pins raw/
    clean char counts, how many docs changed, and the SUM of 32-bit md5
    prefixes of the extracted text — the fingerprint sum certifies the
    exact extracted BYTES, so a wrong removal order, a double-decoded
    entity, or a tag fused to '' instead of ' ' flips the hash. Plan:
    pure projection (regexp_replace + literal replace chain inside
    whole-stage codegen, zero UDFs/shuffles) into one combinable
    groupBy."""
    from ..operators.htmltext import extract_html_text

    docs = read_table(spark, sf_dir, "documents")
    pre = F.element_at(
        F.array(*[F.lit(p) for p, _ in _HTML_WRAPS]),
        (F.col("doc_id") % 6).cast("int") + 1,
    )
    suf = F.element_at(
        F.array(*[F.lit(s) for _, s in _HTML_WRAPS]),
        (F.col("doc_id") % 6).cast("int") + 1,
    )
    raw = docs.select(
        "source", F.concat(pre, F.col("text"), suf).alias("raw")
    )
    cleaned = extract_html_text(raw, text_col="raw", out_col="clean")
    fp = F.conv(F.substring(F.md5("clean"), 1, 8), 16, 10).cast("long")
    return cleaned.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("raw")).alias("total_raw_chars"),
        F.sum(F.length("clean")).alias("total_clean_chars"),
        F.sum((F.col("clean") != F.col("raw")).cast("long")).alias("n_changed"),
        F.sum(fp).alias("fp_sum"),
    )


# ---------------------------------------------------------------------------
# o18_csv_roundtrip (sources/csvio.py)
# ---------------------------------------------------------------------------

#: quoting-hazard suffixes keyed by (doc_id // 20) % 4 — source IS
#: doc_id % 20, so plain %4 would be constant per source (the
#: boilerplate-test lesson); ASCII only, newlines deliberately absent so
#: the certified path stays line-splittable (see the csvio module caveat);
#: every class NON-EMPTY (r11 pass 5 finding #4): Spark reads an empty CSV
#: field back as NULL (the documented lossy cell), so non-empty suffixes
#: make empty fields impossible by construction at ANY scale factor
CSV_SUFFIXES = [
    " plain tail",
    ', "quoted, with commas",',
    ' say ""twice"" done',
    "  padded ends  ",
]


#: canonical SQL twin (verified in tests/test_csvio.py since r11): the
#: rollup recomputed from the original parquet + the same injection
#: arithmetic; n_quarantined pins the one injected malformed line
CSV_ROUNDTRIP_SQL = """
    WITH aug AS (
      SELECT doc_id, source,
             text || (LIST_VALUE(' plain tail',
               ', "quoted, with commas",',
               ' say ""twice"" done',
               '  padded ends  '
             ))[CAST((doc_id // 20) % 4 AS INT) + 1] AS text
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_sum,
           CAST(1 AS BIGINT) AS n_quarantined
    FROM aug GROUP BY source
"""


# Not headlined: it round-trips through a per-invocation tmpdir, so a bench
# row would measure local-disk IO and mkdtemp, not plan quality.
@query("o18_csv_roundtrip", oracle=CSV_ROUNDTRIP_SQL)
def o18_csv_roundtrip(spark, sf_dir):
    """CSV corpus boundary certified end to end (engine §2.1 surface;
    reference parity: the reference's CSV scan boundary, datasets/bdb.py
    cites reference big_data_bowl/graph_converter.py — this is the
    GENERAL corpus-table variant with RFC-4180 quoting + quarantine):
    quoting-hazard suffixes injected in Catalyst (embedded commas, doubled
    quotes, boundary spaces — each must survive the write/read
    byte-exactly or fp_sum flips), sharded RFC-4180 write, PERMISSIVE
    schema'd CHECKED read with one injected malformed line (unparseable
    doc_id), per-source rollup. The CHECKED read is load-bearing (r11
    pass 5 #2): the rollup prunes doc_id, and on a raw CSV frame the
    parser would pass the corrupt row as clean (a 21st group). Result is
    materialized before the per-invocation tmpdir is removed (the o17
    discipline)."""
    import os
    import shutil
    import tempfile

    from ..cache import release_tracked
    from ..sources.csvio import read_csv_checked, write_csv
    from ..sources.jsonl import quarantine_counts

    tmp = tempfile.mkdtemp(prefix="spark_graft_csv_")
    try:
        path = os.path.join(tmp, "docs")
        docs = read_table(spark, sf_dir, "documents")
        sfx = F.element_at(
            F.array(*[F.lit(s) for s in CSV_SUFFIXES]),
            F.expr("cast((doc_id div 20) % 4 as int) + 1"),
        )
        aug = docs.select(
            "doc_id", "source", F.concat(F.col("text"), sfx).alias("text")
        )
        write_csv(aug, path)
        # injected before the first read of the brand-new dir (no
        # FileStatusCache refresh needed): doc_id is not a number ->
        # PERMISSIVE quarantines the whole line
        with open(os.path.join(path, "part-corrupt.csv"), "w") as fh:
            fh.write("doc_id,source,text\nnotanumber,srcX,hello\n")
        back = read_csv_checked(spark, path)
        fp = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        rollup = (
            back.where(F.col("_corrupt_record").isNull())
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).alias("total_chars"),
                F.sum(fp).alias("fp_sum"),
            )
            .crossJoin(quarantine_counts(back).select("n_quarantined"))
        )
        rows = rollup.collect()
        return spark.createDataFrame(rows, rollup.schema)
    finally:
        # mirror o19 (ADVICE r13 #2): quarantine_counts tracked-persists
        # the checked CSV frame; outside the driver's evicting wrapper the
        # cached relation (backed by the just-deleted tmpdir) would linger
        release_tracked()
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# o19_warc_roundtrip (sources/warc.py)
# ---------------------------------------------------------------------------

#: canonical SQL twin (verified in tests/test_warc.py since r12): clean
#: rows must round-trip byte-exactly through the WARC container (headers,
#: CRLF framing, gzip members), the injected corrupt shard must be
#: excluded from the rollup AND counted exactly once — the o17 discipline
#: at the crawl-container boundary
WARC_ROUNDTRIP_SQL = """
    SELECT source || '.example' AS source, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_sum,
           CAST(1 AS BIGINT) AS n_quarantined
    FROM documents GROUP BY source
"""


def warc_roundtrip_frame(spark, sf_dir, gzip_records=False):
    """The o19 query body, parameterized on the member layout so the
    gzip-members test (the Common Crawl layout) reuses it verbatim:
    documents → sharded WARC export (deterministic shards, one per Arrow
    batch) → binaryFile read + chunked Arrow decode with quarantine →
    per-source rollup equal to DuckDB on the ORIGINAL parquet. One
    garbage shard is injected, so quarantine semantics are load-bearing
    in the hash."""
    import os
    import shutil
    import tempfile

    from ..cache import release_tracked
    from ..sources.jsonl import quarantine_counts
    from ..sources.warc import read_warc, warc_to_documents, write_warc

    tmp = tempfile.mkdtemp(prefix="spark_graft_warc_")
    try:
        docs = read_table(spark, sf_dir, "documents").select(
            F.concat(
                F.lit("http://"), "source", F.lit(".example/"), F.col("doc_id")
            ).alias("target_uri"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        write_warc(docs, tmp, gzip_records=gzip_records).collect()
        with open(os.path.join(tmp, "part-corrupt.warc"), "wb") as fh:
            fh.write(b"not a warc shard at all \x00\xff garbage")
        back = read_warc(spark, tmp)
        rollup = (
            warc_to_documents(back)
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).alias("total_chars"),
                F.sum(
                    F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
                ).alias("fp_sum"),
            )
            .crossJoin(quarantine_counts(back).select("n_quarantined"))
        )
        rows = rollup.collect()
        return spark.createDataFrame(rows, rollup.schema)
    finally:
        release_tracked()  # quarantine_counts' tracked persist
        shutil.rmtree(tmp, ignore_errors=True)


# Not headlined: it round-trips through a per-invocation tmpdir, so a bench
# row would measure local-disk IO and mkdtemp, not plan quality.
# The WARC decode path is probed by the tracemalloc bound and the hostile
# battery instead.
@query("o19_warc_roundtrip", oracle=WARC_ROUNDTRIP_SQL)
def o19_warc_roundtrip(spark, sf_dir):
    """WARC crawl-container boundary certified end to end (engine §2.1
    surface; the format crawls actually ship in — ISO 28500 / Common
    Crawl). Own codec (no external WARC lib), hostile-input-bounded
    decode, shared _corrupt_record quarantine contract, chunked Arrow
    emission (r13) bounding decoded-row materialization per task."""
    return warc_roundtrip_frame(spark, sf_dir, gzip_records=False)


# ---------------------------------------------------------------------------
# t_robots_filter (operators/robots.py)
# ---------------------------------------------------------------------------

#: per-source robots bodies: even-k sources carry a trainbot group (so the
#: star group MUST be ignored — RFC 9309 §2.2.1 suppression), odd-k sources
#: only a star group (longest-match Allow door); k % 5 == 0 sources have NO
#: robots at all (everything allowed). k = doc_id % 20 = the source index.
ROBOTS_EVEN_BODY = (
    "# crawl policy\n"
    "User-agent: trainbot\n"
    "Disallow: /private\n"
    "Allow: /private/ok*\n"
    "Disallow: /*.pdf$\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /\n"
)


ROBOTS_ODD_BODY = (
    "User-agent: *\n"
    "Disallow: /blocked\n"
    "Allow: /blocked/door\n"
)


#: hand-derived verdicts for agent=trainbot (path class = (doc_id//20)%6):
#: even-k body: class1 /private/doc → Disallow /private (8 octets);
#: class2 /private/okfile → Allow /private/ok* (12) beats Disallow (8);
#: class3 *.pdf → Disallow /*.pdf$ ($-anchored); star group ignored.
#: odd-k body: class4 /blocked/door → Allow (13) beats Disallow /blocked
#: (8); class5 /blocked/room → Disallow. No-robots sources: all allowed.
ROBOTS_FILTER_SQL = """
    WITH u AS (
      SELECT doc_id, source, doc_id % 20 AS k, (doc_id // 20) % 6 AS cls,
             'http://' || source || '.example' ||
             CASE (doc_id // 20) % 6
               WHEN 0 THEN '/public/doc' || doc_id
               WHEN 1 THEN '/private/doc' || doc_id
               WHEN 2 THEN '/private/okfile' || doc_id
               WHEN 3 THEN '/files/doc' || doc_id || '.pdf'
               WHEN 4 THEN '/blocked/door' || doc_id
               ELSE '/blocked/room' || doc_id END AS url
      FROM documents),
    v AS (
      SELECT *, CASE WHEN k % 5 = 0 THEN TRUE
                     WHEN k % 2 = 0 THEN cls NOT IN (1, 3)
                     ELSE cls <> 5 END AS allowed
      FROM u)
    SELECT source, COUNT(*) AS n_urls,
           CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_allowed,
           CAST(SUM(CASE WHEN allowed
             THEN CAST(('0x' || substring(md5(url), 1, 8)) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS fp_sum
    FROM v GROUP BY source
"""


# Not headlined: the oracle is closed form (DuckDB states the hand-derived
# verdicts in 14 ms rather than running the parser), so a bench row would
# measure job floors against a non-computation. Scale: SCALING.md.
@query("t_robots_filter", oracle=ROBOTS_FILTER_SQL)
def t_robots_filter(spark, sf_dir):
    """RFC 9309 robots compliance at corpus scale: URLs synthesized from
    the documents table (6 path classes keyed (doc_id//20)%6 — independent
    of source, the boilerplate-test lesson), per-source robots bodies
    (three variants incl. a no-robots cohort), robots_filter for
    agent=trainbot, per-source rollup whose fp_sum pins exactly which URLs
    survived. Scale shape: verdicts per DISTINCT (canonical host,
    path?query) key joined back — the corpus never fans out against the
    rule table (plan-guarded in tests/test_robots.py)."""
    from ..operators.robots import robots_filter

    docs = read_table(spark, sf_dir, "documents")
    cls = F.expr("cast((doc_id div 20) % 6 as int)")
    path = (
        F.when(cls == 0, F.concat(F.lit("/public/doc"), F.col("doc_id")))
        .when(cls == 1, F.concat(F.lit("/private/doc"), F.col("doc_id")))
        .when(cls == 2, F.concat(F.lit("/private/okfile"), F.col("doc_id")))
        .when(cls == 3, F.concat(F.lit("/files/doc"), F.col("doc_id"), F.lit(".pdf")))
        .when(cls == 4, F.concat(F.lit("/blocked/door"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/blocked/room"), F.col("doc_id")))
    )
    urls = docs.select(
        "doc_id",
        "source",
        F.concat(F.lit("http://"), "source", F.lit(".example"), path).alias("url"),
    )
    k = F.expr("cast(substring(source, 4) as int)")
    robots = (
        docs.select("source").distinct()
        .where(k % 5 != 0)  # k%5==0 sources publish no robots.txt
        .select(
            F.concat("source", F.lit(".example")).alias("domain"),
            F.when(k % 2 == 0, F.lit(ROBOTS_EVEN_BODY))
            .otherwise(F.lit(ROBOTS_ODD_BODY))
            .alias("robots_txt"),
        )
    )
    fp = F.conv(F.substring(F.md5("url"), 1, 8), 16, 10).cast("long")
    return (
        robots_filter(urls, robots, agent="trainbot")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum(F.col("robots_allowed").cast("bigint")).alias("n_allowed"),
            F.sum(F.when(F.col("robots_allowed"), fp).otherwise(F.lit(0))).alias(
                "fp_sum"
            ),
        )
    )


# ---------------------------------------------------------------------------
# t_frontier_plan (operators/frontier.py)
# ---------------------------------------------------------------------------

#: exact-SQL twin: both engines derive the identical (wave, slot)
#: assignment — ROW_NUMBER over the canonical host ordered by md5(url)
#: (engine-portable), then integer div/mod by the per-host limit.
FRONTIER_SQL = """
    WITH u AS (
      SELECT doc_id, source,
             'http://' || source || '.example/doc' || doc_id AS url
      FROM documents),
    r AS (
      SELECT source, url,
             ROW_NUMBER() OVER (PARTITION BY lower(source) || '.example'
                                ORDER BY md5(url)) - 1 AS rk
      FROM u),
    p AS (SELECT source, url, rk // 3 AS wave, rk % 3 AS slot FROM r)
    SELECT wave, COUNT(*) AS n_urls,
           CAST(COUNT(DISTINCT lower(source)) AS BIGINT) AS n_hosts,
           CAST(MAX(slot) AS BIGINT) AS max_slot,
           CAST(SUM(CASE WHEN slot = 0
             THEN CAST(('0x' || substring(md5(url), 1, 8)) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS fp_slot0
    FROM p GROUP BY wave ORDER BY wave
"""


# Not headlined: the oracle runs in 16 ms uncontended (a reading taken on a
# loaded box can be 20x that); the md5 window over 5k rows is a near-zero
# denominator. Scale: SCALING.md.
@query("t_frontier_plan", oracle=FRONTIER_SQL)
def t_frontier_plan(spark, sf_dir):
    """URL-frontier politeness planning: URLs from the documents table,
    per_host_limit=3, per-wave rollup. fp_slot0 pins the exact slot-0 URL
    of every (host, wave) — the full deterministic order, not just the
    counts. Scale shape: ONE host-partitioned row_number window +
    closed-form integer div/mod; the duplicate-url tripwire's (host, url)
    count window REUSES the host exchange (plan-guarded in
    tests/test_frontier.py)."""
    from ..operators.frontier import frontier_plan

    docs = read_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("http://"), "source", F.lit(".example/doc"), F.col("doc_id")
        ).alias("url"),
    )
    planned = frontier_plan(urls, per_host_limit=3)
    fp = F.conv(F.substring(F.md5("url"), 1, 8), 16, 10).cast("long")
    return (
        planned.groupBy("wave")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
            F.max("slot").alias("max_slot"),
            F.sum(F.when(F.col("slot") == 0, fp).otherwise(F.lit(0))).alias(
                "fp_slot0"
            ),
        )
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )


# ---------------------------------------------------------------------------
# t_sitemap_extract (operators/sitemap.py)
# ---------------------------------------------------------------------------

#: closed-form twin: re-derives locs/lastmods from the same synthesis
#: arithmetic rather than re-running the parser (the robots style — a
#: parser bug cannot hide in both engines). The '&amp;' in every loc makes
#: entity decode load-bearing in the fingerprint.
SITEMAP_SQL = """
    WITH e AS (
      SELECT source, doc_id,
             'http://' || source || '.example/p' || doc_id || '?a=1&b=2'
               AS loc,
             CASE WHEN doc_id % 3 = 0
                  THEN '2026-0' || (1 + doc_id % 9 // 2) || '-01' END AS lastmod
      FROM documents)
    SELECT source, COUNT(*) AS n_locs,
           CAST(SUM(CASE WHEN lastmod IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dated,
           CAST(SUM(CAST(('0x' || substring(md5(loc), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_loc,
           CAST(SUM(CASE WHEN lastmod IS NOT NULL
             THEN CAST(('0x' || substring(md5(lastmod), 1, 8)) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS fp_mod
    FROM e GROUP BY source
"""


# Not headlined: the oracle is closed form (DuckDB re-derives the locs in
# 28 ms rather than running the parser), so a bench row would measure job
# floors against a non-computation; the parse is the extract_html_text
# projection class.
@query("t_sitemap_extract", oracle=SITEMAP_SQL)
def t_sitemap_extract(spark, sf_dir):
    """Sitemap ingestion: one synthesized urlset document per source
    (entries from its docs, '&amp;' in every loc so entity decode lands in
    the fingerprint, lastmod on every third entry), parse_sitemaps,
    per-source rollup. Scale shape: pure projection + one explode;
    expensive full-document passes materialized once (plan-verified 3→1
    strips in tests/test_sitemap.py)."""
    from ..operators.sitemap import parse_sitemaps

    docs = read_table(spark, sf_dir, "documents")
    entry = F.concat(
        F.lit("  <url>\n    <loc> http://"),
        "source",
        F.lit(".example/p"),
        F.col("doc_id"),
        F.lit("?a=1&amp;b=2 </loc>\n"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("    <lastmod>2026-0"),
                (1 + F.expr("doc_id % 9 div 2")).cast("string"),
                F.lit("-01</lastmod>\n"),
            ),
        ).otherwise(F.lit("")),
        F.lit("  </url>\n"),
    )
    sitemaps = (
        docs.groupBy("source")
        .agg(F.concat_ws("", F.collect_list(entry)).alias("_body"))
        .select(
            F.col("source").alias("domain"),
            F.concat(
                F.lit('<?xml version="1.0"?>\n<urlset xmlns="http://www.'
                      'sitemaps.org/schemas/sitemap/0.9">\n'),
                F.col("_body"),
                F.lit("</urlset>\n"),
            ).alias("sitemap_xml"),
        )
    )
    parsed = parse_sitemaps(sitemaps)
    fp = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    return (
        parsed.groupBy(F.col("domain").alias("source"))
        .agg(
            F.count("*").alias("n_locs"),
            F.sum(F.col("lastmod").isNotNull().cast("bigint")).alias("n_dated"),
            F.sum(fp("loc")).alias("fp_loc"),
            F.sum(
                F.when(F.col("lastmod").isNotNull(), fp("lastmod")).otherwise(
                    F.lit(0)
                )
            ).alias("fp_mod"),
        )
    )


# ---------------------------------------------------------------------------
# o20_tfrecord_roundtrip (sources/tfrecord.py)
# ---------------------------------------------------------------------------

#: boundary twin (the o18/o19 style): the rollup recomputed from the
#: original parquet; n_quarantined pins the one injected garbage shard.
TFRECORD_SQL = """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT))
             AS BIGINT) AS fp_sum,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(1 AS BIGINT) AS n_quarantined
    FROM documents GROUP BY source
"""


# Not headlined: it round-trips through a per-invocation tmpdir, so a bench
# row would measure local-disk IO and mkdtemp, not plan quality.
@query("o20_tfrecord_roundtrip", oracle=TFRECORD_SQL)
def o20_tfrecord_roundtrip(spark, sf_dir):
    """documents → sharded tf.Example TFRecord export → binaryFile read +
    framing decode + feature projection → per-source rollup equal to
    DuckDB on the ORIGINAL parquet. One garbage shard injected (excluded
    from the rollup AND counted exactly once); id_sum certifies the int64
    feature leg alongside the text fingerprint. Tiny result materialized
    so the scratch dir can be removed."""
    import os
    import shutil
    import tempfile

    from ..cache import release_tracked
    from ..sources.jsonl import quarantine_counts
    from ..sources.tfrecord import (
        examples_to_columns,
        read_tfrecords,
        write_tfrecords,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_tfr_")
    try:
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        write_tfrecords(docs, tmp).collect()
        with open(os.path.join(tmp, "part-corrupt.tfrecord"), "wb") as fh:
            fh.write(b"definitely not a tfrecord \x00\xff")
        back = read_tfrecords(spark, tmp)
        cols = examples_to_columns(
            back, {"doc_id": "int64", "source": "string", "text": "string"}
        )
        fp = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        rollup = (
            cols.where(F.col("_corrupt_record").isNull())
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).alias("total_chars"),
                F.sum(fp).alias("fp_sum"),
                F.sum("doc_id").alias("id_sum"),
            )
            .crossJoin(quarantine_counts(back).select("n_quarantined"))
        )
        rows = rollup.collect()
        return spark.createDataFrame(rows, rollup.schema)
    finally:
        release_tracked()
        shutil.rmtree(tmp, ignore_errors=True)
