"""HTML/markup-to-text extraction (operators/htmltext.py) — built round 12
(VERDICT r11 #3), registered as `t_html_extract` (plans/crawl.py). The
canonical oracle lives in the registry; this suite imports it, pins the
nasty contract edges cross-engine, and runs the full crawl-ingest
composition (extract → normalize → boilerplate) end to end."""

from pyspark.sql import functions as F

from unravelsports_spark.plans import ORACLE_SQL, QUERIES

from .conftest import SF_CORRECT


def test_html_extract_matches_duckdb(spark, duck):
    got = sorted(map(tuple, QUERIES["t_html_extract"](spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(ORACLE_SQL["t_html_extract"]).fetchall()))
    assert got == want and len(got) == 20
    # the markup must genuinely be detected and removed: 5/6 of each
    # source's docs are wrapped, so n_changed ≥ half the docs everywhere
    for _src, n_docs, raw_c, clean_c, n_changed, _fp in got:
        assert n_changed >= n_docs // 2 and clean_c < raw_c


def test_edge_semantics_cross_engine(spark, duck):
    """The pinned contract edges, BOTH engines byte-for-byte: single-level
    amp decode (never the classic &amp;lt; double-decode), passthrough of
    unpinned entities, stray brackets eaten identically, unclosed blocks
    degrading to tag stripping, uppercase/void tags, NULL propagation."""
    from unravelsports_spark.operators.htmltext import (
        extract_html_text,
        html_text_sql,
    )

    cases = [
        "plain text no markup",
        "&amp;lt; stays one level",
        "ents &lt;t&gt; &amp;amp; A &amp; B &#39;q&#39;&nbsp;S &copy; &#8212;",
        "a < b and c > d stray brackets",
        "unclosed <script>alert(1) rest of doc",
        'pre<script type="x">var y = 1 < 2;</script\t>post',
        "<STYLE>.c{}</STYLE><DIV CLASS='x'>up</DIV><BR/>",
        "<!-- a <b>never seen</b> --><p>kept</p>",
        "pre<script>secret()</script\x0b>post",
        "&amp;#38; one level too",
        None,
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id long, text string"
    )
    got = {r["id"]: r["clean_text"] for r in extract_html_text(df).collect()}
    expr = html_text_sql("text")
    for i, c in enumerate(cases):
        want = duck.execute(
            f"SELECT {expr} FROM (SELECT ? AS text)", [c]
        ).fetchone()[0]
        assert got[i] == want, (i, got[i], want)
    # and the specific values that define the contract:
    assert got[1] == "&lt; stays one level"  # ONE decode level
    assert got[2] == "ents <t> &amp; A & B 'q' S &copy; &#8212;"
    assert got[4] == "unclosed  alert(1) rest of doc"  # degrade, keep text
    assert got[5] == "pre post"  # whitespace before '>' in the close tag
    assert got[7] == "  kept "  # comment content (tags included) gone;
    # two leading spaces: comment → ' ' then '<p>' → ' '
    # r12 review pass 1 #1: a VERTICAL TAB inside the close tag — Java's
    # \s includes U+000B, RE2's does not, so the explicit class in
    # _BLOCK_PATTERNS is what keeps both engines removing the block
    assert got[8] == "pre post"
    # r12 review pass 1 #2: BOTH amp spellings decode exactly one level —
    # sequential literal replaces would re-decode the re-formed '&#38;'
    assert got[9] == "&#38; one level too"
    assert got[10] is None


def test_out_col_collision_fails_loud(spark):
    import pytest

    from unravelsports_spark.operators.htmltext import extract_html_text

    df = spark.createDataFrame([(0, "x")], "id long, text string")
    with pytest.raises(ValueError, match="already a column"):
        extract_html_text(df, out_col="text")


def test_crawl_ingest_composition(spark):
    """The full chain VERDICT r11 #3 asks for — extract_html_text →
    normalize_text → strip_boilerplate — over a synthetic page corpus:
    markup gone first, THEN unicode/whitespace canonicalized, THEN the
    shared footer (only detectable after both stages) stripped. End state
    is the pure content line per page."""
    from unravelsports_spark.operators.boilerplate import (
        boilerplate_flags,
        strip_boilerplate,
    )
    from unravelsports_spark.operators.htmltext import extract_html_text
    from unravelsports_spark.operators.textnorm import normalize_text

    # 8 pages of one site: unique content (with a DECOMPOSED accent — the
    # NFC leg must compose it) + one shared footer, both wrapped in
    # markup; the footer carries entity + NBSP noise, so it converges to
    # ONE repeated line only after extract AND normalize have both run
    FOOTER = "(c) 2026 & footer line"  # post-extract, post-normalize form
    pages = [
        (
            i,
            "site",
            f"<p>article {i} bodý</p>"
            "<script>track()</script>"
            "<div>(c)&nbsp;2026 &amp; footer&nbsp;line</div>",
        )
        for i in range(8)
    ]
    df = spark.createDataFrame(pages, ["doc_id", "source", "text"])
    extracted = extract_html_text(df, text_col="text", out_col="stage1")
    normed = normalize_text(extracted, text_col="stage1", out_col="stage2")
    # block boundaries → lines for the line-granular boilerplate stage (a
    # real pipeline emits newlines at block tags; this split stands in)
    two_line = normed.select(
        "doc_id",
        "source",
        F.concat_ws(
            "\n",
            F.regexp_replace("stage2", r" \(c\) 2026 & footer line$", ""),
            F.lit(FOOTER),
        ).alias("text"),
    )
    flags = boilerplate_flags(two_line, min_frac=0.5, min_docs=3)
    flagged = {(r["source"], r["line"]) for r in flags.collect()}
    assert flagged == {("site", FOOTER)}  # footer flags; content never does
    out = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate(two_line, flags).collect()
    }
    # exact end state: markup gone, accent COMPOSED (U+00FD, not y+U+0301),
    # entities decoded, footer stripped
    assert out[0] == "article 0 bodý"
    assert out[7] == "article 7 bodý"


def test_plan_projection_only(spark):
    """Scale shape: the extraction itself is a pure projection — no
    Exchange, no Python/Arrow eval, inside whole-stage codegen — so it
    fuses into any scan for free."""
    from unravelsports_spark.operators.htmltext import extract_html_text
    from unravelsports_spark.session import read_table

    docs = read_table(spark, SF_CORRECT, "documents")
    out = extract_html_text(docs).select("doc_id", "clean_text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # '*(1) Project' is the compact-form whole-stage-codegen marker; and
    # the scan must prune to exactly the two referenced columns
    assert "*(1) Project" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
