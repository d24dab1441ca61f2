"""Boilerplate line removal (operators/boilerplate.py) — built round 11,
driver-registered round 12 as `t_boilerplate_strip` (plans/crawl.py).
The canonical oracle SQL moved there at registration; this suite imports
it (no drift possible) and exercises the operator's contract edges."""

from pyspark.sql import functions as F

from unravelsports_spark.plans import QUERIES
from unravelsports_spark.plans.crawl import BOILERPLATE_SQL

from .conftest import SF_CORRECT


def test_boilerplate_strip_matches_duckdb(spark, duck):
    got = sorted(
        map(tuple, QUERIES["t_boilerplate_strip"](spark, SF_CORRECT).collect())
    )
    want = sorted(map(tuple, duck.execute(BOILERPLATE_SQL).fetchall()))
    assert got == want and len(got) == 20
    # the footer must genuinely be detected and removed in every source
    for src, n_docs, before, after, *_ in got:
        assert before - after > 0, (src, before, after)


def test_flags_threshold_and_uniqueness(spark):
    """A footer in 6/8 docs of a source is flagged (≥ max(5, ceil(2.4)));
    one in 4/8 is not (< 5); unique lines never flag; a second source's
    docs never contribute to the first's threshold."""
    from unravelsports_spark.operators.boilerplate import boilerplate_flags

    rows = []
    for i in range(8):
        foot = "shared footer" if i < 6 else "rare footer"
        sub = "subfooter" if i < 4 else "other"
        rows.append((i, "A", f"body {i}\n{foot}\n{sub}"))
    for i in range(8, 12):
        rows.append((i, "B", "body\nshared footer"))  # only 4 B-docs: < min_docs
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    flags = {(r["source"], r["line"]) for r in boilerplate_flags(df).collect()}
    assert ("A", "shared footer") in flags
    assert ("A", "rare footer") not in flags  # 2 docs < 5
    assert ("A", "subfooter") not in flags  # 4 docs < min_docs=5
    assert ("B", "shared footer") not in flags  # 4 B docs < 5
    assert not any(line.startswith("body") for _, line in flags)


def test_strip_preserves_order_and_empty_docs(spark):
    """Kept lines stay in original order; a document that is ALL template
    strips to '' (and still appears in the output with its counters)."""
    from unravelsports_spark.operators.boilerplate import strip_boilerplate

    docs = spark.createDataFrame(
        [
            (0, "A", "first\nFOOT\nsecond\nthird"),
            (1, "A", "FOOT"),
        ],
        ["doc_id", "source", "text"],
    )
    flags = spark.createDataFrame([("A", "FOOT", 9)], ["source", "line", "doc_freq"])
    got = {r["doc_id"]: r for r in strip_boilerplate(docs, flags).collect()}
    assert got[0]["clean_text"] == "first\nsecond\nthird"
    assert (got[0]["lines_before"], got[0]["lines_after"]) == (4, 3)
    assert got[0]["raw_chars"] == len("first\nFOOT\nsecond\nthird")
    assert got[1]["clean_text"] == "" and got[1]["lines_after"] == 0


def test_null_text_docs_vanish_from_accounting(spark):
    """The NULL-text contract (ADVICE r11 #2): a NULL-text doc yields zero
    exploded lines and so appears in NEITHER flags nor per-doc output —
    while a ''-text doc yields one empty line and a counters row. Callers
    needing NULL docs in the accounting coalesce first; this pins both
    sides of that boundary so the silent drop can't go unnoticed."""
    from pyspark.sql import types as T

    from unravelsports_spark.operators.boilerplate import (
        boilerplate_flags,
        strip_boilerplate,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = spark.createDataFrame(
        [(0, "A", "body\nFOOT"), (1, "A", None), (2, "A", "")], schema
    )
    flags = spark.createDataFrame([("A", "FOOT", 9)], ["source", "line", "doc_freq"])
    got = {r["doc_id"]: r for r in strip_boilerplate(docs, flags).collect()}
    assert set(got) == {0, 2}  # doc 1 (NULL text) vanished
    assert (got[2]["lines_before"], got[2]["clean_text"]) == (1, "")
    # and the NULL doc contributes nothing to doc-frequency either:
    n_docs_seen = {
        r["source"]: r["doc_freq"]
        for r in boilerplate_flags(docs, min_frac=0.0, min_docs=1)
        .where(F.col("line") == "body")
        .collect()
    }
    assert n_docs_seen == {"A": 1}


def test_plan_no_expand_broadcast_flags(spark):
    """Scale shape: the doc-frequency path has no Expand (two-phase
    distinct-then-count, never COUNT(DISTINCT)); the flag join back onto
    the exploded corpus is a BroadcastHashJoin."""
    from unravelsports_spark.operators.boilerplate import (
        boilerplate_flags,
        strip_boilerplate,
    )
    from unravelsports_spark.session import read_table

    docs = read_table(spark, SF_CORRECT, "documents")
    out = strip_boilerplate(docs, boilerplate_flags(docs))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan
