"""Corpus release diff (operators/releasediff.py) — built round 12,
REGISTERED round 13 as `d_release_diff`. The canonical oracle SQL and
query shape now live in plans/dedup.py; this suite imports them, so twin and oracle
cannot drift (r13 review #6: this file initially kept a private copy)."""

from pyspark.sql import functions as F

from unravelsports_spark.plans.dedup import (
    RELEASE_DIFF_SQL,
    d_release_diff as _diff_query,
)

from .conftest import SF_CORRECT


def test_release_diff_matches_duckdb(spark, duck):
    got = sorted(map(tuple, _diff_query(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(RELEASE_DIFF_SQL).fetchall()))
    assert got == want and len(got) > 20
    # every status class genuinely present in the certified output
    assert {s for _, s, *_ in got} == {"added", "removed", "modified", "unchanged"}


def test_release_diff_per_doc_contracts(spark):
    """Status semantics pinned per doc: added/removed/modified/unchanged;
    NULL text fingerprints as a NON-md5 sentinel, so text→NULL AND the
    ''↔NULL transition both report modified (r12 review: a plain
    coalesce-to-'' fingerprint made ''↔NULL invisible); a source change
    alone is NOT a modification (the join is by id, source is an
    attribute — new wins)."""
    from unravelsports_spark.operators.releasediff import release_diff

    old = spark.createDataFrame(
        [(1, "a", "same"), (2, "a", "will change"), (3, "a", "goes away"),
         (4, "a", "text to null"), (5, "b", "moves source"), (7, "a", "")],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [(1, "a", "same"), (2, "a", "changed!"), (6, "a", "brand new"),
         (4, "a", None), (5, "c", "moves source"), (7, "a", None)],
        "doc_id long, source string, text string",
    )
    got = {r["doc_id"]: r for r in release_diff(old, new).collect()}
    assert got[1]["status"] == "unchanged"
    assert got[2]["status"] == "modified"
    assert got[3]["status"] == "removed" and got[3]["chars_new"] == 0
    assert got[4]["status"] == "modified" and got[4]["chars_new"] == 0
    assert got[5]["status"] == "unchanged" and got[5]["source"] == "c"
    assert got[6]["status"] == "added" and got[6]["chars_old"] == 0
    assert got[7]["status"] == "modified"  # '' → NULL is a change


def test_release_diff_duplicate_or_null_id_fails_loud(spark):
    """The PRECONDITION (unique non-null ids per release) is SELF-ENFORCED
    since r13 (VERDICT r12 #4): a duplicated id — which previously fanned
    out through the full-outer join and silently inflated counts — and a
    NULL id both fail the query loudly via the assert_true tripwire, with
    the violating side named in the message. Clean inputs are unaffected
    (every other test in this file)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from unravelsports_spark.operators.releasediff import release_diff

    clean = spark.createDataFrame(
        [(1, "a", "x")], "doc_id long, source string, text string"
    )
    dup = spark.createDataFrame(
        [(1, "a", "x"), (1, "a", "x")], "doc_id long, source string, text string"
    )
    with pytest.raises((PySparkException, Py4JJavaError), match="new-release"):
        release_diff(clean, dup).collect()
    with pytest.raises((PySparkException, Py4JJavaError), match="old-release"):
        release_diff(dup, clean).collect()
    nulled = spark.createDataFrame(
        [(None, "a", "x")], "doc_id long, source string, text string"
    )
    with pytest.raises((PySparkException, Py4JJavaError), match="duplicate or NULL"):
        release_diff(clean, nulled).collect()


def test_release_diff_plan_shape(spark):
    """Scale shape: ONE exchange pair feeding a co-partitioned
    SortMergeJoin on the id (never broadcast — both releases are
    corpus-sized), fingerprints projected below the join so text never
    shuffles, no cartesian."""
    plan = (
        _diff_query(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both sides shuffle on the id key, and BOTH fingerprint at the scan
    # (md5 appears in each side's pre-exchange projection, so raw text
    # never rides the exchange)
    assert plan.count("Exchange hashpartitioning(_id") == 2
    # every scan-side branch fingerprints BEFORE its exchange (the old
    # side once, the new side once per union branch), so raw text never
    # rides an exchange
    assert plan.count("md5(cast(text") == 3


def test_tripwire_survives_column_pruning(spark):
    """r13 review #2 pin: the dup-id tripwire rides a FILTER, so a caller
    projecting only (doc_id, status) — which prunes the chars columns a
    projected guard lived in — still fails loud."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from unravelsports_spark.operators.releasediff import release_diff

    clean = spark.createDataFrame(
        [(1, "a", "x")], "doc_id long, source string, text string"
    )
    dup = spark.createDataFrame(
        [(1, "a", "x"), (1, "a", "x")], "doc_id long, source string, text string"
    )
    with pytest.raises((PySparkException, Py4JJavaError), match="new-release"):
        release_diff(clean, dup).select("doc_id", "status").collect()
    with pytest.raises((PySparkException, Py4JJavaError), match="old-release"):
        release_diff(dup, clean).groupBy("status").count().collect()
