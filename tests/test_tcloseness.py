"""t-closeness audit (operators/privacy.py:t_closeness_report) — built
round 12, REGISTERED round 13 as `a25_t_closeness`. The canonical oracle
SQL and query shape now live in plans/relational.py; this suite imports them, so twin and oracle
cannot drift."""

from unravelsports_spark.plans.relational import (
    T_CLOSENESS_SQL,
    a25_t_closeness as _report,
)

from .conftest import SF_CORRECT


def test_t_closeness_matches_duckdb(spark, duck):
    got = sorted(map(tuple, _report(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(T_CLOSENESS_SQL).fetchall()))
    assert got == want and len(got) > 0
    # the audit must genuinely discriminate: some classes near the global
    # distribution, some far (all-one-decile output would certify nothing)
    assert len({d for d, *_ in got}) > 1


def test_t_closeness_hand_example(spark):
    """EMD pinned against hand arithmetic. Global over values {1, 2}:
    nine 1s + three 2s (G=12, cumG=[9,12], m=2). Class A = four 1s →
    cumC=[4,4] → |4·12−9·4| + 0 = 12 → EMD = 12/(1·4·12) = 0.25 (ppm
    250000, decile 2, at_risk at t=0.15). Class B = {1,1,2,2} → cumC=[2,4]
    → |24−36| = 12 → 0.25 likewise. Class C = {1,1,1,2} → cumC=[3,4] →
    |36−36| = 0 → EXACTLY the global mix, EMD 0, not at risk."""
    from unravelsports_spark.operators.privacy import t_closeness_report

    rows = (
        [("A", 1)] * 4
        + [("B", 1), ("B", 1), ("B", 2), ("B", 2)]
        + [("C", 1), ("C", 1), ("C", 1), ("C", 2)]
    )
    df = spark.createDataFrame(rows, ["klass", "v"])
    got = sorted(
        map(tuple, t_closeness_report(df, ["klass"], "v", t_ppm=150_000).collect())
    )
    assert got == [(0, False, 1, 4), (2, True, 2, 8)]


def test_t_closeness_null_and_degenerate_contracts(spark):
    """NULL sensitive rows are EXCLUDED from both distributions (engines
    disagree on NULL sort placement — the docstring contract); an
    all-one-value corpus is trivially 0-close (the m=1 division guard)."""
    from unravelsports_spark.operators.privacy import t_closeness_report

    df = spark.createDataFrame(
        [("A", 1), ("A", None), ("B", 1), ("B", None)],
        "klass string, v int",
    )
    got = sorted(map(tuple, t_closeness_report(df, ["klass"], "v").collect()))
    # after NULL exclusion both classes hold one 1 → m=1 → EMD 0; n_rows
    # counts only the non-NULL rows
    assert got == [(0, False, 2, 2)]


def test_t_closeness_null_quasi_class_is_first_class(spark):
    """A NULL quasi-identifier value forms its own equivalence class, like
    the sibling audits (r12 review pass 2 #1): the grid join is null-SAFE,
    so a NULL-keyed class matches its own value counts. Here the NULL
    class IS the whole corpus → EMD exactly 0; the null-unsafe join this
    pins against produced an impossible >100% EMD (ppm 1_750_000) for the
    same input."""
    from unravelsports_spark.operators.privacy import t_closeness_report

    rows = [(None, 1)] * 9 + [(None, 2)] * 3
    df = spark.createDataFrame(rows, "klass string, v int")
    got = sorted(map(tuple, t_closeness_report(df, ["klass"], "v").collect()))
    assert got == [(0, False, 1, 12)]
    # and mixed NULL/non-NULL classes each audit against the shared global
    rows2 = rows + [("A", 1)] * 3 + [("A", 2)] * 1
    df2 = spark.createDataFrame(rows2, "klass string, v int")
    got2 = sorted(map(tuple, t_closeness_report(df2, ["klass"], "v").collect()))
    # both classes are 3:1 over {1,2} = exactly the global mix → EMD 0
    assert got2 == [(0, False, 2, 16)]


def test_t_closeness_skew_beats_l_diversity(spark):
    """The operator's reason to exist: a class can PASS l-diversity (many
    distinct values) while t-closeness flags it — distinctness is not
    distributional closeness."""
    from unravelsports_spark.operators.privacy import (
        l_diversity_report,
        t_closeness_report,
    )

    # class "flat": 24 rows evenly over 0..3 (dominates the global mix);
    # class "skew": 8 rows, 4 distinct values (PASSES l=3) but almost all
    # mass on 0. Sizes are deliberately UNEQUAL — with two equal classes
    # the global is their midpoint and both deviate identically (found
    # writing this test). Hand EMD: skew num=144 → 144/(3·8·32) = 0.1875
    # (187500 ppm, flagged at t=0.1); flat num=144 → 144/(3·24·32) =
    # 0.0625 (62500 ppm, clean).
    rows = [("skew", v) for v in [0, 0, 0, 0, 0, 1, 2, 3]] + [
        ("flat", v) for v in [0, 1, 2, 3] * 6
    ]
    df = spark.createDataFrame(rows, ["klass", "v"])
    ldiv = {r["l_distinct"]: r["at_risk"] for r in
            l_diversity_report(df, ["klass"], "v", l=3).collect()}
    assert ldiv == {4: False}  # BOTH classes pass l-diversity
    tclose = sorted(
        map(tuple, t_closeness_report(df, ["klass"], "v", t_ppm=100_000).collect())
    )
    assert tclose == [(0, False, 1, 24), (1, True, 1, 8)]  # skew flagged alone


def test_t_closeness_plan_shape(spark):
    """Scale shape: one corpus-sized exchange (the (quasi…, sensitive)
    collapse); the global distribution/totals come back broadcast; no
    Expand; the class×value grid window is the only Window."""
    plan = (
        _report(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_t_closeness_internal_alias_collision_fails_loud(spark):
    """ADVICE r12 #3 pin: a caller column named like one of the grid's
    internal aliases (_c, _gv, _qb0, ...) must raise a clear ValueError at
    call time — not an AnalysisException (or a silent misjoin) deep inside
    the grid build."""
    import pytest

    from unravelsports_spark.operators.privacy import t_closeness_report

    df = spark.createDataFrame([("x", 1, 2)], "_c string, _gv int, v int")
    for quasi, sens in ([["_c"], "v"], [["_gv"], "v"], [["x"], "_c"]):
        frame = df.withColumnRenamed("_c", "x") if quasi == ["x"] else df
        with pytest.raises(ValueError, match="internal alias"):
            t_closeness_report(frame, quasi, sens)
    # a merely-underscored but non-reserved name still works
    ok = spark.createDataFrame([("a", 1), ("a", 2)], "_klass string, v int")
    assert t_closeness_report(ok, ["_klass"], "v").count() >= 1


def test_alias_collision_guard_is_case_insensitive(spark):
    """r13 review #5 pin: Spark resolves column names case-insensitively
    by default, so '_V' collides with the internal '_v' alias just as
    surely — the guard folds case before comparing."""
    import pytest

    from unravelsports_spark.operators.privacy import t_closeness_report

    df = spark.createDataFrame([("x", 1)], "_V string, v int")
    with pytest.raises(ValueError, match="internal alias"):
        t_closeness_report(df, ["_V"], "v")
