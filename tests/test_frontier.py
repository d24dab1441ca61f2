"""URL-frontier politeness planning (operators/frontier.py) — built round
13, REGISTERED round 14 as `t_frontier_plan`. The canonical oracle SQL and
query shape now live in plans/corpus10.py (the corpus7/8/9 registration
discipline); this suite imports them, so twin and oracle cannot drift.
The oracle re-derives the identical (wave, slot) assignment with the same
window arithmetic — both engines sort by md5(url), which is
engine-independent."""

from pyspark.sql import functions as F

from unravelsports_spark.plans.corpus10 import (
    FRONTIER_SQL,
    t_frontier_plan as _frontier_query,
)

from .conftest import SF_CORRECT


def test_frontier_plan_matches_duckdb(spark, duck):
    got = sorted(map(tuple, _frontier_query(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(FRONTIER_SQL).fetchall()))
    assert got == want and len(got) > 1  # several waves at sf0.01
    # politeness invariant lands in the certified hash: no wave exceeds
    # the limit anywhere
    assert all(max_slot <= 2 for _, _, _, max_slot, _ in got)


def test_frontier_invariants_and_determinism(spark):
    """Per-(host, wave) cell never exceeds the limit; waves are dense
    from 0 per host; the assignment is identical across runs and
    partitionings (content-keyed order)."""
    from unravelsports_spark.operators.frontier import frontier_plan

    urls = spark.createDataFrame(
        [(f"http://h{i % 4}.example/p{i}",) for i in range(40)], "url string"
    )
    planned = frontier_plan(urls, per_host_limit=3)
    rows = planned.collect()
    cells = {}
    for r in rows:
        cells.setdefault((r["host"], r["wave"]), []).append(r["slot"])
    for (h, wv), slots in cells.items():
        assert sorted(slots) == list(range(len(slots))), (h, wv)
        assert len(slots) <= 3
    # dense waves per host: 10 urls / limit 3 -> waves 0..3
    waves = {r["wave"] for r in rows}
    assert waves == {0, 1, 2, 3}
    # determinism across a different input partitioning
    again = {
        (r["url"], r["wave"], r["slot"])
        for r in frontier_plan(urls.repartition(7), per_host_limit=3).collect()
    }
    assert again == {(r["url"], r["wave"], r["slot"]) for r in rows}
    summ = {}
    for r in rows:
        n, top = summ.get(r["wave"], (0, -1))
        summ[r["wave"]] = (n + 1, max(top, r["slot"]))
    assert summ == {0: (12, 2), 1: (12, 2), 2: (12, 2), 3: (4, 0)}


def test_frontier_priority_and_contracts(spark):
    """priority_col schedules high-priority URLs into earlier waves; NULL
    and non-URL rows group under host ''; per_host_limit and column
    collisions fail loud."""
    import pytest

    from unravelsports_spark.operators.frontier import frontier_plan

    urls = spark.createDataFrame(
        [("http://h.example/low1", 1), ("http://h.example/low2", 1),
         ("http://h.example/hi", 9), (None, 5), ("not a url", 5)],
        "url string, prio int",
    )
    planned = {r["url"]: r for r in
               frontier_plan(urls, 1, priority_col="prio").collect()}
    assert planned["http://h.example/hi"]["wave"] == 0  # priority first
    assert {planned["http://h.example/low1"]["wave"],
            planned["http://h.example/low2"]["wave"]} == {1, 2}
    assert planned[None]["host"] == "" and planned["not a url"]["host"] == ""
    with pytest.raises(ValueError):
        frontier_plan(urls, 0)
    with pytest.raises(ValueError):
        frontier_plan(urls.withColumn("wave", F.lit(1)), 3)


def test_frontier_plan_shape(spark):
    """Scale shape: ONE exchange (the host window); no join, no
    cartesian — the planner is a pure window projection."""
    plan = (
        _frontier_query(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    # the dup tripwire's (host, url) count window REUSES the rank
    # window's host exchange (subset clustering): one host exchange, and
    # NO url-keyed exchange anywhere (the wave rollup's own exchange is
    # the only other one)
    assert plan.count("Exchange hashpartitioning(host") == 1
    assert "Exchange hashpartitioning(url" not in plan
    assert plan.count("Exchange hashpartitioning") == 2  # + the wave rollup


def test_duplicate_urls_fail_loud(spark):
    """r13 review pass 14 #1 pin: duplicate url rows (or multiple NULLs)
    tie on every sort key — the assignment would be nondeterministic, so
    the precondition tripwire fails loud instead."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from unravelsports_spark.operators.frontier import frontier_plan

    dup = spark.createDataFrame(
        [("http://h.example/p",), ("http://h.example/p",)], "url string"
    )
    with pytest.raises((PySparkException, Py4JJavaError),
                       match="nondeterministic"):
        frontier_plan(dup, 3).collect()
    nulls = spark.createDataFrame([(None,), (None,)], "url string")
    with pytest.raises((PySparkException, Py4JJavaError),
                       match="nondeterministic"):
        frontier_plan(nulls, 3).collect()
