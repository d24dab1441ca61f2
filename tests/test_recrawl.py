"""Change-rate recrawl scheduling (operators/recrawl.py) — built round
14, driver registration queued r15 (`t_recrawl_schedule`).
T_RECRAWL_SQL verified here is the r15 oracle; `_recrawl_query` is the
query shape that moves to the plans registry at registration,
as the crawl queries' did. The oracle is EXACT SQL (the frontier style): both
engines derive the identical change counts from the same lag window and
the identical intervals from the same integer-DIV arithmetic — no
floats, no ln, engine-portable by construction."""

import datetime

import pytest

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.base import PySparkException
from pyspark.sql import functions as F

from .conftest import SF_CORRECT

#: fetch history synthesized from events: url per user, fingerprint =
#: event_type except every 10th user pinned constant (exercises the
#: never-changed max-interval arm at corpus scale). asof fixed after the
#: data's horizon — a deterministic plan re-runs identically.
T_RECRAWL_SQL = """
    WITH h AS (
      SELECT 'http://s' || (user_id % 7) || '.example/u' || user_id AS url,
             ts AS fetch_ts,
             CASE WHEN user_id % 10 = 0 THEN 'const' ELSE event_type END
               AS content_fp
      FROM events),
    m AS (
      SELECT url, fetch_ts, content_fp,
             epoch_ms(fetch_ts) // 1000 AS ts_sec,
             CASE WHEN lag(content_fp) OVER w IS NOT NULL
                   AND lag(content_fp) OVER w <> content_fp
                  THEN 1 ELSE 0 END AS changed
      FROM h WINDOW w AS (PARTITION BY url ORDER BY fetch_ts)),
    p AS (
      SELECT url, COUNT(*) AS n_fetches, MAX(ts_sec) AS last_sec,
             MAX(ts_sec) - MIN(ts_sec) AS span_sec,
             CAST(SUM(changed) AS BIGINT) AS n_changes
      FROM m GROUP BY url),
    s AS (
      SELECT url, n_fetches, n_changes, last_sec,
             CASE WHEN n_fetches < 2 OR n_changes = 0
                  THEN CAST(2592000 AS BIGINT)
                  ELSE GREATEST(LEAST(span_sec // n_changes,
                                      CAST(2592000 AS BIGINT)),
                                CAST(3600 AS BIGINT)) END AS interval_sec
      FROM p)
    SELECT url, n_fetches, n_changes, interval_sec,
           last_sec + interval_sec AS next_fetch_sec,
           GREATEST(CAST(0 AS BIGINT),
                    ((epoch_ms(TIMESTAMP '2024-03-01 00:00:00') // 1000
                      - last_sec) * 100) // interval_sec) AS overdue_pct
    FROM s
"""


def _recrawl_query(spark, sf_dir):
    """The r15 t_recrawl_schedule query shape: per-url schedule over the
    events-table fetch history (one row per url — 150 at sf0.01), the
    timestamp leg projected to epoch seconds for cross-engine identity."""
    from unravelsports_spark.operators.recrawl import recrawl_schedule
    from unravelsports_spark.session import read_table

    events = read_table(spark, sf_dir, "events")
    history = events.select(
        F.concat(
            F.lit("http://s"), (F.col("user_id") % 7).cast("string"),
            F.lit(".example/u"), F.col("user_id").cast("string"),
        ).alias("url"),
        F.col("ts").alias("fetch_ts"),
        F.when(F.col("user_id") % 10 == 0, F.lit("const"))
        .otherwise(F.col("event_type"))
        .alias("content_fp"),
    )
    out = recrawl_schedule(history, asof="2024-03-01 00:00:00")
    return out.select(
        "url", "n_fetches", "n_changes", "interval_sec",
        F.unix_timestamp("next_fetch_ts").alias("next_fetch_sec"),
        "overdue_pct",
    )


def test_recrawl_matches_duckdb(spark, duck):
    got = sorted(map(tuple, _recrawl_query(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(T_RECRAWL_SQL).fetchall()))
    assert got == want and len(got) == 150
    # the schedule must genuinely discriminate: both interval arms hit
    intervals = {r[3] for r in got}
    assert 2592000 in intervals and len(intervals) > 1


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_hand_cases(spark):
    """Interval arms one by one: changing URL (span/changes), min clamp,
    max clamp via never-changed, single fetch, overdue arithmetic."""
    from unravelsports_spark.operators.recrawl import recrawl_schedule

    rows = [
        # u1: 3 fetches over 2h, 2 changes -> interval 3600 (span 7200/2)
        ("u1", _ts("2024-01-01 00:00:00"), "a"),
        ("u1", _ts("2024-01-01 01:00:00"), "b"),
        ("u1", _ts("2024-01-01 02:00:00"), "c"),
        # u2: changes every second -> clamped UP to min_interval
        ("u2", _ts("2024-01-01 00:00:00"), "a"),
        ("u2", _ts("2024-01-01 00:00:01"), "b"),
        # u3: never changes -> max_interval
        ("u3", _ts("2024-01-01 00:00:00"), "a"),
        ("u3", _ts("2024-01-02 00:00:00"), "a"),
        # u4: single fetch -> max_interval
        ("u4", _ts("2024-01-01 00:00:00"), "a"),
        # u5: change then revert counts TWO changes (a->b->a)
        ("u5", _ts("2024-01-01 00:00:00"), "a"),
        ("u5", _ts("2024-01-01 12:00:00"), "b"),
        ("u5", _ts("2024-01-02 00:00:00"), "a"),
    ]
    df = spark.createDataFrame(rows, "url string, fetch_ts timestamp, content_fp string")
    got = {
        r["url"]: r.asDict()
        for r in recrawl_schedule(
            df, asof="2024-01-03 00:00:00",
            min_interval_sec=3600, max_interval_sec=86400 * 30,
        ).collect()
    }
    assert got["u1"]["n_changes"] == 2 and got["u1"]["interval_sec"] == 3600
    # overdue: asof - last(02:00) = 46h = 165600s over 3600 -> 4600%
    assert got["u1"]["overdue_pct"] == 165600 * 100 // 3600
    assert got["u2"]["interval_sec"] == 3600  # min clamp (span 1s / 1 change)
    assert got["u3"]["n_changes"] == 0 and got["u3"]["interval_sec"] == 86400 * 30
    # one day of a 30-day interval elapsed -> 3% (far from due)
    assert got["u3"]["overdue_pct"] == 86400 * 100 // (86400 * 30)
    assert got["u4"]["n_fetches"] == 1 and got["u4"]["interval_sec"] == 86400 * 30
    assert got["u5"]["n_changes"] == 2 and got["u5"]["interval_sec"] == 43200
    assert got["u5"]["next_fetch_ts"] == _ts("2024-01-02 12:00:00")


def test_duplicate_fetch_ts_trips_loud(spark):
    from unravelsports_spark.operators.recrawl import recrawl_schedule

    rows = [
        ("u1", _ts("2024-01-01 00:00:00"), "a"),
        ("u1", _ts("2024-01-01 00:00:00"), "b"),
    ]
    df = spark.createDataFrame(rows, "url string, fetch_ts timestamp, content_fp string")
    with pytest.raises((PySparkException, Py4JJavaError), match="duplicate"):
        recrawl_schedule(df, asof="2024-01-02 00:00:00").collect()


def test_bad_params_raise(spark):
    from unravelsports_spark.operators.recrawl import recrawl_schedule

    df = spark.createDataFrame([], "url string, fetch_ts timestamp, content_fp string")
    with pytest.raises(ValueError, match="min_interval_sec"):
        recrawl_schedule(df, asof="2024-01-01 00:00:00", min_interval_sec=0)
    with pytest.raises(ValueError, match="max_interval_sec"):
        recrawl_schedule(
            df, asof="2024-01-01 00:00:00",
            min_interval_sec=100, max_interval_sec=10,
        )
    with pytest.raises(ValueError, match="already a column"):
        recrawl_schedule(
            df.withColumn("n_changes", F.lit(1)), asof="2024-01-01 00:00:00"
        )
    with pytest.raises(ValueError, match="not a timestamp"):
        recrawl_schedule(df, asof="soon")


def test_asof_spellings_agree(spark):
    """Every eagerly-validated asof spelling must also EXECUTE to the
    same instant (r14 review #2/#3: the first version validated ISO but
    executed unix_timestamp's narrower format, so 'T'-separated input
    passed the check then failed; datetime literals were rejected)."""
    from unravelsports_spark.operators.recrawl import recrawl_schedule

    rows = [
        ("u1", _ts("2024-01-01 00:00:00"), "a"),
        ("u1", _ts("2024-01-01 01:00:00"), "b"),
    ]
    df = spark.createDataFrame(rows, "url string, fetch_ts timestamp, content_fp string")
    spellings = [
        "2024-01-03 00:00:00",
        "2024-01-03T00:00:00",
        "2024-01-03",
        _ts("2024-01-03 00:00:00"),
    ]
    got = {
        str(a): recrawl_schedule(df, asof=a).collect()[0]["overdue_pct"]
        for a in spellings
    }
    assert len(set(got.values())) == 1 and None not in got.values(), got


def test_single_shuffle_plan(spark):
    """ONE url exchange end-to-end: the lag window, the dup-count window,
    and the per-url aggregate must all ride the same hash partitioning —
    a second Exchange means the agg re-shuffled what the window already
    partitioned."""
    from unravelsports_spark.operators.recrawl import recrawl_schedule
    from unravelsports_spark.session import read_table

    events = read_table(spark, SF_CORRECT, "events")
    history = events.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("fetch_ts"),
        F.col("event_type").alias("content_fp"),
    )
    out = recrawl_schedule(history, asof="2024-03-01 00:00:00")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_frontier_integration(spark):
    """The advertised loop closure: overdue_pct feeds frontier_plan as
    priority — the most-overdue URL of each host lands in wave 0."""
    from unravelsports_spark.operators.frontier import frontier_plan
    from unravelsports_spark.operators.recrawl import recrawl_schedule

    rows = [
        ("http://h.example/stale", _ts("2024-01-01 00:00:00"), "a"),
        ("http://h.example/stale", _ts("2024-01-01 01:00:00"), "b"),
        ("http://h.example/fresh", _ts("2024-02-28 00:00:00"), "a"),
        ("http://h.example/fresh", _ts("2024-02-28 23:00:00"), "b"),
    ]
    df = spark.createDataFrame(rows, "url string, fetch_ts timestamp, content_fp string")
    sched = recrawl_schedule(df, asof="2024-03-01 00:00:00")
    planned = frontier_plan(
        sched.select("url", "overdue_pct"), per_host_limit=1,
        priority_col="overdue_pct",
    )
    waves = {r["url"]: r["wave"] for r in planned.collect()}
    assert waves["http://h.example/stale"] == 0
    assert waves["http://h.example/fresh"] == 1
