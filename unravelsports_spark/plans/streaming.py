"""Streaming-window queries: sliding and session windows over the events
table, as the batch twins of the structured-streaming operators in
``streaming/``, each with an exact DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import read_table
from . import query
from .relational import dsum


# ---------------------------------------------------------------------------
# streaming-semantics windows over the events table (SURVEY §2.9) — the same
# F.window / F.session_window expressions run unchanged under readStream
# (streaming/windows.py); here they are batch queries with exact oracles.
# ---------------------------------------------------------------------------


@query(
    "st_sliding_window",
    oracle="""
    WITH w AS (
      SELECT CAST((FLOOR(epoch(ts) / 300) - k) * 300000 AS BIGINT) AS win_start_ms, value
      FROM events, LATERAL unnest([0, 1]) AS t(k))
    SELECT win_start_ms, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM w GROUP BY win_start_ms
    """,
)
def st_sliding_window(spark, sf_dir):
    """Sliding window (10 min, slide 5 min): each event lands in exactly two
    epoch-aligned windows. Spark's F.window generator is the streaming-native
    form; the oracle enumerates the same windows with epoch arithmetic."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"), "n_events", "sum_value"
        )
    )


@query(
    "st_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 60 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id, CAST(epoch_ms(MIN(ts)) AS BIGINT) AS session_start_ms,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def st_session_window(spark, sf_dir):
    """Gap-based session window (60 min) per user — Spark's F.session_window
    in batch mode; identical semantics to the reference's lag+cumsum
    sessionization (efpi.py:553-571) when the gap predicate replaces the
    value-change predicate. The oracle is exactly that formulation."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "60 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "st_session_window_native",
    oracle="""
    WITH o AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms,
             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w >= 1800000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts_ms,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM o
    )
    SELECT user_id, MIN(ts_ms) AS session_start_ms,
           MAX(ts_ms) + 1800000 AS session_end_ms,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_no
    """,
)
def st_session_window_native(spark, sf_dir):
    """Spark's NATIVE session_window aggregation (ST2 twin), cross-validated
    against the classic lag+cumsum SQL formulation as the oracle: proves the
    built-in operator's merge semantics (merge while gap < 30 min; session
    end = last event + gap) match the relational definition exactly. Same
    expression works under readStream with a watermark (state-bounded)."""
    from .relational import ms

    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window(F.col("ts").cast("timestamp"), "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            ms(F.col("session_window.start")).alias("session_start_ms"),
            ms(F.col("session_window.end")).alias("session_end_ms"),
            "n_events",
        )
    )
