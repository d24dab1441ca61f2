"""Change-rate recrawl scheduling (engine addition §2.12; built round 14,
driver registration queued r15 as `t_recrawl_schedule`) — the refresh
stage that closes the crawl loop (robots → frontier → fetch → ingest →
REFRESH): a continuously maintained corpus re-fetches pages at a rate
matched to how often they actually change. The classic result (Cho &
Garcia-Molina, "Estimating Frequency of Change", ACM TOIT 2003) is that
revisit frequency should track the observed change rate; this operator
estimates that rate per URL from fetch-history content fingerprints and
emits the next-fetch schedule.

Input: a fetch history ``(url, fetch_ts, content_fp)`` — one row per
completed fetch, ``content_fp`` any stable content fingerprint (the
house fp_sum/md5 shapes, simhash, an ETag). Output, one row per url:

- ``n_fetches``, ``last_ts``;
- ``n_changes`` — fetches whose fingerprint differs from the PREVIOUS
  fetch's (ordered by fetch_ts; the first fetch is not a change);
- ``interval_sec`` — estimated refresh interval: observed span divided
  by observed changes, clamped to [min_interval_sec, max_interval_sec];
  a never-changed or single-fetch URL gets max_interval_sec (nothing
  observed → crawl at the slow floor, the conservative choice);
- ``next_fetch_ts`` = last_ts + interval_sec;
- ``overdue_pct`` — percent of the refresh interval already elapsed at
  ``asof``: 100 × (asof − last_ts) / interval, integer-floored (100 =
  exactly due, above 100 = overdue, 0 only when asof ≤ last_ts).
  The frontier consumes this as a priority column
  (:func:`~unravelsports_spark.operators.frontier.frontier_plan`'s
  ``priority_col``), which closes the loop: overdue URLs schedule into
  the earliest waves.

INTEGER-EXACT by design: every derived quantity is epoch-second integer
arithmetic (DIV, no doubles, no ln), so the DuckDB twin is hash-exact at
any scale — the same cross-engine identity discipline as the frontier.
The Cho/Garcia-Molina ln-based estimator (−ln(1−X/n)/Δ, better when
changes outpace the sampling rate) is a DELIBERATE simplification
victim: it trades a second-order accuracy gain for a float/ln boundary
class the sweep would have to carry forever (the t_unigram_logprob
lesson); span/changes is the same estimator to first order.

Spark-first shape: ONE shuffle on url (the lag window), then the
per-url aggregate rides the SAME partitioning (no second exchange —
plan-guarded in tests/test_recrawl.py), then pure projections. At
100 TB the history table partitions by url, the natural key; the output
is one row per url — corpus-sized input, frontier-sized output.

PRECONDITION (enforced loud): at most one fetch row per (url, fetch_ts)
— a duplicated fetch timestamp makes the lag order, hence n_changes,
nondeterministic (the frontier's distinct-url contract).

Ties to the reference: none (beyond-reference pipeline surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def recrawl_schedule(
    history: DataFrame,
    asof,
    min_interval_sec: int = 3600,
    max_interval_sec: int = 30 * 24 * 3600,
) -> DataFrame:
    """Per-url recrawl schedule from fetch history (see module
    docstring). ``asof`` is the scheduling instant — a timestamp Column
    or literal; pass an explicit value, never "now" (a deterministic
    plan re-runs identically — the frontier reproducibility contract)."""
    from . import precondition_filter, require_new_column

    for col in (
        "_dup", "_changed", "_ts_sec", "n_fetches", "last_ts",
        "n_changes", "interval_sec", "next_fetch_ts", "overdue_pct",
    ):
        require_new_column(history, col)
    if min_interval_sec < 1:
        raise ValueError(f"min_interval_sec must be >= 1, got {min_interval_sec}")
    if max_interval_sec < min_interval_sec:
        raise ValueError(
            f"max_interval_sec {max_interval_sec} < min_interval_sec {min_interval_sec}"
        )
    from pyspark.sql import Column

    if isinstance(asof, str):
        import datetime

        # validate EAGERLY: a malformed string would otherwise flow
        # through the timestamp cast as NULL and silently zero
        # overdue_pct. fromisoformat accepts the same family the cast
        # below does (space or 'T' separator, date-only) — r14 review #2:
        # the first version validated ISO but EXECUTED unix_timestamp's
        # narrower default format, so 'T'-separated input passed the
        # check then died (ANSI) or silently nulled (non-ANSI)
        try:
            datetime.datetime.fromisoformat(asof)
        except ValueError as e:
            raise ValueError(f"asof is not a timestamp: {asof!r}") from e
    # non-Column values (str, datetime.datetime) become literals; the
    # timestamp CAST (not unix_timestamp's single format) does the string
    # parse so every eagerly-validated spelling also executes
    asof_ts = asof if isinstance(asof, Column) else F.lit(asof)
    asof_sec = F.unix_timestamp(asof_ts.cast("timestamp"))
    ts_sec = F.unix_timestamp(F.col("fetch_ts"))

    # full-precision fetch_ts order (unix_timestamp truncates to seconds —
    # ordering by it would make sub-second-distinct fetches tie)
    w = Window.partitionBy("url").orderBy(F.col("fetch_ts"))
    # duplicate (url, fetch_ts) rows tie in the lag order → loud, not
    # nondeterministic (count rides the same url partitioning)
    n_at_ts = F.count("*").over(Window.partitionBy("url", "fetch_ts"))
    marked = (
        history.withColumn("_dup", n_at_ts)
        .withColumn(
            "_changed",
            (
                F.lag("content_fp").over(w).isNotNull()
                & (F.lag("content_fp").over(w) != F.col("content_fp"))
            ).cast("long"),
        )
        .withColumn("_ts_sec", ts_sec)
    )
    marked = precondition_filter(
        marked,
        F.col("_dup") == 1,
        "recrawl_schedule: duplicate (url, fetch_ts) fetch row — "
        "the change order is nondeterministic; dedupe the history upstream",
    )
    per_url = marked.groupBy("url").agg(
        F.count("*").alias("n_fetches"),
        F.max("fetch_ts").alias("last_ts"),
        F.max("_ts_sec").alias("_last_sec"),
        (F.max("_ts_sec") - F.min("_ts_sec")).alias("_span_sec"),
        F.sum("_changed").alias("n_changes"),
    )
    interval = F.when(
        (F.col("n_fetches") < 2) | (F.col("n_changes") == 0),
        F.lit(max_interval_sec).cast("long"),
    ).otherwise(
        # integer DIV end-to-end (module docstring: cross-engine exactness
        # beats the ln estimator's second-order accuracy)
        F.greatest(
            F.least(
                F.expr("_span_sec div n_changes"),
                F.lit(max_interval_sec).cast("long"),
            ),
            F.lit(min_interval_sec).cast("long"),
        )
    )
    return (
        per_url.withColumn("interval_sec", interval)
        .withColumn("_asof_sec", asof_sec)
        .withColumn(
            "next_fetch_ts",
            F.timestamp_seconds(F.col("_last_sec") + F.col("interval_sec")),
        )
        .withColumn(
            "overdue_pct",
            F.greatest(
                F.lit(0).cast("long"),
                F.expr("((_asof_sec - _last_sec) * 100) div interval_sec"),
            ),
        )
        .drop("_span_sec", "_last_sec", "_asof_sec")
    )
