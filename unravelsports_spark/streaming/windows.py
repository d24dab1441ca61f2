"""Structured-Streaming veneer (SURVEY §2.9).

The reference is batch-only; the operators here express event analytics so
the same definition serves a certified batch query and its streaming twin:

- rolling_active_users / retention_cohorts: the one definition of the
  w12 and a20 rewrites, over a distinct (user_id, day) activity set;
- streaming_user_days: a foreachBatch writer that keeps that set as a
  parquet ledger, read back by the `*_from_ledger` twins;
- streaming_touch_attribution: `applyInPandasWithState` first/last-touch
  attribution, the stateful twin of a22;
- ann_search_from_index: IVF top-k over a cell-partitioned index.

Ledger caveat (VERDICT r10 #7): streaming_user_days keys its output by
batch_id from the CHECKPOINT's numbering — the ledger and checkpoint
lifetimes are coupled (wipe both or neither). Restarting with a fresh
checkpoint against a surviving ledger re-numbers batches from 0 and
overwrites the old partitions; the coupling is the caller contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout


def rolling_active_users(ud: DataFrame, window_days: int = 7) -> DataFrame:
    """Distinct (user_id, day) activity → (day_ms, active_users_7d): exact
    rolling-window distinct users per observed day. The ONE definition of
    the rewrite the certified `w12_sliding_distinct_users` query and the
    streaming ledger path share: each user-day explodes into the ≤window
    window-end days it contributes to (a bounded fan-out of the already-
    reduced activity table — never a range self-join), then one
    distinct-count aggregate keyed by day; output days are observed
    activity days only."""
    from ..plans.relational import ms

    days = ud.select("day").distinct()
    fan = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), window_days - 1))
        ).alias("win_day"),
    )
    return (
        fan.join(days, fan.win_day == days.day, "left_semi")
        .groupBy("win_day")
        .agg(F.count_distinct("user_id").alias(f"active_users_{window_days}d"))
        .select(
            ms("win_day").alias("day_ms"),
            f"active_users_{window_days}d",
        )
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )


def retention_cohorts(ud: DataFrame) -> DataFrame:
    """Distinct (user_id, day) activity → (cohort_week_ms, week_offset,
    n_users): the ONE definition of the cohort matrix, shared by the
    certified `a20_retention_cohorts` batch query and the streaming ledger
    path. Cohort week = Monday-truncated week of the user's first active
    day (identical to the week of their first event); offsets divide a
    day-diff of week-truncated dates by 7 — exact integers."""
    from ..plans.relational import ms

    firsts = ud.groupBy("user_id").agg(
        F.date_trunc("week", F.min("day")).alias("cohort_week")
    )
    j = ud.join(firsts, "user_id").select(
        "user_id",
        "cohort_week",
        (
            F.datediff(F.date_trunc("week", F.col("day")), F.col("cohort_week"))
            / F.lit(7)
        )
        .cast("bigint")
        .alias("week_offset"),
    )
    return (
        j.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            ms("cohort_week").alias("cohort_week_ms"), "week_offset", "n_users"
        )
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )


def streaming_user_days(stream_df, ledger_dir: str, checkpoint_dir: str):
    """Maintain the (user_id, day) activity SET incrementally over an event
    stream: each micro-batch appends its distinct user-days to a durable
    parquet ledger keyed by ``batch_id`` (overwrite semantics — a replayed
    batch rewrites its own partition, so the set union can never
    double-count). Set union is idempotent and associative, so the ledger
    merges across batches, shards, and clusters; rolling engagement over
    an event firehose then never re-scans the event log — only the tiny
    user-day set (`rolling_active_users_from_ledger`)."""

    def _process(batch_df, batch_id: int):
        out = batch_df.select(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        ).distinct()
        out.write.mode("overwrite").parquet(f"{ledger_dir}/batch_id={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def rolling_active_users_from_ledger(spark, ledger_dir: str) -> DataFrame:
    """(day_ms, active_users_7d) from the streaming user-day ledger — the
    incremental twin of the certified w12 batch query: distinct across the
    batch partitions (a user-day seen in several batches collapses), then
    the shared rolling_active_users rewrite."""
    ud = (
        spark.read.parquet(ledger_dir)
        .select("user_id", "day")
        .distinct()
    )
    return rolling_active_users(ud, window_days=7)


def retention_cohorts_from_ledger(spark, ledger_dir: str) -> DataFrame:
    """(cohort_week_ms, week_offset, n_users) from the streaming user-day
    ledger — the incremental twin of the certified a20_retention_cohorts
    batch query. The cohort matrix is a pure function of the user-day SET
    (first activity day per user determines the cohort week; each active
    week contributes one offset cell), so the same batch-id-keyed ledger
    `streaming_user_days` maintains for rolling actives serves retention
    with no event-log re-scan: min(day) per user is the day of the user's
    earliest event, hence the same Monday-truncated cohort week a20
    derives from raw timestamps."""
    return retention_cohorts(
        spark.read.parquet(ledger_dir).select("user_id", "day").distinct()
    )


def streaming_touch_attribution(df: DataFrame):
    """Stateful streaming first/last-touch attribution: per-user GroupState
    tracks the first and last touch (view/click/signup) seen strictly
    BEFORE the user's first purchase, across micro-batches — the streaming
    twin of the certified batch a22_touch_attribution. Emits the user's
    current attribution row each batch they appear in; in update mode the
    final write per user carries their converted-state matrix cell.

    Exactness contract: events must arrive in
    event-time order across batches; within a batch rows sort by
    (ts, event_id) — identical to the batch query's min_by/max_by key.
    The contract is ENFORCED observably via the emitted ``ooo_events``
    counter (events arriving with ts at or before a prior batch's
    maximum — strict late arrivals AND cross-batch same-ts ties, whose
    event_id ordering a later batch cannot replay).
    The one subtlety the batch rule forces: a touch at exactly
    the purchase timestamp does NOT attribute (batch: ts < p_ts strictly),
    but stream order may process it first — so state also keeps the
    PREVIOUS last touch (strictly earlier ns than the current last), and
    the purchase event demotes a tied last touch to it. A tied FIRST touch
    means the user had no strictly-earlier touch at all → no attribution.

    State is eight scalars per user — bounded at firehose scale; the batch
    twin recomputes from the full log instead."""
    import pandas as pd

    out_schema = (
        "user_id long, converted boolean, first_touch string, "
        "last_touch string, first_ms long, p_ms long, ooo_events long"
    )
    # nanosecond state for full-resolution comparisons (ms only on emit)
    state_schema = (
        "p_ns long, f_type string, f_ns long, l_type string, l_ns long, "
        "pl_type string, pl_ns long, last_seen long, ooo long"
    )
    touches = {"view", "click", "signup"}

    def fn(key, pdfs, state):
        (p_ns, f_t, f_ns, l_t, l_ns, pl_t, pl_ns, seen, ooo) = (
            state.get if state.exists
            else (None, None, None, None, None, None, None, None, 0)
        )
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            # snapshot BEFORE the batch (same discipline as the funnel):
            # an event tied with a PRIOR batch's max timestamp is flagged —
            # the batch twin breaks same-ts ties by event_id across the
            # whole history, which a later batch cannot replay. Same-ts
            # events within this batch sort correctly and are not flagged.
            prior_ns = seen
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                ns = int(ts.value)
                if prior_ns is not None and ns <= prior_ns:
                    ooo += 1
                seen = ns if seen is None else max(seen, ns)
                if p_ns is not None:
                    continue  # attribution frozen at first purchase
                if et == "purchase":
                    p_ns = ns
                    # ts < p_ts is STRICT in the batch twin: demote/drop
                    # touches tied with the purchase timestamp
                    if l_ns is not None and l_ns == p_ns:
                        if pl_ns is not None:
                            l_t, l_ns = pl_t, pl_ns
                        else:
                            # pl unset means the last touch never strictly
                            # advanced past the first, so l_ns == f_ns ==
                            # p_ns here: the tied first touch drops below
                            l_t, l_ns = None, None
                    if f_ns is not None and f_ns == p_ns:
                        f_t, f_ns, l_t, l_ns = None, None, None, None
                elif et in touches:
                    if f_ns is None:
                        f_t, f_ns = et, ns
                        l_t, l_ns = et, ns
                    elif ns > l_ns:
                        pl_t, pl_ns = l_t, l_ns
                        l_t, l_ns = et, ns
                    elif ns == l_ns:  # later event_id wins the max_by tie
                        l_t = et
                    # ns < l_ns: a strictly-late out-of-order touch (l_ns
                    # can come from a prior batch). Ignore it rather than
                    # overwrite the newer last-touch type — the ooo counter
                    # above already flagged it, and a flagged state must
                    # stay internally consistent (ADVICE r8 #1)
        state.update((p_ns, f_t, f_ns, l_t, l_ns, pl_t, pl_ns, seen, ooo))
        converted = p_ns is not None and f_ns is not None
        to_ms = lambda v: None if v is None else v // 1_000_000  # noqa: E731
        yield pd.DataFrame(
            {"user_id": [key[0]], "converted": [converted],
             "first_touch": [f_t if converted else None],
             "last_touch": [l_t if converted else None],
             "first_ms": [to_ms(f_ns) if converted else None],
             "p_ms": [to_ms(p_ns)], "ooo_events": [ooo]}
        )

    return df.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def ann_search_from_index(
    spark,
    index_dir: str,
    centroids,
    query_vec,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dedup_updates: bool = True,
):
    """IVF top-k over a batch_id-keyed, cell-partitioned index: rank the
    ``n_probe`` nearest cells driver-side (O(model)), scan only those cell
    partitions (PartitionFilters prune the rest at the parquet reader —
    plan-guard tested), exact-cosine rank within the candidates. The probe
    order is the same dim-ascending d2 fold, with the lowest-index
    tie-break, that the `s_ann_from_index` oracle uses, so the search and
    its certified twin cannot diverge.

    UPDATE semantics (r9 review finding): a vector RE-ingested in a later
    batch leaves its old row under the old batch_id partition (the ingest
    is append-only by design). With ``dedup_updates`` (default) the search
    joins its candidates against the per-id LATEST batch_id — derived from
    a NARROW (id, batch_id) scan of the whole index, which parquet column
    pruning keeps tiny while the wide embedding column stays
    partition-pruned — so a stale version can never rank, and a vector
    whose updated embedding moved to an unprobed cell is (correctly for
    IVF) absent rather than served stale. Disable it only for
    append-only-id pipelines, where the narrow scan is pure overhead."""
    import numpy as np

    from ..operators.similarity import cosine_topk

    q = np.asarray(query_vec, dtype=float)
    C = np.asarray(centroids, dtype=float)
    # rank probe cells by the SAME left-to-right dim-ascending d2 fold the
    # SQL oracle's list_reduce uses (np.linalg.norm's pairwise summation
    # can order near-equidistant centroids differently by ~1 ulp — r10
    # review finding); stable argsort = lowest-index tie-break, matching
    # ORDER BY d2, cell
    d2 = np.zeros(len(C))
    for d in range(C.shape[1]):
        diff = C[:, d] - q[d]
        d2 = d2 + diff * diff
    order = np.argsort(d2, kind="stable")
    cells = [int(c) for c in order[: int(n_probe)]]
    idx = spark.read.parquet(index_dir).filter(F.col("cell").isin(cells))
    if dedup_updates:
        latest = (
            spark.read.parquet(index_dir)
            .groupBy(id_col)
            .agg(F.max("batch_id").alias("batch_id"))
        )
        idx = idx.join(latest, [id_col, "batch_id"], "left_semi")
    return cosine_topk(idx, [float(v) for v in q], k, id_col, emb_col)
