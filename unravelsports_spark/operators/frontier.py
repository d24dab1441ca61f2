"""URL-frontier politeness planning (engine addition §2.12; built round
13, driver registration queued r14 as `t_frontier_plan`) — the second
half of the crawl-compliance pair VERDICT r12 named (robots.txt filtering
+ frontier scheduling): a polite crawler fetches at most ``per_host_limit``
URLs from one host per scheduling WAVE, so the frontier planner's job is
to assign every URL a (wave, slot) such that no (host, wave) cell exceeds
the limit and the assignment is REPRODUCIBLE across runs and retries.

Spark-first shape (pure Catalyst, exactly SQL-certifiable):
- ONE shuffle on the canonical host (the row_number window); wave =
  (rank−1) div limit, slot = (rank−1) mod limit — closed-form from the
  per-host rank, no iteration, no driver state;
- the within-host order is DETERMINISTIC: explicit priority first (when
  given), then md5(url) — content-keyed like o13_reservoir_sample, so a
  re-run, a retry, or a differently-partitioned input produces the
  identical plan (a nondeterministic frontier breaks resumable crawls);
- hosts ride :func:`~unravelsports_spark.operators.filtering.
  canonical_host`, the SAME identity the robots filter keys on — a URL
  pair that one operator treats as same-host never splits in the other.

At 100 TB: the window is the only corpus exchange and it partitions by
host, the natural crawl key. A pathologically hot host (one domain =
half the corpus) makes one heavy partition — same caveat as any per-host
operator; shard such hosts upstream or cap them with a WHERE on wave.

Ties to the reference: none (beyond-reference pipeline surface); the
window + closed-form arithmetic idiom follows plans/relational.py's
w3_rank_topk / t_sequence_packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def frontier_plan(
    urls: DataFrame,
    per_host_limit: int,
    url_col: str = "url",
    priority_col: str | None = None,
) -> DataFrame:
    """Annotate ``urls`` with (``host``, ``wave``, ``slot``): slot <
    per_host_limit within every (host, wave), waves dense from 0 per
    host, order = priority DESC (when given) then md5(url). A NULL or
    non-URL row groups under the empty host '' — schedule or drop it
    explicitly downstream. PRECONDITION (enforced loud): urls are
    DISTINCT — duplicate rows (or more than one NULL) tie on every sort
    key and would make the assignment nondeterministic."""
    from . import precondition_filter, require_new_column
    from .filtering import url_canonical_host

    if per_host_limit < 1:
        raise ValueError(f"per_host_limit must be >= 1, got {per_host_limit}")
    for col in ("host", "wave", "slot", "_rk", "_fdup"):
        require_new_column(urls, col)
    host = url_canonical_host(F.col(url_col))  # the shared identity
    order = (
        [F.col(priority_col).desc()] if priority_col else []
    ) + [F.md5(F.col(url_col)).asc()]
    w = Window.partitionBy("host").orderBy(*order)
    n = int(per_host_limit)
    hosted = urls.withColumn("host", F.coalesce(host, F.lit("")))
    ranked = hosted.withColumn(
        "_rk", (F.row_number().over(w) - 1).cast("long")
    )
    # reproducibility PRECONDITION, enforced loud (r13 review pass 14 #1:
    # two rows with the IDENTICAL url — including multiple NULLs — tie on
    # every sort key, so row_number would assign their waves arbitrarily,
    # exactly the resumable-crawl breakage the module exists to prevent;
    # a crawler fetches each URL once, so duplicates mean a broken
    # frontier build: exact_dedup/distinct upstream). The count window
    # keys (host, url) and sits ABOVE the rank window: duplicates always
    # share a host, and hashpartitioning(host) already satisfies
    # clustering on (host, url), so the tripwire reuses the ONE exchange
    # (plan-guarded) instead of adding a url-keyed shuffle.
    ranked = precondition_filter(
        ranked.withColumn(
            "_fdup",
            F.count("*").over(Window.partitionBy("host", F.col(url_col))),
        ),
        F.col("_fdup") == 1,
        "frontier_plan precondition: duplicate url rows (or multiple "
        "NULL urls) make the (wave, slot) assignment nondeterministic — "
        "dedupe the frontier upstream (exact_dedup / distinct)",
    ).drop("_fdup")
    return (
        # integer div, not float-divide-and-cast — exact at any rank
        ranked.withColumn("wave", F.expr(f"_rk div {n}"))
        .withColumn("slot", F.expr(f"_rk % {n}"))
        .drop("_rk")
    )
