"""Token-budget shard assignment via a distributed prefix sum — the step
that turns a filtered corpus into the fixed-size training shards a data
loader consumes (deterministically shuffled, each shard holding ~``budget``
tokens of whole documents).

The naive formulation is a cumulative sum over the globally-shuffled order —
which in Spark is a window with no ``partitionBy``: a SINGLE reducer pulls
the entire corpus through one task. At 100 TB that is the canonical
scale-killer, so this operator computes the same numbers as a two-level
prefix sum with *value-based* (not sampled) range partitioning:

1. ``skey = md5(text) mod 1e6`` is the deterministic shuffle order
   (uniform, reproducible, identical in DuckDB); ``doc_id`` breaks ties.
2. ``bucket = skey div ceil(1e6 / P)`` — P fixed-boundary ranges over the
   fixed ``skey`` domain ``[0, 1e6)``, by the bucket rule every two-level
   window shares (:func:`~unravelsports_spark.operators.serieswin.range_bucket`);
   the domain is known, so no bounds job runs. Unlike
   ``repartitionByRange`` there is no sampling pass and no nondeterminism:
   the bucket is a pure projection, and bucket order IS global ``skey``
   order.
3. A per-bucket window computes local cumulative token counts (P parallel
   window partitions, each ~1/P of the corpus).
4. A P-row partial aggregate computes per-bucket totals, collected to the
   driver (P rows — O(parallelism), not O(data)); the prefix sum over them
   is computed driver-side and shipped back as a P-entry literal map, so
   attaching each bucket's global offset is a pure projection — no
   broadcast exchange, no join, no second pass over the corpus. The narrow
   projected table ``(doc_id, skey, n_tokens, bucket)`` is persisted once
   so the totals pass and the window pass share one lineage even when the
   input is an expensive upstream chain (dedup windows, quality filters).
5. ``global_running = offset + local_running``; a document starting before a
   budget boundary belongs to shard ``(global_running - n_tokens) / budget``
   (greedy whole-document packing, the standard loader contract).

Every step is exact BIGINT arithmetic, so the DuckDB oracle — written as the
naive single window, which is fine single-node — hash-matches exactly: the
two-level decomposition is algebraically the same sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import tracked_persist
from .serieswin import range_bucket

PPM = 1_000_000

#: column names :func:`shard_precompute` attaches; their presence tells
#: :func:`shard_assignments` the caller already paid the text pass upstream
SKEY_PRE = "_skey_pre"
NTOK_PRE = "_ntok_pre"


def _skey() -> F.Column:
    return F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("bigint") % PPM


def _ntokens() -> F.Column:
    return F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")


def shard_precompute(df: DataFrame) -> DataFrame:
    """Attach the packer's shuffle key and token count as per-row columns so
    an upstream survivor-selecting aggregate or anti-join can DROP ``text``
    from its shuffle (guide §2.3: move keys and metadata, not payloads).

    Both columns are pure per-row functions of ``text``, so computing
    them before a dedup ``min_by`` / semantic anti-join yields the identical
    values on every surviving row — same discipline as scoring quality /
    langid before the dedup aggregate (plans/text.py)."""
    return df.withColumn(SKEY_PRE, _skey()).withColumn(NTOK_PRE, _ntokens())


def shard_assignments(df: DataFrame, budget: int, n_ranges: int = 64) -> DataFrame:
    """Per-document shard ids: ``(doc_id, skey, n_tokens, shard_id)``.

    ``n_ranges`` is the prefix-sum fan-out (P above). It only controls
    parallelism — the assignment is identical for every value. Size it to
    the cluster (e.g. 4× executor count); the per-bucket offset table is P
    rows regardless of corpus size.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_ranges <= 0 or n_ranges > PPM:
        raise ValueError(f"n_ranges must be in [1, {PPM}], got {n_ranges}")
    if SKEY_PRE in df.columns and NTOK_PRE in df.columns:
        # the caller already computed (skey, n_tokens) upstream (see
        # shard_precompute) — text never reaches this operator at all
        src = df.select(
            "doc_id",
            F.col(SKEY_PRE).alias("skey"),
            F.col(NTOK_PRE).alias("n_tokens"),
        )
    else:
        # NOT widened (r15, measured): wrapping this projection in
        # widen_narrow_scan was A/B-tested at sf0.1/local[32] — 0.95 s plain
        # vs 1.67 s widened, interleaved best-of-4 — because the round-robin
        # exchange + 32-task granularity on every downstream tiny stage
        # costs more than the one-core md5/split saves; fan-out overhead is
        # exactly the anti-scaling mode VERDICT r14 flagged for this query
        src = df.select("doc_id", _skey().alias("skey"), _ntokens().alias("n_tokens"))
    d = tracked_persist(
        src.withColumn("bucket", range_bucket("skey", 0, PPM, n_ranges))
    )

    # per-bucket totals -> driver (P rows), prefix-summed into a literal map;
    # the offset attach is then a pure projection on the cached narrow table
    totals = {
        r["bucket"]: r["t"]
        for r in d.groupBy("bucket").agg(F.sum("n_tokens").alias("t")).collect()
    }
    offsets: dict[int, int] = {}
    run = 0
    for b in sorted(totals):
        offsets[b] = run
        run += totals[b]
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    ) if offsets else F.create_map()

    local_w = (
        Window.partitionBy("bucket")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("local_run", F.sum("n_tokens").over(local_w))
        .withColumn("offset", F.coalesce(offset_map[F.col("bucket")], F.lit(0)).cast("bigint"))
        .withColumn("run", F.col("offset") + F.col("local_run"))
        .withColumn(
            # floor division, not `/`+cast: Spark's double→bigint cast
            # truncates but DuckDB's rounds — integer semantics on both
            # sides keep the oracle exact
            "shard_id",
            F.floor((F.col("run") - F.col("n_tokens")) / budget).cast("bigint"),
        )
        .select("doc_id", "skey", "n_tokens", "shard_id")
    )


def shard_manifest(df: DataFrame, budget: int, n_ranges: int = 64) -> DataFrame:
    """Shard-level manifest ``(shard_id, n_docs, shard_tokens)`` — what a
    loader reads to plan epochs. Pure integer output, exact oracle."""
    return (
        shard_assignments(df, budget, n_ranges)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
    )


def shard_manifest_sql(budget: int, table: str = "documents", extra_ctes: str = "") -> str:
    """DuckDB oracle: the naive single-window cumsum (same algebra).

    ``extra_ctes`` lets a caller prepend CTEs (e.g. the corpus-prep ``kept``
    chain) and shard their output by passing its name as ``table``."""
    lead = f"{extra_ctes}," if extra_ctes else ""
    return f"""
    WITH {lead} d AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % {PPM} AS skey,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM {table}),
    runs AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY skey, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM d)
    SELECT CAST((run - n_tokens) // {budget} AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM runs GROUP BY 1
    """
