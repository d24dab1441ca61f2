"""Sequence packing: assign documents to fixed-token-budget bins — the step
that turns a filtered corpus into training sequences.

Formulation: within each ``source``, documents are ordered by ``doc_id`` and
binned by the START offset of each doc in the concatenated token stream:
``bin = floor((cumsum(n_tokens) − n_tokens) / budget)``. One window cumsum
per source — a single shuffle, no sequential driver loop, and an exact
DuckDB oracle (same SQL window). This is streaming-concatenation packing
(documents may straddle a boundary and get truncated/continued by the
tokenizer downstream), not bin packing — the greedy first-fit variant is
inherently sequential and belongs in the tokenizer, not the engine.

Scale shape (r14, guide §2.4/§2.5): ``source`` is LOW-cardinality (a
handful of sources), so the naive one-window-per-group form funnels the
whole corpus through a handful of reducers. The cumsum therefore runs as a
two-level prefix sum over ``n_ranges`` fixed integer ranges of the order
column: a per-(source, range) local cumsum (sources × n_ranges parallel
window partitions), per-range totals prefix-summed by a window over the
≤ ``n_ranges``-row-per-source bucket table, and a null-safe join-back that
AQE broadcasts. When the split may run, the bucket rule and the join-back
condition are the ones :mod:`~unravelsports_spark.operators.serieswin`
owns for every such decomposition (integral, NULL-free, non-empty order
column within 62 bits); token counts must also be integral. The
decomposition is algebraically the same long sum — identical bins — at the
cost of one 1-row stats job. Otherwise, and with ``n_ranges=None``, the
single-window form runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .serieswin import _INTEGRAL, null_safe_on, range_split


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_ranges: int | None = 64,
) -> DataFrame:
    if budget <= 0:
        raise ValueError("budget must be positive")
    if n_ranges is not None and n_ranges <= 0:
        raise ValueError("n_ranges must be positive or None")

    def naive() -> DataFrame:
        w = Window.partitionBy("source").orderBy("doc_id")
        start = F.sum("n_tokens").over(w) - F.col("n_tokens")
        return df.withColumn("bin", F.floor(start / budget).cast("long"))

    # token counts must be integral, not just exact: the bins
    # divide the running total, and the per-bucket totals are summed as long
    if dict(df.dtypes).get("n_tokens") not in _INTEGRAL:
        return naive()
    bucket = range_split(df, "doc_id", n_ranges)
    if bucket is None:
        return naive()

    from ..cache import tracked_persist

    d = tracked_persist(df.withColumn("_pkb", bucket))
    # default (RANGE, peers-inclusive) frames on BOTH windows, matching the
    # naive form bit-for-bit when doc_id has duplicates: peers share a
    # bucket (the bucket is a function of the order value), so the
    # peers-inclusive local sum + prior-bucket offset IS the naive
    # peers-inclusive global sum (review finding, r14: an explicit ROWS
    # frame here diverged on ties and was order-nondeterministic)
    w_local = Window.partitionBy("source", "_pkb").orderBy("doc_id")
    w_off = Window.partitionBy("source").orderBy("_pkb")
    off = (
        d.groupBy("source", "_pkb")
        .agg(F.sum("n_tokens").cast("long").alias("_pkt"))
        .withColumn("_pkoff", F.sum("_pkt").over(w_off) - F.col("_pkt"))
        .select(
            F.col("source").alias("_pkg"), F.col("_pkb").alias("_pkbr"), "_pkoff"
        )
    )
    cond = null_safe_on(["source", "_pkb"], ["_pkg", "_pkbr"])
    start = F.col("_pkoff") + F.sum("n_tokens").over(w_local) - F.col("n_tokens")
    return (
        d.join(off, cond)
        .withColumn("bin", F.floor(start / budget).cast("long"))
        .drop("_pkb", "_pkbr", "_pkoff", "_pkg")
    )
