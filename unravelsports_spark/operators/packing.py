"""Sequence packing: assign documents to fixed-token-budget bins — the step
that turns a filtered corpus into training sequences.

Formulation: within each ``by`` group, documents are ordered deterministically
(``order_col``) and binned by the START offset of each doc in the
concatenated token stream: ``bin = floor((cumsum(tokens) − tokens) /
budget)``. One window cumsum per group — a single shuffle, no sequential
driver loop, and an exact DuckDB oracle (same SQL window). This is
streaming-concatenation packing (documents may straddle a boundary and get
truncated/continued by the tokenizer downstream), not bin packing — the
greedy first-fit variant is inherently sequential and belongs in the
tokenizer, not the engine.

Scale shape (r14, guide §2.4/§2.5): ``by`` is typically LOW-cardinality
(a handful of sources), so the naive one-window-per-group form funnels the
whole corpus through a handful of reducers. The cumsum therefore runs as a
two-level prefix sum over ``n_ranges`` fixed integer ranges of the order
column: a per-(group, range) local cumsum (groups × n_ranges parallel
window partitions), per-range totals prefix-summed by a window over the
≤ ``n_ranges``-row-per-group bucket table, and a null-safe join-back that
AQE broadcasts. When the split may run, the bucket rule and the join-back
condition are the ones :mod:`~unravelsports_spark.operators.serieswin`
owns for every such decomposition (integral, NULL-free, non-empty order
column within 62 bits); token counts must also be integral. The
decomposition is algebraically the same long sum — identical bins — at the
cost of one 1-row stats job. Otherwise, and with ``n_ranges=None``, the
single-window form runs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .serieswin import _INTEGRAL, null_safe_on, range_split


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    by: Sequence[str] = ("source",),
    out: str = "bin",
    n_ranges: int | None = 64,
) -> DataFrame:
    if budget <= 0:
        raise ValueError("budget must be positive")
    if n_ranges is not None and n_ranges <= 0:
        raise ValueError("n_ranges must be positive or None")

    def naive() -> DataFrame:
        w = Window.partitionBy(*by).orderBy(order_col)
        start = F.sum(token_col).over(w) - F.col(token_col)
        return df.withColumn(out, F.floor(start / budget).cast("long"))

    # token counts must be integral, not just exact: the bins
    # divide the running total, and the per-bucket totals are summed as long
    if dict(df.dtypes).get(token_col) not in _INTEGRAL:
        return naive()
    bucket = range_split(df, order_col, n_ranges)
    if bucket is None:
        return naive()

    from ..cache import tracked_persist

    d = tracked_persist(df.withColumn("_pkb", bucket))
    # default (RANGE, peers-inclusive) frames on BOTH windows, matching the
    # naive form bit-for-bit when order_col has duplicates: peers share a
    # bucket (the bucket is a function of the order value), so the
    # peers-inclusive local sum + prior-bucket offset IS the naive
    # peers-inclusive global sum (review finding, r14: an explicit ROWS
    # frame here diverged on ties and was order-nondeterministic)
    w_local = Window.partitionBy(*by, "_pkb").orderBy(order_col)
    w_off = Window.partitionBy(*by).orderBy("_pkb")
    off = (
        d.groupBy(*by, "_pkb")
        .agg(F.sum(token_col).cast("long").alias("_pkt"))
        .withColumn("_pkoff", F.sum("_pkt").over(w_off) - F.col("_pkt"))
        .select(
            *[F.col(c).alias(f"_pkg{i}") for i, c in enumerate(by)],
            F.col("_pkb").alias("_pkbr"),
            "_pkoff",
        )
    )
    cond = null_safe_on(
        [*by, "_pkb"], [*[f"_pkg{i}" for i in range(len(by))], "_pkbr"]
    )
    start = F.col("_pkoff") + F.sum(token_col).over(w_local) - F.col(token_col)
    return (
        d.join(off, cond)
        .withColumn(out, F.floor(start / budget).cast("long"))
        .drop("_pkb", "_pkbr", "_pkoff", *[f"_pkg{i}" for i in range(len(by))])
    )
