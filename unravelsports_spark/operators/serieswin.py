"""Two-level decompositions for ordered windows over LOW-CARDINALITY keys
(the skew/funnel shape), and the one rule for splitting such a window into
fixed integer ranges.

``Window.partitionBy(series_key)`` plans ONE reducer per key value: with a
handful of event types, three tasks sort the entire table at any scale.
The operators here, :func:`~unravelsports_spark.operators.packing.pack_sequences`
and :func:`~unravelsports_spark.operators.sharding.shard_assignments` cut
the order column into fixed ranges, run the window WITHIN (key, bucket),
and restore exactness across buckets with O(#buckets)-sized carry state.
Each keeps its own carry math and shares three pieces defined here (the
shard operator only the bucket rule: its order domain is fixed and its
offsets ride back as a literal map):

- the gate, :func:`range_split`: the split runs only when the order column
  is integral and NULL-free, the input is not empty, ``|lo|`` and the span
  fit in 62 bits (so ``order - lo`` cannot overflow), and every column the
  operator sums is integral or decimal (regrouped float addition is not
  associative). Otherwise the operator takes its naive single-window form;
- the bucket rule, :func:`range_bucket`: ``(order - lo) div
  ceil(span / n_ranges)``, a pure projection whose order IS order-column
  order; ties share a bucket;
- the join-back, :func:`null_safe_on`: null-safe over (keys…, bucket), so
  a NULL key finds its carry row as the naive window keeps its NULL
  partition. Null-safe keys are still hash-joinable.

The serieswin operators:

- :func:`moving_sum_count` (w10 shape — ROWS [k PRECEDING, CURRENT]): a
  frame reaches at most ``lookback`` rows behind, so the only cross-bucket
  state is each bucket's last ``lookback`` rows. Those tail rows (≤ k per
  bucket) are numbered per key, and each bucket's entry carry is the sum /
  count of the ≤ k tail rows immediately preceding its first row — joined
  back broadcast and added to the in-bucket running frame for the first
  ``k`` rows of every bucket. A non-tail row can never be among the k rows
  preceding a later bucket (its own bucket holds ≥ k rows after it), so
  the tail table is sufficient.
- :func:`gap_neighbors` (w9 shape — nearest non-null neighbor + global row
  number): per bucket, an in-bucket IGNORE-NULLS running pass resolves
  neighbors for rows whose nearest non-null lies inside the bucket; a
  per-bucket aggregate (row count, first/last non-null with local row
  number) feeds a bucket-table-sized prefix pass (per key, ordered by
  bucket) that produces each bucket's row-number offset and its
  entry/exit carries — the nearest non-null BEFORE the bucket and AFTER
  it. ``coalesce(in_bucket, carry)`` is then exact for every row, and
  ``rn = offset + local_rn`` reproduces the global row number.

Past the gate every step is exact integer or decimal arithmetic or passes
values through, so results equal the ``n_ranges=None`` form (equivalence
battery over both operators and packing in ``tests/test_serieswin.py``).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")

#: fixed prefix-sum fan-out; reducers per series key = min(n_ranges, span).
#: It only controls parallelism — results are invariant.
DEFAULT_RANGES = 64


def range_bucket(order_col: str, lo: int, span: int, n_ranges: int) -> Column:
    """Fixed-width range bucket of ``order_col`` over ``[lo, lo + span)``;
    no per-row multiplication that could wrap, and the identifier is
    backtick-quoted so any column name parses."""
    width = max(1, -(-span // int(n_ranges)))
    qcol = "`" + order_col.replace("`", "``") + "`"
    return F.expr(f"(CAST({qcol} AS BIGINT) - {lo}L) div {width}L")


def range_split(
    df: DataFrame, order_col: str, n_ranges: int | None, sums: Sequence[str] = ()
) -> Column | None:
    """The gate: the :func:`range_bucket` of ``order_col`` when an
    ``n_ranges`` split gives the naive answer, else ``None``. ``sums`` names
    the columns the caller sums across buckets. One 1-row stats job."""
    dtypes = dict(df.dtypes)
    if (
        not n_ranges
        or dtypes.get(order_col) not in _INTEGRAL
        or any(
            dtypes[c] not in _INTEGRAL and not dtypes[c].startswith("decimal")
            for c in sums
        )
    ):
        return None
    mm = df.agg(
        F.min(order_col).alias("lo"),
        F.max(order_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.count(order_col).alias("nn"),
    ).first()
    if mm["lo"] is None or mm["n"] != mm["nn"]:
        return None  # empty input or NULL order values
    lo, span = int(mm["lo"]), int(mm["hi"]) - int(mm["lo"]) + 1
    if span > (1 << 62) or abs(lo) > (1 << 62):
        return None  # (x − lo) could overflow
    return range_bucket(order_col, lo, span, n_ranges)


def null_safe_on(left: Sequence[str], right: Sequence[str]) -> Column:
    """``left[i] <=> right[i]`` for every pair: a plain equi-join would drop
    a NULL key's rows while the naive window keeps them."""
    return reduce(
        lambda a, b: a & b,
        (F.col(x).eqNullSafe(F.col(y)) for x, y in zip(left, right)),
    )


def moving_sum_count(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value: Column,
    lookback: int,
    out_sum: str = "win_sum",
    out_n: str = "win_n",
    n_ranges: int | None = DEFAULT_RANGES,
) -> DataFrame:
    """``SUM(value) / COUNT(*) OVER (PARTITION BY part ORDER BY order ROWS
    BETWEEN lookback PRECEDING AND CURRENT ROW)`` without a per-key-value
    reducer funnel. Output columns ride on the input rows."""
    w_naive = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(-lookback, Window.currentRow)
    )

    def naive():
        return df.withColumn(out_sum, F.sum(value).over(w_naive)).withColumn(
            out_n, F.count(F.lit(1)).over(w_naive)
        )

    d = df.withColumn("_sv", value)
    bucket = range_split(d, order_col, n_ranges, sums=("_sv",))
    if bucket is None:
        return naive()
    d = d.withColumn("_skb", bucket)
    keys = [part_col, "_skb"]
    w_frame = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-lookback, Window.currentRow)
    )
    w_rn = Window.partitionBy(*keys).orderBy(order_col)
    w_drn = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    rows = (
        d.withColumn("_lsum", F.sum("_sv").over(w_frame))
        .withColumn("_lcnt", F.count(F.lit(1)).over(w_frame))
        .withColumn("_lrn", F.row_number().over(w_rn))
        .withColumn("_tdrn", F.row_number().over(w_drn))
    )
    # per-bucket tails (≤ lookback rows each) numbered across buckets per key
    tails = rows.filter(F.col("_tdrn") <= lookback).select(
        part_col, "_skb", order_col, "_sv"
    )
    w_t = Window.partitionBy(part_col).orderBy("_skb", order_col)
    tails = tails.withColumn("_trn", F.row_number().over(w_t))
    ft = tails.groupBy(part_col, "_skb").agg(F.min("_trn").alias("_ft"))
    t2, f2 = tails.alias("t"), ft.alias("f")
    prev = t2.join(
        f2,
        null_safe_on([f"t.{part_col}"], [f"f.{part_col}"])
        & (F.col("t._trn") >= F.col("f._ft") - lookback)
        & (F.col("t._trn") <= F.col("f._ft") - 1),
    ).select(
        F.col(f"f.{part_col}").alias("_p"),
        F.col("f._skb").alias("_b"),
        F.col("t._trn").alias("_trn"),
        F.col("t._sv").alias("_sv"),
    )
    w_r = Window.partitionBy("_p", "_b").orderBy(F.col("_trn").desc())
    prev = prev.withColumn("_r", F.row_number().over(w_r))
    carry = prev.groupBy("_p", "_b").agg(
        *[
            F.sum(F.when(F.col("_r") <= m, F.col("_sv"))).alias(f"_cs{m}")
            for m in range(1, lookback + 1)
        ],
        *[
            F.count(F.when(F.col("_r") <= m, F.lit(1))).alias(f"_cc{m}")
            for m in range(1, lookback + 1)
        ],
    )
    joined = rows.join(
        F.broadcast(carry), null_safe_on([part_col, "_skb"], ["_p", "_b"]), "left"
    )
    m = F.lit(lookback) - (F.col("_lrn") - 1)  # rows missing from the frame
    cs = F.lit(None)
    cc = F.lit(None)
    for k in range(1, lookback + 1):
        cs = F.when(m == k, F.col(f"_cs{k}")).otherwise(cs)
        cc = F.when(m == k, F.col(f"_cc{k}")).otherwise(cc)
    zero_n = F.lit(0).cast("long")
    return (
        joined.withColumn(
            out_sum,
            # SUM ignores NULLs: an all-NULL side contributes nothing, and
            # the frame is NULL only when both sides are. The cast keeps the
            # naive frame sum's type (a decimal sum of two sums widens).
            F.when(m <= 0, F.col("_lsum"))
            .otherwise(F.coalesce(F.col("_lsum") + cs, F.col("_lsum"), cs))
            .cast(d.select(F.sum("_sv")).dtypes[0][1]),
        )
        .withColumn(
            out_n,
            F.when(m <= 0, F.col("_lcnt")).otherwise(
                F.col("_lcnt") + F.coalesce(cc, zero_n)
            ),
        )
        .drop(
            "_skb", "_sv", "_lsum", "_lcnt", "_lrn", "_tdrn", "_p", "_b",
            *[f"_cs{k}" for k in range(1, lookback + 1)],
            *[f"_cc{k}" for k in range(1, lookback + 1)],
        )
    )


def gap_neighbors(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    n_ranges: int | None = DEFAULT_RANGES,
) -> DataFrame:
    """Attach ``rn`` (row number per key over the order column) and the
    nearest non-null neighbors ``prev_v/prev_rn/next_v/next_rn`` — the w9
    interpolation inputs — without a per-key-value reducer funnel. "Next"
    follows ``rn``, so rows that tie on the order column see each other in
    one consistent order."""

    def naive():
        w_rn = Window.partitionBy(part_col).orderBy(order_col)
        wp = w_rn.rowsBetween(Window.unboundedPreceding, -1)
        wn = (
            Window.partitionBy(part_col)
            .orderBy(F.col("rn").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        v = F.col(value_col)
        # bigint like the decomposed path (offset sums are long there)
        out = df.withColumn("rn", F.row_number().over(w_rn).cast("bigint"))
        rn_if = F.when(v.isNotNull(), F.col("rn"))
        return (
            out.withColumn("prev_v", F.last(value_col, ignorenulls=True).over(wp))
            .withColumn("prev_rn", F.last(rn_if, ignorenulls=True).over(wp))
            .withColumn("next_v", F.last(value_col, ignorenulls=True).over(wn))
            .withColumn("next_rn", F.last(rn_if, ignorenulls=True).over(wn))
        )

    bucket = range_split(df, order_col, n_ranges)
    if bucket is None:
        return naive()
    b = df.withColumn("_skb", bucket)
    v = F.col(value_col)
    keys = [part_col, "_skb"]
    w_asc = Window.partitionBy(*keys).orderBy(order_col)
    w_asc_prec = w_asc.rowsBetween(Window.unboundedPreceding, -1)
    w_desc = Window.partitionBy(*keys).orderBy(F.col("_lrn").desc())
    w_desc_prec = w_desc.rowsBetween(Window.unboundedPreceding, -1)
    rows = b.withColumn("_lrn", F.row_number().over(w_asc))
    lrn_if = F.when(v.isNotNull(), F.col("_lrn"))
    rows = (
        rows.withColumn("_pv", F.last(value_col, ignorenulls=True).over(w_asc_prec))
        .withColumn("_pl", F.last(lrn_if, ignorenulls=True).over(w_asc_prec))
        .withColumn("_nv", F.last(value_col, ignorenulls=True).over(w_desc_prec))
        .withColumn("_nl", F.last(lrn_if, ignorenulls=True).over(w_desc_prec))
    )
    # O(#buckets) state per key: row count + first/last non-null with local rn
    bk = rows.groupBy(part_col, "_skb").agg(
        F.count(F.lit(1)).alias("_c"),
        F.max(F.when(v.isNotNull(), F.struct(F.col("_lrn"), v.alias("_v")))).alias(
            "_lastnn"
        ),
        F.min(F.when(v.isNotNull(), F.struct(F.col("_lrn"), v.alias("_v")))).alias(
            "_firstnn"
        ),
    )
    w_b_asc = Window.partitionBy(part_col).orderBy("_skb")
    w_b_asc_prec = w_b_asc.rowsBetween(Window.unboundedPreceding, -1)
    w_b_desc_prec = (
        Window.partitionBy(part_col)
        .orderBy(F.col("_skb").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bk = bk.withColumn(
        "_off", F.coalesce(F.sum("_c").over(w_b_asc_prec), F.lit(0)).cast("bigint")
    )
    gl_last = F.when(
        F.col("_lastnn").isNotNull(),
        F.struct(
            (F.col("_off") + F.col("_lastnn._lrn")).alias("rn"),
            F.col("_lastnn._v").alias("v"),
        ),
    )
    gl_first = F.when(
        F.col("_firstnn").isNotNull(),
        F.struct(
            (F.col("_off") + F.col("_firstnn._lrn")).alias("rn"),
            F.col("_firstnn._v").alias("v"),
        ),
    )
    bk = bk.withColumn("_gl_last", gl_last).withColumn("_gl_first", gl_first)
    bk = bk.withColumn(
        "_carry_prev", F.last("_gl_last", ignorenulls=True).over(w_b_asc_prec)
    ).withColumn(
        "_carry_next", F.last("_gl_first", ignorenulls=True).over(w_b_desc_prec)
    )
    bk = bk.select(
        F.col(part_col).alias("_p"),
        F.col("_skb").alias("_b"),
        "_off",
        "_carry_prev",
        "_carry_next",
    )
    joined = rows.join(F.broadcast(bk), null_safe_on([part_col, "_skb"], ["_p", "_b"]))
    return (
        joined.withColumn("rn", (F.col("_off") + F.col("_lrn")))
        .withColumn("prev_v", F.coalesce(F.col("_pv"), F.col("_carry_prev.v")))
        .withColumn(
            "prev_rn",
            F.coalesce(F.col("_off") + F.col("_pl"), F.col("_carry_prev.rn")),
        )
        .withColumn("next_v", F.coalesce(F.col("_nv"), F.col("_carry_next.v")))
        .withColumn(
            "next_rn",
            F.coalesce(F.col("_off") + F.col("_nl"), F.col("_carry_next.rn")),
        )
        .drop(
            "_skb", "_lrn", "_pv", "_pl", "_nv", "_nl", "_p", "_b", "_off",
            "_carry_prev", "_carry_next",
        )
    )
