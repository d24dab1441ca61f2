"""Equivalence sweep for the two-level window decompositions that share
operators/serieswin.py's gate, bucket rule and join-back: for every n_ranges
the decomposed moving-frame, gap-neighbor and sequence-packing operators
must reproduce their naive single-window form (``n_ranges=None``) exactly —
including sparse order domains, buckets holding fewer rows than the frame,
all-null buckets, leading/trailing null runs, keys whose series is shorter
than the frame, NULL keys and order values, ties, empty input, one hot key,
non-integral order columns, inexact summed values and 64-bit order spans."""

import random
from collections import Counter
from decimal import Decimal

import pytest

from pyspark.sql import functions as F

from unravelsports_spark.operators.packing import pack_sequences
from unravelsports_spark.operators.serieswin import gap_neighbors, moving_sum_count


def _series_df(spark, seed=11, n=400, sparse=True):
    rng = random.Random(seed)
    ids = sorted(rng.sample(range(0, 1_000_000 if sparse else n * 2), n))
    rows = []
    for i, oid in enumerate(ids):
        part = f"t{i % 3}"
        # null runs: every value whose id hits the mask, plus a leading run
        v = None if (oid % 5 == 0 or i < 4) else round(rng.uniform(0, 100), 2)
        rows.append((part, oid, v))
    # one key with fewer rows than any frame/bucket interaction
    rows += [("tiny", 7, 1.5), ("tiny", 900_001, None)]
    return spark.createDataFrame(rows, "event_type string, event_id bigint, value double")


def _canon(df, cols):
    # multiset compare via repr: rows may hold None, which Python can't sort
    return sorted(
        repr(tuple(round(x, 9) if isinstance(x, float) else x for x in r))
        for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("n_ranges", [1, 4, 64, 1000])
def test_moving_sum_count_equals_single_window(spark, n_ranges):
    df = _series_df(spark).filter(F.col("value").isNotNull())
    cols = ["event_type", "event_id", "win_sum", "win_n"]
    base = _canon(
        moving_sum_count(
            df, "event_type", "event_id", F.col("value").cast("decimal(18,2)"),
            lookback=3, n_ranges=None,
        ).withColumn("win_sum", F.col("win_sum").cast("double")),
        cols,
    )
    got = _canon(
        moving_sum_count(
            df, "event_type", "event_id", F.col("value").cast("decimal(18,2)"),
            lookback=3, n_ranges=n_ranges,
        ).withColumn("win_sum", F.col("win_sum").cast("double")),
        cols,
    )
    assert got == base, n_ranges


@pytest.mark.parametrize("n_ranges", [1, 4, 64, 1000])
def test_gap_neighbors_equals_single_window(spark, n_ranges):
    df = _series_df(spark)
    cols = ["event_type", "event_id", "rn", "prev_v", "prev_rn", "next_v", "next_rn"]
    base = _canon(gap_neighbors(df, "event_type", "event_id", "value", n_ranges=None), cols)
    got = _canon(gap_neighbors(df, "event_type", "event_id", "value", n_ranges=n_ranges), cols)
    assert got == base, n_ranges


@pytest.mark.parametrize("n_ranges", [1, 2, 5, 64])
def test_moving_sum_null_values_across_buckets(spark, n_ranges):
    """NULL values under a non-null integral order take the decomposed path
    (decimal values: a double sum takes the naive one): a frame whose
    in-bucket values are all NULL still sums the carry from the buckets
    before it (ids 0–9, NULL at 5 and 6: at id 6 the frame 3..6 sums to 7)."""
    rows = [("a", i, None if i in (5, 6) else Decimal(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "event_type string, event_id bigint, value decimal(4,1)")
    cols = ["event_type", "event_id", F.col("win_sum").cast("double"), "win_n"]
    base = _canon(moving_sum_count(df, "event_type", "event_id", F.col("value"), 3, n_ranges=None), cols)
    got = _canon(moving_sum_count(df, "event_type", "event_id", F.col("value"), 3, n_ranges=n_ranges), cols)
    assert got == base
    assert repr(("a", 6, 7.0, 4)) in base


_WIDE = (1 << 62) + 5

#: (schema of k/o/v, rows): ROADMAP direction 5's inputs plus the three
#: three wrong-answer repros (wide span, cancelling doubles, NULL series key). Tied rows
#: are whole-row duplicates, so the multiset of outputs is independent of
#: the order a sort leaves them in.
_CASES = {
    "null_values": ("bigint", "bigint", [
        (f"k{i % 2}", i, None if i % 3 == 0 else i) for i in range(30)
    ]),
    "null_keys": ("bigint", "bigint", [
        (k, i, i) for k in (None, "a") for i in range(10)
    ]),
    "null_order": ("bigint", "double", [
        ("a", 1, 1.0), ("a", None, 2.0), ("a", 3, None), ("b", 2, 4.0), ("b", None, 5.0),
    ]),
    "ties": ("bigint", "bigint", [
        ("a", i // 3, i // 3 + 1) for i in range(24)
    ] + [("b", 5, 7)] * 5),
    "empty": ("bigint", "bigint", []),
    "hot_key": ("bigint", "bigint", [
        ("hot", i * 37, i % 11) for i in range(300)
    ] + [("cold", 4, 1), ("cold", 9_000, 2)]),
    "double_order": ("double", "bigint", [
        ("a", i / 4, i) for i in range(20)
    ]),
    "decimal_values": ("bigint", "decimal(18,2)", [
        (f"k{i % 3}", i * 7, Decimal(i) / 4) for i in range(40)
    ]),
    "cancelling_doubles": ("bigint", "double", [
        ("a", i, v) for i, v in enumerate([1e16, 1.0, -1e16, 1.0] * 4)
    ]),
    "wide_span": ("bigint", "bigint", [
        ("a", -_WIDE, 1), ("a", -5, 2), ("a", 0, None), ("a", 7, 3),
        ("a", _WIDE, 4), ("b", 3, 5),
    ]),
}


def _battery_runs(df):
    """Each operator's output for a given n_ranges, over the k/o/v frame."""
    return {
        "gap_neighbors": lambda n: gap_neighbors(df, "k", "o", "v", n_ranges=n),
        "moving_sum_count": lambda n: moving_sum_count(
            df, "k", "o", F.col("v"), lookback=3, n_ranges=n
        ),
        "pack_sequences": lambda n: pack_sequences(
            df, budget=5, token_col="v", order_col="o", by=("k",), n_ranges=n
        ),
    }


@pytest.mark.parametrize("n_ranges", [1, 4, 64, 1000])
@pytest.mark.parametrize("case", list(_CASES))
def test_fast_path_equals_naive(spark, case, n_ranges):
    """One input set through all three operators: the ranged path returns
    the naive form's rows and schema exactly (no float tolerance)."""
    order_t, value_t, rows = _CASES[case]
    df = spark.createDataFrame(rows, f"k string, o {order_t}, v {value_t}")
    for op, run in _battery_runs(df).items():
        naive, got = run(None), run(n_ranges)
        assert got.dtypes == naive.dtypes, (op, got.dtypes, naive.dtypes)
        want = Counter(map(tuple, naive.collect()))
        assert sum(want.values()) == len(rows), op
        assert Counter(map(tuple, got.collect())) == want, op
