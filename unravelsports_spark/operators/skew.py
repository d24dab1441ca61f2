"""Skew mitigation: salted aggregation.

AQE's skew-join splitting (on in session.py) covers sort-merge joins at
runtime; this helper covers the case AQE cannot fix:

- `salted_agg`: a hot grouping key (one team, one game, one language
  dominating a 100 TB corpus) overloads a single reducer. Two-phase
  aggregation over (key, salt) then key re-aggregates partial results —
  correct for any commutative-associative aggregate list.

Salt is `pmod(hash(unique_col), n)` when a unique column exists (stable,
shuffle-free) or `floor(rand(seed) * n)` otherwise.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, unique_col: str | None = None, seed: int = 7):
    salt = (
        F.pmod(F.hash(F.col(unique_col)), F.lit(n_salts))
        if unique_col is not None
        else F.floor(F.rand(seed) * n_salts).cast("int")
    )
    return df.withColumn("_salt", salt)


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    n_salts: int = 16,
    unique_col: str | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    `partial_aggs` run per (keys, salt); `final_aggs` merge the partials per
    keys (e.g. partial `sum(x) as s` → final `sum(s) as total`). Spark's
    hash-agg already does map-side partial aggregation, so this only wins
    when a single key's *reduce* side is the bottleneck — i.e. true key skew,
    not just large groups.
    """
    salted = with_salt(df, n_salts, unique_col)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)
