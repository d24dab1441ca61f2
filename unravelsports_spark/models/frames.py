"""The per-frame kernel boundary shared by every model family.

Pressing intensity, both graph converters and EFPI are "a relational
pipeline feeding a per-group matrix kernel": Spark shuffles the rows once on
a group key (match, period, frame chunk), and one Arrow grouped-map pandas
UDF call per group loops over the frames (or segments) inside it. One call
per frame would make 23-row groups and pay the UDF overhead per frame; one
call per chunk amortizes it while keeping full parallelism across matches.

Spark's groupBy does not preserve order, so the order inside a group is
re-established here with a stable sort. A model supplies only its per-run
math: ``fn(runs)`` receives the group's runs and yields output tuples in the
order of the output schema's fields. The group's output leaves the worker in
pandas frames of at most :data:`~unravelsports_spark.sources.shardio.FLUSH_ROWS`
rows, so a large group never holds all of its output at once.
"""

from __future__ import annotations

from itertools import islice
from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..session import repartition_for_kernel
from ..sources.shardio import FLUSH_ROWS


def split_runs(pdf: pd.DataFrame, by: Sequence[str], order: Sequence[str]) -> list[dict]:
    """Sort ``pdf`` stably by ``by`` then ``order`` (NULLs last) and cut it
    into runs of equal ``by`` values, NULL keys counting as equal. Returns
    one ``{column: ndarray}`` per run, every column of ``pdf`` included."""
    if pdf.empty:
        return []
    pdf = pdf.sort_values([*by, *order], kind="stable", na_position="last")
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    cut = np.zeros(len(pdf) - 1, dtype=bool)
    for c in by:
        v = cols[c]
        na = pdf[c].isna().to_numpy()
        cut |= (v[1:] != v[:-1]) & ~(na[1:] & na[:-1])
    bounds = np.flatnonzero(np.r_[True, cut, True])
    return [{c: v[s:e] for c, v in cols.items()} for s, e in zip(bounds[:-1], bounds[1:])]


def map_runs(
    df: DataFrame,
    keys: Sequence[str],
    by: Sequence[str],
    order: Sequence[str],
    fn: Callable[[list[dict]], Iterable[tuple]],
    schema: T.StructType,
) -> DataFrame:
    """Group ``df`` by ``keys`` and build each group's output rows from the
    tuples ``fn(split_runs(group, by, order))`` yields, in frames of at most
    ``FLUSH_ROWS`` rows. The group's input batches are concatenated, because
    the stable sort needs all of them. The explicit hash partitioning on
    ``keys`` keeps AQE from packing the CPU-bound kernel groups into a few
    tasks (session.repartition_for_kernel)."""
    names = schema.fieldNames()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = iter(fn(split_runs(pd.concat(batches, ignore_index=True), by, order)))
        while chunk := list(islice(rows, FLUSH_ROWS)):
            yield pd.DataFrame(chunk, columns=names)

    return repartition_for_kernel(df, keys).groupBy(*keys).applyInPandas(kernel, schema)
