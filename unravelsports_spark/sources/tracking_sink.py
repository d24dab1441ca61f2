"""Canonical tracking-table parquet sink/source with a 100 TB-ready layout.

Layout decisions:

- partition directories by ``game_id`` — queries are overwhelmingly
  per-match, so partition pruning turns "one match of a 10k-match corpus"
  into a single-directory scan (PartitionFilters in the plan, guarded in
  tests);
- within a partition, rows are written sorted by (period_id, frame_id,
  id) via ``sortWithinPartitions`` — parquet min/max row-group stats then
  prune frame ranges inside a match without any index;
- rows repartition by ``game_id`` before the write, so each game lands
  as one file (small-file avoidance).

The reference's equivalent is CSV/pickle round-trips of the Polars frame;
parquet + partitioning is the Spark-native form of the same contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import Column


def write_tracking(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        df.repartition(F.col(Column.GAME_ID))
        .sortWithinPartitions(Column.PERIOD_ID, Column.FRAME_ID, Column.OBJECT_ID)
        .write.mode(mode)
        .partitionBy(Column.GAME_ID)
        .parquet(path)
    )


def read_tracking(
    spark: SparkSession, path: str, game_id: str | None = None
) -> DataFrame:
    """Read back; with ``game_id`` the filter lands in PartitionFilters (a
    directory prune, not a data scan)."""
    df = spark.read.parquet(path)
    if game_id is not None:
        df = df.filter(F.col(Column.GAME_ID) == game_id)
    return df
