"""The workloads' chains, driven only through the package's public API.

A chain is a list of named ops. Each op runs its part of the pipeline to
completion and returns an order-independent digest of what it produced, so
every repetition can be compared with the first; an op that writes its
output returns a callable instead, which digests the written files once the
op's clock has stopped. The op names are the ``<op>`` in the metric names.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, functions as F, types as T

from unravelsports_spark.datasets.tracking import TrackingDataset
from unravelsports_spark.models.efpi import EFPI
from unravelsports_spark.models.graph_converter import SoccerGraphConverter
from unravelsports_spark.models.pressing_intensity import PressingIntensity
from unravelsports_spark.plans import QUERIES
from unravelsports_spark.settings import GraphSettings
from unravelsports_spark.sources.graph_sink import write_graph_frames
from unravelsports_spark.sources.tracking_sink import read_tracking, write_tracking

from inputs import Match, ingest_objects

DEDUP_QUERIES = (
    "d_dup_clusters",
    "d_cluster_keep_best",
    "d_label_communities",
    "d_pagerank",
    "d_kcore_peeling",
)


@dataclass(frozen=True)
class Digest:
    rows: int
    checksum: tuple


def _rounded(col, dtype):
    """Doubles, also inside arrays, rounded to 9 decimals: numpy's SIMD and
    scalar loops can differ in the last bit of the same value, so the
    batched graph kernel does not reproduce every node feature bit for bit
    across repetitions."""
    if isinstance(dtype, T.DoubleType):
        return F.round(col, 9)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda v: _rounded(v, dtype.elementType))
    return col


def digest(df: DataFrame) -> Digest:
    """Row count and two order-independent 64-bit folds of a row hash, in
    one aggregation job that consumes every output row."""
    h = F.xxhash64(*[_rounded(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]).alias("h")
    row = df.select(h).agg(
        F.count("*").alias("n"),
        F.bit_xor("h").alias("x"),
        F.sum(F.col("h") % (1 << 31)).alias("s"),
    ).first()
    return Digest(int(row["n"]), (row["x"], row["s"]))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


@dataclass
class TrackingChain:
    """Ingest of staged kloppy-shaped matches, then the paper's models:
    PI, graph frames (written with ``write_graph_frames``) and EFPI by frame
    and by possession."""

    spark: object
    work: str
    matches: list[Match]
    tracer: object

    @property
    def tracking_path(self) -> str:
        return os.path.join(self.work, "tracking")

    @property
    def graphs_path(self) -> str:
        return os.path.join(self.work, "graphs")

    def settings(self):
        _, settings = ingest_objects(self.matches[0])
        settings.orientation = "BALL_OWNING_TEAM"
        return settings

    def ops(self) -> list[tuple[str, Callable]]:
        return [
            ("ingest", self.ingest),
            ("pressing", self.pressing),
            ("graphs", self.graphs),
            ("efpi_frame", self.efpi_frame),
            ("efpi_possession", self.efpi_possession),
        ]

    def ingest(self) -> Callable[[], Digest]:
        span = self.tracer.span
        with span("datasets.load_wide"):
            tables = []
            for m in self.matches:
                objects, settings = ingest_objects(m)
                wide = self.spark.read.parquet(m.path)
                tables.append(TrackingDataset.load_wide(wide, objects, settings, game_id=m.game_id).data)
            data = functools.reduce(DataFrame.unionByName, tables)
        with span("sources.tracking_write"):
            write_tracking(data, self.tracking_path)
        return self.read_digest(self.tracking_path)

    def read_digest(self, path: str) -> Callable[[], Digest]:
        # a written output is digested from what a reader gets back, after
        # the op's clock has stopped
        return lambda: digest(self.spark.read.parquet(path))

    def tracking(self) -> DataFrame:
        return read_tracking(self.spark, self.tracking_path)

    def pressing(self) -> Digest:
        with self.tracer.span("models.pressing.fit"):
            out = PressingIntensity(self.tracking(), self.settings()).fit(
                method="teams", ball_method="max", orient="home_away"
            ).output
        return self.consume(out)

    def graph_frames(self) -> DataFrame:
        s = self.settings()
        data = TrackingDataset(self.tracking(), s).add_dummy_labels().add_graph_ids().data
        gs = GraphSettings(home_team_id=s.home_team_id, away_team_id=s.away_team_id)
        return SoccerGraphConverter(data, gs).to_graph_frames()

    def graphs(self) -> Callable[[], Digest]:
        with self.tracer.span("models.graphs.fit"):
            out = self.graph_frames()
        with self.tracer.span("sources.graph_write"):
            write_graph_frames(out, self.graphs_path)
        return self.read_digest(self.graphs_path)

    def efpi(self, **fit) -> Digest:
        with self.tracer.span("models.efpi.fit"):
            out = EFPI(self.tracking(), self.settings()).fit(**fit).output
        return self.consume(out)

    def efpi_frame(self) -> Digest:
        return self.efpi(every="frame")

    def efpi_possession(self) -> Digest:
        return self.efpi(every="possession")

    def consume(self, df: DataFrame) -> Digest:
        with self.tracer.span("bench.digest"):
            return digest(df)


@dataclass
class DedupChain:
    """The LSH near-duplicate graph queries of the registry, over a staged
    ``documents`` table; each result is collected (they are small)."""

    spark: object
    sf_dir: str
    tracer: object
    #: the latest result of each query, (columns, rows), for the oracle check
    results: dict = field(default_factory=dict)

    def ops(self) -> list[tuple[str, Callable[[], Digest]]]:
        return [(name, functools.partial(self.query, name)) for name in DEDUP_QUERIES]

    def query(self, name: str) -> Digest:
        with self.tracer.span("plans.build"):
            df = QUERIES[name](self.spark, self.sf_dir)
        with self.tracer.span("bench.collect"):
            rows = sorted((tuple(r) for r in df.collect()), key=repr)
        self.results[name] = (df.columns, rows)
        return Digest(len(rows), (hash(tuple(rows)),))
