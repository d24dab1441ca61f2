"""Soccer graph converter: canonical tracking table → per-frame GNN graph
tuples (adjacency, node features, edge features, label) on Spark.

Re-expresses the reference's unravel/soccer/graphs/graph_converter.py
(pipeline :165-238, padding :240-440, kernel :602-725) and
unravel/utils/objects/default_graph_converter.py:315-393 Spark-first:

- sample and padding are native DataFrame ops (modulo filter P5, window +
  sequence/explode row synthesis O12); incomplete frames drop in the kernel;
- the per-frame kernel runs through models/frames.py over (game_id,
  period_id, chunk of `frames_per_batch` frames) groups. Inside a group the
  frames are stacked by node count, at most 512 per stack, and each stack
  goes once through the pure-NumPy kernels of functions/graph_features.py
  (golden-tested): the built-in features and dense adjacencies run over
  the whole stack, user plugins and the Delaunay triangulation once per
  frame;
- output is a DataFrame of nested arrays + shape columns, written/read as
  parquet (the reference's gzip-pickle sink S4 ↔ our parquet graph sink).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.graph_features import (
    DEFAULT_EDGE_FEATURES,
    DEFAULT_NODE_FEATURES,
    add_global_features,
    compute_adjacency_matrix,
    compute_edge_features,
    compute_node_features,
    frame_kwargs,
    verify_feature_funcs,
)
from ..schema import BALL, Column, Group, any_null
from ..settings import GraphSettings
from .frames import map_runs

MATRIX = T.ArrayType(T.ArrayType(T.DoubleType()))

#: most frames in one kernel stack: the stacked edge features hold several
#: (B, N, N) float arrays at once (~72 KB per 23-node frame), so stacking a
#: whole 20,000-frame chunk would peak near 1.4 GB per Python worker
STACK_FRAMES = 512


def graph_stacks(frames: list, node_funcs, edge_funcs, opts, settings) -> list[tuple]:
    """(adjacency, edge features, node features) of each frame dict of (N,)
    arrays, in input order. Same-size frames stack, at most
    :data:`STACK_FRAMES` at a time, and each stack goes once through the
    built-in features and dense adjacencies; user plugins and the Delaunay
    triangulation run once per frame inside the drivers."""
    by_n: dict[int, list[int]] = {}
    for i, d in enumerate(frames):
        by_n.setdefault(len(d["team_id"]), []).append(i)
    slices = [
        same_n[s:s + STACK_FRAMES]
        for same_n in by_n.values()
        for s in range(0, len(same_n), STACK_FRAMES)
    ]
    results: list[tuple] = [None] * len(frames)
    for idxs in slices:
        stack = {k: np.stack([frames[i][k] for i in idxs]) for k in frames[idxs[0]]}
        fk = frame_kwargs(stack, settings)
        adj = compute_adjacency_matrix(settings, **fk)
        edge, _ = compute_edge_features(adj, edge_funcs, opts, settings, **fk)
        node, _ = compute_node_features(node_funcs, opts, settings, **fk)
        edges = np.split(edge, np.cumsum((adj == 1).sum(axis=(1, 2)))[:-1])
        for i, a, e, x in zip(idxs, adj, edges, node):
            results[i] = (a, e, x)
    return results


def graph_frames_schema(label_col: str = "label", graph_id_col: str = "graph_id") -> T.StructType:
    """Struct-of-matrices output (default_graph_converter.py:315-334)."""
    return T.StructType(
        [
            T.StructField(Column.GAME_ID, T.StringType()),
            T.StructField(Column.PERIOD_ID, T.LongType()),
            T.StructField("frame_id", T.LongType()),
            T.StructField("a", MATRIX),
            T.StructField("e", MATRIX),
            T.StructField("x", MATRIX),
            T.StructField("a_shape_0", T.LongType()),
            T.StructField("a_shape_1", T.LongType()),
            T.StructField("e_shape_0", T.LongType()),
            T.StructField("e_shape_1", T.LongType()),
            T.StructField("x_shape_0", T.LongType()),
            T.StructField("x_shape_1", T.LongType()),
            T.StructField(graph_id_col, T.StringType()),
            T.StructField(label_col, T.LongType()),
            T.StructField("object_ids", T.ArrayType(T.StringType())),
            T.StructField("ball_owning_team_id", T.StringType()),
        ]
    )


@dataclass
class SoccerGraphConverter:
    dataset: DataFrame
    settings: GraphSettings = field(default_factory=GraphSettings)

    label_col: str = Column.LABEL
    graph_id_col: str = Column.GRAPH_ID
    prediction: bool = False
    pad: bool = False
    sample_rate: Optional[float] = None
    random_seed: bool | int = False

    node_feature_funcs: Optional[List[Callable]] = None
    edge_feature_funcs: Optional[List[Callable]] = None
    feature_opts: Optional[dict] = None
    global_feature_cols: List[str] = field(default_factory=list)
    global_feature_type: str = "ball"
    additional_feature_cols: List[str] = field(default_factory=list)

    frames_per_batch: int = 20_000

    def __post_init__(self):
        self.node_feature_funcs = (
            list(self.node_feature_funcs) if self.node_feature_funcs else list(DEFAULT_NODE_FEATURES)
        )
        self.edge_feature_funcs = (
            list(self.edge_feature_funcs) if self.edge_feature_funcs else list(DEFAULT_EDGE_FEATURES)
        )
        verify_feature_funcs(self.node_feature_funcs, "node")
        verify_feature_funcs(self.edge_feature_funcs, "edge")
        cols = self.dataset.columns
        if self.graph_id_col not in cols:
            raise ValueError(f"dataset must contain a {self.graph_id_col!r} column (add_graph_ids)")
        if self.label_col not in cols:
            if not self.prediction:
                raise ValueError(
                    f"dataset must contain a {self.label_col!r} column (or set prediction=True)"
                )
            self.dataset = self.dataset.withColumn(self.label_col, F.lit(None).cast("long"))
        if self.global_feature_type not in ("ball", "all"):
            raise ValueError("global_feature_type must be 'ball' or 'all'")

    # -- relational stages --------------------------------------------------

    def _sample(self, df: DataFrame) -> DataFrame:
        if self.sample_rate is None:
            return df
        return df.filter(F.col(Column.FRAME_ID) % int(round(1.0 / self.sample_rate)) == 0)

    def _apply_padding(self, df: DataFrame) -> DataFrame:
        """O12 as windows over one frame-key exchange (reference
        graph_converter.py:240-440): each (frame, team, owner) group's first
        row explodes into itself plus its deficit of pad rows, which copy its
        keep/global values; a frame's first row adds a ball pad if it has no
        ball. A window over the result keeps complete frames with a key."""
        keep = [Column.TIMESTAMP, Column.BALL_STATE, self.label_col, self.graph_id_col]
        group = [Column.GAME_ID, Column.PERIOD_ID, Column.FRAME_ID, Column.TEAM_ID,
                 Column.BALL_OWNING_TEAM_ID]
        empty_defaults = {
            Column.POSITION_NAME: F.lit(""),
            Column.OBJECT_ID: F.lit(""),
            Column.IS_BALL_CARRIER: F.lit(False),
            **{c: F.lit(0.0) for c in (
                Column.X, Column.Y, Column.Z, Column.VX, Column.VY, Column.VZ,
                Column.SPEED, Column.AX, Column.AY, Column.AZ, Column.ACCELERATION)},
        }
        schema = dict(df.dtypes)
        shared = set(keep) | set(group) | set(self.global_feature_cols)

        frame = Window.partitionBy(*Group.BY_FRAME)
        team = Window.partitionBy(*group)
        is_ball = F.col(Column.TEAM_ID) == BALL

        def first_row(w):
            return F.row_number().over(w.orderBy(Column.OBJECT_ID)) == 1

        target = F.when(is_ball, 1).otherwise(11)
        deficit = F.greatest(target - F.count("*").over(team), F.lit(0))
        no_ball = F.count(F.when(is_ball, 1)).over(frame) == 0
        staged = (
            df.withColumn("_n", F.when(first_row(team), deficit).otherwise(0).cast("int"))
            .withColumn("_ball", (first_row(frame) & no_ball).cast("int"))
            .withColumn("_i", F.explode(F.sequence(F.lit(0), F.col("_n") + F.col("_ball"))))
        )
        real = F.col("_i") == 0
        ball_pad = F.col("_i") > F.col("_n")

        def padded(c):
            if c in empty_defaults:
                return F.when(real, F.col(c)).otherwise(empty_defaults[c].cast(schema[c]))
            if c == Column.TEAM_ID:
                return F.when(ball_pad, F.lit(BALL)).otherwise(F.col(c))
            return F.col(c) if c in shared else F.when(real, F.col(c))

        result = staged.select(*[padded(c).alias(c) for c in df.columns])

        is_ball_n = is_ball.cast("int")
        is_owning = (F.col(Column.TEAM_ID) == F.col(Column.BALL_OWNING_TEAM_ID)).cast("int")
        complete = (
            ~any_null(Group.BY_FRAME)
            & (F.sum(is_ball_n).over(frame) == 1)
            & (F.sum(is_owning).over(frame) == 11)
            & (F.sum(1 - is_ball_n - is_owning).over(frame) == 11)
        )
        return result.withColumn("_complete", complete).filter("_complete").drop("_complete")

    # -- kernel stage -------------------------------------------------------

    def to_graph_frames(self) -> DataFrame:
        df = self._sample(self.dataset)
        # pad=False drops incomplete frames (not exactly 2 teams + ball,
        # reference graph_converter.py:224-238, or no ball owner) INSIDE the
        # kernel, a per-group check that costs no shuffle. pad=True needs
        # the relational padding stage, whose owning-team count drops them.
        drop_incomplete = not self.pad
        if self.pad:
            df = self._apply_padding(df)

        # O2 node ordering: owning team first, then defenders, ball last
        sort_key = (F.col(Column.TEAM_ID) == BALL).cast("int") * 2 - (
            (F.col(Column.BALL_OWNING_TEAM_ID) == F.col(Column.TEAM_ID))
            & (F.col(Column.TEAM_ID) != BALL)
        ).cast("int")

        kernel_cols = [
            Column.GAME_ID, Column.PERIOD_ID, Column.FRAME_ID,
            Column.X, Column.Y, Column.Z, Column.SPEED, Column.VX, Column.VY, Column.VZ,
            Column.ACCELERATION, Column.AX, Column.AY, Column.AZ,
            Column.TEAM_ID, Column.POSITION_NAME, Column.BALL_OWNING_TEAM_ID,
            Column.IS_BALL_CARRIER, Column.OBJECT_ID,
            self.graph_id_col, self.label_col,
            *self.global_feature_cols, *self.additional_feature_cols,
        ]
        schema = graph_frames_schema(self.label_col, self.graph_id_col)

        settings = self.settings
        node_funcs, edge_funcs = self.node_feature_funcs, self.edge_feature_funcs
        opts = self.feature_opts
        global_cols, global_type = self.global_feature_cols, self.global_feature_type
        graph_id_col, label_col, prediction = self.graph_id_col, self.label_col, self.prediction
        random_seed = self.random_seed

        def graphs(runs):
            frames = []
            for d in runs:
                # a frame whose owner is unknown has no attacking side
                if drop_incomplete and (
                    len(np.unique(d["team_id"])) != 3 or pd.isna(d["ball_owning_team_id"]).any()
                ):
                    continue
                if random_seed is not False and random_seed is not None:
                    n = len(d["team_id"])
                    seed = None if random_seed is True else int(random_seed) + int(d[Column.FRAME_ID][0])
                    perm = np.random.default_rng(seed).permutation(n)
                    d = {k: v[perm] for k, v in d.items()}
                if not np.all(d[graph_id_col] == d[graph_id_col][0]):
                    raise ValueError("graph_id not constant within a frame group")
                if not prediction and not np.all(d[label_col] == d[label_col][0]):
                    raise ValueError("label not constant within a frame group")
                frames.append(d)

            results = graph_stacks(frames, node_funcs, edge_funcs, opts, settings)
            for d, (adj, edge, node) in zip(frames, results):
                if global_cols:
                    bad = [c for c in global_cols if not np.all(d[c] == d[c][0])]
                    if bad:
                        raise ValueError(f"global feature cols not constant per frame: {bad}")
                    gvals = np.asarray([d[c][0] for c in global_cols], dtype=float)
                    ball_rows = np.where(d["team_id"] == settings.ball_id)[0]
                    ball_idx = ball_rows if len(ball_rows) else 0
                    node = add_global_features(node, gvals, global_type, ball_idx)
                label_val = d[label_col][0]
                yield (
                    d[Column.GAME_ID][0],
                    d[Column.PERIOD_ID][0],
                    int(d[Column.FRAME_ID][0]),
                    # list-of-rows (ndarray) cells: Arrow consumes these
                    # without a per-element Python round-trip
                    list(adj.astype(float)),
                    list(edge),
                    list(node),
                    *adj.shape,
                    *edge.shape,
                    *node.shape,
                    str(d[graph_id_col][0]),
                    None if label_val is None or (isinstance(label_val, float) and np.isnan(label_val)) else int(label_val),
                    list(d["id"]),
                    d["ball_owning_team_id"][0],
                )

        chunk = (F.col(Column.FRAME_ID) / self.frames_per_batch).cast("long")
        staged = (
            df.select(*kernel_cols)
            .withColumn("_sort_key", sort_key)
            .withColumn("_chunk", chunk)
        )
        return map_runs(
            staged, [Column.GAME_ID, Column.PERIOD_ID, "_chunk"],
            [Column.FRAME_ID], ["_sort_key", Column.OBJECT_ID], graphs, schema,
        )
