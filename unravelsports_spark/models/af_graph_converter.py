"""American-football graph converter.

Re-expresses the reference's unravel/american_football/graphs/
graph_converter.py (validity filters :206-244, kernel :316-449) on the shared
Spark machinery: frame-validity filters as window counts (A6), the soccer sort
expression (O2), and the fixed AF feature stacks (functions/af_kernels.py)
run per frame through models/frames.py."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.af_kernels import (
    FOOTBALL,
    compute_af_adjacency_matrix,
    compute_af_edge_features,
    compute_af_node_features,
)
from ..schema import Group, any_null
from ..settings import AmericanFootballGraphSettings
from .frames import map_runs
from .graph_converter import graph_frames_schema


@dataclass
class AmericanFootballGraphConverter:
    dataset: DataFrame
    settings: AmericanFootballGraphSettings

    label_col: str = "label"
    graph_id_col: str = "graph_id"
    prediction: bool = False
    sample_rate: Optional[float] = None
    min_object_count: int = 10
    frames_per_batch: int = 2_000

    def __post_init__(self):
        if "period_id" not in self.dataset.columns:
            # BDB data is play-scoped; play_id plays the period role
            self.dataset = self.dataset.withColumn("period_id", F.col("play_id"))
        if self.graph_id_col not in self.dataset.columns:
            raise ValueError(f"dataset must contain {self.graph_id_col!r} (add_graph_ids)")
        if self.label_col not in self.dataset.columns:
            if not self.prediction:
                raise ValueError(f"dataset must contain {self.label_col!r} (or prediction=True)")
            self.dataset = self.dataset.withColumn(self.label_col, F.lit(None).cast("long"))

    def _valid_frames(self, df: DataFrame) -> DataFrame:
        """Drop frames with < min_object_count objects or no football row
        (reference :206-244), counted by frame windows; rows with a NULL frame
        key belong to no frame and are kept."""
        frame = Window.partitionBy(*Group.BY_FRAME)
        size = F.count("*").over(frame)
        football = F.count(F.when(F.col("team_id") == FOOTBALL, 1)).over(frame)
        valid = any_null(Group.BY_FRAME) | ((size >= self.min_object_count) & (football > 0))
        return df.withColumn("_valid", valid).filter("_valid").drop("_valid")

    def to_graph_frames(self) -> DataFrame:
        df = self.dataset
        if self.sample_rate is not None:
            df = df.filter(F.col("frame_id") % int(round(1.0 / self.sample_rate)) == 0)
        df = self._valid_frames(df)

        sort_key = (F.col("team_id") == FOOTBALL).cast("int") * 2 - (
            (F.col("ball_owning_team_id") == F.col("team_id")) & (F.col("team_id") != FOOTBALL)
        ).cast("int")

        settings = self.settings
        graph_id_col, label_col, prediction = self.graph_id_col, self.label_col, self.prediction
        schema = graph_frames_schema(label_col, graph_id_col)
        kernel_cols = [
            "game_id", "period_id", "frame_id", "x", "y", "v", "a", "o", "dir",
            "team_id", "position_name", "ball_owning_team_id", "height_cm",
            "weight_kg", "id", graph_id_col, label_col,
        ]

        def graphs(runs):
            for d in runs:
                if not prediction and not np.all(d[label_col] == d[label_col][0]):
                    raise ValueError("label not constant within a frame group")
                adj = compute_af_adjacency_matrix(settings, d["team_id"])
                node = compute_af_node_features(d, settings)
                edge = compute_af_edge_features(adj, d, settings)
                label_val = d[label_col][0]
                yield (
                    str(d["game_id"][0]),
                    int(d["period_id"][0]),
                    int(d["frame_id"][0]),
                    list(adj.astype(float)),
                    list(edge),
                    list(node),
                    *adj.shape,
                    *edge.shape,
                    *node.shape,
                    str(d[graph_id_col][0]),
                    None if label_val is None or (isinstance(label_val, float) and np.isnan(label_val)) else int(label_val),
                    [str(v) for v in d["id"]],
                    str(d["ball_owning_team_id"][0]),
                )

        chunk = (F.col("frame_id") / self.frames_per_batch).cast("long")
        staged = (
            df.select(*kernel_cols)
            .withColumn("_sort_key", sort_key)
            .withColumn("_chunk", chunk)
        )
        return map_runs(
            staged, ["game_id", "period_id", "_chunk"],
            ["frame_id"], ["_sort_key", "id"], graphs, schema,
        )
