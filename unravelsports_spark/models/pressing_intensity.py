"""Pressing Intensity (TTI / PTI matrices per frame) on Spark.

Re-expresses the reference's unravel/soccer/models/pressing_intensity.py
(fit: :339-565, kernel: :152-326) Spark-first:

- the relational part (time filter P4, orientation sort key O3) is native
  DataFrame code so Catalyst pushes the filters into the parquet scan;
- the per-frame matrix kernel runs through models/frames.py, one call per
  (game_id, period_id, chunk of `frames_per_batch` frames).

Ordering note (SURVEY §7.4.1): the orientation order (reference :520-552)
is re-established inside each group by frames.py's stable sort; ties within
a team break by object_id (the reference inherits kloppy's player order
instead — documented divergence).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.intercept import probability_to_intercept, time_to_intercept
from ..schema import BALL, Column
from ..settings import DefaultSettings
from .frames import map_runs

_RESULT_SCHEMA = T.StructType(
    [
        T.StructField(Column.GAME_ID, T.StringType()),
        T.StructField(Column.PERIOD_ID, T.LongType()),
        T.StructField(Column.FRAME_ID, T.LongType()),
        T.StructField(Column.TIMESTAMP, T.LongType()),
        T.StructField("time_to_intercept", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("probability_to_intercept", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("columns", T.ArrayType(T.StringType())),
        T.StructField("rows", T.ArrayType(T.StringType())),
    ]
)

_KERNEL_COLS = [
    Column.GAME_ID, Column.PERIOD_ID, Column.FRAME_ID, Column.TIMESTAMP,
    Column.X, Column.Y, Column.Z, Column.VX, Column.VY, Column.VZ,
    Column.SPEED, Column.TEAM_ID, Column.BALL_OWNING_TEAM_ID,
    Column.OBJECT_ID, Column.IS_BALL_CARRIER,
]


def duration(minutes: float = 0, seconds: float = 0, milliseconds: float = 0) -> int:
    """Duration literal in millis — API-shape parity with pl.duration
    (reference fit accepts pl.duration literals, SURVEY §7.4.4)."""
    return int(minutes * 60_000 + seconds * 1_000 + milliseconds)


def _pi_frame(d: dict, params: dict, settings: DefaultSettings):
    """One frame → (tti, pti, columns, rows). Mirrors reference __compute
    (pressing_intensity.py:152-326) operation-for-operation."""
    method = params["method"]
    ball_method = params["ball_method"]
    speed_threshold = params["speed_threshold"]

    team = d["team_id"]
    bot = d["ball_owning_team_id"]
    ball_idx = ball_carrier_idx = None
    column_mask = row_mask = None

    if ball_method in ("max", "include"):
        ball_mask = team == BALL
        owning = (team == bot) | ball_mask
        non_owning = ~owning
    else:  # exclude
        not_ball = team != BALL
        owning = (team == bot) & not_ball
        non_owning = (team != bot) & not_ball

    if method == "teams":
        oi = np.where(owning)[0]
        ni = np.where(non_owning)[0]
        if ball_method == "max":
            ball_idx = np.where(team[oi] == BALL)[0][0]
            ball_carrier_idx = np.where(d["is_ball_carrier"][oi])[0][0]
        p1 = np.stack((d["x"][oi], d["y"][oi], d["z"][oi]), axis=-1)
        p2 = np.stack((d["x"][ni], d["y"][ni], d["z"][ni]), axis=-1)
        v1 = np.stack((d["vx"][oi], d["vy"][oi], d["vz"][oi]), axis=-1)
        v2 = np.stack((d["vx"][ni], d["vy"][ni], d["vz"][ni]), axis=-1)
        column_objects, row_objects = d["id"][oi], d["id"][ni]
        if speed_threshold:
            column_mask = d["v"][oi] < speed_threshold
            row_mask = d["v"][ni] < speed_threshold
    else:  # full
        mi = np.where(team != BALL)[0] if ball_method == "exclude" else np.arange(len(team))
        if ball_method == "max":
            ball_idx = np.where(team == BALL)[0][0]
            ball_carrier_idx = np.where(d["is_ball_carrier"][mi])[0][0]
        p1 = p2 = np.stack((d["x"][mi], d["y"][mi], d["z"][mi]), axis=-1)
        v1 = v2 = np.stack((d["vx"][mi], d["vy"][mi], d["vz"][mi]), axis=-1)
        column_objects = row_objects = d["id"][mi]
        if speed_threshold:
            column_mask = row_mask = d["v"][mi] < speed_threshold

    if ball_idx is not None:
        column_objects = np.delete(column_objects, ball_idx)
        if speed_threshold:
            column_mask = np.delete(column_mask, ball_idx)

    tti = time_to_intercept(
        p1=p1, p2=p2, v1=v1, v2=v2,
        reaction_time=params["reaction_time"],
        max_object_speed=settings.max_player_speed,
    )

    if ball_method == "max":
        # element-wise min of ball column into the carrier column, drop ball col
        tti[:, ball_carrier_idx] = np.minimum(tti[:, ball_carrier_idx], tti[:, ball_idx])
        tti = np.delete(tti, ball_idx, axis=1)
        if method == "full":
            tti = np.delete(tti, ball_idx, axis=0)
            row_objects = np.delete(row_objects, ball_idx)
            if speed_threshold:
                row_mask = np.delete(row_mask, ball_idx)

    pti = probability_to_intercept(tti, params["sigma"], params["time_threshold"])

    if method == "full":
        np.fill_diagonal(tti, 0.0)

    if speed_threshold:
        pti[row_mask, :] = 0.0
        pti[:, column_mask] = 0.0

    orient = params["orient"]
    transpose = (
        (orient == "away_home" and bot[0] != settings.home_team_id)
        or (orient == "home_away" and bot[0] == settings.home_team_id)
        or orient == "pressing"
    )
    if transpose:
        return tti.T, pti.T, row_objects, column_objects
    return tti, pti, column_objects, row_objects


@dataclass
class PressingIntensity:
    """Compute per-frame TTI/PTI matrices from the canonical tracking table.

    `dataset` is a Spark DataFrame with the canonical schema (schema.py);
    `fit(...)` returns self with `.output` a Spark DataFrame of
    (game_id, period_id, frame_id, timestamp, time_to_intercept,
    probability_to_intercept, columns, rows).
    """

    dataset: DataFrame
    settings: DefaultSettings = field(default_factory=DefaultSettings)
    frames_per_batch: int = 20_000

    output: Optional[DataFrame] = field(init=False, default=None)

    def fit(
        self,
        start_time: int | None = None,
        end_time: int | None = None,
        period_id: int | None = None,
        speed_threshold: float | None = None,
        reaction_time: float = 0.7,
        time_threshold: float = 1.5,
        sigma: float = 0.45,
        method: str = "teams",
        ball_method: str = "max",
        orient: str = "ball_owning",
        line_method: str | None = None,
    ) -> "PressingIntensity":
        if period_id is not None and not isinstance(period_id, int):
            raise TypeError("period_id should be of type integer")
        if method not in ("teams", "full"):
            raise ValueError("method should be 'teams' or 'full'")
        if ball_method not in ("include", "exclude", "max"):
            raise ValueError("ball_method should be 'include', 'exclude' or 'max'")
        if orient not in ("ball_owning", "pressing", "home_away", "away_home"):
            raise ValueError("orient should be 'ball_owning', 'pressing', 'home_away', 'away_home'")
        if line_method is not None and line_method not in ("touchline", "byline", "all"):
            raise ValueError("line_method should be 'touchline', 'byline', 'all' or None")
        timed = [start_time, end_time, period_id]
        if any(x is not None for x in timed) and not all(x is not None for x in timed):
            raise ValueError("specify all of start_time, end_time and period_id or none")

        df = self.dataset
        if start_time is not None:
            df = df.filter(
                F.col(Column.TIMESTAMP).between(start_time, end_time)
                & (F.col(Column.PERIOD_ID) == period_id)
            )

        # orientation sort key (reference :520-548): ball rows order last
        # (null; NOT null stays null), the descending orientations negate
        # the key so the home/owning side sorts first
        if orient in ("home_away", "away_home"):
            key = (
                F.when(F.col(Column.TEAM_ID) == self.settings.home_team_id, True)
                .when(F.col(Column.TEAM_ID) == BALL, F.lit(None))
                .otherwise(False)
            )
            descending = orient == "home_away"
        else:
            key = (
                F.when(F.col(Column.TEAM_ID) == F.col(Column.BALL_OWNING_TEAM_ID), True)
                .when(F.col(Column.TEAM_ID) == BALL, F.lit(None))
                .otherwise(False)
            )
            descending = orient == "ball_owning"

        params = {
            "method": method,
            "ball_method": ball_method,
            "speed_threshold": speed_threshold,
            "reaction_time": reaction_time,
            "time_threshold": time_threshold,
            "sigma": sigma,
            "orient": orient,
        }
        settings = self.settings

        def frames(runs):
            for d in runs:
                tti, pti, cols, rows = _pi_frame(d, params, settings)
                yield (d[Column.GAME_ID][0], d[Column.PERIOD_ID][0], d[Column.FRAME_ID][0],
                       d[Column.TIMESTAMP][0], list(tti), list(pti), list(cols), list(rows))

        chunk = (F.col(Column.FRAME_ID) / self.frames_per_batch).cast("long")
        staged = (
            df.select(*_KERNEL_COLS)
            .withColumn("_orient_key", ~key if descending else key)
            .withColumn("_chunk", chunk)
        )
        # ties within a team break by object_id
        self.output = map_runs(
            staged, [Column.GAME_ID, Column.PERIOD_ID, "_chunk"],
            [Column.FRAME_ID], ["_orient_key", Column.OBJECT_ID], frames, _RESULT_SCHEMA,
        )
        return self
