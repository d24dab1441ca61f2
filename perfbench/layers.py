"""Per-layer probes of the traced run that sit outside the chain.

``operator_self_times`` runs the ingest operators one at a time, each on a
persisted output of the stage before it, so a stage's wall is its own work
and not its inputs'. ``kernel_floor`` replays a seeded frame sample through
the public numpy functions on one thread in the driver: the gap between it
and the grouped-map kernels' Python run time is Arrow and pandas overhead.
"""

from __future__ import annotations

import functools
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from unravelsports_spark.functions.assignment import linear_sum_assignment
from unravelsports_spark.functions.graph_features_batch import (
    batch_kwargs,
    compute_adjacency_batch,
    compute_edge_channels_batch,
    compute_node_features_batch,
)
from unravelsports_spark.functions.intercept import probability_to_intercept, time_to_intercept
from unravelsports_spark.functions.savgol import savgol_filter
from unravelsports_spark.models.formations import Formations
from unravelsports_spark.operators.kinematics import (
    DEFAULT_BALL_SMOOTHING,
    DEFAULT_PLAYER_SMOOTHING,
    add_acceleration,
    add_velocity,
    apply_speed_acceleration_filters,
    finalize_kinematics,
)
from unravelsports_spark.operators.melt import melt_wide_tracking
from unravelsports_spark.operators.orientation import convert_orientation_to_ball_owning
from unravelsports_spark.operators.possession import infer_ball_ownership
from unravelsports_spark.schema import BALL, Column
from unravelsports_spark.settings import GraphSettings

from checks import frame_arrays
from inputs import ingest_objects


def _timed_stage(prev: list[DataFrame], stage) -> tuple[float, list[DataFrame]]:
    """Apply ``stage`` to every match's persisted input and time writing
    the union to the noop sink; returns the persisted outputs."""
    out = [stage(df) for df in prev]
    t0 = time.perf_counter()
    functools.reduce(DataFrame.unionByName, out).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    out = [df.persist() for df in out]
    for df in out:
        df.count()
    for df in prev:
        df.unpersist()
    return wall, out


def operator_self_times(spark, matches) -> dict[str, float]:
    """Seconds per ingest operator over all matches, in pipeline order.
    Each match runs its own stages, as in ``TrackingDataset.load_wide``:
    the kinematics windows are keyed by object and period, not by match."""
    _, s = ingest_objects(matches[0])
    stages = {
        "melt": None,
        "velocity": lambda df: add_velocity(df, DEFAULT_PLAYER_SMOOTHING, DEFAULT_BALL_SMOOTHING),
        "acceleration": lambda df: finalize_kinematics(
            apply_speed_acceleration_filters(
                add_acceleration(df),
                max_ball_speed=s.max_ball_speed,
                max_player_speed=s.max_player_speed,
                max_ball_acceleration=s.max_ball_acceleration,
                max_player_acceleration=s.max_player_acceleration,
            )
        ),
        "possession": lambda df: infer_ball_ownership(df, s.ball_carrier_threshold),
        "orientation": lambda df: convert_orientation_to_ball_owning(df, s.home_team_id),
    }
    wide = [spark.read.parquet(m.path).persist() for m in matches]
    for df in wide:
        df.count()
    melt = {id(df): (m, ingest_objects(m)[0]) for m, df in zip(matches, wide)}
    stages["melt"] = lambda df: melt_wide_tracking(df, melt[id(df)][1], melt[id(df)][0].game_id)
    out, prev = {}, wide
    for name, stage in stages.items():
        out[name], prev = _timed_stage(prev, stage)
    for df in prev:
        df.unpersist()
    return out


def _per_unit(fn, units: int) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) / max(units, 1)


def kernel_floor(frame_rows: pd.DataFrame, series: list[np.ndarray], settings) -> dict[str, float]:
    """Microseconds per frame (or per series) of the numpy kernels alone:
    every input array is prepared before its clock starts."""
    home = settings.home_team_id
    gs = GraphSettings(home_team_id=home, away_team_id=settings.away_team_id)
    pitch = settings.pitch_dimensions
    forms = Formations(pitch.pitch_length, pitch.pitch_width)
    frames = [g for _, g in frame_rows.groupby([Column.GAME_ID, Column.FRAME_ID], sort=True)]
    n = len(frames)

    pressing = []  # (owning positions, other positions, their velocities)
    by_size: dict[int, list[dict]] = {}  # graph frames stacked by node count
    teams = []  # (direction, outfield coordinates) per frame and team
    for rows in frames:
        team, bot = rows[Column.TEAM_ID], rows[Column.BALL_OWNING_TEAM_ID]
        d = frame_arrays(rows.assign(_k=np.where(team == BALL, 2, np.where(team == bot, -1, 0)))
                         .sort_values(["_k", Column.OBJECT_ID], kind="stable"))
        by_size.setdefault(len(rows), []).append(d)
        owning = (d["team_id"] == d["ball_owning_team_id"]) | (d["team_id"] == BALL)
        pos = np.stack((d["x"], d["y"], d["z"]), axis=-1)
        vel = np.stack((d["vx"], d["vy"], d["vz"]), axis=-1)
        pressing.append((pos[owning], pos[~owning], vel[owning], vel[~owning]))
        for t in (home, settings.away_team_id):
            outfield = (d["team_id"] == t) & (d["position_name"] != "GK")
            direction = "ltr" if t == d["ball_owning_team_id"][0] else "rtl"
            teams.append((direction, np.stack((d["x"][outfield], d["y"][outfield]), axis=-1)))
    stacks = [{k: np.stack([d[k] for d in ds]) for k in ds[0]} for ds in by_size.values()]

    def intercept():
        for p1, p2, v1, v2 in pressing:
            probability_to_intercept(time_to_intercept(p1, p2, v1, v2, 0.7, 12.0), 0.45, 1.5)

    def graph_batch():
        for stacked in stacks:
            bk = batch_kwargs(stacked, gs)
            compute_adjacency_batch(bk, gs)
            compute_node_features_batch(bk, gs)
            compute_edge_channels_batch(bk, gs)

    solves = [0]

    def assignment():
        # every formation template is solved for each team's outfield
        # players: the unpruned floor of EFPI's per-frame assignment
        for direction, coords in teams:
            stacked = forms.stacked(direction, len(coords))
            if stacked is None:
                continue
            _, tmpl0, gmin, gmax = stacked
            lo, hi = coords.min(axis=0), coords.max(axis=0)
            scale = np.where(gmax - gmin != 0, (hi - lo) / (gmax - gmin), 1.0)
            tmpl = (tmpl0 - gmin) * scale + lo
            cost = np.linalg.norm(coords[:, None, None, :] - tmpl[None, :, :, :], axis=-1)
            for i in range(cost.shape[1]):
                linear_sum_assignment(cost[:, i, :])
                solves[0] += 1

    def savgol():
        for s in series:
            savgol_filter(s, DEFAULT_PLAYER_SMOOTHING["window_length"], DEFAULT_PLAYER_SMOOTHING["polyorder"])

    return {
        "functions.intercept_us_per_frame": _per_unit(intercept, n) * 1e6,
        "functions.graph_batch_us_per_frame": _per_unit(graph_batch, n) * 1e6,
        "functions.assignment_us_per_frame": _per_unit(assignment, n) * 1e6,
        "functions.assignment_solves_per_frame": solves[0] / max(n, 1),
        "functions.savgol_us_per_series": _per_unit(savgol, len(series)) * 1e6,
    }
