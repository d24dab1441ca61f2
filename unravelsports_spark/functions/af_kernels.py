"""American-football per-frame kernels (K2, K6, K7).

Math parity with /root/reference/unravel/american_football/graphs/features/
node_features.py:18-151 and edge_features.py:14-84 (fixed feature stacks, no
plugin system), including the reference's global-norm quirk in
unit_vector_from_angle (the (2, N) velocity stack is normalized by its global
L2 norm, features/utils.py:146-164)."""

from __future__ import annotations

import numpy as np

from ..settings import AmericanFootballGraphSettings
from .graph_features import compute_adjacency_matrix
from .normalize import (
    normalize_between,
    normalize_distance,
    normalize_sincos,
    per_class_normalized,
)

QB = "QB"
FOOTBALL = "football"


def unit_vector_from_angle(value: np.ndarray, angle_radians: np.ndarray) -> np.ndarray:
    """(2, N) speed vector from magnitude+angle, normalized by the GLOBAL norm
    of the whole stack — reference behavior, replicated exactly."""
    value = np.nan_to_num(value, nan=0.0)
    angle_radians = np.nan_to_num(angle_radians, nan=0.0)
    velocity = np.array([value * np.cos(angle_radians), value * np.sin(angle_radians)])
    norm = np.linalg.norm(velocity)
    if norm == 0:
        return np.zeros_like(velocity, dtype=float)
    return velocity / norm


def compute_af_adjacency_matrix(settings: AmericanFootballGraphSettings, team: np.ndarray) -> np.ndarray:
    """K2: soccer adjacency minus ball_carrier support
    (american_football/graphs/features/adjacency_matrix.py:7-43): the
    ``dense`` and ``split_by_team`` types with the ``ball`` connect type of
    the shared soccer kernel."""
    atype = settings.adjacency_matrix_type
    if atype not in ("dense", "split_by_team"):
        raise NotImplementedError(f"adjacency_matrix_type {atype!r} not supported for AF")
    if settings.adjacency_matrix_connect_type == "ball_carrier":
        raise NotImplementedError("ball_carrier connect type is unsupported for AF (parity)")
    return compute_adjacency_matrix(settings, team_id=team)


def compute_af_node_features(d: dict, settings: AmericanFootballGraphSettings):
    """K6: 20-column fixed stack."""
    dims = settings.pitch_dimensions
    x, y, s, a = d["x"], d["y"], d["v"], d["a"]
    o, direction = d["o"], d["dir"]
    team = d["team_id"]
    goal_mouth = np.asarray((dims.x_dim.max, (dims.y_dim.max + dims.y_dim.min) / 2))
    max_dist = np.sqrt(dims.pitch_length**2 + dims.pitch_width**2)
    position = np.stack((x, y), axis=-1)
    is_ball_arr = team == settings.ball_id

    ball_rows = np.where(is_ball_arr)[0]
    if len(ball_rows) >= 1:
        ball_position = position[ball_rows][0]
    else:
        ball_position = np.asarray([np.nan, np.nan])

    uv_sa = unit_vector_from_angle(s, direction)
    uv_aa = unit_vector_from_angle(a, direction)
    dist_to_goal = np.linalg.norm(position - goal_mouth, axis=1)
    dist_to_ball = np.linalg.norm(position - ball_position, axis=1)
    dist_to_end_zone = dims.end_zone - x

    is_qb = np.where(
        d["position_name"] == QB,
        1,
        np.where(team == d["ball_owning_team_id"], settings.attacking_non_qb_node_value, 0),
    )

    X = np.nan_to_num(
        np.stack(
            (
                normalize_between(dims.x_dim.min, dims.x_dim.max, x),
                normalize_between(dims.y_dim.min, dims.y_dim.max, y),
                uv_sa[0],
                uv_sa[1],
                per_class_normalized(s, is_ball_arr, settings.max_ball_speed, settings.max_player_speed),
                uv_aa[0],
                uv_aa[1],
                per_class_normalized(
                    a, is_ball_arr, settings.max_ball_acceleration,
                    settings.max_player_acceleration, clip_lo=-1.0,
                ),
                normalize_sincos(np.nan_to_num(np.sin(direction))),
                normalize_sincos(np.nan_to_num(np.cos(direction))),
                normalize_sincos(np.nan_to_num(np.sin(o))),
                normalize_sincos(np.nan_to_num(np.cos(o))),
                normalize_distance(dist_to_goal, max_dist),
                normalize_distance(dist_to_ball, max_dist),
                normalize_between(0, dims.pitch_length, dist_to_end_zone),
                np.where(team == d["ball_owning_team_id"], 1, settings.defending_team_node_value),
                is_qb,
                np.where(is_ball_arr, 1, 0),
                normalize_between(settings.min_weight, settings.max_weight, d["weight_kg"]),
                normalize_between(settings.min_height, settings.max_height, d["height_cm"]),
            ),
            axis=-1,
        )
    )
    return X


def compute_af_edge_features(adjacency_matrix: np.ndarray, d: dict, settings: AmericanFootballGraphSettings):
    """K7: 9-column pairwise stack masked to nonzero adjacency entries."""
    dims = settings.pitch_dimensions
    max_dist = np.sqrt(dims.pitch_length**2 + dims.pitch_width**2)
    p = np.stack((d["x"], d["y"]), axis=-1)
    s, a, o, direction = d["v"], d["a"], d["o"], d["dir"]
    team = d["team_id"]
    is_ball_arr = team == settings.ball_id

    dist = np.linalg.norm(p[:, None, :] - p[None, :, :], axis=-1)
    dist_normed = normalize_distance(dist, max_dist)
    speed_diff = np.nan_to_num(s[None, :] - s[:, None])
    speed_diff_normed = per_class_normalized(
        speed_diff, is_ball_arr, settings.max_ball_speed, settings.max_player_speed
    ) * np.sign(speed_diff)
    acc_diff = np.nan_to_num(a[None, :] - a[:, None])
    acc_diff_normed = per_class_normalized(
        acc_diff, is_ball_arr, settings.max_ball_acceleration,
        settings.max_player_acceleration, clip_lo=-1.0,
    )
    vec = p[:, None, :] - p[None, :, :]
    ang = np.nan_to_num(np.arctan2(vec[:, :, 1], vec[:, :, 0]))
    pos_cos = normalize_sincos(np.nan_to_num(np.cos(ang)))
    pos_sin = normalize_sincos(np.nan_to_num(np.sin(ang)))
    dir_diff = direction[None, :] - direction[:, None]
    o_diff = o[None, :] - o[:, None]
    mats = [
        dist_normed,
        speed_diff_normed,
        acc_diff_normed,
        pos_cos,
        pos_sin,
        normalize_sincos(np.nan_to_num(np.cos(dir_diff))),
        normalize_sincos(np.nan_to_num(np.sin(dir_diff))),
        normalize_sincos(np.nan_to_num(np.cos(o_diff))),
        normalize_sincos(np.nan_to_num(np.sin(o_diff))),
    ]
    nan_mask = np.isnan(dist)
    for m in mats:
        m[nan_mask] = 0
    nz = np.where(adjacency_matrix == 1)
    e = np.stack([m[nz] for m in mats], axis=1)
    return np.nan_to_num(e)
