"""Graph kernels: adjacency (K1), node features (K4), edge features (K5),
global-feature attach (K8), plus the plugin registry (§2.10).

These run inside Arrow grouped-map pandas UDFs (`applyInPandas`), one call per
*batch of frames*. Every kernel here takes one frame's (N,) arrays or a stack
of same-size frames as (B, N) arrays: the formulas index with `...` and
reduce over `axis=-1`, so the converter runs the built-in features once per
stack instead of once per frame. Behavior parity with the reference kernels
(unravel/soccer/graphs/features/adjacency_matrix_pl.py:9-48,
node_features_pl.py:19-93, edge_features_pl.py:18-81,
unravel/utils/features/builtin.py) is locked by golden-fixture tests at
rtol 1e-3; the code is an independent Spark-first implementation.

User plugin contract (kept from the reference, features/utils.py:46-72): a
feature function takes **kwargs of per-frame numpy arrays plus `settings`, is
tagged via @graph_feature(feature_type=..., is_custom=...), and returns shape
(N,) or (N,k) for nodes, (N,N) or a tuple of (N,N) for edges. On a stack the
drivers still call a user plugin once per frame with (N,) kwargs; only the
built-ins (recognised by identity) see the stacked arrays.
"""

from __future__ import annotations

import numpy as np

from .normalize import (
    angle_between_rows,
    normalize_angles,
    normalize_between,
    normalize_distance,
    normalize_sincos,
    per_class_normalized,
    signed_speed_difference_normed,
    unit_vectors,
)


def graph_feature(feature_type: str, is_custom: bool = False):
    """Decorator marking a node/edge feature plugin (same public contract as
    the reference's @graph_feature)."""

    def deco(func):
        func.feature_type = feature_type
        func.is_custom = is_custom
        return func

    return deco


def verify_feature_funcs(funcs, feature_type: str):
    for f in funcs:
        if not callable(f) or not hasattr(f, "feature_type"):
            raise ValueError(
                f"feature function {getattr(f, '__name__', f)!r} must be decorated "
                f"with @graph_feature(feature_type={feature_type!r})"
            )
        if f.feature_type != feature_type:
            raise ValueError(
                f"{f.__name__} is a {f.feature_type!r} feature, expected {feature_type!r}"
            )


# ---------------------------------------------------------------------------
# Adjacency (K1) — adjacency_matrix_pl.py:9-48
# ---------------------------------------------------------------------------


def _outer(mask):
    return (mask[..., :, None] & mask[..., None, :]).astype(np.int32)


def _delaunay_adjacency(x, y, is_ball):
    """K3 (reference legacy API adjacency_matrix.py:60-125; the Polars path
    raises NotImplementedError): triangulate each frame's valid player
    positions, the only part of the kernel that loops per frame."""
    from .delaunay import delaunay_edges

    pts = np.stack((x, y), axis=-1)
    valid = ~is_ball & ~np.isnan(pts).any(axis=-1)
    adj = np.zeros((*x.shape, x.shape[-1]), dtype=np.int32)
    for f in np.ndindex(x.shape[:-1]):
        idx = np.flatnonzero(valid[f])
        if len(idx) >= 2:
            edges = delaunay_edges(pts[f][idx])
            if len(edges):
                src, dst = idx[edges[:, 0]], idx[edges[:, 1]]
                adj[f][src, dst] = 1
                adj[f][dst, src] = 1
    return adj


def compute_adjacency_matrix(settings, **kw) -> np.ndarray:
    team = kw["team_id"]
    is_ball = team == settings.ball_id
    n = team.shape[-1]
    atype = settings.adjacency_matrix_type

    if atype == "dense":
        adj = np.ones((*team.shape, n), dtype=np.int32)
    elif atype == "dense_ap":
        adj = _outer(team == kw["ball_owning_team_id"][..., :1])
    elif atype == "dense_dp":
        adj = _outer(~is_ball & (team != kw["ball_owning_team_id"][..., :1]))
    elif atype == "split_by_team":
        adj = (team[..., :, None] == team[..., None, :]).astype(np.int32)
    elif atype == "delaunay":
        adj = _delaunay_adjacency(kw["x"], kw["y"], is_ball)
    else:
        raise NotImplementedError(f"unknown adjacency_matrix_type {atype!r}")

    ctype = settings.adjacency_matrix_connect_type
    if ctype and ctype != "no_connection":
        ball_mask = is_ball[..., :, None] | is_ball[..., None, :]
        if ctype == "ball":
            adj = np.where(ball_mask, 1, adj)
        elif ctype == "ball_carrier":
            # the first carrier's row and column, where they touch the ball
            carrier = np.asarray(kw["is_ball_carrier"], dtype=bool)
            first = carrier & (np.cumsum(carrier, axis=-1) == 1)
            adj = np.where(ball_mask & (first[..., :, None] | first[..., None, :]), 1, adj)
    if atype == "delaunay":
        # reference delaunay path: ball self-loop is opt-in (b =
        # self_loop_ball, adjacency_matrix.py:122-124), overriding whatever
        # the connect block wrote on the diagonal
        loop = np.eye(n, dtype=bool) & is_ball[..., :, None]
        adj = np.where(loop, int(getattr(settings, "self_loop_ball", False)), adj)
    return adj


# ---------------------------------------------------------------------------
# Default node features (K4) — builtin.py:16-126
# ---------------------------------------------------------------------------


def _sincos(ang):
    return np.stack((normalize_sincos(np.sin(ang)), normalize_sincos(np.cos(ang))), axis=-1)


def _angle_components_to(target, position):
    vec = target - position
    return _sincos(np.arctan2(vec[..., 1], vec[..., 0]))


@graph_feature(feature_type="node")
def x_normed(**kw):
    dims = kw["settings"].pitch_dimensions
    return normalize_between(dims.x_dim.min, dims.x_dim.max, kw["x"])


@graph_feature(feature_type="node")
def y_normed(**kw):
    dims = kw["settings"].pitch_dimensions
    return normalize_between(dims.y_dim.min, dims.y_dim.max, kw["y"])


@graph_feature(feature_type="node")
def speeds_normed(**kw):
    s = kw["settings"]
    return per_class_normalized(kw["v"], kw["is_ball"], s.max_ball_speed, s.max_player_speed)


@graph_feature(feature_type="node")
def velocity_components_2d_normed(**kw):
    uv = unit_vectors(kw["velocity"])
    return _sincos(normalize_angles(np.arctan2(uv[..., 1], uv[..., 0])))


@graph_feature(feature_type="node")
def distance_to_goal_normed(**kw):
    s = kw["settings"]
    goal = np.asarray(s.goal_mouth_position, dtype=float)
    return normalize_distance(np.linalg.norm(kw["position"] - goal, axis=-1), s.max_goal_distance)


@graph_feature(feature_type="node")
def distance_to_ball_normed(**kw):
    d = np.linalg.norm(kw["position"] - kw["ball_position"][..., None, :], axis=-1)
    return normalize_distance(d, kw["settings"].max_distance)


@graph_feature(feature_type="node")
def is_possession_team(**kw):
    return np.where(
        kw["team_id"] == np.expand_dims(kw["possession_team_id"], -1),
        1,
        kw["settings"].defending_team_node_value,
    )


@graph_feature(feature_type="node")
def is_gk(**kw):
    return np.where(kw["is_gk"], 1, 0.1)


@graph_feature(feature_type="node")
def is_ball(**kw):
    return np.where(kw["is_ball"], 1, 0.1)


@graph_feature(feature_type="node")
def angle_to_goal_components_2d_normed(**kw):
    goal = np.asarray(kw["settings"].goal_mouth_position, dtype=float)
    return _angle_components_to(goal, kw["position"])


@graph_feature(feature_type="node")
def angle_to_ball_components_2d_normed(**kw):
    return _angle_components_to(kw["ball_position"][..., None, :], kw["position"])


@graph_feature(feature_type="node")
def is_ball_carrier(**kw):
    return np.where(np.asarray(kw["is_ball_carrier"], dtype=bool), 1, 0.1)


DEFAULT_NODE_FEATURES = [
    x_normed,
    y_normed,
    speeds_normed,
    velocity_components_2d_normed,
    distance_to_goal_normed,
    distance_to_ball_normed,
    is_possession_team,
    is_gk,
    is_ball,
    angle_to_goal_components_2d_normed,
    angle_to_ball_components_2d_normed,
    is_ball_carrier,
]


# ---------------------------------------------------------------------------
# Default edge features (K5) — builtin.py:129-173
# ---------------------------------------------------------------------------


def _pairwise(a):
    """a[..., i, :] - a[..., j, :] at [..., i, j, :]."""
    return a[..., :, None, :] - a[..., None, :, :]


@graph_feature(feature_type="edge")
def distances_between_players_normed(**kw):
    d = np.linalg.norm(_pairwise(kw["position"]), axis=-1)
    return normalize_distance(d, kw["settings"].max_distance)


@graph_feature(feature_type="edge")
def speed_difference_normed(**kw):
    s = kw["settings"]
    v = np.asarray(kw["v"], dtype=float)
    diff = np.nan_to_num(v[..., None, :] - v[..., :, None])
    return signed_speed_difference_normed(diff, kw["is_ball"], s.max_ball_speed, s.max_player_speed)


@graph_feature(feature_type="edge")
def angle_between_players_normed(**kw):
    vec = _pairwise(kw["position"][..., :2])
    ang = np.nan_to_num(np.arctan2(vec[..., 1], vec[..., 0]))
    return (
        normalize_sincos(np.nan_to_num(np.cos(ang))),
        normalize_sincos(np.nan_to_num(np.sin(ang))),
    )


@graph_feature(feature_type="edge")
def velocity_difference_normed(**kw):
    # reference compares the 2-d position delta with the first two velocity
    # components (builtin.py:166-173: angle_between slices [0:2] and [2:4])
    vel = kw["velocity"][..., :2]
    vel_vec = vel[..., None, :, :] - vel[..., :, None, :]
    ang = angle_between_rows(_pairwise(kw["position"][..., :2]), vel_vec)
    return (
        normalize_sincos(np.nan_to_num(np.cos(ang))),
        normalize_sincos(np.nan_to_num(np.sin(ang))),
    )


DEFAULT_EDGE_FEATURES = [
    distances_between_players_normed,
    speed_difference_normed,
    angle_between_players_normed,
    velocity_difference_normed,
]

_BUILTINS = frozenset(DEFAULT_NODE_FEATURES + DEFAULT_EDGE_FEATURES)


# ---------------------------------------------------------------------------
# Drivers — node_features_pl.py:19-93, edge_features_pl.py:18-81
# ---------------------------------------------------------------------------


def _feature_values(funcs, opts, settings, kw):
    """Yield ``(func, value)`` per feature function. A built-in runs once on
    ``kw`` as given; on a stack a user plugin runs once per frame on that
    frame's (N,) kwargs and its value is the list of per-frame results."""
    if opts and "settings" in opts:
        raise ValueError("'settings' is a reserved feature-option key")
    extra = {**(opts or {}), "settings": settings}
    frames = None
    for func in funcs:
        if func in _BUILTINS or kw["team_id"].ndim == 1:
            yield func, func(**{**kw, **extra})
            continue
        if frames is None:
            frames = [
                {k: v[b] if isinstance(v, np.ndarray) else v for k, v in kw.items()}
                for b in range(len(kw["team_id"]))
            ]
        yield func, [func(**{**f, **extra}) for f in frames]


def _node_columns(func, value, lead, n):
    """``value`` as (*lead, n, k) columns, checking the plugin contract."""
    if not isinstance(value, np.ndarray):
        raise ValueError(f"{func.__name__} must return a numpy array")
    if value.shape == (*lead, n):
        return value[..., None]
    if value.ndim == len(lead) + 2 and value.shape[:-1] == (*lead, n):
        return value
    raise ValueError(f"{func.__name__}: expected shape ({n},) or ({n}, k), got {value.shape}")


def _edge_parts(func, value, lead, n):
    parts = value if isinstance(value, tuple) else (value,)
    for m in parts:
        if not isinstance(m, np.ndarray) or m.shape != (*lead, n, n):
            raise ValueError(f"{func.__name__}: expected shape ({n}, {n}), got {getattr(m, 'shape', None)}")
    return parts


def compute_node_features(funcs, opts, settings, **kw):
    """(N, F) node features of one frame, or (B, N, F) of a stack, plus the
    column count per function."""
    lead, n = kw["team_id"].shape[:-1], kw["team_id"].shape[-1]
    cols = []
    dims = {}
    for func, value in _feature_values(funcs, opts, settings, kw):
        if isinstance(value, list):
            value = np.stack([_node_columns(func, v, (), n) for v in value])
        else:
            value = _node_columns(func, value, lead, n)
        cols.append(value)
        dims[func.__name__] = value.shape[-1]
    return np.nan_to_num(np.concatenate(cols, axis=-1)), dims


def compute_edge_features(adjacency_matrix, funcs, opts, settings, **kw):
    """(E, C) edge features at the adjacency's nonzero cells in row-major
    order, plus the channel count per function. For a stack the frames'
    rows follow one another in frame order."""
    lead, n = kw["team_id"].shape[:-1], kw["team_id"].shape[-1]
    mats = []
    dims = {}
    for func, value in _feature_values(funcs, opts, settings, kw):
        if isinstance(value, list):
            per_frame = [_edge_parts(func, v, (), n) for v in value]
            parts = [np.stack(p) for p in zip(*per_frame, strict=True)]
        else:
            parts = _edge_parts(func, value, lead, n)
        mats.extend(parts)
        dims[func.__name__] = len(parts)

    nz = np.nonzero(adjacency_matrix == 1)
    return np.nan_to_num(np.stack([m[nz] for m in mats], axis=-1)), dims


def add_global_features(node_features, global_features, global_feature_type, ball_idx):
    """K8 (node_features_pl.py:6-16): attach graph-level values to the ball
    row only, or tile onto all rows."""
    if global_feature_type == "ball":
        eg = np.zeros((node_features.shape[0], global_features.shape[0]))
        eg[ball_idx] = global_features
        return np.hstack((node_features, eg))
    if global_feature_type == "all":
        return np.hstack((node_features, np.tile(global_features, (node_features.shape[0], 1))))
    raise ValueError("global_feature_type must be 'ball' or 'all'")


def frame_kwargs(d: dict, settings) -> dict:
    """Derived kwargs (graph_converter.py:564-600) of one frame's (N,) arrays
    or a stack's (B, N): nan-guarded position/velocity stacks, the ball mask,
    the first ball row (0 without a ball) and its position (the origin
    without a ball)."""
    d = dict(d)
    is_ball = d["team_id"] == settings.ball_id
    d["ball_id"] = settings.ball_id
    d["possession_team_id"] = np.take(d["ball_owning_team_id"], 0, axis=-1)
    d["is_gk"] = d["position_name"] == settings.goalkeeper_id
    d["is_ball"] = is_ball
    d["position"] = np.nan_to_num(
        np.stack((d["x"], d["y"], d["z"]), axis=-1), nan=1e-10, posinf=1e3, neginf=-1e3
    )
    d["velocity"] = np.nan_to_num(
        np.stack((d["vx"], d["vy"], d["vz"]), axis=-1), nan=1e-10, posinf=1e3, neginf=-1e3
    )
    has_ball = is_ball.any(axis=-1)
    d["ball_idx"] = np.where(has_ball, is_ball.argmax(axis=-1), 0)
    ball = np.take_along_axis(d["position"], d["ball_idx"][..., None, None], axis=-2)[..., 0, :]
    d["ball_position"] = np.where(has_ball[..., None], ball, 0.0)
    return d
