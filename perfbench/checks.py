"""Correctness checks, run outside the timed region.

Each tracking check recomputes a seeded sample independently of the Spark
pipeline, from the generator's own frames and the public numpy functions:

- velocity: lag difference plus ``functions.savgol.savgol_filter``, then the
  ball-owning orientation flip, for sampled object series;
- TTI/PTI: ``functions.intercept`` on sampled frames of the ingested table;
- graphs: the per-frame plugin path (``compute_adjacency_matrix`` and the
  default feature functions), not the batched path the converter takes;
- row counts: ingest keeps 23 rows for every frame where some player is
  within the ball-carrier threshold, and PI and graphs give one row per
  kept frame.

The dedup queries are compared with their DuckDB oracle
(``plans.ORACLE_SQL``). Each check returns a list of mismatch messages.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from unravelsports_spark.functions.graph_features import (
    DEFAULT_EDGE_FEATURES,
    DEFAULT_NODE_FEATURES,
    compute_adjacency_matrix,
    compute_edge_features,
    compute_node_features,
    frame_kwargs,
)
from unravelsports_spark.functions.intercept import probability_to_intercept, time_to_intercept
from unravelsports_spark.functions.savgol import savgol_filter
from unravelsports_spark.models.pressing_intensity import PressingIntensity
from unravelsports_spark.operators.kinematics import DEFAULT_BALL_SMOOTHING, DEFAULT_PLAYER_SMOOTHING
from unravelsports_spark.plans import ORACLE_SQL
from unravelsports_spark.schema import BALL, Column
from unravelsports_spark.settings import GraphSettings

TOL = 1e-9
_FRAME_ARRAYS = [
    "x", "y", "z", "v", "vx", "vy", "vz", "a", "ax", "ay", "az", "team_id",
    "position_name", "ball_owning_team_id", "is_ball_carrier", "id",
]


def possession(long: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """Per frame of one generated match: the closest player to the ball
    (ties to the lowest id) and whether it is within ``threshold``."""
    ball = long[long[Column.TEAM_ID] == BALL].set_index(Column.FRAME_ID)[["x", "y", "z"]]
    players = long[long[Column.TEAM_ID] != BALL].join(ball, on=Column.FRAME_ID, rsuffix="_b")
    players = players.assign(
        dist=np.sqrt(
            (players.x - players.x_b) ** 2 + (players.y - players.y_b) ** 2 + (players.z - players.z_b) ** 2
        )
    ).sort_values([Column.FRAME_ID, "dist", Column.OBJECT_ID])
    first = players.drop_duplicates(Column.FRAME_ID)
    return pd.DataFrame(
        {
            "owner_team": first[Column.TEAM_ID].to_numpy(),
            "owner": first[Column.OBJECT_ID].to_numpy(),
            "kept": (first["dist"] < threshold).to_numpy(),
        },
        index=first[Column.FRAME_ID].to_numpy(),
    )


def expected_velocity(long: pd.DataFrame, object_id: str, owner: pd.DataFrame, home: str) -> pd.DataFrame:
    """vx/vy of one object per kept frame, recomputed without Spark."""
    obj = long[long[Column.OBJECT_ID] == object_id].sort_values([Column.PERIOD_ID, Column.TIMESTAMP])
    params = DEFAULT_BALL_SMOOTHING if object_id == BALL else DEFAULT_PLAYER_SMOOTHING
    parts = []
    for _, p in obj.groupby(Column.PERIOD_ID, sort=True):
        dt = np.diff(p[Column.TIMESTAMP].to_numpy() / 1000.0)
        out = {Column.FRAME_ID: p[Column.FRAME_ID].to_numpy()}
        for axis in ("x", "y"):
            raw = np.r_[0.0, np.diff(p[axis].to_numpy()) / dt]
            out[f"v{axis}"] = savgol_filter(raw, params["window_length"], params["polyorder"])
        parts.append(pd.DataFrame(out))
    v = pd.concat(parts).set_index(Column.FRAME_ID)
    v = v[owner["kept"].reindex(v.index).to_numpy()]
    flip = np.where(owner["owner_team"].reindex(v.index).to_numpy() != home, -1.0, 1.0)
    return v.mul(flip, axis=0)


def frame_arrays(rows: pd.DataFrame) -> dict:
    return {c: rows[c].to_numpy() for c in _FRAME_ARRAYS}


def expected_pressing(rows: pd.DataFrame, home: str):
    """TTI/PTI of one frame for ``fit(method="teams", ball_method="max",
    orient="home_away")`` with the model's default parameters."""
    key = np.where(rows[Column.TEAM_ID] == BALL, 2, np.where(rows[Column.TEAM_ID] == home, 0, 1))
    rows = rows.assign(_k=key).sort_values(["_k", Column.OBJECT_ID], kind="stable")
    d = frame_arrays(rows)
    owning = (d["team_id"] == d["ball_owning_team_id"]) | (d["team_id"] == BALL)
    oi, ni = np.where(owning)[0], np.where(~owning)[0]
    pos = np.stack((d["x"], d["y"], d["z"]), axis=-1)
    vel = np.stack((d["vx"], d["vy"], d["vz"]), axis=-1)
    tti = time_to_intercept(pos[oi], pos[ni], vel[oi], vel[ni], reaction_time=0.7, max_object_speed=12.0)
    ball = int(np.where(d["team_id"][oi] == BALL)[0][0])
    carrier = int(np.where(d["is_ball_carrier"][oi])[0][0])
    tti[:, carrier] = np.minimum(tti[:, carrier], tti[:, ball])
    tti = np.delete(tti, ball, axis=1)
    pti = probability_to_intercept(tti, 0.45, 1.5)
    if d["ball_owning_team_id"][0] == home:
        return tti.T, pti.T
    return tti, pti


def expected_graph(rows: pd.DataFrame, settings: GraphSettings):
    """(a, e, x) of one frame through the per-frame plugin path."""
    team, bot = rows[Column.TEAM_ID], rows[Column.BALL_OWNING_TEAM_ID]
    key = np.where(team == BALL, 2, np.where(team == bot, -1, 0))
    d = frame_arrays(rows.assign(_k=key).sort_values(["_k", Column.OBJECT_ID], kind="stable"))
    fk = frame_kwargs(d, settings)
    adj = compute_adjacency_matrix(settings, **fk)
    edge, _ = compute_edge_features(adj, DEFAULT_EDGE_FEATURES, None, settings, **fk)
    node, _ = compute_node_features(DEFAULT_NODE_FEATURES, None, settings, **fk)
    return adj.astype(float), edge, node


def _close(name: str, got, want) -> list[str]:
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    if got.shape != want.shape:
        return [f"{name}: shape {got.shape} != {want.shape}"]
    if not np.allclose(got, want, rtol=TOL, atol=TOL, equal_nan=True):
        return [f"{name}: max abs diff {np.nanmax(np.abs(got - want)):.3g}"]
    return []


def collect_tracking_sample(chain, seed: int, frames_per_match: int = 3) -> dict:
    """Everything the tracking checks compare, collected from Spark once."""
    rng = np.random.default_rng(seed)
    picks, frames = [], []
    for m in chain.matches:
        ids = sorted(set(m.long[Column.OBJECT_ID]) - {BALL})
        picks += [(m.game_id, str(i)) for i in rng.choice(ids, 2, replace=False)] + [(m.game_id, BALL)]
        fids = sorted(set(m.long[Column.FRAME_ID]))
        frames += [(m.game_id, int(f)) for f in rng.choice(fids, frames_per_match, replace=False)]
    tracking = chain.tracking()
    pick = F.concat_ws("/", Column.GAME_ID, Column.OBJECT_ID).isin([f"{g}/{o}" for g, o in picks])
    at = F.concat_ws("/", Column.GAME_ID, F.col(Column.FRAME_ID).cast("string")).isin(
        [f"{g}/{f}" for g, f in frames]
    )
    pressing = PressingIntensity(tracking, chain.settings()).fit(
        method="teams", ball_method="max", orient="home_away"
    ).output
    graphs = chain.spark.read.parquet(chain.graphs_path)
    return {
        "picks": picks,
        "series": tracking.filter(pick).toPandas(),
        "frame_rows": tracking.filter(at).toPandas(),
        "pressing": pressing.filter(at).toPandas(),
        "graphs": graphs.filter(at).toPandas(),
    }


def check_tracking(chain, sample: dict, rows: dict) -> list[str]:
    """``rows`` maps an op name to the row count of its output."""
    settings = chain.settings()
    home = settings.home_team_id
    bad: list[str] = []
    owners = {m.game_id: possession(m.long, settings.ball_carrier_threshold) for m in chain.matches}
    kept = sum(int(o["kept"].sum()) for o in owners.values())
    for op, want in (("ingest", 23 * kept), ("pressing", kept), ("graphs", kept)):
        if op in rows and rows[op] != want:
            bad.append(f"{op}: {rows[op]} rows, expected {want}")

    longs = {m.game_id: m.long for m in chain.matches}
    series = sample["series"]
    for game, oid in sample["picks"]:
        got = series[(series[Column.GAME_ID] == game) & (series[Column.OBJECT_ID] == oid)]
        got = got.set_index(Column.FRAME_ID).sort_index()
        want = expected_velocity(longs[game], oid, owners[game], home)
        if list(got.index) != list(want.index):
            bad.append(f"velocity {game}/{oid}: frames differ")
            continue
        for axis in ("vx", "vy"):
            bad += _close(f"velocity {game}/{oid} {axis}", got[axis], want[axis])

    frame_rows = sample["frame_rows"]
    gs = GraphSettings(home_team_id=home, away_team_id=settings.away_team_id)
    for kind, out in (("pressing", sample["pressing"]), ("graphs", sample["graphs"])):
        expected_frames = frame_rows.drop_duplicates([Column.GAME_ID, Column.FRAME_ID])
        if len(out) != len(expected_frames):
            bad.append(f"{kind}: {len(out)} sampled frames, expected {len(expected_frames)}")
        for r in out.itertuples(index=False):
            rows_f = frame_rows[
                (frame_rows[Column.GAME_ID] == r.game_id) & (frame_rows[Column.FRAME_ID] == r.frame_id)
            ]
            where = f"{kind} {r.game_id}/{r.frame_id}"
            if kind == "pressing":
                tti, pti = expected_pressing(rows_f, home)
                bad += _close(f"{where} tti", np.stack(r.time_to_intercept), tti)
                bad += _close(f"{where} pti", np.stack(r.probability_to_intercept), pti)
            else:
                a, e, x = expected_graph(rows_f, gs)
                for name, got, want in (("a", r.a, a), ("e", r.e, e), ("x", r.x, x)):
                    bad += _close(f"{where} {name}", np.stack(got), want)
    return bad


def _canonical(rows) -> list[tuple]:
    def norm(v):
        if isinstance(v, float):
            return round(v, 9)
        return v

    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


def check_dedup(sf_dir: str, results: dict) -> list[str]:
    """Compare each collected query result, ``{name: (columns, rows)}``,
    with its DuckDB oracle."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
        bad = []
        for name, (cols, got) in results.items():
            rel = con.execute(ORACLE_SQL[name])
            duck_cols = [d[0] for d in rel.description]
            if sorted(duck_cols) != sorted(cols):
                bad.append(f"{name}: columns {cols} != oracle {duck_cols}")
                continue
            order = [duck_cols.index(c) for c in cols]
            want = [tuple(r[i] for i in order) for r in rel.fetchall()]
            g, w = _canonical(got), _canonical(want)
            if len(g) != len(w):
                bad.append(f"{name}: {len(g)} rows, oracle {len(w)}")
                continue
            for a, b in zip(g, w):
                if any(
                    not (x == y or (isinstance(x, float) and math.isclose(x, y, rel_tol=TOL)))
                    for x, y in zip(a, b)
                ):
                    bad.append(f"{name}: row {a} != oracle {b}")
                    break
        return bad
    finally:
        con.close()
