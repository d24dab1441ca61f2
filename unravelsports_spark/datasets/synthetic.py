"""Deterministic synthetic canonical tracking table (FIXTURES.md §1).

22 players + ball per frame, pitch-centered meters, ~25 fps, possession runs,
one ball carrier per frame on the owning team. Used by tests and bench for
the model kernels — no provider parsing needed (the reference exercises the
same surface through kloppy samples, tests/test_soccer.py:124-144).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..schema import BALL, Column, TRACKING_SCHEMA

HOME = "home_team"
AWAY = "away_team"


def synthetic_tracking_pandas(
    n_frames: int = 200,
    n_games: int = 1,
    seed: int = 7,
    frame_rate: int = 25,
    missing_player_frames: tuple[int, ...] = (),
    missing_ball_frames: tuple[int, ...] = (),
) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    dt_ms = int(1000 / frame_rate)
    rows = []
    for g in range(n_games):
        game_id = f"game_{g}"
        player_ids = [f"{t}_p{i:02d}" for t in ("h", "a") for i in range(11)]
        team_ids = [HOME] * 11 + [AWAY] * 11
        positions = (["GK"] + ["CB", "LB", "RB", "CM", "CM", "LM", "RM", "ST", "ST", "CAM"]) * 2
        # smooth random walks per object
        x = rng.uniform(-45, 45, size=22)
        y = rng.uniform(-30, 30, size=22)
        vx = rng.normal(0, 2, size=22)
        vy = rng.normal(0, 2, size=22)
        bx, by, bz = 0.0, 0.0, 0.1
        bvx, bvy, bvz = rng.normal(0, 4), rng.normal(0, 4), 0.0
        owning = HOME
        for f in range(n_frames):
            period = 1 if f < n_frames // 2 else 2
            frame_id = f
            ts = (f - (0 if period == 1 else n_frames // 2)) * dt_ms
            if f % 97 == 0 and f > 0:
                owning = AWAY if owning == HOME else HOME
            # kinematics step
            vx = np.clip(vx + rng.normal(0, 0.5, 22), -8, 8)
            vy = np.clip(vy + rng.normal(0, 0.5, 22), -8, 8)
            x = np.clip(x + vx / frame_rate, -52.5, 52.5)
            y = np.clip(y + vy / frame_rate, -34, 34)
            bvx = float(np.clip(bvx + rng.normal(0, 1.0), -20, 20))
            bvy = float(np.clip(bvy + rng.normal(0, 1.0), -20, 20))
            bx = float(np.clip(bx + bvx / frame_rate, -52.5, 52.5))
            by = float(np.clip(by + bvy / frame_rate, -34, 34))

            own_idx = [i for i in range(22) if team_ids[i] == owning]
            dists = [(x[i] - bx) ** 2 + (y[i] - by) ** 2 for i in own_idx]
            carrier = own_idx[int(np.argmin(dists))]
            label = int(rng.integers(0, 2))

            skip_players = set()
            if f in missing_player_frames:
                skip_players = {3, 7, 15}
            for i in range(22):
                if i in skip_players:
                    continue
                v = float(np.hypot(vx[i], vy[i]))
                rows.append(
                    (game_id, period, frame_id, ts, player_ids[i], team_ids[i],
                     positions[i], float(x[i]), float(y[i]), 0.0,
                     float(vx[i]), float(vy[i]), 0.0, v,
                     0.0, 0.0, 0.0, 0.0, "alive", owning, i == carrier,
                     label, f"{game_id}-{frame_id}")
                )
            if f not in missing_ball_frames:
                bv = float(np.hypot(bvx, bvy))
                rows.append(
                    (game_id, period, frame_id, ts, BALL, BALL, None,
                     bx, by, bz, bvx, bvy, bvz, bv,
                     0.0, 0.0, 0.0, 0.0, "alive", owning, False,
                     label, f"{game_id}-{frame_id}")
                )
    cols = [f.name for f in TRACKING_SCHEMA.fields]
    return pd.DataFrame(rows, columns=cols)


def synthetic_tracking_df(spark, **kwargs):
    pdf = synthetic_tracking_pandas(**kwargs)
    return spark.createDataFrame(pdf, schema=TRACKING_SCHEMA)


#: offense then defense; each team fields one half or the other per play
_BDB_ROSTER = ["QB", "RB", "WR", "WR", "WR", "TE", "T", "G", "C", "G", "T",
               "DE", "DT", "DT", "DE", "OLB", "MLB", "OLB", "CB", "CB", "FS", "SS"]


def synthetic_bdb_csvs(out_dir: str) -> None:
    """Write a small Big Data Bowl sample (FIXTURES.md §3) to ``out_dir``:
    ``bdb_coords-1.csv``, ``bdb_players-1.csv`` and ``bdb_plays-1.csv``.

    One game, two plays: KC has the ball moving right, then BUF moving
    left, each with its QB on the field. Every frame has 22 players and a
    football row with ``nflId``, ``jerseyNumber``, ``o`` and ``dir`` NA;
    the second play's last frame keeps only 8 players, so it falls under
    the AF converter's minimum object count."""
    import os

    rng = np.random.default_rng(3)
    game_id = 2021091300
    players = pd.DataFrame(
        [(40_000 + 100 * t + i, f"{rng.integers(5, 7)}-{rng.integers(0, 12)}",
          int(rng.integers(180, 330)), "1995-01-01", "State", pos, f"{team} {pos} {i}")
         for t, team in enumerate(("KC", "BUF")) for i, pos in enumerate(_BDB_ROSTER)],
        columns=["nflId", "height", "weight", "birthDate", "collegeName",
                 "officialPosition", "displayName"],
    )
    plays = pd.DataFrame(
        [(game_id, 101, "pass short right", 1, 1, 10, "KC", "BUF"),
         (game_id, 202, "run up the middle", 2, 2, 6, "BUF", "KC")],
        columns=["gameId", "playId", "playDescription", "quarter", "down",
                 "yardsToGo", "possessionTeam", "defensiveTeam"],
    )
    roster = {"KC": players["nflId"][:22].tolist(), "BUF": players["nflId"][22:].tolist()}
    rows = []
    for play_id, offense, defense, direction, n_frames, los in (
        (101, "KC", "BUF", "right", 14, 35.0), (202, "BUF", "KC", "left", 11, 70.0)
    ):
        ahead = 1.0 if direction == "right" else -1.0
        on_field = [(offense, i) for i in roster[offense][:11]]
        on_field += [(defense, i) for i in roster[defense][11:]]
        n = len(on_field)
        x = los + np.where(np.arange(n) < 11, -ahead, ahead) * rng.uniform(1, 8, n)
        y = rng.uniform(5, 48, n)
        o = rng.uniform(0, 360, n)
        heading = rng.uniform(0, 360, n)
        bx = los
        for f in range(1, n_frames + 1):
            s = rng.uniform(0, 6, n)
            a = rng.uniform(0, 4, n)
            heading = (heading + rng.normal(0, 20, n)) % 360
            o = (o + rng.normal(0, 10, n)) % 360
            x = np.clip(x + 0.1 * s * np.sin(np.radians(heading)), 0, 120)
            y = np.clip(y + 0.1 * s * np.cos(np.radians(heading)), 0, 53.3)
            time = f"2021-09-13T00:{play_id // 10:02d}:{f // 10:02d}.{f % 10}00"
            event = "ball_snap" if f == 1 else None
            for i in range(8 if (play_id, f) == (202, n_frames) else n):
                team, nfl_id = on_field[i]
                rows.append((game_id, play_id, nfl_id, f, time, i + 1, team, direction,
                             x[i], y[i], s[i], a[i], 0.1 * s[i], o[i], heading[i], event))
            bx = float(np.clip(bx + ahead * rng.uniform(0, 1.5), 0, 120))
            rows.append((game_id, play_id, None, f, time, None, "football", direction, bx,
                         26.65, rng.uniform(0, 20), rng.uniform(0, 10), 0.5, None, None, event))
    tracking = pd.DataFrame(
        rows,
        columns=["gameId", "playId", "nflId", "frameId", "time", "jerseyNumber", "team",
                 "playDirection", "x", "y", "s", "a", "dis", "o", "dir", "event"],
    ).astype({"nflId": "Int64", "jerseyNumber": "Int64"})
    os.makedirs(out_dir, exist_ok=True)
    for name, frame in (("coords", tracking), ("players", players), ("plays", plays)):
        frame.to_csv(os.path.join(out_dir, f"bdb_{name}-1.csv"), index=False,
                     na_rep="NA", float_format="%.2f")
