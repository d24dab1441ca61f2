"""SkillCorner broadcast-tracking ingest — kloppy-free (S1b).

Parses the public SkillCorner open-data format (github.com/SkillCorner/opendata;
the same files the reference loads through ``kloppy.skillcorner`` in
tests/test_soccer.py:43,99-110 and unravel/soccer/dataset/kloppy_polars.py:878)
straight into the canonical long table, then runs the kinematics stage
shared with the other loaders (`tracking.add_kinematics`).

Format (public):

- ``match_data.json`` — metadata: ``home_team``/``away_team`` (ids), ``players``
  (each with ``trackable_object``, ``team_id``, ``player_role``),
  ``ball.trackable_object`` (55 in open data), ``pitch_length``/``pitch_width``.
- ``structured_data.json[.gz]`` — a JSON array (or JSON-lines) of frames:
  ``{"frame": N, "period": 1|2|null, "time"/"timestamp": "HH:MM:SS.fff",
  "data": [{"trackable_object": id, "track_id": t, "x": .., "y": .., "z"?: ..,
  "group_name"?: "home team"}, ...], "possession": {"trackable_object": id,
  "group": "home team"|"away team"|null}}``

Mapping decisions (mirroring kloppy's public skillcorner deserializer
semantics, re-derived from the format docs — no kloppy code used):

- frames with ``period`` null (out-of-play broadcast segments) or an empty
  ``data`` list are dropped (kloppy ``include_empty_frames=False`` default);
- anonymous tracks (``group_name`` only, no ``trackable_object``) and referee
  objects are dropped — they have no stable player identity;
- ``possession.group`` → ``ball_owning_team_id``; a frame with possession is
  ``alive``, otherwise ``dead`` (broadcast data has no explicit ball status);
- coordinates are already pitch-centered meters on a ``pitch_length``×
  ``pitch_width`` pitch — the frame the reference normalizes to;
- broadcast tracking is 10 fps → 100 ms frame interval.
"""

from __future__ import annotations

import gzip
import json
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import SparkSession

from ..operators.kinematics import DEFAULT_BALL_SMOOTHING, DEFAULT_PLAYER_SMOOTHING
from ..schema import BALL, TRACKING_SCHEMA
from ..settings import DefaultSettings
from .tracking import add_kinematics

#: SkillCorner role names → canonical GK marker (only GK matters downstream).
GK_ROLES = {"Goalkeeper", "GK"}


@dataclass
class SkillCornerMetadata:
    game_id: str
    home_team_id: str
    away_team_id: str
    pitch_length: float
    pitch_width: float
    ball_trackable_object: int
    #: trackable_object → (team_id, position_name)
    players: dict
    #: referee trackable_objects to drop
    referees: set


def parse_match_data(match_data_path: str) -> SkillCornerMetadata:
    with open(match_data_path) as f:
        d = json.load(f)
    players = {}
    for p in d.get("players", []):
        role = (p.get("player_role") or {}).get("name")
        pos = "GK" if role in GK_ROLES else (p.get("player_role") or {}).get("acronym")
        players[p["trackable_object"]] = (str(p["team_id"]), pos)
    referees = {
        r["trackable_object"]
        for r in d.get("referees", [])
        if r.get("trackable_object") is not None
    }
    return SkillCornerMetadata(
        game_id=str(d.get("id", "skillcorner")),
        home_team_id=str(d["home_team"]["id"]),
        away_team_id=str(d["away_team"]["id"]),
        pitch_length=float(d.get("pitch_length") or 105.0),
        pitch_width=float(d.get("pitch_width") or 68.0),
        ball_trackable_object=int((d.get("ball") or {}).get("trackable_object", 55)),
        players=players,
        referees=referees,
    )


def _parse_time_ms(value) -> int | None:
    """``"HH:MM:SS.fff"`` / ``"MM:SS.fff"`` / numeric seconds → millis."""
    if value is None:
        return None
    if isinstance(value, (int, float)):
        return int(round(float(value) * 1000))
    parts = str(value).split(":")
    try:
        secs = float(parts[-1])
        mins = int(parts[-2]) if len(parts) >= 2 else 0
        hours = int(parts[-3]) if len(parts) >= 3 else 0
    except ValueError:
        return None
    return int(round(((hours * 60 + mins) * 60 + secs) * 1000))


def _iter_frames(structured_path: str):
    opener = gzip.open if structured_path.endswith(".gz") else open
    with opener(structured_path, "rt") as f:
        head = f.read(1)
        f.seek(0)
        if head == "[":
            yield from json.load(f)
        else:  # JSON-lines variant
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def parse_structured(
    structured_path: str,
    meta: SkillCornerMetadata,
    limit: int | None = None,
) -> pd.DataFrame:
    """Long-format rows: one per identified object per frame."""
    group_to_team = {
        "home team": meta.home_team_id,
        "away team": meta.away_team_id,
        "home": meta.home_team_id,
        "away": meta.away_team_id,
    }
    rows = []
    n_kept = 0
    for fr in _iter_frames(structured_path):
        period = fr.get("period")
        data = fr.get("data") or []
        if period is None or not data:
            continue
        if limit is not None and n_kept >= limit:
            break
        n_kept += 1
        frame_id = int(fr["frame"])
        ts = _parse_time_ms(fr.get("time", fr.get("timestamp")))
        if ts is None:
            ts = frame_id * 100  # 10 Hz
        poss = fr.get("possession") or {}
        owning = group_to_team.get((poss.get("group") or "").lower())
        state = "alive" if owning is not None else "dead"
        for obj in data:
            to = obj.get("trackable_object")
            if to is None or to in meta.referees:
                continue  # anonymous or referee track — no stable identity
            x, y = obj.get("x"), obj.get("y")
            if x is None or y is None:
                continue
            if to == meta.ball_trackable_object:
                oid, team_id, pos = BALL, BALL, None
            elif to in meta.players:
                team_id, pos = meta.players[to]
                oid = str(to)
            else:
                continue  # unknown trackable object
            z = float(obj["z"]) if obj.get("z") is not None else 0.0
            rows.append(
                (meta.game_id, int(period), frame_id, ts, oid, team_id, pos,
                 float(x), float(y), z, owning, state)
            )
    return pd.DataFrame(
        rows,
        columns=["game_id", "period_id", "frame_id", "timestamp", "id", "team_id",
                 "position_name", "x", "y", "z", "ball_owning_team_id", "ball_state"],
    )


def load_skillcorner(
    spark: SparkSession,
    match_data_path: str,
    structured_data_path: str,
    player_smoothing: dict | None = DEFAULT_PLAYER_SMOOTHING,
    ball_smoothing: dict | None = DEFAULT_BALL_SMOOTHING,
    ball_carrier_threshold: float = 25.0,
    max_player_speed: float = 12.0,
    max_ball_speed: float = 28.0,
    max_player_acceleration: float = 6.0,
    max_ball_acceleration: float = 13.5,
    limit: int | None = None,
):
    """Full ingest: SkillCorner JSON → canonical table with kinematics +
    carrier state. Returns (DataFrame, DefaultSettings). Mirrors the
    reference's ``KloppyPolarsDataset(skillcorner.load(...))`` pipeline
    (kloppy_polars.py:813-921) on the Sportec-shared Spark path."""
    meta = parse_match_data(match_data_path)
    pdf = parse_structured(structured_data_path, meta, limit=limit)
    base_cols = [f.name for f in TRACKING_SCHEMA.fields if f.name in pdf.columns]
    # the settings carry the thresholds every stage below applies, so
    # downstream models read the values this ingest actually used
    settings = DefaultSettings(
        home_team_id=meta.home_team_id,
        away_team_id=meta.away_team_id,
        provider="skillcorner",
        frame_rate=10,
        ball_carrier_threshold=ball_carrier_threshold,
        max_player_speed=max_player_speed,
        max_ball_speed=max_ball_speed,
        max_player_acceleration=max_player_acceleration,
        max_ball_acceleration=max_ball_acceleration,
    )
    df = add_kinematics(spark.createDataFrame(pdf[base_cols]), settings, player_smoothing, ball_smoothing)
    return df, settings
