"""Sportec (DFL) tracking-XML ingest — kloppy-free (S1).

Parses the public DFL PutDataRequest format (one FrameSet per object per
game section; ball FrameSet carries BallPossession/BallStatus) straight into
the canonical long table, then runs the shared kinematics stage
(`tracking.add_kinematics`). The reference reaches the same table through
kloppy (kloppy_polars.py:813-921 with sportec.load_tracking); golden-parity of the
downstream Pressing Intensity scalar is asserted in
tests/test_sportec_golden.py against the reference's published value.

Coordinates in the sample are already pitch-centered meters on a 105×68
pitch (the secondspectrum frame the reference normalizes to). Frame N 10000
marks the section start; timestamps are (N − section_start)·frame_interval.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import SparkSession

from ..operators.kinematics import DEFAULT_BALL_SMOOTHING, DEFAULT_PLAYER_SMOOTHING
from ..schema import BALL, Column, TRACKING_SCHEMA
from ..settings import DefaultSettings
from .tracking import add_kinematics

SECTION_PERIOD = {"firstHalf": 1, "secondHalf": 2, "firstHalfExtra": 3, "secondHalfExtra": 4}
#: DFL position codes → canonical goalkeeper label (only GK matters downstream)
GK_CODES = {"TW"}


@dataclass
class SportecMetadata:
    game_id: str
    home_team_id: str
    away_team_id: str
    pitch_length: float
    pitch_width: float
    positions: dict  # object_id → position code


def parse_meta(meta_path: str) -> SportecMetadata:
    root = ET.parse(meta_path).getroot()
    general = root.find(".//General")
    positions = {}
    for team in root.findall(".//Team"):
        for player in team.findall(".//Player"):
            code = player.get("PlayingPosition")
            positions[player.get("PersonId")] = (
                "GK" if code in GK_CODES else code
            )
    env = root.find(".//Environment")
    return SportecMetadata(
        game_id=general.get("MatchId"),
        home_team_id=general.get("HomeTeamId"),
        away_team_id=general.get("GuestTeamId"),
        pitch_length=float(env.get("PitchX", 105.0)),
        pitch_width=float(env.get("PitchY", 68.0)),
        positions=positions,
    )


def parse_tracking(tracking_path: str, meta: SportecMetadata, limit: int | None = None):
    """Long-format rows: one per object per frame."""
    root = ET.parse(tracking_path).getroot()
    rows = []
    possession_by_frame: dict[tuple[int, int], tuple[str, str]] = {}
    section_start: dict[int, int] = {}

    framesets = root.findall(".//FrameSet")
    for fs in framesets:
        period = SECTION_PERIOD.get(fs.get("GameSection"), 1)
        start = min(int(f.get("N")) for f in fs.findall("Frame"))
        section_start[period] = min(section_start.get(period, start), start)

    for fs in framesets:
        period = SECTION_PERIOD.get(fs.get("GameSection"), 1)
        team_raw = fs.get("TeamId")
        is_ball = team_raw == "BALL"
        object_id = BALL if is_ball else fs.get("PersonId")
        team_id = BALL if is_ball else team_raw
        position_name = None if is_ball else meta.positions.get(fs.get("PersonId"))
        for k, fr in enumerate(fs.findall("Frame")):
            if limit is not None and k >= limit:
                break
            n = int(fr.get("N"))
            ts = (n - section_start[period]) * 40  # 25 Hz
            x, y = float(fr.get("X")), float(fr.get("Y"))
            z = float(fr.get("Z")) if fr.get("Z") is not None else (0.0 if not is_ball else 0.0)
            if is_ball:
                owning = (
                    meta.home_team_id if fr.get("BallPossession") == "1" else meta.away_team_id
                )
                state = "alive" if fr.get("BallStatus") == "1" else "dead"
                possession_by_frame[(period, n)] = (owning, state)
            rows.append((meta.game_id, period, n, ts, object_id, team_id, position_name, x, y, z))

    pdf = pd.DataFrame(
        rows,
        columns=["game_id", "period_id", "frame_id", "timestamp", "id", "team_id",
                 "position_name", "x", "y", "z"],
    )
    owning = pdf.apply(
        lambda r: possession_by_frame.get((r.period_id, r.frame_id), (None, None)), axis=1
    )
    pdf["ball_owning_team_id"] = [o[0] for o in owning]
    pdf["ball_state"] = [o[1] for o in owning]
    return pdf


def load_sportec(
    spark: SparkSession,
    meta_path: str,
    tracking_path: str,
    player_smoothing: dict | None = DEFAULT_PLAYER_SMOOTHING,
    ball_smoothing: dict | None = DEFAULT_BALL_SMOOTHING,
    ball_carrier_threshold: float = 25.0,
    max_player_speed: float = 12.0,
    max_ball_speed: float = 28.0,
    max_player_acceleration: float = 6.0,
    max_ball_acceleration: float = 13.5,
    limit: int | None = None,
):
    """Full ingest: XML → canonical table with kinematics + carrier state.
    Returns (DataFrame, DefaultSettings)."""
    meta = parse_meta(meta_path)
    pdf = parse_tracking(tracking_path, meta, limit=limit)
    base_cols = [f.name for f in TRACKING_SCHEMA.fields
                 if f.name in pdf.columns]
    # the settings carry the thresholds every stage below applies, so
    # downstream models read the values this ingest actually used
    settings = DefaultSettings(
        home_team_id=meta.home_team_id,
        away_team_id=meta.away_team_id,
        provider="sportec",
        ball_carrier_threshold=ball_carrier_threshold,
        max_player_speed=max_player_speed,
        max_ball_speed=max_ball_speed,
        max_player_acceleration=max_player_acceleration,
        max_ball_acceleration=max_ball_acceleration,
    )
    df = add_kinematics(spark.createDataFrame(pdf[base_cols]), settings, player_smoothing, ball_smoothing)
    return df, settings
