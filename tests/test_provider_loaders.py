"""The provider loaders report the thresholds they applied.

``load_sportec`` and ``load_skillcorner`` cap speed and acceleration and
infer ball ownership with their keyword thresholds; the settings they
return must carry those same values, because downstream models
(``PressingIntensity``, the graph converters) read them from the settings.
The parsers are replaced by a small synthetic long frame, so no provider
files are needed."""

import pandas as pd
import pytest

from unravelsports_spark.datasets import skillcorner, sportec
from unravelsports_spark.schema import BALL, Column

THRESHOLDS = dict(
    ball_carrier_threshold=3.0,
    max_player_speed=10.0,
    max_ball_speed=20.0,
    max_player_acceleration=5.0,
    max_ball_acceleration=10.0,
)


def _long_frame(n_frames=30, interval_ms=40):
    """A home player running at 11 m/s with the ball at their feet and an
    away player standing still — the runner's speed sits between the
    default cap (12) and the one passed in (10)."""
    rows = []
    for f in range(n_frames):
        t = f * interval_ms / 1000.0
        x = -20.0 + 11.0 * t
        for oid, team, pos, px, py in (
            ("p1", "home", "CM", x, 0.0),
            ("p2", "away", "GK", 40.0, 5.0),
            (BALL, BALL, None, x + 0.5, 0.0),
        ):
            rows.append(
                ("g1", 1, f, f * interval_ms, oid, team, pos, px, py, 0.0,
                 "home", "alive")
            )
    return pd.DataFrame(
        rows,
        columns=["game_id", "period_id", "frame_id", "timestamp", "id", "team_id",
                 "position_name", "x", "y", "z", "ball_owning_team_id", "ball_state"],
    )


def _load_sportec(spark, monkeypatch):
    meta = sportec.SportecMetadata("g1", "home", "away", 105.0, 68.0, {})
    monkeypatch.setattr(sportec, "parse_meta", lambda path: meta)
    monkeypatch.setattr(sportec, "parse_tracking", lambda path, m, limit=None: _long_frame())
    return sportec.load_sportec(spark, "meta.xml", "tracking.xml", **THRESHOLDS)


def _load_skillcorner(spark, monkeypatch):
    meta = skillcorner.SkillCornerMetadata("g1", "home", "away", 105.0, 68.0, 55, {}, set())
    monkeypatch.setattr(skillcorner, "parse_match_data", lambda path: meta)
    monkeypatch.setattr(
        skillcorner, "parse_structured", lambda path, m, limit=None: _long_frame()
    )
    return skillcorner.load_skillcorner(spark, "match.json", "structured.json", **THRESHOLDS)


@pytest.mark.parametrize("load", [_load_sportec, _load_skillcorner])
def test_loader_settings_carry_the_applied_thresholds(spark, monkeypatch, load):
    df, settings = load(spark, monkeypatch)
    for name, value in THRESHOLDS.items():
        assert getattr(settings, name) == value, name
    players = df.filter(df[Column.OBJECT_ID] != BALL)
    assert players.filter(players[Column.SPEED] > settings.max_player_speed).count() == 0
    # the cap did bite: the runner is reported at the passed-in limit
    assert players.filter(players[Column.SPEED] == 10.0).count() > 0
