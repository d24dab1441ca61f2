"""SkillCorner JSON ingest: real metadata sample + synthetic structured
tracking in the public open-data format.

The reference's own SkillCorner test (tests/test_soccer.py:43,99-110,919)
loads ``skillcorner_match_data.json`` + ``skillcorner_structured_data.json.gz``
via kloppy (500 frames → 383 graphs pad=False / 245 pad=True at sample 1/2).
The structured gz is not shipped in the reference checkout (kloppy downloads
it), so this suite parses the REAL match_data.json from the reference files
and generates structured tracking in the same public format with a KNOWN
pattern of complete / ball-less / short-handed / null-period frames, then
asserts the ingest + graph-converter counts match independently computed
expectations — the same structural contract the reference test exercises.
"""

import gzip
import json
import os

import pytest

from unravelsports_spark.datasets.skillcorner import (
    load_skillcorner,
    parse_match_data,
    parse_structured,
)
from unravelsports_spark.datasets.tracking import TrackingDataset
from unravelsports_spark.models.graph_converter import SoccerGraphConverter
from unravelsports_spark.schema import BALL, Column
from unravelsports_spark.settings import GraphSettings

MATCH_DATA = "/root/reference/tests/files/skillcorner_match_data.json"
BALL_TO = 55
N_FRAMES = 500

if not os.path.isdir(os.path.dirname(MATCH_DATA)):
    pytest.skip(
        "needs the reference checkout's fixture files, which are not present",
        allow_module_level=True,
    )


@pytest.fixture(scope="module")
def meta():
    return parse_match_data(MATCH_DATA)


def test_match_data_metadata(meta):
    assert meta.home_team_id == "100" and meta.away_team_id == "103"
    assert meta.ball_trackable_object == 55
    assert meta.pitch_length == 105.0 and meta.pitch_width == 68.0
    assert len(meta.players) == 38
    assert 22396 in meta.referees  # referee must be excluded from players
    # goalkeepers normalized to "GK"
    assert "GK" in {pos for _, pos in meta.players.values()}


def _starters(meta, team_id, n=11):
    """Deterministic pick of n trackable objects per team, GK first."""
    team = sorted(
        to for to, (t, _pos) in meta.players.items() if t == team_id
    )
    gks = [to for to in team if meta.players[to][1] == "GK"]
    rest = [to for to in team if meta.players[to][1] != "GK"]
    return (gks + rest)[:n]


def _synth_structured(meta, path):
    """500 frames of public-format structured data with a known defect plan:

    - frames 0..479: complete (ball + 22 players + possession)
    - frames 480..489: ball missing                       → dropped by converter
    - frames 490..499: only 6 home players, no away/ball  → dropped (n_teams<3)
    - plus 10 period-null and 5 empty frames interleaved  → dropped at ingest
    - frame 3 carries an anonymous track and a referee track → rows skipped
    """
    home = _starters(meta, meta.home_team_id)
    away = _starters(meta, meta.away_team_id)
    ref_to = next(iter(meta.referees))
    frames = []
    for i in range(N_FRAMES):
        frame = {
            "frame": i,
            "period": 1 if i < 300 else 2,
            "time": f"00:{i // 600:02d}:{(i % 600) / 10.0:06.3f}",
            "possession": {
                "trackable_object": home[1],
                "group": "home team" if i % 3 else "away team",
            },
            "data": [],
        }
        if i < 480:
            frame["data"].append(
                {"track_id": 1, "trackable_object": BALL_TO,
                 "x": 0.1 * (i % 50) - 2.5, "y": 0.05 * (i % 40) - 1.0, "z": 0.2}
            )
            players = [(to, 1) for to in home] + [(to, -1) for to in away]
        elif i < 490:
            players = [(to, 1) for to in home] + [(to, -1) for to in away]
        else:
            players = [(to, 1) for to in home[:6]]
        for k, (to, side) in enumerate(players):
            frame["data"].append(
                {"track_id": 10 + k, "trackable_object": to,
                 "x": side * (5.0 + k * 2.0) + 0.01 * i, "y": (k - 5) * 3.0}
            )
        if i == 3:
            frame["data"].append({"track_id": 99, "group_name": "home team",
                                  "x": 1.0, "y": 1.0})
            frame["data"].append({"track_id": 98, "trackable_object": ref_to,
                                  "x": 0.0, "y": 0.0})
        frames.append(frame)
    # interleave junk frames the ingest must drop
    for j in range(10):
        frames.insert(37 * (j + 1), {"frame": 10_000 + j, "period": None,
                                     "time": None, "data": [
                                         {"track_id": 1, "trackable_object": BALL_TO,
                                          "x": 0.0, "y": 0.0}]})
    for j in range(5):
        frames.insert(53 * (j + 1), {"frame": 20_000 + j, "period": 1,
                                     "time": None, "data": []})
    with gzip.open(path, "wt") as f:
        json.dump(frames, f)
    return frames


@pytest.fixture(scope="module")
def structured_path(meta, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sc") / "structured_data.json.gz")
    _synth_structured(meta, path)
    return path


@pytest.fixture(scope="module")
def canonical(spark, meta, structured_path):
    df, settings = load_skillcorner(spark, MATCH_DATA, structured_path)
    return df.cache(), settings


def test_ingest_row_counts(canonical):
    df, settings = canonical
    assert settings.provider == "skillcorner"
    assert settings.frame_rate == 10
    # 480 complete frames × 23 objects + 10 ball-less × 22 + 10 short × 6;
    # null-period, empty, anonymous and referee rows never land
    assert df.count() == 480 * 23 + 10 * 22 + 10 * 6
    assert df.filter(f"{Column.FRAME_ID} >= 10000").count() == 0


def test_possession_and_state(canonical):
    df, settings = canonical
    f1 = df.filter(f"{Column.FRAME_ID} = 1").select(
        Column.BALL_OWNING_TEAM_ID, Column.BALL_STATE
    ).distinct().collect()
    assert [(r[0], r[1]) for r in f1] == [("100", "alive")]
    f3 = df.filter(f"{Column.FRAME_ID} = 3")
    assert f3.count() == 23  # anonymous + referee tracks dropped


def test_kinematics_present(canonical):
    df, _ = canonical
    row = df.filter(
        (df[Column.FRAME_ID] == 100) & (df[Column.TEAM_ID] != BALL)
    ).head()
    assert row[Column.SPEED] is not None
    assert row[Column.VX] is not None


def test_graph_counts_mirror_reference_contract(canonical):
    """Structural twin of tests/test_soccer.py:919: sample 1/2, pad off/on."""
    df, settings = canonical
    ds = TrackingDataset(data=df, settings=settings).add_graph_ids().add_dummy_labels()
    gsettings = GraphSettings(
        home_team_id=settings.home_team_id, away_team_id=settings.away_team_id
    )
    # sample 1/2 keeps even frame_ids: 240 complete, 5 ball-less, 5 short
    out = SoccerGraphConverter(
        ds.data, gsettings, sample_rate=0.5
    ).to_graph_frames()
    assert out.count() == 240  # only complete frames form graphs
    padded = SoccerGraphConverter(
        ds.data, gsettings, sample_rate=0.5, pad=True
    ).to_graph_frames()
    # ball-less frames are padded back (ball row synthesized); short-handed
    # frames lack an away presence entirely and stay dropped
    rows = padded.collect()
    assert len(rows) == 245
    assert all(r.a_shape_0 == r.a_shape_1 == 23 for r in rows)
