"""BigDataBowl loader + AF converter parity against the reference's own CSV
fixtures and published row-level expectations
(/root/reference/tests/test_american_football.py:246-386)."""

import os

import numpy as np
import pytest

from unravelsports_spark.datasets.bdb import BigDataBowlDataset
from unravelsports_spark.models.af_graph_converter import AmericanFootballGraphConverter

FILES = "/root/reference/tests/files"

if not os.path.isdir(FILES):
    pytest.skip(
        "needs the reference checkout's fixture files, which are not present",
        allow_module_level=True,
    )


@pytest.fixture(scope="module")
def bdb(spark):
    ds = BigDataBowlDataset(
        tracking_file_path=f"{FILES}/bdb_coords-1.csv",
        players_file_path=f"{FILES}/bdb_players-1.csv",
        plays_file_path=f"{FILES}/bdb_plays-1.csv",
    )
    ds.load(spark)
    ds.add_dummy_labels()
    ds.add_graph_ids()
    return ds


def test_loader_row_level_parity(bdb):
    data = bdb.data.orderBy("game_id", "play_id", "frame_id", "id")
    assert data.count() == 6049
    row_10 = data.limit(11).collect()[10]
    # exact values from reference tests/test_american_football.py:283-306
    assert row_10["game_id"] == 2021091300
    assert row_10["play_id"] == 4845
    assert row_10["id"] == 44999.0
    assert row_10["frame_id"] == 484500001
    assert row_10["team_id"] == "BAL"
    assert row_10["x"] == pytest.approx(20.369999999999997, rel=1e-9)
    assert row_10["y"] == pytest.approx(-2.5400000000000027, rel=1e-9)
    assert row_10["v"] == pytest.approx(0.03, rel=1e-9)
    assert row_10["a"] == pytest.approx(0.03, rel=1e-9)
    assert row_10["o"] == pytest.approx(-1.6957619012376899, rel=1e-9)
    assert row_10["dir"] == pytest.approx(-1.9114845967841898, rel=1e-9)
    assert row_10["position_name"] == "SS"
    assert row_10["ball_owning_team_id"] == "LV"
    assert row_10["graph_id"] == "2021091300-4845"
    assert "label" in data.columns


def test_settings_dimensions(bdb):
    dims = bdb.settings.pitch_dimensions
    assert dims.pitch_length == 120.0
    assert dims.pitch_width == 53.3
    assert dims.x_dim.max == 60.0
    assert dims.y_dim.max == 26.65


def test_height_weight_metric(bdb, spark):
    players = (
        spark.read.option("header", "true").option("inferSchema", "true")
        .csv(f"{FILES}/bdb_players-1.csv")
    )
    converted = BigDataBowlDataset._convert_weight_height_to_metric(
        players.withColumnRenamed("officialPosition", "position_name")
    )
    row = converted.filter("nflId = 25511").head()
    # 6-1 → 185.42 cm → nearest 10 → 190; 200 lb → 90.7 kg → nearest 10 → 90
    assert row["height_cm"] == 190.0
    assert row["weight_kg"] == 90.0


def test_conversion_parity(bdb):
    conv = AmericanFootballGraphConverter(bdb.data, bdb.settings)
    out = conv.to_graph_frames().cache()
    assert out.count() == 263
    row = out.filter("frame_id = 484500005").head()
    # reference tests/test_american_football.py:346-364
    assert row.e_shape_0 == 287
    assert row.x_shape_0 == 23 and row.x_shape_1 == 20
    assert row.a_shape_0 == row.a_shape_1 == 23
    a = np.array(row.a)
    assert a.min() == 0 and a.max() == 1
    # node ordering: possession team (LV) ids, then defense, football last
    assert row.object_ids[-1] == "-9999.9"
    expected_order = [
        41265.0, 42547.0, 43362.0, 44849.0, 44972.0, 46084.0, 47920.0, 47932.0,
        48235.0, 52517.0, 53446.0, 33131.0, 37240.0, 40042.0, 44828.0, 44999.0,
        46187.0, 46259.0, 48565.0, 52436.0, 52506.0, 53460.0, -9999.9,
    ]
    assert [float(v) for v in row.object_ids] == expected_order
    x = np.array(row.x)
    assert np.isfinite(x).all()
    e = np.array(row.e)
    assert e.shape == (287, 9)
    assert ((e >= -1.000001) & (e <= 1.000001)).all()
