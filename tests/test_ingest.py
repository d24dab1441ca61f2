"""Ingest pipeline: melt, kinematics (analytic fixtures), possession/GK
inference, orientation flip, splits. Mirrors reference load() semantics
(kloppy_polars.py:813-921)."""

import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from unravelsports_spark.datasets.tracking import TrackingDataset, split_by_graph_id
from unravelsports_spark.functions.savgol import savgol_filter
from unravelsports_spark.operators.kinematics import (
    add_acceleration,
    add_velocity,
    apply_speed_acceleration_filters,
    finalize_kinematics,
)
from unravelsports_spark.operators.melt import TrackedObject, melt_wide_tracking
from unravelsports_spark.operators.orientation import convert_orientation_to_ball_owning
from unravelsports_spark.operators.possession import infer_ball_ownership, infer_goalkeepers
from unravelsports_spark.settings import DefaultSettings


def test_savgol_reproduces_polynomials():
    t = np.arange(40, dtype=float)
    for poly, data in ((1, 3.0 * t + 1), (2, 0.5 * t**2 - t + 2)):
        out = savgol_filter(data, 7, poly + 0 if poly < 7 else 1)
        np.testing.assert_allclose(out, data, rtol=1e-9, atol=1e-9)


def test_savgol_interior_is_moving_average_for_poly1():
    rng = np.random.default_rng(0)
    x = rng.normal(size=50)
    out = savgol_filter(x, 5, 1)
    expect = np.convolve(x, np.ones(5) / 5, mode="valid")
    np.testing.assert_allclose(out[2:-2], expect, rtol=1e-9)


def test_savgol_short_series_passthrough():
    x = np.array([1.0, 2.0])
    np.testing.assert_array_equal(savgol_filter(x, 7, 1), x)


def _wide_fixture(spark, n=20, dt_ms=40):
    """Two players + ball with exactly linear motion."""
    rows = []
    for f in range(n):
        t = f * dt_ms
        rows.append(
            {
                "period_id": 1, "timestamp": t, "frame_id": f,
                "ball_state": "alive", "ball_owning_team_id": None,
                "p1_x": 1.0 + 2.0 * t / 1000, "p1_y": -3.0 + 1.0 * t / 1000,
                "p2_x": 10.0 - 1.0 * t / 1000, "p2_y": 5.0,
                "ball_x": 0.5 * t / 1000, "ball_y": 0.0, "ball_z": 1.0,
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


OBJECTS = [
    TrackedObject("p1", "home", "GK"),
    TrackedObject("p2", "away", None),
    TrackedObject("ball", "ball", None),
]


def test_melt_and_velocity_exact(spark):
    wide = _wide_fixture(spark)
    ds = TrackingDataset.load_wide(
        wide, OBJECTS, DefaultSettings(home_team_id="home", away_team_id="away"),
        game_id="g", player_smoothing=None, ball_smoothing=None,
        orient_ball_owning=False,
    )
    pdf = ds.data.orderBy("frame_id", "id").toPandas()
    assert set(pdf.columns) >= {"game_id", "period_id", "frame_id", "id", "team_id",
                               "x", "y", "z", "vx", "vy", "v", "ax", "a",
                               "ball_owning_team_id", "is_ball_carrier"}
    assert len(pdf) == 20 * 3
    p1 = pdf[(pdf.id == "p1") & (pdf.frame_id > 0)]
    np.testing.assert_allclose(p1.vx, 2.0, rtol=1e-9)
    np.testing.assert_allclose(p1.vy, 1.0, rtol=1e-9)
    np.testing.assert_allclose(p1.v, np.sqrt(5.0), rtol=1e-9)
    # linear motion → zero acceleration after the first two frames
    np.testing.assert_allclose(p1[p1.frame_id > 1].a, 0.0, atol=1e-9)
    # first frame velocity filled with 0
    f0 = pdf[(pdf.id == "p1") & (pdf.frame_id == 0)]
    assert float(f0.vx.iloc[0]) == 0.0


def test_possession_inferred_from_proximity(spark):
    wide = _wide_fixture(spark)
    ds = TrackingDataset.load_wide(
        wide, OBJECTS, DefaultSettings(home_team_id="home", away_team_id="away"),
        player_smoothing=None, ball_smoothing=None, orient_ball_owning=False,
    )
    pdf = ds.data.toPandas()
    # ball starts at x=0; p1 at x≈1 is closest and within 25m → home owns
    assert set(pdf[pdf.frame_id == 0].ball_owning_team_id) == {"home"}
    carriers = pdf[pdf.is_ball_carrier]
    assert set(carriers.id) == {"p1"}
    assert carriers.groupby("frame_id").size().max() == 1


def test_caps(spark):
    wide = _wide_fixture(spark)
    settings = DefaultSettings(home_team_id="home", away_team_id="away",
                               max_player_speed=1.5, max_ball_speed=0.4)
    ds = TrackingDataset.load_wide(
        wide, OBJECTS, settings, player_smoothing=None, ball_smoothing=None,
        orient_ball_owning=False,
    )
    pdf = ds.data.toPandas()
    assert pdf[pdf.id == "p1"].v.max() <= 1.5 + 1e-9
    assert pdf[pdf.id == "ball"].v.max() <= 0.4 + 1e-9


def test_orientation_flip(spark):
    wide = _wide_fixture(spark)
    ds = TrackingDataset.load_wide(
        wide, OBJECTS, DefaultSettings(home_team_id="away_team_actually", away_team_id="home"),
        player_smoothing=None, ball_smoothing=None, orient_ball_owning=False,
    )
    base = ds.data
    flipped = convert_orientation_to_ball_owning(base, home_team_id="nonexistent")
    merged = (
        base.select("frame_id", "id", F.col("x").alias("x0"))
        .join(flipped.select("frame_id", "id", "x"), on=["frame_id", "id"])
        .toPandas()
    )
    np.testing.assert_allclose(merged.x, -merged.x0)


def test_gk_inference(spark):
    wide = _wide_fixture(spark)
    ds = TrackingDataset.load_wide(
        wide, OBJECTS, DefaultSettings(home_team_id="home", away_team_id="away"),
        player_smoothing=None, ball_smoothing=None, orient_ball_owning=True,
        infer_goalkeepers_flag=True,
    )
    pdf = ds.data.toPandas()
    # one GK per team per frame at most; position_name ∈ {GK, None, ball-null}
    gk = pdf[pdf.position_name == "GK"]
    assert gk.groupby(["frame_id", "team_id"]).size().max() == 1


def test_labels_graph_ids_split(spark):
    wide = _wide_fixture(spark)
    ds = TrackingDataset.load_wide(
        wide, OBJECTS, DefaultSettings(home_team_id="home", away_team_id="away"),
        player_smoothing=None, ball_smoothing=None, orient_ball_owning=False,
    )
    ds.add_dummy_labels().add_graph_ids()
    pdf = ds.data.toPandas()
    assert set(pdf.label.unique()) <= {0, 1}
    assert (pdf.groupby("frame_id").label.nunique() == 1).all()
    assert pdf.graph_id.iloc[0].startswith("game-")

    splits = split_by_graph_id(ds.data, train=0.5, test=0.25, val=0.25, seed=1)
    ids = {k: set(v.select("graph_id").distinct().toPandas().graph_id) for k, v in splits.items()}
    assert ids["train"] | ids["test"] | ids["val"] == set(pdf.graph_id.unique())
    assert not (ids["train"] & ids["test"]) and not (ids["train"] & ids["val"])
    with pytest.raises(ValueError):
        split_by_graph_id(ds.data, train=0.9, test=0.3, val=0.1)


def test_smoothing_changes_velocity_but_preserves_linear(spark):
    wide = _wide_fixture(spark)
    ds = TrackingDataset.load_wide(
        wide, OBJECTS, DefaultSettings(home_team_id="home", away_team_id="away"),
        orient_ball_owning=False,  # default smoothing on
    )
    pdf = ds.data.toPandas()
    # the zero-filled first sample contaminates windows that cover it (same as
    # the reference's savgol over the fill_null(0) series); interior frames of
    # a constant series are exact
    p1 = pdf[(pdf.id == "p1") & (pdf.frame_id >= 4)]
    np.testing.assert_allclose(p1.vx, 2.0, rtol=1e-9)
    early = pdf[(pdf.id == "p1") & (pdf.frame_id == 1)]
    assert float(early.vx.iloc[0]) != 2.0


def _kloppy_wide_fixture(spark, n=12, dt_ms=40):
    """Kloppy-to_df naming: home_/away_ prefixed player ids + ball."""
    rows = []
    for f in range(n):
        t = f * dt_ms
        rows.append({
            "period_id": 1, "timestamp": t, "frame_id": f,
            "ball_state": "alive", "ball_owning_team_id": None,
            "home_1_x": 1.0 + 2.0 * t / 1000, "home_1_y": 0.0,
            "home_2_x": -5.0, "home_2_y": 3.0,
            "away_9_x": 10.0, "away_9_y": -1.0 * t / 1000,
            "ball_x": 0.5 * t / 1000, "ball_y": 0.0, "ball_z": 0.2,
            # a column that looks coordinate-ish but has no _y twin: ignored
            "referee_x": 0.0,
        })
    return spark.createDataFrame(pd.DataFrame(rows))


def test_discover_objects_prefix_convention(spark):
    from unravelsports_spark.datasets.wide import discover_objects

    wide = _kloppy_wide_fixture(spark)
    objs = discover_objects(wide)
    got = {o.object_id: o.team_id for o in objs}
    assert got == {"home_1": "home", "home_2": "home", "away_9": "away", "ball": "ball"}


def test_load_kloppy_wide_end_to_end(spark):
    from unravelsports_spark.datasets.wide import load_kloppy_wide

    settings = DefaultSettings(home_team_id="home", away_team_id="away")
    ds = load_kloppy_wide(
        _kloppy_wide_fixture(spark), settings, game_id="g2",
        player_smoothing=None, ball_smoothing=None, orient_ball_owning=False,
    )
    pdf = ds.data.orderBy("frame_id", "id").toPandas()
    assert len(pdf) == 12 * 4
    h1 = pdf[(pdf.id == "home_1") & (pdf.frame_id > 0)]
    np.testing.assert_allclose(h1.vx, 2.0, rtol=1e-9)
    assert set(pdf.team_id.unique()) == {"home", "away", "ball"}


def test_discover_objects_explicit_team_mapping(spark):
    from unravelsports_spark.datasets.wide import discover_objects

    wide = _kloppy_wide_fixture(spark)
    team = {"home_1": "tA", "home_2": "tA", "away_9": "tB"}
    objs = discover_objects(wide, team_of=lambda oid: team.get(oid))
    got = {o.object_id: o.team_id for o in objs}
    assert got == {"home_1": "tA", "home_2": "tA", "away_9": "tB", "ball": "ball"}


def test_kinematics_keep_matches_apart(spark):
    """A union of matches that share object ids and timestamps equals the
    per-match results: the kinematics windows and the smoothing are keyed
    by game."""
    wide = _wide_fixture(spark)
    moved = wide.select(
        *[(F.col(c) * 3 - 1).alias(c) if c.endswith(("_x", "_y")) else c for c in wide.columns]
    )
    a, b = melt_wide_tracking(wide, OBJECTS, "g1"), melt_wide_tracking(moved, OBJECTS, "g2")

    def kinematics(df):
        return add_acceleration(add_velocity(df)).drop("dx", "dy", "dz")

    cols = ["game_id", "frame_id", "id", "vx", "vy", "v", "ax", "ay", "a", "dt"]
    per_match = sorted(kinematics(a).unionByName(kinematics(b)).select(*cols).collect())
    union = sorted(kinematics(a.unionByName(b)).select(*cols).collect())
    assert union == per_match
    assert {r.game_id for r in union} == {"g1", "g2"}


def _node_names(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [m.group(1) for m in re.finditer(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)", plan, re.M)]


def test_load_wide_plans_each_stage_once(spark):
    """One match's executed plan runs the Savitzky–Golay kernel once, joins
    nothing, and shuffles at most three times: twice on the (game, id,
    period) series key around the kernel, once on the frame key."""
    ds = TrackingDataset.load_wide(
        _wide_fixture(spark), OBJECTS, DefaultSettings(home_team_id="home", away_team_id="away"),
        game_id="g",
    )
    names = _node_names(ds.data)
    assert names.count("FlatMapGroupsInPandas") == 1, names
    assert not [n for n in names if "Join" in n], names
    assert len([n for n in names if n.endswith("Exchange")]) <= 3, names
