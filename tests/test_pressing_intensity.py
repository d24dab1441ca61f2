"""Pressing Intensity on Spark: shape/orientation semantics per reference
tests (tests/test_soccer.py:510-793) plus an independent NumPy oracle for the
matrix values."""

import numpy as np
import pytest

from unravelsports_spark.datasets.synthetic import AWAY, HOME, synthetic_tracking_df, synthetic_tracking_pandas
from unravelsports_spark.functions.intercept import probability_to_intercept, time_to_intercept
from unravelsports_spark.models.pressing_intensity import PressingIntensity
from unravelsports_spark.settings import DefaultSettings


@pytest.fixture(scope="module")
def tracking(spark):
    return synthetic_tracking_df(spark, n_frames=40, seed=11).cache()


@pytest.fixture(scope="module")
def settings():
    return DefaultSettings(home_team_id=HOME, away_team_id=AWAY)


def fit(tracking, settings, **kw):
    return PressingIntensity(tracking, settings).fit(**kw).output.orderBy("frame_id").collect()


def test_teams_max_shapes(tracking, settings):
    rows = fit(tracking, settings, method="teams", ball_method="max", orient="home_away", speed_threshold=2)
    assert len(rows) == 40
    r = rows[0]
    tti = np.array(r.time_to_intercept)
    assert tti.shape == (11, 11)
    assert len(r.rows) == 11 and len(r.columns) == 11
    # home_away + home owns ball at frame 0 → transposed: rows are home players
    assert all(s.startswith("h_") for s in r.rows)
    assert all(s.startswith("a_") for s in r.columns)


def test_teams_include_exclude_shapes(tracking, settings):
    inc = fit(tracking, settings, method="teams", ball_method="include", orient="home_away")
    assert np.array(inc[0].time_to_intercept).shape == (12, 11)
    exc = fit(tracking, settings, method="teams", ball_method="exclude", orient="home_away", speed_threshold=2)
    assert np.array(exc[0].time_to_intercept).shape == (11, 11)


def test_full_max_shapes(tracking, settings):
    rows = fit(tracking, settings, method="full", ball_method="max", orient="home_away")
    tti = np.array(rows[0].time_to_intercept)
    assert tti.shape == (22, 22)
    assert np.allclose(np.diag(tti), 0.0)
    inc = fit(tracking, settings, method="full", ball_method="include")
    # reference: full+include keeps the ball on both axes → 23×23
    # (tests/test_soccer.py:658-674)
    assert np.array(inc[0].time_to_intercept).shape == (23, 23)


def test_speed_threshold_zeroes(tracking, settings):
    rows = fit(tracking, settings, method="teams", ball_method="max", speed_threshold=100.0)
    # everyone below threshold → all PTI zero
    assert np.allclose(np.array(rows[0].probability_to_intercept), 0.0)


def test_values_against_numpy_oracle(tracking, settings):
    """Recompute frame 5's TTI directly from the fixture with plain NumPy and
    the published formula; compare matrices entry-for-entry."""
    rows = fit(tracking, settings, method="teams", ball_method="exclude", orient="ball_owning")
    r = rows[5]
    pdf = synthetic_tracking_pandas(n_frames=40, seed=11)
    f = pdf[pdf.frame_id == 5]
    owning_team = f.ball_owning_team_id.iloc[0]
    own = f[(f.team_id == owning_team)].sort_values("id")
    other = f[(f.team_id != owning_team) & (f.team_id != "ball")].sort_values("id")
    p1 = own[["x", "y", "z"]].to_numpy()
    v1 = own[["vx", "vy", "vz"]].to_numpy()
    p2 = other[["x", "y", "z"]].to_numpy()
    v2 = other[["vx", "vy", "vz"]].to_numpy()
    expected = time_to_intercept(p1, p2, v1, v2, 0.7, settings.max_player_speed)
    got = np.array(r.time_to_intercept)
    # orient=ball_owning (no transpose since descending → owning first):
    # rows = non-owning, cols = owning
    assert list(r.columns) == own.id.tolist()
    assert list(r.rows) == other.id.tolist()
    np.testing.assert_allclose(got, expected, rtol=1e-9)
    np.testing.assert_allclose(
        np.array(r.probability_to_intercept),
        probability_to_intercept(expected, 0.45, 1.5),
        rtol=1e-9,
    )


def test_time_filter_and_validation(tracking, settings):
    pi = PressingIntensity(tracking, settings)
    with pytest.raises(ValueError):
        pi.fit(method="bogus")
    with pytest.raises(ValueError):
        pi.fit(start_time=0, end_time=None, period_id=None)
    out = pi.fit(start_time=0, end_time=400, period_id=1).output
    assert 0 < out.count() <= 11


def _parent_order_frames(pdf, settings, orient):
    """Frames in the order the per-group kernel sorted them before the
    shared run kernel: (frame, orient key, id) with an explicit ascending
    flag for the key and its NULL (ball) rows last."""
    team = pdf["team_id"]
    side = settings.home_team_id if orient in ("home_away", "away_home") else pdf["ball_owning_team_id"]
    key = (team == side).astype(object)
    key[team == "ball"] = None
    descending = orient in ("home_away", "ball_owning")
    pdf = pdf.assign(_orient_key=key).sort_values(
        ["frame_id", "_orient_key", "id"],
        ascending=[True, not descending, True],
        na_position="last",
        kind="stable",
    )
    for frame_id, g in pdf.groupby("frame_id", sort=False):
        yield frame_id, {c: g[c].to_numpy() for c in g.columns}


@pytest.mark.parametrize("method", ["teams", "full"])
@pytest.mark.parametrize("orient", ["ball_owning", "pressing", "home_away", "away_home"])
def test_every_orientation_matches_direct_kernel(tracking, settings, method, orient):
    from unravelsports_spark.models.pressing_intensity import _pi_frame

    params = dict(method=method, ball_method="max", speed_threshold=2.0, reaction_time=0.7,
                  time_threshold=1.5, sigma=0.45, orient=orient)
    got = {r.frame_id: r for r in fit(tracking, settings, **params)}
    pdf = synthetic_tracking_pandas(n_frames=40, seed=11)
    frames = list(_parent_order_frames(pdf, settings, orient))
    assert sorted(got) == [f for f, _ in frames]
    for frame_id, d in frames:
        tti, pti, columns, rows = _pi_frame(d, params, settings)
        r = got[frame_id]
        assert list(r.columns) == list(columns)
        assert list(r.rows) == list(rows)
        np.testing.assert_array_equal(np.array(r.time_to_intercept), tti)
        np.testing.assert_array_equal(np.array(r.probability_to_intercept), pti)
