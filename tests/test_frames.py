"""models/frames.py:split_runs against a pandas groupby reference: each run
must be one group of ``by`` (NULL keys grouped together, groups in key
order with NULLs last), with the group's rows stably sorted by ``order``."""

import numpy as np
import pandas as pd
import pytest

from unravelsports_spark.models.frames import split_runs


def reference(pdf, by, order):
    groups = pdf.groupby(by, dropna=False, sort=True)
    return [
        g.sort_values(order, kind="stable", na_position="last").reset_index(drop=True)
        for _, g in groups
    ]


def check(pdf, by, order):
    runs = split_runs(pdf, by, order)
    expected = reference(pdf, by, order)
    assert len(runs) == len(expected)
    for run, exp in zip(runs, expected):
        assert set(run) == set(pdf.columns)
        pd.testing.assert_frame_equal(pd.DataFrame(run)[list(pdf.columns)], exp)
    return runs


def test_unsorted_input():
    rng = np.random.default_rng(0)
    pdf = pd.DataFrame({
        "frame_id": rng.integers(0, 6, 60),
        "id": rng.permutation(60).astype(str),
        "x": rng.normal(size=60),
    })
    runs = check(pdf, ["frame_id"], ["id"])
    assert [r["frame_id"][0] for r in runs] == sorted(set(pdf["frame_id"]))


def test_null_and_nan_keys_form_one_run():
    pdf = pd.DataFrame({
        "team": ["b", None, "a", np.nan, "b", None],
        "period": [1.0, np.nan, 2.0, np.nan, 1.0, 3.0],
        "id": ["6", "5", "4", "3", "2", "1"],
    })
    runs = check(pdf, ["team"], ["id"])
    assert [len(r["id"]) for r in runs] == [1, 2, 3]  # a, b, then the NULLs
    runs = check(pdf, ["period"], ["id"])
    assert list(runs[-1]["id"]) == ["3", "5"]


def test_multi_column_by_with_null_owning_team():
    """The EFPI segment case: (period, segment, owning team) runs, where
    frames without an owner form their own run per segment."""
    pdf = pd.DataFrame({
        "period_id": [1, 1, 1, 1, 2, 2, 1, 1],
        "possession_id": [1, 1, 1, 2, 3, 3, 2, 1],
        "ball_owning_team_id": ["h", None, "h", "a", None, None, "a", None],
        "id": ["p3", "p1", "p2", "p1", "p2", "p1", "p2", "p2"],
        "x": np.arange(8.0),
    })
    runs = check(pdf, ["period_id", "possession_id", "ball_owning_team_id"], ["id"])
    assert len(runs) == 4
    assert list(runs[1]["id"]) == ["p1", "p2"]  # period 1, possession 1, no owner


def test_order_nulls_last_and_stable():
    pdf = pd.DataFrame({
        "frame_id": [1, 1, 1, 1, 1],
        "key": [None, False, True, None, False],
        "id": ["a", "b", "c", "d", "b"],
        "n": [0, 1, 2, 3, 4],
    })
    (run,) = check(pdf, ["frame_id"], ["key"])
    assert list(run["n"]) == [1, 4, 2, 0, 3]


def test_single_row_runs():
    pdf = pd.DataFrame({"frame_id": [5, 3, 9, 1], "id": ["a", "b", "c", "d"]})
    runs = check(pdf, ["frame_id"], ["id"])
    assert [len(r["id"]) for r in runs] == [1, 1, 1, 1]


@pytest.mark.parametrize("by", [["frame_id"], ["frame_id", "id"]])
def test_empty_group(by):
    pdf = pd.DataFrame({"frame_id": pd.Series([], dtype="int64"), "id": pd.Series([], dtype=object)})
    assert split_runs(pdf, by, ["id"]) == []
