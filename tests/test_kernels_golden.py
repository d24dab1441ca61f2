"""Golden-fixture kernel parity: run our NumPy kernels on the reference's own
serialized frame (tests/files/test_frame.json, read-only) and compare with its
published golden matrices at rtol 1e-3 (mirrors reference
tests/test_soccer.py:407-507). Shapes: node (23,15), adjacency (23,23),
edges (nnz(A), 6)."""

import json
import os

import numpy as np
import pytest

from unravelsports_spark.functions.graph_features import (
    DEFAULT_EDGE_FEATURES,
    DEFAULT_NODE_FEATURES,
    compute_adjacency_matrix,
    compute_edge_features,
    compute_node_features,
    frame_kwargs,
)
from unravelsports_spark.functions.intercept import probability_to_intercept, time_to_intercept
from unravelsports_spark.settings import GraphSettings

REF_FILES = "/root/reference/tests/files"

if not os.path.isdir(REF_FILES):
    pytest.skip(
        "needs the reference checkout's fixture files, which are not present",
        allow_module_level=True,
    )


@pytest.fixture(scope="module")
def frame():
    with open(f"{REF_FILES}/test_frame.json") as fh:
        raw = json.load(fh)
    return {k: np.asarray(v) for k, v in raw.items()}


@pytest.fixture(scope="module")
def settings():
    return GraphSettings()


def test_adjacency_golden(frame, settings):
    d = frame_kwargs(frame, settings)
    adj = compute_adjacency_matrix(settings, **d)
    golden = np.load(f"{REF_FILES}/adjacency_matrix.npy")
    np.testing.assert_allclose(adj, golden, rtol=1e-3)


def test_node_features_golden(frame, settings):
    d = frame_kwargs(frame, settings)
    x, dims = compute_node_features(DEFAULT_NODE_FEATURES, None, settings, **d)
    golden = np.load(f"{REF_FILES}/node_features.npy")
    assert x.shape == golden.shape == (23, 15)
    np.testing.assert_allclose(x, golden, rtol=1e-3)


def test_edge_features_golden(frame, settings):
    d = frame_kwargs(frame, settings)
    adj = compute_adjacency_matrix(settings, **d)
    e, dims = compute_edge_features(adj, DEFAULT_EDGE_FEATURES, None, settings, **d)
    golden = np.load(f"{REF_FILES}/edge_features.npy")
    assert e.shape == golden.shape
    np.testing.assert_allclose(e, golden, rtol=1e-3)


def test_tti_known_properties(frame, settings):
    """TTI sanity: symmetric inputs, pressing self → ~reaction_time."""
    d = frame_kwargs(frame, settings)
    players = d["team_id"] != "ball"
    p = d["position"][players]
    v = d["velocity"][players]
    tti = time_to_intercept(p, p, v, v, reaction_time=0.7, max_object_speed=12.0)
    assert tti.shape == (p.shape[0], p.shape[0])
    # pressing a stationary self: distance term ~|v|, angle term small
    assert np.all(tti >= 0.7 - 1e-9)
    pti = probability_to_intercept(tti, 0.45, 1.5)
    assert np.all((pti >= 0) & (pti <= 1))
