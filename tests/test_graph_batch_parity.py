"""The graph kernels on a stack of frames vs the same kernels one frame at a
time, through the same public drivers: same formulas, so agreement is to the
last couple of ulps (NumPy's SIMD transcendental kernels round the vector
lanes and the scalar tail slightly differently for different array shapes
and alignments — exact bitwise equality across shapes is not attainable).
Tolerance here is 4e-15 absolute; the reference goldens are checked at
rtol 1e-3."""

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
from unravelsports_spark.settings import GraphSettings


def _random_frames(rng, n_frames=6, n=23):
    frames = []
    for _ in range(n_frames):
        team = np.array(["home"] * 11 + ["away"] * 11 + ["ball"], dtype=object)
        d = {
            "x": rng.uniform(-52, 52, n),
            "y": rng.uniform(-34, 34, n),
            "z": np.r_[np.zeros(n - 1), rng.uniform(0, 2)],
            "vx": rng.normal(0, 3, n),
            "vy": rng.normal(0, 3, n),
            "vz": np.zeros(n),
            "team_id": team,
            "position_name": np.array(["GK"] + ["CB"] * 10 + ["GK"] + ["ST"] * 10 + [None], dtype=object),
            "ball_owning_team_id": np.array(["home"] * n, dtype=object),
            "is_ball_carrier": np.eye(1, n, k=3, dtype=bool)[0],
        }
        d["v"] = np.sqrt(d["vx"] ** 2 + d["vy"] ** 2 + d["vz"] ** 2)
        # sprinkle NaNs to exercise the sentinel path
        d["x"][rng.integers(0, n)] = np.nan
        frames.append(d)
    return frames


def _stacked_vs_single(frames, gs):
    """Run the drivers once on the stack and once per frame; compare."""
    fk = frame_kwargs({k: np.stack([d[k] for d in frames]) for k in frames[0]}, gs)
    adj_s = compute_adjacency_matrix(gs, **fk)
    node_s, node_dims = compute_node_features(DEFAULT_NODE_FEATURES, None, gs, **fk)
    edge_s, edge_dims = compute_edge_features(adj_s, DEFAULT_EDGE_FEATURES, None, gs, **fk)
    offset = 0
    for i, d in enumerate(frames):
        fk = frame_kwargs(d, gs)
        adj = compute_adjacency_matrix(gs, **fk)
        np.testing.assert_array_equal(adj_s[i], adj, err_msg=f"adjacency frame {i}")
        node, dims = compute_node_features(DEFAULT_NODE_FEATURES, None, gs, **fk)
        assert dims == node_dims
        np.testing.assert_allclose(node_s[i], node, rtol=0, atol=4e-15, err_msg=f"nodes frame {i}")
        edge, dims = compute_edge_features(adj, DEFAULT_EDGE_FEATURES, None, gs, **fk)
        assert dims == edge_dims
        np.testing.assert_allclose(
            edge_s[offset:offset + len(edge)], edge, rtol=0, atol=4e-15, err_msg=f"edges frame {i}"
        )
        offset += len(edge)
    assert offset == len(edge_s)


@pytest.mark.parametrize("atype", ["dense", "dense_ap", "dense_dp", "split_by_team"])
@pytest.mark.parametrize("ctype", ["ball", "ball_carrier", "no_connection"])
def test_batch_matches_per_frame(atype, ctype):
    gs = GraphSettings(
        home_team_id="home", away_team_id="away",
        adjacency_matrix_type=atype, adjacency_matrix_connect_type=ctype,
    )
    _stacked_vs_single(_random_frames(np.random.default_rng(11)), gs)


def test_batch_no_ball_frame():
    rng = np.random.default_rng(5)
    frames = _random_frames(rng, n_frames=2, n=22)
    for d in frames:
        d["team_id"] = np.array(["home"] * 11 + ["away"] * 11, dtype=object)
        d["position_name"] = np.array(["GK"] + ["CB"] * 10 + ["GK"] + ["ST"] * 10, dtype=object)
    _stacked_vs_single(frames, GraphSettings(home_team_id="home", away_team_id="away"))


def test_graph_stacks_bounded_memory_on_large_groups():
    """The converter's stack function on 1,200 same-size frames, as one
    (game, period, chunk) group can hold: every frame equals its own
    frame-at-a-time call, and peak NumPy allocation stays bounded (one
    unsliced stack of 1,200 23-node frames peaks near 82 MiB, and a full
    20,000-frame chunk near 1.4 GiB)."""
    import tracemalloc

    from unravelsports_spark.models.graph_converter import graph_stacks

    gs = GraphSettings(home_team_id="home", away_team_id="away")
    frames = _random_frames(np.random.default_rng(3), n_frames=1200)
    args = (DEFAULT_NODE_FEATURES, DEFAULT_EDGE_FEATURES, None, gs)
    tracemalloc.start()
    try:
        stacked = graph_stacks(frames, *args)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 48 << 20, f"peak {peak / 2**20:.1f} MiB"
    for i, (d, got) in enumerate(zip(frames, stacked)):
        (want,) = graph_stacks([d], *args)
        np.testing.assert_array_equal(got[0], want[0], err_msg=f"adjacency frame {i}")
        for k, name in ((1, "edges"), (2, "nodes")):
            np.testing.assert_allclose(got[k], want[k], rtol=0, atol=4e-15, err_msg=f"{name} frame {i}")
