"""Graph converter on Spark: shapes/counts per reference semantics
(tests/test_soccer.py:796-931) on the synthetic fixture, plus a kernel-level
cross-check of one frame against direct NumPy computation."""

import numpy as np
import pytest

from unravelsports_spark.datasets.synthetic import AWAY, HOME, synthetic_tracking_df
from unravelsports_spark.functions.graph_features import (
    DEFAULT_EDGE_FEATURES,
    DEFAULT_NODE_FEATURES,
    compute_adjacency_matrix,
    compute_edge_features,
    compute_node_features,
    frame_kwargs,
    graph_feature,
)
from unravelsports_spark.models.graph_converter import SoccerGraphConverter
from unravelsports_spark.settings import GraphSettings


@pytest.fixture(scope="module")
def settings():
    return GraphSettings(home_team_id=HOME, away_team_id=AWAY)


@pytest.fixture(scope="module")
def tracking(spark):
    return synthetic_tracking_df(
        spark, n_frames=30, seed=3,
        missing_player_frames=(4, 9), missing_ball_frames=(9, 12),
    ).cache()


def test_drop_incomplete_frames(tracking, settings):
    out = SoccerGraphConverter(tracking, settings).to_graph_frames().collect()
    # frames 9 & 12 lack the ball (only 2 distinct team ids) → dropped
    assert len(out) == 28
    frame_ids = {r.frame_id for r in out}
    assert 9 not in frame_ids and 12 not in frame_ids
    r = next(r for r in out if r.frame_id == 4)
    # frame 4 lost 3 players but still has 3 team ids → kept, 20 nodes
    assert r.x_shape_0 == 20


def test_padding(tracking, settings):
    out = SoccerGraphConverter(tracking, settings, pad=True).to_graph_frames().collect()
    assert len(out) == 30  # all frames padded back to completeness
    for r in out:
        assert r.a_shape_0 == r.a_shape_1 == 23
        assert r.x_shape_0 == 23
    r = next(r for r in out if r.frame_id == 4)
    # split_by_team + ball connect: 11²×2 + 22×2 + 1 = 287 edges
    # (reference tests/test_soccer.py:883-903)
    assert r.e_shape_0 == 287
    # padded nodes exist: three empty object ids
    assert sum(1 for o in r.object_ids if o == "") == 3
    r9 = next(r for r in out if r.frame_id == 9)
    assert r9.e_shape_0 == 287


def test_node_order_and_shapes(tracking, settings):
    out = SoccerGraphConverter(tracking, settings).to_graph_frames().collect()
    r = next(r for r in out if r.frame_id == 0)
    assert r.x_shape_1 == 15  # 12 funcs → 15 cols
    assert r.e_shape_1 == 6
    assert r.object_ids[-1] == "ball"
    owning = r.ball_owning_team_id
    prefix = "h_" if owning == HOME else "a_"
    assert all(o.startswith(prefix) for o in r.object_ids[:11])


def test_kernel_crosscheck(tracking, settings):
    """Row from Spark == direct NumPy kernel on identically-ordered arrays."""
    out = SoccerGraphConverter(tracking, settings).to_graph_frames().collect()
    r = next(r for r in out if r.frame_id == 7)
    pdf = tracking.filter("frame_id = 7").toPandas()
    pdf["_key"] = (pdf.team_id == "ball").astype(int) * 2 - (
        (pdf.ball_owning_team_id == pdf.team_id) & (pdf.team_id != "ball")
    ).astype(int)
    pdf = pdf.sort_values(["_key", "id"], kind="stable")
    d = {c: pdf[c].to_numpy() for c in (
        "x", "y", "z", "v", "vx", "vy", "vz", "team_id", "position_name",
        "ball_owning_team_id", "is_ball_carrier", "id")}
    fk = frame_kwargs(d, settings)
    adj = compute_adjacency_matrix(settings, **fk)
    node, _ = compute_node_features(DEFAULT_NODE_FEATURES, None, settings, **fk)
    edge, _ = compute_edge_features(adj, DEFAULT_EDGE_FEATURES, None, settings, **fk)
    np.testing.assert_allclose(np.array(r.a), adj)
    np.testing.assert_allclose(np.array(r.x), node, rtol=1e-12)
    np.testing.assert_allclose(np.array(r.e), edge, rtol=1e-12)
    assert list(r.object_ids) == list(d["id"])


def test_sample_rate_and_global_features(tracking, settings, spark):
    from pyspark.sql import functions as F

    ds = tracking.withColumn("fake_global", F.lit(1.0))
    conv = SoccerGraphConverter(
        ds, settings, sample_rate=0.5, global_feature_cols=["fake_global"]
    )
    out = conv.to_graph_frames().collect()
    assert all(r.frame_id % 2 == 0 for r in out)
    r = out[0]
    assert r.x_shape_1 == 16  # 15 + 1 global col attached to ball row
    x = np.array(r.x)
    ball_row = list(r.object_ids).index("ball")
    assert x[ball_row, 15] == 1.0
    assert np.allclose(np.delete(x[:, 15], ball_row), 0.0)


def test_custom_features_and_validation(tracking, settings):
    @graph_feature(feature_type="node", is_custom=True)
    def my_node(**kw):
        return kw["x"] * 0 + 1.0

    @graph_feature(feature_type="edge", is_custom=True)
    def my_edge(**kw):
        n = kw["x"].shape[0]
        return np.zeros((n, n)) + 0.5

    conv = SoccerGraphConverter(
        tracking, settings, node_feature_funcs=[my_node], edge_feature_funcs=[my_edge]
    )
    r = conv.to_graph_frames().collect()[0]
    assert r.x_shape_1 == 1 and r.e_shape_1 == 1
    assert np.allclose(np.array(r.x), 1.0)

    def undecorated(**kw):
        return kw["x"]

    with pytest.raises(ValueError):
        SoccerGraphConverter(tracking, settings, node_feature_funcs=[undecorated])
    with pytest.raises(ValueError):
        SoccerGraphConverter(tracking, settings, node_feature_funcs=[my_edge])


def test_custom_features_with_additional_cols_and_opts(tracking, settings, spark):
    """The full plugin surface end-to-end, mirroring the reference's custom-
    feature test (tests/test_soccer.py:265-312): DEFAULT features plus a
    custom node and a custom edge feature that consume an
    additional_feature_cols column, with feature_opts threaded into the
    kernel and two global feature cols attached to the ball row. Values are
    asserted against direct NumPy computation, not just shapes."""
    from pyspark.sql import functions as F

    ds = (
        tracking.withColumn("fake_graph_feature_a", F.lit(1.0))
        .withColumn("fake_graph_feature_b", F.lit(0.12))
        # row-dependent (not constant) so the per-node wiring is actually
        # proven: crc32 of the object id on a small grid
        .withColumn(
            "fake_additional_feature_a", (F.crc32(F.col("id")) % 7).cast("double") / 10.0
        )
    )

    @graph_feature(feature_type="node", is_custom=True)
    def custom_node_feature(**kw):
        return kw["fake_additional_feature_a"] * kw["scale"]

    @graph_feature(feature_type="edge", is_custom=True)
    def custom_edge_feature(**kw):
        a = kw["fake_additional_feature_a"]
        return a[None, :] + a[:, None]

    conv = SoccerGraphConverter(
        ds,
        settings,
        node_feature_funcs=list(DEFAULT_NODE_FEATURES) + [custom_node_feature],
        edge_feature_funcs=list(DEFAULT_EDGE_FEATURES) + [custom_edge_feature],
        feature_opts={"scale": 2.0},
        global_feature_cols=["fake_graph_feature_a", "fake_graph_feature_b"],
        additional_feature_cols=["fake_additional_feature_a"],
    )
    out = conv.to_graph_frames().collect()
    r = next(r for r in out if r.frame_id == 0)
    # 15 default node cols + 1 custom + 2 global = 18; 6 default edge + 1
    assert r.x_shape_1 == 18
    assert r.e_shape_1 == 7

    import zlib

    add = np.array([(zlib.crc32(o.encode()) % 7) / 10.0 for o in r.object_ids])
    x = np.array(r.x)
    np.testing.assert_allclose(x[:, 15], add * 2.0, rtol=1e-12)  # opts applied
    ball_row = list(r.object_ids).index("ball")
    assert x[ball_row, 16] == 1.0 and abs(x[ball_row, 17] - 0.12) < 1e-12
    # custom edge channel == outer sum of the additional col at adj nonzeros
    adj = np.array(r.a)
    nz = np.where(adj == 1)
    e = np.array(r.e)
    np.testing.assert_allclose(e[:, 6], (add[None, :] + add[:, None])[nz], rtol=1e-12)

    # reserved feature_opts key raises (kernel contract)
    with pytest.raises(Exception):
        SoccerGraphConverter(
            ds, settings, feature_opts={"settings": None},
            node_feature_funcs=[custom_node_feature],
            additional_feature_cols=["fake_additional_feature_a"],
        ).to_graph_frames().collect()

    # wrong shape from a custom node func raises inside the kernel
    @graph_feature(feature_type="node", is_custom=True)
    def bad_shape(**kw):
        a = kw["fake_additional_feature_a"]
        return np.append(a, 0.0)  # (N+1,) where (N,) or (N, k) expected

    with pytest.raises(Exception):
        SoccerGraphConverter(
            ds, settings, node_feature_funcs=[bad_shape],
            additional_feature_cols=["fake_additional_feature_a"],
        ).to_graph_frames().collect()


def test_prediction_mode_without_labels(tracking, settings):
    ds = tracking.drop("label")
    with pytest.raises(ValueError):
        SoccerGraphConverter(ds, settings)
    out = SoccerGraphConverter(ds, settings, prediction=True).to_graph_frames().collect()
    assert out[0].label is None


def _nodes_by_frame(conv):
    return {r.frame_id: np.array(r.x) for r in conv.to_graph_frames().collect()}


@pytest.mark.parametrize("atype", ["dense_ap", "dense_dp"])
@pytest.mark.parametrize("custom", [False, True])
def test_null_ball_owner_frame_is_dropped(tracking, atype, custom):
    """pad=False drops a frame without a ball owner, as pad=True does, on
    the default and on a custom feature list alike."""
    from pyspark.sql import functions as F

    @graph_feature(feature_type="node", is_custom=True)
    def zeros(**kw):
        return np.zeros(len(kw["x"]))

    owner = F.col("ball_owning_team_id")
    ds = tracking.withColumn(
        "ball_owning_team_id", F.when(F.col("frame_id") == 5, F.lit(None).cast("string")).otherwise(owner)
    )
    gs = GraphSettings(home_team_id=HOME, away_team_id=AWAY, adjacency_matrix_type=atype)
    funcs = list(DEFAULT_NODE_FEATURES) + [zeros] if custom else None
    out = SoccerGraphConverter(ds, gs, node_feature_funcs=funcs).to_graph_frames().collect()
    assert len(out) == 27
    assert 5 not in {r.frame_id for r in out}


def test_plugins_receive_one_frame(tracking, settings):
    """On a stack, a user plugin is still called once per frame with that
    frame's (N,) kwargs, and the built-in columns beside it equal a
    default-only run's."""

    @graph_feature(feature_type="node", is_custom=True)
    def node_probe(**kw):
        n = len(kw["team_id"])
        for k in ("x", "v", "team_id", "is_ball", "is_ball_carrier", "id"):
            assert kw[k].shape == (n,), (k, kw[k].shape)
        assert kw["position"].shape == (n, 3) and kw["ball_position"].shape == (3,)
        assert isinstance(kw["possession_team_id"], str)
        return np.column_stack((kw["x"], kw["y"]))

    @graph_feature(feature_type="edge", is_custom=True)
    def edge_probe(**kw):
        n = len(kw["team_id"])
        assert kw["velocity"].shape == (n, 3)
        return np.ones((n, n))

    custom = _nodes_by_frame(SoccerGraphConverter(
        tracking, settings,
        node_feature_funcs=list(DEFAULT_NODE_FEATURES) + [node_probe],
        edge_feature_funcs=list(DEFAULT_EDGE_FEATURES) + [edge_probe],
    ))
    default = _nodes_by_frame(SoccerGraphConverter(tracking, settings))
    assert custom.keys() == default.keys()
    for f, x in default.items():
        assert custom[f].shape == (x.shape[0], 17)
        np.testing.assert_allclose(custom[f][:, :15], x, rtol=0, atol=4e-15, err_msg=f"frame {f}")


def test_delaunay_node_features_match_default(tracking, settings):
    gs = GraphSettings(
        home_team_id=HOME, away_team_id=AWAY,
        adjacency_matrix_type="delaunay", adjacency_matrix_connect_type="ball",
    )
    delaunay = _nodes_by_frame(SoccerGraphConverter(tracking, gs))
    default = _nodes_by_frame(SoccerGraphConverter(tracking, settings))
    assert delaunay.keys() == default.keys()
    for f, x in default.items():
        np.testing.assert_allclose(delaunay[f], x, rtol=0, atol=4e-15, err_msg=f"frame {f}")
