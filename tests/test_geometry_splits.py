"""Geometry utilities (K15) and stratified leakage-safe splits."""

import numpy as np
import pytest

from unravelsports_spark.datasets.synthetic import synthetic_tracking_df
from unravelsports_spark.datasets.tracking import split_by_graph_id_stratified
from unravelsports_spark.functions.geometry import (
    ray_line_intersections,
    rotate_around_line,
    rotate_vectors,
)


def test_ray_line_intersections():
    pos = np.array([[0.0, 0.0], [0.0, 0.0], [5.0, 5.0]])
    vel = np.array([[1.0, 0.0], [-1.0, 0.0], [0.0, 1.0]])
    # vertical segment x=2 from y=-1 to 1
    hits = ray_line_intersections(pos, vel, np.array([2.0, -1.0]), np.array([2.0, 1.0]))
    np.testing.assert_allclose(hits[0], [2.0, 0.0])
    assert np.isnan(hits[1]).all()  # pointing away
    assert np.isnan(hits[2]).all()  # parallel miss


def test_rotate_vectors():
    v = np.array([[1.0, 0.0]])
    np.testing.assert_allclose(rotate_vectors(v, np.pi / 2), [[0.0, 1.0]], atol=1e-12)
    np.testing.assert_allclose(
        rotate_vectors(v, np.pi, origin=(1.0, 0.0)), [[1.0, 0.0]], atol=1e-12
    )


def test_rotate_around_line():
    pts = np.array([[0.0, 1.0], [3.0, -2.0]])
    # reflect across the x-axis
    out = rotate_around_line(pts, np.array([0.0, 0.0]), np.array([1.0, 0.0]))
    np.testing.assert_allclose(out, [[0.0, -1.0], [3.0, 2.0]], atol=1e-12)


def test_stratified_split_exact_ratios(spark):
    df = synthetic_tracking_df(spark, n_frames=100, seed=9)
    from unravelsports_spark.datasets.tracking import TrackingDataset

    ds = TrackingDataset(df)
    ds.add_dummy_labels().add_graph_ids()
    splits = split_by_graph_id_stratified(ds.data, train=0.6, test=0.2, val=0.2, seed=3)
    ids = {
        k: set(r.graph_id for r in v.select("graph_id").distinct().collect())
        for k, v in splits.items()
    }
    all_ids = ids["train"] | ids["test"] | ids["val"]
    assert len(all_ids) == 100
    assert not (ids["train"] & ids["test"]) and not (ids["test"] & ids["val"])
    # per-label fractions within one graph of exact
    for label in (0, 1):
        n_label = (
            ds.data.filter(f"label = {label}").select("graph_id").distinct().count()
        )
        n_train = (
            splits["train"].filter(f"label = {label}").select("graph_id").distinct().count()
        )
        assert abs(n_train - 0.6 * n_label) <= 1.5


def test_rebalance_labels_exact_counts(spark):
    """rebalance_labels mirrors the reference's _balance_labels arithmetic
    (graph_dataset.py:348-362): downsample the over-represented class to
    int()-exact target counts, whole graphs at a time."""
    from unravelsports_spark.datasets.tracking import TrackingDataset, rebalance_labels

    df = synthetic_tracking_df(spark, n_frames=120, seed=5)
    ds = TrackingDataset(df).add_dummy_labels().add_graph_ids()

    def label_counts(d):
        rows = d.select("graph_id", "label").distinct().groupBy("label").count().collect()
        return {r.label: r["count"] for r in rows}

    before = label_counts(ds.data)
    n0, n1 = before[0], before[1]
    t = 0.25
    out = rebalance_labels(ds.data, t, seed=7)
    after = label_counts(out)
    if n1 / (n0 + n1) > t:
        assert after == {0: n0, 1: int(n0 * t / (1 - t))}
    else:
        assert after == {0: int(n1 * (1 - t) / t), 1: n1}
    # whole graphs survive intact: every kept graph keeps all 23 rows
    per_graph = out.groupBy("graph_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_graph] == [23]
    # within tolerance → untouched (same plan object)
    current = n1 / (n0 + n1)
    assert rebalance_labels(ds.data, current + 0.005) is ds.data
    with pytest.raises(ValueError):
        rebalance_labels(ds.data, 1.5)


def test_stratified_split_with_label_ratios(spark):
    """VERDICT r1 #6: per-split label-ratio rebalancing (reference
    test_soccer.py:958-968 train/test/val_label_ratio kwargs)."""
    from unravelsports_spark.datasets.tracking import TrackingDataset

    df = synthetic_tracking_df(spark, n_frames=150, seed=13)
    ds = TrackingDataset(df).add_dummy_labels().add_graph_ids()
    ratios = {"train": 0.75, "test": 1 / 3, "val": 0.5}
    splits = split_by_graph_id_stratified(
        ds.data, train=0.6, test=0.2, val=0.2, seed=3, label_ratios=ratios
    )
    for name, target in ratios.items():
        counts = {
            r.label: r["count"]
            for r in splits[name].select("graph_id", "label").distinct()
            .groupBy("label").count().collect()
        }
        got = counts.get(1, 0) / (counts.get(0, 0) + counts.get(1, 0))
        # int() truncation on small splits allows a few graphs of slack
        assert abs(got - target) < 0.08, (name, counts)
    # leakage-safety survives rebalancing
    ids = {
        k: set(r.graph_id for r in v.select("graph_id").distinct().collect())
        for k, v in splits.items()
    }
    assert not (ids["train"] & ids["test"]) and not (ids["train"] & ids["val"])
    with pytest.raises(ValueError):
        split_by_graph_id_stratified(ds.data, label_ratios={"bogus": 0.5})


def _naive_rebalance(pdf, hashes, target_ratio):
    """rebalance_labels in pandas over the distinct (graph_id, label) table:
    the same int() targets, and the rank by (xxhash64(graph_id, 42),
    graph_id) within each label class (``hashes`` maps graph_id to Spark's
    xxhash64). A NULL label (-1 here) is its own class, capped like label 1."""
    import pandas as pd

    lbl = pdf["label"].map(lambda v: -1 if pd.isna(v) else int(float(v) > 0.5))
    graphs = pd.DataFrame({"graph_id": pdf["graph_id"], "lbl": lbl}).drop_duplicates()
    n0, n1 = int((graphs["lbl"] == 0).sum()), int((graphs["lbl"] == 1).sum())
    current = n1 / (n0 + n1) if n0 + n1 else 0.0
    if abs(current - target_ratio) < 0.01:
        return pdf
    if current > target_ratio:
        t0, t1 = n0, int(n0 * target_ratio / (1 - target_ratio))
    else:
        t0, t1 = int(n1 * (1 - target_ratio) / target_ratio), n1
    keep = set()
    for lab, g in graphs.groupby("lbl"):
        ranked = sorted(g["graph_id"], key=lambda gid: (hashes[gid], gid))
        keep |= set(ranked[: t0 if lab == 0 else t1])
    return pdf[pdf["graph_id"].isin(keep)]


@pytest.mark.parametrize(
    "case, labels, target",
    [
        ("majority_negative", [0] * 30 + [1] * 10, 0.5),
        ("majority_positive", [0] * 8 + [1] * 25, 0.4),
        ("null_labels", [0] * 20 + [1] * 6 + [None] * 9, 0.5),
        ("empty", [], 0.5),
        ("already_balanced", [0] * 10 + [1] * 10, 0.5),
        ("single_class", [1] * 12, 0.5),
    ],
)
def test_rebalance_labels_equals_naive_form(spark, case, labels, target):
    """Kept rows equal the pandas naive form: whole graphs (three rows
    each) are kept or dropped, per class, by the seeded hash rank."""
    from collections import Counter

    from pyspark.sql import functions as F

    from unravelsports_spark.datasets.tracking import rebalance_labels

    rows = [(f"g{i:03d}", lab, k) for i, lab in enumerate(labels) for k in range(3)]
    df = spark.createDataFrame(rows, "graph_id string, label bigint, row int")
    hashes = {
        r["graph_id"]: r["h"]
        for r in df.select("graph_id", F.xxhash64("graph_id", F.lit(42)).alias("h"))
        .distinct().collect()
    }
    want = _naive_rebalance(df.toPandas(), hashes, target)
    got = rebalance_labels(df, target).collect()
    canon = lambda it: Counter((g, None if lab != lab else lab, k) for g, lab, k in it)
    assert canon(map(tuple, got)) == canon(want.itertuples(index=False)), case
    if case == "already_balanced":
        assert len(got) == len(rows)
