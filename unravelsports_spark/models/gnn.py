"""GNN classifier surface (reference unravel/utils/objects/classifiers/
crystal_graph.py:6-44, crystal_graph_pyg.py:24-105: 3-layer CrystalConv /
CGConv, 128 channels, global mean pool, sigmoid head).

The engine-side contract this module keeps:

- `graph_loader`: batched iteration over a graph-frames DataFrame —
  `toLocalIterator` over repartitioned chunks, so the driver holds one batch
  at a time regardless of corpus size;
- `build_crystal_gnn`: constructs the reference-shaped PyG model when torch
  is importable (on a cluster you'd hand it to TorchDistributor with the
  loader feeding each worker's shard);
- `NumpyCrystalGNN`: a dependency-free twin of the same architecture —
  CGConv message passing (sigmoid gate × softplus filter, sum-aggregated;
  Xie & Grossman 2018, the layer both reference classifiers use) with a
  frozen deterministic backbone and a TRAINABLE logistic head (manual
  gradients). It exists so an actual end-to-end training run (loss decreases
  on learnable labels) is exercised in CI without torch/spektral.
"""

from __future__ import annotations

from itertools import islice
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame

from ..sources.graph_sink import iter_graph_tuples


def graph_loader(graph_frames: DataFrame, batch_size: int = 64) -> Iterator[list[dict]]:
    """Yield lists of ≤ batch_size graph dicts
    (:func:`~unravelsports_spark.sources.graph_sink.iter_graph_tuples`:
    a, x, e, label and the frame locator keys)."""
    graphs = iter_graph_tuples(graph_frames)
    while batch := list(islice(graphs, batch_size)):
        yield batch


def build_crystal_gnn(n_node_features: int, n_edge_features: int, channels: int = 128, layers: int = 3):
    """Reference-shaped PyG model (CGConv ×3 → global mean pool → sigmoid)."""
    try:
        import torch
        from torch import nn
        from torch_geometric.nn import CGConv, global_mean_pool
    except ImportError as exc:
        raise ImportError(
            "torch + torch_geometric required to build the GNN; the Spark side "
            "(graph_loader batches) works without them"
        ) from exc

    class CrystalGNN(nn.Module):
        def __init__(self):
            super().__init__()
            self.embed = nn.Linear(n_node_features, channels)
            self.convs = nn.ModuleList(
                [CGConv(channels, dim=n_edge_features) for _ in range(layers)]
            )
            self.head = nn.Sequential(nn.Linear(channels, 1), nn.Sigmoid())

        def forward(self, x, edge_index, edge_attr, batch):
            h = self.embed(x)
            for conv in self.convs:
                h = conv(h, edge_index, edge_attr)
            return self.head(global_mean_pool(h, batch))

    return CrystalGNN()


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(z, -60, 60)))


def _softplus(z: np.ndarray) -> np.ndarray:
    return np.logaddexp(0.0, z)


class NumpyCrystalGNN:
    """CGConv ×layers → global mean pool → logistic head, in NumPy.

    The backbone (embed + CGConv weights) is frozen at a seeded random init —
    a random message-passing feature map; the head is trained with exact
    manual gradients (binary cross-entropy, full-batch gradient descent).
    `fit` consumes `graph_loader` batches, so the Spark→training hand-off is
    identical to the torch path's.
    """

    def __init__(self, n_node_features: int, n_edge_features: int,
                 channels: int = 32, layers: int = 3, seed: int = 42):
        rng = np.random.default_rng(seed)
        self.channels, self.layers = channels, layers
        z = 2 * channels + n_edge_features
        s = 1.0 / np.sqrt(z)
        self.W_embed = rng.normal(0, 1.0 / np.sqrt(n_node_features), (n_node_features, channels))
        self.Wf = [rng.normal(0, s, (z, channels)) for _ in range(layers)]
        self.bf = [np.zeros(channels) for _ in range(layers)]
        self.Ws = [rng.normal(0, s, (z, channels)) for _ in range(layers)]
        self.bs = [np.zeros(channels) for _ in range(layers)]
        self.w_head = np.zeros(channels)
        self.b_head = 0.0

    def pooled(self, graph: dict) -> np.ndarray:
        """Forward the frozen backbone for one graph → mean-pooled channels."""
        a, x, e = graph["a"], graph["x"], graph["e"]
        h = x @ self.W_embed
        src, dst = np.nonzero(a)
        e = np.asarray(e, dtype=float)
        if len(e) != len(src):  # defensive: edge features must align with A
            raise ValueError(f"edge count mismatch: |e|={len(e)} vs |A≠0|={len(src)}")
        for Wf, bf, Ws, bs in zip(self.Wf, self.bf, self.Ws, self.bs):
            zcat = np.concatenate([h[src], h[dst], e], axis=1)
            msg = _sigmoid(zcat @ Wf + bf) * _softplus(zcat @ Ws + bs)
            out = h.copy()
            np.add.at(out, dst, msg)
            h = out
        return h.mean(axis=0)

    def predict_proba(self, pooled_rows: np.ndarray) -> np.ndarray:
        return _sigmoid(pooled_rows @ self.w_head + self.b_head)

    def fit(self, batches: Iterator[list[dict]], epochs: int = 5, lr: float = 0.5):
        """Train the head on graph_loader output. Returns per-epoch BCE loss.

        The backbone forward runs once per graph (frozen weights ⇒ pooled
        features are constants across epochs); epochs then iterate on the
        cached (n_graphs × channels) matrix driver-side."""
        feats, labels = [], []
        for batch in batches:
            for g in batch:
                feats.append(self.pooled(g))
                labels.append(float(g["label"]))
        X = np.asarray(feats)
        y = np.asarray(labels)
        # standardize pooled channels so one lr fits any feature scale
        self._mu, self._sd = X.mean(0), X.std(0) + 1e-9
        Xn = (X - self._mu) / self._sd
        losses = []
        for _ in range(epochs):
            p = self.predict_proba(Xn)
            losses.append(float(-np.mean(y * np.log(p + 1e-12) + (1 - y) * np.log(1 - p + 1e-12))))
            grad = (p - y) / len(y)
            self.w_head -= lr * (Xn.T @ grad)
            self.b_head -= lr * float(grad.sum())
        return losses



class CrystalGraphClassifier:
    """Name-parity shim for the reference's spektral classifier
    (unravel/classifiers/crystal_graph.py:6-44; its package-level fallback
    raises ImportError the same way when spektral is absent). The
    dependency-free twin with an actually-runnable training loop is
    `NumpyCrystalGNN`."""

    def __init__(self, *args, **kwargs):
        raise ImportError(
            "CrystalGraphClassifier requires spektral/tensorflow (not in this "
            "environment); use NumpyCrystalGNN (dependency-free) or "
            "build_crystal_gnn (torch)"
        )


class PyGLightningCrystalGraphClassifier:
    """Name-parity shim for the reference's PyG-Lightning classifier
    (unravel/classifiers/crystal_graph_pyg.py:24-105). `build_crystal_gnn`
    constructs the same CGConv architecture when torch is importable."""

    def __init__(self, *args, **kwargs):
        try:
            import pytorch_lightning  # noqa: F401
            import torch  # noqa: F401
        except ImportError as exc:
            raise ImportError(
                "PyGLightningCrystalGraphClassifier requires torch + "
                "pytorch_lightning; use build_crystal_gnn / NumpyCrystalGNN"
            ) from exc
        raise NotImplementedError(
            "lightning wrapper intentionally thin — wrap build_crystal_gnn()"
        )


def collate_disjoint(batch: list[dict]) -> dict:
    """Collate a `graph_loader` batch into ONE disjoint (block-diagonal)
    graph — the reference DisjointLoader semantics
    (unravel/utils/objects/graph_dataset.py Spektral mode / PyG Batch):
    node features stacked, edge list offset-shifted per graph, a `batch`
    vector mapping node → source graph for segment pooling.

    Returns dict(x [N_total,F], edge_index [2,E_total], e [E_total,Fe],
    batch [N_total], labels [B]). Adjacency is consumed as dense per-graph
    matrices upstream; here edges come from the nonzeros so message passing
    over the collated batch equals per-graph passing exactly (asserted in
    tests)."""
    xs, es, eidx, bvec, labels = [], [], [], [], []
    node_off = 0
    for gi, g in enumerate(batch):
        a = np.asarray(g["a"], dtype=float)
        x = np.asarray(g["x"], dtype=float)
        e = np.asarray(g["e"], dtype=float)
        src, dst = np.nonzero(a)
        order = np.lexsort((dst, src))
        src, dst = src[order], dst[order]
        xs.append(x)
        # per-graph edge features are stored in row-major nonzero order
        es.append(e[: len(src)])
        eidx.append(np.stack([src + node_off, dst + node_off]))
        bvec.append(np.full(len(x), gi, dtype=np.int64))
        labels.append(g["label"])
        node_off += len(x)
    return {
        "x": np.concatenate(xs, axis=0),
        "edge_index": np.concatenate(eidx, axis=1) if eidx else np.zeros((2, 0), np.int64),
        "e": np.concatenate(es, axis=0),
        "batch": np.concatenate(bvec, axis=0),
        "labels": np.asarray(labels),
    }


def segment_mean_pool(x: np.ndarray, batch_vec: np.ndarray) -> np.ndarray:
    """Global mean pool per graph over a disjoint batch (the reference's
    global_mean_pool): [N_total, F] × batch → [B, F]."""
    n_graphs = int(batch_vec.max()) + 1 if len(batch_vec) else 0
    out = np.zeros((n_graphs, x.shape[1]))
    counts = np.bincount(batch_vec, minlength=n_graphs).astype(float)
    np.add.at(out, batch_vec, x)
    return out / counts[:, None]
