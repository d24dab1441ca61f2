"""Former names of the stacked graph kernel, kept only because
`perfbench/layers.py` imports them; delete at the benchmark's next change.

Each is a call into `graph_features.py`, whose kernels take a stack of
same-size frames as (B, N) arrays directly.
"""

from __future__ import annotations

import numpy as np

from .graph_features import (
    DEFAULT_EDGE_FEATURES,
    DEFAULT_NODE_FEATURES,
    compute_adjacency_matrix,
    compute_node_features,
    frame_kwargs,
)


def batch_kwargs(d: dict, settings) -> dict:
    return frame_kwargs(d, settings)


def compute_adjacency_batch(bk: dict, settings) -> np.ndarray:
    return compute_adjacency_matrix(settings, **bk)


def compute_node_features_batch(bk: dict, settings) -> np.ndarray:
    return compute_node_features(DEFAULT_NODE_FEATURES, None, settings, **bk)[0]


def compute_edge_channels_batch(bk: dict, settings) -> np.ndarray:
    """(B, N, N, 6): the default edge channels at every cell."""
    values = [f(**bk, settings=settings) for f in DEFAULT_EDGE_FEATURES]
    return np.stack([m for v in values for m in (v if isinstance(v, tuple) else (v,))], axis=-1)
