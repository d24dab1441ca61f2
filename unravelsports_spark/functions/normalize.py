"""Shared pure-NumPy normalization helpers (K16).

Math parity with /root/reference/unravel/utils/features/utils.py:75-203 —
verified by the golden-fixture tests; structure and vectorization are our own
(everything here runs inside Arrow-batched pandas UDFs, so these helpers are
written to accept arbitrary leading batch dimensions).
"""

from __future__ import annotations

import numpy as np


def normalize_angles(angle: np.ndarray) -> np.ndarray:
    """[-π, π] → [0, 1]."""
    return (angle + np.pi) / (2.0 * np.pi)


def normalize_between(min_value, max_value, value):
    return (value - min_value) / (max_value - min_value)


def normalize_distance(value, max_distance):
    return value / max_distance


def normalize_sincos(value):
    """[-1, 1] → [0, 1]."""
    return (value + 1.0) / 2.0


def normalize_speed(value, max_speed):
    return np.clip(value / max_speed, 0.0, 1.0)


def normalize_acceleration(value, max_acceleration):
    return np.clip(value / max_acceleration, -1.0, 1.0)


def unit_vectors(vectors: np.ndarray) -> np.ndarray:
    """Row-wise unit vectors; zero rows stay zero."""
    mags = np.linalg.norm(vectors, axis=-1, keepdims=True)
    mags = np.where(mags == 0, 1.0, mags)
    return vectors / mags


def angle_between_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Angle between paired vectors along the last axis; zero vectors behave
    like the reference's unit_vector (zero → dot 0 → π/2)."""
    au = unit_vectors(a)
    bu = unit_vectors(b)
    dots = np.clip(np.sum(au * bu, axis=-1), -1.0, 1.0)
    return np.arccos(dots)


def per_class_normalized(values, is_ball, ball_max, player_max, clip_lo=0.0, clip_hi=1.0):
    """Normalize per object class (ball vs player): the reference's
    normalize_speeds / normalize_accelerations_nfl pattern. `is_ball` is a
    boolean (N,) mask broadcast against `values` of shape (N,) or (N, N)
    (row-wise class assignment, matching features/utils.py:179-186)."""
    values = np.asarray(values, dtype=float)
    maxima = np.where(np.asarray(is_ball), ball_max, player_max)
    if values.ndim == 2:
        maxima = maxima[:, None]
    return np.clip(values / maxima, clip_lo, clip_hi)


def signed_speed_difference_normed(diff_matrix, is_ball, ball_max, player_max):
    """normalize_speed_differences (features/utils.py:188-189): clip(x/max,0,1)
    then multiply by sign — negative differences collapse to 0 exactly as the
    reference does."""
    return per_class_normalized(diff_matrix, is_ball, ball_max, player_max) * np.sign(diff_matrix)
