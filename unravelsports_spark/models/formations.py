"""Formation templates + detected-formation state for EFPI (K13/K14).

The reference extracts template coordinates from mplsoccer's
Pitch.get_formation() (detection.py:150-236); mplsoccer is unavailable here,
so templates are generated from the formation string itself: each digit is a
line of players, lines spread along x, players spread along y, with standard
position labels per line. Coordinates live on the same centered
secondspectrum pitch the canonical table uses. Label/name semantics match the
reference's public contract (GK excluded from templates, LTR + RTL variants,
grouped by outfield count {8, 9, 10}); exact coordinate parity with mplsoccer
is not possible without it and is documented as a divergence.

The Shaw–Glickman 19-formation list follows the reference (detection.py:
154-175), after Shaw & Glickman, "Dynamic analysis of team strategy in
professional football" (2019).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional

import numpy as np

SHAW_GLICKMAN = [
    "5221", "352", "343flat", "3232", "4222", "41212", "343", "41221", "433",
    "4321", "4141", "442", "3331", "31312", "3241", "3142", "2422", "2332", "2431",
]

#: additional sets for under-strength teams (red cards / padding windows)
NINE_PLAYER = ["432", "441", "342", "351", "333", "4221", "3321"]
EIGHT_PLAYER = ["431", "422", "332", "341", "242", "3221"]

_DEF_LABELS = {
    1: ["CB"],
    2: ["LCB", "RCB"],
    3: ["LCB", "CB", "RCB"],
    4: ["LB", "LCB", "RCB", "RB"],
    5: ["LWB", "LCB", "CB", "RCB", "RWB"],
}
_MID_LABELS = {
    1: ["CM"],
    2: ["LCM", "RCM"],
    3: ["LM", "CM", "RM"],
    4: ["LM", "LCM", "RCM", "RM"],
    5: ["LWM", "LCM", "CM", "RCM", "RWM"],
}
_ATT_LABELS = {
    1: ["ST"],
    2: ["LS", "RS"],
    3: ["LW", "ST", "RW"],
    4: ["LW", "LS", "RS", "RW"],
    5: ["LW", "LS", "ST", "RS", "RW"],
}


def _parse_lines(formation: str) -> List[int]:
    digits = [int(ch) for ch in formation if ch.isdigit()]
    if not digits or sum(digits) not in (8, 9, 10):
        raise ValueError(f"formation {formation!r} must describe 8-10 outfield players")
    return digits


def formation_template(formation: str, pitch_length: float, pitch_width: float):
    """(coords (N,2) left-to-right, labels (N,)) for one formation string."""
    lines = _parse_lines(formation)
    n_lines = len(lines)
    xs = np.linspace(-0.35 * pitch_length, 0.35 * pitch_length, n_lines)
    coords, labels = [], []
    for li, (n_in_line, x) in enumerate(zip(lines, xs)):
        ys = (
            np.linspace(0.40 * pitch_width, -0.40 * pitch_width, n_in_line)
            if n_in_line > 1
            else np.array([0.0])
        )
        if li == 0:
            names = _DEF_LABELS[n_in_line]
        elif li == n_lines - 1:
            names = _ATT_LABELS[n_in_line]
        else:
            names = _MID_LABELS[n_in_line]
            if n_lines > 3:
                # disambiguate repeated midfield lines (e.g. 41212)
                names = [f"{nm}{li}" if n_lines > 3 else nm for nm in names]
        for y, nm in zip(ys, names):
            coords.append((x, y))
            labels.append(nm)
    return np.asarray(coords, dtype=float), np.asarray(labels)


@dataclass
class DetectedFormation:
    """Per-team sticky assignment state (reference detection.py:19-44)."""

    is_attack: bool
    formation_name: str
    cost: float
    labels: np.ndarray
    ids: np.ndarray

    def __post_init__(self):
        self.labels_dict = dict(zip(self.ids, self.labels))

    def update(self, is_attack, formation_name, cost, labels, ids):
        self.is_attack = is_attack
        self.formation_name = formation_name
        self.cost = cost
        for object_id, label in zip(ids, labels):
            self.labels_dict[object_id] = label


@dataclass
class Formations:
    """Template container (reference detection.py:92-236), mplsoccer-free."""

    pitch_length: float
    pitch_width: float
    formations: Optional[List[str]] = None
    detected_formations: Dict[str, DetectedFormation] = field(init=False, repr=False)

    def __post_init__(self):
        self.detected_formations = {}
        self._stacked_cache = {}
        self._coords_ltr = {k: {} for k in (8, 9, 10)}
        self._coords_rtl = {k: {} for k in (8, 9, 10)}
        self._labels = {k: {} for k in (8, 9, 10)}
        for name in self.get_options():
            coords, labels = formation_template(name, self.pitch_length, self.pitch_width)
            n = len(coords)
            self._coords_ltr[n][name] = coords
            self._coords_rtl[n][name] = coords * -1.0  # 180° flip, like x_flip/y_flip
            self._labels[n][name] = labels

    def get_options(self) -> List[str]:
        if self.formations is None or self.formations == "shaw-glickman":
            base = list(SHAW_GLICKMAN)
            if self.formations is None:
                base += NINE_PLAYER + EIGHT_PLAYER
            return base
        return list(self.formations)

    def positions(self, direction: str):
        return self._coords_ltr if direction == "ltr" else self._coords_rtl

    def stacked(self, direction: str, n: int):
        """Cached (names, template_stack (F, n, 2), gmin, gmax) per
        (direction, outfield count) — the per-call ``np.stack`` over all
        templates plus the global min/max are invariants of the template
        set, so the detection kernel builds them once per Formations
        instance (= once per Spark task) instead of twice per frame
        (optimization guide §4.5). Stack order is the dict insertion order
        ``positions()`` exposes, so template indices (and therefore
        tie-breaks) are unchanged."""
        key = (direction, n)
        hit = self._stacked_cache.get(key)
        if hit is not None:
            return hit
        options = self.positions(direction).get(n, {})
        if not options:
            self._stacked_cache[key] = None
            return None
        names = list(options.keys())
        tmpl = np.stack([options[k] for k in names])  # (F, n, 2)
        gmin = tmpl.min(axis=(0, 1))
        gmax = tmpl.max(axis=(0, 1))
        hit = (names, tmpl, gmin, gmax)
        self._stacked_cache[key] = hit
        return hit

    def labels(self):
        return self._labels

    def set_detected_formation(self, team_id, is_attack, name, cost, labels, ids):
        cur = self.detected_formations.get(team_id)
        if cur is None:
            self.detected_formations[team_id] = DetectedFormation(
                is_attack=is_attack, formation_name=name, cost=cost, labels=labels, ids=ids
            )
        else:
            cur.update(is_attack, name, cost, labels, ids)

    def lookup(self, object_ids, team_ids, strict=True):
        """Rows (position, formation) for each object from current state
        (reference detection.py:128-151). ``strict=True`` mirrors the
        reference exactly: a team with no detection yet (or an object absent
        from the detected labels) raises KeyError. ``strict=False`` emits
        ``(None, None)`` for such rows instead — the chunked frame kernel
        uses it so a chunk-leading failed detection yields null placeholder
        rows that the cross-chunk forward fill then patches (EFPI
        ``stateless_chunk_frames`` doc)."""
        positions, formations = [], []
        for object_id, team_id in zip(object_ids, team_ids):
            if object_id == "ball" or team_id == "ball":
                positions.append("ball")
                formations.append("ball")
                continue
            if strict:
                state = self.detected_formations[team_id]
                positions.append(state.labels_dict[object_id])
                formations.append(state.formation_name)
                continue
            state = self.detected_formations.get(team_id)
            if state is None or object_id not in state.labels_dict:
                positions.append(None)
                formations.append(None)
                continue
            positions.append(state.labels_dict[object_id])
            formations.append(state.formation_name)
        return positions, formations
