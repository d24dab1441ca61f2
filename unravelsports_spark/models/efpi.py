"""EFPI formation detection on Spark.

Re-expresses the reference's unravel/soccer/models/formations/efpi.py
(kernel :150-338, fit :340-748) Spark-first:

- temporal segmentation is native DataFrame work: possession sessionization
  (W4 lag+cumsum window), period grouping, or tumbling time buckets (W5);
  overlapping substitutions drop by count and rank windows (A2/W3), so the
  input is read once; segment mean positions are one hash aggregation (A3);
- the matching kernel (cost tensor vs formation templates + Hungarian
  assignment, K12) runs once per frame or segment through models/frames.py;
- the cross-segment hysteresis state (K13, reference detection.py:92-148) is
  sequential per match, so with it on the kernel groups by game_id and
  walks the runs in order inside one call — state never crosses games,
  which is exactly the partitioning a 100 TB many-match corpus needs. With
  it off, games split further into frame chunks or segment buckets.

Template coordinates come from our own generator (models/formations.py) since
mplsoccer is unavailable; detection semantics (scale-to-bounds, min-cost
Hungarian, hysteresis rules) match the reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Union

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.assignment import linear_sum_assignment
from ..schema import BALL, Column, Group, any_null
from ..settings import DefaultSettings
from .formations import Formations
from .frames import map_runs

_OUT_FIELDS = [
    T.StructField(Column.GAME_ID, T.StringType()),
    T.StructField(Column.PERIOD_ID, T.LongType()),
    T.StructField(Column.OBJECT_ID, T.StringType()),
    T.StructField(Column.TEAM_ID, T.StringType()),
    T.StructField("position", T.StringType()),
    T.StructField("formation", T.StringType()),
    T.StructField(Column.BALL_OWNING_TEAM_ID, T.StringType()),
]
#: per-frame detection: its input columns and output schema, shared by the
#: batch kernel and the streaming operator (streaming/efpi_stream.py)
_FRAME_COLS = [Column.GAME_ID, Column.PERIOD_ID, Column.FRAME_ID, Column.X, Column.Y,
               Column.TEAM_ID, Column.BALL_OWNING_TEAM_ID, Column.OBJECT_ID,
               Column.POSITION_NAME]
_FRAME_SCHEMA = T.StructType(
    [*_OUT_FIELDS[:2], T.StructField(Column.FRAME_ID, T.LongType()), *_OUT_FIELDS[2:]]
)


def _parse_every(every: str) -> int:
    """'5m' / '30s' / '1h' → millis; the duration must be positive."""
    units = {"s": 1_000, "m": 60_000, "h": 3_600_000}
    if every[-1] not in units or not every[:-1].isdigit() or int(every[:-1]) == 0:
        raise ValueError(f"invalid 'every' duration string: {every!r}")
    return int(every[:-1]) * units[every[-1]]


def _assign_formation(coords, forms, direction):
    """K12 (reference efpi.py:150-220): scale all templates to the team's
    bounding box, pick the min-cost Hungarian assignment.

    Template pruning: a valid lower bound on each template's assignment
    total lets templates be solved in ascending bound order with the loop
    stopping once the next bound exceeds the best exact total by more than
    a float-noise epsilon. Selection is IDENTICAL to solving all templates
    for ANY valid bound and ANY solve order — the winner rule
    (strictly-better total, ties to the lowest template index) is
    order-independent, a pruned template has exact total above the
    incumbent by the bound's validity, and a bound equal to the incumbent
    is still evaluated. The epsilon matters for exact ties (ADVICE r4):
    the bound sums cost terms in a different order than the exact total,
    so non-associativity can push a mathematically tied bound ~1 ulp above
    the incumbent — the tolerance keeps such a template inside the loop,
    where the exact comparison then breaks the tie correctly.

    r14 bound upgrade (guide §1.2 "per-task work"): the classic Hungarian
    reduction bounds — row minima plus column minima OF THE ROW-REDUCED
    matrix (and the column-first mirror) — dominate the plain row-/column-
    minima relaxations used before (each is the old bound plus a
    non-negative residual term) at the cost of two more vectorized passes
    over the (n, F, n) cost tensor. Measured on the synthetic tracking
    kernel: surviving JV solves drop ~23.4 -> ~11 per frame with zero
    winner changes (the equivalence is asserted by
    tests/test_efpi.py::test_assign_formation_matches_bruteforce).
    Template stacks and their global extents come precomputed from
    Formations.stacked (once per task, not twice per frame — §4.5)."""
    n = len(coords)
    stacked = forms.stacked(direction, n)
    if stacked is None:
        return None
    names, tmpl0, gmin, gmax = stacked

    lo = coords.min(axis=0)
    hi = coords.max(axis=0)
    scale = np.where(gmax - gmin != 0, (hi - lo) / (gmax - gmin), 1.0)
    tmpl = (tmpl0 - gmin) * scale + lo

    cost = np.linalg.norm(coords[:, None, None, :] - tmpl[None, :, :, :], axis=-1)
    # (F,) assignment lower bounds, tightest of the two Hungarian
    # reduction orders: subtracting per-row minima leaves a non-negative
    # matrix whose per-column minima still under-count every assignment,
    # so rowmin-sum + reduced-colmin-sum <= optimal (and symmetrically
    # column-first); each dominates the single-sided relaxation it extends
    rmin = cost.min(axis=2)  # (n, F): per (player, template) row minima
    cmin = cost.min(axis=0)  # (F, n): per (template, slot) column minima
    b_row_first = rmin.sum(axis=0) + (cost - rmin[:, :, None]).min(axis=0).sum(axis=1)
    b_col_first = cmin.sum(axis=1) + (cost - cmin[None, :, :]).min(axis=2).sum(axis=0)
    bounds = np.maximum(b_row_first, b_col_first)
    best_total = np.inf
    best = None
    best_assign = None
    for i in np.argsort(bounds, kind="stable"):
        # strict pruning would drop bound == total ties that float
        # non-associativity nudged a ulp high; the relative epsilon is far
        # below any real cost difference (costs are O(1)-O(100) meters)
        if bounds[i] > best_total + 1e-9 * (1.0 + abs(best_total)):
            break  # ascending bounds: no later template can win or tie
        r, c = linear_sum_assignment(cost[:, i, :])
        tot = cost[:, i, :][r, c].sum()
        if tot < best_total or (tot == best_total and i < best):
            best_total, best, best_assign = tot, int(i), c
    player_labels = forms.labels()[n][names[best]][best_assign]
    return player_labels, names[best], float(best_total)


def _directions(bot_first, orientation, home_team_id):
    """Attacking direction (reference efpi.py:296-312): LTR when the data is
    ball-owning-oriented, else home attacks LTR."""
    if orientation == "BALL_OWNING_TEAM" or bot_first == home_team_id:
        attacking = "ltr"
    else:
        attacking = "rtl"
    return attacking, ("rtl" if attacking == "ltr" else "ltr")


def _detect_group(d, forms, state_cfg, orientation, home_team_id):
    """Attack+defense detection for one frame/segment dict of arrays; updates
    `forms` state with the hysteresis rules (reference efpi.py:222-290)."""
    bot = d["ball_owning_team_id"][0]
    att_dir, def_dir = _directions(bot, orientation, home_team_id)
    for is_attack, direction in ((True, att_dir), (False, def_dir)):
        if is_attack:
            team_sel = d["team_id"] == bot
            mask = team_sel & (d["position_name"] != "GK")
            gk_mask = team_sel & (d["position_name"] == "GK")
        else:
            team_sel = (d["team_id"] != bot) & (d["team_id"] != BALL)
            mask = team_sel & (d["position_name"] != "GK")
            gk_mask = team_sel & (d["position_name"] == "GK")
        if not np.any(team_sel):
            continue
        team_id = d["team_id"][team_sel][0]
        coords = np.stack((d["x"][mask], d["y"][mask]), axis=-1)
        res = _assign_formation(coords, forms, direction)
        if res is None:
            continue
        labels, formation, cost = res
        object_ids = np.concatenate((d["id"][mask], d["id"][gk_mask]))
        all_labels = np.concatenate((labels, ["GK"] * int(gk_mask.sum())))

        state = forms.detected_formations.get(team_id)
        update = (
            state is None
            or state_cfg["change_threshold"] is None
            or set(state.ids) != set(object_ids)
            or (state_cfg["change_after_possession"] and state.is_attack != is_attack)
            # np.float64 division: cost 0 → nan/inf instead of raising, the
            # semantics the reference inherits from numpy scalars
            or bool(
                (np.float64(state.cost) - np.float64(cost)) / np.float64(cost)
                > state_cfg["change_threshold"]
            )
        )
        if update:
            forms.set_detected_formation(
                team_id=team_id, is_attack=is_attack, name=formation,
                cost=cost, labels=all_labels, ids=object_ids,
            )


def _frames_rows(runs, forms, state_cfg, orientation, home_id, head=_FRAME_COLS[:3], strict=True):
    """Ordered detection over one game's frame or segment runs
    (models/frames.py:split_runs), mutating `forms` hysteresis state (K13)
    as it goes. Shared by the frame and segment kernels and the Structured
    Streaming stateful operator (streaming/efpi_stream.py) so the paths
    cannot diverge. Returns output tuples: the run's ``head`` column values
    (game_id, period_id, frame_id by default), then id, team_id, position,
    formation, ball_owning_team_id. ``strict=False`` (chunked batch kernel)
    emits null position/formation where the reference would raise on a
    missing team state — the chunked caller forward-fills those from the
    previous chunk's output."""
    out = []
    for d in runs:
        _detect_group(d, forms, state_cfg, orientation, home_id)
        positions, formation_names = forms.lookup(d["id"], d["team_id"], strict=strict)
        run_head = tuple(d[c][0] for c in head)
        out.extend(
            run_head + row
            for row in zip(d["id"], d["team_id"], positions, formation_names,
                           d["ball_owning_team_id"])
        )
    return out


def _segment_rows(df: DataFrame, every: str) -> tuple[DataFrame, list[str]]:
    """Rows with their segment id column (none for periods), minus each
    overlapping team-segment's surplus objects; window passes only."""
    segment_id = f"{every}_id"
    if every == "possession":
        # W4 sessionization over the rows: a frame's first row opens a
        # possession when the owning team or the period changed (a NULL
        # comparison counts as a change); NULL frame keys get no possession
        wg = Window.partitionBy(Column.GAME_ID).orderBy(Column.FRAME_ID, Column.PERIOD_ID)
        frame, period = F.col(Column.FRAME_ID), F.col(Column.PERIOD_ID)
        owner = F.col(Column.BALL_OWNING_TEAM_ID)
        same_frame = frame.eqNullSafe(F.lag(frame).over(wg)) & period.eqNullSafe(
            F.lag(period).over(wg)
        )
        flip = (owner != F.lag(owner).over(wg)) | (period != F.lag(period).over(wg))
        new_frame = (F.row_number().over(wg) == 1) | ~same_frame
        opens = new_frame & F.coalesce(flip, F.lit(True))
        running = F.sum(opens.cast("int")).over(
            wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        rows = df.withColumn(segment_id, F.when(~any_null(Group.BY_FRAME), running))
        seg_expr = [segment_id]
    elif every == "period":
        rows = df
        seg_expr = []
    else:
        bucket_ms = _parse_every(every)
        rows = df.withColumn(
            segment_id, (F.col(Column.TIMESTAMP) / bucket_ms).cast("long") * bucket_ms
        )
        seg_expr = [segment_id]

    # substitution overlap: a team-segment with > 10 distinct outfield
    # players (A2) keeps its 11 longest-appearing objects, GK included
    # (reference efpi.py:606-645), ties to the lowest id (W3). Rows with
    # a NULL id or team-segment key are always kept.
    team_seg = [Column.GAME_ID, Column.PERIOD_ID, Column.TEAM_ID, *seg_expr]
    ws = Window.partitionBy(*team_seg)
    outfield_id = F.when(
        (F.col(Column.TEAM_ID) != BALL) & (F.col(Column.POSITION_NAME) != "GK"),
        F.col(Column.OBJECT_ID),
    )
    rank = F.dense_rank().over(ws.orderBy(F.col("_len").desc(), Column.OBJECT_ID))
    keep = (F.col("_objects") <= 10) | (rank <= 11) | any_null([*team_seg, Column.OBJECT_ID])
    rows = (
        rows.withColumn("_objects", F.size(F.collect_set(outfield_id).over(ws)))
        .withColumn("_len", F.count("*").over(Window.partitionBy(*team_seg, Column.OBJECT_ID)))
        .withColumn("_keep", keep)
        .filter("_keep")
        .drop("_objects", "_len", "_keep")
    )
    return rows, seg_expr


@dataclass
class EFPI:
    dataset: DataFrame
    settings: DefaultSettings = field(default_factory=DefaultSettings)
    formations: Union[List[str], str, None] = None
    #: Frame-range shard size for the stateless (change_threshold=None)
    #: frame path — one grouped-map task per (game, 512 frames). A frame
    #: whose team detection fails (e.g. too few players on the pitch)
    #: borrows the last successful detection; failures at a chunk's leading
    #: frames have no in-chunk state, so the kernel emits nulls there and a
    #: per-(game, object) forward fill carries the previous chunks' last
    #: detection across the boundary — output is identical to the unsharded
    #: run wherever the unsharded run is defined (equivalence-tested,
    #: including a failure run spanning chunk boundaries). Set to ``None``
    #: to disable intra-game sharding (game-level-only parallelism, skips
    #: the fill window).
    stateless_chunk_frames: int | None = 512
    #: segment hash-buckets per game for the stateless segment path
    #: (possession / period / duration modes with change_threshold=None)
    stateless_segment_buckets: int = 16

    output: Optional[DataFrame] = field(init=False, default=None)
    segments: Optional[DataFrame] = field(init=False, default=None)

    def fit(
        self,
        start_time: int | None = None,
        end_time: int | None = None,
        period_id: int | None = None,
        every: str = "frame",
        formations: Union[List[str], str, None] = None,
        substitutions: str = "drop",
        change_after_possession: bool = True,
        change_threshold: float | None = None,
    ) -> "EFPI":
        if substitutions not in ("merge", "drop"):
            raise ValueError("'substitutions' should be 'merge' or 'drop'")
        if substitutions == "merge":
            raise NotImplementedError("merge substitutions not implemented (parity with reference)")
        timed = [start_time, end_time, period_id]
        if any(x is not None for x in timed) and not all(x is not None for x in timed):
            raise ValueError("specify all of start_time, end_time and period_id or none")
        if every not in ("frame", "possession", "period"):
            _parse_every(every)  # validates duration strings early

        df = self.dataset
        if start_time is not None:
            df = df.filter(
                F.col(Column.TIMESTAMP).between(start_time, end_time)
                & (F.col(Column.PERIOD_ID) == period_id)
            )

        forms_cfg = formations if formations is not None else self.formations
        state_cfg = {
            "change_threshold": change_threshold,
            "change_after_possession": change_after_possession,
        }

        if every == "frame":
            out = self._fit_frames(df, forms_cfg, state_cfg)
            self.output = out.withColumn(
                "is_attacking",
                F.when(F.col(Column.OBJECT_ID) == BALL, F.lit(None))
                .when(F.col(Column.TEAM_ID) == F.col(Column.BALL_OWNING_TEAM_ID), True)
                .otherwise(False),
            ).orderBy("frame_id", "is_attacking", Column.OBJECT_ID)
            self.segments = None
            return self

        df = df.withColumn(
            "is_attacking", F.col(Column.BALL_OWNING_TEAM_ID) == F.col(Column.TEAM_ID)
        )
        df1, seg_expr = _segment_rows(df, every)

        # A3 segment mean coordinates per object
        obj_keys = [
            Column.GAME_ID, Column.PERIOD_ID, Column.BALL_OWNING_TEAM_ID,
            Column.OBJECT_ID, "is_attacking", *seg_expr,
        ]
        segment_coordinates = df1.groupBy(*obj_keys).agg(
            F.avg(Column.X).alias(Column.X),
            F.avg(Column.Y).alias(Column.Y),
            F.first(Column.POSITION_NAME).alias(Column.POSITION_NAME),
            F.first(Column.TEAM_ID).alias(Column.TEAM_ID),
            F.countDistinct(Column.FRAME_ID).alias("n_frames"),
            F.min(Column.TIMESTAMP).alias("start_timestamp"),
            F.max(Column.TIMESTAMP).alias("end_timestamp"),
            F.min(Column.FRAME_ID).alias("start_frame_id"),
            F.max(Column.FRAME_ID).alias("end_frame_id"),
        )

        seg_col = seg_expr[0] if seg_expr else None
        out = self._fit_segments(segment_coordinates, forms_cfg, state_cfg, seg_col)
        out = out.withColumn(
            "is_attacking",
            F.when(F.col(Column.OBJECT_ID) == BALL, F.lit(None))
            .when(F.col(Column.TEAM_ID) == F.col(Column.BALL_OWNING_TEAM_ID), True)
            .otherwise(False),
        )
        order_key = seg_col if seg_col else Column.PERIOD_ID
        self.output = out.orderBy(order_key, "is_attacking", Column.OBJECT_ID)

        seg_keys = [Column.PERIOD_ID] + ([seg_col] if seg_col else [])
        self.segments = (
            segment_coordinates.groupBy(*seg_keys)
            .agg(
                F.sum("n_frames").alias("n_frames"),
                F.min("start_timestamp").alias("start_timestamp"),
                F.max("end_timestamp").alias("end_timestamp"),
                F.min("start_frame_id").alias("start_frame_id"),
                F.max("end_frame_id").alias("end_frame_id"),
            )
            .orderBy(*seg_keys)
        )
        return self

    # ------------------------------------------------------------------

    def _fit_frames(self, df: DataFrame, forms_cfg, state_cfg) -> DataFrame:
        pitch = self.settings.pitch_dimensions
        pl_len, pl_wid = pitch.pitch_length, pitch.pitch_width
        orientation, home_id = self.settings.orientation, self.settings.home_team_id
        chunked = (
            state_cfg["change_threshold"] is None
            and self.stateless_chunk_frames is not None
        )

        def detect(runs):
            forms = Formations(pl_len, pl_wid, forms_cfg)
            return _frames_rows(runs, forms, state_cfg, orientation, home_id, strict=not chunked)

        sel = df.select(*_FRAME_COLS)
        # With hysteresis ON the state is serial within a match, so frames
        # group by game_id alone (streaming/efpi_stream.py carries the same
        # state incrementally). With it OFF every frame re-detects from
        # scratch, so each game splits into frame chunks; a chunk-leading
        # detection failure emits nulls (strict=False) that the forward fill
        # below patches from the previous chunks (see stateless_chunk_frames).
        if chunked:
            sel = sel.withColumn(
                "_chunk",
                F.floor(F.col(Column.FRAME_ID) / F.lit(self.stateless_chunk_frames)).cast("long"),
            )
            keys = [Column.GAME_ID, "_chunk"]
        else:
            keys = [Column.GAME_ID]
        out = map_runs(sel, keys, [Column.FRAME_ID], [Column.OBJECT_ID], detect, _FRAME_SCHEMA)
        if chunked:
            # cross-chunk detection carry: last-non-null per (game, object)
            # in frame order IS the team state the unsharded kernel would
            # have borrowed (every frame since the last successful detection
            # displays that detection's labels). Frames before the game's
            # first successful detection stay null — the one place this is
            # *kinder* than the reference, which raises KeyError there.
            w = (
                Window.partitionBy(Column.GAME_ID, Column.OBJECT_ID)
                .orderBy(Column.FRAME_ID)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            out = out.withColumn(
                "position", F.last("position", ignorenulls=True).over(w)
            ).withColumn(
                "formation", F.last("formation", ignorenulls=True).over(w)
            )
        return out

    def _fit_segments(self, seg_df: DataFrame, forms_cfg, state_cfg, seg_col) -> DataFrame:
        pitch = self.settings.pitch_dimensions
        pl_len, pl_wid = pitch.pitch_length, pitch.pitch_width
        orientation, home_id = self.settings.orientation, self.settings.home_team_id
        fields = list(_OUT_FIELDS)
        if seg_col:
            fields = fields[:2] + [T.StructField(seg_col, T.LongType())] + fields[2:]
        schema = T.StructType(fields)

        # each (period, segment, owning-team) run is one detection group —
        # a duration bucket can contain possessions of both teams
        by = [Column.PERIOD_ID, *([seg_col] if seg_col else []), Column.BALL_OWNING_TEAM_ID]
        head = [Column.GAME_ID, *by[:-1]]

        def detect(runs):
            forms = Formations(pl_len, pl_wid, forms_cfg)
            return _frames_rows(runs, forms, state_cfg, orientation, home_id, head)

        # Same parallelism split as _fit_frames: hysteresis state is serial
        # within a match, but with change_threshold=None every segment
        # re-detects from scratch, so hash-bucket segments within each game.
        # A whole (period, segment) always lands in one bucket, so each
        # detection group stays intact.
        if state_cfg["change_threshold"] is None:
            seg_hash = F.xxhash64(*by[:-1])
            seg_df = seg_df.withColumn(
                "_segchunk", F.pmod(seg_hash, F.lit(self.stateless_segment_buckets))
            )
            keys = [Column.GAME_ID, "_segchunk"]
        else:
            keys = [Column.GAME_ID]
        return map_runs(seg_df, keys, by, [Column.OBJECT_ID], detect, schema)
