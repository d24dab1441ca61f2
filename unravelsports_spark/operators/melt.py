"""Wide→long unpivot of provider-style tracking frames (O8).

Re-expresses /root/reference/unravel/soccer/dataset/kloppy_polars.py:293-311,
493-544: a kloppy wide frame has one column per object per coordinate
(`<object_id>_x`, `<object_id>_y`, ball also `ball_z`). Spark's `stack`
emits every (object, team, position, x, y, z) row in one generator pass —
no per-object loop, no horizontal concat, one projection. The roster
metadata rides in the generator as literals, so the melt reads only the
wide frame: no roster table, no join."""

from __future__ import annotations

from typing import Iterable, NamedTuple, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import BALL, Column


class TrackedObject(NamedTuple):
    object_id: str
    team_id: str
    position_name: Optional[str] = None


def _sql_string(v: Optional[str]) -> str:
    if v is None:
        return "cast(null as string)"
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def melt_wide_tracking(
    df: DataFrame,
    objects: Iterable[TrackedObject],
    game_id: str,
    index_columns: Iterable[str] = (
        Column.PERIOD_ID,
        Column.TIMESTAMP,
        Column.FRAME_ID,
        Column.BALL_STATE,
        Column.BALL_OWNING_TEAM_ID,
    ),
) -> DataFrame:
    columns = set(df.columns)
    rows = []
    for obj in objects:
        xc, yc, zc = (f"{obj.object_id}_{c}" for c in ("x", "y", "z"))
        if xc not in columns:
            continue
        z_expr = f"cast(`{zc}` as double)" if zc in columns else "0.0D"
        if obj.team_id == BALL and zc in columns:
            # ball z defaults to 0.0 when missing (reference :516-521)
            z_expr = f"coalesce({z_expr}, 0.0D)"
        meta = ", ".join(_sql_string(v) for v in (obj.object_id, obj.team_id, obj.position_name))
        rows.append(f"{meta}, cast(`{xc}` as double), cast(`{yc}` as double), {z_expr}")
    if not rows:
        raise ValueError("no <object_id>_x columns found to unpivot")

    stack_expr = (
        f"stack({len(rows)}, {', '.join(rows)}) as "
        f"(`{Column.OBJECT_ID}`, `{Column.TEAM_ID}`, `{Column.POSITION_NAME}`, x, y, z)"
    )
    idx = [c for c in index_columns if c in columns]
    return df.selectExpr(*[f"`{c}`" for c in idx], stack_expr).select(
        Column.OBJECT_ID,
        *idx,
        Column.X,
        Column.Y,
        Column.Z,
        Column.TEAM_ID,
        Column.POSITION_NAME,
        F.lit(game_id).alias(Column.GAME_ID),
    )
