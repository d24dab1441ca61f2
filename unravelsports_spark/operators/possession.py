"""Possession / ball-carrier / goalkeeper inference.

Re-expresses /root/reference/unravel/soccer/dataset/kloppy_polars.py:546-723
Spark-first:

- A4 as one window pass over the frame key: every row sees its frame's ball
  position (``first`` over the ball row), the closest player by a
  conditional ``min_by`` over a (dist, id) struct — a deterministic
  tie-break to the lowest id — and any provider-given owner. One shuffle on
  the frame key and no join back onto the input, so the upstream
  kinematics subtree (and its Python smoothing kernel) is planned once;
- W2: goalkeeper inference via partitioned min over (frame, team).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import BALL, Column, Group


def infer_ball_ownership(df: DataFrame, ball_carrier_threshold: float = 25.0) -> DataFrame:
    """Fill null ball_owning_team_id / derive is_ball_carrier from the closest
    player to the ball within the threshold; frames still lacking an owner are
    dropped (reference :546-667), as are rows with a null frame key, which
    belong to no frame. Output columns: the frame key, the input's
    other columns, ``ball_owning_team_id``, ``is_ball_carrier``."""
    frame = Window.partitionBy(*Group.BY_FRAME)
    is_player = F.col(Column.TEAM_ID) != BALL

    def first_where(cond, c):
        return F.first(F.when(cond, c), ignorenulls=True).over(frame)

    def ball(c: str):
        return first_where(F.col(Column.TEAM_ID) == BALL, F.col(c))

    dist = F.sqrt(
        (F.col(Column.X) - ball(Column.X)) ** 2
        + (F.col(Column.Y) - ball(Column.Y)) ** 2
        + (F.col(Column.Z) - ball(Column.Z)) ** 2
    )
    closest = F.min_by(
        F.struct(F.col(Column.TEAM_ID).alias("team"), F.col(Column.OBJECT_ID).alias("player")),
        F.when(is_player, F.struct("_dist", Column.OBJECT_ID)),
    ).over(frame)
    within = F.min("_dist").over(frame) < ball_carrier_threshold
    bop = (
        F.col(Column.BALL_OWNING_PLAYER_ID)
        if Column.BALL_OWNING_PLAYER_ID in df.columns
        else F.lit(None).cast("string")
    )
    owner_team = F.coalesce(
        first_where(is_player, F.col(Column.BALL_OWNING_TEAM_ID)),
        F.when(within, F.col("_closest.team")),
    )
    owner_player = F.coalesce(first_where(is_player, bop), F.when(within, F.col("_closest.player")))
    d = (
        df.withColumn("_dist", F.when(is_player, dist))
        .withColumn("_closest", closest)
        .withColumn("_bot", owner_team)
        # the carrier flag is set only on the owning player's row
        # (reference :613-667)
        .withColumn(Column.IS_BALL_CARRIER, F.col(Column.OBJECT_ID) == owner_player)
        .fillna({Column.IS_BALL_CARRIER: False})
    )
    drop = {Column.BALL_OWNING_TEAM_ID, Column.BALL_OWNING_PLAYER_ID, *Group.BY_FRAME}
    rest = [c for c in df.columns if c not in drop]
    carrier = [] if Column.IS_BALL_CARRIER in rest else [Column.IS_BALL_CARRIER]
    return d.select(
        *Group.BY_FRAME, *rest, F.col("_bot").alias(Column.BALL_OWNING_TEAM_ID), *carrier
    ).na.drop(subset=[Column.BALL_OWNING_TEAM_ID, *Group.BY_FRAME])


def infer_goalkeepers(df: DataFrame, pitch_length: float = 105.0) -> DataFrame:
    """W2: per (frame, team), the player closest to their own goal becomes GK;
    all other position_name values are cleared (reference :669-723). Assumes
    BALL_OWNING orientation (owning team attacks left-to-right)."""
    goal_x = pitch_length / 2.0
    players = df.filter(F.col(Column.TEAM_ID) != BALL)
    dist_left = F.sqrt((F.col(Column.X) + goal_x) ** 2 + F.col(Column.Y) ** 2)
    dist_right = F.sqrt((F.col(Column.X) - goal_x) ** 2 + F.col(Column.Y) ** 2)
    w = Window.partitionBy(*Group.BY_FRAME_TEAM)
    players = (
        players.withColumn("_dl", dist_left)
        .withColumn("_dr", dist_right)
        .withColumn("_mdl", F.min("_dl").over(w))
        .withColumn("_mdr", F.min("_dr").over(w))
        .withColumn(
            Column.POSITION_NAME,
            F.when(
                F.col(Column.TEAM_ID) == F.col(Column.BALL_OWNING_TEAM_ID),
                F.when(F.col("_dl") == F.col("_mdl"), "GK"),
            ).otherwise(F.when(F.col("_dr") == F.col("_mdr"), "GK")),
        )
        .drop("_dl", "_dr", "_mdl", "_mdr")
    )
    return df.filter(F.col(Column.TEAM_ID) == BALL).unionByName(players)
