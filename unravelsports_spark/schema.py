"""Canonical long-format tracking table: column names, grouping keys, Spark schema.

Column/constant names follow the reference's public data model
(/root/reference/unravel/soccer/dataset/objects.py:5-44, README.md:49-55) so a
user of the reference can reuse their queries unchanged. One row per tracked
object (player or ball) per frame.
"""

from __future__ import annotations

from pyspark.sql import types as T

BALL = "ball"
FOOTBALL = "football"  # american-football ball literal


class Column:
    OBJECT_ID = "id"
    GAME_ID = "game_id"
    FRAME_ID = "frame_id"
    X = "x"
    Y = "y"
    Z = "z"
    SPEED = "v"
    VX = "vx"
    VY = "vy"
    VZ = "vz"
    ACCELERATION = "a"
    AX = "ax"
    AY = "ay"
    AZ = "az"
    BALL_OWNING_TEAM_ID = "ball_owning_team_id"
    BALL_OWNING_PLAYER_ID = "ball_owning_player_id"
    IS_BALL_CARRIER = "is_ball_carrier"
    PERIOD_ID = "period_id"
    TIMESTAMP = "timestamp"  # millis offset from period start (LongType)
    BALL_STATE = "ball_state"
    TEAM_ID = "team_id"
    POSITION_NAME = "position_name"
    LABEL = "label"
    GRAPH_ID = "graph_id"


class Group:
    BY_FRAME = [Column.GAME_ID, Column.PERIOD_ID, Column.FRAME_ID]
    BY_FRAME_TEAM = BY_FRAME + [Column.TEAM_ID]
    BY_OBJECT_PERIOD = [Column.GAME_ID, Column.OBJECT_ID, Column.PERIOD_ID]
    BY_TIMESTAMP = BY_FRAME + [Column.TIMESTAMP]


#: Canonical Spark schema of the tracking table (timestamp kept as millis in a
#: LongType — Polars Duration ↔ epoch-free offset; see SURVEY §7.4.4).
TRACKING_SCHEMA = T.StructType(
    [
        T.StructField(Column.GAME_ID, T.StringType()),
        T.StructField(Column.PERIOD_ID, T.LongType()),
        T.StructField(Column.FRAME_ID, T.LongType()),
        T.StructField(Column.TIMESTAMP, T.LongType()),
        T.StructField(Column.OBJECT_ID, T.StringType()),
        T.StructField(Column.TEAM_ID, T.StringType()),
        T.StructField(Column.POSITION_NAME, T.StringType()),
        T.StructField(Column.X, T.DoubleType()),
        T.StructField(Column.Y, T.DoubleType()),
        T.StructField(Column.Z, T.DoubleType()),
        T.StructField(Column.VX, T.DoubleType()),
        T.StructField(Column.VY, T.DoubleType()),
        T.StructField(Column.VZ, T.DoubleType()),
        T.StructField(Column.SPEED, T.DoubleType()),
        T.StructField(Column.AX, T.DoubleType()),
        T.StructField(Column.AY, T.DoubleType()),
        T.StructField(Column.AZ, T.DoubleType()),
        T.StructField(Column.ACCELERATION, T.DoubleType()),
        T.StructField(Column.BALL_STATE, T.StringType()),
        T.StructField(Column.BALL_OWNING_TEAM_ID, T.StringType()),
        T.StructField(Column.IS_BALL_CARRIER, T.BooleanType()),
        T.StructField(Column.LABEL, T.LongType()),
        T.StructField(Column.GRAPH_ID, T.StringType()),
    ]
)
