"""Ball-ownership inference: the one-pass window form
(operators/possession.py) must reproduce the join form it replaced — players
⟕ per-frame ball, a per-frame aggregate, then the input ⟕ that aggregate —
in schema (names, order, types) and rows, on the edge cases that separate
the two shapes: frames without a ball or without players, null team ids,
distance ties, provider-given owners, and empty input."""

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unravelsports_spark.operators.possession import infer_ball_ownership
from unravelsports_spark.schema import BALL, Column, Group


def _join_form(df: DataFrame, ball_carrier_threshold: float = 25.0) -> DataFrame:
    """The naive reference: the join form as it stood before the window pass."""
    ball = df.filter(F.col(Column.TEAM_ID) == BALL).select(
        *Group.BY_FRAME,
        F.col(Column.X).alias("ball_x"),
        F.col(Column.Y).alias("ball_y"),
        F.col(Column.Z).alias("ball_z"),
    )
    players = df.filter(F.col(Column.TEAM_ID) != BALL)
    dist = F.sqrt(
        (F.col(Column.X) - F.col("ball_x")) ** 2
        + (F.col(Column.Y) - F.col("ball_y")) ** 2
        + (F.col(Column.Z) - F.col("ball_z")) ** 2
    )
    players_ball = players.join(ball, on=Group.BY_FRAME, how="left").withColumn("ball_dist", dist)
    bop_col = (
        F.col(Column.BALL_OWNING_PLAYER_ID)
        if Column.BALL_OWNING_PLAYER_ID in df.columns
        else F.lit(None).cast("string")
    )
    per_frame = players_ball.withColumn("_bop", bop_col).groupBy(*Group.BY_FRAME).agg(
        F.first(Column.BALL_OWNING_TEAM_ID, ignorenulls=True).alias("_bot0"),
        F.first("_bop", ignorenulls=True).alias("_bop0"),
        F.min("ball_dist").alias("_min_dist"),
        F.min_by(Column.TEAM_ID, F.struct("ball_dist", Column.OBJECT_ID)).alias("_closest_team"),
        F.min_by(Column.OBJECT_ID, F.struct("ball_dist", Column.OBJECT_ID)).alias("_closest_player"),
    )
    within = F.col("_min_dist") < ball_carrier_threshold
    inferred = per_frame.select(
        *Group.BY_FRAME,
        F.coalesce(F.col("_bot0"), F.when(within, F.col("_closest_team"))).alias(
            Column.BALL_OWNING_TEAM_ID
        ),
        F.coalesce(F.col("_bop0"), F.when(within, F.col("_closest_player"))).alias(
            Column.BALL_OWNING_PLAYER_ID
        ),
    )
    drop = [Column.BALL_OWNING_TEAM_ID]
    if Column.BALL_OWNING_PLAYER_ID in df.columns:
        drop.append(Column.BALL_OWNING_PLAYER_ID)
    return (
        df.drop(*drop)
        .join(inferred, on=Group.BY_FRAME, how="left")
        .withColumn(
            Column.IS_BALL_CARRIER,
            F.col(Column.OBJECT_ID) == F.col(Column.BALL_OWNING_PLAYER_ID),
        )
        .fillna({Column.IS_BALL_CARRIER: False})
        .drop(Column.BALL_OWNING_PLAYER_ID)
        .na.drop(subset=[Column.BALL_OWNING_TEAM_ID])
    )


_SCHEMA = (
    "game_id string, period_id bigint, frame_id bigint, id string, timestamp bigint, "
    "team_id string, x double, y double, z double, v double, ball_owning_team_id string"
)


def _row(frame, oid, team, x, y=0.0, bot=None, bop=None, game="g", period=1):
    return (game, period, frame, oid, frame * 40, team, float(x), float(y), 0.0, 1.5, bot, bop)


_ROWS = [
    # f0: plain case — p1 is closest and within the threshold
    _row(0, "ball", BALL, 0), _row(0, "p1", "home", 1), _row(0, "p2", "away", 3),
    # f1: no ball row — no distance, no owner, frame dropped
    _row(1, "p1", "home", 1), _row(1, "p2", "away", 3),
    # f2: no players — nothing to own the ball, frame dropped
    _row(2, "ball", BALL, 0),
    # f3: a null team id next to the ball is neither ball nor player
    _row(3, "ball", BALL, 0), _row(3, "ref", None, 0.1), _row(3, "p2", "away", 2),
    # f4, f11: a distance tie goes to the lowest id, whichever row comes first
    _row(4, "ball", BALL, 0), _row(4, "a9", "away", 0, 1), _row(4, "a1", "home", 1, 0),
    _row(11, "ball", BALL, 0), _row(11, "b1", "away", 0, 1), _row(11, "b9", "home", 1, 0),
    # f5: everyone beyond the threshold — frame dropped
    _row(5, "ball", BALL, 0), _row(5, "p1", "home", 40), _row(5, "p2", "away", -40),
    # f6: the provider's team wins over the closer player
    _row(6, "ball", BALL, 0, bot="away"), _row(6, "p1", "home", 1, bot="away"),
    _row(6, "p2", "away", 5, bot="away"),
    # f7: the provider's team only on the ball row, which the players ignore
    _row(7, "ball", BALL, 0, bot="away"), _row(7, "p1", "home", 1), _row(7, "p2", "away", 5),
    # f8: the provider's team on a frame no player is near
    _row(8, "ball", BALL, 0, bot="home"), _row(8, "p1", "home", 50, bot="home"),
    # f9: the provider's player names the carrier, not the closest player
    _row(9, "ball", BALL, 0, bot="away", bop="p2"), _row(9, "p1", "home", 1, bot="away", bop="p2"),
    _row(9, "p2", "away", 5, bot="away", bop="p2"),
    # f10: a second game with the same frame key stays separate
    _row(0, "ball", BALL, 10, game="h"), _row(0, "p1", "home", 0, game="h"),
    _row(0, "p2", "away", 11, game="h"),
    # f12: a null period puts the rows in no frame — dropped
    _row(12, "ball", BALL, 0, period=None), _row(12, "p1", "home", 1, period=None),
]


def _frame(spark, rows, provider_player: bool):
    if provider_player:
        return spark.createDataFrame(rows, _SCHEMA + ", ball_owning_player_id string")
    return spark.createDataFrame([r[:-1] for r in rows], _SCHEMA)


def _canon(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("provider_player", [False, True])
@pytest.mark.parametrize("rows", [_ROWS, []], ids=["cases", "empty"])
def test_window_pass_equals_join_form(spark, rows, provider_player):
    df = _frame(spark, rows, provider_player)
    got, want = infer_ball_ownership(df), _join_form(df)
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
    assert _canon(got) == _canon(want)


def test_window_pass_owners(spark):
    """The expected owners, spelled out, so the equivalence above is not
    between two identical mistakes."""
    out = infer_ball_ownership(_frame(spark, _ROWS, provider_player=True))
    owners = {
        (r.game_id, r.frame_id): r.ball_owning_team_id
        for r in out.select("game_id", "frame_id", "ball_owning_team_id").distinct().collect()
    }
    assert owners == {
        ("g", 0): "home", ("g", 3): "away", ("g", 4): "home", ("g", 6): "away",
        ("g", 7): "home", ("g", 8): "home", ("g", 9): "away", ("g", 11): "away",
        ("h", 0): "away",
    }
    carriers = {
        (r.game_id, r.frame_id): r.id for r in out.filter("is_ball_carrier").collect()
    }
    assert carriers == {
        ("g", 0): "p1", ("g", 3): "p2", ("g", 4): "a1", ("g", 6): "p1",
        ("g", 7): "p1", ("g", 9): "p2", ("g", 11): "b1", ("h", 0): "p2",
    }


def test_window_pass_threshold(spark):
    df = _frame(spark, _ROWS, provider_player=False)
    got, want = infer_ball_ownership(df, 1.5), _join_form(df, 1.5)
    assert _canon(got) == _canon(want)
