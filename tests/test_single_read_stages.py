"""Window-pass stages against their self-join reference forms.

EFPI segmentation, goalkeeper inference, graph padding and the AF frame
validity filter each read their input once, through window functions. Each
was first written as an aggregate of the input joined or unioned back onto
the input; those forms are kept here, and only here, as the naive
reference. Every stage must give the same schema and the same row multiset
on NULL frame keys, NULL teams, NULL owners and ids, rank ties, missing ball
rows, short and long teams and empty input.
"""

from collections import Counter

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from unravelsports_spark.datasets.synthetic import AWAY, HOME, synthetic_tracking_df
from unravelsports_spark.functions.af_kernels import FOOTBALL
from unravelsports_spark.models import efpi
from unravelsports_spark.models.af_graph_converter import AmericanFootballGraphConverter
from unravelsports_spark.models.efpi import EFPI, _parse_every, _segment_rows
from unravelsports_spark.models.graph_converter import SoccerGraphConverter
from unravelsports_spark.operators.possession import infer_goalkeepers
from unravelsports_spark.schema import BALL, TRACKING_SCHEMA, Column, Group
from unravelsports_spark.settings import (
    AmericanFootballGraphSettings,
    DefaultSettings,
    GraphSettings,
)

# -- naive reference forms ---------------------------------------------------


def naive_segment_rows(df, every):
    """Possession ids from a distinct-frame table joined back; surplus
    objects from an aggregate, a semi-join, a rank and an anti-join."""
    segment_id = f"{every}_id"
    if every == "possession":
        frames = df.select(*Group.BY_FRAME, Column.BALL_OWNING_TEAM_ID).dropDuplicates(
            Group.BY_FRAME
        )
        wg = Window.partitionBy(Column.GAME_ID).orderBy(Column.FRAME_ID)
        flip = (
            (F.col(Column.BALL_OWNING_TEAM_ID) != F.lag(Column.BALL_OWNING_TEAM_ID).over(wg))
            | (F.col(Column.PERIOD_ID) != F.lag(Column.PERIOD_ID).over(wg))
        )
        seg = frames.withColumn(
            segment_id,
            F.sum(F.when(flip | flip.isNull(), 1).otherwise(0)).over(
                wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ).select(*Group.BY_FRAME, segment_id)
        df1 = df.join(seg, on=Group.BY_FRAME, how="left")
        seg_expr = [segment_id]
    elif every == "period":
        df1 = df
        seg_expr = []
    else:
        bucket_ms = _parse_every(every)
        df1 = df.withColumn(
            segment_id, (F.col(Column.TIMESTAMP) / bucket_ms).cast("long") * bucket_ms
        )
        seg_expr = [segment_id]

    team_seg = [Column.GAME_ID, Column.PERIOD_ID, Column.TEAM_ID, *seg_expr]
    outfield = df1.filter((F.col(Column.TEAM_ID) != BALL) & (F.col(Column.POSITION_NAME) != "GK"))
    overlapping = (
        outfield.groupBy(*team_seg)
        .agg(F.countDistinct(Column.OBJECT_ID).alias("objects"))
        .filter(F.col("objects") > 10)
        .select(*team_seg)
    )
    lengths = (
        df1.join(overlapping, on=team_seg, how="left_semi")
        .groupBy(*team_seg, Column.OBJECT_ID)
        .agg(F.count("*").alias("length"))
    )
    wr = Window.partitionBy(*team_seg).orderBy(F.col("length").desc(), Column.OBJECT_ID)
    to_drop = (
        lengths.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") > 11)
        .select(*team_seg, Column.OBJECT_ID)
    )
    return df1.join(to_drop, on=[*team_seg, Column.OBJECT_ID], how="left_anti"), seg_expr


def naive_infer_goalkeepers(df, pitch_length=105.0):
    """Players filtered out, windowed and unioned back onto the ball rows."""
    goal_x = pitch_length / 2.0
    players = df.filter(F.col(Column.TEAM_ID) != BALL)
    w = Window.partitionBy(*Group.BY_FRAME_TEAM)
    players = (
        players.withColumn("_dl", F.sqrt((F.col(Column.X) + goal_x) ** 2 + F.col(Column.Y) ** 2))
        .withColumn("_dr", F.sqrt((F.col(Column.X) - goal_x) ** 2 + F.col(Column.Y) ** 2))
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


def naive_apply_padding(conv, df):
    """Deficit rows from a per-group aggregate, ball rows from an anti-join
    of the frames against their ball rows, completeness by a semi-join."""
    keep = [Column.TIMESTAMP, Column.BALL_STATE, conv.label_col, conv.graph_id_col]
    group = [Column.GAME_ID, Column.PERIOD_ID, Column.FRAME_ID, Column.TEAM_ID,
             Column.BALL_OWNING_TEAM_ID]
    empty_defaults = {
        Column.POSITION_NAME: F.lit(""),
        Column.OBJECT_ID: F.lit(""),
        Column.IS_BALL_CARRIER: F.lit(False),
        **{c: F.lit(0.0) for c in (
            Column.X, Column.Y, Column.Z, Column.VX, Column.VY, Column.VZ,
            Column.SPEED, Column.AX, Column.AY, Column.AZ, Column.ACCELERATION)},
    }
    schema = dict(df.dtypes)
    user_cols = [
        c for c in df.columns
        if c not in set(keep) | set(group) | set(empty_defaults) | set(conv.global_feature_cols)
    ]
    firsts = [F.first(c).alias(c) for c in keep + conv.global_feature_cols]
    counts = df.groupBy(*group).agg(F.count("*").alias("cnt"), *firsts)
    target = F.when(F.col(Column.TEAM_ID) == BALL, 1).otherwise(11)
    deficits = counts.withColumn("repeats", target - F.col("cnt")).filter(F.col("repeats") > 0)
    player_pad = deficits.withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("repeats")))).drop(
        "cnt", "repeats", "_i"
    )
    frame_cols = Group.BY_FRAME
    all_frames = df.select(
        *frame_cols, Column.BALL_OWNING_TEAM_ID, *keep, *conv.global_feature_cols
    ).dropDuplicates(frame_cols)
    with_ball = df.filter(F.col(Column.TEAM_ID) == BALL).select(*frame_cols).distinct()
    ball_pad = (
        all_frames.join(with_ball, on=frame_cols, how="left_anti")
        .withColumn(Column.TEAM_ID, F.lit(BALL))
    )
    pad = player_pad.unionByName(ball_pad, allowMissingColumns=True)
    for c, default in empty_defaults.items():
        pad = pad.withColumn(c, default.cast(schema[c]))
    for c in user_cols:
        pad = pad.withColumn(c, F.lit(None).cast(schema[c]))
    result = df.unionByName(pad.select(*df.columns))

    is_ball = (F.col(Column.TEAM_ID) == BALL).cast("int")
    is_owning = (F.col(Column.TEAM_ID) == F.col(Column.BALL_OWNING_TEAM_ID)).cast("int")
    complete = (
        result.groupBy(*Group.BY_FRAME)
        .agg(
            F.sum(is_ball).alias("n_ball"),
            F.sum(is_owning).alias("n_own"),
            F.sum(1 - is_ball - is_owning).alias("n_other"),
        )
        .filter((F.col("n_ball") == 1) & (F.col("n_own") == 11) & (F.col("n_other") == 11))
        .select(*Group.BY_FRAME)
    )
    return result.join(complete, on=Group.BY_FRAME, how="left_semi")


def naive_valid_frames(conv, df):
    """Frame counts aggregated, then the bad frames anti-joined away."""
    counts = df.groupBy(*Group.BY_FRAME).agg(
        F.count("*").alias("size"),
        F.sum(F.when(F.col("team_id") == FOOTBALL, 1).otherwise(0)).alias("football_count"),
    )
    bad = counts.filter(
        (F.col("size") < conv.min_object_count) | (F.col("football_count") == 0)
    ).select(*Group.BY_FRAME)
    return df.join(bad, on=Group.BY_FRAME, how="left_anti")


# -- fixtures ----------------------------------------------------------------


def _row(frame, obj, team, position, x, y, owner, period=1):
    return (
        "g1", period, frame, None if frame is None else frame * 40, obj, team, position,
        float(x), float(y), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, "alive", owner,
        False, 0 if frame is None else frame % 2, f"g1-{frame}",
    )


#: ball owner per frame: frames 4 and 5 have none; frames 8-9 are period 2
_OWNER = {0: HOME, 1: HOME, 2: HOME, 3: HOME, 4: None, 5: None, 6: AWAY, 7: AWAY,
          8: HOME, 9: HOME}


def edge_case_rows():
    """One match of 11 frames built to hit every NULL and tie case.

    - frames 0-3 (home possession): home fields 12 outfielders. h_p09 and
      h_p10 appear in 3 of the 4 frames, so they tie on length and the id
      decides (h_p09 is kept); h_p11 appears twice. A NULL-id home row sits
      in frame 1;
    - frames 4 and 5 have a NULL owner; frame 5 has a 12th away player;
    - frame 6 has no ball row, frame 7 fields 10 home players;
    - an object with a NULL team_id in frame 0, a home and a ball row with
      a NULL frame_id, and frame 10, a complete frame with a NULL period_id.
    """
    rows = []
    for f, owner in _OWNER.items():
        period = 1 if f < 8 else 2
        home = ["h_p%02d" % i for i in range(9)]
        home += [p for p, frames in (("h_p09", {0, 1, 2, 4, 5, 6, 8, 9}),
                                     ("h_p10", {1, 2, 3}), ("h_p11", {2, 3}))
                 if f in frames]
        away = ["a_p%02d" % i for i in range(10)] + (["a_p10"] if f == 5 else [])
        for team, sign, players in ((HOME, -1.0, home), (AWAY, 1.0, away)):
            gk = "h_gk" if team == HOME else "a_gk"
            rows.append(_row(f, gk, team, "GK", sign * 50.0, 1.0, owner, period))
            for i, p in enumerate(players):
                x, y = sign * (40.0 - 3 * i), 2.0 * i - 10
                rows.append(_row(f, p, team, "CB", x, y, owner, period))
        if f != 6:
            rows.append(_row(f, BALL, BALL, None, 1.0, 1.0, owner, period))
    rows.append(_row(1, None, HOME, "CM", -5.0, 5.0, HOME))
    rows.append(_row(0, "ref", None, None, 0.0, -30.0, HOME))
    rows.append(_row(None, "h_p00", HOME, "CB", -40.0, -10.0, HOME))
    rows.append(_row(None, BALL, BALL, None, 0.0, 0.0, HOME))
    # frame 8 again, complete but with a NULL period_id
    rows += [r[:1] + (None, 10) + r[3:] for r in rows if r[2] == 8]
    return rows


@pytest.fixture(scope="module")
def tracking(spark):
    return spark.createDataFrame(edge_case_rows(), schema=TRACKING_SCHEMA).cache()


@pytest.fixture(scope="module")
def empty(spark):
    return spark.createDataFrame([], schema=TRACKING_SCHEMA)


def _frozen(v):
    return tuple(_frozen(x) for x in v) if isinstance(v, (list, tuple)) else v


def rows_of(df):
    return Counter(_frozen(r) for r in df.collect())


def assert_same(got, want):
    assert got.schema == want.schema
    assert rows_of(got) == rows_of(want)


# -- EFPI segmentation -------------------------------------------------------

EVERY = ["possession", "period", "1s"]


def _with_attacking(df):
    return df.withColumn(
        "is_attacking", F.col(Column.BALL_OWNING_TEAM_ID) == F.col(Column.TEAM_ID)
    )


def _segment_pair(df, every):
    """(window form, naive form) with columns in one order: the naive form's
    join moves the frame key first, an order nothing downstream sees."""
    got, got_seg = _segment_rows(_with_attacking(df), every)
    want, want_seg = naive_segment_rows(_with_attacking(df), every)
    assert got_seg == want_seg
    assert dict(got.dtypes) == dict(want.dtypes)
    return got, want.select(*got.columns)


@pytest.mark.parametrize("every", EVERY)
def test_segment_rows_match_naive(tracking, every):
    got, want = _segment_pair(tracking, every)
    assert rows_of(got) == rows_of(want)
    kept = {r.id for r in got.filter(F.col(Column.TEAM_ID) == HOME).select("id").collect()}
    # the length tie between h_p09 and h_p10 goes to the lower id; the GK
    # and the NULL id always stay
    assert {"h_gk", "h_p09", None} <= kept
    if every == "possession":
        assert not {"h_p10", "h_p11"} & kept


def test_possession_ids_open_on_null_owner_and_period(tracking):
    got, _ = _segment_pair(tracking, "possession")
    frames = got.select("period_id", "frame_id", "possession_id").distinct().collect()
    ids = {(r.period_id, r.frame_id): r.possession_id for r in frames}
    assert len(ids) == len(frames)  # one possession per frame
    # the NULL-frame row sorts first, and frame 0 continues its possession
    assert ids[(1, None)] is None and ids[(None, 10)] is None
    assert ids[(1, 0)] == ids[(1, 3)] == 1
    assert len({ids[(1, 3)], ids[(1, 4)], ids[(1, 5)], ids[(1, 6)]}) == 4
    assert ids[(1, 6)] == ids[(1, 7)] != ids[(2, 8)] == ids[(2, 9)]


@pytest.mark.parametrize("every", EVERY)
def test_segment_rows_empty_input(empty, every):
    got, want = _segment_pair(empty, every)
    assert got.count() == want.count() == 0


@pytest.mark.parametrize("every", ["possession", "period", "2s"])
def test_efpi_fit_matches_naive_stage(spark, monkeypatch, every):
    df = synthetic_tracking_df(spark, n_frames=120, n_games=2, seed=1).cache()
    settings = DefaultSettings(home_team_id=HOME, away_team_id=AWAY)
    got = EFPI(df, settings).fit(every=every)
    monkeypatch.setattr(efpi, "_segment_rows", naive_segment_rows)
    want = EFPI(df, settings).fit(every=every)
    assert_same(got.output, want.output)
    assert_same(got.segments, want.segments)


# -- goalkeeper inference ----------------------------------------------------


def test_infer_goalkeepers_matches_naive(tracking, empty):
    got = infer_goalkeepers(tracking)
    assert_same(got, naive_infer_goalkeepers(tracking))
    assert got.filter(F.col(Column.TEAM_ID).isNull()).count() == 0
    assert {r.position_name for r in got.filter(F.col(Column.TEAM_ID) == BALL).collect()} == {None}
    assert_same(infer_goalkeepers(empty), naive_infer_goalkeepers(empty))


# -- graph padding -----------------------------------------------------------


def _converter(df):
    return SoccerGraphConverter(
        df, GraphSettings(home_team_id=HOME, away_team_id=AWAY), pad=True
    )


def test_apply_padding_matches_naive(tracking, empty):
    # a column the converter does not know: pad rows leave it NULL
    tracking = tracking.withColumn("shirt", F.length(Column.OBJECT_ID))
    conv = _converter(tracking)
    got = conv._apply_padding(tracking)
    assert_same(got, naive_apply_padding(conv, tracking))
    assert got.filter((F.col(Column.OBJECT_ID) == "") & F.col("shirt").isNotNull()).count() == 0
    frames = {r.frame_id for r in got.select("frame_id").distinct().collect()}
    # frames 1-3 field 12 or more home players, 4-5 have no owner; frame 6
    # gains a ball row and frame 7 a home row. The NULL-team object of
    # frame 0 counts for no team but is padded like one.
    assert frames == {0, 6, 7, 8, 9}
    pads = got.filter(F.col(Column.OBJECT_ID) == "").groupBy("frame_id", "team_id").count()
    assert {tuple(r) for r in pads.collect()} == {(0, None, 10), (6, BALL, 1), (7, HOME, 1)}
    empty = empty.withColumn("shirt", F.length(Column.OBJECT_ID))
    assert_same(conv._apply_padding(empty), naive_apply_padding(conv, empty))


def test_padded_graph_frames_match_naive(spark, monkeypatch):
    df = synthetic_tracking_df(spark, n_frames=12, seed=2, missing_player_frames=(3, 8),
                               missing_ball_frames=(5,))
    got = _converter(df).to_graph_frames()
    monkeypatch.setattr(SoccerGraphConverter, "_apply_padding", naive_apply_padding)
    want = _converter(df).to_graph_frames()
    assert_same(got, want)
    assert got.count() == 12


# -- AF frame validity -------------------------------------------------------


def _af_rows():
    """Frame 1 is complete; frame 2 has 9 objects; frame 3 has no football;
    a NULL frame key and a NULL team row ride along."""
    rows = []
    for frame, n_players, football in ((1, 11, True), (2, 8, True), (3, 12, False)):
        rows += [("g", 7, frame, f"p{i}", "KC" if i % 2 else "BUF", float(i))
                 for i in range(n_players)]
        if football:
            rows.append(("g", 7, frame, "f", FOOTBALL, 0.0))
    rows.append(("g", 7, 1, "q", None, 1.0))
    rows.append(("g", 7, None, "p0", "KC", 2.0))
    rows.append(("g", None, 2, "p0", "KC", 3.0))
    return rows


def test_valid_frames_match_naive(spark):
    schema = "game_id string, period_id long, frame_id long, id string, team_id string, x double"
    conv = AmericanFootballGraphConverter(
        spark.createDataFrame([], "game_id string, period_id long, graph_id string"),
        AmericanFootballGraphSettings(), prediction=True,
    )
    for rows in (_af_rows(), []):
        df = spark.createDataFrame(rows, schema)
        got = conv._valid_frames(df)
        assert_same(got, naive_valid_frames(conv, df))
    kept = {(r.period_id, r.frame_id) for r in conv._valid_frames(
        spark.createDataFrame(_af_rows(), schema)).collect()}
    # NULL frame keys are kept, as the anti-join never matches them
    assert kept == {(7, 1), (7, None), (None, 2)}
