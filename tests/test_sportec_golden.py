"""End-to-end golden parity on the reference's own sportec sample: XML ingest
→ kinematics → Pressing Intensity must reproduce the reference's published
TTI scalar (tests/test_soccer.py:514-566, BASELINE.md known-good kernel
scalar) — the strongest cross-implementation check available without kloppy."""

import os

import numpy as np
import pytest

from unravelsports_spark.datasets.sportec import load_sportec, parse_meta
from unravelsports_spark.models.pressing_intensity import PressingIntensity

FILES = "/root/reference/tests/files"

if not os.path.isdir(FILES):
    pytest.skip(
        "needs the reference checkout's fixture files, which are not present",
        allow_module_level=True,
    )
GOLDEN_TTI_00 = 2.6428493704618106


@pytest.fixture(scope="module")
def sportec(spark):
    df, settings = load_sportec(
        spark,
        meta_path=f"{FILES}/sportec_meta.xml",
        tracking_path=f"{FILES}/sportec_tracking.xml",
    )
    return df.cache(), settings


def test_meta(sportec):
    _, settings = sportec
    assert settings.home_team_id == "DFL-CLU-00000P"
    assert settings.away_team_id == "DFL-CLU-000005"


def test_canonical_table_shape(sportec):
    df, _ = sportec
    # 21 frames × 23 objects (reference tests/test_soccer.py:514-515)
    assert df.count() == 21 * 23
    first = df.orderBy("frame_id").head()
    assert first.ball_owning_team_id == "DFL-CLU-00000P"  # home owns at start


def test_pi_golden_scalar(sportec, spark):
    df, settings = sportec
    model = PressingIntensity(df, settings).fit(
        method="teams", ball_method="max", orient="home_away", speed_threshold=2
    )
    rows = model.output.orderBy("frame_id").collect()
    assert len(rows) == 21
    r = rows[0]
    tti = np.array(r.time_to_intercept)
    pti = np.array(r.probability_to_intercept)
    assert tti.shape == pti.shape == (11, 11)
    # home_away + home owns → rows are home players, columns away players
    assert all(s in ("DFL-CLU-00000P",) or s.startswith("DFL-OBJ") for s in r.rows)
    assert tti[0][0] == pytest.approx(GOLDEN_TTI_00, abs=1e-5)


HOME, AWAY = "DFL-CLU-00000P", "DFL-CLU-000005"


def _pi_first_row(sportec, **fit_kw):
    df, settings = sportec
    model = PressingIntensity(df, settings).fit(**fit_kw)
    return model.output.orderBy("frame_id").head()


def test_pi_teams_include_shapes(sportec):
    """reference tests/test_soccer.py:567-583: teams/include → 12×11."""
    r = _pi_first_row(
        sportec, method="teams", ball_method="include", orient="home_away", speed_threshold=2
    )
    assert len(r.rows) == 12 and len(r.columns) == 11
    tti = np.array(r.time_to_intercept)
    assert tti.shape == (12, 11)
    assert np.array(r.probability_to_intercept).shape == (12, 11)


def test_pi_teams_exclude_zero_counts(sportec):
    """reference :585-607: teams/exclude @ speed_threshold=2 → all 121 pti
    entries zero on frame 0 (nobody over threshold)."""
    r = _pi_first_row(
        sportec, method="teams", ball_method="exclude", orient="home_away", speed_threshold=2
    )
    pti = np.array(r.probability_to_intercept)
    assert pti.shape == (11, 11)
    assert np.count_nonzero(np.isclose(pti, 0.0, atol=1e-5)) == 121
    assert len(r.rows) == len(r.columns) == 11


def test_pi_full_max_shapes_and_row_order(sportec):
    """reference :609-636: full/max → 22×22, home players first."""
    r = _pi_first_row(
        sportec, method="full", ball_method="max", orient="home_away", speed_threshold=2
    )
    assert np.array(r.time_to_intercept).shape == (22, 22)
    assert len(r.rows) == len(r.columns) == 22


def test_pi_full_exclude_rows_equal_columns(sportec):
    """reference :638-656: full/exclude → symmetric identity ordering."""
    r = _pi_first_row(
        sportec, method="full", ball_method="exclude", orient="home_away", speed_threshold=2
    )
    assert list(r.rows) == list(r.columns)
    assert np.array(r.time_to_intercept).shape == (22, 22)


def test_pi_full_include_ball_owning_golden_zero_count(sportec):
    """reference :676-717: full/include/ball_owning → 23×23, 527 zero pti
    entries on frame 0, ball last."""
    r = _pi_first_row(
        sportec, method="full", ball_method="include", orient="ball_owning", speed_threshold=2
    )
    pti = np.array(r.probability_to_intercept)
    assert pti.shape == (23, 23)
    assert np.count_nonzero(np.isclose(pti, 0.0, atol=1e-5)) == 527
    assert r.rows[22] == "ball"


def test_pi_full_include_pressing_shapes(sportec):
    """reference :719-755: full/include/pressing → 23×23, ball last."""
    r = _pi_first_row(
        sportec, method="full", ball_method="include", orient="pressing", speed_threshold=2
    )
    assert np.array(r.time_to_intercept).shape == (23, 23)
    assert len(r.rows) == len(r.columns) == 23


def test_efpi_frame_reference_structure(sportec):
    """reference tests/test_soccer.py:1336-1415 structural parity on the
    sportec sample (every='frame', all templates, substitutions='drop').
    Exact formation strings depend on template coordinates — ours are our
    own (models/formations.py), a documented divergence — so the assertions
    here are the template-independent ones: row count, schema, goalkeeper
    detection, is_attacking ↔ ball possession, one formation per team-frame."""
    from pyspark.sql import functions as F

    from unravelsports_spark.models.efpi import EFPI

    df, settings = sportec
    model = EFPI(df, settings).fit(
        formations=None, every="frame", substitutions="drop",
        change_threshold=0.0, change_after_possession=True,
    )
    out = model.output.cache()
    assert model.segments is None
    assert out.columns == [
        "game_id", "period_id", "frame_id", "id", "team_id",
        "position", "formation", "ball_owning_team_id", "is_attacking",
    ]
    assert out.count() == 483  # 21 frames × 23 objects, ball rows included (ref :1370)
    single = {r["id"]: r for r in out.filter(F.col("frame_id") == 10018).collect()}
    # goalkeepers detected for both teams (reference :1402-1414)
    assert single["DFL-OBJ-0001HW"]["position"] == "GK"
    assert single["DFL-OBJ-0028FW"]["position"] == "GK"
    # is_attacking = team owns the ball (ball rows carry null)
    for r in single.values():
        if r["team_id"] == "ball":
            assert r["is_attacking"] is None
        else:
            assert r["is_attacking"] == (r["team_id"] == r["ball_owning_team_id"])
    # exactly one formation per (frame, team)
    nf = (
        out.groupBy("frame_id", "team_id")
        .agg(F.countDistinct("formation").alias("n"))
        .agg(F.max("n"))
        .head()[0]
    )
    assert nf == 1


def test_render_real_sportec_frame(sportec, tmp_path):
    """Media sink on the reference's own sample: a frame of real DFL tracking
    renders to a decodable PNG with both team colors present."""
    from unravelsports_spark.functions.imagecodec import decode_png
    from unravelsports_spark.sources.media import to_png

    df, settings = sportec
    frame_id = df.select("frame_id").orderBy("frame_id").head().frame_id
    out = to_png(df, df.head().game_id, frame_id, str(tmp_path / "dfl.png"),
                 home_team_id=settings.home_team_id)
    img = decode_png(open(out, "rb").read())
    assert img.ndim == 3 and img.shape[2] == 3
    colors = {tuple(c) for c in np.unique(img.reshape(-1, 3), axis=0)}
    assert (220, 50, 47) in colors and (38, 139, 210) in colors


def test_graph_overlay_real_sportec(sportec, tmp_path):
    """VERDICT r7 #3 on the reference's own DFL sample: the converter's
    adjacency overlays on the real frame — byte-stable across renders,
    edge color present only with the overlay."""
    from unravelsports_spark.functions.imagecodec import decode_png
    from unravelsports_spark.models.graph_converter import SoccerGraphConverter
    from unravelsports_spark.settings import GraphSettings
    from unravelsports_spark.sources.graph_sink import iter_graph_tuples
    from unravelsports_spark.sources.media import COLOR_EDGE, to_graph_png

    from pyspark.sql import functions as F2

    df, settings = sportec
    prepared = df.withColumn(
        "graph_id", F2.concat_ws("-", "game_id", "frame_id")
    ).withColumn("label", F2.lit(0).cast("long"))
    gdf = SoccerGraphConverter(
        prepared,
        GraphSettings(
            home_team_id=settings.home_team_id,
            away_team_id=settings.away_team_id,
        ),
    ).to_graph_frames()
    g = next(iter_graph_tuples(gdf.orderBy("frame_id").limit(1)))
    assert g["a"].shape[0] == len(g["object_ids"]) > 0
    p1 = to_graph_png(df, g, str(tmp_path / "o1.png"),
                      home_team_id=settings.home_team_id, edge_max_alpha=1.0)
    p2 = to_graph_png(df, g, str(tmp_path / "o2.png"),
                      home_team_id=settings.home_team_id, edge_max_alpha=1.0)
    b1 = open(p1, "rb").read()
    assert b1 == open(p2, "rb").read()
    img = decode_png(b1)
    colors = {tuple(c) for c in np.unique(img.reshape(-1, 3), axis=0)}
    assert COLOR_EDGE in colors
    assert (220, 50, 47) in colors and (38, 139, 210) in colors


def test_to_video_real_sportec(sportec, tmp_path):
    """Video sink: 5 real DFL frames → playable MJPEG AVI whose recovered
    frames decode to the canvas dimensions."""
    from unravelsports_spark.functions.jpegcodec import decode_jpeg
    from unravelsports_spark.sources.avi import read_mjpeg_avi
    from unravelsports_spark.sources.media import to_video

    df, settings = sportec
    fids = [r.frame_id for r in
            df.select("frame_id").distinct().orderBy("frame_id").limit(5).collect()]
    out = to_video(df, df.head().game_id, fids, str(tmp_path / "clip.avi"),
                   home_team_id=settings.home_team_id, fps=5)
    frames = read_mjpeg_avi(out)
    assert len(frames) == 5
    img = decode_jpeg(frames[0])
    assert img.ndim == 3 and img.shape[2] == 3 and img.shape[0] > 100


def test_to_mp4_real_sportec(sportec, tmp_path):
    """MP4 sink (S5 closed): the same 5 DFL frames → standard ISO BMFF MP4
    whose sample table recovers decodable JPEG frames, pixel-identical to
    the AVI sink's frames (same renderer, same encoder)."""
    from unravelsports_spark.functions.jpegcodec import decode_jpeg
    from unravelsports_spark.sources.avi import read_mjpeg_avi
    from unravelsports_spark.sources.media import to_mp4, to_video
    from unravelsports_spark.sources.mp4 import read_mjpeg_mp4

    df, settings = sportec
    fids = [r.frame_id for r in
            df.select("frame_id").distinct().orderBy("frame_id").limit(5).collect()]
    gid = df.head().game_id
    out = to_mp4(df, gid, fids, str(tmp_path / "clip.mp4"),
                 home_team_id=settings.home_team_id, fps=5)
    frames = read_mjpeg_mp4(out)
    assert len(frames) == 5
    img = decode_jpeg(frames[0])
    assert img.ndim == 3 and img.shape[2] == 3 and img.shape[0] > 100
    avi = to_video(df, gid, fids, str(tmp_path / "clip.avi"),
                   home_team_id=settings.home_team_id, fps=5)
    assert frames == read_mjpeg_avi(avi)
