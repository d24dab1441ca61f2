"""Model-pipeline queries for the driver's rows-only checks.

The three model families are grouped-map matrix pipelines — not expressible
in ANSI SQL, so (per the driver contract) they carry no oracle_sql entry and
get the weaker rows/schema check. Inputs are the deterministic synthetic
tracking fixture (seeded; independent of sf_dir scale), so results are stable
across runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datasets.synthetic import AWAY, HOME, synthetic_bdb_csvs, synthetic_tracking_df
from ..models.efpi import EFPI
from ..models.graph_converter import SoccerGraphConverter
from ..models.pressing_intensity import PressingIntensity
from ..settings import DefaultSettings, GraphSettings
from .relational import query

_N_FRAMES = 100
_SEED = 17


def _staged(name: str, write) -> str:
    """Run ``write(path)`` once per process into a temp directory and return
    it. Model queries scan these staged files instead of shipping a pandas
    table from Python to the JVM on every call (~2.5 s of each query's wall).

    The path embeds a hash of datasets/synthetic.py's source, so a generator
    change never reuses stale data. The write goes to a process-unique
    directory, then an atomic rename: concurrent processes see no directory
    or a complete one, and the loser of a rename race uses the winner's."""
    import hashlib
    import inspect
    import os
    import shutil
    import tempfile
    import uuid

    from ..datasets import synthetic

    if name not in _STAGED or not os.path.exists(_STAGED[name]):
        token = hashlib.sha256(inspect.getsource(synthetic).encode()).hexdigest()[:12]
        path = os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_{token}")
        done = os.path.join(path, "_SUCCESS")
        if not os.path.exists(done):
            staging = f"{path}.{uuid.uuid4().hex}.tmp"
            write(staging)
            open(os.path.join(staging, "_SUCCESS"), "a").close()
            try:
                os.rename(staging, path)
            except OSError:
                # a concurrent process renamed first; its copy is complete
                shutil.rmtree(staging, ignore_errors=True)
        _STAGED[name] = path
    return _STAGED[name]


_STAGED: dict = {}


def _tracking(spark):
    """The seeded synthetic tracking fixture, staged to parquet."""
    path = _staged(
        f"tracking_{_N_FRAMES}_{_SEED}",
        lambda p: synthetic_tracking_df(spark, n_frames=_N_FRAMES, seed=_SEED)
        .write.mode("overwrite")
        .parquet(p),
    )
    return spark.read.parquet(path)


def _settings():
    return DefaultSettings(home_team_id=HOME, away_team_id=AWAY)


@query("m_pressing_intensity")
def m_pressing_intensity(spark, sf_dir):
    out = (
        PressingIntensity(_tracking(spark), _settings())
        .fit(method="teams", ball_method="max", orient="home_away", speed_threshold=2)
        .output
    )
    # flatten matrices to scalars for a stable rows-only signature
    return out.select(
        "game_id", "period_id", "frame_id",
        F.round(F.col("time_to_intercept")[0][0], 6).alias("tti_00"),
        F.round(F.col("probability_to_intercept")[0][0], 6).alias("pti_00"),
        F.size("rows").alias("n_rows"),
        F.size("columns").alias("n_cols"),
    )


@query("m_graph_convert")
def m_graph_convert(spark, sf_dir):
    gs = GraphSettings(home_team_id=HOME, away_team_id=AWAY)
    out = SoccerGraphConverter(_tracking(spark), gs).to_graph_frames()
    return out.select(
        "game_id", "period_id", "frame_id", "graph_id", "label",
        "a_shape_0", "e_shape_0", "e_shape_1", "x_shape_0", "x_shape_1",
        F.round(F.col("x")[0][0], 6).alias("x_00"),
    )


def af_graph_frames(spark):
    """Raw AF graph frames on the generated BDB sample — shared by
    m_af_graph_convert, m_af_cells, and the full-output fingerprint twin
    (model_twins.m_af_graph_convert_fp)."""
    from ..datasets.bdb import BigDataBowlDataset
    from ..models.af_graph_converter import AmericanFootballGraphConverter

    files = _staged("bdb", synthetic_bdb_csvs)
    ds = BigDataBowlDataset(
        tracking_file_path=f"{files}/bdb_coords-1.csv",
        players_file_path=f"{files}/bdb_players-1.csv",
        plays_file_path=f"{files}/bdb_plays-1.csv",
    )
    ds.load(spark)
    ds.add_dummy_labels()
    ds.add_graph_ids()
    return AmericanFootballGraphConverter(ds.data, ds.settings).to_graph_frames()


@query("m_af_graph_convert")
def m_af_graph_convert(spark, sf_dir):
    """American-football graph conversion (K2/K6/K7) on the generated BDB
    sample (datasets/synthetic.py:synthetic_bdb_csvs) — 24 play-frame graphs
    with 20-feature nodes and 9-channel edges. Rows-only (grouped-map
    kernel); shape/value parity with the reference's published expectations
    is asserted on its own fixtures in tests/test_american_football.py."""
    return af_graph_frames(spark).select(
        "game_id", "frame_id", "graph_id", "label",
        "a_shape_0", "a_shape_1", "e_shape_0", "e_shape_1",
        "x_shape_0", "x_shape_1",
        F.round(F.col("x")[0][0], 6).alias("x_00"),
    )


@query("m_efpi_possession")
def m_efpi_possession(spark, sf_dir):
    out = EFPI(_tracking(spark), _settings()).fit(every="possession").output
    return out.select(
        "game_id", "period_id", "possession_id", "id", "team_id", "position", "formation"
    )


@query("m_savgol_events")
def m_savgol_events(spark, sf_dir):
    """W6 Savitzky–Golay smoothing (kloppy_polars.py:313-380) applied as a
    grouped Arrow kernel to each user's value series over the events table —
    a polynomial fit per centered window, not expressible as a SQL frame
    aggregate, hence rows-only (the hash-certified twin is m_savgol_cells).
    Bucketed kernel (functions/savgol.py:savgol_by_key): one Arrow crossing
    per key-bucket, per-series boundaries walked in numpy — at 100 TB the
    same one-shuffle-then-embarrassingly-parallel shape as kinematics."""
    from ..functions.savgol import savgol_by_key
    from ..session import read_table

    events = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return savgol_by_key(
        events,
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        out_cols=["user_id", "event_id"],
        window_length=7,
        polyorder=1,
        ndigits=6,
    )


@query("m_graph_convert_delaunay")
def m_graph_convert_delaunay(spark, sf_dir):
    """K3 Delaunay adjacency through the full graph pipeline (pure-NumPy
    Bowyer-Watson inside the grouped kernel; functions/delaunay.py)."""
    gs = GraphSettings(
        home_team_id=HOME, away_team_id=AWAY,
        adjacency_matrix_type="delaunay", adjacency_matrix_connect_type="ball",
    )
    out = SoccerGraphConverter(_tracking(spark), gs).to_graph_frames()
    return out.select(
        "game_id", "period_id", "frame_id",
        "a_shape_0", "e_shape_0", "e_shape_1", "x_shape_0", "x_shape_1",
        F.round(F.col("x")[0][0], 6).alias("x_00"),
    )
