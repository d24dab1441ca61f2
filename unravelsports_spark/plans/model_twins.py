"""Hash-certifiable scalar twins of the model-kernel queries (VERDICT r3 #5).

The ``m_*`` model queries are grouped-map matrix pipelines with no SQL
equivalent, so the driver only records the weak rows>0 check for them — even
though their kernels are the actual reference-parity surface (A8, K1-K16).
Each twin here projects the kernel output on the deterministic seeded
synthetic fixture (or the public BDB sample) down to a small exact table —
matrix cells rounded to 6 decimals, integer shape counts, formation strings —
and pairs it with a *literal VALUES oracle*: the expected rows, snapshotted
from the golden-verified kernels (tests/test_kernels_golden.py pins the same
kernels to the reference's .npy fixtures at rtol 1e-3; the PI scalar
2.6428493704618106 matches reference tests/test_soccer.py:563-566).

DuckDB evaluates the literal table, the driver hash-compares — so the kernel
outputs get rows+schema+hash driver rows, not just rows>0. Any kernel change
that moves a cell value, a shape, or a detected formation flips the hash.

Float discipline: every float crosses into the oracle as
``CAST(<python repr> AS DOUBLE)`` so both engines hold the identical binary64
(the round-6 value is computed by Spark, repr round-trips it exactly).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .models_plans import _settings, _tracking
from .relational import query


@query("m_pi_cells")
def m_pi_cells(spark, sf_dir):
    """Pressing Intensity (K9-K11) cell twin: first-cell TTI/PTI + matrix
    shape per frame for the first 10 frames of the seeded fixture."""
    from ..models.pressing_intensity import PressingIntensity

    out = (
        PressingIntensity(_tracking(spark), _settings())
        .fit(method="teams", ball_method="max", orient="home_away", speed_threshold=2)
        .output
    )
    return out.filter(F.col("frame_id") < 10).select(
        F.col("frame_id").cast("long").alias("frame_id"),
        F.round(F.col("time_to_intercept")[0][0], 6).alias("tti_00"),
        F.round(F.col("probability_to_intercept")[0][0], 6).alias("pti_00"),
        F.size("rows").cast("long").alias("n_rows"),
        F.size("columns").cast("long").alias("n_cols"),
    )


@query("m_graph_cells")
def m_graph_cells(spark, sf_dir):
    """Soccer graph conversion (K1/K4/K5/K8) twin: adjacency/edge/node-matrix
    shapes + first node-feature cell per graph, first 10 frames."""
    from ..models.graph_converter import SoccerGraphConverter
    from ..settings import GraphSettings

    from .models_plans import AWAY, HOME

    gs = GraphSettings(home_team_id=HOME, away_team_id=AWAY)
    out = SoccerGraphConverter(_tracking(spark), gs).to_graph_frames()
    return out.filter(F.col("frame_id") < 10).select(
        F.col("frame_id").cast("long").alias("frame_id"),
        F.col("a_shape_0").cast("long").alias("a_shape_0"),
        F.col("e_shape_0").cast("long").alias("e_shape_0"),
        F.col("e_shape_1").cast("long").alias("e_shape_1"),
        F.col("x_shape_0").cast("long").alias("x_shape_0"),
        F.col("x_shape_1").cast("long").alias("x_shape_1"),
        F.round(F.col("x")[0][0], 6).alias("x_00"),
    )


@query("m_graph_custom_cells")
def m_graph_custom_cells(spark, sf_dir):
    """Plugin-surface twin (VERDICT r5 #6): the FULL custom-feature contract
    through SoccerGraphConverter — a user @graph_feature node feature scaled
    by ``feature_opts``, a custom edge feature, both consuming an
    ``additional_feature_cols`` column (crc32 of the object id — per-node,
    not constant, so the wiring is load-bearing), plus two
    ``global_feature_cols`` attached to the ball row. Mirrors reference
    tests/test_soccer.py:265-312. Cells: shapes, the custom node value of
    the first node, the custom edge channel of the first edge, and the
    global cell on the ball row (the last node)."""
    from ..functions.graph_features import (
        DEFAULT_EDGE_FEATURES,
        DEFAULT_NODE_FEATURES,
        graph_feature,
    )
    from ..models.graph_converter import SoccerGraphConverter
    from ..settings import GraphSettings

    from .models_plans import AWAY, HOME

    @graph_feature(feature_type="node", is_custom=True)
    def custom_node_feature(**kw):
        return kw["fake_additional_feature_a"] * kw["scale"]

    @graph_feature(feature_type="edge", is_custom=True)
    def custom_edge_feature(**kw):
        a = kw["fake_additional_feature_a"]
        return a[None, :] + a[:, None]

    ds = (
        _tracking(spark)
        .withColumn("fake_graph_feature_a", F.lit(1.0))
        .withColumn("fake_graph_feature_b", F.lit(0.12))
        .withColumn(
            "fake_additional_feature_a",
            (F.crc32(F.col("id")) % 7).cast("double") / 10.0,
        )
    )
    gs = GraphSettings(home_team_id=HOME, away_team_id=AWAY)
    out = SoccerGraphConverter(
        ds,
        gs,
        node_feature_funcs=list(DEFAULT_NODE_FEATURES) + [custom_node_feature],
        edge_feature_funcs=list(DEFAULT_EDGE_FEATURES) + [custom_edge_feature],
        feature_opts={"scale": 2.0},
        global_feature_cols=["fake_graph_feature_a", "fake_graph_feature_b"],
        additional_feature_cols=["fake_additional_feature_a"],
    ).to_graph_frames()
    return out.filter(F.col("frame_id") < 5).select(
        F.col("frame_id").cast("long").alias("frame_id"),
        F.col("x_shape_1").cast("long").alias("x_shape_1"),
        F.col("e_shape_1").cast("long").alias("e_shape_1"),
        F.round(F.col("x")[0][15], 6).alias("x_custom_00"),
        F.round(F.col("e")[0][6], 6).alias("e_custom_00"),
        F.round(F.element_at(F.col("x"), F.col("x_shape_0").cast("int"))[16], 6).alias("x_global_ball"),
    )


@query("m_delaunay_cells")
def m_delaunay_cells(spark, sf_dir):
    """Delaunay adjacency (K3) twin: per-graph edge counts are the Delaunay
    triangulation's signature (a changed triangulation changes e_shape_0);
    one exact aggregate row over the whole fixture."""
    from ..models.graph_converter import SoccerGraphConverter
    from ..settings import GraphSettings

    from .models_plans import AWAY, HOME

    gs = GraphSettings(
        home_team_id=HOME, away_team_id=AWAY,
        adjacency_matrix_type="delaunay", adjacency_matrix_connect_type="ball",
    )
    out = SoccerGraphConverter(_tracking(spark), gs).to_graph_frames()
    return out.agg(
        F.count("*").alias("n_graphs"),
        F.sum(F.col("a_shape_0").cast("long")).alias("sum_a0"),
        F.sum(F.col("e_shape_0").cast("long")).alias("sum_e0"),
        F.sum(F.col("x_shape_0").cast("long")).alias("sum_x0"),
        F.min(F.col("e_shape_0").cast("long")).alias("min_e0"),
        F.max(F.col("e_shape_0").cast("long")).alias("max_e0"),
    )


@query("m_af_cells")
def m_af_cells(spark, sf_dir):
    """American-football graph conversion (K2/K6/K7) twin over the generated
    BDB sample: exact graph count (24) + shape sums in one aggregate row."""
    from .models_plans import m_af_graph_convert

    out = m_af_graph_convert(spark, sf_dir)
    return out.agg(
        F.count("*").alias("n_graphs"),
        F.sum(F.col("a_shape_0").cast("long")).alias("sum_a0"),
        F.sum(F.col("e_shape_0").cast("long")).alias("sum_e0"),
        F.sum(F.col("x_shape_0").cast("long")).alias("sum_x0"),
        F.max(F.col("x_shape_1").cast("long")).alias("n_node_features"),
        F.max(F.col("e_shape_1").cast("long")).alias("n_edge_features"),
    )


@query("m_efpi_cells")
def m_efpi_cells(spark, sf_dir):
    """EFPI formation detection (K12-K14) twin: per-player detected position
    and formation strings for the first two possessions of the fixture —
    exact string equality certifies the JV assignment + template matching."""
    from ..models.efpi import EFPI

    out = EFPI(_tracking(spark), _settings()).fit(every="possession").output
    return out.filter(F.col("possession_id") <= 2).select(
        F.col("period_id").cast("long").alias("period_id"),
        F.col("possession_id").cast("long").alias("possession_id"),
        F.col("id").cast("string").alias("id"),
        F.col("team_id").cast("string").alias("team_id"),
        F.col("position").cast("string").alias("position"),
        F.col("formation").cast("string").alias("formation"),
    )




@query("m_savgol_cells")
def m_savgol_cells(spark, sf_dir):
    """Generic Savitzky-Golay kernel twin (W6, VERDICT r4 item 7): window 7
    / POLYORDER 2 — the pinv polynomial path the closed-form poly-1 oracle
    (w6_savgol_oracle) cannot reach — run through ``savgol_by_key``, the
    grouped Arrow kernel m_savgol_events uses, on a deterministic 2-group
    series, rounded to 6 decimals against a literal VALUES oracle."""
    from ..functions.savgol import savgol_by_key

    rows = [
        (g, i, float((i * 37 + g * 13) % 11)) for g in (0, 1) for i in range(12)
    ]
    src = spark.createDataFrame(rows, "g long, idx long, value double")
    return savgol_by_key(
        src, key_col="g", order_cols=["idx"], value_col="value",
        out_cols=["g", "idx"], window_length=7, polyorder=2, ndigits=6,
    )


def _fp32(col):
    """32-bit md5-prefix fingerprint of a string column (the house fp_sum
    shape): sums of these certify exact content, order-insensitively."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _r6join(col):
    """Flatten a matrix column and join its cells rounded to 6 decimals —
    row-major, so cell ORDER (the assembly surface) lands in the hash."""
    return F.array_join(
        F.transform(F.flatten(col), lambda v: F.round(v, 6).cast("string")),
        ",",
        "null",
    )


@query("m_pressing_intensity_fp")
def m_pressing_intensity_fp(spark, sf_dir):
    """FULL-output fingerprint of the pressing-intensity pipeline (VERDICT
    r13 #2): m_pi_cells certifies kernel math on sampled cells; this twin
    folds EVERY frame's complete assembly — ids, row/column object
    orderings, and both matrices flattened row-major at 6 decimals — into
    per-frame md5s whose 32-bit-prefix sum is hash-certified against a
    literal VALUES oracle. Any change to matrix content, cell order, or
    the rows/columns join flips the driver hash."""
    from ..models.pressing_intensity import PressingIntensity

    out = (
        PressingIntensity(_tracking(spark), _settings())
        .fit(method="teams", ball_method="max", orient="home_away", speed_threshold=2)
        .output
    )
    frame_key = F.concat_ws(
        "|",
        F.col("game_id").cast("string"),
        F.col("period_id").cast("string"),
        F.col("frame_id").cast("string"),
        F.col("timestamp").cast("string"),
        F.array_join("rows", ",", "null"),
        F.array_join("columns", ",", "null"),
        _r6join("time_to_intercept"),
        _r6join("probability_to_intercept"),
    )
    return out.agg(
        F.count("*").alias("n_frames"),
        F.sum(_fp32(frame_key)).alias("fp_sum"),
    )


def _graph_frames_fp(out):
    """Fold a graph-frames output into (n_graphs, fp_sum): per-graph md5
    over the COMPLETE assembly — ids, label, shapes, object_ids order,
    ball-owning team, and the a/e/x matrices flattened row-major at 6
    decimals. Shared by the three graph-converter fp twins (plain,
    delaunay, american-football)."""
    graph_key = F.concat_ws(
        "|",
        F.col("game_id").cast("string"),
        F.col("period_id").cast("string"),
        F.col("frame_id").cast("string"),
        F.col("graph_id").cast("string"),
        F.col("label").cast("string"),
        F.concat_ws(
            ",",
            "a_shape_0", "a_shape_1", "e_shape_0", "e_shape_1",
            "x_shape_0", "x_shape_1",
        ),
        F.array_join("object_ids", ",", "null"),
        F.col("ball_owning_team_id").cast("string"),
        _r6join("a"),
        _r6join("e"),
        _r6join("x"),
    )
    return out.agg(
        F.count("*").alias("n_graphs"),
        F.sum(_fp32(graph_key)).alias("fp_sum"),
    )


@query("m_graph_convert_fp")
def m_graph_convert_fp(spark, sf_dir):
    """FULL-output fingerprint of the soccer graph conversion (VERDICT r13
    #2): m_graph_cells certifies sampled cells/shapes; this twin folds
    EVERY graph frame's complete assembly — graph_id, label, shapes,
    object_ids order, ball-owning team, and the a/e/x matrices flattened
    row-major at 6 decimals — into per-graph md5s whose 32-bit-prefix sum
    is hash-certified against a literal VALUES oracle. Padding, node
    order, edge order, and feature order are all load-bearing here."""
    from ..models.graph_converter import SoccerGraphConverter
    from ..settings import GraphSettings

    from .models_plans import AWAY, HOME

    gs = GraphSettings(home_team_id=HOME, away_team_id=AWAY)
    return _graph_frames_fp(
        SoccerGraphConverter(_tracking(spark), gs).to_graph_frames()
    )


@query("m_graph_convert_delaunay_fp")
def m_graph_convert_delaunay_fp(spark, sf_dir):
    """FULL-output fingerprint of the Delaunay-adjacency graph pipeline
    (K3 through K1/K4/K5/K8 assembly): m_delaunay_cells certifies edge
    COUNTS (the triangulation signature); this twin makes every cell of
    every matrix load-bearing — a changed triangle flips not just
    e_shape_0 but the flattened a/e contents in the per-graph md5."""
    from ..models.graph_converter import SoccerGraphConverter
    from ..settings import GraphSettings

    from .models_plans import AWAY, HOME

    gs = GraphSettings(
        home_team_id=HOME, away_team_id=AWAY,
        adjacency_matrix_type="delaunay", adjacency_matrix_connect_type="ball",
    )
    return _graph_frames_fp(
        SoccerGraphConverter(_tracking(spark), gs).to_graph_frames()
    )


@query("m_af_graph_convert_fp")
def m_af_graph_convert_fp(spark, sf_dir):
    """FULL-output fingerprint of the american-football graph conversion
    (K2/K6/K7) over the generated BDB sample: m_af_cells certifies shape
    sums; this twin folds all 24 play-frame graphs' complete assemblies
    (20-feature nodes, 9-channel edges, padding, node order) into the
    order-insensitive fp_sum."""
    from .models_plans import af_graph_frames

    return _graph_frames_fp(af_graph_frames(spark))


@query("m_efpi_possession_fp")
def m_efpi_possession_fp(spark, sf_dir):
    """FULL-output fingerprint of EFPI possession-level formation
    detection (K12-K14): m_efpi_cells pins the first two possessions as
    literal strings; this twin folds EVERY (possession, player) row —
    detected position, formation string, team — into fp_sum, so a JV
    assignment or template-matching change anywhere in the fixture flips
    the driver hash."""
    from ..models.efpi import EFPI

    out = EFPI(_tracking(spark), _settings()).fit(every="possession").output
    row_key = F.concat_ws(
        "|",
        F.col("game_id").cast("string"),
        F.col("period_id").cast("string"),
        F.col("possession_id").cast("string"),
        F.col("id").cast("string"),
        F.col("team_id").cast("string"),
        # concat_ws SKIPS nulls (collapsing "a||b" to "a|b"), so the two
        # legitimately-nullable strings get an explicit null token
        F.coalesce(F.col("position").cast("string"), F.lit("null")),
        F.coalesce(F.col("formation").cast("string"), F.lit("null")),
    )
    return out.agg(
        F.count("*").alias("n_rows"),
        F.sum(_fp32(row_key)).alias("fp_sum"),
    )


@query("m_savgol_events_fp")
def m_savgol_events_fp(spark, sf_dir):
    """FULL-output fingerprint of the grouped Savitzky-Golay kernel over
    the sf-scale events table (W6): w6_savgol_oracle certifies the poly-1
    closed form in SQL and m_savgol_cells the poly-2 pinv path on a tiny
    series; this twin folds EVERY (user, event) smoothed value at sf0.01
    into fp_sum. SNAPSHOT CLASS: the input is the sf-scale table, so the
    VALUES oracle pins the sf0.01 rollup (listed in the sweep's
    EXPECTED_SNAPSHOT, pinned in tests/test_snapshot_pins.py)."""
    from .models_plans import m_savgol_events

    out = m_savgol_events(spark, sf_dir)
    row_key = F.concat_ws(
        "|",
        F.col("user_id").cast("string"),
        F.col("event_id").cast("string"),
        F.coalesce(F.col("value_smooth").cast("string"), F.lit("null")),
    )
    return out.agg(
        F.count("*").alias("n_rows"),
        F.sum(_fp32(row_key)).alias("fp_sum"),
    )


# Literal VALUES oracles snapshotted from the golden-verified kernel outputs
# (regenerate with ``tools/registry.py values`` after any intended kernel
# change; an unintended change flips the driver hash instead).
from .relational import ORACLE_SQL

ORACLE_SQL.update(
    {
        "m_savgol_cells": """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0.785714 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3.214286 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(4.857143 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(5.714286 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(5.0 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(5 AS BIGINT), CAST(4.285714 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(6 AS BIGINT), CAST(6.714286 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(7 AS BIGINT), CAST(6.0 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(8 AS BIGINT), CAST(6.333333 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(9 AS BIGINT), CAST(5.357143 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(10 AS BIGINT), CAST(3.857143 AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(11 AS BIGINT), CAST(1.833333 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(3.571429 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(5.214286 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(6.071429 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(6.142857 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(3.857143 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST(3.666667 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(6 AS BIGINT), CAST(4.0 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(7 AS BIGINT), CAST(3.285714 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(8 AS BIGINT), CAST(5.714286 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(9 AS BIGINT), CAST(5.785714 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(10 AS BIGINT), CAST(5.071429 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(11 AS BIGINT), CAST(3.571429 AS DOUBLE))
    ) AS t(g, idx, value_smooth)
    """,
        "m_pi_cells": """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(3.839938 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST(4.77527 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(4.612937 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(4.751674 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(4 AS BIGINT), CAST(3.980193 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(5 AS BIGINT), CAST(3.513002 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(6 AS BIGINT), CAST(3.147896 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(7 AS BIGINT), CAST(3.580618 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(8 AS BIGINT), CAST(3.867779 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(9 AS BIGINT), CAST(4.223577 AS DOUBLE), CAST(1.7e-05 AS DOUBLE), CAST(11 AS BIGINT), CAST(11 AS BIGINT))
    ) AS t(frame_id, tti_00, pti_00, n_rows, n_cols)
    """,
        "m_graph_cells": """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.796038 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.796599 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.797081 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.797576 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.797614 AS DOUBLE)),
      (CAST(5 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.79753 AS DOUBLE)),
      (CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.797393 AS DOUBLE)),
      (CAST(7 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.797247 AS DOUBLE)),
      (CAST(8 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.796779 AS DOUBLE)),
      (CAST(9 AS BIGINT), CAST(23 AS BIGINT), CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(23 AS BIGINT), CAST(15 AS BIGINT), CAST(0.796179 AS DOUBLE))
    ) AS t(frame_id, a_shape_0, e_shape_0, e_shape_1, x_shape_0, x_shape_1, x_00)
    """,
        "m_delaunay_cells": """
    SELECT * FROM (VALUES
      (CAST(100 AS BIGINT), CAST(2300 AS BIGINT), CAST(15648 AS BIGINT), CAST(2300 AS BIGINT), CAST(154 AS BIGINT), CAST(158 AS BIGINT))
    ) AS t(n_graphs, sum_a0, sum_e0, sum_x0, min_e0, max_e0)
    """,
        "m_graph_custom_cells": """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(18 AS BIGINT), CAST(7 AS BIGINT), CAST(0.6 AS DOUBLE), CAST(0.6 AS DOUBLE), CAST(1.0 AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(18 AS BIGINT), CAST(7 AS BIGINT), CAST(0.6 AS DOUBLE), CAST(0.6 AS DOUBLE), CAST(1.0 AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(18 AS BIGINT), CAST(7 AS BIGINT), CAST(0.6 AS DOUBLE), CAST(0.6 AS DOUBLE), CAST(1.0 AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(18 AS BIGINT), CAST(7 AS BIGINT), CAST(0.6 AS DOUBLE), CAST(0.6 AS DOUBLE), CAST(1.0 AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(18 AS BIGINT), CAST(7 AS BIGINT), CAST(0.6 AS DOUBLE), CAST(0.6 AS DOUBLE), CAST(1.0 AS DOUBLE))
    ) AS t(frame_id, x_shape_1, e_shape_1, x_custom_00, e_custom_00, x_global_ball)
    """,
        "m_af_cells": """
    SELECT * FROM (VALUES
      (CAST(24 AS BIGINT), CAST(552 AS BIGINT), CAST(6888 AS BIGINT), CAST(552 AS BIGINT), CAST(20 AS BIGINT), CAST(9 AS BIGINT))
    ) AS t(n_graphs, sum_a0, sum_e0, sum_x0, n_node_features, n_edge_features)
    """,
        "m_efpi_cells": """
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p00', 'away_team', 'GK', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p01', 'away_team', 'RCM2', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p02', 'away_team', 'RCB', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p03', 'away_team', 'CB', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p04', 'away_team', 'LS', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p05', 'away_team', 'CM1', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p06', 'away_team', 'LCB', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p07', 'away_team', 'RS', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p08', 'away_team', 'LCM2', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p09', 'away_team', 'LM2', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'a_p10', 'away_team', 'RM2', '3142'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'ball', 'ball', 'ball', 'ball'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p00', 'home_team', 'GK', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p01', 'home_team', 'RCM1', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p02', 'home_team', 'LM2', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p03', 'home_team', 'LM1', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p04', 'home_team', 'RCB', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p05', 'home_team', 'RM2', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p06', 'home_team', 'RM1', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p07', 'home_team', 'CM2', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p08', 'home_team', 'ST', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p09', 'home_team', 'LCB', '2431'),
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'h_p10', 'home_team', 'LCM1', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p00', 'away_team', 'GK', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p01', 'away_team', 'LCM2', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p02', 'away_team', 'CB', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p03', 'away_team', 'CM1', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p04', 'away_team', 'LS', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p05', 'away_team', 'RCB', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p06', 'away_team', 'LCB', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p07', 'away_team', 'RS', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p08', 'away_team', 'RCM2', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p09', 'away_team', 'LM2', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'a_p10', 'away_team', 'RM2', '3142'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'ball', 'ball', 'ball', 'ball'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p00', 'home_team', 'GK', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p01', 'home_team', 'RCM1', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p02', 'home_team', 'LM2', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p03', 'home_team', 'LM1', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p04', 'home_team', 'RCB', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p05', 'home_team', 'RM2', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p06', 'home_team', 'RM1', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p07', 'home_team', 'CM2', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p08', 'home_team', 'ST', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p09', 'home_team', 'LCB', '2431'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'h_p10', 'home_team', 'LCM1', '2431')
    ) AS t(period_id, possession_id, id, team_id, position, formation)
    """,
        "m_pressing_intensity_fp": """
    SELECT * FROM (VALUES
      (CAST(100 AS BIGINT), CAST(206164821922 AS BIGINT))
    ) AS t(n_frames, fp_sum)
    """,
        "m_graph_convert_fp": """
    SELECT * FROM (VALUES
      (CAST(100 AS BIGINT), CAST(209704249036 AS BIGINT))
    ) AS t(n_graphs, fp_sum)
    """,
        "m_graph_convert_delaunay_fp": """
    SELECT * FROM (VALUES
      (CAST(100 AS BIGINT), CAST(204112402816 AS BIGINT))
    ) AS t(n_graphs, fp_sum)
    """,
        "m_af_graph_convert_fp": """
    SELECT * FROM (VALUES
      (CAST(24 AS BIGINT), CAST(56371971252 AS BIGINT))
    ) AS t(n_graphs, fp_sum)
    """,
        "m_efpi_possession_fp": """
    SELECT * FROM (VALUES
      (CAST(69 AS BIGINT), CAST(130911643095 AS BIGINT))
    ) AS t(n_rows, fp_sum)
    """,
        "m_savgol_events_fp": """
    SELECT * FROM (VALUES
      (CAST(10000 AS BIGINT), CAST(21431777249884 AS BIGINT))
    ) AS t(n_rows, fp_sum)
    """,
    }
)
