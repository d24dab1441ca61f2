"""Streaming wrappers (batch + real micro-batch), multimodal plumbing, graph
parquet sink round-trip."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from unravelsports_spark.datasets.synthetic import AWAY, HOME, synthetic_tracking_df
from unravelsports_spark.models.graph_converter import SoccerGraphConverter
from unravelsports_spark.operators.multimodal import (
    IMAGE_SCHEMA,
    decode_images,
    extract_image_features,
    sample_video_frames,
)
from unravelsports_spark.session import normalize_events_ts, read_table
from unravelsports_spark.settings import GraphSettings
from unravelsports_spark.sources.graph_sink import (
    iter_graph_tuples,
    read_graph_frames,
    write_graph_frames,
)
from unravelsports_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    stateful_running_counts,
    tumbling_agg,
    with_watermark,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("streaming"))


def test_tumbling_sliding_session_batch(spark):
    e = read_table(spark, SF_SMOKE, "events")
    t = tumbling_agg(e, "ts", "5 minutes", ["event_type"], [F.count("*").alias("n")])
    assert t.count() > 0
    s = sliding_agg(e, "ts", "10 minutes", "5 minutes", ["event_type"], [F.count("*").alias("n")])
    assert s.count() > t.count()  # overlapping windows ≈ 2x rows
    g = session_agg(e, "ts", "30 minutes", ["user_id"], [F.count("*").alias("n")])
    assert g.count() > 0


def test_streaming_micro_batch(spark, workdir):
    """Real Structured Streaming run: file source → watermarked tumbling agg
    → memory sink, availableNow trigger."""
    src = f"{workdir}/stream_src"
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{src}/events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(src).schema
    stream = normalize_events_ts(spark.readStream.schema(schema).parquet(src))
    agg = tumbling_agg(
        with_watermark(stream, "ts", "10 minutes"),
        "ts", "5 minutes", ["event_type"], [F.count("*").alias("n")],
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT count(*) c FROM t_stream").head().c
    # append mode only emits windows closed by the watermark; all but the
    # final window(s) of the fixture qualify
    assert rows > 0


def test_stateful_running_counts_streaming(spark, workdir):
    src = f"{workdir}/state_src"
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{src}/events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(src).schema
    stream = normalize_events_ts(spark.readStream.schema(schema).parquet(src))
    counted = stateful_running_counts(stream, "event_type", "ts")
    q = (
        counted.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM t_state").toPandas()
    assert set(out.event_type) == {"click", "error", "purchase", "signup", "view"}
    assert (out.n_events == out.batch_events).all()  # single micro-batch


def test_multimodal_plumbing(spark):
    payloads = [bytes([i] * 32) for i in range(10)]
    pdf = pd.DataFrame(
        {
            "media_id": [f"m{i}" for i in range(10)],
            "payload": payloads,
            "mime_type": ["image/png"] * 10,
            "width": [None] * 10,
            "height": [None] * 10,
        }
    )
    df = spark.createDataFrame(pdf, schema=IMAGE_SCHEMA)
    # non-fake path is real now (PNG/BMP via functions/imagecodec.py); raw
    # non-image bytes surface NotImplementedError from inside the job
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        decode_images(df).collect()
    dec = decode_images(df, fake=True).collect()
    assert all(64 <= r.dec_width < 128 for r in dec)
    # deterministic: same payload → same pseudo-decode
    dec2 = decode_images(df, fake=True).collect()
    assert [r.mean_pixel for r in dec] == [r.mean_pixel for r in dec2]

    feats = extract_image_features(df, fake=True).collect()
    assert all(len(r.features) == 8 for r in feats)

    frames_df = spark.createDataFrame(
        [("v1", [bytes([i]) for i in range(25)])], "video_id string, frames array<binary>"
    )
    sampled = sample_video_frames(frames_df, every_n=10).head()
    assert len(sampled.frames) == 3  # indices 0, 10, 20

    from unravelsports_spark.operators.multimodal import resize_images

    with pytest.raises((PythonException, Py4JJavaError)):
        resize_images(df, 32, 32).collect()  # raw bytes are not decodable
    rs = resize_images(df, 32, 48, fake=True).collect()
    assert all(r.width == 32 and r.height == 48 for r in rs)
    # schema unchanged, payload deterministic, distinct per source payload
    assert resize_images(df, 32, 48, fake=True).schema == df.schema
    assert [bytes(r.payload) for r in rs] == [
        bytes(r.payload) for r in resize_images(df, 32, 48, fake=True).collect()
    ]
    assert len({bytes(r.payload) for r in rs}) == len(rs)


def test_graph_sink_roundtrip(spark, workdir):
    tracking = synthetic_tracking_df(spark, n_frames=6, seed=2)
    gdf = SoccerGraphConverter(
        tracking, GraphSettings(home_team_id=HOME, away_team_id=AWAY)
    ).to_graph_frames()
    path = f"{workdir}/graphs"
    write_graph_frames(gdf, path)
    back = read_graph_frames(spark, path)
    assert back.count() == 6
    g = next(iter_graph_tuples(back.limit(1)))
    assert g["a"].shape == (23, 23)
    assert g["x"].shape[0] == 23
    assert g["e"].shape[1] == 6
    assert len(g["object_ids"]) == 23


def test_graph_overlay_rendering_byte_stable(spark, tmp_path):
    """VERDICT r7 #3: adjacency edges from the converter's `a` matrix drawn
    on the pitch — edge alpha by weight, node color by team (static or
    ball-owning), byte-stable renders, MP4 round-trip."""
    from unravelsports_spark.functions.imagecodec import decode_png
    from unravelsports_spark.functions.jpegcodec import decode_jpeg
    from unravelsports_spark.sources.media import (
        COLOR_AWAY,
        COLOR_EDGE,
        COLOR_HOME,
        COLOR_PITCH,
        collect_frame,
        render_frame,
        render_graph_overlay,
        to_graph_mp4,
        to_graph_png,
    )
    from unravelsports_spark.sources.mp4 import read_mjpeg_mp4

    tracking = synthetic_tracking_df(spark, n_frames=4, seed=7)
    gdf = SoccerGraphConverter(
        tracking, GraphSettings(home_team_id=HOME, away_team_id=AWAY)
    ).to_graph_frames()
    graphs = list(iter_graph_tuples(gdf.orderBy("frame_id").limit(2)))
    g = graphs[0]
    assert g["game_id"] == "game_0"
    assert g["ball_owning_team_id"] in (HOME, AWAY)

    # byte-stable: two renders of the same graph row → identical PNG bytes
    p1 = to_graph_png(tracking, g, str(tmp_path / "o1.png"),
                      home_team_id=HOME, edge_max_alpha=1.0)
    p2 = to_graph_png(tracking, g, str(tmp_path / "o2.png"),
                      home_team_id=HOME, edge_max_alpha=1.0)
    b1 = open(p1, "rb").read()
    assert b1 == open(p2, "rb").read() and len(b1) > 0

    # at alpha=1 edges paint the exact edge color; the plain (graph-free)
    # render of the same frame must NOT contain it
    img = decode_png(b1)
    colors = {tuple(c) for c in np.unique(img.reshape(-1, 3), axis=0)}
    assert COLOR_EDGE in colors
    assert COLOR_HOME in colors and COLOR_AWAY in colors
    staged = collect_frame(tracking, "game_0", int(g["frame_id"]))
    plain = render_frame(staged, home_team_id=HOME)
    plain_colors = {tuple(c) for c in np.unique(plain.reshape(-1, 3), axis=0)}
    assert COLOR_EDGE not in plain_colors

    # edge alpha scales with weight: a hand-built 3-node frame with edge
    # weights 1.0 and 0.5 must blend COLOR_EDGE onto the pitch at the full
    # and half alpha respectively (checked at the exact midpoint pixels)
    staged2 = {
        "id": ["p1", "p2", "p3"],
        "team_id": [HOME, HOME, AWAY],
        "x": np.array([-10.0, 0.0, 10.0]),
        "y": np.array([5.0, -5.0, 5.0]),
        "vx": np.zeros(3),
        "vy": np.zeros(3),
    }
    a = np.array([[0, 1.0, 0], [1.0, 0, 0.5], [0, 0.5, 0]])
    alpha = 0.8
    img2 = render_graph_overlay(staged2, a, ["p1", "p2", "p3"], HOME,
                                edge_max_alpha=alpha)

    def px_at(x, y, scale=6.0, margin=3.0, L=105.0, W=68.0):
        col = int((x + margin + L / 2) * scale)
        row = int((W / 2 + margin - y) * scale)
        return tuple(img2[row, col])

    def blend(aa):
        return tuple(
            int(np.clip(np.rint(b * (1 - aa) + t * aa), 0, 255))
            for b, t in zip(COLOR_PITCH, COLOR_EDGE)
        )

    assert px_at(-5.0, 0.0) == blend(alpha)        # weight 1.0 edge midpoint
    assert px_at(5.0, 0.0) == blend(alpha * 0.5)   # weight 0.5 edge midpoint

    # color_by="ball_owning": the ball-owning team takes team-A color even
    # when it is the away club (reference plot() color_by semantics)
    img3 = render_graph_overlay(staged2, a, ["p1", "p2", "p3"], HOME,
                                ball_owning_team_id=AWAY,
                                color_by="ball_owning")
    col = int((10.0 + 3.0 + 52.5) * 6.0)
    row = int((34.0 + 3.0 - 5.0) * 6.0)
    assert tuple(img3[row, col]) == COLOR_HOME  # AWAY player, team-A color
    with pytest.raises(ValueError, match="ball_owning_team_id"):
        render_graph_overlay(staged2, a, ["p1", "p2", "p3"], HOME,
                             color_by="ball_owning")
    with pytest.raises(ValueError, match="object_ids"):
        render_graph_overlay(staged2, a, ["p1", "p2", "nope"], HOME)

    # MP4 with the overlay: both graph frames mux and decode
    mp4 = to_graph_mp4(tracking, graphs, str(tmp_path / "graph.mp4"),
                       home_team_id=HOME, fps=5)
    frames = read_mjpeg_mp4(mp4)
    assert len(frames) == 2
    assert decode_jpeg(frames[0]).shape == (int(74 * 6), int(111 * 6), 3)

    # a dead-ball frame (null ball_owning_team_id) under the ball_owning
    # DEFAULT must fall back to static home/away coloring, not raise —
    # and one such frame must not abort a clip render (r9 review finding)
    g_null = dict(g)
    g_null["ball_owning_team_id"] = None
    p_null = to_graph_png(tracking, g_null, str(tmp_path / "null_own.png"),
                          home_team_id=HOME)
    p_static = to_graph_png(tracking, g, str(tmp_path / "static.png"),
                            home_team_id=HOME, color_by="static_home_away")
    assert open(p_null, "rb").read() == open(p_static, "rb").read()
    mp4_null = to_graph_mp4(tracking, [g_null, graphs[1]],
                            str(tmp_path / "null_own.mp4"),
                            home_team_id=HOME, fps=5)
    assert len(read_mjpeg_mp4(mp4_null)) == 2


def test_media_staging_and_nearest_frame(spark, tmp_path):
    from unravelsports_spark.functions.imagecodec import decode_png
    from unravelsports_spark.sources.media import (
        collect_frame,
        nearest_frame,
        to_mp4,
        to_png,
        to_png_sequence,
    )

    tracking = synthetic_tracking_df(spark, n_frames=10, seed=4)
    staged = collect_frame(tracking, "game_0", 3)
    assert len(staged["id"]) == 23
    assert nearest_frame(tracking, "game_0", 3 * 40 + 5) == 3
    with pytest.raises(ValueError):
        collect_frame(tracking, "game_0", 999)
    # collect guard: a selection matching a whole match must refuse
    unfiltered = tracking.withColumn("frame_id", F.lit(3))
    with pytest.raises(ValueError, match="more than"):
        collect_frame(unfiltered, "game_0", 3, max_rows=20)

    # real renderer: nonzero PNG, decodable, right dimensions, field + teams
    out = to_png(tracking, "game_0", 3, str(tmp_path / "f3.png"), home_team_id=HOME)
    img = decode_png(open(out, "rb").read())
    assert img.shape == (int(74 * 6), int(111 * 6), 3)
    colors = {tuple(c) for c in np.unique(img.reshape(-1, 3), axis=0)}
    assert (43, 122, 60) in colors  # pitch
    assert (220, 50, 47) in colors and (38, 139, 210) in colors  # both teams

    seq = to_png_sequence(tracking, "game_0", [0, 1], str(tmp_path / "seq"),
                          home_team_id=HOME)
    assert len(seq) == 2 and all(os.path.getsize(p) > 0 for p in seq)
    with pytest.raises(ValueError, match="max_frames"):
        to_png_sequence(tracking, "game_0", range(600), str(tmp_path / "x"),
                        home_team_id=HOME)
    # to_mp4 is real now (sources/mp4.py): 2 frames mux into a standard
    # ISO BMFF file whose sample table recovers decodable JPEGs
    from unravelsports_spark.functions.jpegcodec import decode_jpeg
    from unravelsports_spark.sources.mp4 import read_mjpeg_mp4

    mp4 = to_mp4(tracking, "game_0", [0, 1], str(tmp_path / "clip.mp4"),
                 home_team_id=HOME, fps=5)
    frames = read_mjpeg_mp4(mp4)
    assert len(frames) == 2
    assert decode_jpeg(frames[0]).shape == (int(74 * 6), int(111 * 6), 3)
    with pytest.raises(ValueError, match="max_frames"):
        to_mp4(tracking, "game_0", range(600), str(tmp_path / "y.mp4"),
               home_team_id=HOME)


def test_gnn_loader_batches(spark):
    from unravelsports_spark.models.gnn import build_crystal_gnn, graph_loader

    tracking = synthetic_tracking_df(spark, n_frames=7, seed=5)
    gdf = SoccerGraphConverter(
        tracking, GraphSettings(home_team_id=HOME, away_team_id=AWAY)
    ).to_graph_frames()
    batches = list(graph_loader(gdf, batch_size=3))
    assert [len(b) for b in batches] == [3, 3, 1]
    assert batches[0][0]["x"].shape[1] == 15
    with pytest.raises(ImportError):
        build_crystal_gnn(15, 6)


def test_streaming_dedup(spark, workdir):
    """Watermarked streaming dedup: duplicate fingerprints across one
    micro-batch collapse to the first occurrence; batch twin agrees."""
    from unravelsports_spark.streaming.windows import streaming_dedup

    src = f"{workdir}/dedup_src"
    os.makedirs(src, exist_ok=True)
    pdf = pd.DataFrame(
        {
            "fp": ["a", "b", "a", "c", "b", "a"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00"] * 3 + ["2024-01-01 00:01:00"] * 3
            ),
            "payload": list(range(6)),
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = streaming_dedup(stream, ["fp"], ts_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("SELECT fp FROM t_dedup").toPandas()
    assert sorted(out.fp) == ["a", "b", "c"]
    # batch twin: same keys survive
    batch = streaming_dedup(spark.read.parquet(src), ["fp"])
    assert batch.count() == 3


def test_tracking_sink_partition_pruning(spark, workdir):
    """Partitioned tracking sink: game_id filter must prune at the directory
    level (PartitionFilters), never scan other matches."""
    from unravelsports_spark.sources.tracking_sink import read_tracking, write_tracking

    tracking = synthetic_tracking_df(spark, n_frames=8, n_games=3, seed=6)
    path = f"{workdir}/tracking"
    write_tracking(tracking, path)
    back = read_tracking(spark, path)
    assert back.count() == tracking.count()

    one = read_tracking(spark, path, game_id="game_1")
    assert one.select("game_id").distinct().collect()[0][0] == "game_1"
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(game_id" in plan
    # frame-range reads stay pruned by row-group stats: filter is pushed
    rng = back.filter((F.col("game_id") == "game_2") & (F.col("frame_id") < 3))
    plan2 = rng._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [isnotnull(frame_id" in plan2.lower() or "LessThan(frame_id,3)" in plan2


def test_stream_stream_interval_join(spark, workdir):
    """Watermarked stream-stream interval join: purchases attribute to views
    within the trailing window; batch twin produces the same pairs."""
    from unravelsports_spark.streaming.joins import interval_join

    lsrc, rsrc = f"{workdir}/ssj_l", f"{workdir}/ssj_r"
    base = pd.Timestamp("2024-01-01 00:00:00")
    purchases = pd.DataFrame(
        {"user_id": [1, 1, 2], "ts": [base + pd.Timedelta(minutes=m) for m in (40, 90, 50)],
         "event_id": [100, 101, 102]}
    )
    views = pd.DataFrame(
        {"user_id": [1, 1, 2, 2],
         "view_ts": [base + pd.Timedelta(minutes=m) for m in (20, 85, 10, 45)],
         "view_event_id": [1, 2, 3, 4]}
    )
    spark.createDataFrame(purchases).write.mode("overwrite").parquet(lsrc)
    spark.createDataFrame(views).write.mode("overwrite").parquet(rsrc)

    def stream(path):
        schema = spark.read.parquet(path).schema
        return spark.readStream.schema(schema).parquet(path)

    joined = interval_join(
        stream(lsrc), stream(rsrc), ["user_id"], "ts", "view_ts", "30 minutes"
    )
    q = (
        joined.writeStream.format("memory").queryName("t_ssj")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = {(r.event_id, r.view_event_id)
           for r in spark.sql("SELECT event_id, view_event_id FROM t_ssj").collect()}
    # purchase 100 (t=40): view at 20 (in window); 101 (t=90): view at 85;
    # 102 (t=50): view at 45; view at 10 outside user-2's window
    assert got == {(100, 1), (101, 2), (102, 4)}

    batch = interval_join(
        spark.read.parquet(lsrc), spark.read.parquet(rsrc),
        ["user_id"], "ts", "view_ts", "30 minutes",
    )
    assert {(r.event_id, r.view_event_id)
            for r in batch.select("event_id", "view_event_id").collect()} == got


def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path):
    """foreachBatch ledger dedup: two micro-batches, cross-batch and
    within-batch dups dropped, replay is a no-op."""
    from unravelsports_spark.streaming.windows import streaming_incremental_dedup

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "alpha  beta")],
        "doc_id bigint, text string",
    )
    b1.write.mode("append").parquet(src)
    schema = "doc_id bigint, text string"
    stream = spark.readStream.schema(schema).parquet(src)
    q = streaming_incremental_dedup(
        stream, ledger, out, str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]
    # second batch: one cross-batch dup, one fresh, one within-batch dup pair
    spark.createDataFrame(
        [(10, "ALPHA BETA"), (11, "delta"), (12, "delta")],
        "doc_id bigint, text string",
    ).write.mode("append").parquet(src)
    q = streaming_incremental_dedup(
        stream, ledger, out, str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2, 11]
    # ledger holds exactly the survivors' fingerprints
    assert spark.read.parquet(ledger).distinct().count() == 3


def test_streaming_neardup_dedup_foreachbatch(spark, tmp_path):
    """MinHash band-ledger streaming near-dup: an exact re-post in batch 2
    collides on every band and is dropped; a novel doc survives; the batch
    result matches what the batch LSH operators predict."""
    from unravelsports_spark.operators.dedup import (
        band_keys,
        doc_shingles,
        minhash_signatures,
    )
    from unravelsports_spark.streaming.windows import streaming_neardup_dedup

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    a = "the quick brown fox jumps over the lazy dog near the river bank"
    b1 = spark.createDataFrame(
        [(1, a), (2, "completely different content about spark physical plans here")],
        "doc_id bigint, text string",
    )
    b1.write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    streaming_neardup_dedup(stream, ledger, out, str(tmp_path / "ckpt")).start().awaitTermination(120)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]

    # snapshot the ledger as of batch 1 BEFORE batch 2 appends to it
    seen = spark.createDataFrame(
        spark.read.parquet(ledger).select("band", "key").collect(),
        "band int, key string",
    )

    # batch 2: an exact re-post (all bands collide), one novel doc, one
    # too-short doc (no shingles -> no bands -> always kept)
    b2 = spark.createDataFrame(
        [(10, a), (11, "yet another unrelated document with its own words entirely"), (12, "tiny doc")],
        "doc_id bigint, text string",
    )
    b2.write.mode("append").parquet(src)
    streaming_neardup_dedup(stream, ledger, out, str(tmp_path / "ckpt")).start().awaitTermination(120)
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())

    # independent prediction from the batch operators: doc 10's band keys
    # are all already in the ledger written by batch 1
    sigs2 = minhash_signatures(doc_shingles(b2))
    bk2 = band_keys(sigs2)
    hits = set(
        r.doc_id
        for r in bk2.join(seen, ["band", "key"], "left_semi").select("doc_id").distinct().collect()
    )
    assert 10 in hits
    expected = [1, 2] + [i for i in (10, 11, 12) if i not in hits]
    assert got == sorted(expected)
    # ledger only ever holds survivors' bands
    n_ledger_docs = spark.read.parquet(ledger).distinct().count()
    assert n_ledger_docs > 0


def test_streaming_dedup_replay_is_exactly_once(spark, tmp_path):
    """Crash-replay safety (ADVICE r3): survivors and ledger rows are written
    to batch_id-keyed partitions with overwrite semantics, so re-executing a
    batch — including after a crash that committed the out write but not the
    ledger write — overwrites its own partitions instead of appending
    duplicates."""
    from unravelsports_spark.streaming.windows import streaming_incremental_dedup

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "alpha  beta")],
        "doc_id bigint, text string",
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)

    def run(ckpt):
        q = streaming_incremental_dedup(stream, ledger, out, str(tmp_path / ckpt)).start()
        q.awaitTermination(120)

    run("ckpt1")
    first = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert first == [1, 2]

    # full replay of batch 0 (fresh checkpoint reassigns batch_id=0): the
    # overwrite lands on the same partitions — no duplicate survivors
    run("ckpt2")
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]
    assert spark.read.parquet(ledger).select("fingerprint").distinct().count() == 2

    # crash between the two writes: out committed, ledger partition lost —
    # replay must regenerate the ledger without self-deduping against the
    # surviving out partition or duplicating output
    import shutil

    shutil.rmtree(f"{ledger}/batch_id=0")
    run("ckpt3")
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]
    assert spark.read.parquet(ledger).select("fingerprint").distinct().count() == 2


def test_dedup_ledger_compaction_idempotent(spark, tmp_path):
    """Ledger maintenance (VERDICT r3 #7): compaction folds the per-batch
    partitions into one distinct-keyed batch_id=-1 partition; dedup decisions
    after compaction are unchanged, and compaction re-runs converge."""
    from unravelsports_spark.streaming.windows import (
        compact_dedup_ledger,
        streaming_neardup_dedup,
    )

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    a = "the quick brown fox jumps over the lazy dog near the river bank"
    b = "completely different content about spark physical plans here today"
    spark.createDataFrame([(1, a)], "doc_id bigint, text string").write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    streaming_neardup_dedup(stream, ledger, out, ckpt).start().awaitTermination(120)
    spark.createDataFrame([(2, b)], "doc_id bigint, text string").write.mode(
        "append"
    ).parquet(src)
    streaming_neardup_dedup(stream, ledger, out, ckpt).start().awaitTermination(120)

    import os

    parts = sorted(e for e in os.listdir(ledger) if e.startswith("batch_id="))
    assert len(parts) == 2
    keys_before = set(
        (r.band, r.key) for r in spark.read.parquet(ledger).select("band", "key").collect()
    )

    n = compact_dedup_ledger(spark, ledger, key_cols=("band", "key"))
    assert n == len(keys_before)
    assert sorted(
        e for e in os.listdir(ledger) if e.startswith("batch_id=")
    ) == ["batch_id=-1"]
    keys_after = set(
        (r.band, r.key) for r in spark.read.parquet(ledger).select("band", "key").collect()
    )
    assert keys_after == keys_before

    # re-running compaction converges (idempotent)
    assert compact_dedup_ledger(spark, ledger, key_cols=("band", "key")) == n

    # dedup decisions survive compaction: exact re-posts of both docs are
    # dropped, a novel doc passes
    spark.createDataFrame(
        [(10, a), (11, b), (12, "yet another unrelated document with its own words entirely")],
        "doc_id bigint, text string",
    ).write.mode("append").parquet(src)
    streaming_neardup_dedup(stream, ledger, out, ckpt).start().awaitTermination(120)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2, 12]


def test_transform_with_state_matches_apply_in_pandas(spark, workdir):
    """The new transformWithStateInPandas API must agree with the
    applyInPandasWithState formulation across two micro-batches. Skipped
    where google.protobuf (the TWS state-server protocol) is absent — the
    operator itself raises a clear gate in that case."""
    from unravelsports_spark.streaming.windows import stateful_running_counts_tws

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        df = spark.createDataFrame([("a",)], "event_type string")
        with pytest.raises(ImportError, match="protobuf"):
            stateful_running_counts_tws(df, "event_type")
        pytest.skip("google.protobuf unavailable: transformWithState runtime cannot start")

    src = f"{workdir}/tws_src"
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(
        [("a",), ("a",), ("b",)], "event_type string"
    ).write.mode("overwrite").parquet(f"{src}/b1")
    schema = "event_type string"

    def run_once(name):
        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        q = (
            stateful_running_counts_tws(stream, "event_type")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{src}/ckpt_{name}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.event_type: (r.n_events, r.batch_events)
                for r in spark.sql(f"SELECT * FROM {name}").collect()}

    out1 = run_once("tws1")
    assert out1 == {"a": (2, 2), "b": (1, 1)}
    # second micro-batch: state carries across (same checkpoint)
    spark.createDataFrame(
        [("a",), ("c",)], "event_type string"
    ).write.mode("overwrite").parquet(f"{src}/b2")
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    q = (
        stateful_running_counts_tws(stream, "event_type")
        .writeStream.format("memory")
        .queryName("tws2")
        .outputMode("update")
        .option("checkpointLocation", f"{src}/ckpt_tws1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out2 = {r.event_type: (r.n_events, r.batch_events)
            for r in spark.sql("SELECT * FROM tws2").collect()}
    assert out2 == {"a": (3, 1), "c": (1, 1)}  # running counts accumulated


def test_g711_companding_roundtrip():
    """μ-law/A-law: 8-bit companded audio reconstructs at >30 dB SNR (the
    G.711 design point); monotone mapping; silence within quantization."""
    import numpy as np

    from unravelsports_spark.functions.audiocodec import (
        alaw_decode, alaw_encode, mulaw_decode, mulaw_encode,
    )

    rng = np.random.default_rng(2)
    pcm = (rng.normal(0, 0.2, 8000).clip(-1, 1) * 32767).astype(np.int16)
    for enc, dec in ((mulaw_encode, mulaw_decode), (alaw_encode, alaw_decode)):
        back = dec(enc(pcm))
        snr = 10 * np.log10(
            (pcm.astype(float) ** 2).mean() / ((pcm - back).astype(float) ** 2).mean()
        )
        assert snr > 30
        # companded domain is 1 byte/sample
        assert enc(pcm).dtype == np.uint8
        # monotone on the positive ramp
        ramp = np.linspace(0, 32767, 500).astype(np.int16)
        assert (np.diff(enc(ramp).astype(int)) >= 0).all()
        # silence maps within one quantization step of zero (continuous
        # companding has no exact zero level among 256 even steps; A-law's
        # near-zero step is coarser than μ-law's by design)
        assert np.abs(dec(enc(np.zeros(10, np.int16)))).max() <= 8


def test_schema_evolution_merge(spark, tmp_path):
    """Lakehouse schema drift: old files lack a column added later;
    mergeSchema unions the schemas and null-fills the missing column —
    the append-only evolution every long-lived 100 TB table needs."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, text string").write.parquet(p + "/batch=1")
    spark.createDataFrame(
        [(2, "b", "en")], "id bigint, text string, lang string"
    ).write.parquet(p + "/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    rows = {r.id: r for r in df.collect()}
    assert set(df.columns) >= {"id", "text", "lang"}
    assert rows[1].lang is None and rows[2].lang == "en"
    # without mergeSchema the first footer wins — documents why the option
    # matters for evolving corpora
    df_plain = spark.read.parquet(p + "/batch=1")
    assert "lang" not in df_plain.columns


def test_streaming_shard_append_continues_and_replays(spark, tmp_path):
    """Streaming shard producer: batches pack onto the tail shard the
    previous batch left partially full; totals conserve; replaying the last
    batch (simulated by clearing the checkpoint) reproduces identical
    assignments instead of appending drift."""
    import pyspark.sql.functions as F

    from unravelsports_spark.streaming.windows import streaming_shard_append

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    budget = 50
    docs1 = [(i, " ".join(f"w{j}" for j in range(7 + i % 5))) for i in range(30)]
    spark.createDataFrame(docs1, "doc_id bigint, text string").write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)

    def run(ckpt):
        q = streaming_shard_append(
            stream, out, state, ckpt, budget=budget
        ).start()
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    a1 = spark.read.parquet(out)
    t1 = a1.agg(F.sum("n_tokens")).first()[0]
    assert spark.read.parquet(state).agg(F.max("total_tokens")).first()[0] == t1

    # batch 2 continues the shard sequence: its first doc lands on the tail
    # shard of batch 1 (t1 not being an exact multiple of budget)
    docs2 = [(100 + i, " ".join(f"x{j}" for j in range(9))) for i in range(20)]
    spark.createDataFrame(docs2, "doc_id bigint, text string").write.mode(
        "append"
    ).parquet(src)
    run(str(tmp_path / "ckpt1"))
    all_a = spark.read.parquet(out)
    total = all_a.agg(F.sum("n_tokens")).first()[0]
    assert total == t1 + 9 * 20
    # shard ids are the same as a single global pack of (batch1 order, then
    # batch2 order): max shard id == floor((total-1)/budget) and every doc's
    # shard is (run-n)/budget under the concatenated running total
    assert all_a.agg(F.max("shard_id")).first()[0] == (total - 1) // budget
    b2 = all_a.filter("batch_id = 1")
    assert b2.agg(F.min("shard_id")).first()[0] == t1 // budget

    # reprocess from a FRESH checkpoint: everything re-fires as batch 0 and
    # overwrites its own batch_id=0 partition (the overwrite-keyed write is
    # what makes genuine same-checkpoint replay exactly-once); every source
    # doc still appears, none is lost to the overwrite
    run(str(tmp_path / "ckpt2"))
    after_df = spark.read.parquet(out)
    assert after_df.select("doc_id").distinct().count() == 50
    # batch 0 now holds the full repack; its own partition has no duplicates
    assert after_df.filter("batch_id = 0").count() == 50


def test_nb_model_filters_streaming_ingest_same_as_batch(spark, tmp_path):
    """The production inline-filter pattern: an nb_train model artifact
    scores streaming micro-batches (foreachBatch + nb_predict) exactly as
    it scores the same documents in one batch pass."""
    import pyspark.sql.functions as F

    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators.nbayes import nb_predict, nb_train

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    model = nb_train(docs, label_col="lang")
    release_tracked()

    batch_pred = {
        r["doc_id"]: (r["predicted"], r["score_micro"])
        for r in nb_predict(docs, model).collect()
    }

    # stream the same docs in two files -> two micro-batches
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    docs.filter("doc_id % 2 = 0").write.mode("append").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    def _score(batch_df, batch_id: int):
        nb_predict(batch_df, model).write.mode("overwrite").parquet(
            f"{out}/batch_id={batch_id}"
        )

    def run(ckpt):
        q = (
            stream.writeStream.foreachBatch(_score)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt"))
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(src)
    run(str(tmp_path / "ckpt"))

    stream_pred = {
        r["doc_id"]: (r["predicted"], r["score_micro"])
        for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    assert stream_pred == batch_pred


def test_incremental_semdedup_two_batch_equals_batch(spark):
    """Chaining incremental_semdedup over an id-ordered split with the FULL
    ledger (exact mode: removed rows stay witnesses) must keep exactly the
    vectors the one-shot batch path keeps."""
    from pyspark.sql import functions as F

    from unravelsports_spark.operators.similarity import (
        _bucket_cosine_removed,
        _sign_lsh_bev,
        incremental_semdedup,
    )
    from unravelsports_spark.session import read_table

    from .conftest import SF_CORRECT

    e = read_table(spark, SF_CORRECT, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    planes = [
        list(r["v"])
        for r in e.filter(F.col("vec_id").between(1, 16)).orderBy("vec_id").collect()
    ]
    # one-shot batch removal set (fused bev kernel — no key/vector re-join)
    bev = _sign_lsh_bev(e, planes, n_tables=4, bits_per_table=4)
    removed = {
        r["b_id"]
        for r in _bucket_cosine_removed(bev, threshold=0.4).distinct().collect()
    }
    all_ids = {r["vec_id"] for r in e.select("vec_id").collect()}
    batch_survivors = all_ids - removed

    mid = sorted(all_ids)[len(all_ids) // 2]
    b1 = e.filter(F.col("vec_id") <= mid)
    b2 = e.filter(F.col("vec_id") > mid)
    s1 = incremental_semdedup(b1, planes).persist()
    s2 = incremental_semdedup(b2, planes, seen=s1)  # seen = ALL rows: exact
    inc_survivors = {
        r["vec_id"] for r in s1.filter("kept").select("vec_id").distinct().collect()
    } | {r["vec_id"] for r in s2.filter("kept").select("vec_id").distinct().collect()}
    assert inc_survivors == batch_survivors


def test_incremental_semdedup_removed_witness_chain(spark):
    """The adversarial similarity chain from ADVICE r5: sim(1,2) >= t,
    sim(2,3) >= t, sim(1,3) < t, split {1,2} | {3}. Exact mode (full
    ledger) reproduces the one-shot result {1} because removed vector 2
    still witnesses 3's removal; kept-only chaining keeps {1,3} — the
    documented greedy-kept divergence."""
    import math

    from unravelsports_spark.operators.similarity import incremental_semdedup

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    planes = [[1.0, 0.0], [0.0, 1.0]]  # 1 table x 2 bits; all vecs bucket 3
    kw = dict(threshold=0.8, n_tables=1, bits_per_table=2)
    rows = [(1, at(10)), (2, at(40)), (3, at(70))]
    schema = "vec_id bigint, v array<double>"
    full = spark.createDataFrame(rows, schema)

    one_shot = incremental_semdedup(full, planes, **kw)
    assert sorted(
        r["vec_id"] for r in one_shot.filter("kept").select("vec_id").distinct().collect()
    ) == [1]

    b1 = spark.createDataFrame(rows[:2], schema)
    b2 = spark.createDataFrame(rows[2:], schema)
    s1 = incremental_semdedup(b1, planes, **kw).persist()
    exact = incremental_semdedup(b2, planes, seen=s1, **kw)
    assert [r["vec_id"] for r in exact.filter("kept").select("vec_id").collect()] == []

    greedy = incremental_semdedup(b2, planes, seen=s1.filter("kept"), **kw)
    assert [r["vec_id"] for r in greedy.filter("kept").select("vec_id").collect()] == [3]


def test_streaming_semdedup_many_batches_compaction_and_replay(spark, tmp_path):
    """N micro-batches of embedding ingest == the one-shot batch removal set
    (exact ledger mode, id-ordered arrival); mid-stream ledger compaction
    (`compact_dedup_ledger`) changes no subsequent decision; and replaying
    the final batch (checkpoint delete + same source) is idempotent —
    output and ledger key sets are unchanged. Pins the ledger-growth
    contract: after compaction the ledger holds exactly one row per
    (vec_id, tbl, bucket) key ever ingested."""
    import numpy as np
    from pyspark.sql import functions as F

    from unravelsports_spark.operators.similarity import incremental_semdedup
    from unravelsports_spark.streaming.windows import (
        compact_dedup_ledger,
        streaming_semdedup,
    )

    rng = np.random.default_rng(7)
    dim, n_per, n_batches = 6, 12, 5
    rows = []
    vid = 0
    base_vecs = []
    for b in range(n_batches):
        batch = []
        for i in range(n_per):
            if base_vecs and (vid % 3 == 0):
                # near-copy of an EARLIER vector (cosine ~1): must drop
                src = base_vecs[vid % len(base_vecs)]
                v = [x * (1.0 + 0.0001 * (i + 1)) for x in src]
            else:
                v = [float(x) for x in rng.normal(size=dim)]
                base_vecs.append(v)
            batch.append((vid, v))
            vid += 1
        rows.append(batch)
    planes = [[float(x) for x in rng.normal(size=dim)] for i in range(8)]
    kw = dict(threshold=0.95, n_tables=2, bits_per_table=4)
    schema = "vec_id bigint, v array<double>"

    # ground truth: one-shot batch over everything
    all_df = spark.createDataFrame([r for b in rows for r in b], schema)
    expected = sorted(
        r["vec_id"]
        for r in incremental_semdedup(all_df, planes, **kw)
        .filter("kept").select("vec_id").distinct().collect()
    )

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = spark.readStream.schema(schema).parquet(src)
        q = streaming_semdedup(stream, planes, ledger, out, ckpt, **kw).start()
        q.awaitTermination(180)

    import shutil

    ckpt_snapshot = str(tmp_path / "ckpt_snapshot")
    for b, batch in enumerate(rows):
        spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
        if b == n_batches - 1:
            # snapshot the checkpoint BEFORE the last batch commits — the
            # crash-replay scenario (ledger/out written, checkpoint lost)
            shutil.copytree(ckpt, ckpt_snapshot)
        run_stream()
        if b == 2:  # compact mid-stream (the maintenance window)
            n = compact_dedup_ledger(
                spark, ledger, ["vec_id", "tbl", "bucket", "v", "n2", "kept"]
            )
            led = spark.read.parquet(ledger)
            assert led.count() == n
            # exactly one row per ingested (vec_id, tbl) pair so far
            assert n == (b + 1) * n_per * kw["n_tables"]

    got = sorted(
        r["vec_id"] for r in spark.read.parquet(out).select("vec_id").distinct().collect()
    )
    assert got == expected

    # ledger holds EVERY ingested vector (exact mode), kept rows = survivors
    led = spark.read.parquet(ledger)
    assert led.select("vec_id").distinct().count() == n_batches * n_per
    assert sorted(
        r["vec_id"] for r in led.filter("kept").select("vec_id").distinct().collect()
    ) == expected

    # replay idempotence: restore the pre-final-batch checkpoint and re-run —
    # structured streaming redelivers the LAST batch under its original
    # batch_id; the batch-id-keyed overwrites and ledger self-exclusion
    # converge to the identical output and ledger key set
    shutil.rmtree(ckpt)
    shutil.copytree(ckpt_snapshot, ckpt)
    run_stream()
    got2 = sorted(
        r["vec_id"] for r in spark.read.parquet(out).select("vec_id").distinct().collect()
    )
    assert got2 == expected
    led2 = spark.read.parquet(ledger)
    assert led2.select("vec_id", "tbl", "bucket").distinct().count() == \
        n_batches * n_per * kw["n_tables"]


def test_streaming_semdedup_foreachbatch(spark, tmp_path):
    """foreachBatch embedding near-dup ledger: a batch-2 vector nearly
    identical to a batch-1 survivor is dropped; a novel vector survives;
    the ledger holds survivors in bucketed format."""
    from unravelsports_spark.streaming.windows import streaming_semdedup

    dim = 8
    planes = [[1.0 if d == (i % dim) else 0.01 for d in range(dim)] for i in range(16)]
    A = [1.0, 0.1, -0.2, 0.3, 0.0, 0.5, -0.1, 0.2]
    B = [-0.9, 0.8, 0.1, -0.7, 0.2, -0.3, 0.9, -0.5]
    A2 = [x * 1.001 for x in A]  # cosine ~1 with A -> must drop
    C = [0.0, -1.0, 0.9, 0.8, -0.6, 0.1, 0.4, -0.9]

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    spark.createDataFrame([(1, A), (2, B)], "vec_id bigint, v array<double>").write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("vec_id bigint, v array<double>").parquet(src)
    q = streaming_semdedup(
        stream, planes, ledger, out, str(tmp_path / "ckpt"), threshold=0.8
    ).start()
    q.awaitTermination(120)
    assert sorted(r.vec_id for r in spark.read.parquet(out).collect()) == [1, 2]

    spark.createDataFrame(
        [(10, A2), (11, C)], "vec_id bigint, v array<double>"
    ).write.mode("append").parquet(src)
    q = streaming_semdedup(
        stream, planes, ledger, out, str(tmp_path / "ckpt"), threshold=0.8
    ).start()
    q.awaitTermination(120)
    assert sorted(r.vec_id for r in spark.read.parquet(out).collect()) == [1, 2, 11]
    led = spark.read.parquet(ledger)
    assert set(led.columns) >= {"vec_id", "tbl", "bucket", "v", "n2", "kept"}
    # exact ledger mode: ALL vectors land in the ledger, dropped ones
    # flagged kept=false (they remain removal witnesses)
    assert sorted(
        r.vec_id for r in led.select("vec_id").distinct().collect()
    ) == [1, 2, 10, 11]
    assert sorted(
        r.vec_id for r in led.filter("kept").select("vec_id").distinct().collect()
    ) == [1, 2, 11]


def test_streaming_term_stats_bm25_equivalence(spark, tmp_path):
    """Incremental retrieval index: BM25 corpus stats maintained over 3
    micro-batches must reproduce the batch operator's scores EXACTLY (the
    deltas are associative integer sums, so the ledger-summed stats equal
    the one-shot aggregation), and a replayed batch must not double-count."""
    from unravelsports_spark.operators.retrieval import bm25_scores
    from unravelsports_spark.streaming.windows import (
        streaming_term_stats,
        term_stats_from_ledger,
    )

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        [(1, "alpha beta alpha"), (2, "beta gamma")],
        [(3, "alpha delta delta epsilon"), (4, "")],
        [(5, "gamma gamma alpha"), (6, "zeta")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        q = streaming_term_stats(stream, ledger, ckpt).start()
        q.awaitTermination(120)

    terms = ["alpha", "gamma", "zeta", "missing"]
    n_docs, sum_dl, dfs = term_stats_from_ledger(spark, ledger, terms)
    full = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id bigint, text string"
    )
    assert n_docs == 6 and sum_dl == 13  # 3+2 + 4+0 + 3+1 tokens
    assert dfs == {"alpha": 3, "gamma": 2, "zeta": 1, "missing": 0}

    # scoring the full corpus with ledger stats == the batch operator
    from_ledger = sorted(
        map(tuple, bm25_scores(full, terms, corpus_stats=(n_docs, sum_dl, dfs)).collect())
    )
    one_shot = sorted(map(tuple, bm25_scores(full, terms).collect()))
    assert from_ledger == one_shot

    # replay safety: re-running the last batch's delta write (overwrite by
    # batch_id) must leave the summed stats unchanged
    import glob

    parts = sorted(glob.glob(f"{ledger}/batch_id=*"))
    assert len(parts) == 3
    again = term_stats_from_ledger(spark, ledger, terms)
    assert again == (n_docs, sum_dl, dfs)


def test_streaming_user_days_rolling_actives_equivalence(spark, tmp_path):
    """The incremental user-day ledger must reproduce the certified batch
    rolling-actives query EXACTLY across 3 micro-batches (set union is
    idempotent+associative), including a user-day repeated across batches;
    replaying a batch must not change the result."""
    import datetime as dt

    from unravelsports_spark.streaming.windows import (
        rolling_active_users,
        rolling_active_users_from_ledger,
        streaming_user_days,
    )

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    def ts(day, h=0):
        return dt.datetime(2024, 3, day, h, 0, 0)

    batches = [
        [(1, ts(1)), (2, ts(1, 5)), (1, ts(3))],
        [(1, ts(1, 9)), (3, ts(8))],     # (1, day1) repeats across batches
        [(2, ts(9)), (4, ts(20)), (1, ts(21))],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "user_id bigint, ts timestamp").write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
        q = streaming_user_days(stream, ledger, ckpt).start()
        q.awaitTermination(120)

    full = spark.createDataFrame(
        [r for rows in batches for r in rows], "user_id bigint, ts timestamp"
    )
    one_shot = rolling_active_users(
        full.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        ).distinct()
    )
    got = sorted(map(tuple, rolling_active_users_from_ledger(spark, ledger).collect()))
    want = sorted(map(tuple, one_shot.collect()))
    assert got == want and len(got) > 0
    # day 8 sees users {1 (day 3 within 7d? no: 8-3=5 ✓), 3} → spot-check one cell
    by_day = {
        dt.datetime.fromtimestamp(d / 1000, dt.timezone.utc).date(): n
        for d, n in got
    }
    assert by_day[dt.date(2024, 3, 8)] == 2  # user 1 (active day 3) + user 3
    # replay safety: the ledger partitions are keyed by batch_id
    import glob

    assert len(glob.glob(f"{ledger}/batch_id=*")) == 3
    again = sorted(map(tuple, rolling_active_users_from_ledger(spark, ledger).collect()))
    assert again == got


def test_retention_from_ledger_matches_certified_batch_query(spark, tmp_path):
    """The user-day ledger must reproduce the certified a20 retention
    matrix EXACTLY on the same events (cohorts are a pure function of the
    user-day set): stream sf0.001 events in 3 chunks, compare against
    QUERIES['a20_retention_cohorts'] on the full table."""
    from unravelsports_spark.plans import QUERIES
    from unravelsports_spark.session import read_table
    from unravelsports_spark.streaming.windows import (
        retention_cohorts_from_ledger,
        streaming_user_days,
    )

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    events = read_table(spark, sf, "events").select("user_id", "ts")
    chunks = [
        events.filter(F.col("user_id") % 3 == i) for i in range(3)
    ]
    for c in chunks:
        c.write.mode("append").parquet(src)
        stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
        q = streaming_user_days(stream, ledger, ckpt).start()
        q.awaitTermination(120)

    got = sorted(map(tuple, retention_cohorts_from_ledger(spark, ledger).collect()))
    want = sorted(map(tuple, QUERIES["a20_retention_cohorts"](spark, sf).collect()))
    assert got == want and len(got) > 0


def test_streaming_funnel_matches_certified_batch_query(spark, tmp_path):
    """Stateful streaming funnel across 3 event-time-ordered micro-batches
    must land every user on the same final stage the certified batch a21
    computes from the full history."""
    from unravelsports_spark.plans import QUERIES
    from unravelsports_spark.session import read_table
    from unravelsports_spark.streaming.windows import streaming_funnel

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events = read_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cuts = ["2024-01-11", "2024-01-21"]
    chunks = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    final = {}

    ooo = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = r["stage"]  # update mode: last write wins
            ooo[r["user_id"]] = r["ooo_events"]  # cumulative; last write wins

    for c in chunks:
        c.write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string"
        ).parquet(src)
        q = (
            streaming_funnel(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = {
        "view": sum(1 for s in final.values() if s >= 1),
        "click": sum(1 for s in final.values() if s >= 2),
        "purchase": sum(1 for s in final.values() if s >= 3),
    }
    want = {
        r["stage"]: r["n_users"]
        for r in QUERIES["a21_ordered_funnel"](spark, sf).collect()
    }
    assert got == want and got["view"] > 0
    # event-time-ordered delivery: the ooo detector must stay silent,
    # certifying this run exact vs the batch twin (ADVICE r7 #1)
    assert all(v == 0 for v in ooo.values())


def test_streaming_funnel_multichunk_group_ordering(spark, tmp_path):
    """Regression for the per-chunk sort bug: with Arrow batches capped at
    4 rows, a 12-event user arrives as MULTIPLE chunks; rows are written
    in REVERSED event-time order so any per-chunk processing sees the
    latest events first and corrupts the chained state. The concat-then-
    sort implementation must still land the user on stage 3."""
    import datetime as dt

    from unravelsports_spark.streaming.windows import streaming_funnel

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 5, 1)
    seq = ["view", "error", "click", "error", "purchase"] + ["error"] * 7
    rows = [
        (i + 1, base + dt.timedelta(hours=i), 1, et, )
        for i, et in enumerate(seq)
    ]
    rows = rows[::-1]  # reversed event-time order in the file
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        final = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                final[r["user_id"]] = (r["stage"], r["t1_ms"], r["t2_ms"], r["t3_ms"])

        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string"
        ).parquet(src)
        q = (
            streaming_funnel(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    stage, t1, t2, t3 = final[1]
    assert stage == 3
    ms = lambda h: int((base + dt.timedelta(hours=h)).replace(  # noqa: E731
        tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert (t1, t2, t3) == (ms(0), ms(2), ms(4))


def test_streaming_touch_attribution_matches_certified_batch_query(spark, tmp_path):
    """Streaming first/last-touch attribution across 3 event-time-ordered
    micro-batches must reproduce the certified a22 conversion matrix
    EXACTLY (cells, counts, and integer time-to-convert totals)."""
    from unravelsports_spark.plans import QUERIES
    from unravelsports_spark.session import read_table
    from unravelsports_spark.streaming.windows import streaming_touch_attribution

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events = read_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cuts = ["2024-01-11", "2024-01-21"]
    chunks = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    final = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = r  # update mode: last write wins

    for c in chunks:
        c.write.mode("append").parquet(src)
        q = (
            streaming_touch_attribution(
                spark.readStream.schema(
                    "event_id bigint, ts timestamp, user_id bigint, event_type string"
                ).parquet(src)
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    assert all(r["ooo_events"] == 0 for r in final.values())
    matrix = {}
    for r in final.values():
        if r["converted"]:
            k = (r["first_touch"], r["last_touch"])
            n, tot = matrix.get(k, (0, 0))
            matrix[k] = (n + 1, tot + (r["p_ms"] - r["first_ms"]))
    want = {
        (r["first_touch"], r["last_touch"]): (r["n_users"], r["total_ms_to_convert"])
        for r in QUERIES["a22_touch_attribution"](spark, sf).collect()
    }
    assert matrix == want and len(want) > 0


def test_streaming_touch_attribution_purchase_tie_semantics(spark, tmp_path):
    """The batch rule is STRICT ts < p_ts: a touch at exactly the purchase
    timestamp never attributes. Stream order processes it first (lower
    event_id), so the purchase event must demote a tied last touch to the
    previous strictly-earlier one, and a tied FIRST touch (no earlier
    touch) must leave the user unattributed."""
    import datetime as dt

    from unravelsports_spark.streaming.windows import streaming_touch_attribution

    base = dt.datetime(2024, 5, 1)
    t = lambda h: base + dt.timedelta(hours=h)  # noqa: E731
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    rows = [
        # user 1: view@1, click@3, signup@5 TIED with purchase@5 → last
        # touch must demote to click@3
        (10, t(1), 1, "view"), (11, t(3), 1, "click"),
        (12, t(5), 1, "signup"), (13, t(5), 1, "purchase"),
        # user 2: only touch is tied with the purchase → unattributed
        (20, t(2), 2, "click"), (21, t(2), 2, "purchase"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    final = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = r

    q = (
        streaming_touch_attribution(
            spark.readStream.schema(schema).parquet(src)
        )
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    r1 = final[1]
    assert r1["converted"] and (r1["first_touch"], r1["last_touch"]) == ("view", "click")
    r2 = final[2]
    assert not r2["converted"] and r2["first_touch"] is None


def test_streaming_touch_attribution_ignores_strictly_late_touch(spark, tmp_path):
    """ADVICE r8 #1: a strictly-late out-of-order touch (ts before a PRIOR
    batch's last touch) must be flagged by ooo_events and IGNORED — never
    fold into state by overwriting the newer last-touch type while keeping
    the newer timestamp (a hybrid that matches neither arrival order nor
    batch (ts, event_id) order)."""
    import datetime as dt

    from unravelsports_spark.streaming.windows import streaming_touch_attribution

    base = dt.datetime(2024, 5, 1)
    t = lambda h: base + dt.timedelta(hours=h)  # noqa: E731
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    batch1 = [(10, t(1), 1, "view"), (11, t(5), 1, "signup")]
    # click@2 arrives in batch 2 — strictly late vs the batch-1 signup@5
    batch2 = [(12, t(2), 1, "click"), (13, t(8), 1, "purchase")]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    final = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = r

    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            streaming_touch_attribution(
                spark.readStream.schema(schema).parquet(src)
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    r = final[1]
    assert r["ooo_events"] == 1  # the late click is observable...
    assert r["converted"]
    # ...and ignored: last touch stays the batch-1 signup@5, not a hybrid
    # ('click', ts=5) state
    assert (r["first_touch"], r["last_touch"]) == ("view", "signup")


def test_streaming_scd2_matches_certified_batch_query(spark, tmp_path):
    """Incremental SCD2 maintenance across 3 event-time-ordered
    micro-batches: the merged ledger view must equal the certified w11
    batch derivation row-for-row (including open-row rewrites across
    batch boundaries and unchanged-state collapse)."""
    from unravelsports_spark.plans import QUERIES
    from unravelsports_spark.session import read_table
    from unravelsports_spark.streaming.windows import scd2_from_ledger, streaming_scd2

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    events = read_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cuts = ["2024-01-11", "2024-01-21"]
    chunks = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    for c in chunks:
        c.write.mode("append").parquet(src)
        q = streaming_scd2(
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string"
            ).parquet(src),
            ledger, ckpt,
        ).start()
        q.awaitTermination(120)

    got = sorted(map(tuple, scd2_from_ledger(spark, ledger).collect()))
    want = sorted(map(tuple, QUERIES["w11_scd2_intervals"](spark, sf).collect()))
    assert got == want and len(got) > 0


def test_streaming_scd2_unchanged_state_is_o_of_changes(spark, tmp_path):
    """The O(changes) property: a micro-batch whose events all repeat each
    key's current state writes NO new version rows — only the open-row
    rewrite — and a replayed batch overwrites its own partition
    (idempotent)."""
    import datetime as dt

    from unravelsports_spark.streaming.windows import scd2_from_ledger, streaming_scd2

    base = dt.datetime(2024, 5, 1)
    t = lambda h: base + dt.timedelta(hours=h)  # noqa: E731
    ms = lambda h: int(t(h).replace(  # noqa: E731
        tzinfo=dt.timezone.utc).timestamp() * 1000)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    b1 = [(1, t(0), 1, "view"), (2, t(1), 1, "click")]
    b2 = [(3, t(2), 1, "click"), (4, t(3), 1, "click")]  # no state change
    b3 = [(5, t(4), 1, "purchase")]
    for rows in (b1, b2, b3):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = streaming_scd2(
            spark.readStream.schema(schema).parquet(src), ledger, ckpt
        ).start()
        q.awaitTermination(120)

    got = sorted(map(tuple, scd2_from_ledger(spark, ledger).collect()))
    OPEN = 9223372036854775807
    assert got == [
        (1, "click", ms(1), ms(4), False),
        (1, "purchase", ms(4), OPEN, True),
        (1, "view", ms(0), ms(1), False),
    ]
    # batch 2 (the all-unchanged batch) wrote exactly ONE row: the open-row
    # rewrite of (click, ms(1)) — no new versions
    b2_rows = spark.read.parquet(ledger).filter(F.col("batch_id") == 1).collect()
    assert len(b2_rows) == 1 and b2_rows[0]["valid_from_ms"] == ms(1)


def test_streaming_funnel_flags_out_of_order_arrival(spark, tmp_path):
    """ADVICE r7 #1: a user whose view arrives in a LATER micro-batch than
    their click (broken event-time-order contract) must be observably
    flagged via ooo_events > 0 — previously the divergence from the batch
    a21 twin was silent. User 2 delivers in order and must stay at 0."""
    import datetime as dt

    from unravelsports_spark.streaming.windows import streaming_funnel

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 5, 1)
    t = lambda h: base + dt.timedelta(hours=h)  # noqa: E731
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    # batch 1: user 1's click at h=5 (their view exists at h=1 but is late);
    # user 2's view at h=1 (in order)
    b1 = [(10, t(5), 1, "click"), (20, t(1), 2, "view")]
    # batch 2: user 1's LATE view (ts before the already-processed click);
    # user 2's click at h=6 (in order)
    b2 = [(11, t(1), 1, "view"), (21, t(6), 2, "click")]
    final = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = (r["stage"], r["ooo_events"])

    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            streaming_funnel(spark.readStream.schema(schema).parquet(src))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    stage1, ooo1 = final[1]
    stage2, ooo2 = final[2]
    assert ooo1 == 1  # the late view is counted, divergence is observable
    assert stage1 == 1  # late view folds in (no view yet) but click was lost
    assert (stage2, ooo2) == (2, 0)  # in-order user: exact, unflagged


def test_streaming_twins_flag_cross_batch_same_ts_tie(spark, tmp_path):
    """A same-timestamp event arriving in a LATER micro-batch is a tie the
    batch queries break by event_id across the whole history — which a
    later batch cannot replay. Both GroupState twins must flag it
    (ooo_events > 0) even though the timestamp is not strictly earlier;
    same-ts events within ONE batch must stay unflagged."""
    import datetime as dt

    from unravelsports_spark.streaming.windows import (
        streaming_funnel,
        streaming_touch_attribution,
    )

    base = dt.datetime(2024, 5, 1)
    t = lambda h: base + dt.timedelta(hours=h)  # noqa: E731
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    # user 1: tie straddles the batch boundary (click@2 in b1, signup@2 in
    # b2 with a LOWER event_id — the unreplayable case); user 2: the same
    # tie entirely inside one batch (must NOT flag)
    b1 = [(10, t(1), 1, "view"), (19, t(2), 1, "click"),
          (20, t(1), 2, "view"), (29, t(2), 2, "click"), (23, t(2), 2, "signup")]
    b2 = [(13, t(2), 1, "signup"), (30, t(3), 2, "purchase")]

    for mk, extract in (
        (streaming_funnel, lambda r: r["ooo_events"]),
        (streaming_touch_attribution, lambda r: r["ooo_events"]),
    ):
        src = str(tmp_path / f"src_{mk.__name__}")
        ckpt = str(tmp_path / f"ckpt_{mk.__name__}")
        final = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                final[r["user_id"]] = extract(r)

        for rows in (b1, b2):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = (
                mk(spark.readStream.schema(schema).parquet(src))
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        assert final[1] == 1, mk.__name__   # cross-batch tie flagged
        assert final[2] == 0, mk.__name__   # in-batch tie unflagged


def test_streaming_daily_anomalies_matches_certified_batch_query(spark, tmp_path):
    """Streaming rolling-zscore anomaly detection across 3 event-time-
    ordered micro-batches must reproduce the certified w14 batch rows
    EXACTLY — every (key, day) cell: count, rounded mean/std, zscore with
    cold-start/zero-variance guards, and the anomaly flag."""
    from unravelsports_spark.plans import QUERIES
    from unravelsports_spark.session import read_table
    from unravelsports_spark.streaming.windows import streaming_daily_anomalies

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events = read_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cuts = ["2024-01-11", "2024-01-21"]
    chunks = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    final = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            assert r["ooo_events"] == 0
            final[(r["event_type"], r["day_ms"])] = (
                r["n_events"], r["mean_prev"], r["std_prev"],
                r["zscore"], r["is_anomaly"],
            )

    for c in chunks:
        c.write.mode("append").parquet(src)
        q = (
            streaming_daily_anomalies(
                spark.readStream.schema(
                    "event_id bigint, ts timestamp, user_id bigint, event_type string"
                ).parquet(src)
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    want = {
        (r["event_type"], r["day_ms"]): (
            r["n_events"], r["mean_prev"], r["std_prev"],
            r["zscore"], r["is_anomaly"],
        )
        for r in QUERIES["w14_daily_anomalies"](spark, sf).collect()
    }
    assert final == want and len(want) > 20


def test_streaming_daily_anomalies_flags_and_ignores_closed_day(spark, tmp_path):
    """An event landing on an already-CLOSED day is unreplayable: it must
    increment ooo_events and be IGNORED (the closed day's emitted count
    stays final; current-day state is not corrupted). Within-day disorder
    is order-independent and must NOT flag."""
    import datetime as dt

    from unravelsports_spark.streaming.windows import streaming_daily_anomalies

    base = dt.datetime(2024, 5, 1)
    t = lambda d, h=0: base + dt.timedelta(days=d, hours=h)  # noqa: E731
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    batch1 = [
        (2, t(0, 5), 1, "view"), (1, t(0, 3), 1, "view"),  # within-day disorder
        (3, t(1, 1), 1, "view"),
    ]
    batch2 = [(4, t(0, 9), 1, "view"), (5, t(1, 2), 1, "view")]  # day-0 is closed
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rows_seen = []

    def sink(batch_df, batch_id):
        rows_seen.extend(batch_df.collect())

    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            streaming_daily_anomalies(
                spark.readStream.schema(schema).parquet(src)
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    ms = lambda d: int((base + dt.timedelta(days=d)).replace(  # noqa: E731
        hour=0, tzinfo=dt.timezone.utc).timestamp() * 1000)
    final = {r["day_ms"]: r for r in rows_seen}
    # batch 1: within-day disorder did not flag, day 0 closed at count 2
    b1 = [r for r in rows_seen if r["ooo_events"] == 0]
    assert {r["day_ms"]: r["n_events"] for r in b1} == {ms(0): 2, ms(1): 1}
    # batch 2: the day-0 straggler flagged + ignored; day 1 grew to 2
    assert final[ms(1)]["ooo_events"] == 1
    assert final[ms(1)]["n_events"] == 2
    assert final[ms(0)]["n_events"] == 2  # closed count never rewritten


def test_streaming_ann_index_matches_batch_ivf(spark, tmp_path):
    """Streamed cell-partitioned IVF index across 3 micro-batches: search
    from the index must return EXACTLY what batch ivf_topk returns on the
    full vector set (same literal-centroid assignment, same probe ranking,
    same cosine tie-breaks), and the probed-cell filter must prune at the
    parquet scan (PartitionFilters), not post-scan."""
    import numpy as np

    from unravelsports_spark.operators.similarity import ivf_topk
    from unravelsports_spark.session import read_table
    from unravelsports_spark.streaming.windows import (
        ann_search_from_index,
        streaming_ann_ingest,
    )

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings").select("vec_id", "embedding")
    init = emb.orderBy("vec_id").limit(6).collect()
    cents = np.asarray([[float(v) for v in r["embedding"]] for r in init])

    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    n = emb.count()
    cuts = [n // 3, 2 * n // 3]
    chunks = [
        emb.filter(F.col("vec_id") < cuts[0]),
        emb.filter((F.col("vec_id") >= cuts[0]) & (F.col("vec_id") < cuts[1])),
        emb.filter(F.col("vec_id") >= cuts[1]),
    ]
    schema = "vec_id bigint, embedding array<float>"
    for c in chunks:
        c.write.mode("append").parquet(src)
        q = streaming_ann_ingest(
            spark.readStream.schema(schema).parquet(src), cents, idx, ckpt
        ).start()
        q.awaitTermination(120)

    queries = [r["embedding"] for r in emb.filter(F.col("vec_id").isin(1, 7, 42)).collect()]
    assert len(queries) == 3
    for qv in queries:
        qv = [float(v) for v in qv]
        got = sorted(
            map(tuple, ann_search_from_index(spark, idx, cents, qv, k=5, n_probe=2).collect())
        )
        want = sorted(
            map(tuple, ivf_topk(emb, qv, cents, k=5, n_probe=2).collect())
        )
        assert got == want and len(got) == 5

    plan = (
        ann_search_from_index(spark, idx, cents, queries[0], k=5, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [cell" in plan.replace("PartitionFilters: [isnotnull(cell", "PartitionFilters: [cell")


def test_streaming_ann_index_serves_latest_version_on_reingest(spark, tmp_path):
    """r9 review finding: a vector RE-ingested with a changed embedding in
    a later batch must never rank with its stale version — the search's
    latest-batch semi-join keeps exactly one (the newest) row per id, and
    a vector whose update moved it OUT of the probed cells disappears
    instead of being served stale."""
    import numpy as np

    from unravelsports_spark.streaming.windows import (
        ann_search_from_index,
        streaming_ann_ingest,
    )

    # 2-D toy space: cells at (1,0) and (0,1)
    cents = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    schema = "vec_id bigint, embedding array<float>"
    batch1 = [
        (1, [0.9, 0.1]), (2, [0.8, 0.0]),   # cell 0
        (3, [0.1, 0.9]),                     # cell 1
    ]
    # batch 2: vec 1 UPDATED within cell 0; vec 2 MOVED to cell 1
    batch2 = [(1, [1.0, 0.05]), (2, [0.05, 1.0])]
    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = streaming_ann_ingest(
            spark.readStream.schema(schema).parquet(src), cents, idx, ckpt
        ).start()
        q.awaitTermination(120)

    # probe ONLY cell 0 (query along x): vec 1 must appear once with its
    # UPDATED cosine; vec 2's stale cell-0 row must be filtered (its
    # latest version lives in unprobed cell 1); no duplicate ids
    got = ann_search_from_index(
        spark, idx, cents, [1.0, 0.0], k=10, n_probe=1
    ).collect()
    ids = [r["vec_id"] for r in got]
    assert ids.count(1) == 1 and 2 not in ids
    from math import sqrt

    want_cos = round((1.0 * 1.0 + 0.05 * 0.0) / (sqrt(1.0 + 0.05**2) * 1.0), 6)
    assert {r["vec_id"]: r["cosine"] for r in got}[1] == want_cos
    # probing both cells returns each id exactly once (vec 2 at its NEW home)
    both = ann_search_from_index(spark, idx, cents, [1.0, 1.0], k=10, n_probe=2).collect()
    assert sorted(r["vec_id"] for r in both) == [1, 2, 3]
