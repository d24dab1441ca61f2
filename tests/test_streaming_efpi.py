"""Streaming EFPI hysteresis: two micro-batches must equal one batch run.

The K13 sticky-formation state (change_threshold hysteresis) is sequential
across frames; splitting a game across micro-batches only works if the state
survives the batch boundary via GroupState. We feed the same game's frames in
two parquet files processed in two triggers and compare every (frame, player)
position/formation against the batch EFPI path.
"""

import os

from pyspark.sql import functions as F

from unravelsports_spark.datasets.synthetic import AWAY, HOME, synthetic_tracking_df
from unravelsports_spark.models.efpi import EFPI
from unravelsports_spark.settings import DefaultSettings
from unravelsports_spark.streaming.efpi_stream import streaming_formation_detection


def test_streaming_equals_batch_across_microbatches(spark, tmp_path):
    settings = DefaultSettings(home_team_id=HOME, away_team_id=AWAY)
    tracking = synthetic_tracking_df(spark, n_frames=60, n_games=1, seed=5).cache()
    split_frame = sorted(r.frame_id for r in tracking.select("frame_id").distinct().collect())[30]

    # batch truth: one ordered pass over all frames, sticky threshold active
    batch = (
        EFPI(tracking, settings)
        .fit(every="frame", change_threshold=0.1)
        .output.select("frame_id", "id", "position", "formation")
        .collect()
    )
    want = {(r.frame_id, r.id): (r.position, r.formation) for r in batch}

    src = f"{tmp_path}/src"
    os.makedirs(src, exist_ok=True)
    schema = tracking.schema
    tracking.filter(F.col("frame_id") < split_frame).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/b0")
    out = streaming_formation_detection(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(f"{src}/*"),
        settings,
        change_threshold=0.1,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("efpi_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT count(*) c FROM efpi_stream").head().c
        assert n_first > 0
        # second micro-batch arrives after the first is fully processed
        tracking.filter(F.col("frame_id") >= split_frame).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b1")
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT frame_id, id, position, formation FROM efpi_stream"
        ).collect()
    finally:
        q.stop()
    assert len(rows) > n_first, "second micro-batch produced no rows"

    got = {(r.frame_id, r.id): (r.position, r.formation) for r in rows}
    assert set(got) == set(want)
    mismatches = [(k, got[k], want[k]) for k in want if got[k] != want[k]]
    assert not mismatches, mismatches[:10]
    tracking.unpersist()
