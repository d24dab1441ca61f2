"""EFPI formation detection as a Structured Streaming stateful operator.

The reference's K13 hysteresis (unravel/soccer/models/formations/detection.py:92-148,
applied at efpi.py:222-242) keeps a per-team "sticky" formation assignment that
only updates when the roster changes, possession flips, or the new assignment
beats the held one by `change_threshold`. In batch we run it inside one
ordered per-game kernel (models/efpi.py). Under streaming, frames arrive in
micro-batches, so the sticky state must survive the batch boundary: this is
exactly `applyInPandasWithState` — the per-game `DetectedFormation` dict is
serialized into GroupState between micro-batches and rehydrated on the next
trigger.

Each micro-batch is cut into ordered frame runs by `models.frames.split_runs`
and detected by `models.efpi._frames_rows`, the same pair the batch kernel
uses, so batch and streaming results are identical when frames arrive in
order (tests/test_streaming_efpi.py proves two micro-batches == one batch
run). Across micro-batches the operator is order-sensitive by design —
hysteresis is a sequential semantic, matching the reference.

Scale: state is one tiny dict per game (two teams × ≤11 labels), keyed by
game_id — the same "many games, embarrassingly parallel after one shuffle"
posture as every other kernel here.
"""

from __future__ import annotations

import json
from typing import List, Optional, Union

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

from ..models.efpi import _FRAME_COLS, _FRAME_SCHEMA, _frames_rows
from ..models.formations import DetectedFormation, Formations
from ..models.frames import split_runs
from ..schema import Column
from ..settings import DefaultSettings

_STATE_SCHEMA = "s string"


def _serialize_state(forms: Formations) -> str:
    return json.dumps(
        {
            str(team): {
                "is_attack": bool(st.is_attack),
                "formation_name": str(st.formation_name),
                "cost": float(st.cost),
                "ids": [str(i) for i in st.ids],
                "labels": {str(k): str(v) for k, v in st.labels_dict.items()},
            }
            for team, st in forms.detected_formations.items()
        }
    )


def _restore_state(forms: Formations, payload: str) -> None:
    for team, d in json.loads(payload).items():
        ids = np.asarray(d["ids"], dtype=object)
        st = DetectedFormation(
            is_attack=d["is_attack"],
            formation_name=d["formation_name"],
            cost=d["cost"],
            labels=np.asarray([d["labels"].get(i) for i in d["ids"]], dtype=object),
            ids=ids,
        )
        # labels_dict may hold more players than the founding roster (update()
        # merges); restore the full map, not just the zip of ids/labels
        st.labels_dict = dict(d["labels"])
        forms.detected_formations[team] = st


def streaming_formation_detection(
    df: DataFrame,
    settings: Optional[DefaultSettings] = None,
    formations: Union[List[str], str, None] = None,
    change_threshold: float | None = None,
    change_after_possession: bool = True,
) -> DataFrame:
    """Per-frame EFPI over a (possibly streaming) canonical tracking frame —
    same output rows as `EFPI(...).fit(every="frame")` minus the final
    is_attacking projection, with K13 state carried across micro-batches."""
    settings = settings or DefaultSettings()
    pitch = settings.pitch_dimensions
    pl_len, pl_wid = pitch.pitch_length, pitch.pitch_width
    orientation, home_id = settings.orientation, settings.home_team_id
    state_cfg = {
        "change_threshold": change_threshold,
        "change_after_possession": change_after_possession,
    }
    out_cols = _FRAME_SCHEMA.fieldNames()

    def fn(key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        forms = Formations(pl_len, pl_wid, formations)
        if state.exists:
            _restore_state(forms, state.get[0])
        runs = split_runs(pdf, [Column.FRAME_ID], [Column.OBJECT_ID])
        out = _frames_rows(runs, forms, state_cfg, orientation, home_id)
        state.update((_serialize_state(forms),))
        yield pd.DataFrame(out, columns=out_cols)

    return (
        df.select(*_FRAME_COLS)
        .groupBy(Column.GAME_ID)
        .applyInPandasWithState(
            fn, _FRAME_SCHEMA, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
        )
    )
