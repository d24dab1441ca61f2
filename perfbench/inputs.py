"""Seeded benchmark inputs, staged as parquet before anything is timed.

Tracking inputs are kloppy-shaped wide frames: one row per frame,
``<object_id>_x/_y/_z`` columns, and a null ``ball_owning_team_id`` so the
ingest has to infer possession. They are pivoted from the package's own
synthetic match generator, so a seed fixes every coordinate.

The document corpus has the column layout of the repository's ``documents``
table (doc_id, text, lang, source, n_chars): short texts over a small
vocabulary, where about a quarter of the documents are edited copies of an
earlier original, so the LSH candidate graph has real clusters to find.
Copies are never copied again, which keeps clusters shallow and the DuckDB
oracles' recursive closures quick.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np
import pandas as pd

from unravelsports_spark.datasets.kloppy_bridge import objects_from_metadata, settings_from_metadata
from unravelsports_spark.datasets.synthetic import synthetic_tracking_pandas
from unravelsports_spark.schema import BALL, Column

_INDEX = [Column.PERIOD_ID, Column.TIMESTAMP, Column.FRAME_ID]

_VOCAB = (
    "a the data spark stream batch table column row value key hash join group "
    "sort scan filter window merge agg query order part line vector big small "
    "fast slow customer index shard token frame match"
).split()


@dataclass
class Match:
    game_id: str
    path: str  # staged wide parquet
    long: pd.DataFrame  # the generator's long-format frame, for the checks


def wide_frame(long: pd.DataFrame) -> pd.DataFrame:
    """Pivot the generator's long table to the kloppy ``to_df`` wide shape."""
    index = long.drop_duplicates(Column.FRAME_ID)[_INDEX].set_index(Column.FRAME_ID, drop=False)
    coords = long.pivot(index=Column.FRAME_ID, columns=Column.OBJECT_ID, values=["x", "y", "z"])
    wide = pd.concat(
        [index]
        + [coords[axis][oid].rename(f"{oid}_{axis}") for oid in coords["x"].columns for axis in "xyz"],
        axis=1,
    ).reset_index(drop=True)
    wide[Column.BALL_STATE] = "alive"
    wide[Column.BALL_OWNING_TEAM_ID] = pd.Series([None] * len(wide), dtype="string")
    return wide


def match_metadata(long: pd.DataFrame, game_id: str):
    """A kloppy-style metadata object for one generated match: the ingest
    takes its tracked objects and settings through ``kloppy_bridge``."""
    roster = long[long[Column.TEAM_ID] != BALL].drop_duplicates(Column.OBJECT_ID)
    teams = []
    for team_id, grp in roster.groupby(Column.TEAM_ID, sort=False):
        players = [
            SimpleNamespace(player_id=r.id, starting_position=r.position_name)
            for r in grp.itertuples()
        ]
        teams.append(SimpleNamespace(team_id=team_id, players=players))
    return SimpleNamespace(teams=teams, game_id=game_id, frame_rate=25, provider="synthetic")


def stage_matches(work: str, seed: int, n_matches: int, n_frames: int) -> list[Match]:
    os.makedirs(work, exist_ok=True)
    matches = []
    for g in range(n_matches):
        long = synthetic_tracking_pandas(n_frames=n_frames, n_games=1, seed=seed * 1000 + g)
        game_id = f"m{seed}_{g}"
        path = os.path.join(work, f"{game_id}.parquet")
        wide_frame(long).to_parquet(path, index=False)
        matches.append(Match(game_id, path, long))
    return matches


def ingest_objects(match: Match):
    meta = match_metadata(match.long, match.game_id)
    objects, _ = objects_from_metadata(meta)
    return objects, settings_from_metadata(meta)


def stage_documents(work: str, seed: int, n_docs: int) -> str:
    rng = np.random.default_rng(seed)
    texts: list[list[str]] = []
    originals: list[list[str]] = []
    for _ in range(n_docs):
        if originals and rng.random() < 0.25:
            words = list(originals[int(rng.integers(0, len(originals)))])
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), size=int(rng.integers(8, 60)))]
            originals.append(words)
        texts.append(words)
    text = [" ".join(w) for w in texts]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": text,
            "lang": rng.choice(["en", "de", "zh"], size=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in text], dtype="int64"),
        }
    )
    os.makedirs(work, exist_ok=True)
    docs.to_parquet(os.path.join(work, "documents.parquet"), index=False)
    return work
