"""Tracked persistence for intermediate tables.

Several operators persist a compact intermediate (MinHash signatures, ANN
bucket tables, per-(doc,term) counts) so both sides of a downstream self-join
/ multi-consumer fan-out read one InMemoryRelation instead of recomputing the
most expensive lineage stage (tokenize / scan) per consumer — the round-2/3
100 TB fix pattern.

Because these functions return *lazy* DataFrames, they cannot unpersist
before the caller consumes the result. Instead every persist goes through
:func:`tracked_persist`, and long-running hosts (bench.py, the full oracle
gate, the driver loop if it chooses) call :func:`release_tracked` after
consuming a query's output. Storage level is MEMORY_AND_DISK, so even an
unreleased table degrades to disk-backed blocks rather than evicting hot
executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame, level=None) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK by default) and register it for later
    :func:`release_tracked` cleanup. Returns the persisted DataFrame.

    Idempotent (r11 pass 7 #1): a frame already tracked is returned as-is
    (one registration, one release); a frame already cached (a checked
    boundary read fed back in, or a caller's own persist) skips the
    redundant ``.persist()`` call — which would only log 'already cached'
    — but IS registered, so the release-at-boundary guarantee holds for
    everything that flows through here.

    Scope note (ADVICE r11 #4): the dedupe is per WRAPPER OBJECT, not per
    logical plan — two DataFrame wrappers over the same plan (e.g.
    ``read_csv_checked`` called twice on one path) each register, Spark's
    cache manager resolves both to ONE cached relation, and release then
    unpersists that shared relation at the first pop and no-ops at the
    second. Harmless (unpersist is idempotent and release recomputation is
    always result-safe), but 'one registration, one release' holds per
    wrapper, not per plan."""
    from pyspark import StorageLevel

    if any(t is df for t in _TRACKED):
        return df
    if df.storageLevel == StorageLevel.NONE:
        df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every table registered since the last release; returns the
    number released. Safe to call at any time for RESULT correctness — a
    consumer that re-runs a released query simply recomputes and
    re-persists. One class of persist is correctness-LOAD-BEARING though:
    the checked boundary reader (sources/csvio.read_csv_checked) relies
    on the cache to defeat the CSV pruned-parse quarantine hazard, and a
    still-held checked frame recomputes with RAW semantics after release —
    its docstring carries the lifetime contract."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
