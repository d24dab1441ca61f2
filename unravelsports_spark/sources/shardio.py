"""Shared shard-decode plumbing for binaryFile-backed boundary readers
(WARC, TFRecord): ONE chunked Arrow decode stage, so the quarantine
contract and the batch emission rule cannot drift between formats (r13
review pass 25 — tfrecord.py had re-implemented warc.py's loop shape
verbatim, the divergence class the reviews keep removing)."""

from __future__ import annotations

#: decoded rows per emitted pandas batch: bounds a task's row buffer
#: whatever a shard decompresses to
FLUSH_ROWS = 4096


def decode_shard_batches(batches, iter_records, columns):
    """Yield pandas DataFrames of decoded rows over binaryFile (path,
    content) batches. ``iter_records(bytes)`` yields row dicts (the
    format's lazy record iterator — quarantine rows included);
    ``columns`` fixes the emission schema. One flush rule: every
    :data:`FLUSH_ROWS` rows and at the end, so a large decoded shard
    never materializes whole."""
    import pandas as pd

    out = []
    for pdf in batches:
        for p, content in zip(pdf["path"], pdf["content"]):
            for row in iter_records(bytes(content)):
                row["shard"] = p
                out.append(row)
                if len(out) >= FLUSH_ROWS:
                    yield pd.DataFrame(out, columns=columns)
                    out = []
    if out:
        yield pd.DataFrame(out, columns=columns)


def write_shard(path: str, pid: int, batch_idx: int, ext: str, blob: bytes) -> str:
    """The ONE shard-publish scaffold (r13 review pass 26 #4 — warc and
    tfrecord writers carried verbatim copies): DETERMINISTIC
    ``part-<partition>-<batch><ext>`` name so task retries / speculative
    attempts / manifest re-collection rewrite the SAME file, landed via a
    DOTFILE tmp + ``os.replace`` (atomic on POSIX — overlapping attempts
    each publish a complete shard, last rename wins; the tmp name carries
    no extension so neither readers' globs nor Spark's hidden-file filter
    can pick up a crash leftover). Returns the shard path."""
    import os
    import uuid

    # create the output dir like Spark's native writers do (ADVICE r13
    # #1: open() on the dotfile tmp raised FileNotFoundError for a
    # not-yet-created path); exist_ok makes it safe under concurrent tasks
    os.makedirs(path, exist_ok=True)
    shard = os.path.join(path, f"part-{pid:05d}-{batch_idx:04d}{ext}")
    tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as fh:
        fh.write(blob)
    os.replace(tmp, shard)
    return shard
