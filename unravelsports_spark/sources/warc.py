"""WARC source/sink (engine addition §2.1 surface; built round 12, driver
registration queued r13 as `o19_warc_roundtrip`) — the container format
web crawls actually ship in (ISO 28500; Common Crawl, Internet Archive,
Heritrix/wget output). This completes the repo's crawl-ingest story at the
true boundary: WARC → :mod:`~unravelsports_spark.operators.htmltext`
(markup extraction) → textnorm → boilerplate → fingerprint/dedup.

Spark-first plumbing, repo-codec discipline (like the PNG/WAV/AVI codecs:
no external WARC library, the format is simple enough to own):

- :func:`write_warc` — DISTRIBUTED sharded export: one Arrow batch per
  shard file via ``mapInPandas``, returning a manifest frame (shard path,
  record/byte counts) whose collection drives the write. Shards are
  deterministically ``part-<partition>-<batch>`` named and overwritten,
  so task retries / speculative attempts / manifest re-collection are
  idempotent; optionally per-record-gzipped (``gzip_records=True`` — the
  Common Crawl layout, each record its own mtime-0 gzip member, so
  identical inputs give byte-identical shards).
- :func:`read_warc` — ``spark.read.format("binaryFile")`` over the shard
  glob, then one Arrow decode pass per file through
  :func:`iter_warc_records`, the ONE decoder (lazy, both layouts, every
  hostile-input bound), emitted in fixed-size row batches by
  :mod:`~unravelsports_spark.sources.shardio`. Output carries the SAME
  ``_corrupt_record`` quarantine contract as sources/jsonl + sources/csvio
  (:func:`~unravelsports_spark.sources.jsonl.quarantine_counts` works on
  it unchanged): a malformed span surfaces as ONE quarantine row (prefix
  of the undecodable bytes), and the parser RESYNCS at the next
  ``WARC/1.`` magic so one bad record never eats the rest of the shard.

Pruning note: unlike the CSV/JSON datasources there is NO pruned-parse
hazard here — the decode is our own Arrow stage, which always parses the
full record before projection, so quarantine semantics hold under any
downstream projection without a checked-read wrapper.

Scale caveat (documented like multiLine CSV): ``binaryFile`` reads each
shard whole, so shards are the parallelism unit — keep them bounded (the
writer's batch sharding does this naturally; resize with
``spark.sql.execution.arrow.maxRecordsPerBatch`` upstream or repartition
before writing). A 100 TB crawl should land as many O(100 MB) shards,
never a few giant files.
"""

from __future__ import annotations

import gzip
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MAGIC = b"WARC/1."
_GZ_MAGIC = b"\x1f\x8b"

#: read_warc output schema — payload is binary; _corrupt_record carries
#: the jsonl/csvio quarantine contract
WARC_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("rec_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def _hval(v) -> bytes:
    """Header value, CRLF-SANITIZED (r12 review pass 4 #4): a scraped URI
    carrying an embedded CRLF would otherwise end the header block early
    — corrupted framing at best, attacker-smuggled fake WARC headers at
    worst. Folded to single spaces, the header-continuation semantic."""
    return str(v).replace("\r", " ").replace("\n", " ").encode()


def encode_warc_records(records: list, gzip_records: bool = False) -> bytes:
    """Serialize records (dicts with rec_type, record_id, warc_date,
    target_uri, content_type, payload: bytes) to WARC/1.0 bytes —
    header block, CRLF-CRLF, payload, CRLF-CRLF; optionally one gzip
    member per record (the Common Crawl layout). Header values are
    CRLF-sanitized (:func:`_hval`); ``target_uri`` omits its header ONLY
    when None — an EMPTY STRING round-trips as '' (pass 4 #7: truthiness
    here silently turned '' into NULL on read-back)."""
    def hv(r, key, default):
        # an EXPLICIT None normalizes to the same default as an absent
        # key (pass 5 #5 — dict.get defaults only cover absence, so any
        # caller of the public codec could serialize the literal 'None')
        v = r.get(key)
        return _hval(default if v is None else v)

    out = []
    for r in records:
        payload = bytes(r.get("payload") or b"")
        headers = [
            b"WARC/1.0",
            b"WARC-Type: " + hv(r, "rec_type", "response"),
            b"WARC-Record-ID: " + hv(r, "record_id", ""),
            b"WARC-Date: " + hv(r, "warc_date", ""),
        ]
        if r.get("target_uri") is not None:
            headers.append(b"WARC-Target-URI: " + _hval(r["target_uri"]))
        headers += [
            b"Content-Type: " + hv(r, "content_type", "text/plain"),
            b"Content-Length: " + str(len(payload)).encode(),
        ]
        rec = b"\r\n".join(headers) + b"\r\n\r\n" + payload + b"\r\n\r\n"
        # mtime=0: gzip embeds wall-clock mtime by default, which would
        # make byte-identical inputs produce byte-different shards and
        # defeat reproducible exports (r12 review pass 3 #7)
        out.append(gzip.compress(rec, mtime=0) if gzip_records else rec)
    return b"".join(out)


#: global cap on cumulative LIVE decompressed output per top-level decode
#: call (the memory arm; threaded through nesting levels; discarded
#: failed-attempt output is refunded — freed memory doesn't deplete it).
#: NOT a work limit: a shard whose decompressed content exceeds this
#: could not be materialized as rows by the task anyway — content beyond
#: the cap quarantines; SIZE SHARDS (the module scale caveat) or tune
#: this to the executor's memory rather than raise it blindly. Tests
#: monkeypatch it to exercise the bound without gigabytes of work.
#:
#: Per-executor arithmetic (ADVICE r12 #2 — the cap is PER TOP-LEVEL
#: DECODE CALL, i.e. per shard per task): with N concurrent binaryFile
#: tasks per executor the worst-case simultaneous decoded output is
#: N × min(cap, shard's decompressed size), PLUS each task's compressed
#: shard bytes. The cap is deliberately NOT scaled from the compressed
#: size — this module's own writer emits legitimate 1000:1 members for
#: repetitive payloads, so any k·len(data) default would false-quarantine
#: clean data (the pass-10 lesson, twice). Budget executor memory as
#: executor_cores × (expected decompressed shard size); :func:`read_warc`
#: streams rows off :func:`iter_warc_records` and flushes them in
#: fixed-size batches (``shardio.FLUSH_ROWS``), which keeps the ROW
#: materialization below that bound — the cap is then only the
#: hostile-input backstop, not the working-set size.
_MAX_DECODE_OUTPUT = 4 << 30


def _split_gzip_members(data: bytes, budget: dict):
    """LAZILY split a multi-member gzip stream into ("member",
    decompressed) / ("corrupt", raw span) segments (the per-record-gzip
    WARC layout). A GENERATOR by contract (r12 pass 13): the consumer
    decodes each member as it is yielded, so the shared budget's state
    BETWEEN members reflects stream order — a materialized list would
    split the whole shard first and then judge early members against the
    ledger as later members left it.
    After a corrupt or truncated member the scan RESYNCS at the next gzip
    magic (r12 review pass 3 #2 — without it one flipped byte mid-shard
    silently ate every record after it, while the plain layout resynced);
    the partial decompression of a bad member never leaks as a member.

    ``budget`` is the decode call's SHARED hostile-input ledger (one dict
    across all nesting levels — pass 10 #3: per-level budgets reset and
    multiplied): ``failed`` charges consumed+produced bytes of FAILED
    attempts only — clean decompression is never charged, whatever its
    ratio, because quarantining legitimate high-ratio data (this module's
    own writer emits 1000:1 shards for repetitive payloads) is strictly
    worse than bounded slowness (pass 10 #1/#2/#5 — the two previous
    budget designs both false-positived on legit shards); ``output``
    charges ALL produced bytes (the memory arm), whose exhaustion means
    the shard's decompressed content exceeds what a task could hold as
    rows anyway. Either arm exhausting quarantines the remainder as one
    span — bounded work, bounded memory, never a crash, never a false
    quarantine below the documented caps."""
    import zlib

    # feed each decompressobj BOUNDED chunks and REWIND pos to the exact
    # consumed offset when a member ends (pass 4 #6 / pass 5 #1 / pass 6
    # #2): handing zlib the whole tail materializes the entire remainder
    # in d.unused_data per member (O(n²) memcpy on a many-member shard),
    # and carrying unused_data forward as the next member's buffer just
    # cascades shrinking copies inside each chunk. With a small chunk and
    # pos-rewind, per-member overhead is ≤ 2·CHUNK (one fed slice + the
    # zlib-internal unused_data tail) — the stdlib-gzip read-size class
    # of trade-off, linear in input for members ≥ CHUNK and a small
    # bounded constant per tiny member (measured ~linear in member count;
    # the 1 MiB-chunk version was 6.4× time for 2× members).
    CHUNK_IN = 8 << 10
    # max_length per decompress call (r12 review pass 11 #2): without it,
    # one 8 KB chunk can inflate ~8 MB INSIDE a single call that then
    # raises — work the ledger never observes. Bounding each call's
    # output and draining unconsumed_tail makes every unit of work
    # visible to the arms BEFORE the next unit is spent.
    CHUNK_OUT = 64 << 10
    pos = 0
    while pos < len(data):
        if budget["failed"] < 0 or budget["output"] < 0:
            # an arm already exhausted (possibly by an OUTER or nested
            # level of this decode call — the ledger is shared): nothing
            # further may decompress; quarantine on sight
            span = data[pos:]
            if span.strip(b"\r\n"):
                yield ("corrupt", span)
            break
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out, ok, produced, capped = [], False, 0, False
        fed, pending = pos, b""
        try:
            while True:
                if not pending:
                    if fed >= len(data):
                        break
                    nxt_fed = min(fed + CHUNK_IN, len(data))
                    # charge input BEFORE the call (pass 9 #2 / pass 11
                    # #1: a call that raises must still have been paid
                    # for); the attempt's input charge is (fed − pos)
                    pending = data[fed:nxt_fed]
                    fed = nxt_fed
                piece = d.decompress(pending, CHUNK_OUT)
                pending = d.unconsumed_tail
                produced += len(piece)
                budget["output"] -= len(piece)
                out.append(piece)
                # eof BEFORE the cap check (pass 10 #4): a member that
                # COMPLETES in the call that tips the arm is kept; only
                # further work stops
                if d.eof:
                    break
                if budget["output"] < 0:
                    capped = True
                    raise zlib.error("decode output cap exceeded")
            ok = d.eof
        except zlib.error:
            ok = False
        if not ok and not capped:
            # a genuinely FAILED attempt charges the hostile-work arm:
            # bytes fed (including the chunk that raised) + bytes
            # produced-then-discarded (the bomb amplification, observed
            # incrementally via CHUNK_OUT); its discarded output is
            # REFUNDED to the memory arm (pass 11 #4: freed memory must
            # not deplete it and falsely quarantine later valid members).
            # A CAP-EXCEEDED attempt is different (pass 12 #1): it is not
            # hostile-work evidence, so the failed arm is untouched — and
            # the output arm stays NEGATIVE (sticky), because un-sticking
            # it would let a shard of repeated cap-trippers redo cap-sized
            # work per member; once over the cap, the rest of the decode
            # call quarantines (the documented mis-sized-shard outcome).
            budget["failed"] -= (fed - pos) + produced
            budget["output"] += produced
        exhausted = budget["failed"] < 0 or budget["output"] < 0
        if ok:
            # a COMPLETED member is always kept, even when its last chunk
            # tipped an arm (pass 10 #4); exhaustion then only stops
            # further work
            yield ("member", b"".join(out))
            pos = fed - len(d.unused_data)
            if exhausted and pos < len(data):
                span = data[pos:]
                if span.strip(b"\r\n"):
                    yield ("corrupt", span)
                break
            continue
        if exhausted:
            # hostile shard (resync storm / bomb / over-cap output):
            # quarantine everything not yet cleanly parsed and stop
            span = data[pos:]
            if span.strip(b"\r\n"):
                yield ("corrupt", span)
            break
        # corrupt or truncated member: quarantine the span up
        # to the next magic and resync there. Spans that are pure
        # CRLF padding (between members, or trailing) are LEGAL and
        # skipped — the plain path's inter-record exemption, both
        # layouts (pass 6 #3). Resync from pos+1, not pos+2 (pass 7
        # #1): a single pad/garbage byte puts the next magic at
        # pos+1, and a magic can never START at pos+1 when pos itself
        # is one (0x8b ≠ 0x1f), so +1 never re-finds the failed start.
        nxt = data.find(_GZ_MAGIC, pos + 1)
        span = data[pos:] if nxt < 0 else data[pos:nxt]
        if span.strip(b"\r\n"):
            yield ("corrupt", span)
        if nxt < 0:
            break
        pos = nxt


def iter_warc_records(
    data: bytes, _depth: int = 0, _budget: dict | None = None
):
    """Parse WARC bytes into row dicts (WARC_SCHEMA minus shard), LAZILY —
    the one WARC decoder, run by :func:`read_warc` and by every
    hostile-input test. A malformed span becomes ONE quarantine dict
    (``_corrupt_record`` = printable prefix of the bad bytes, everything
    else None) and the parser resyncs at the next ``WARC/1.`` (or gzip)
    magic — the jsonl/csv PERMISSIVE discipline in codec form.
    CONSECUTIVE quarantine rows coalesce into one (r12 review pass 3 #6):
    a corrupt span whose bytes happen to contain a fake magic — entirely
    plausible, a span can contain a record's own payload — would otherwise
    split into several rows and flip any oracle that pins the quarantine
    COUNT.

    Streaming (VERDICT r12 #3): rows are yielded as they decode, and gzip
    members decode one at a time off the lazy :func:`_split_gzip_members`,
    so peak memory is (compressed shard) + (one member's rows) + the
    consumer's batch, never the decompressed shard. Only the gzip/plain
    AMBIGUITY vote (both magics present — an already-corrupt shard)
    materializes both readings.

    ``_depth`` caps gzip NESTING (r12 review pass 8 #1): a ~23 KB shard
    gzip-wrapped a thousand times would otherwise recurse through the
    member loop to a RecursionError that escapes the quarantine contract
    and kills the Spark task. Real layouts nest once (members around
    records); past the cap a still-compressed segment parses as plain
    bytes and quarantines like any other malformation. The cap gates the
    DISPATCH BRANCH below, not a magic-at-byte-0 probe (pass 9 #1: one
    pad byte before each nested magic bypassed the probe while the
    branch still recursed).

    ``_budget`` is the hostile-input ledger (see
    :func:`_split_gzip_members`), created once at the TOP-LEVEL call and
    threaded through every nesting level (pass 10 #3: fresh per-level
    budgets let a nested bomb multiply the bound per level)."""
    if _budget is None:
        _budget = {
            # failed-attempt work: never charged on clean data, so it
            # cannot false-positive; generous multiple of the input
            "failed": 32 * len(data) + (64 << 20),
            # cumulative decompressed output across all levels
            "output": _MAX_DECODE_OUTPUT,
        }
    # layout dispatch by FIRST magic, not just byte 0 (pass 4 #3): a gzip
    # shard with leading garbage must still route to the gzip path and
    # resync there, with the prefix quarantined — byte-0 dispatch sent it
    # down the plain path, which collapsed the whole shard to one corrupt
    # row. (A plain shard starts with WARC/1. at 0, so gz can never win
    # there; compressed bytes containing a coincidental 'WARC/1.' before
    # the first member would misroute, but that needs the 7-byte magic by
    # chance inside garbage-BEFORE-the-first-member — vanishing odds on a
    # heuristic path that only runs for already-corrupt shards.)
    gz_at = data.find(_GZ_MAGIC)
    pl_at = data.find(_MAGIC)
    if not (gz_at >= 0 and (pl_at < 0 or gz_at < pl_at) and _depth < 8):
        yield from _coalesce_rows(_iter_plain(data))
        return

    def gzip_rows():
        if gz_at > 0 and data[:gz_at].strip(b"\r\n"):
            yield _corrupt_row(data[:gz_at])
        # _split_gzip_members is a GENERATOR (pass 13 #1, the actual
        # leak): nested decodes here charge the shared ledger per member,
        # and the split's loop-top exhaustion check must SEE those
        # charges before splitting the next member — a materialized list
        # split the whole shard first, so K members each spent sub-cap
        # discarded work after an arm was already negative. Exhaustion
        # mid-stream is the split's job (it quarantines the remainder in
        # stream order); no consumer-side re-check, which would misfire
        # on a legitimately-kept member whose own final call tipped the
        # arm (the pass 10 #4 contract).
        for kind, seg in _split_gzip_members(data[gz_at:], _budget):
            if kind == "member":
                yield from iter_warc_records(seg, _depth + 1, _budget)
            else:
                yield _corrupt_row(seg)

    if pl_at < 0:
        yield from _coalesce_rows(gzip_rows())
        return
    # AMBIGUOUS: commit to the gzip reading only if it recovers MORE
    # clean WARC rows than the plain reading of the same bytes (pass 6
    # #1, pass 7 #2: the gzip magic, a valid gzip member, or even a
    # crawled .warc.gz inside a record PAYLOAD can all appear in/after
    # garbage preceding a plain record; on a TIE the plain reading wins,
    # because its clean rows prove real record starts while the gzip hit
    # may be payload-embedded).
    output_before = _budget["output"]
    gz_rows = list(_coalesce_rows(gzip_rows()))
    pl_rows = list(_coalesce_rows(_iter_plain(data)))
    gz_clean = sum(r["_corrupt_record"] is None for r in gz_rows)
    pl_clean = sum(r["_corrupt_record"] is None for r in pl_rows)
    if gz_clean > pl_clean:
        yield from gz_rows
        return
    # the gzip reading LOST the vote and is discarded — refund its net
    # output charge to the MEMORY arm (pass 12 #2: it tracks LIVE bytes;
    # a phantom charge for freed rows would falsely quarantine later
    # members at outer levels) but charge that same discarded work to the
    # FAILED arm (pass 13 #1: a bare refund re-armed the budget, letting K
    # crafted members each spend sub-cap discarded work — unbounded in K;
    # the work genuinely happened and a losing reading IS hostile-work
    # evidence). EXCEPTION: a build that tripped the cap stays
    # sticky-negative.
    if _budget["output"] >= 0:
        _budget["failed"] -= output_before - _budget["output"]
        _budget["output"] = output_before
    yield from pl_rows


def _iter_plain(data: bytes):
    """The plain-layout record loop of :func:`iter_warc_records` — yields
    UNCOALESCED rows (``_coalesce_rows`` applies the consecutive-quarantine
    merge). A plain multi-GB shard streams its rows: payload slices are
    copies, so a list would double the shard in memory."""
    pos = 0
    while pos < len(data):
        if data[pos:pos + len(_MAGIC)] != _MAGIC:
            nxt = data.find(_MAGIC, pos + 1)
            bad = data[pos:] if nxt < 0 else data[pos:nxt]
            if bad.strip(b"\r\n"):  # inter-record CRLF padding is legal
                yield _corrupt_row(bad)
            if nxt < 0:
                break
            pos = nxt
            continue
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            yield _corrupt_row(data[pos:])
            break
        headers = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers[b"content-length"])
            if length < 0:  # r12 review pass 3 #1: a negative length
                # walked pos BACKWARD — an infinite loop on hostile input
                raise ValueError("negative Content-Length")
        except (KeyError, ValueError):
            yield _corrupt_row(data[pos:hdr_end])
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        payload = data[body_start:body_start + length]
        if len(payload) < length:  # truncated record
            yield _corrupt_row(data[pos:])
            break
        tu = headers.get(b"warc-target-uri")
        yield {
            "rec_type": headers.get(b"warc-type", b"").decode("utf-8", "replace"),
            "record_id": headers.get(b"warc-record-id", b"").decode("utf-8", "replace"),
            "warc_date": headers.get(b"warc-date", b"").decode("utf-8", "replace"),
            # absent header → NULL; PRESENT-but-empty → '' (pass 4 #7:
            # the old `or None` collapsed the two)
            "target_uri": None if tu is None else tu.decode("utf-8", "replace"),
            "content_type": headers.get(b"content-type", b"").decode("utf-8", "replace"),
            "payload": payload,
            "_corrupt_record": None,
        }
        pos = body_start + length


def _coalesce_rows(rows):
    """Consecutive quarantine rows merge into one span (256-char prefix),
    with one-row lookbehind so the stream stays lazy."""
    held = None
    for row in rows:
        if (
            held is not None
            and held["_corrupt_record"] is not None
            and row["_corrupt_record"] is not None
        ):
            merged = held["_corrupt_record"] + row["_corrupt_record"]
            held["_corrupt_record"] = merged[:256]
            continue
        if held is not None:
            yield held
        held = row
    if held is not None:
        yield held


def _corrupt_row(bad: bytes) -> dict:
    return {
        "rec_type": None,
        "record_id": None,
        "warc_date": None,
        "target_uri": None,
        "content_type": None,
        "payload": None,
        "_corrupt_record": bad[:256].decode("utf-8", "replace"),
    }


def write_warc(
    df: DataFrame,
    path: str,
    gzip_records: bool = False,
    date: str = "2026-01-01T00:00:00Z",
) -> DataFrame:
    """Distributed sharded WARC export. ``df`` columns: ``target_uri``
    (string, nullable — a NULL simply omits the WARC-Target-URI header),
    ``payload`` (binary, nullable — NULL writes an empty-payload record;
    the boilerplate NULL-contract discipline: documented, never a task
    crash), optional ``record_id`` / ``warc_date`` / ``content_type``
    columns override the defaults per record. One shard file per Arrow
    batch under ``path`` (caller creates/owns the directory — on a real
    cluster point it at shared storage). Returns the MANIFEST frame
    (shard, n_records, n_bytes); collecting it drives the write —
    ``write_warc(df, p).collect()`` is the complete export.

    Idempotency (r12 review pass 3 #3, hardened pass 4 #2): shards are
    DETERMINISTICALLY named ``part-<partitionId>-<batchIdx>``, so a task
    retry, speculative duplicate attempt, or a re-collection of the
    manifest rewrites the SAME files instead of accumulating
    uuid-suffixed duplicates that a later read_warc would double-count —
    and each write lands via tmp-file + ``os.replace`` (atomic on POSIX),
    so two overlapping attempts each publish a COMPLETE shard (last
    rename wins) rather than interleaving a torn one. The caller still
    owns directory hygiene: exporting a DIFFERENT frame into a non-empty
    path leaves stale shards (start from a fresh dir, like every
    df.write mode="overwrite" user expects).

    ``date`` is the fixed default WARC-Date; with ``gzip_records`` the
    members are mtime-0. Byte-identical re-exports require the caller to
    supply a ``record_id`` column (pass 4 #5) — without one, fresh uuids
    are generated per attempt, so shards are structurally identical but
    not byte-identical across runs."""
    import pandas as pd

    cols = df.columns

    def writer(batches):
        from pyspark import TaskContext

        from .shardio import write_shard

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        for batch_idx, pdf in enumerate(batches):
            if not len(pdf):
                continue
            rid = (
                pdf["record_id"].tolist()
                if "record_id" in cols
                else [f"<urn:uuid:{uuid.uuid4()}>" for _ in range(len(pdf))]
            )
            wd = pdf["warc_date"].tolist() if "warc_date" in cols else [date] * len(pdf)
            ct = (
                pdf["content_type"].tolist()
                if "content_type" in cols
                else ["text/html"] * len(pdf)
            )
            # NULLs in the OPTIONAL columns fall back to the same
            # defaults as an absent column (pass 4 #1), and the null
            # check is pandas-aware (pass 5 #2: a nullable TIMESTAMP
            # warc_date surfaces as NaT, which `is None` misses and
            # str() turns into the literal header 'NaT'). Timestamp
            # values serialize via str() — pass warc_date as ISO-8601
            # STRINGS when the exact header format matters.
            def isnull(v):
                return v is None or (not isinstance(v, (str, bytes)) and pd.isna(v))

            records = [
                {
                    "rec_type": "response",
                    "record_id": (
                        f"<urn:uuid:{uuid.uuid4()}>" if isnull(r) else str(r)
                    ),
                    "warc_date": date if isnull(w) else str(w),
                    "target_uri": None if isnull(u) else str(u),
                    "content_type": "text/html" if isnull(c) else str(c),
                    "payload": b"" if isnull(p) else bytes(p),
                }
                for u, p, r, w, c in zip(
                    pdf["target_uri"], pdf["payload"], rid, wd, ct
                )
            ]
            blob = encode_warc_records(records, gzip_records)
            ext = ".warc.gz" if gzip_records else ".warc"
            # deterministic name + dotfile tmp + atomic rename (pass 4
            # #2) — the scaffold now lives in shardio.write_shard, shared
            # with the TFRecord writer (r13 review pass 26 #4: two
            # verbatim copies of the idempotency contract)
            shard = write_shard(path, pid, batch_idx, ext, blob)
            yield pd.DataFrame(
                {
                    "shard": [shard],
                    "n_records": [len(records)],
                    "n_bytes": [len(blob)],
                }
            )

    return df.mapInPandas(writer, "shard string, n_records long, n_bytes long")


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC shards (plain or per-record-gzip) into WARC_SCHEMA rows
    with the shared quarantine contract — one Arrow decode pass per
    shard; no pruned-parse hazard (see module note). Rows stream off
    :func:`iter_warc_records` into fixed-size pandas batches
    (:func:`~unravelsports_spark.sources.shardio.decode_shard_batches`,
    the loop shared with the TFRecord reader), so even a multi-GB
    decompressed shard stays within (shard bytes + one member + one
    batch of rows) of peak task memory."""
    from .shardio import decode_shard_batches

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )
    names = [f.name for f in WARC_SCHEMA.fields]
    return files.mapInPandas(
        lambda it: decode_shard_batches(it, iter_warc_records, names),
        WARC_SCHEMA,
    )


def warc_to_documents(df: DataFrame, invalid: str = "replace") -> DataFrame:
    """Clean WARC rows → the (source, url, text) document shape the text
    stages consume: utf-8 decoded payloads of clean ``response`` records,
    ``source`` = the lowercased URI host via the SAME
    :func:`~unravelsports_spark.operators.filtering.with_url_parts`
    extraction the t_url_domains pipeline uses (r12 review pass 3 #5 — a
    second hand-rolled host regex had already diverged on scheme case,
    host case, and ``?#`` handling).

    ``invalid`` governs non-UTF-8 payloads (ADVICE r12 #1: the original
    ``F.decode(payload, 'UTF-8')`` threw MALFORMED_CHARACTER_CODING under
    Spark 4 ANSI and aborted the whole job on the FIRST latin-1 page or
    mislabeled binary response — near-certain on real crawl data, and a
    violation of this module's never-crash quarantine contract):

    - ``"replace"`` (default) — malformed byte sequences degrade to U+FFFD
      replacement characters (``make_valid_utf8``; the Python
      ``errors="replace"`` semantic, JVM-side). Every clean record stays a
      document; mojibake is downstream quality-filtering's job (the
      t_quality/langid stages already score it out).
    - ``"skip"`` — drop records whose payload is not valid UTF-8
      (``is_valid_utf8`` gate). Use when a lost latin-1 minority is
      preferable to replacement-char noise.

    The binary→string cast reinterprets bytes without validation (unlike
    ``decode``), so both modes are pure Catalyst and never throw."""
    from ..operators.filtering import with_url_parts

    if invalid not in ("replace", "skip"):
        raise ValueError(f"invalid= must be 'replace' or 'skip', got {invalid!r}")
    raw = F.col("payload").cast("string")
    clean = df.where(
        F.col("_corrupt_record").isNull() & (F.col("rec_type") == "response")
    )
    if invalid == "skip":
        clean = clean.where(F.is_valid_utf8(raw))
    clean = clean.select(
        F.col("target_uri").alias("url"),
        F.make_valid_utf8(raw).alias("text"),
    )
    return with_url_parts(clean, "url").select(
        F.col("domain").alias("source"), "url", "text"
    )
