"""WARC source/sink (sources/warc.py) — built round 12, REGISTERED round
13 as `o19_warc_roundtrip`. The canonical oracle SQL and query shape now
live in plans/corpus9.py (the corpus7/corpus8 registration discipline);
this suite imports them, so twin and oracle cannot drift."""

from unravelsports_spark.plans.corpus9 import (
    WARC_ROUNDTRIP_SQL,
    warc_roundtrip_frame as _warc_roundtrip_query,
)
from unravelsports_spark.sources.warc import iter_warc_records

from .conftest import SF_CORRECT


def _records(n=3, payload=b"hello world"):
    return [
        {
            "rec_type": "response",
            "record_id": f"<urn:uuid:{i}>",
            "warc_date": "2026-01-01T00:00:00Z",
            "target_uri": f"http://h{i}.example/{i}",
            "content_type": "text/html",
            "payload": payload + str(i).encode(),
        }
        for i in range(n)
    ]


def _decode(blob: bytes) -> list:
    """The rows read_warc emits for one shard, before the shard column."""
    return list(iter_warc_records(blob))


def test_codec_roundtrip_plain_and_gzip():
    from unravelsports_spark.sources.warc import encode_warc_records

    recs = _records()
    for gz in (False, True):
        back = _decode(encode_warc_records(recs, gzip_records=gz))
        assert len(back) == 3 and all(r["_corrupt_record"] is None for r in back)
        for want, got in zip(recs, back):
            for k in ("rec_type", "record_id", "warc_date", "target_uri",
                      "content_type", "payload"):
                assert got[k] == want[k], (gz, k)
    # binary payloads (CRLF bytes, fake WARC magic INSIDE a payload) must
    # survive verbatim — Content-Length framing, not delimiter scanning
    tricky = _records(1, payload=b"\r\n\r\nWARC/1.0\r\nnot a header\x00\xff")
    back = _decode(encode_warc_records(tricky))
    assert len(back) == 1 and back[0]["payload"] == tricky[0]["payload"]


def test_codec_quarantine_and_resync():
    """A malformed span becomes ONE quarantine row and parsing RESYNCS at
    the next magic; truncation at the tail quarantines the tail."""
    from unravelsports_spark.sources.warc import encode_warc_records

    a, b = _records(2)[0], _records(2)[1]
    good_a = encode_warc_records([a])
    good_b = encode_warc_records([b])
    blob = good_a + b"this is garbage, not a record\r\n" + good_b
    rows = _decode(blob)
    assert [r["_corrupt_record"] is not None for r in rows] == [False, True, False]
    assert rows[0]["payload"] == a["payload"] and rows[2]["payload"] == b["payload"]
    # truncated final record → clean first + quarantined tail
    rows = _decode(good_a + good_b[: len(good_b) // 2])
    assert len(rows) == 2
    assert rows[0]["_corrupt_record"] is None
    assert rows[1]["_corrupt_record"] is not None
    # truncated gzip member likewise
    gz = encode_warc_records([a], gzip_records=True)
    gz2 = encode_warc_records([b], gzip_records=True)
    rows = _decode(gz + gz2[: len(gz2) // 2])
    assert len(rows) == 2 and rows[1]["_corrupt_record"] is not None
    # an empty shard, or one of pure CRLF padding, yields no rows at all
    assert _decode(b"") == [] and _decode(b"\r\n\r\n") == []


def test_codec_hostile_and_span_contracts():
    """r12 review pass 3 pins: negative Content-Length quarantines (it
    used to walk pos backward — an infinite loop); a corrupt span whose
    bytes CONTAIN a fake WARC magic still surfaces as ONE quarantine row
    (consecutive corrupt rows coalesce); a garbage span BETWEEN gzip
    members resyncs at the next gzip magic instead of eating the rest of
    the shard; gzip members are mtime-0 (byte-reproducible exports)."""
    import gzip as _gzip

    from unravelsports_spark.sources.warc import encode_warc_records

    a, b = _records(2)
    good_a, good_b = encode_warc_records([a]), encode_warc_records([b])
    # negative Content-Length: one quarantine row, loop terminates
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -999999\r\n\r\n"
        b"payload\r\n\r\n"
    )
    rows = _decode(bad + good_a)
    clean = [r for r in rows if r["_corrupt_record"] is None]
    assert len(clean) == 1 and clean[0]["payload"] == a["payload"]
    # fake magic INSIDE a garbage span: still one coalesced quarantine row
    rows = _decode(
        good_a + b"junk WARC/1.0\r\nno length here junk" + good_b
    )
    assert [r["_corrupt_record"] is not None for r in rows] == [False, True, False]
    # gzip mid-stream garbage: resync at the next member magic
    gz_a = encode_warc_records([a], gzip_records=True)
    gz_b = encode_warc_records([b], gzip_records=True)
    rows = _decode(gz_a + b"garbage bytes" + gz_b)
    assert [r["_corrupt_record"] is not None for r in rows] == [False, True, False]
    assert rows[2]["payload"] == b["payload"]
    # reproducibility: two encodes of the same records are byte-identical
    assert encode_warc_records([a], gzip_records=True) == gz_a
    assert _gzip.decompress(gz_a) == good_a
    # r12 pass 4 pins:
    # #3 — leading garbage on a GZIP shard quarantines the prefix and
    # still recovers every member (byte-0 dispatch used to eat the shard)
    rows = _decode(b"leading junk" + gz_a + gz_b)
    assert [r["_corrupt_record"] is not None for r in rows] == [True, False, False]
    assert rows[1]["payload"] == a["payload"] and rows[2]["payload"] == b["payload"]
    # #4 — CRLF in a header value is folded, never smuggled as framing
    evil = dict(a, target_uri="http://x/\r\nContent-Length: 0\r\n\r\nfake")
    back = _decode(encode_warc_records([evil]))
    assert len(back) == 1 and back[0]["_corrupt_record"] is None
    assert back[0]["payload"] == a["payload"]
    assert "\r" not in back[0]["target_uri"]
    # #7 — empty-string target_uri round-trips as '', None as NULL
    for uri in ("", None):
        rec = dict(a, target_uri=uri)
        back = _decode(encode_warc_records([rec]))
        assert back[0]["target_uri"] == uri
    # r12 pass 5 pins:
    # #3 — a gzip shard whose FIRST member is corrupt (and contains a
    # fake plain magic) still recovers the later intact members
    rows = _decode(
        gz_a[: len(gz_a) // 2] + b" WARC/1.0 fake " + gz_b
    )
    assert rows[-1]["_corrupt_record"] is None
    assert rows[-1]["payload"] == b["payload"]
    # #4 — CRLF padding before the first gzip member is NOT quarantined
    # (the plain path's inter-record-padding exemption, both layouts)
    rows = _decode(b"\r\n" + gz_a)
    assert [r["_corrupt_record"] for r in rows] == [None]
    # #5 — the PUBLIC codec normalizes explicit None header fields to the
    # absent-key defaults (never the literal 'None')
    blob = encode_warc_records(
        [{"rec_type": None, "record_id": None, "warc_date": None,
          "content_type": None, "payload": b"x"}]
    )
    assert b"None" not in blob
    back = _decode(blob)
    assert back[0]["rec_type"] == "response"
    assert back[0]["content_type"] == "text/plain"
    # r12 pass 6 pins:
    # #1 — a plain record whose garbage PREFIX contains the gzip magic
    # and whose PAYLOAD contains a valid gzip member must still decode
    # via the plain path (the gzip interpretation yields no clean WARC
    # row, so it must not be committed to)
    embedded = dict(a, payload=b"archive: " + _gzip.compress(b"inner", mtime=0))
    rows = _decode(
        b"\x01\x1f\x8b\x02 junk " + encode_warc_records([embedded])
    )
    clean = [r for r in rows if r["_corrupt_record"] is None]
    assert len(clean) == 1 and clean[0]["payload"] == embedded["payload"]
    # #3 — CRLF padding BETWEEN and AFTER gzip members is legal, exactly
    # as in the plain layout
    rows = _decode(gz_a + b"\r\n" + gz_b + b"\r\n")
    assert [r["_corrupt_record"] for r in rows] == [None, None]
    # r12 pass 7 pins:
    # #1 — SINGLE-byte padding or garbage between members must not eat
    # the following member (the pos+2 resync skipped a magic at pos+1)
    rows = _decode(gz_a + b"\n" + gz_b)
    assert [r["_corrupt_record"] for r in rows] == [None, None]
    rows = _decode(gz_a + b"X" + gz_b)
    assert [r["_corrupt_record"] is None for r in rows] == [True, False, True]
    assert rows[2]["payload"] == b["payload"]
    # #2 — a plain record whose payload is a crawled .warc.gz (the gzip
    # interpretation ALSO yields a clean row) still decodes via the plain
    # reading: ties prefer plain, so the OUTER record survives and the
    # payload-embedded one is never reported as shard content
    warc_gz_payload = dict(a, payload=b"archive: " + gz_b)
    rows = _decode(
        b"\x01\x1f\x8b\x02 junk " + encode_warc_records([warc_gz_payload])
    )
    clean = [r for r in rows if r["_corrupt_record"] is None]
    assert len(clean) == 1 and clean[0]["payload"] == warc_gz_payload["payload"]
    assert clean[0]["target_uri"] == a["target_uri"]
    # r12 pass 8 pins, rebuilt pass 9 (hostile-input bounds — all must
    # QUARANTINE, never crash or hang the task):
    # #1 — gzip-wrapped far beyond any real nesting hits the depth cap
    # instead of RecursionError, INCLUDING with a pad byte before every
    # nested magic (pass 9 #1: a byte-0 probe was bypassed by the pad;
    # the cap now gates the dispatch branch itself)
    for pad in (b"", b"\r\n"):
        nested = good_a
        for _ in range(1000):
            nested = pad + _gzip.compress(nested, mtime=0)
        rows = _decode(nested)  # must return, not raise
        assert rows and all(r["_corrupt_record"] is not None for r in rows)
    # ...while one legitimate nesting level still decodes clean
    rows = _decode(_gzip.compress(good_a, mtime=0))
    assert [r["_corrupt_record"] for r in rows] == [None]
    # #2/#3 (rebuilt pass 10) — FAILED decompression bombs: members that
    # inflate ~1000:1 and then fail (truncated trailer) charge the
    # failed-work arm, including output produced-then-discarded. 400
    # bombs × 8 MB output ≈ 3.2 GB of unbudgeted decompress work; the
    # failed arm caps it at 32×input + 64 MB. The clean leading member
    # must survive.
    import time as _time

    bomb = _gzip.compress(b"\x00" * (8 << 20), mtime=0)[:-8]
    storm = gz_a + bomb * 400
    t0 = _time.monotonic()
    rows = _decode(storm)
    assert _time.monotonic() - t0 < 8.0
    assert rows[0]["_corrupt_record"] is None  # the real member survived
    assert all(r["_corrupt_record"] is not None for r in rows[1:])


def test_codec_budget_never_binds_on_legit_data(monkeypatch):
    """Pass 10 #1/#2/#4/#5 pins — the hostile-input bounds must NEVER
    quarantine legitimate data: clean decompression is uncharged whatever
    its ratio (this codec's own writer emits ~1000:1 members for
    repetitive payloads), tiny-member shards pay no chunk-granularity
    tax, and a member COMPLETING in the chunk that tips the memory arm is
    kept. The memory arm itself is exercised via a small monkeypatched
    cap — exceeding it quarantines the REMAINDER, keeps what finished."""
    import unravelsports_spark.sources.warc as W

    # ~1000:1 members (1 MiB zeros → ~1 KB compressed), self-written
    recs = [
        dict(_records(1)[0], record_id=f"<urn:uuid:{i}>",
             payload=b"\x00" * (1 << 20))
        for i in range(4)
    ]
    blob = W.encode_warc_records(recs, gzip_records=True)
    assert len(blob) < 16 << 10  # genuinely ~1000:1
    rows = _decode(blob)
    assert [r["_corrupt_record"] for r in rows] == [None] * 4
    assert all(r["payload"] == b"\x00" * (1 << 20) for r in rows)
    # many tiny members: all decode, no per-member chunk tax
    tiny = W.encode_warc_records(
        [dict(_records(1)[0], record_id=f"<urn:uuid:{i}>")
         for i in range(20_000)],
        gzip_records=True,
    )
    rows = _decode(tiny)
    assert len(rows) == 20_000
    assert all(r["_corrupt_record"] is None for r in rows)
    # memory arm, EXACT tipping semantics (pass 11 #5): put the cap 10
    # bytes INSIDE member 3's final decompress piece — the call that tips
    # the arm also reaches eof, so member 3 is KEPT (the pass 10 #4
    # contract: eof break before the cap check); member 4 then
    # quarantines as exactly one span. A regression that re-orders the
    # eof break after the cap check drops member 3 and fails the == 3.
    member_len = len(W.encode_warc_records([recs[0]]))  # decompressed size
    monkeypatch.setattr(W, "_MAX_DECODE_OUTPUT", 3 * member_len - 10)
    rows = _decode(blob)
    clean = [r for r in rows if r["_corrupt_record"] is None]
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(clean) == 3 and len(corrupt) == 1
    assert [r["record_id"] for r in clean] == [f"<urn:uuid:{i}>" for i in range(3)]
    # and a cap mid-member (not in the final piece) keeps only 2: the
    # third member cannot finish under the arm and quarantines with the
    # remainder — this also pins the cap's STICKINESS (pass 12 #1):
    # member 4 is perfectly valid and under-sized, yet never decoded
    monkeypatch.setattr(W, "_MAX_DECODE_OUTPUT", 3 * member_len - (256 << 10))
    rows = _decode(blob)
    assert sum(r["_corrupt_record"] is None for r in rows) == 2


def test_codec_discarded_interpretation_work_is_charged():
    """Pass 13 #1 pin (the reviewer's own PoC shape): K members of
    gzip(gzip(big zeros) + one plain record) each decompress their inner
    zeros CLEANLY, lose the interpretation vote (0 clean gzip rows vs 1
    plain), and are discarded — a bare memory-arm refund re-armed the
    budget and let the shard force K × sub-cap work, unbounded in K.
    With the discarded work charged to the failed arm, the arm binds
    after ~64 MB of it: bounded time, SOME leading members decode, the
    remainder quarantines."""
    import gzip as _gzip
    import time as _time

    from unravelsports_spark.sources.warc import encode_warc_records

    inner = _gzip.compress(b"\x00" * (8 << 20), mtime=0)  # 8 MB discarded/at a time
    rec = encode_warc_records(
        [{"target_uri": "http://k/", "payload": b"x"}]
    )
    member = _gzip.compress(inner + rec, mtime=0)
    shard = member * 400  # unbudgeted: 400 × 8 MB ≈ 3.2 GB of inflate
    t0 = _time.monotonic()
    rows = _decode(shard)
    assert _time.monotonic() - t0 < 6.0
    n_clean = sum(r["_corrupt_record"] is None for r in rows)
    assert 0 < n_clean < 200  # leading members decoded, then the arm bound
    assert any(r["_corrupt_record"] is not None for r in rows)


def test_write_warc_manifest_counts(spark):
    """The manifest contract the old in-query assert pinned (kept when the
    query shape moved to plans/corpus9 per the STATUS r12 plan): summed
    n_records over the manifest equals the exported row count."""
    df = spark.createDataFrame(
        [(f"http://h.example/{i}", f"doc {i}".encode()) for i in range(17)],
        "target_uri string, payload binary",
    )
    import os
    import shutil
    import tempfile

    from unravelsports_spark.sources.warc import write_warc

    tmp = tempfile.mkdtemp(prefix="spark_graft_warc_m_")
    try:
        manifest = write_warc(df, tmp).collect()
        assert sum(m["n_records"] for m in manifest) == 17
        assert all(m["n_bytes"] > 0 for m in manifest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_warc_roundtrip_matches_duckdb(spark, duck):
    got = sorted(map(tuple, _warc_roundtrip_query(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(WARC_ROUNDTRIP_SQL).fetchall()))
    assert got == want and len(got) == 20


def test_warc_roundtrip_gzip_members(spark, duck):
    """The per-record-gzip layout (Common Crawl) round-trips to the same
    rollup."""
    got = sorted(
        map(
            tuple,
            _warc_roundtrip_query(spark, SF_CORRECT, gzip_records=True).collect(),
        )
    )
    want = sorted(map(tuple, duck.execute(WARC_ROUNDTRIP_SQL).fetchall()))
    assert got == want


def test_write_nulls_idempotency_and_roundtrip_fields(spark, tmp_path):
    """r12 review pass 3 pins on the writer: NULL payload → empty-payload
    record (never a task crash); NULL target_uri → header omitted (never
    the literal 'None'); re-collecting the manifest overwrites the SAME
    deterministic shard names (no duplicate shards to double-count); a
    content_type column round-trips instead of being forced to
    text/html."""
    import os

    from unravelsports_spark.sources.warc import read_warc, write_warc

    df = spark.createDataFrame(
        [
            ("http://a.example/1", b"body", "application/json", "<urn:uuid:7>",
             "2025-12-31T00:00:00Z"),
            (None, None, None, None, None),  # NULL in EVERY optional
            # column (pass 4 #1 / pass 5 #6: a NULL record_id / warc_date
            # / content_type must take the absent-column default, never
            # serialize as the literal 'None' — and these columns must be
            # PRESENT in the frame for the per-value branches to run)
        ],
        "target_uri string, payload binary, content_type string,"
        " record_id string, warc_date string",
    ).coalesce(1)
    out = str(tmp_path / "w")
    os.makedirs(out)
    m1 = sorted(r["shard"] for r in write_warc(df, out).collect())
    m2 = sorted(r["shard"] for r in write_warc(df, out).collect())
    assert m1 == m2 and len(os.listdir(out)) == len(m1)  # idempotent names
    back = {r["target_uri"]: r for r in read_warc(spark, out).collect()}
    assert set(back) == {"http://a.example/1", None}
    assert back["http://a.example/1"]["content_type"] == "application/json"
    assert back["http://a.example/1"]["record_id"] == "<urn:uuid:7>"
    assert back["http://a.example/1"]["warc_date"] == "2025-12-31T00:00:00Z"
    assert back[None]["payload"] == b"" and back[None]["content_type"] == "text/html"
    assert back[None]["record_id"].startswith("<urn:uuid:")  # fresh uuid
    assert back[None]["record_id"] != "None"
    assert back[None]["warc_date"] == "2026-01-01T00:00:00Z"  # the default
    assert all(r["_corrupt_record"] is None for r in back.values())


def test_warc_feeds_the_crawl_chain(spark, tmp_path):
    """The boundary composes: WARC payloads carrying real markup flow
    through warc_to_documents → extract_html_text and come out as clean
    text — the full crawl ingest path from container to content."""
    from unravelsports_spark.operators.htmltext import extract_html_text
    from unravelsports_spark.sources.warc import (
        read_warc,
        warc_to_documents,
        write_warc,
    )

    pages = spark.createDataFrame(
        [
            (
                f"http://site.example/{i}",
                f"<html><body><p>article {i}</p><script>x()</script></body></html>".encode(),
            )
            for i in range(4)
        ],
        "target_uri string, payload binary",
    )
    out = str(tmp_path / "crawl")
    import os

    os.makedirs(out, exist_ok=True)
    write_warc(pages, out).collect()
    docs = warc_to_documents(read_warc(spark, out))
    got = {
        r["url"]: r["clean_text"]
        for r in extract_html_text(docs, text_col="text").collect()
    }
    assert len(got) == 4
    assert got["http://site.example/2"].split() == ["article", "2"]
    assert all(r == "site.example" for r in
               {x["source"] for x in docs.select("source").collect()})


def test_iter_warc_records_streams_big_gzip_shard_bounded():
    """The chunked-emission memory contract (VERDICT r12 #3): a shard
    whose DECOMPRESSED content is >64 MB streams through
    iter_warc_records with peak Python-heap allocation far below the
    decompressed size — one member's rows at a time, never the whole
    shard's. (A list of the same rows would hold all 80 MB of payloads
    live.)"""
    import tracemalloc

    import unravelsports_spark.sources.warc as W

    recs = [
        dict(_records(1)[0], record_id=f"<urn:uuid:{i}>",
             payload=(b"%06d " % i) * (1 << 17))  # 896 KiB each
        for i in range(96)
    ]
    blob = W.encode_warc_records(recs, gzip_records=True)  # ~84 MB decoded
    decoded_size = 96 * len(recs[0]["payload"])
    assert decoded_size > (64 << 20)
    tracemalloc.start()
    n, total = 0, 0
    for row in W.iter_warc_records(blob):
        assert row["_corrupt_record"] is None
        n += 1
        total += len(row["payload"])  # row dropped after this point
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n == 96 and total == decoded_size
    # peak holds one ~1 MB member + bounded codec working set — far under
    # the 84 MB a materializing decode would pin
    assert peak < (16 << 20), f"peak {peak >> 20} MiB — streaming broke"


def test_decode_shard_batches_flush_rule(monkeypatch):
    """decode_shard_batches' one flush rule (every FLUSH_ROWS rows and at
    the end) changes only the batch boundaries: with the constant at 7 the
    row set equals the default run's, quarantine row included, and no
    emitted frame exceeds 7 rows."""
    import pandas as pd

    import unravelsports_spark.sources.shardio as S
    from unravelsports_spark.sources.warc import WARC_SCHEMA, encode_warc_records

    shards = [
        encode_warc_records(
            [dict(r, record_id=f"<urn:uuid:{k}-{r['record_id']}>")
             for r in _records(n)]
        )
        for k, n in enumerate((13, 30))
    ] + [b"garbage shard \x00"]
    names = [f.name for f in WARC_SCHEMA.fields]

    def run():
        batches = [
            pd.DataFrame({"path": [f"s{i}.warc"], "content": [blob]})
            for i, blob in enumerate(shards)
        ]
        return list(S.decode_shard_batches(iter(batches), iter_warc_records, names))

    def rows(frames):
        return sorted(
            (tuple(r) for f in frames for r in f.itertuples(index=False)),
            key=repr,
        )

    default = run()
    monkeypatch.setattr(S, "FLUSH_ROWS", 7)
    chunked = run()
    assert len(default) == 1 and len(chunked) == 7
    assert all(len(f) <= 7 for f in chunked)
    assert all(list(f.columns) == names for f in chunked)
    assert rows(chunked) == rows(default) and len(rows(default)) == 44
    assert sum(r[-1] is not None for r in rows(default)) == 1


def test_warc_to_documents_invalid_utf8_never_crashes(spark):
    """ADVICE r12 #1 pin: a clean record whose payload is NOT valid UTF-8
    (latin-1 page, mislabeled binary) must never abort the job — the old
    F.decode(payload,'UTF-8') threw MALFORMED_CHARACTER_CODING under
    Spark 4 ANSI. Default mode degrades to U+FFFD; invalid='skip' drops
    the row; both stay pure Catalyst."""
    import pytest

    from unravelsports_spark.sources.warc import warc_to_documents

    rows = [
        ("response", "http://a.example/1", bytearray("clean café".encode()), None),
        ("response", "http://b.example/2", bytearray(b"caf\xe9 latin-1"), None),
        ("response", "http://c.example/3", bytearray(b"\xff\xfebinary\x00"), None),
    ]
    df = spark.createDataFrame(
        rows, "rec_type string, target_uri string, payload binary, _corrupt_record string"
    )
    got = {r["url"]: r["text"] for r in warc_to_documents(df).collect()}
    assert got["http://a.example/1"] == "clean café"
    assert got["http://b.example/2"] == "caf� latin-1"
    assert "binary" in got["http://c.example/3"]  # degraded, not dropped
    kept = {r["url"] for r in warc_to_documents(df, invalid="skip").collect()}
    assert kept == {"http://a.example/1"}
    with pytest.raises(ValueError):
        warc_to_documents(df, invalid="drop tables")
