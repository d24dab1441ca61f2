"""TFRecord / tf.Example boundary (sources/tfrecord.py) — built round 13,
REGISTERED round 14 as `o20_tfrecord_roundtrip`. The canonical oracle SQL
and query shape now live in plans/corpus10.py (the corpus7/8/9
registration discipline); this suite imports them, so twin and oracle
cannot drift. Documents round-trip byte-exactly through the real on-disk
format (framing CRCs + tf.Example wire bytes); the injected corrupt shard
is excluded from the rollup AND counted exactly once."""

import struct

from pyspark.sql import functions as F

from unravelsports_spark.plans.corpus10 import (
    TFRECORD_SQL,
    o20_tfrecord_roundtrip as _tfrecord_roundtrip_query,
)

from .conftest import SF_CORRECT


def test_tfrecord_roundtrip_matches_duckdb(spark, duck):
    got = sorted(
        map(tuple, _tfrecord_roundtrip_query(spark, SF_CORRECT).collect())
    )
    want = sorted(map(tuple, duck.execute(TFRECORD_SQL).fetchall()))
    assert got == want and len(got) == 20


def test_crc32c_known_vectors():
    """CRC32C pinned against published vectors (RFC 3720 / Castagnoli):
    empty, '123456789' → 0xE3069283, 32 zero bytes → 0x8A9136AA."""
    from unravelsports_spark.sources.tfrecord import crc32c

    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def test_framing_roundtrip_and_quarantine():
    from unravelsports_spark.sources.tfrecord import encode_tfrecords, iter_tfrecords

    def decode_tfrecords(data):
        return list(iter_tfrecords(data))

    payloads = [b"", b"x", b"hello \x00\xff world", b"z" * 10_000]
    blob = encode_tfrecords(payloads)
    rows = decode_tfrecords(blob)
    assert [r["payload"] for r in rows] == payloads
    assert all(r["_corrupt_record"] is None for r in rows)
    # flipped payload byte: record AND remainder quarantine as ONE row
    # (no resync magic in the format — the documented property)
    bad = bytearray(blob)
    bad[20] ^= 0xFF
    rows = decode_tfrecords(bytes(bad))
    assert rows[0]["payload"] == payloads[0]  # empty record precedes pos 20
    assert sum(r["_corrupt_record"] is not None for r in rows) == 1
    assert rows[-1]["_corrupt_record"] is not None
    # truncation mid-record
    rows = decode_tfrecords(blob[: len(blob) - 2])
    assert rows[-1]["_corrupt_record"] is not None
    assert [r["payload"] for r in rows[:-1]] == payloads[:3]
    # hostile declared length (2^60) quarantines WITHOUT allocating: the
    # length CRC is valid, so only the remaining-bytes check stops it
    from unravelsports_spark.sources.tfrecord import _masked_crc

    hdr = struct.pack("<Q", 1 << 60)
    evil = hdr + struct.pack("<I", _masked_crc(hdr)) + b"tiny"
    rows = decode_tfrecords(encode_tfrecords([b"ok"]) + evil)
    assert rows[0]["payload"] == b"ok"
    assert rows[1]["_corrupt_record"] is not None and len(rows) == 2


def test_example_wire_roundtrip():
    """tf.Example wire codec: bytes/str, signed int64 (two's complement),
    float32 wire precision, multi-element lists, absent features, None
    skipped."""
    from unravelsports_spark.sources.tfrecord import (
        decode_example,
        encode_example,
    )

    feats = {
        "text": "héllo wörld",
        "raw": b"\x00\xff",
        "id": -42,
        "big": (1 << 62) - 1,
        "score": 0.5,          # exactly representable in f32
        "toks": [1, 2, 3],
        "skip": None,
    }
    back = decode_example(encode_example(feats))
    assert back["text"] == ["héllo wörld".encode()]
    assert back["raw"] == [b"\x00\xff"]
    assert back["id"] == [-42]
    assert back["big"] == [(1 << 62) - 1]
    assert back["score"] == [0.5]
    assert back["toks"] == [1, 2, 3]
    assert "skip" not in back
    # f32 wire precision is the documented contract
    lossy = decode_example(encode_example({"x": 0.1}))["x"][0]
    assert abs(lossy - 0.1) < 1e-7 and lossy != 0.1
    # malformed payload raises (the projection quarantines it)
    import pytest

    with pytest.raises(ValueError):
        decode_example(b"\x0a\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01")


def test_examples_to_columns_contracts(spark, tmp_path):
    """Feature projection: absent feature → NULL column; schema-level
    garbage payload quarantines into the projection's _corrupt_record;
    NULL column values skip the feature and come back NULL."""
    import os

    from unravelsports_spark.sources.tfrecord import (
        encode_tfrecords,
        examples_to_columns,
        read_tfrecords,
        write_tfrecords,
    )

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, 0.25)],
        "doc_id long, label string, score double",
    ).coalesce(1)
    p = str(tmp_path / "t")
    os.makedirs(p)
    write_tfrecords(df, p).collect()
    # a VALID FRAME whose payload is not a decodable Example: framing
    # passes, examples_to_columns quarantines it
    with open(os.path.join(p, "part-junk.tfrecord"), "wb") as fh:
        fh.write(encode_tfrecords([b"\x0a\xff\xff\xff\xff\xff\xff\xff\x01"]))
    cols = examples_to_columns(
        read_tfrecords(spark, p),
        {"doc_id": "int64", "label": "string", "score": "float"},
    )
    rows = {r["doc_id"]: r for r in cols.collect()}
    assert rows[1]["label"] == "a" and rows[1]["score"] is None
    assert rows[2]["label"] is None and rows[2]["score"] == 0.25
    assert rows[None]["_corrupt_record"] is not None  # the junk payload


def test_hostile_and_type_safety_pins(spark, tmp_path):
    """r13 review pass 25 pins: (1) a spec/wire kind mismatch quarantines
    instead of crashing the task (int.decode) or silently coercing
    (bytes(42) = a 42-byte zero buffer); (2) float overflow saturates to
    inf like TensorFlow's cast instead of OverflowError; (3) a hostile
    >64-bit varint raises at decode (quarantined) rather than crashing
    Arrow; (4) unsupported column types fail loud at write time; (5)
    nullable int64 > 2^53 round-trips EXACTLY (the mapInArrow writer —
    a pandas path converted nullable int64 batches to float64)."""
    import os

    import pytest

    from unravelsports_spark.sources.tfrecord import (
        _read_varint,
        _varint,
        decode_example,
        encode_example,
        encode_tfrecords,
        examples_to_columns,
        read_tfrecords,
        write_tfrecords,
    )

    # (1) kind mismatch: write an int64 feature, project it as string
    p = str(tmp_path / "mismatch")
    os.makedirs(p)
    with open(os.path.join(p, "part-x.tfrecord"), "wb") as fh:
        fh.write(encode_tfrecords([encode_example({"text": 42})]))
    rows = examples_to_columns(
        read_tfrecords(spark, p), {"text": "string"}
    ).collect()
    assert len(rows) == 1 and rows[0]["_corrupt_record"] is not None
    assert "bytes_list" in rows[0]["_corrupt_record"]

    # (2) float32 overflow saturates
    got = decode_example(encode_example({"x": 1e300, "y": -1e300}))
    assert got["x"][0] == float("inf") and got["y"][0] == float("-inf")

    # (3) >64-bit varint rejected
    with pytest.raises(ValueError, match="64 bits"):
        _read_varint(_varint((1 << 69) + 5), 0)

    # (4) unsupported column type fails loud at write
    arr = spark.createDataFrame([([1, 2],)], "v array<bigint>")
    with pytest.raises(ValueError, match="cast or drop"):
        write_tfrecords(arr, str(tmp_path / "nope"))

    # (5) nullable int64 beyond 2^53 exact round-trip
    big = (1 << 53) + 1
    df = spark.createDataFrame(
        [(1, big), (2, None)], "doc_id long, v long"
    ).coalesce(1)
    p2 = str(tmp_path / "big")
    os.makedirs(p2)
    write_tfrecords(df, p2).collect()
    back = {
        r["doc_id"]: r["v"]
        for r in examples_to_columns(
            read_tfrecords(spark, p2), {"doc_id": "int64", "v": "int64"}
        ).collect()
    }
    assert back == {1: big, 2: None}


def test_framing_quarantine_passes_through_projection(spark, tmp_path):
    """r13 review pass 27 #1 pin: a framing-corrupt shard's quarantine row
    survives examples_to_columns (NULL features, marker intact), so
    quarantine_counts works on the PROJECTED frame too."""
    import os

    from unravelsports_spark.sources.jsonl import quarantine_counts
    from unravelsports_spark.sources.tfrecord import (
        examples_to_columns,
        read_tfrecords,
        write_tfrecords,
    )
    from unravelsports_spark.cache import release_tracked

    df = spark.createDataFrame([(1, "a")], "doc_id long, label string")
    p = str(tmp_path / "q")
    os.makedirs(p)
    write_tfrecords(df, p).collect()
    with open(os.path.join(p, "part-bad.tfrecord"), "wb") as fh:
        fh.write(b"framing garbage")
    cols = examples_to_columns(
        read_tfrecords(spark, p), {"doc_id": "int64", "label": "string"}
    )
    try:
        qc = quarantine_counts(cols).first()
        assert (qc["n_clean"], qc["n_quarantined"]) == (1, 1)
        quarantined = cols.where(F.col("_corrupt_record").isNotNull()).collect()
        assert len(quarantined) == 1 and quarantined[0]["doc_id"] is None
    finally:
        release_tracked()


def test_encode_side_loud_failures_and_cardinality(spark, tmp_path):
    """r13 review pass 28 pins: (1) out-of-int64 ints fail loud (the
    wire mask silently wrapped 2^63 to -2^63); (2) a stray non-bytes
    element in a bytes list fails loud (bytes(3) was a 3-byte zero
    buffer); (3) a multi-element feature projected with a scalar spec
    quarantines instead of silently dropping elements; (4) f32
    saturation keeps the last finite-castable band finite."""
    import os
    import struct

    import pytest

    from unravelsports_spark.sources.tfrecord import (
        decode_example,
        encode_example,
        encode_tfrecords,
        examples_to_columns,
        read_tfrecords,
    )

    with pytest.raises(OverflowError):
        encode_example({"id": 1 << 63})
    with pytest.raises(TypeError, match="mixed bytes_list"):
        encode_example({"x": [b"a", 3]})
    # multi-element feature under a scalar spec → quarantined row
    p = str(tmp_path / "multi")
    os.makedirs(p)
    with open(os.path.join(p, "part-m.tfrecord"), "wb") as fh:
        fh.write(encode_tfrecords([encode_example({"toks": [1, 2, 3]})]))
    rows = examples_to_columns(
        read_tfrecords(spark, p), {"toks": "int64"}
    ).collect()
    assert len(rows) == 1 and "3 elements" in rows[0]["_corrupt_record"]
    # f32 saturation: just-above-threshold rounds to max finite (like
    # struct/TF), far-above saturates to inf
    near = 3.40282353e38   # rounds to f32 max, must stay finite
    far = 1e300
    got = decode_example(encode_example({"a": near, "b": far}))
    assert got["a"][0] == struct.unpack("<f", struct.pack("<f", near))[0]
    assert got["b"][0] == float("inf")


def test_write_shard_creates_missing_directory(tmp_path):
    """ADVICE r13 #1 pin: write_shard must create the output directory
    like Spark's native writers (open() on the dotfile tmp used to raise
    FileNotFoundError for a not-yet-created nested path)."""
    import os

    from unravelsports_spark.sources.shardio import write_shard

    path = str(tmp_path / "new" / "nested")
    shard = write_shard(path, 0, 0, ".tfrecord", b"payload")
    assert os.path.exists(shard)
    with open(shard, "rb") as fh:
        assert fh.read() == b"payload"


def test_encode_example_bool_checked_per_element():
    """ADVICE r13 #3 pin: [1, True] slipped past the vals[0]-only bool
    guard and silently encoded True as 1 — the int64 branch now checks
    per element like the bytes branch."""
    import pytest

    from unravelsports_spark.sources.tfrecord import encode_example

    with pytest.raises(TypeError, match="bool features are ambiguous"):
        encode_example({"x": [1, True]})
    with pytest.raises(TypeError, match="bool features are ambiguous"):
        encode_example({"x": [True, 1]})
