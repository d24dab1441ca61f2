"""TFRecord / tf.Example boundary (engine addition §2.1 surface; built
round 13, driver registration queued r14 as `o20_tfrecord_roundtrip`) —
the shard format TensorFlow training jobs consume. A corpus pipeline that
ends at parquet still needs an EXPORT leg for TF-based trainers; this
module writes and reads the real on-disk format with no tensorflow /
protobuf / crc32c dependency (the repo codec discipline: PNG/WAV/JPEG/
WARC — the formats are simple enough to own).

Format (both owned here, round-trip tested byte-exactly):

- **TFRecord framing**: per record — uint64 little-endian payload length,
  masked CRC32C of those 8 length bytes, the payload, masked CRC32C of
  the payload. CRC32C is the Castagnoli polynomial (0x82F63B78,
  table-driven) with TensorFlow's mask ``((crc >> 15 | crc << 17) +
  0xa282ead8) & 0xffffffff``.
- **tf.Example**: a minimal protobuf WIRE codec (varint + tag +
  length-delimited — no descriptor machinery) for exactly the Example /
  Features / Feature / BytesList / FloatList / Int64List message shapes.
  Feature values map to Spark types: string/binary → bytes_list,
  long → int64_list, double → float_list. NOTE float_list is IEEE
  float32 ON THE WIRE (the tf.Example schema, not a choice here) — a
  double round-trips with f32 precision; keep exact-valued columns as
  int64/bytes when bit-exactness matters (the certified query does).

Quarantine contract (shared with sources/jsonl · csvio · warc —
``quarantine_counts`` works unchanged): a CRC mismatch, truncation, or
hostile declared length surfaces as ONE ``_corrupt_record`` row and —
unlike WARC — parsing CANNOT resync: TFRecord has no magic to scan for
(lengths are the only framing), so the REMAINDER of the shard after the
first corruption is part of that one quarantined span. That is the
format's own property, not a parser shortcut; shard-level replication is
how TF pipelines handle it, and the writer's one-shard-per-Arrow-batch
layout keeps the blast radius one batch.

Hostile-input posture (the WARC review lessons applied up front): the
declared length is attacker-controlled — it is validated against the
REMAINING bytes before any slicing or allocation (a 2^60 length
quarantines instead of allocating); all work is linear in the shard.

Scale caveat: binaryFile reads each shard whole, and CRC32C here is
table-driven pure Python (~linear, one pass per record) — sized for
EXPORT/IMPORT boundaries (write once per release, read once per training
job), not per-query hot paths. Keep shards O(100 MB) via the Arrow batch
sizing, as with WARC.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli), table-driven; TensorFlow's masking
# ---------------------------------------------------------------------------


def _make_table():
    poly = 0x82F63B78
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_TABLE = _make_table()


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = _TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return ((c >> 15 | c << 17) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# minimal protobuf wire codec for tf.Example
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(data: bytes, pos: int):
    n, shift = 0, 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            # reject non-canonical encodings carrying bits above 63 (r13
            # review pass 25 #4: a hostile 2^69 varint decoded to a value
            # outside int64 and crashed the Arrow conversion downstream
            # instead of quarantining here)
            if n >= 1 << 64:
                raise ValueError("varint exceeds 64 bits")
            return n, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _ld(tag: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _varint(tag << 3 | 2) + _varint(len(payload)) + payload


def encode_example(features: dict) -> bytes:
    """dict of name → value into tf.Example wire bytes. Values:
    bytes/str → bytes_list (one element), int → int64_list, float →
    float_list (f32 on the wire), or a LIST of one of those types for
    multi-element features. None — and an EMPTY list, whose element kind
    is unknowable on this API — skips the feature (absent on the wire;
    tf.Example can represent a present-but-empty list, but only with an
    explicit kind this dict API does not carry)."""
    entries = b""
    for name, value in features.items():
        if value is None:
            continue
        vals = value if isinstance(value, (list, tuple)) else [value]
        if not vals:
            continue
        if isinstance(vals[0], (bytes, str)):
            # per-element type check (pass 28 #2: a stray int in a bytes
            # list hit bytes(3) = a 3-byte ZERO buffer — the silent
            # coercion the projection side quarantines against)
            for v in vals:
                if not isinstance(v, (bytes, bytearray, str)):
                    raise TypeError(
                        f"mixed bytes_list element: {type(v).__name__}"
                    )
            payload = b"".join(
                _ld(1, v.encode() if isinstance(v, str) else bytes(v))
                for v in vals
            )
            kind = _ld(1, payload)  # BytesList bytes_list = 1
        elif isinstance(vals[0], bool):
            raise TypeError("bool features are ambiguous — cast to int")
        elif isinstance(vals[0], int):
            for v in vals:
                # per-element bool check (ADVICE r13 #3: [1, True] slipped
                # past the vals[0]-only guard and silently encoded True
                # as 1 — same per-element discipline the bytes branch got)
                if isinstance(v, bool):
                    raise TypeError(
                        "bool features are ambiguous — cast to int"
                    )
                # loud on out-of-int64 (pass 28 #1: `& 0xFFFF…` silently
                # WRAPPED 2^63 to -2^63 on the wire)
                if not -(1 << 63) <= v < 1 << 63:
                    raise OverflowError(f"int64 feature out of range: {v}")
            packed = b"".join(_varint(v & 0xFFFFFFFFFFFFFFFF) for v in vals)
            kind = _ld(3, _ld(1, packed))  # Int64List int64_list = 3
        elif isinstance(vals[0], float):
            # saturate to ±inf like TensorFlow's float32 cast (pass 25
            # #2: bare struct.pack OverflowError killed the export on
            # valid doubles; pass 28 #6: a literal threshold forced the
            # last finite-castable band to inf — let struct decide and
            # saturate only what genuinely overflows)
            import math

            def f32(v):
                try:
                    return struct.pack("<f", v)
                except OverflowError:
                    return struct.pack("<f", math.copysign(math.inf, v))

            packed = b"".join(f32(v) for v in vals)
            kind = _ld(2, _ld(1, packed))  # FloatList float_list = 2
        else:
            raise TypeError(f"unsupported feature type: {type(vals[0])}")
        entry = _ld(1, name.encode()) + _ld(2, kind)  # map key=1, value=2
        entries += _ld(1, entry)  # Features.feature map entry
    return _ld(1, entries)  # Example.features = 1


def _skip_field(data: bytes, pos: int, wire: int) -> int:
    if wire == 0:
        _, pos = _read_varint(data, pos)
    elif wire == 2:
        ln, pos = _read_varint(data, pos)
        if pos + ln > len(data):
            raise ValueError("truncated field")
        pos += ln
    elif wire == 5:
        pos += 4
    elif wire == 1:
        pos += 8
    else:
        raise ValueError(f"unsupported wire type {wire}")
    if pos > len(data):
        raise ValueError("truncated field")
    return pos


def _fields(data: bytes):
    """Yield (field_no, wire, value_bytes_or_int) over one message."""
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        field, wire = key >> 3, key & 7
        if wire == 2:
            ln, pos = _read_varint(data, pos)
            if pos + ln > len(data):
                raise ValueError("truncated field")
            yield field, wire, data[pos:pos + ln]
            pos += ln
        elif wire == 0:
            v, pos = _read_varint(data, pos)
            yield field, wire, v
        else:
            start = pos
            pos = _skip_field(data, pos, wire)
            yield field, wire, data[start:pos]


def decode_example(data: bytes) -> dict:
    """tf.Example wire bytes → dict of name → list of values (bytes for
    bytes_list, int for int64_list — decoded two's-complement signed —
    float for float_list). Raises ValueError on malformed input (the
    caller quarantines)."""
    out = {}
    for field, wire, feats in _fields(data):
        if field != 1 or wire != 2:
            continue  # unknown Example field: proto-legal, skip
        for f2, w2, entry in _fields(feats):
            if f2 != 1 or w2 != 2:
                continue
            name, vals = None, []
            for f3, w3, v3 in _fields(entry):
                if f3 == 1 and w3 == 2:
                    name = v3.decode("utf-8", "replace")
                elif f3 == 2 and w3 == 2:
                    for f4, w4, v4 in _fields(v3):
                        if w4 != 2:
                            continue
                        # v4 is the *List MESSAGE; its field 1 holds the
                        # values (length-delimited per element for bytes,
                        # PACKED for int64/float — one more unwrap level,
                        # missed for the numeric lists on first write)
                        if f4 == 1:  # BytesList
                            vals += [v for f5, w5, v in _fields(v4)
                                     if f5 == 1 and w5 == 2]
                        elif f4 == 3:  # Int64List
                            for f5, w5, packed in _fields(v4):
                                if f5 == 1 and w5 == 2:  # packed varints
                                    pos = 0
                                    while pos < len(packed):
                                        m, pos = _read_varint(packed, pos)
                                        if m >= 1 << 63:
                                            m -= 1 << 64
                                        vals.append(m)
                                elif f5 == 1 and w5 == 0:  # unpacked form
                                    if packed >= 1 << 63:
                                        packed -= 1 << 64
                                    vals.append(packed)
                        elif f4 == 2:  # FloatList
                            for f5, w5, packed in _fields(v4):
                                if f5 == 1 and w5 == 2:  # packed f32s
                                    if len(packed) % 4:
                                        raise ValueError(
                                            "odd float_list bytes"
                                        )
                                    vals += [
                                        struct.unpack_from("<f", packed, i)[0]
                                        for i in range(0, len(packed), 4)
                                    ]
                                elif f5 == 1 and w5 == 5:  # unpacked f32
                                    vals.append(
                                        struct.unpack("<f", packed)[0]
                                    )
            if name is not None:
                out[name] = vals
    return out


# ---------------------------------------------------------------------------
# TFRecord framing
# ---------------------------------------------------------------------------


def encode_tfrecords(payloads: list) -> bytes:
    out = bytearray()
    for p in payloads:
        p = bytes(p)
        hdr = struct.pack("<Q", len(p))
        out += hdr
        out += struct.pack("<I", _masked_crc(hdr))
        out += p
        out += struct.pack("<I", _masked_crc(p))
    return bytes(out)


def iter_tfrecords(data: bytes):
    """LAZY record iterator (like iter_warc_records — r13 review pass 26
    #3: an eager list defeated the shared decoder's chunked emission): yields
    {'payload': bytes, '_corrupt_record': None} per record; the first
    corruption (bad CRC, truncation, hostile length) quarantines THE
    REMAINDER as one row and stops — the format has no resync magic (see
    module docstring). Length is validated BEFORE any slice, so a hostile
    2^60 declared length costs nothing."""
    pos, n = 0, len(data)
    while pos < n:
        if pos + 12 > n:
            yield _corrupt(data[pos:pos + 256])
            return
        (length,) = struct.unpack_from("<Q", data, pos)
        (len_crc,) = struct.unpack_from("<I", data, pos + 8)
        if _masked_crc(data[pos:pos + 8]) != len_crc:
            yield _corrupt(data[pos:pos + 256])
            return
        body = pos + 12
        # validate against REMAINING bytes before slicing (hostile length)
        if length > n - body - 4:
            yield _corrupt(data[pos:pos + 256])
            return
        payload = data[body:body + length]
        (pay_crc,) = struct.unpack_from("<I", data, body + length)
        if _masked_crc(payload) != pay_crc:
            yield _corrupt(data[pos:pos + 256])
            return
        yield {"payload": payload, "_corrupt_record": None}
        pos = body + length + 4


def _corrupt(bad: bytes) -> dict:
    return {
        "payload": None,
        "_corrupt_record": bad[:256].decode("utf-8", "replace"),
    }


# ---------------------------------------------------------------------------
# Spark boundary
# ---------------------------------------------------------------------------

#: read_tfrecords output schema (before feature projection)
TFRECORD_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def write_tfrecords(df: DataFrame, path: str) -> DataFrame:
    """Distributed sharded tf.Example TFRecord export — one shard per
    Arrow batch, DETERMINISTIC ``part-<partition>-<batch>.tfrecord``
    names via tmp + atomic rename (the write_warc idempotency contract:
    retries/speculation rewrite the same files). Every df column becomes
    a feature: string → bytes_list (utf-8), binary → bytes_list,
    integral → int64_list, double/float → float_list (f32 wire — see
    module note); NULL skips the feature for that record. Returns the
    manifest frame (shard, n_records, n_bytes); collecting it drives the
    write.

    Implementation rides ``mapInArrow``, NOT mapInPandas (r13 review
    pass 25 #3, reproduced live: Arrow→pandas converts a NULLABLE int64
    batch to float64, silently corrupting values > 2^53 — exactly the
    exactness this format leg promises; Arrow arrays keep int64 + a null
    bitmap, and ``to_pylist`` round-trips exactly). Unsupported column
    types (arrays, structs, booleans, timestamps…) fail LOUD up front —
    silently stringifying them produced bytes features nobody asked for."""
    ok_types = (
        T.StringType, T.BinaryType, T.LongType, T.IntegerType,
        T.ShortType, T.ByteType, T.DoubleType, T.FloatType,
    )
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if not isinstance(f.dataType, ok_types)
    ]
    if bad:
        raise ValueError(
            "write_tfrecords supports string/binary/integral/float "
            f"columns only (tf.Example's three list kinds); cast or drop: "
            f"{bad}"
        )
    names = [f.name for f in df.schema.fields]

    def writer(batches):
        import pyarrow as pa

        from pyspark import TaskContext

        from .shardio import write_shard

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        for batch_idx, batch in enumerate(batches):
            if batch.num_rows == 0:
                continue
            cols = [batch.column(i).to_pylist() for i in range(len(names))]
            payloads = [
                encode_example(dict(zip(names, row))) for row in zip(*cols)
            ]
            blob = encode_tfrecords(payloads)
            shard = write_shard(path, pid, batch_idx, ".tfrecord", blob)
            yield pa.RecordBatch.from_pydict(
                {
                    "shard": [shard],
                    "n_records": [len(payloads)],
                    "n_bytes": [len(blob)],
                }
            )

    return df.mapInArrow(
        writer, "shard string, n_records long, n_bytes long"
    )


def read_tfrecords(spark: SparkSession, path: str) -> DataFrame:
    """Read TFRecord shards into (shard, payload, _corrupt_record) rows —
    payload is the raw tf.Example bytes (project features with
    :func:`examples_to_columns`). Rows stream off :func:`iter_tfrecords`
    into fixed-size pandas batches (the decode loop shared with
    read_warc), which bounds decoded-row materialization per task."""
    from .shardio import decode_shard_batches

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tfrecord")
        .load(path)
        .select("path", "content")
    )
    cols = [f.name for f in TFRECORD_SCHEMA.fields]
    return files.mapInPandas(
        lambda it: decode_shard_batches(it, iter_tfrecords, cols),
        TFRECORD_SCHEMA,
    )


def examples_to_columns(df: DataFrame, spec: dict) -> DataFrame:
    """Project tf.Example payloads into typed columns per ``spec``
    (name → 'bytes' | 'string' | 'int64' | 'float'). Single-element
    features become scalars; an ABSENT feature becomes NULL; a malformed
    payload quarantines into ``_corrupt_record``, and FRAMING-quarantined
    input rows PASS THROUGH with their marker and NULL features (r13
    review pass 27 #1: silently dropping them made quarantine_counts on
    the projected frame report 0 — the shared contract holds on BOTH
    frames). Multi-element features are out of scope here — read them
    with a custom decode over ``payload``."""
    import pandas as pd

    # reserved output columns (pass 26 #5: spec={'shard': …} produced a
    # duplicate-name schema / overwrote the quarantine marker)
    clashes = {"shard", "_corrupt_record"} & set(spec)
    if clashes:
        raise ValueError(
            f"spec feature name(s) collide with reserved output columns: "
            f"{sorted(clashes)} — read them from the raw payload instead"
        )
    fields = [T.StructField("shard", T.StringType())]
    for name, kind in spec.items():
        dt = {
            "bytes": T.BinaryType(),
            "string": T.StringType(),
            "int64": T.LongType(),
            "float": T.DoubleType(),
        }[kind]
        fields.append(T.StructField(name, dt))
    fields.append(T.StructField("_corrupt_record", T.StringType()))
    schema = T.StructType(fields)

    def project(batches):
        for pdf in batches:
            rows = []
            for shard, payload, corrupt in zip(
                pdf["shard"], pdf["payload"], pdf["_corrupt_record"]
            ):
                if corrupt is not None:
                    # framing quarantine passes through (pass 27 #1)
                    row = {"shard": shard, "_corrupt_record": corrupt}
                    for name in spec:
                        row[name] = None
                    rows.append(row)
                    continue
                row = {"shard": shard, "_corrupt_record": None}
                try:
                    feats = decode_example(bytes(payload))
                    for name, kind in spec.items():
                        vals = feats.get(name)
                        if not vals:
                            row[name] = None
                            continue
                        if len(vals) > 1:
                            # cardinality mismatch is a spec violation
                            # like a kind mismatch — quarantine, never
                            # silently drop elements (pass 28 #3)
                            raise ValueError(
                                f"feature {name!r}: {len(vals)} elements "
                                f"for a scalar spec"
                            )
                        v = vals[0]
                        # spec/wire kind mismatches quarantine, never
                        # coerce (r13 review pass 25 #1: bytes(42) is a
                        # 42-byte zero buffer, int.decode crashed the
                        # task) — decode_example yields exactly bytes |
                        # int | float per list kind
                        if kind in ("string", "bytes"):
                            if not isinstance(v, (bytes, bytearray)):
                                raise ValueError(
                                    f"feature {name!r}: expected "
                                    f"bytes_list, got {type(v).__name__}"
                                )
                            row[name] = (
                                v.decode("utf-8", "replace")
                                if kind == "string"
                                else bytes(v)
                            )
                        elif kind == "int64":
                            if not isinstance(v, int):
                                raise ValueError(
                                    f"feature {name!r}: expected "
                                    f"int64_list, got {type(v).__name__}"
                                )
                            row[name] = v
                        else:
                            # floats only — an int means int64_list on
                            # the wire, and float((1<<53)+1) silently
                            # corrupts it (pass 26 #2: quarantine, never
                            # coerce)
                            if not isinstance(v, float):
                                raise ValueError(
                                    f"feature {name!r}: expected "
                                    f"float_list, got {type(v).__name__}"
                                )
                            row[name] = v
                except (ValueError, IndexError, TypeError,
                        AttributeError) as ex:
                    row = {"shard": shard, "_corrupt_record": repr(ex)[:256]}
                    for name in spec:
                        row.setdefault(name, None)
                rows.append(row)
            # OBJECT-dtype columns (found live): pd.DataFrame(rows) turns
            # an int64 column containing a None into float64, silently
            # corrupting values > 2^53 — the exactness this leg promises.
            # Object series keep Python ints; Arrow converts them to
            # int64 exactly with None → null.
            names_all = [f.name for f in schema.fields]
            yield pd.DataFrame(
                {
                    c: pd.Series([r.get(c) for r in rows], dtype=object)
                    for c in names_all
                },
                columns=names_all,
            )

    return df.mapInPandas(project, schema)
