"""Multimodal column plumbing: image/audio/video payloads as opaque binary
columns with typed metadata, processed via Arrow-batched `mapInPandas`.

The Spark-side contract (schema, partition-preserving batched UDFs, bounded
batch sizes for large blobs) is real and tested. The non-fake codec paths are
backed by pure-Python codecs: PNG/BMP in `functions/imagecodec.py` (stdlib
zlib + numpy — no PIL/opencv needed), baseline JPEG in
`functions/jpegcodec.py`, and RIFF/PCM WAV in `functions/audiocodec.py`;
formats beyond those (MP3, video codecs) raise NotImplementedError with a
clear message. `fake=True` keeps the
deterministic hash-based pseudo-decode for format-agnostic pipeline tests
(stable across runs, exercises every downstream stage).

At 100 TB: binary payloads dominate row size — `maxRecordsPerBatch` must be
set low for these pipelines (the session factory's 10k default is for scalar
rows; pass batch_size here), and metadata-only plans never touch the blob
column thanks to parquet column pruning.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.imagecodec import decode_image

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _fake_decode(payload: bytes) -> dict:
    h = hashlib.md5(payload).digest()
    return {
        "width": 64 + h[0] % 64,
        "height": 64 + h[1] % 64,
        "mean_pixel": h[2] / 255.0,
    }


def _real_decode(payload: bytes) -> dict:
    img = decode_image(payload)
    return {
        "width": int(img.shape[1]),
        "height": int(img.shape[0]),
        "mean_pixel": float(img.mean() / 255.0),
    }


def decode_images(df: DataFrame, payload_col: str = "payload", fake: bool = False) -> DataFrame:
    """payload → (width, height, mean_pixel) columns. The real path decodes
    PNG/BMP with the pure-Python codec; `fake=True` substitutes the hash
    pseudo-decoder for format-agnostic tests."""
    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("dec_width", T.IntegerType()),
            T.StructField("dec_height", T.IntegerType()),
            T.StructField("mean_pixel", T.DoubleType()),
        ]
    )
    decode = _fake_decode if fake else _real_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode(bytes(p)) for p in pdf[payload_col]]
            pdf = pdf.copy()
            pdf["dec_width"] = [d["width"] for d in decoded]
            pdf["dec_height"] = [d["height"] for d in decoded]
            pdf["mean_pixel"] = [d["mean_pixel"] for d in decoded]
            yield pdf

    return df.mapInPandas(run, schema)


def extract_audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """WAV payload → integer-exact audio descriptors (n_samples, sample_rate,
    duration_ms, peak |amplitude|, energy = Σ sample², zero crossings on
    channel 0). Same Arrow mapInPandas shape as the image path; descriptors
    are integers so the DuckDB oracle matches with zero tolerance."""
    from ..functions.audiocodec import decode_wav

    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("n_samples", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("peak", T.LongType()),
            T.StructField("energy", T.LongType()),
            T.StructField("zero_crossings", T.LongType()),
        ]
    )

    def feats(p: bytes) -> tuple:
        s, rate = decode_wav(bytes(p))
        ch0 = s[:, 0].astype(np.int64)
        n = len(ch0)
        zc = int(np.sum(np.signbit(ch0[1:]) != np.signbit(ch0[:-1]))) if n > 1 else 0
        return (
            n, rate, n * 1000 // rate,
            int(np.abs(ch0).max(initial=0)), int((ch0 * ch0).sum()), zc,
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["n_samples", "sample_rate", "duration_ms", "peak", "energy", "zero_crossings"]
        for pdf in batches:
            pdf = pdf.copy()
            vals = [feats(p) for p in pdf[payload_col]]
            for i, c in enumerate(cols):
                pdf[c] = [v[i] for v in vals]
            yield pdf

    return df.mapInPandas(run, schema)


def _dct1_basis(n: int) -> "np.ndarray":
    """Orthonormal 1-D DCT-II basis (numpy only — scipy.fft.dct is not in
    this container): C[k, x] = a_k cos(pi (2x+1) k / (2n))."""
    k = np.arange(n).reshape(-1, 1)
    x = np.arange(n).reshape(1, -1)
    c = np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    c[0] *= np.sqrt(1.0 / n)
    c[1:] *= np.sqrt(2.0 / n)
    return c


def _mel_filterbank(n_mels: int, n_fft: int, rate: int) -> "np.ndarray":
    """(n_mels, n_fft//2 + 1) triangular filters on the HTK mel scale
    (mel = 2595 log10(1 + f/700)) spanning 0..Nyquist — the standard MFCC
    front end, built deterministically from exact bin frequencies."""
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
    imel = lambda m: 700.0 * (10.0 ** (m / 2595.0) - 1.0)  # noqa: E731
    pts = imel(np.linspace(mel(0.0), mel(rate / 2.0), n_mels + 2))
    bins = np.floor((n_fft + 1) * pts / rate).astype(int)
    fb = np.zeros((n_mels, n_fft // 2 + 1))
    for m in range(1, n_mels + 1):
        lo, c, hi = bins[m - 1], bins[m], bins[m + 1]
        for i in range(lo, c):
            if c > lo:
                fb[m - 1, i] = (i - lo) / (c - lo)
        for i in range(c, hi):
            if hi > c:
                fb[m - 1, i] = (hi - i) / (hi - c)
    return fb


# Module-level filterbank memo (ADVICE r9 #4): a closure-local dict is
# re-created on every task deserialization, so it only memoized within one
# batch iterator. The worker imports this module ONCE per process, so this
# dict genuinely caches across tasks/clips for the life of the executor.
_MEL_FB_CACHE: dict = {}


def _mel_filterbank_cached(n_mels: int, n_fft: int, rate: int) -> "np.ndarray":
    key = (n_mels, n_fft, rate)
    fb = _MEL_FB_CACHE.get(key)
    if fb is None:
        fb = _MEL_FB_CACHE.setdefault(key, _mel_filterbank(n_mels, n_fft, rate))
    return fb


def audio_mfcc(
    df: DataFrame,
    payload_col: str = "payload",
    n_mfcc: int = 13,
    n_mels: int = 26,
    frame_len: int = 400,
    hop: int = 160,
) -> DataFrame:
    """WAV payload → clip-level MFCC descriptor (engine addition §2.12,
    round-9 build / round-10 registration): Hamming-windowed frames →
    rFFT power spectrum → HTK mel filterbank → log energies (1e-10
    floor) → orthonormal DCT-II → first ``n_mfcc`` coefficients, averaged
    over frames and rounded to 6 decimals — the standard audio-similarity
    / clustering front end (dedup on speech/music re-encodes where the
    waveform hash differs but the spectral envelope does not). Output:
    input columns + ``n_frames`` (long) + ``mfcc`` (array<double>,
    length ``n_mfcc``; zeros when the clip is shorter than one frame).

    Deterministic numpy end-to-end (no randomness, no library DSP), so a
    fixed synthesized fixture pins it as a VALUES twin — same class as
    mm_image_phash. Scale shape: ONE Arrow mapInPandas pass; downstream
    dedup/knn consume the fixed-length vector exactly like the embedding
    column."""
    from ..functions.audiocodec import decode_wav

    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("n_frames", T.LongType()),
            T.StructField("mfcc", T.ArrayType(T.DoubleType())),
        ]
    )
    win = 0.54 - 0.46 * np.cos(2 * np.pi * np.arange(frame_len) / (frame_len - 1))
    dct = _dct1_basis(n_mels)[:n_mfcc]
    # the filterbank depends only on (rate, n_mels, frame_len) — memoized in
    # the module-global _MEL_FB_CACHE so a million-clip corpus builds the
    # 26x201 Python-loop matrix once per worker PROCESS, surviving task
    # deserialization (ADVICE r9 #4: a closure dict was per-task only)

    def feats(p: bytes) -> tuple:
        s, rate = decode_wav(bytes(p))
        ch0 = s[:, 0].astype(np.float64)
        n = len(ch0)
        if n < frame_len:
            return (0, [0.0] * n_mfcc)
        nf = 1 + (n - frame_len) // hop
        idx = np.arange(frame_len)[None, :] + hop * np.arange(nf)[:, None]
        frames = ch0[idx] * win[None, :]
        power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
        fb = _mel_filterbank_cached(n_mels, frame_len, rate)
        logmel = np.log(np.maximum(power @ fb.T, 1e-10))
        mf = logmel @ dct.T
        return (nf, [float(v) for v in np.round(mf.mean(axis=0), 6)])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            vals = [feats(p) for p in pdf[payload_col]]
            pdf["n_frames"] = [v[0] for v in vals]
            pdf["mfcc"] = [v[1] for v in vals]
            yield pdf

    return df.mapInPandas(run, schema)


# -- video columns (MJPEG-AVI payloads) --------------------------------------


def _parse_avi_frames(payload: bytes) -> list[bytes]:
    """JPEG frame blobs from an in-memory MJPEG AVI (sources/avi.py layout,
    also produced by any standard MJPEG muxer)."""
    import struct as _struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise NotImplementedError(
            "unsupported video container (MJPEG AVI supported; other codecs "
            "need external decoders not in this environment)"
        )
    frames = []
    pos = 12
    data = payload
    while pos + 8 <= len(data):
        fourcc = data[pos:pos + 4]
        size = _struct.unpack("<I", data[pos + 4:pos + 8])[0]
        if fourcc == b"LIST" and data[pos + 8:pos + 12] == b"movi":
            p = pos + 12
            end = pos + 8 + size
            while p + 8 <= end:
                ck = data[p:p + 4]
                cksz = _struct.unpack("<I", data[p + 4:p + 8])[0]
                if ck == b"00dc":
                    frames.append(data[p + 8:p + 8 + cksz])
                p += 8 + cksz + (cksz % 2)
            pos += 8 + size + (size % 2)
            continue
        pos += 12 if fourcc == b"LIST" else 8 + size + (size % 2)
    return frames


def sample_avi_frames(
    df: DataFrame,
    every_k: int = 5,
    payload_col: str = "payload",
    decode: bool = True,
) -> DataFrame:
    """MJPEG-AVI payload column → one row per sampled frame (every k-th),
    optionally decoded for per-frame metadata. The 100 TB video-pipeline
    shape: container parsing and JPEG decode happen inside the Arrow batch
    loop, the fan-out (rows per clip = n_frames/k) is bounded by the clip
    length, and metadata-only plans never touch the payload thanks to
    column pruning. Output: clip columns + (frame_index, frame_payload[,
    frame_width, frame_height, frame_mean])."""
    from ..functions.jpegcodec import decode_jpeg

    extra = [
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
    if decode:
        extra += [
            T.StructField("frame_width", T.IntegerType()),
            T.StructField("frame_height", T.IntegerType()),
            T.StructField("frame_mean", T.DoubleType()),
        ]
    keep = [f for f in df.schema.fields if f.name != payload_col]
    schema = T.StructType(keep + extra)
    keep_names = [f.name for f in keep]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for _, row in pdf.iterrows():
                frames = _parse_avi_frames(bytes(row[payload_col]))
                for i in range(0, len(frames), every_k):
                    rec = {k: row[k] for k in keep_names}
                    rec["frame_index"] = i
                    rec["frame_payload"] = frames[i]
                    if decode:
                        img = decode_jpeg(frames[i])
                        rec["frame_height"], rec["frame_width"] = int(img.shape[0]), int(img.shape[1])
                        rec["frame_mean"] = float(img.mean() / 255.0)
                    out_rows.append(rec)
            yield pd.DataFrame(out_rows, columns=[f.name for f in schema.fields])

    return df.mapInPandas(run, schema)


def _block_sums(gray: np.ndarray, n_rows: int, n_cols: int) -> tuple[np.ndarray, np.ndarray]:
    """Block sums of a 2-D grayscale array on an (n_rows, n_cols) grid and
    each block's area — the shared boundary discipline of dHash and pHash.
    Inputs smaller than the grid upsample by nearest-neighbor repeat first
    (injective, so distinct tiny images keep distinct hashes; without it
    the linspace boundaries repeat and the block means divide by zero —
    every thumbnail would collapse onto one hash); unequal splits stay true
    means through the explicit block areas."""
    h, w = gray.shape
    if h < n_rows:
        gray = np.repeat(gray, -(-n_rows // h), axis=0)
    if w < n_cols:
        gray = np.repeat(gray, -(-n_cols // w), axis=1)
    h, w = gray.shape
    rb = np.linspace(0, h, n_rows + 1).astype(np.int64)[:-1]
    cb = np.linspace(0, w, n_cols + 1).astype(np.int64)[:-1]
    cols = np.add.reduceat(gray, cb, axis=1)
    grid = np.add.reduceat(cols, rb, axis=0)
    rw = np.diff(np.append(rb, h)).reshape(-1, 1)
    cw = np.diff(np.append(cb, w)).reshape(1, -1)
    return grid, rw * cw


def _bits_to_signed64(bits) -> int:
    """64 bits (MSB first) → two's-complement signed 64-bit int (Spark
    LongType) — shared by both perceptual hashes."""
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(df: DataFrame) -> DataFrame:
    """Difference-hash (dHash) perceptual fingerprint per image → input
    columns + ``dhash`` (long): decode the binary ``payload`` with the
    pure-Python codec, grayscale, block-mean downsample to an 8×9 grid,
    and take the 64 horizontal gradient signs as a 64-bit integer
    (row-major, MSB first). Near-identical images (recompressions, small
    noise, logo variants) collapse onto the same hash while distinct
    content spreads uniformly — the standard image-dedup primitive
    (Krawetz's dHash), mirroring what SimHash does for text.

    Scale shape: ONE Arrow mapInPandas pass over the binary column; every
    downstream dedup step (groupBy dhash, band joins for Hamming
    neighbors) is plain relational on a 64-bit key. The 9 columns produce
    8 comparisons/row; rows are split with reduceat boundaries so any
    input size works without a resize dependency.
    """
    schema = T.StructType(
        df.schema.fields + [T.StructField("dhash", T.LongType())]
    )

    def one(p: bytes) -> int:
        img = decode_image(bytes(p)).astype(np.int64)
        gray = img.mean(axis=2) if img.ndim == 3 else img
        sums, areas = _block_sums(gray, 8, 9)
        grid = sums / areas
        bits = (grid[:, 1:] > grid[:, :-1]).astype(np.uint64).ravel()
        return _bits_to_signed64(bits)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["dhash"] = [one(p) for p in pdf["payload"]]
            yield pdf

    return df.mapInPandas(run, schema)


def audio_spectral_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """WAV payload → real spectral descriptors of channel 0 via the numpy
    rFFT (no external DSP library): dominant frequency (Hz, the argmax
    magnitude bin excluding DC), spectral centroid (magnitude-weighted
    mean frequency), 85% rolloff (lowest frequency below which 85% of
    spectral energy sits) and spectral flatness (geometric/arithmetic
    mean ratio of the power spectrum over the SAME non-DC bin set — 0
    whenever any bin is exactly zero, per the standard definition, so a
    pure tone reports 0 and white noise approaches 1). Floats round to 6
    decimals (the repo's cross-engine float
    discipline); frequencies derive from exact bin arithmetic
    (bin · rate / n).

    Scale shape: the same single Arrow mapInPandas pass as the integer
    audio descriptors — one rFFT per clip, no shuffle; downstream
    filtering (tone detection, noise screens) is plain relational."""
    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("dominant_hz", T.DoubleType()),
            T.StructField("centroid_hz", T.DoubleType()),
            T.StructField("rolloff85_hz", T.DoubleType()),
            T.StructField("flatness", T.DoubleType()),
        ]
    )

    def feats(p: bytes) -> tuple:
        from ..functions.audiocodec import decode_wav

        s, rate = decode_wav(bytes(p))
        ch0 = s[:, 0].astype(np.float64)
        n = len(ch0)
        if n < 2:
            return (0.0, 0.0, 0.0, 0.0)
        mag = np.abs(np.fft.rfft(ch0))
        freqs = np.arange(len(mag)) * (rate / n)
        m = mag.copy()
        m[0] = 0.0  # exclude DC from the dominant bin
        dom = float(freqs[int(np.argmax(m))])
        tot = float(m.sum())
        centroid = float((m * freqs).sum() / tot) if tot > 0 else 0.0
        power = m * m
        ptot = float(power.sum())
        if ptot > 0:
            cum = np.cumsum(power)
            roll = float(freqs[int(np.searchsorted(cum, 0.85 * ptot))])
        else:
            roll = 0.0
        # geometric and arithmetic means over the SAME bin set: a single
        # exact-zero bin drives the geometric mean (hence flatness) to 0 —
        # computing the geo-mean over positive bins only while dividing by
        # the all-bins mean reported flatness 2.0 for a pure Nyquist tone
        # (review-verified); the standard definition is 0 there
        p1 = power[1:]
        if len(p1) and p1.min() > 0:
            flat = float(np.exp(np.mean(np.log(p1))) / np.mean(p1))
        else:
            flat = 0.0
        r6 = lambda v: float(np.round(v, 6))  # noqa: E731
        return (r6(dom), r6(centroid), r6(roll), r6(flat))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["dominant_hz", "centroid_hz", "rolloff85_hz", "flatness"]
        for pdf in batches:
            pdf = pdf.copy()
            vals = [feats(p) for p in pdf[payload_col]]
            for i, c in enumerate(cols):
                pdf[c] = [v[i] for v in vals]
            yield pdf

    return df.mapInPandas(run, schema)


#: Rows 0–7 of the 32-point DCT-II basis in fixed point (× 2**20, rounded),
#: cos(π·(2x+1)·k / 64) with the orthonormal a_0/a_k = sqrt(1/2) folded into
#: row 0 (the common factor of the other rows is dropped: the median
#: threshold is scale-invariant). Every entry lies ≥ 0.008 from a rounding
#: tie, so the table is the same wherever the float cosine is computed.
_PHASH_BASIS = np.array(
    [
        [
            round(2**20 * (0.5**0.5 if k == 0 else 1.0) * math.cos(math.pi * (2 * x + 1) * k / 64))
            for x in range(32)
        ]
        for k in range(8)
    ],
    dtype=object,
)


def image_phash(df: DataFrame) -> DataFrame:
    """Perceptual hash (pHash) per image → input columns + ``phash``
    (long): decode, grayscale, block-mean resample to 32×32, 2-D DCT-II,
    keep the 8×8 low-frequency block, threshold each coefficient against
    the MEDIAN of the 63 non-DC coefficients (DC itself is forced to 0 —
    it only encodes mean brightness). Every step is exact integer
    arithmetic (channel sums, block means scaled by the lcm of the block
    areas, the fixed-point basis above), so no coefficient near the median
    can flip with the BLAS or CPU the hash runs on. Robust to
    recompression, resizing and uniform brightness/contrast scaling (a positive scale multiplies
    every DCT coefficient, so the median comparison is invariant) — the
    frequency-domain complement of :func:`image_dhash`'s gradient hash.

    Scale shape: ONE Arrow mapInPandas pass; the hash joins/groups as a
    64-bit key exactly like dhash (band joins for Hamming neighbors)."""
    schema = T.StructType(
        df.schema.fields + [T.StructField("phash", T.LongType())]
    )

    def one(p: bytes) -> int:
        img = decode_image(bytes(p)).astype(np.int64)
        gray = img.sum(axis=2) if img.ndim == 3 else img
        sums, areas = _block_sums(gray, 32, 32)
        # block means × lcm(areas): exact integers; Python ints from here on
        scale = math.lcm(*np.unique(areas).tolist())
        grid = sums.astype(object) * (scale // areas).astype(object)
        low = (_PHASH_BASIS @ grid @ _PHASH_BASIS.T).ravel()
        low[0] = 0
        med = sorted(low[1:])[31]
        return _bits_to_signed64(c > med for c in low)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["phash"] = [one(p) for p in pdf["payload"]]
            yield pdf

    return df.mapInPandas(run, schema)
