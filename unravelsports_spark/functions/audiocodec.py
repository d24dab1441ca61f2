"""Pure-Python WAV (RIFF PCM) codec — the audio twin of imagecodec.py.

Scope: canonical RIFF/WAVE files with a PCM ``fmt `` chunk, 16-bit signed
(the universal interchange case) mono or multi-channel; unknown chunks are
skipped per spec. Samples are numpy ``int16`` arrays shaped
(n_samples, n_channels). Compressed codecs (MP3/AAC/…) raise — they need
external libraries this environment doesn't have.
"""

from __future__ import annotations

import struct

import numpy as np


def sniff_wav(data: bytes) -> bool:
    return data[:4] == b"RIFF" and data[8:12] == b"WAVE"


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """→ (samples int16 (n, channels), sample_rate)."""
    if not sniff_wav(data):
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, channels, bits = 12, None, None, None
    samples = None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1:
                raise NotImplementedError(f"WAV format {fmt} unsupported (PCM only)")
            if bits != 16:
                raise NotImplementedError(f"{bits}-bit WAV unsupported (16-bit only)")
        elif cid == b"data":
            samples = np.frombuffer(body, "<i2")
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    if channels > 1:
        samples = samples[: len(samples) // channels * channels].reshape(-1, channels)
    else:
        samples = samples.reshape(-1, 1)
    return samples.copy(), rate


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    s = np.asarray(samples, "<i2")
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    body = s.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks
