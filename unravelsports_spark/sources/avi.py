"""Motion-JPEG AVI container writer — pure stdlib struct packing, no ffmpeg.

AVI (RIFF) is the one mainstream video container writable without external
codecs: each frame is an independent baseline JPEG (`functions/jpegcodec.py`),
so any player (ffplay, VLC, QuickTime) decodes the result. This backs the
reference's MP4 pitch-video export surface
(`unravel/soccer/graphs/graph_converter.py:1302` uses matplotlib's
FFMpegWriter); with no ffmpeg in the environment, MJPEG-AVI is the
self-contained equivalent.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable

AVIF_HASINDEX = 0x00000010
AVIIF_KEYFRAME = 0x00000010


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(fourcc: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + payload)


def write_mjpeg_avi(
    path: str,
    jpeg_frames: Iterable[bytes],
    width: int,
    height: int,
    fps: int = 25,
) -> str:
    """Write JPEG-encoded frames as an MJPEG AVI. Returns the path."""
    frames = [bytes(f) for f in jpeg_frames]
    if not frames:
        raise ValueError("no frames to write")
    n = len(frames)
    max_size = max(len(f) for f in frames)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,      # dwMicroSecPerFrame
        max_size * fps,        # dwMaxBytesPerSec
        0,                     # dwPaddingGranularity
        AVIF_HASINDEX,
        n,                     # dwTotalFrames
        0,                     # dwInitialFrames
        1,                     # dwStreams
        max_size,              # dwSuggestedBufferSize
        width, height,
        0, 0, 0, 0,            # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG",
        0, 0, 0, 0,            # flags, priority, language, initialFrames
        1, fps,                # scale, rate → fps frames/sec
        0, n,                  # start, length
        max_size,              # suggestedBufferSize
        0xFFFFFFFF,            # quality (default)
        0,                     # sampleSize (0 = varying)
        0, 0, width, height,   # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))

    movi_payload = b"movi"
    index = b""
    for f in frames:
        offset = len(movi_payload)  # offset of ckid from start of 'movi' fourcc
        movi_payload += _chunk(b"00dc", f)
        index += b"00dc" + struct.pack("<III", AVIIF_KEYFRAME, offset, len(f))
    movi = _chunk(b"LIST", movi_payload)
    idx1 = _chunk(b"idx1", index)

    riff_payload = b"AVI " + hdrl + movi + idx1
    with open(path, "wb") as fh:
        fh.write(b"RIFF" + struct.pack("<I", len(riff_payload)) + riff_payload)
    return path
