"""Pure-Python image codec: PNG (stdlib zlib) + uncompressed BMP decode —
no PIL/opencv, so the multimodal operators' non-fake path works in any
environment.

Scope (documented, raises beyond it):

- PNG decode: 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette),
  4 (gray+alpha), 6 (RGBA), non-interlaced. All five scanline filters
  (None/Sub/Up/Average/Paeth) per the PNG spec (RFC 2083 §6).
- PNG encode: 8-bit gray/RGB/RGBA, filter 0 scanlines, one IDAT.
- BMP decode: BITMAPINFOHEADER, 24-bit BI_RGB (the classic
  bottom-up, BGR, 4-byte-padded layout).

Everything operates on ``numpy`` ``uint8`` arrays shaped (H, W, C); decode
runs one vectorized numpy pass per scanline (the filters have a row-serial
dependency by design).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def sniff_format(data: bytes) -> str | None:
    if data[:8] == PNG_MAGIC:
        return "png"
    if data[:2] == b"BM":
        return "bmp"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return None


# -- PNG ---------------------------------------------------------------------


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos, width = 8, None
    idat, palette, trns = [], None, None
    while pos < len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8:
                raise NotImplementedError(f"PNG bit depth {depth} unsupported (8 only)")
            if color not in _PNG_CHANNELS:
                raise NotImplementedError(f"PNG color type {color} unsupported")
            if interlace:
                raise NotImplementedError("Adam7 interlacing unsupported")
        elif ctype == b"PLTE":
            palette = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(chunk, np.uint8)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    nch = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = width * nch
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG IDAT length mismatch")
    raw = np.frombuffer(raw, np.uint8).reshape(height, stride + 1)
    filters, lines = raw[:, 0], raw[:, 1:]
    if not filters.any():
        # all-rows filter 0 (what encode_png and most low-effort encoders
        # emit): the unfilter loop is the identity — one bulk copy instead
        # of a per-row Python pass (~3x faster decode on such files)
        img = np.array(lines, np.uint8).reshape(height, width, nch)
        return _png_apply_palette(img, color, palette, trns)
    out = np.zeros((height, stride), np.uint8)
    zero_row = np.zeros(stride, np.uint8)
    for y in range(height):
        f = filters[y]
        # filters 1/3/4 mutate the row in place — only they need the copy
        cur = lines[y] if f in (0, 2) else lines[y].copy()
        prev = out[y - 1] if y else zero_row
        if f == 0:
            out[y] = cur
        elif f == 1:  # Sub — serial in x, vectorize over channels
            row = cur.reshape(width, nch)
            acc = np.zeros(nch, np.uint8)
            for x in range(width):
                acc = (row[x] + acc).astype(np.uint8)
                row[x] = acc
            out[y] = row.reshape(-1)
        elif f == 2:  # Up
            out[y] = cur + prev
        elif f == 3:  # Average
            row = cur.reshape(width, nch)
            pr = prev.reshape(width, nch).astype(np.int16)
            left = np.zeros(nch, np.int16)
            for x in range(width):
                row[x] = (row[x] + ((left + pr[x]) >> 1)).astype(np.uint8)
                left = row[x].astype(np.int16)
            out[y] = row.reshape(-1)
        elif f == 4:  # Paeth
            row = cur.reshape(width, nch)
            pr = prev.reshape(width, nch)
            left = np.zeros(nch, np.uint8)
            upleft = np.zeros(nch, np.uint8)
            for x in range(width):
                row[x] = (row[x] + _paeth(left, pr[x], upleft)).astype(np.uint8)
                left, upleft = row[x], pr[x]
            out[y] = row.reshape(-1)
        else:
            raise ValueError(f"bad PNG filter {f}")
    img = out.reshape(height, width, nch)
    return _png_apply_palette(img, color, palette, trns)


def _png_apply_palette(img, color, palette, trns):
    if color == 3:  # palette lookup → RGB(A)
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        idx = img[:, :, 0]
        rgb = palette[idx]
        if trns is not None:
            alpha = np.full(256, 255, np.uint8)
            alpha[: len(trns)] = trns
            img = np.dstack([rgb, alpha[idx]])
        else:
            img = rgb
    return img


def encode_png(img: np.ndarray, compress_level: int = 6) -> bytes:
    img = np.ascontiguousarray(np.asarray(img, np.uint8))
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(nch)
    if color is None:
        raise ValueError(f"cannot encode {nch}-channel image")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    scan = np.zeros((h, w * nch + 1), np.uint8)
    scan[:, 1:] = img.reshape(h, -1)
    idat = zlib.compress(scan.tobytes(), compress_level)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    return PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


# -- BMP ---------------------------------------------------------------------


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack("<I", data[10:14])[0]
    hdr_size, w = struct.unpack("<Ii", data[14:22])
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER unsupported")
    planes, bpp = struct.unpack("<HH", data[26:30])
    compression = struct.unpack("<I", data[30:34])[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression} unsupported")
    h = struct.unpack("<i", data[22:26])[0]
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    px = np.frombuffer(data, np.uint8, count=stride * h, offset=offset)
    px = px.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR → RGB


# -- generic entry points ----------------------------------------------------


def decode_image(data: bytes) -> np.ndarray:
    fmt = sniff_format(bytes(data))
    if fmt == "png":
        return decode_png(bytes(data))
    if fmt == "bmp":
        return decode_bmp(bytes(data))
    if fmt == "jpeg":
        from .jpegcodec import decode_jpeg

        return decode_jpeg(bytes(data))
    if fmt == "gif":
        from .gifcodec import decode_gif

        return decode_gif(bytes(data))
    raise NotImplementedError(
        "unsupported image format (PNG, 24-bit BMP, baseline JPEG and GIF "
        "supported; other formats need external codecs not in this environment)"
    )
