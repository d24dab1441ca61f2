"""Pure-Python PNG/BMP codec (functions/imagecodec.py) + the real (non-fake)
multimodal decode path. PNG filter correctness is checked by hand-building
files with each of the five scanline filters and verifying the decoder
inverts them exactly."""

import struct
import zlib

import numpy as np
import pytest

from unravelsports_spark.functions.imagecodec import (
    PNG_MAGIC,
    decode_bmp,
    decode_image,
    decode_png,
    encode_png,
    sniff_format,
)
from unravelsports_spark.operators.multimodal import decode_images

rng = np.random.default_rng(7)


def encode_bmp(img: np.ndarray) -> bytes:
    """24-bit bottom-up BGR BMP writer: the fixture source for the decoder."""
    img = np.asarray(img, np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.shape[2] == 1:
        img = np.dstack([img[:, :, 0]] * 3)
    elif img.shape[2] == 4:
        img = img[:, :, :3]
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, -1)  # bottom-up BGR
    body = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


# -- pure codec --------------------------------------------------------------


@pytest.mark.parametrize("shape", [(5, 7, 3), (4, 4, 4), (3, 9, 1), (1, 1, 3)])
def test_png_roundtrip(shape):
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    out = decode_png(encode_png(img))
    np.testing.assert_array_equal(out, img)


def test_png_gray_2d_input():
    img = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    out = decode_png(encode_png(img))
    np.testing.assert_array_equal(out[:, :, 0], img)


def _png_with_filters(img, filters):
    """Encode applying a chosen filter per scanline (test-side reference
    implementation of RFC 2083 §6 forward filtering)."""
    h, w, nch = img.shape
    prev = np.zeros(w * nch, np.int16)
    lines = []
    for y, f in zip(range(h), filters):
        cur = img[y].reshape(-1).astype(np.int16)
        if f == 0:
            filt = cur
        elif f == 1:
            left = np.concatenate([np.zeros(nch, np.int16), cur[:-nch]])
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            left = np.concatenate([np.zeros(nch, np.int16), cur[:-nch]])
            filt = cur - ((left + prev) >> 1)
        elif f == 4:
            left = np.concatenate([np.zeros(nch, np.int16), cur[:-nch]])
            upleft = np.concatenate([np.zeros(nch, np.int16), prev[:-nch]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            filt = cur - pred
        lines.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
        prev = cur
    color = {1: 0, 3: 2, 4: 6}[nch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(b"".join(lines))

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    return PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


@pytest.mark.parametrize("nch", [1, 3, 4])
def test_png_all_filters_inverted(nch):
    img = rng.integers(0, 256, size=(5, 6, nch), dtype=np.uint8)
    data = _png_with_filters(img, [0, 1, 2, 3, 4])
    np.testing.assert_array_equal(decode_png(data), img)


def test_png_palette():
    palette = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(3, 5), dtype=np.uint8)
    lines = b"".join(b"\x00" + idx[y].tobytes() for y in range(3))
    ihdr = struct.pack(">IIBBBBB", 5, 3, 8, 3, 0, 0, 0)
    idat = zlib.compress(lines)

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    data = (PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"PLTE", palette.tobytes())
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
    np.testing.assert_array_equal(decode_png(data), palette[idx])


def test_png_rejects_16bit():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    with pytest.raises(NotImplementedError):
        decode_png(PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IEND", b""))


@pytest.mark.parametrize("w", [4, 5, 6, 7])  # exercise all stride paddings
def test_bmp_roundtrip(w):
    img = rng.integers(0, 256, size=(3, w, 3), dtype=np.uint8)
    out = decode_bmp(encode_bmp(img))
    np.testing.assert_array_equal(out, img)


def test_sniff_and_generic_decode():
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    assert sniff_format(encode_png(img)) == "png"
    assert sniff_format(encode_bmp(img)) == "bmp"
    np.testing.assert_array_equal(decode_image(encode_bmp(img)), img)
    # jpeg now dispatches to the real codec — truncated stream is a ValueError
    assert sniff_format(b"\xff\xd8\xff\xe0 jpeg-ish") == "jpeg"
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")
    # gif now dispatches to the real codec too
    from unravelsports_spark.functions.gifcodec import encode_gif

    pal = (img // 64) * 64  # ≤64 distinct colors
    np.testing.assert_array_equal(decode_image(encode_gif(pal)), pal)
    # genuinely unsupported formats still gate clearly
    with pytest.raises(NotImplementedError):
        decode_image(b"II*\x00 tiff-ish not supported")


# -- Spark non-fake path -----------------------------------------------------


@pytest.fixture(scope="module")
def media_df(spark):
    rows = []
    for i in range(6):
        arr = np.full((4 + i, 5 + i, 3), 10 * i, np.uint8)
        payload = encode_png(arr) if i % 2 == 0 else encode_bmp(arr)
        rows.append((f"m{i}", bytearray(payload)))
    return spark.createDataFrame(rows, "media_id string, payload binary").cache()


def test_decode_images_real(media_df):
    out = {r.media_id: r for r in decode_images(media_df, fake=False).collect()}
    for i in range(6):
        r = out[f"m{i}"]
        assert (r.dec_height, r.dec_width) == (4 + i, 5 + i)
        assert r.mean_pixel == pytest.approx(10 * i / 255.0)


# -- property tests (hypothesis) ---------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def _images(draw):
        h = draw(st.integers(1, 12))
        w = draw(st.integers(1, 12))
        nch = draw(st.sampled_from([1, 3, 4]))
        data = draw(st.binary(min_size=h * w * nch, max_size=h * w * nch))
        return np.frombuffer(data, np.uint8).reshape(h, w, nch).copy()

    @given(_images())
    @settings(max_examples=60, deadline=None)
    def test_png_roundtrip_property(img):
        np.testing.assert_array_equal(decode_png(encode_png(img)), img)

    @given(_images())
    @settings(max_examples=40, deadline=None)
    def test_bmp_roundtrip_property(img):
        out = decode_bmp(encode_bmp(img))
        # BMP is 24-bit: gray broadcasts, alpha drops
        if img.shape[2] == 1:
            np.testing.assert_array_equal(out, np.dstack([img[:, :, 0]] * 3))
        else:
            np.testing.assert_array_equal(out, img[:, :, :3])

except ImportError:  # pragma: no cover
    pass


# -- WAV codec ---------------------------------------------------------------


def test_wav_roundtrip_mono_and_stereo():
    from unravelsports_spark.functions.audiocodec import decode_wav, encode_wav

    mono = (rng.integers(-32768, 32768, size=400)).astype(np.int16)
    s, rate = decode_wav(encode_wav(mono, 22_050))
    assert rate == 22_050 and s.shape == (400, 1)
    np.testing.assert_array_equal(s[:, 0], mono)

    stereo = (rng.integers(-32768, 32768, size=(100, 2))).astype(np.int16)
    s2, rate2 = decode_wav(encode_wav(stereo, 44_100))
    assert rate2 == 44_100 and s2.shape == (100, 2)
    np.testing.assert_array_equal(s2, stereo)


def test_wav_rejects_non_pcm():
    import struct

    from unravelsports_spark.functions.audiocodec import decode_wav, encode_wav

    with pytest.raises(ValueError):
        decode_wav(b"not a wav file at all!")
    # rewrite fmt code to 3 (IEEE float) → NotImplementedError
    data = bytearray(encode_wav(np.zeros(4, np.int16)))
    fmt_at = data.find(b"fmt ") + 8
    struct.pack_into("<H", data, fmt_at, 3)
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(data))


def test_extract_audio_features_spark(spark):
    from unravelsports_spark.functions.audiocodec import encode_wav
    from unravelsports_spark.operators.multimodal import extract_audio_features

    wave = np.array([0, 1000, -1000, 1000, -1000, 0], np.int16)
    df = spark.createDataFrame(
        [("clip1", bytearray(encode_wav(wave, 1000)))], "media_id string, payload binary"
    )
    r = extract_audio_features(df).head()
    assert r.n_samples == 6 and r.sample_rate == 1000 and r.duration_ms == 6
    assert r.peak == 1000
    assert r.energy == 4 * 1000 * 1000
    # sign flips: 1000→-1000→1000→-1000 plus -1000→0 (signbit change) = 4
    assert r.zero_crossings == 4


def test_decode_images_jpeg_payloads(spark):
    """JPEG payloads flow through the same mapInPandas decode as PNG/BMP."""
    from unravelsports_spark.functions.jpegcodec import encode_jpeg

    rows = []
    for i in range(3):
        img = np.full((8 + i, 10 + i, 3), 40 * i, np.uint8)
        rows.append((f"j{i}", bytearray(encode_jpeg(img, quality=95))))
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r.media_id: r for r in decode_images(df, fake=False).collect()}
    for i in range(3):
        r = out[f"j{i}"]
        assert (r.dec_height, r.dec_width) == (8 + i, 10 + i)
        # lossy: flat images come back within a couple of gray levels
        assert abs(r.mean_pixel - 40 * i / 255.0) < 3 / 255.0


def test_image_dhash_jitter_invariant_and_discriminative(spark):
    """dHash collapses small per-pixel noise (block means absorb ±2 jitter
    against an 8-level gradient) but separates distinct gradient patterns."""
    import numpy as np

    from unravelsports_spark.functions.imagecodec import encode_png
    from unravelsports_spark.operators.multimodal import image_dhash

    def img(pattern_bits, jitter_seed):
        grid = np.empty((8, 9), np.int64)
        grid[:, 0] = 128
        for r in range(8):
            for c in range(8):
                grid[r, c + 1] = grid[r, c] + (8 if pattern_bits[r * 8 + c] else -8)
        px = np.repeat(np.repeat(grid, 4, axis=0), 4, axis=1)
        idx = np.arange(px.size, dtype=np.int64).reshape(px.shape)
        px = np.clip(px + (jitter_seed * 1000003 + idx * 97) % 5 - 2, 0, 255)
        return encode_png(np.repeat(px.astype(np.uint8)[:, :, None], 3, axis=2))

    a = [1, 0] * 32
    b = [0, 1] * 32
    rows = [(1, img(a, 1)), (2, img(a, 999)), (3, img(b, 1))]
    df = spark.createDataFrame(rows, "id int, payload binary")
    got = {r["id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert got[1] == got[2]  # same pattern, different pixel bytes
    assert got[1] != got[3]  # different pattern


def test_image_dhash_tiny_images_stay_distinct(spark):
    """Images smaller than the 8×9 grid upsample instead of degenerating:
    distinct 6×6 contents must produce distinct, finite hashes (the
    un-upsampled block means divided by zero and collapsed everything
    onto one value)."""
    import warnings

    import numpy as np

    from unravelsports_spark.functions.imagecodec import encode_png
    from unravelsports_spark.operators.multimodal import image_dhash

    a = np.tile(np.linspace(0, 255, 6, dtype=np.uint8), (6, 1))       # L→R ramp
    b = a[:, ::-1].copy()                                             # R→L ramp
    df = spark.createDataFrame(
        [(1, encode_png(np.repeat(a[:, :, None], 3, axis=2))),
         (2, encode_png(np.repeat(b[:, :, None], 3, axis=2)))],
        "id int, payload binary",
    )
    with warnings.catch_warnings():
        # only numpy's RuntimeWarning: a ResourceWarning from PySpark's own
        # sockets is not this test's business
        warnings.simplefilter("error", RuntimeWarning)
        got = {r["id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert got[1] != got[2]
    # the degenerate pre-fix value collapsed BOTH onto 0x6d6d6d006d6d6d
    assert got[1] != 0x6D6D6D006D6D6D and got[2] != 0x6D6D6D006D6D6D


def test_image_dhash_odd_sizes_finite(spark):
    """Any decodable size hashes without warnings — 1×1 through sizes that
    don't divide the 8×9 grid evenly (reduceat boundary edge cases)."""
    import warnings

    import numpy as np

    from unravelsports_spark.functions.imagecodec import encode_png
    from unravelsports_spark.operators.multimodal import image_dhash

    rng = np.random.default_rng(7)
    sizes = [(1, 1), (2, 3), (7, 9), (8, 8), (13, 5), (9, 40), (40, 9)]
    rows = [
        (i, encode_png(rng.integers(0, 256, (h, w, 3), dtype=np.uint8).astype(np.uint8)))
        for i, (h, w) in enumerate(sizes)
    ]
    df = spark.createDataFrame(rows, "id int, payload binary")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = image_dhash(df).collect()
    assert len(got) == len(sizes)
    assert all(isinstance(r["dhash"], int) for r in got)


def test_block_sums_small_and_odd_sizes_divide_cleanly():
    """The warning filters above run in the driver, but the hash runs in
    Python workers, so a numpy warning there never reaches them. This is
    the in-process check: block sums and means of the same sizes (1×1 up
    to 40×9, plus the 6×6 ramps) on the dHash and pHash grids, with every
    numpy floating-point error raised."""
    import numpy as np

    from unravelsports_spark.operators.multimodal import _block_sums

    rng = np.random.default_rng(7)
    ramp = np.tile(np.linspace(0, 255, 6, dtype=np.uint8), (6, 1)).astype(np.int64)
    grays = [ramp, ramp[:, ::-1].copy()] + [
        rng.integers(0, 256, (h, w, 3)).mean(axis=2)
        for h, w in [(1, 1), (2, 3), (7, 9), (8, 8), (13, 5), (9, 40), (40, 9)]
    ]
    for gray in grays:
        for n_rows, n_cols in [(8, 9), (32, 32)]:
            with np.errstate(all="raise"):
                sums, areas = _block_sums(gray, n_rows, n_cols)
                means = sums / areas
            assert sums.shape == areas.shape == (n_rows, n_cols), gray.shape
            assert (areas > 0).all() and np.isfinite(means).all(), gray.shape


def test_audio_spectral_features_pure_tones(spark):
    """Real DSP sanity on synthesized tones: a pure 1 kHz sine must report
    dominant/centroid/rolloff at (or tight around) 1 kHz with near-zero
    flatness; uniform pseudo-noise must report much higher flatness; a
    3 kHz tone must separate from the 1 kHz one."""
    import numpy as np

    from unravelsports_spark.functions.audiocodec import encode_wav
    from unravelsports_spark.operators.multimodal import audio_spectral_features

    rate, n = 16_000, 16_000  # 1 s → 1 Hz bins, tones land exactly on bins
    t = np.arange(n)

    def tone(hz):
        return (10_000 * np.sin(2 * np.pi * hz * t / rate)).astype(np.int16)

    rng = np.random.default_rng(7)
    noise = rng.integers(-10_000, 10_000, n).astype(np.int16)
    rows = [
        ("tone1k", bytearray(encode_wav(tone(1000), rate))),
        ("tone3k", bytearray(encode_wav(tone(3000), rate))),
        ("noise", bytearray(encode_wav(noise, rate))),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r.media_id: r for r in audio_spectral_features(df).collect()}
    assert got["tone1k"].dominant_hz == 1000.0
    assert got["tone3k"].dominant_hz == 3000.0
    assert abs(got["tone1k"].centroid_hz - 1000.0) < 1.0
    assert abs(got["tone1k"].rolloff85_hz - 1000.0) <= 1.0
    assert got["tone1k"].flatness < 0.01
    assert got["noise"].flatness > 0.3
    # determinism: a second pass returns identical rounded values
    again = {r.media_id: r for r in audio_spectral_features(df).collect()}
    for k in got:
        assert got[k].asDict() == again[k].asDict()


def test_image_phash_brightness_invariant_and_discriminative(spark):
    """pHash: uniform brightness/contrast scaling multiplies every DCT
    coefficient by the same positive factor, so the median-threshold bits
    are invariant (exactly so for an exact integer scale: the hash is
    integer arithmetic); structurally different images must differ; tiny
    inputs upsample to finite hashes."""
    import numpy as np

    from unravelsports_spark.functions.imagecodec import encode_png
    from unravelsports_spark.operators.multimodal import image_phash

    rng = np.random.default_rng(3)
    base = rng.integers(10, 120, (64, 64)).astype(np.float64)
    scaled = np.clip(base * 1.8, 0, 255)  # same structure, brighter
    other = rng.integers(10, 120, (64, 64)).astype(np.float64)
    dim = rng.integers(10, 85, (64, 64)).astype(np.float64)

    def png(g):
        return encode_png(np.repeat(g.astype(np.uint8)[:, :, None], 3, axis=2))

    tiny = np.arange(36, dtype=np.uint8).reshape(6, 6)
    rows = [
        (1, png(base)), (2, png(scaled)), (3, png(other)),
        (4, encode_png(np.repeat(tiny[:, :, None], 3, axis=2))),
        (5, png(dim)), (6, png(dim * 3)),
    ]
    df = spark.createDataFrame(rows, "id int, payload binary")
    got = {r["id"]: r["phash"] for r in image_phash(df).collect()}

    def ham(a, b):
        return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

    assert ham(got[1], got[2]) <= 2   # brightness-scaled: near-identical
    assert ham(got[1], got[3]) >= 16  # different content: far apart
    assert isinstance(got[4], int)    # tiny image: finite hash
    assert got[5] == got[6]           # exact ×3 scale: identical bits


def test_audio_mfcc_properties(spark):
    """MFCC front end (round-9 build, r10 registration): deterministic,
    fixed-length, discriminative across tone frequencies, near-identical
    under amplitude scaling except c0 (log-energy offset), zero vector for
    clips shorter than one frame, log-floor constant for silence."""
    import numpy as np

    from unravelsports_spark.functions.audiocodec import encode_wav
    from unravelsports_spark.operators.multimodal import audio_mfcc

    rate, n = 16_000, 16_000
    t = np.arange(n)

    def tone(hz, amp=10_000):
        return (amp * np.sin(2 * np.pi * hz * t / rate)).astype(np.int16)

    rows = [
        ("t500", bytearray(encode_wav(tone(500), rate))),
        ("t500q", bytearray(encode_wav(tone(500, amp=2_500), rate))),
        ("t3k", bytearray(encode_wav(tone(3000), rate))),
        ("silence", bytearray(encode_wav(np.zeros(n, np.int16), rate))),
        ("tiny", bytearray(encode_wav(tone(500)[:100], rate))),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r.media_id: r for r in audio_mfcc(df).collect()}

    assert all(len(r["mfcc"]) == 13 for r in got.values())
    assert got["t500"]["n_frames"] == 1 + (n - 400) // 160
    assert got["tiny"]["n_frames"] == 0 and got["tiny"]["mfcc"] == [0.0] * 13

    d = lambda a, b: float(  # noqa: E731
        np.linalg.norm(np.array(a["mfcc"][1:]) - np.array(b["mfcc"][1:]))
    )
    # same tone at 1/4 amplitude: log-scale shift lands in c0 only
    assert d(got["t500"], got["t500q"]) < 0.3
    # different tones separate by an order of magnitude more
    assert d(got["t500"], got["t3k"]) > 10 * d(got["t500"], got["t500q"])
    # silence: every mel energy is the 1e-10 floor -> flat log vector ->
    # all non-c0 DCT coefficients exactly 0 after rounding
    assert got["silence"]["mfcc"][1:] == [0.0] * 12

    again = {r.media_id: r for r in audio_mfcc(df).collect()}
    for k in got:
        assert got[k]["mfcc"] == again[k]["mfcc"]


def test_mel_filterbank_shape_and_coverage():
    """Filterbank invariants: correct shape, rows sum > 0 (every filter
    covers at least one bin at these sizes), and filters peak in
    frequency-ascending order."""
    import numpy as np

    from unravelsports_spark.operators.multimodal import _mel_filterbank

    fb = _mel_filterbank(26, 400, 16_000)
    assert fb.shape == (26, 201)
    assert (fb.sum(axis=1) > 0).all()
    peaks = fb.argmax(axis=1)
    assert (np.diff(peaks) >= 0).all()
