"""JPEG codec + MJPEG-AVI container tests: roundtrip fidelity (lossy — PSNR
bounds, not equality), marker structure, container mux/demux, and the
tracking-to-video pipeline on the reference's real Sportec sample."""

import struct

import numpy as np
import pytest

from unravelsports_spark.functions.imagecodec import decode_image, sniff_format
from unravelsports_spark.functions.jpegcodec import decode_jpeg, encode_jpeg
from unravelsports_spark.operators.multimodal import _parse_avi_frames
from unravelsports_spark.sources.avi import write_mjpeg_avi


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 10 * np.log10(255**2 / max(mse, 1e-12))


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [xx * 255 / w, yy * 255 / h, (xx + yy) * 255 / (h + w)], axis=-1
    ).astype(np.uint8)


def test_jpeg_roundtrip_gradient_quality_ladder():
    img = _gradient(72, 96)
    prev_size = None
    for q in (95, 85, 60):
        data = encode_jpeg(img, quality=q)
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        dec = decode_jpeg(data)
        assert dec.shape == img.shape
        assert _psnr(dec, img) > 35
        if prev_size is not None:
            assert len(data) < prev_size  # lower quality → smaller file
        prev_size = len(data)


def test_jpeg_grayscale_and_odd_dims():
    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (33, 41), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(g, 90))
    assert dec.shape == (33, 41)
    assert _psnr(dec, g) > 25  # noise is the worst case for JPEG


def test_jpeg_flat_image_lossless():
    flat = np.full((16, 24, 3), 128, np.uint8)
    assert np.abs(decode_jpeg(encode_jpeg(flat, 85)).astype(int) - 128).max() == 0


def test_jpeg_sof0_dimensions():
    img = _gradient(41, 67)
    data = encode_jpeg(img)
    i = data.find(b"\xff\xc0")
    h, w = struct.unpack(">HH", data[i + 5:i + 9])
    assert (h, w) == (41, 67)


def test_jpeg_dispatch_via_image_codec():
    img = _gradient(24, 32)
    data = encode_jpeg(img)
    assert sniff_format(data) == "jpeg"
    assert _psnr(decode_image(data), img) > 35


def test_jpeg_rejects_progressive_and_garbage():
    with pytest.raises(ValueError):
        decode_jpeg(b"notajpeg")
    # SOF2 (progressive) must be refused, not mis-decoded
    img_data = bytearray(encode_jpeg(_gradient(16, 16)))
    i = img_data.index(b"\xff\xc0")
    img_data[i + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(img_data))


def test_avi_roundtrip(tmp_path):
    frames = [encode_jpeg(_gradient(32, 48), 85) for _ in range(5)]
    path = str(tmp_path / "clip.avi")
    write_mjpeg_avi(path, frames, 48, 32, fps=10)
    raw = open(path, "rb").read()
    assert raw[:4] == b"RIFF" and raw[8:12] == b"AVI "
    assert struct.unpack("<I", raw[4:8])[0] == len(raw) - 8
    with open(path, "rb") as fh:
        back = _parse_avi_frames(fh.read())
    assert back == frames
    # every recovered frame decodes
    for f in back:
        assert decode_jpeg(f).shape == (32, 48, 3)


def test_avi_refuses_empty(tmp_path):
    with pytest.raises(ValueError):
        write_mjpeg_avi(str(tmp_path / "x.avi"), [], 8, 8)


# -- property test (hypothesis) ----------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def _images(draw):
        h = draw(st.integers(1, 20))
        w = draw(st.integers(1, 20))
        gray = draw(st.booleans())
        shape = (h, w) if gray else (h, w, 3)
        n = h * w * (1 if gray else 3)
        data = draw(st.binary(min_size=n, max_size=n))
        return np.frombuffer(data, np.uint8).reshape(shape).copy()

    @given(_images())
    @settings(max_examples=40, deadline=None)
    def test_jpeg_roundtrip_property(img):
        """Lossy but structure-preserving: shape/dtype survive, error bounded
        (worst case: saturated noise at tiny sizes)."""
        dec = decode_jpeg(encode_jpeg(img, quality=90))
        assert dec.shape == img.shape
        assert dec.dtype == np.uint8
        assert np.abs(dec.astype(int) - img.astype(int)).mean() < 64

except ImportError:  # pragma: no cover
    pass


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(st.binary(min_size=2, max_size=4000), min_size=1, max_size=12),
        st.integers(1, 4096),
        st.integers(1, 4096),
        st.integers(1, 120),
    )
    @settings(max_examples=40, deadline=None)
    def test_mp4_mux_roundtrip_property(payloads, w, h, fps):
        """The ISO BMFF sample table must recover arbitrary frame payloads
        byte-exactly at any (width, height, fps), and the top-level box
        sizes must telescope to the file length exactly."""
        import os
        import struct as _struct
        import tempfile

        from unravelsports_spark.sources.mp4 import read_mjpeg_mp4, write_mjpeg_mp4

        fd, path = tempfile.mkstemp(suffix=".mp4")
        os.close(fd)
        try:
            write_mjpeg_mp4(path, payloads, w, h, fps=fps)
            raw = open(path, "rb").read()
            pos = 0
            while pos < len(raw):
                pos += _struct.unpack(">I", raw[pos:pos + 4])[0]
            assert pos == len(raw)
            assert read_mjpeg_mp4(path) == payloads
        finally:
            os.unlink(path)

except ImportError:  # pragma: no cover
    pass


# -- video payload column (MJPEG-AVI in Spark) --------------------------------


def _clip_bytes(n_frames, w=24, h=16, shade_step=10):
    import io, os, tempfile

    from unravelsports_spark.sources.avi import write_mjpeg_avi

    frames = [
        encode_jpeg(np.full((h, w, 3), (i * shade_step) % 200, np.uint8), 95)
        for i in range(n_frames)
    ]
    fd, path = tempfile.mkstemp(suffix=".avi")
    os.close(fd)
    write_mjpeg_avi(path, frames, w, h, fps=10)
    with open(path, "rb") as f:
        data = f.read()
    os.unlink(path)
    return data


def test_avi_frame_sampling(spark):
    from unravelsports_spark.operators.multimodal import sample_avi_frames

    df = spark.createDataFrame(
        [("c0", bytearray(_clip_bytes(12))), ("c1", bytearray(_clip_bytes(3)))],
        "clip_id string, payload binary",
    )
    sampled = sample_avi_frames(df, every_k=5).collect()
    by_clip = {}
    for r in sampled:
        by_clip.setdefault(r.clip_id, []).append(r)
    assert [r.frame_index for r in by_clip["c0"]] == [0, 5, 10]
    assert [r.frame_index for r in by_clip["c1"]] == [0]
    for r in sampled:
        assert (r.frame_width, r.frame_height) == (24, 16)
        # shade of frame i is (i*10)%200 → decoded mean within 2 levels
        expect = (r.frame_index * 10) % 200 / 255.0
        assert abs(r.frame_mean - expect) < 2 / 255.0
        # payload column dropped from output (pruned), frames decodable
        assert decode_jpeg(bytes(r.frame_payload)).shape == (16, 24, 3)


def test_video_rejects_non_avi(spark):
    from unravelsports_spark.operators.multimodal import sample_avi_frames

    df = spark.createDataFrame([("x", bytearray(b"not a riff file"))],
                               "clip_id string, payload binary")
    with pytest.raises(Exception):
        sample_avi_frames(df).collect()


# -- MP4 (ISO BMFF) muxer ----------------------------------------------------


def test_mp4_roundtrip_and_box_structure(tmp_path):
    """MJPEG MP4: frames recover byte-exact via the sample table, the
    top-level box sizes telescope to the file length exactly, and every
    stco offset points at a JPEG SOI marker."""
    from unravelsports_spark.sources.mp4 import read_mjpeg_mp4, write_mjpeg_mp4

    frames = [encode_jpeg(_gradient(32, 48), 85) for _ in range(5)]
    path = str(tmp_path / "clip.mp4")
    write_mjpeg_mp4(path, frames, 48, 32, fps=10)
    raw = open(path, "rb").read()
    # top-level boxes: ftyp, mdat, moov — sizes sum to the file
    pos, tops = 0, []
    while pos < len(raw):
        size = struct.unpack(">I", raw[pos:pos + 4])[0]
        tops.append(raw[pos + 4:pos + 8])
        pos += size
    assert pos == len(raw)
    assert tops == [b"ftyp", b"mdat", b"moov"]
    back = read_mjpeg_mp4(path)
    assert back == frames
    for f in back:
        assert f[:2] == b"\xff\xd8"  # SOI at every stco offset
        assert decode_jpeg(f).shape == (32, 48, 3)


def test_mp4_sample_entry_signals_mjpeg(tmp_path):
    """The stsd sample entry must be mp4v with esds objectTypeIndication
    0x6C (ISO/IEC 10918-1 JPEG) — what ffmpeg/VLC key MJPEG decode on."""
    from unravelsports_spark.sources.mp4 import write_mjpeg_mp4

    frames = [encode_jpeg(_gradient(16, 16), 85)]
    path = str(tmp_path / "one.mp4")
    write_mjpeg_mp4(path, frames, 16, 16, fps=25)
    raw = open(path, "rb").read()
    i = raw.index(b"mp4v")
    assert i > 0
    j = raw.index(b"esds", i)
    # fullbox header (4) + ES tag 0x03 + 4-byte length + ES_ID(2)+flags(1)
    # + DecoderConfig tag 0x04 + 4-byte length + OTI byte
    es = raw[j + 4 + 4:]
    assert es[0] == 0x03 and es[8] == 0x04
    assert es[13] == 0x6C
    # DecoderConfig payload: OTI(1) streamType(1) bufferSizeDB(3)
    # maxBitrate(4) avgBitrate(4) — maxBitrate is the peak-second bound
    # (max_frame*8*fps), strictly >= avgBitrate (ADVICE r7 #4)
    max_rate = struct.unpack(">I", es[18:22])[0]
    avg_rate = struct.unpack(">I", es[22:26])[0]
    assert max_rate == len(frames[0]) * 8 * 25
    assert max_rate >= avg_rate > 0


def test_mp4_refuses_empty(tmp_path):
    from unravelsports_spark.sources.mp4 import write_mjpeg_mp4

    with pytest.raises(ValueError):
        write_mjpeg_mp4(str(tmp_path / "x.mp4"), [], 8, 8)
