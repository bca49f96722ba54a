"""MJPEG-AVI container + the real builtin media decoders (JPEG/PNG/WAV).

The AVI reader's oracle is a writer kept here (RIFF header chain, ``movi``
list, ``idx1``) plus content (PSNR of decoded frames vs the planted truth —
the entropy layer is our own JPEG codec, already fixture-validated in
test_jpeg.py)."""

import io
import struct
import wave

import numpy as np
import pandas as pd
import pytest

import png_fixture
from rasteret_spark.format import avi, jpegcodec
from rasteret_spark.operators import multimodal

RNG = np.random.default_rng(55)


# --- MJPEG-AVI writer (the fixture builder for the reader) ---------------------
def _chunk(fourcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) & 1 else b""  # RIFF chunks are word-aligned
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def encode_avi(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """JPEG streams -> MJPEG AVI bytes (one ``00dc`` chunk per frame)."""
    if not frames:
        raise avi.AviError("AVI needs at least one frame")
    if fps <= 0:
        raise avi.AviError(f"bad fps {fps}")
    n = len(frames)
    max_bytes = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,        # microseconds per frame
        max_bytes * fps,         # max bytes per second
        0,                       # padding granularity
        0x10,                    # AVIF_HASINDEX
        n, 0, 1, max_bytes,      # total frames, initial, streams, buf size
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<10I", 0, 0, 0, 1, fps, 0, n, max_bytes, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(  # BITMAPINFOHEADER
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_payload = b"".join(_chunk(b"00dc", f) for f in frames)
    movi = _list(b"movi", movi_payload)
    # idx1 offsets are relative to the start of the movi list data (i.e. the
    # position of the 'movi' fourcc), the most widely-written convention
    idx = bytearray()
    off = 4  # first chunk starts right after the 'movi' fourcc
    for f in frames:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body



def frames_to_avi(
    frames: "np.ndarray | list[np.ndarray]", fps: int = 10, quality: int = 90
) -> bytes:
    """Convenience: uint8 frame arrays -> MJPEG AVI via the repo JPEG
    encoder.  Accepts (t, h, w) gray or (t, h, w, 3) RGB."""
    arrs = [np.asarray(f) for f in frames]
    if not arrs:
        raise avi.AviError("no frames")
    h, w = arrs[0].shape[:2]
    for a in arrs:
        if a.shape[:2] != (h, w):
            raise avi.AviError("all frames must share one dimension")
    return encode_avi(
        [jpegcodec.encode(a, quality=quality) for a in arrs], w, h, fps=fps
    )


def _smooth_frames(t, h, w):
    """Smooth gradient frames (JPEG-friendly) with a per-frame DC shift."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 3 + xx * 2) % 200
    return np.stack([(base + 10 * k) % 256 for k in range(t)]).astype(np.uint8)


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return np.inf if mse == 0 else 10 * np.log10(255.0**2 / mse)


# --- container layer ---------------------------------------------------------
def test_avi_roundtrip_and_info():
    frames = _smooth_frames(7, 40, 56)
    buf = frames_to_avi(frames, fps=5, quality=95)
    assert buf[:4] == b"RIFF" and buf[8:12] == b"AVI "
    got = [jpegcodec.decode(f) for f in avi.iter_frames(buf)]
    assert len(got) == 7
    for g, want in zip(got, frames):
        assert g.shape == (40, 56)
        assert _psnr(g, want) > 35.0


def test_avi_odd_sized_payload_word_alignment():
    # odd-length frame payloads: the chunk walk must skip RIFF pad bytes
    # (iter_frames never decodes, so raw byte payloads are fine here)
    frames = [b"\x01\x02\x03", b"\x04\x05\x06\x07", b"\x08"]
    buf = encode_avi(frames, 8, 8, fps=3)
    assert list(avi.iter_frames(buf)) == frames


def test_avi_error_paths():
    with pytest.raises(avi.AviError, match="not an AVI"):
        list(avi.iter_frames(b"RIFF\x04\x00\x00\x00WAVE"))
    buf = frames_to_avi(_smooth_frames(2, 8, 8))
    with pytest.raises(avi.AviError, match="truncated"):
        list(avi.iter_frames(buf[:40]))


# --- builtin decoders --------------------------------------------------------
def _wav_bytes(x, rate=8000, nch=1, width=2):
    b = io.BytesIO()
    with wave.open(b, "wb") as f:
        f.setnchannels(nch)
        f.setsampwidth(width)
        f.setframerate(rate)
        if width == 2:
            f.writeframes((x * 32767).astype("<i2").tobytes())
        else:
            f.writeframes(((x * 127) + 128).astype(np.uint8).tobytes())
    return b.getvalue()


def test_wav_decode_kernel():
    t = np.linspace(0, 1, 800, endpoint=False)
    x = np.sin(2 * np.pi * 5 * t)
    wavef = multimodal._DECODERS["audio-wav"](_wav_bytes(x))
    assert wavef.shape == (1, 800)
    np.testing.assert_allclose(wavef[0], x, atol=1e-3)
    # stereo interleaving: channel axis first
    st = np.stack([x, -x], axis=1).reshape(-1)
    wavef2 = multimodal._DECODERS["audio-wav"](_wav_bytes(st, nch=2))
    assert wavef2.shape == (2, 800)
    np.testing.assert_allclose(wavef2[0], x, atol=1e-3)
    np.testing.assert_allclose(wavef2[1], -x, atol=1e-3)


def test_png_jpeg_builtin_kernels_match_codecs():
    img = _smooth_frames(1, 33, 21)[0]
    png = png_fixture.encode(img)
    jpg = jpegcodec.encode(img, quality=95)
    g_png = multimodal._DECODERS["png"](png)
    assert g_png.shape == (33, 21)
    np.testing.assert_array_equal(g_png, img.astype(np.float64))  # lossless
    g_jpg = multimodal._DECODERS["jpeg"](jpg)
    assert _psnr(g_jpg, img) > 35.0
    # 16-bit PNG scales into the 0..255 presentation range
    img16 = (img.astype(np.uint16) * 257)
    g16 = multimodal._DECODERS["png"](png_fixture.encode(img16))
    np.testing.assert_allclose(g16, img.astype(np.float64), atol=0.01)
    # RGB -> BT.601 luma
    rgb = np.dstack([img, img // 2, img // 3])
    lum = multimodal._DECODERS["png"](png_fixture.encode(rgb))
    want = img * 0.299 + (img // 2) * 0.587 + (img // 3) * 0.114
    np.testing.assert_allclose(lum, want)


def test_sniff_offset_patterns():
    frames = _smooth_frames(1, 8, 8)
    assert multimodal._sniff(frames_to_avi(frames)) == "video-avi"
    assert multimodal._sniff(_wav_bytes(np.zeros(4))) == "audio-wav"
    assert multimodal._sniff(png_fixture.encode(frames[0])) == "png"
    assert multimodal._sniff(jpegcodec.encode(frames[0])) == "jpeg"
    assert multimodal._sniff(b"II*\x00rest") == "tiff"
    assert multimodal._sniff(b"RIFF\x00\x00\x00\x00XXXX") == "unknown"


# --- Spark plumbing ----------------------------------------------------------
@pytest.fixture(scope="module")
def media_df(spark):
    frames = _smooth_frames(12, 24, 24)
    t = np.linspace(0, 1, 400, endpoint=False)
    rows = [
        {"image_id": "vid-1", "bytes": frames_to_avi(frames, fps=6)},
        {"image_id": "png-1", "bytes": png_fixture.encode(frames[0])},
        {"image_id": "jpg-1", "bytes": jpegcodec.encode(frames[3], quality=95)},
        {"image_id": "wav-1", "bytes": _wav_bytes(np.sin(2 * np.pi * 3 * t))},
        {"image_id": "bad-1", "bytes": b"\xff\xd8\xff" + b"junk" * 4},
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_extract_features_across_kinds(media_df):
    got = multimodal.extract_features(media_df).toPandas().set_index("image_id")
    ok = got[got["status"] == "ok"]
    assert set(ok.index) == {"vid-1", "png-1", "jpg-1", "wav-1"}
    for rid in ok.index:
        f = np.asarray(ok.loc[rid, "features"])
        assert f.shape == (multimodal.FEATURE_DIM,)
        assert np.isfinite(f).all()
