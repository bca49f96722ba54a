"""PNG codec oracles.

Wire-format validation is against REAL third-party artifacts under
/usr/share (palette git-logo, gray + RGBA doc icons) — the round-5 lesson
from LZW/predictor-2 is that an internally-consistent encoder/decoder pair
can hide format bugs, so roundtrips alone are never the whole story.  The
Adam7 oracle uses an INDEPENDENT in-test interlaced writer (pass
extraction re-derived from the spec, not shared with the codec)."""

import os
import struct
import zlib

import numpy as np
import pytest

import png_fixture
from rasteret_spark.format import pngcodec as pc

RNG = np.random.default_rng(20260817)


# --- roundtrip matrix --------------------------------------------------------
@pytest.mark.parametrize("shape", [(5, 7), (16, 16, 3), (9, 13, 4), (8, 8, 2), (1, 1), (3, 200)])
@pytest.mark.parametrize("dtype", [np.uint8, np.uint16])
def test_roundtrip_adaptive(shape, dtype):
    hi = 256 if dtype == np.uint8 else 65536
    a = RNG.integers(0, hi, size=shape, dtype=dtype)
    b = pc.decode(png_fixture.encode(a))
    assert b.dtype == a.dtype and b.shape == a.shape
    assert np.array_equal(a, b)


@pytest.mark.parametrize("ff", [0, 1, 2, 3, 4])
def test_roundtrip_each_filter(ff):
    # same truth array through every forced filter type -> identical decode;
    # catches an encoder/decoder bug pairing in any single filter
    a = RNG.integers(0, 256, size=(12, 10, 3), dtype=np.uint8)
    b = pc.decode(png_fixture.encode(a, force_filter=ff))
    assert np.array_equal(a, b), f"filter {ff}"


# --- spec vectors: hand-computed filter reconstructions ----------------------
def _raw_png(w, h, depth, ctype, stream, extra=b""):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    return (
        pc.SIGNATURE
        + png_fixture._chunk(b"IHDR", ihdr)
        + extra
        + png_fixture._chunk(b"IDAT", zlib.compress(stream))
        + png_fixture._chunk(b"IEND", b"")
    )


def test_filter_vectors_from_spec():
    # 2x3 gray: row0 Sub, row1 Paeth — reconstructions computed by hand
    # from RFC 2083 §6: Sub adds left; Paeth adds the Paeth predictor.
    row0 = bytes([1, 10, 5, 5])        # -> 10, 15, 20
    # prev = [10,15,20]; Paeth(a,b,c): first px a=0,c=0 -> pred=b=10
    # second: a=11? recon[0]=10+1=11; p=11+15-10=16 pa=5 pb=1 pc=6 -> b=15
    row1 = bytes([4, 1, 2, 3])
    out = pc.decode(_raw_png(3, 2, 8, 0, row0 + row1))
    assert out.tolist() == [[10, 15, 20], [11, 17, 23]]


def test_average_floor_semantics():
    # Average uses floor((left+up)/2); check odd sums floor correctly
    row0 = bytes([0, 10, 11])          # plain: 10, 11
    row1 = bytes([3, 1, 1])            # avg: 1+(0+10)//2=6, 1+(6+11)//2=9
    out = pc.decode(_raw_png(2, 2, 8, 0, row0 + row1))
    assert out.tolist() == [[10, 11], [6, 9]]


# --- real third-party files --------------------------------------------------
REAL = [
    "/usr/share/gitweb/static/git-logo.png",          # palette (ct=3)
    "/usr/share/doc/python3/_static/minus.png",       # gray (ct=0)
    "/usr/share/doc/python3/_static/file.png",        # RGBA (ct=6)
    "/usr/share/doc/python3-pip/html/topics/deps.png",
]


@pytest.mark.parametrize("path", [p for p in REAL if os.path.exists(p)])
def test_real_world_files(path):
    buf = open(path, "rb").read()
    inf = pc.info(buf)
    arr = pc.decode(buf)
    assert arr.shape[0] == inf["height"] and arr.shape[1] == inf["width"]
    # palette expands to RGB(A); others keep channel count
    if inf["color_type"] == 3:
        assert arr.ndim == 3 and arr.shape[2] in (3, 4)
    # full re-encode -> decode roundtrip is bit-exact
    assert np.array_equal(pc.decode(png_fixture.encode(arr)), arr)


def test_git_logo_is_known_palette_content():
    # independent facts about a third-party artifact: 72x27 palette image,
    # indices cover >1 colour, output in-range uint8 RGB
    path = "/usr/share/gitweb/static/git-logo.png"
    if not os.path.exists(path):
        pytest.skip("artifact absent")
    arr = pc.decode(open(path, "rb").read())
    assert arr.shape == (27, 72, 3) and arr.dtype == np.uint8
    assert len(np.unique(arr.reshape(-1, 3), axis=0)) > 1


# --- Adam7: independent in-test interlaced writer ----------------------------
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _interlace_stream(img):
    """Spec-derived pass extraction, written independently of the codec:
    each Adam7 pass is emitted as its own filtered (filter 0) sub-image."""
    h, w = img.shape[:2]
    ch = 1 if img.ndim == 2 else img.shape[2]
    flat = img.reshape(h, w, ch)
    out = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = flat[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for row in sub:
            out += b"\x00" + row.astype(np.uint8).tobytes()
    return bytes(out)


@pytest.mark.parametrize("shape", [(13, 17), (8, 8, 3), (3, 2), (1, 9, 4)])
def test_adam7_deinterlace(shape):
    img = RNG.integers(0, 256, size=shape, dtype=np.uint8)
    h, w = shape[:2]
    ch = 1 if len(shape) == 2 else shape[2]
    ctype = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)  # interlace=1
    buf = (
        pc.SIGNATURE
        + png_fixture._chunk(b"IHDR", ihdr)
        + png_fixture._chunk(b"IDAT", zlib.compress(_interlace_stream(img)))
        + png_fixture._chunk(b"IEND", b"")
    )
    assert np.array_equal(pc.decode(buf), img)


# --- palette, transparency, sub-byte depths ----------------------------------
def test_palette_with_trns():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B
    trns = bytes([255, 128])  # entry0 opaque, entry1 half; entry2 defaults 255
    stream = b"\x00" + bytes([0, 1, 2])  # one row, indices 0 1 2
    buf = _raw_png(3, 1, 8, 3, stream,
                   extra=png_fixture._chunk(b"PLTE", plte) + png_fixture._chunk(b"tRNS", trns))
    out = pc.decode(buf)
    assert out.shape == (1, 3, 4)
    assert out[0].tolist() == [[255, 0, 0, 255], [0, 255, 0, 128], [0, 0, 255, 255]]


def test_gray_trns_key_pre_scale_domain():
    # 1-bit gray with tRNS key 1 (sample domain 0..1, BEFORE 8-bit scaling)
    stream = b"\x00" + bytes([0b10100000])  # row: 1 0 1 0 0
    buf = _raw_png(5, 1, 1, 0, stream,
                   extra=png_fixture._chunk(b"tRNS", struct.pack(">H", 1)))
    out = pc.decode(buf)
    assert out.shape == (1, 5, 2)
    # sample 1 scales to 255 and is transparent; sample 0 -> 0 opaque
    assert out[0].tolist() == [[255, 0], [0, 255], [255, 0], [0, 255], [0, 255]]


@pytest.mark.parametrize("depth,vals,expect", [
    (1, [1, 0, 1, 1, 0], [255, 0, 255, 255, 0]),
    (2, [0, 1, 2, 3, 2], [0, 85, 170, 255, 170]),
    (4, [0, 7, 15, 8, 3], [0, 119, 255, 136, 51]),
])
def test_sub_byte_gray(depth, vals, expect):
    per_byte = 8 // depth
    packed = bytearray()
    acc, n = 0, 0
    for v in vals:
        acc = (acc << depth) | v
        n += 1
        if n == per_byte:
            packed.append(acc)
            acc, n = 0, 0
    if n:
        packed.append(acc << (depth * (per_byte - n)))
    buf = _raw_png(len(vals), 1, depth, 0, b"\x00" + bytes(packed))
    assert pc.decode(buf)[0].tolist() == expect


# --- info + error paths ------------------------------------------------------
def test_info_fields():
    a = RNG.integers(0, 65536, size=(4, 6, 3), dtype=np.uint16)
    inf = pc.info(png_fixture.encode(a))
    assert inf["width"] == 6 and inf["height"] == 4
    assert inf["bit_depth"] == 16 and inf["color_type"] == 2
    assert inf["chunks"] == ["IHDR", "IDAT", "IEND"]


def test_bad_signature_and_crc():
    a = RNG.integers(0, 256, size=(3, 3), dtype=np.uint8)
    buf = bytearray(png_fixture.encode(a))
    with pytest.raises(pc.PngError, match="signature"):
        pc.decode(b"NOPE" + bytes(buf[4:]))
    buf[20] ^= 0xFF  # corrupt IHDR payload -> CRC mismatch
    with pytest.raises(pc.PngError, match="CRC"):
        pc.decode(bytes(buf))


def test_truncated_stream_and_bad_filter():
    with pytest.raises(pc.PngError, match="too short"):
        pc.decode(_raw_png(3, 2, 8, 0, b"\x00\x01\x02\x03"))  # one row only
    with pytest.raises(pc.PngError, match="filter type"):
        pc.decode(_raw_png(2, 1, 8, 0, b"\x07\x01\x02"))


def test_encoder_rejects_bad_inputs():
    with pytest.raises(pc.PngError):
        png_fixture.encode(np.zeros((2, 2), np.float32))
    with pytest.raises(pc.PngError):
        png_fixture.encode(np.zeros((0, 4), np.uint8))
    with pytest.raises(pc.PngError):
        png_fixture.encode(np.zeros((2, 2, 5), np.uint8))
