"""From-scratch Zstandard (RFC 8878) codec — wire-format validation.

The round-5 LZW lesson applies with force here: roundtripping our own
encoder/decoder pair proves nothing about the format.  Every decoder test
therefore runs against frames produced by an INDEPENDENT encoder — either
the system libzstd (via the ctypes fast path, present in this container)
or the reference repo's libtiff+libzstd fixture strip — and every encoder
test decodes our frames through libzstd.

Reference parity: rasteret routes TIFF compression id 50000 to the
zstandard library (src/rasteret/fetch/cog.py:843-966); here the format
itself is implemented from the public RFC in format/zstd.py.
"""

import os
import struct

import numpy as np
import pytest

from rasteret_spark.format import codecs, tiff, zstd
from rasteret_spark.sources import fetch as fx

FIX = "/root/reference/fixtures"
needs_fixtures = pytest.mark.skipif(
    not os.path.isfile(f"{FIX}/int16_zstd.tif"), reason="reference fixtures not present"
)

_HAVE_LIB = zstd._libzstd() is not None

needs_lib = pytest.mark.skipif(
    not _HAVE_LIB, reason="system libzstd absent; cross-validation impossible"
)


def _lib_compress(data: bytes, level: int) -> bytes:
    assert _HAVE_LIB
    return zstd.compress_fast(data, level=level)


# --- corpus: shapes chosen to hit distinct decoder paths ---------------------
def _corpus():
    rng = np.random.default_rng(42)
    yield "empty", b""
    yield "one", b"A"
    yield "tiny", b"abcabcabc"
    yield "constant", b"\x00" * 5000  # RLE blocks / RLE literals
    yield "text", (b"the quick brown fox jumps over the lazy dog. " * 400)
    # highly repetitive -> long matches, repeat offsets
    yield "repeats", (b"0123456789ABCDEF" * 1024 + b"X" + b"0123456789ABCDEF" * 512)
    # skewed byte histogram -> Huffman literals (FSE-compressed weights)
    skew = rng.choice(
        np.arange(8, dtype=np.uint8), size=60000, p=[0.5, 0.2, 0.1, 0.08, 0.05, 0.04, 0.02, 0.01]
    )
    yield "skewed", skew.tobytes()
    # incompressible -> raw literals / raw blocks
    yield "random", rng.integers(0, 256, 70000, dtype=np.uint8).tobytes()
    # > one 128K block -> multi-block frames, cross-block match windows
    big = (b"spark-zstd-" * 9000) + rng.integers(0, 256, 40000, dtype=np.uint8).tobytes()
    yield "multiblock", big
    # int16 raster-like (smooth ramp + noise), the actual engine payload shape
    ramp = (np.arange(64 * 64) % 1000).astype(np.int16)
    ramp[::7] += rng.integers(-50, 50, ramp[::7].shape).astype(np.int16)
    yield "raster16", ramp.tobytes()


@needs_lib
@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_pure_decoder_reads_libzstd_frames(level):
    """The pure-Python decoder must decode REAL libzstd output at several
    levels (different levels exercise different block/literal/sequence
    strategies: raw vs huffman literals, predefined vs FSE tables,
    repeat modes, multi-block windows)."""
    for name, data in _corpus():
        frame = _lib_compress(data, level)
        out = zstd.decompress(frame)
        assert out == data, f"{name} @ level {level}: pure decode mismatch"


@needs_lib
def test_our_frames_decode_through_libzstd():
    """Encoder side of wire validation: our RAW/RLE frames must be legal
    to a conformant third-party decoder."""
    import ctypes

    lib = zstd._libzstd()
    for name, data in _corpus():
        frame = zstd.compress(data)
        size = max(len(data), 1)
        dst = ctypes.create_string_buffer(size)
        n = lib.ZSTD_decompress(dst, size, frame, len(frame))
        assert not lib.ZSTD_isError(n), f"{name}: libzstd rejected our frame"
        assert dst.raw[: int(n)] == data, f"{name}: libzstd decode mismatch"


def test_pure_roundtrip_without_lib():
    """Dependency-free path: our encoder through our decoder (the only
    pair available when libzstd is absent)."""
    for name, data in _corpus():
        assert zstd.decompress(zstd.compress(data)) == data, name


@needs_fixtures
def test_reference_fixture_strip_pure_python():
    """libtiff+libzstd produced fixtures/int16_zstd.tif; its strip payloads
    must decode through the PURE decoder (not the ctypes path) bit-exactly.
    Expected stats pinned from two independent decoders agreeing."""
    m = tiff.parse_tiff(fx.ranged_reader(f"{FIX}/int16_zstd.tif"))
    assert m.compression == 50000 and m.dtype_name == "int16"
    read = fx.ranged_reader(f"{FIX}/int16_zstd.tif")
    rows = []
    rows_per_strip = m.tile_h  # stripped file: strip height stored as tile_h
    for i, (off, cnt) in enumerate(zip(m.tile_offsets, m.tile_byte_counts)):
        payload = read(int(off), int(cnt))
        raw = zstd.decompress(payload)
        n_rows = min(rows_per_strip, m.height - i * rows_per_strip)
        a = np.frombuffer(raw, dtype=m.dtype).reshape(n_rows, m.width)
        rows.append(a)
    img = np.vstack(rows)
    assert img.shape == (64, 64)
    assert int(img.min()) == -5000 and int(img.max()) == 4998
    assert img[0, :6].tolist() == [1071, 2253, 3381, -2149, 867, -506]
    assert abs(float(img.mean()) - 86.5224609375) < 1e-9


def test_skippable_frames_and_concatenation():
    a, b = b"hello ", b"world"
    skip = struct.pack("<II", 0x184D2A50, 4) + b"\x00\x01\x02\x03"
    stream = zstd.compress(a) + skip + zstd.compress(b)
    assert zstd.decompress(stream) == a + b


def test_error_paths():
    with pytest.raises(zstd.ZstdError, match="magic"):
        zstd.decompress(b"\x00\x01\x02\x03\x04\x05\x06\x07")
    # reserved block type (btype == 3)
    frame = bytearray(zstd.compress(b"x" * 10))
    # frame: magic(4) + fhd(1) + fcs(1) + block header(3)...
    bh = int.from_bytes(frame[6:9], "little")
    bh = (bh & ~0b110) | (3 << 1)
    frame[6:9] = bh.to_bytes(3, "little")
    with pytest.raises(zstd.ZstdError, match="reserved"):
        zstd.decompress(bytes(frame))
    # max_output enforcement
    with pytest.raises(zstd.ZstdError, match="max_output"):
        zstd.decompress(zstd.compress(b"y" * 1000), max_output=10)


@needs_lib
def test_fcs_mismatch_detected():
    frame = bytearray(_lib_compress(b"z" * 500, 3))
    # single-segment fhd with 2-byte FCS at offset 5 (levels<=19, 500 bytes)
    fhd = frame[4]
    fcs_flag = fhd >> 6
    if fcs_flag == 1:  # 2-byte FCS
        (fcs,) = struct.unpack_from("<H", frame, 5)
        struct.pack_into("<H", frame, 5, (fcs + 7) & 0xFFFF)
        with pytest.raises(zstd.ZstdError, match="content size"):
            zstd.decompress(bytes(frame))


def test_codec_dispatch_roundtrips_with_predictor():
    """Engine-level: COMP_ZSTD through encode_tile/decode_tile incl.
    predictor-2 differencing, mirroring zstd COGs with horizontal pred."""
    rng = np.random.default_rng(7)
    tile = rng.integers(-1000, 1000, size=(32, 48), dtype=np.int16)
    for pred in (codecs.PRED_NONE, codecs.PRED_HORIZONTAL):
        enc = codecs.encode_tile(tile, codecs.COMP_ZSTD, predictor=pred)
        dec = codecs.decode_tile(
            enc, codecs.COMP_ZSTD, pred, np.dtype("int16"), 32, 48
        )
        np.testing.assert_array_equal(dec, tile)


def test_xxh64_public_vectors():
    """Canonical xxHash spec vectors (seed 0)."""
    assert zstd.xxh64(b"") == 0xEF46DB3751D8E999
    assert zstd.xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert zstd.xxh64(b"abc") == 0x44BC2CF5AD770999


@needs_lib
def test_content_checksum_verified_and_corruption_caught():
    """libzstd emits a checksummed frame (ZSTD_c_checksumFlag); our XXH64
    must agree with the stored low-32 bits, and a flipped checksum byte
    must raise instead of silently returning data."""
    import ctypes

    lib = zstd._libzstd()
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_compress2.restype = ctypes.c_size_t
    lib.ZSTD_freeCCtx.restype = ctypes.c_size_t
    cctx = ctypes.c_void_p(lib.ZSTD_createCCtx())
    try:
        lib.ZSTD_CCtx_setParameter(cctx, 201, 1)  # ZSTD_c_checksumFlag
        # 60007 bytes: NOT a multiple of 32, exercising the 8-, 4- and
        # 1-byte xxh64 tail lanes against libzstd's stored checksum
        data = (b"checksum me " * 5000) + b"tail567"
        bound = int(lib.ZSTD_compressBound(len(data)))
        dst = ctypes.create_string_buffer(bound)
        n = int(lib.ZSTD_compress2(cctx, dst, bound, data, len(data)))
        assert not lib.ZSTD_isError(n)
        frame = dst.raw[:n]
    finally:
        lib.ZSTD_freeCCtx(cctx)
    assert zstd.decompress(frame) == data
    bad = bytearray(frame)
    bad[-1] ^= 0xFF
    with pytest.raises(zstd.ZstdError, match="checksum"):
        zstd.decompress(bytes(bad))


@needs_lib
def test_fast_path_agrees_with_pure():
    rng = np.random.default_rng(3)
    data = (b"abcd" * 5000) + rng.integers(0, 256, 10000, dtype=np.uint8).tobytes()
    frame = _lib_compress(data, 5)
    assert zstd.decompress_fast(frame) == zstd.decompress(frame) == data


# --- review-pass regression tests --------------------------------------------
def test_nseq_long_form_adds_not_ors():
    """RFC 8878 §3.1.1.3.2.1: byte0==255 -> n = b1 + (b2<<8) + 0x7F00.
    A bitwise OR aliases every count >= 0x8000 (b2 overlaps 0x7F00)."""
    assert zstd._parse_nseq(bytes([255, 0x00, 0x01])) == (0x8000, 3)
    assert zstd._parse_nseq(bytes([255, 0xFF, 0xFF])) == (0xFFFF + 0x7F00, 3)
    assert zstd._parse_nseq(bytes([255, 0x00, 0x00])) == (0x7F00, 3)
    assert zstd._parse_nseq(bytes([127])) == (127, 1)
    assert zstd._parse_nseq(bytes([128 + 1, 0x34])) == (0x134, 2)


def test_huffman_weight_cap_rejected_cleanly():
    """Weights past the 11-bit spec cap must raise, not allocate 2^60."""
    with pytest.raises(zstd.ZstdError, match="11"):
        zstd._HufTable([61, 1])
    with pytest.raises(zstd.ZstdError, match="11"):
        zstd._HufTable([12] * 2)
    # weight 11 itself is legal when the completed table stays at 11 bits
    t = zstd._HufTable([11, 10])
    assert t.max_bits <= 11


def test_dictionary_frames_rejected():
    # single-segment fhd with did_flag=1, dict id 5
    frame = struct.pack("<I", zstd.MAGIC) + bytes([0x21, 0x05, 0x00])
    with pytest.raises(zstd.ZstdError, match="dictionary"):
        zstd.decompress(frame)
    # dict id 0 in the field means "no dictionary" and must be accepted:
    # re-encode a real frame with an explicit zero did
    inner = zstd.compress(b"abc")
    patched = (
        inner[:4] + bytes([inner[4] | 0x01, 0x00]) + inner[5:]
    )  # did_flag=1, id=0
    assert zstd.decompress(patched) == b"abc"


@needs_lib
def test_declared_size_bomb_fails_before_allocation():
    """A frame whose header declares a huge content size must raise when the
    caller bounds the output, instead of allocating the declared size."""
    # fhd: fcs_flag=2 (4-byte FCS), single-segment -> 0xA0; declare 1 GiB
    frame = struct.pack("<I", zstd.MAGIC) + bytes([0xA0]) + struct.pack("<I", 1 << 30)
    with pytest.raises(zstd.ZstdError, match="expects"):
        zstd.decompress_fast(frame, expected=4096)
    # pure path: max_output bound enforced too
    with pytest.raises(zstd.ZstdError):
        zstd.decompress(zstd.compress(b"y" * 100000), max_output=10)


@needs_lib
def test_fast_path_multiframe_matches_pure():
    """Concatenated frames: libzstd one-shot covers only the first frame, so
    decompress_fast must detect and fall back to the pure decoder."""
    a, b = b"first frame ", b"second frame"
    stream = zstd.compress(a) + zstd.compress(b)
    assert zstd.decompress_fast(stream, expected=len(a) + len(b)) == a + b
