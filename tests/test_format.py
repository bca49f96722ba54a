"""Unit tests for the mini-raster tile format: codecs, predictors, windows.

Mirrors the reference's offline kernel-test layer (rasteret
tests/test_cog_reader.py: per-codec, per-dtype, per-predictor decode checks
against an in-memory oracle).
"""

import numpy as np
import pytest

from rasteret_spark.format import codecs, container, miniraster as mr


RNG = np.random.default_rng(42)


def _img(dtype, h=130, w=97, lo=0, hi=200):
    if np.dtype(dtype).kind == "f":
        return (RNG.random((h, w)) * (hi - lo) + lo).astype(dtype)
    return RNG.integers(lo, hi, size=(h, w)).astype(dtype)


@pytest.mark.parametrize("comp", ["raw", "deflate", "lzma", "bz2", "packbits", "lzw", "lerc"])
@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int32"])
def test_lossless_roundtrip_int(comp, dtype):
    arr = _img(dtype)
    blob = mr.encode_image(arr, tile_w=48, tile_h=32, compression=codecs.COMP_NAMES[comp])
    out = container.decode_full(blob)
    np.testing.assert_array_equal(out, arr)


@pytest.mark.parametrize("comp", ["deflate", "packbits", "lzw"])
def test_predictor2_roundtrip(comp):
    arr = _img("uint16")
    blob = mr.encode_image(
        arr, compression=codecs.COMP_NAMES[comp], predictor=codecs.PRED_HORIZONTAL
    )
    np.testing.assert_array_equal(container.decode_full(blob), arr)


@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_predictor3_float_roundtrip(dtype):
    arr = _img(dtype)
    blob = mr.encode_image(
        arr, compression=codecs.COMP_DEFLATE, predictor=codecs.PRED_FLOAT
    )
    np.testing.assert_array_equal(container.decode_full(blob), arr)


def test_qlossy_psnr_gate():
    arr = _img("uint8", hi=255)
    blob = mr.encode_image(arr, compression=codecs.COMP_QLOSSY, qstep=2.0)
    out = container.decode_full(blob)
    assert out.dtype == arr.dtype
    assert codecs.psnr(arr, out, peak=255.0) >= 40.0


def test_qlossy_float_psnr():
    arr = _img("float32", lo=-50, hi=50)
    blob = mr.encode_image(arr, compression=codecs.COMP_QLOSSY, qstep=0.05)
    assert codecs.psnr(arr, container.decode_full(blob)) >= 40.0


def test_header_roundtrip_fields():
    arr = _img("int16", h=70, w=200)
    tr = (10.0, 0.0, 500000.0, 0.0, -10.0, 4100000.0)
    blob = mr.encode_image(
        arr, tile_w=64, tile_h=64, transform=tr, epsg=32633, nodata=-9999.0
    )
    meta = mr.parse_header(blob[: mr.header_len_from_prefix(blob[:8])])
    assert (meta.width, meta.height) == (200, 70)
    assert (meta.tiles_x, meta.tiles_y) == (4, 2)
    assert meta.transform == tr
    assert meta.epsg == 32633
    assert meta.nodata == -9999.0
    assert meta.dtype == np.dtype("int16")
    assert len(meta.tile_offsets) == 8
    # offsets are monotone and in-bounds
    assert meta.tile_offsets[0] == meta.header_len
    assert int(meta.tile_offsets[-1] + meta.tile_byte_counts[-1]) == len(blob)


@pytest.mark.parametrize(
    "win", [(0, 0, 97, 130), (10, 20, 30, 40), (90, 120, 30, 30), (50, 0, 1, 1)]
)
def test_window_read_matches_full_decode(win):
    arr = _img("uint16")
    blob = mr.encode_image(arr, tile_w=32, tile_h=48, compression=codecs.COMP_DEFLATE)
    c, r, w, h = win
    out = mr.CachedReader(blob).window(c, r, w, h)
    cw = min(arr.shape[1] - c, w)
    ch = min(arr.shape[0] - r, h)
    np.testing.assert_array_equal(out[:ch, :cw], arr[r : r + h, c : c + w])


def test_window_overhang_filled_with_nodata():
    arr = _img("int32")
    blob = mr.encode_image(arr, nodata=-1.0)
    out = mr.CachedReader(blob).window(90, 120, 20, 20)
    assert out.shape == (20, 20)
    np.testing.assert_array_equal(out[:10, :7], arr[120:130, 90:97])
    assert (out[10:, :] == -1).all() and (out[:, 7:] == -1).all()


def test_coalesce_ranges_merges_and_maps():
    offsets = np.array([100, 0, 210, 5000], dtype=np.uint64)
    sizes = np.array([50, 90, 40, 10], dtype=np.uint64)
    merged = mr.coalesce_ranges(offsets, sizes, gap=1024)
    # 0..90, 100..150, 210..250 merge (gaps 10, 60 <= 1024); 5000 alone
    assert [(o, s) for o, s, _ in merged] == [(0, 250), (5000, 10)]
    assert sorted(merged[0][2]) == [0, 1, 2]


def test_coalesce_respects_gap():
    offsets = np.array([0, 3000], dtype=np.uint64)
    sizes = np.array([10, 10], dtype=np.uint64)
    assert len(mr.coalesce_ranges(offsets, sizes, gap=1024)) == 2


def test_multiband_roundtrip_planar():
    cube = np.stack([_img("uint16"), _img("uint16"), _img("uint16")])
    blob = mr.encode_image(cube, tile_w=48, tile_h=32, compression=codecs.COMP_DEFLATE)
    meta = mr.parse_header(blob[: mr.header_len_from_prefix(blob[:8])])
    assert meta.n_bands == 3
    assert len(meta.tile_offsets) == meta.tiles_per_band * 3
    # per-band full decode and stacked decode agree with the source cube
    for b in range(3):
        np.testing.assert_array_equal(container.decode_full(blob, band=b), cube[b])
    np.testing.assert_array_equal(container.decode_full(blob), cube)
    # banded window reads touch only that band's planar tile run
    out = mr.CachedReader(blob).window(10, 20, 30, 40, band=2)
    np.testing.assert_array_equal(out, cube[2][20:60, 10:40])
    r = mr.CachedReader(blob)
    np.testing.assert_array_equal(r.window(10, 20, 30, 40, band=1), cube[1][20:60, 10:40])


def test_singleband_decode_stays_2d():
    arr = _img("uint8")
    blob = mr.encode_image(arr)
    assert container.decode_full(blob).ndim == 2


def test_packbits_edge_cases():
    for data in [b"", b"a", b"a" * 300, b"abc" * 50, bytes(range(256)) * 2, b"aabbbbbcdd"]:
        enc = codecs.packbits_encode(data)
        assert codecs.packbits_decode(enc, len(data)) == data


class _CountingBlob:
    """A blob that records every slice read from it: each slice stands for
    one ranged GET."""

    def __init__(self, blob: bytes):
        self.blob, self.slices = blob, []

    def __getitem__(self, sl: slice) -> bytes:
        self.slices.append((sl.start, sl.stop))
        return self.blob[sl]


def _merged(meta, ids) -> list[tuple[int, int]]:
    ranges = mr.coalesce_ranges(meta.tile_offsets[ids], meta.tile_byte_counts[ids])
    return sorted((o, o + n) for o, n, _ in ranges)


def test_reader_reads_one_slice_per_merged_range():
    """Several AOI windows on one image: each window reads its uncached
    tiles with one slice per coalesced range (adjacent tiles of a tile row
    merge), never one per tile; a repeated window reads nothing."""
    arr = _img("uint16", h=256, w=256)
    blob = mr.encode_image(arr, tile_w=32, tile_h=32, compression=codecs.COMP_DEFLATE)
    meta = container.parse_any(blob)
    src = _CountingBlob(blob)
    reader = mr.CachedReader(src, meta)
    seen: set[int] = set()
    for c, r, w, h in [(10, 10, 70, 50), (40, 30, 100, 60), (0, 200, 256, 56)]:
        ids = [t for t, _, _ in mr.plan_window_tiles(meta, c, r, w, h) if t not in seen]
        before = len(src.slices)
        out = reader.window(c, r, w, h)
        np.testing.assert_array_equal(out, arr[r : r + h, c : c + w])
        got = sorted(src.slices[before:])
        assert got == _merged(meta, ids)
        assert len(got) < len(ids)
        seen.update(ids)
    before = len(src.slices)
    reader.window(10, 10, 70, 50)
    assert len(src.slices) == before


def test_point_gather_reads_one_slice_per_merged_range():
    from rasteret_spark.operators import sampling

    arr = _img("uint16", h=256, w=256)
    blob = mr.encode_image(arr, tile_w=32, tile_h=32, compression=codecs.COMP_DEFLATE)
    meta = container.parse_any(blob)
    src = _CountingBlob(blob)
    reader = mr.CachedReader(src, meta)
    rr = np.array([5, 6, 40, 41, 200, 5, 250])
    cc = np.array([5, 100, 7, 200, 60, 250, 3])
    got = sampling._gather_pixels(reader, 0, rr, cc)
    np.testing.assert_array_equal(got, arr[rr, cc].astype(np.float64))
    ids = sorted({(r // 32) * meta.tiles_x + c // 32 for r, c in zip(rr, cc)})
    assert sorted(src.slices) == _merged(meta, ids)
    assert len(src.slices) < len(ids)
