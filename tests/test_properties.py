"""Hypothesis property tests over the driver-side kernels (no Spark in the
loops — these run in milliseconds per example).  Deepens the §5 test-strategy
parity: the reference pins its geometry/window math with fixture matrices;
here the same kernels additionally hold under generated inputs.

Properties pinned:
  * codec matrix: encode/decode identity for arbitrary tiles, every lossless
    codec x predictor combination (incl. the pure-Python LZW), and PackBits
    over seeded runs and malformed streams;
  * PIP: the crossing-count grid kernel is BIT-IDENTICAL to the generic
    even-odd ray-cast for simple polygons, multipolygons with holes,
    vertices and pixel centres on shared grid values, ascending, descending
    and unsorted columns, NaN coordinates and grids split into many row
    blocks, and its ``polygon_edges`` input form equals its WKB form;
  * CRS: forward/inverse identity for every builtin projection family;
  * byte-range coalescing: coverage + gap/size bounds.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from rasteret_spark import crs, geom
from rasteret_spark.format import codecs, miniraster as mr

# keep the whole file under ~20 s: small example counts, no deadline flake
SETTINGS = dict(deadline=None, max_examples=40)


# --- codecs -------------------------------------------------------------------
@settings(**SETTINGS)
@given(
    data=st.binary(min_size=0, max_size=4096),
    comp=st.sampled_from(["deflate", "lzma", "bz2", "packbits", "lzw"]),
)
def test_bytes_roundtrip_all_codecs(data, comp):
    cid = codecs.COMP_NAMES[comp]
    if comp == "packbits":
        enc = codecs.packbits_encode(data)
        assert codecs.packbits_decode(enc, len(data)) == data
    elif comp == "lzw":
        enc = codecs.lzw_encode(data)
        assert codecs.lzw_decode(enc, len(data)) == data
    else:
        arr = np.frombuffer(data.ljust(64, b"\0"), dtype=np.uint8)[:64].reshape(8, 8)
        out = codecs.decode_tile(
            codecs.encode_tile(arr, cid), cid, codecs.PRED_NONE, np.dtype("uint8"), 8, 8
        )
        np.testing.assert_array_equal(out, arr)


@settings(**SETTINGS)
@given(
    seed=st.integers(0, 2**31 - 1),
    comp=st.sampled_from(["deflate", "packbits", "lzw", "raw"]),
    pred=st.sampled_from([codecs.PRED_NONE, codecs.PRED_HORIZONTAL]),
    dtype=st.sampled_from(["uint8", "uint16", "int32"]),
)
def test_tile_roundtrip_codec_predictor_matrix(seed, comp, pred, dtype):
    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
    tile = rng.integers(0, 250, size=(h, w)).astype(dtype)
    cid = codecs.COMP_NAMES[comp]
    out = codecs.decode_tile(codecs.encode_tile(tile, cid, pred), cid, pred, tile.dtype, h, w)
    np.testing.assert_array_equal(out, tile)


def _packbits_decode_ref(data: bytes, expected: int) -> bytes:
    """The numpy-scalar run walk ``codecs.packbits_decode`` replaced."""
    src = np.frombuffer(data, dtype=np.uint8)
    out = bytearray()
    i = 0
    n = src.size
    while i < n and len(out) < expected:
        h = int(src[i])
        i += 1
        if h < 128:  # literal run of h+1 bytes
            out.extend(src[i : i + h + 1].tobytes())
            i += h + 1
        elif h > 128:  # repeat next byte 257-h times
            out.extend(bytes([int(src[i])]) * (257 - h))
            i += 1
        # h == 128: no-op
    return bytes(out[:expected])


def _result(fn, *args):
    try:
        return fn(*args)
    except Exception as e:  # the exception type is part of the contract
        return type(e)


@settings(**SETTINGS)
@given(blob=st.binary(min_size=0, max_size=512), expected=st.integers(-1, 1024))
def test_packbits_decode_matches_reference_on_any_stream(blob, expected):
    """Arbitrary bytes: same output, or the same exception type."""
    assert _result(codecs.packbits_decode, blob, expected) == _result(
        _packbits_decode_ref, blob, expected
    )


def test_packbits_seeded_roundtrip_and_malformed_streams():
    """Runs of 1..130 bytes (literal and repeat headers, 128-byte splits)
    round-trip from bytes, bytearray and memoryview input; ``expected``
    cuts the output; a repeat header with no byte after it is an
    ``IndexError`` and a literal run cut short yields what is there."""
    rng = np.random.default_rng(7)
    for _ in range(200):
        k = int(rng.integers(1, 40))
        raw = np.repeat(
            rng.integers(0, 256, k, dtype=np.uint8), rng.integers(1, 131, k)
        ).tobytes()
        enc = codecs.packbits_encode(raw)
        for buf in (enc, bytearray(enc), memoryview(enc)):
            assert codecs.packbits_decode(buf, len(raw)) == raw
        cut = int(rng.integers(0, len(raw) + 1))
        assert codecs.packbits_decode(enc, cut) == raw[:cut]
    assert codecs.packbits_decode(b"\x02ab", 10) == b"ab"  # literal cut short
    assert codecs.packbits_decode(b"\x80\xfdz", 10) == b"zzzz"  # 128 is a no-op
    for bad in (b"\xff", b"\x00a\xfe"):
        with pytest.raises(IndexError):
            codecs.packbits_decode(bad, 10)


@settings(**SETTINGS)
@given(seed=st.integers(0, 2**31 - 1))
def test_float_predictor3_roundtrip(seed):
    rng = np.random.default_rng(seed)
    tile = rng.normal(0, 1e4, size=(17, 23)).astype("float32")
    cid = codecs.COMP_DEFLATE
    out = codecs.decode_tile(
        codecs.encode_tile(tile, cid, codecs.PRED_FLOAT), cid, codecs.PRED_FLOAT,
        tile.dtype, 17, 23,
    )
    np.testing.assert_array_equal(out, tile)


# --- PIP: grid kernel == generic ray-cast --------------------------------------
@st.composite
def tricky_multipolygon(draw):
    """1-3 polygons, each an outer ring with an optional hole; on a quarter
    grid (so vertices, horizontal edges and pixel centres share values),
    unsorted angles (self-intersecting rings) and a NaN vertex allowed."""
    seed = draw(st.integers(0, 2**31 - 1))
    snap = draw(st.booleans())
    rng = np.random.default_rng(seed)

    def ring(cx, cy, scale):
        n = int(rng.integers(3, 10))
        ang = rng.uniform(0, 2 * np.pi, n)
        if rng.random() < 0.7:
            ang = np.sort(ang)
        rad = scale * rng.uniform(0.2, 1.0, n)
        pts = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        if snap:
            pts = np.round(pts * 4) / 4
        if rng.random() < 0.1:
            pts[rng.integers(n), rng.integers(2)] = np.nan
        return np.vstack([pts, pts[:1]])

    polys = []
    for _ in range(int(rng.integers(1, 4))):
        cx, cy = rng.uniform(-1, 1, 2)
        rings = [ring(cx, cy, 1.0)]
        if rng.random() < 0.5:
            rings.append(ring(cx, cy, 0.35))  # hole (or overlap: even-odd either way)
        polys.append(rings)
    if len(polys) == 1 and rng.random() < 0.5:
        return geom.wkb_polygon(polys[0]), snap
    return geom.wkb_multipolygon(polys), snap


def _tricky_grid(seed: int, snap: bool) -> tuple[np.ndarray, np.ndarray]:
    """Pixel-centre axes in ascending, descending or shuffled column order,
    snapped to the polygon's quarter grid when it is, with NaN allowed."""
    rng = np.random.default_rng(seed)
    nx, ny = int(rng.integers(0, 30)), int(rng.integers(0, 30))
    xs = rng.uniform(-2.2, 2.2, nx)
    ys = rng.uniform(-2.2, 2.2, ny)
    if snap:
        xs, ys = np.round(xs * 4) / 4, np.round(ys * 4) / 4
    order = rng.integers(3)
    if order == 0:
        xs = np.sort(xs)
    elif order == 1:
        xs = np.sort(xs)[::-1]
    if nx and rng.random() < 0.15:
        xs[rng.integers(nx)] = np.nan
    if ny and rng.random() < 0.15:
        ys[rng.integers(ny)] = np.nan
    return xs, ys


def _raycast_grid(xs, ys, buf) -> np.ndarray:
    gx, gy = np.meshgrid(xs, ys)
    return geom.points_in_polygon_wkb(gx.ravel(), gy.ravel(), buf).reshape(ys.size, xs.size)


@settings(deadline=None, max_examples=100)
@given(poly=tricky_multipolygon(), seed=st.integers(0, 2**31 - 1))
def test_scanline_pip_bitidentical_to_raycast(poly, seed):
    buf, snap = poly
    xs, ys = _tricky_grid(seed, snap)
    want = _raycast_grid(xs, ys, buf)
    np.testing.assert_array_equal(geom.points_in_polygon_grid(xs, ys, buf), want)
    edges = geom.polygon_edges(buf)
    np.testing.assert_array_equal(geom.points_in_polygon_grid(xs, ys, edges), want)


@settings(deadline=None, max_examples=100)
@given(poly=tricky_multipolygon(), seed=st.integers(0, 2**31 - 1), cells=st.integers(1, 40))
def test_grid_pip_row_blocks_match_one_block(poly, seed, cells):
    buf, snap = poly
    xs, ys = _tricky_grid(seed, snap)
    whole = geom.points_in_polygon_grid(xs, ys, buf)
    with pytest.MonkeyPatch.context() as mp:
        # a few rows (down to one) per block: every grid crosses block edges
        mp.setattr(geom, "PIP_BLOCK_CELLS", cells)
        blocked = geom.points_in_polygon_grid(xs, ys, buf)
    np.testing.assert_array_equal(blocked, whole)
    np.testing.assert_array_equal(blocked, _raycast_grid(xs, ys, buf))


# --- CRS forward/inverse identity ----------------------------------------------
@settings(**SETTINGS)
@given(
    epsg=st.sampled_from([4326, 3857, 32633, 32610, 32733, 32756]),
    seed=st.integers(0, 2**31 - 1),
)
def test_crs_roundtrip_identity(epsg, seed):
    rng = np.random.default_rng(seed)
    if epsg in (32733, 32756):  # real UTM south: stay in-zone, southern lats
        lon0 = (epsg - 32700) * 6.0 - 183.0
        lon = lon0 + rng.uniform(-3, 3, 16)
        lat = rng.uniform(-79, -0.1, 16)
    elif 32601 <= epsg <= 32660:
        lon = crs.utm_lon0(epsg) + rng.uniform(-3, 3, 16)
        lat = rng.uniform(-84, 84, 16)
    else:
        lon = rng.uniform(-179, 179, 16)
        lat = rng.uniform(-84, 84, 16)
    x, y = crs.from_lonlat(epsg, lon, lat)
    lon2, lat2 = crs.to_lonlat(epsg, x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


# --- byte-range coalescing ------------------------------------------------------
@settings(**SETTINGS)
@given(seed=st.integers(0, 2**31 - 1))
def test_coalesce_ranges_covers_and_bounds(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 40))
    offs = np.sort(rng.integers(0, 100_000, n))
    lens = rng.integers(1, 2_000, n)
    merged = mr.coalesce_ranges(offs, lens, gap=1024, max_per_batch=20)
    # every input range lands in exactly one batch and is fully covered by it
    seen = sorted(i for _, _, idxs in merged for i in idxs)
    assert seen == list(range(n))
    for mo, ms, idxs in merged:
        assert len(idxs) <= 20
        for i in idxs:
            assert mo <= offs[i] and offs[i] + lens[i] <= mo + ms
    assert len(merged) <= n


# --- fast LZW decoder parity --------------------------------------------------
def _lzw_decode_ref(data: bytes, expected: int) -> bytes:
    """Per-symbol reference decoder (the original formulation) — the parity
    oracle for the vectorized ``codecs.lzw_decode``."""
    out = bytearray()
    table: list[bytes] = []
    bitbuf = 0
    bitcnt = 0
    pos = 0
    width = 9
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    n = len(data)
    while len(out) < expected:
        while bitcnt < width:
            if pos >= n:
                return bytes(out[:expected])
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            bitcnt += 8
        bitcnt -= width
        code = (bitbuf >> bitcnt) & ((1 << width) - 1)
        if code == codecs._LZW_EOI:
            break
        if code == codecs._LZW_CLEAR:
            reset()
            continue
        if code < len(table):
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK case
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code} out of range")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    return bytes(out[:expected])


@settings(**SETTINGS)
@given(data=st.binary(min_size=0, max_size=8192))
def test_lzw_fast_decode_matches_reference_loop(data):
    """The vectorized lzw_decode must be byte-identical to the per-symbol
    reference loop on well-formed streams AND truncated ones."""
    enc = codecs.lzw_encode(data)
    assert codecs.lzw_decode(enc, len(data)) == data
    assert _lzw_decode_ref(enc, len(data)) == data
    # truncated expected (short-final-strip contract)
    for cut in (0, len(data) // 2):
        assert codecs.lzw_decode(enc, cut) == _lzw_decode_ref(enc, cut)
    # truncated input stream (ran-out-of-bits contract)
    te = enc[: max(len(enc) // 2, 1)]
    assert codecs.lzw_decode(te, len(data)) == _lzw_decode_ref(te, len(data))


@settings(**SETTINGS)
@given(blob=st.binary(min_size=1, max_size=256), expected=st.integers(0, 512))
def test_lzw_fast_decode_corrupt_stream_parity(blob, expected):
    """Arbitrary bytes: both decoders agree on output OR raise the same
    corrupt-stream error."""
    try:
        r1 = codecs.lzw_decode(blob, expected)
    except ValueError:
        r1 = "ERR"
    try:
        r2 = _lzw_decode_ref(blob, expected)
    except ValueError:
        r2 = "ERR"
    assert r1 == r2
