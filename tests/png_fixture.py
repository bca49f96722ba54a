"""PNG fixture builder: the encoder the PNG tests round-trip through
``format.pngcodec.decode`` (the engine itself only decodes PNG)."""

import struct
import zlib

import numpy as np

from rasteret_spark.format.pngcodec import SIGNATURE, PngError


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _filter_rows(rows: np.ndarray, bpp: int, force: int | None = None) -> bytes:
    """(h, stride) uint8 -> filtered stream with per-row adaptive filter
    choice (minimum sum of absolute signed residuals, the heuristic from
    the PNG spec §12.8), or a single forced filter type for tests."""
    h, stride = rows.shape
    d = rows.astype(np.int64)
    left = np.zeros_like(d)
    left[:, bpp:] = d[:, :-bpp]
    up = np.zeros_like(d)
    up[1:] = d[:-1]
    ul = np.zeros_like(d)
    ul[1:, bpp:] = d[:-1, :-bpp]
    cands = np.stack(
        [
            d,
            (d - left) & 0xFF,
            (d - up) & 0xFF,
            (d - ((left + up) >> 1)) & 0xFF,
            (d - _paeth_vec(left, up, ul)) & 0xFF,
        ]
    ).astype(np.uint8)
    if force is not None:
        pick = np.full(h, force)
    else:
        # sum of |signed residual| per (filter, row)
        signed = cands.astype(np.int64)
        signed = np.where(signed < 128, signed, 256 - signed)
        pick = np.argmin(signed.sum(axis=2), axis=0)
    out = np.empty((h, 1 + stride), np.uint8)
    out[:, 0] = pick
    out[:, 1:] = cands[pick, np.arange(h)]
    return out.tobytes()


def encode(img: np.ndarray, *, force_filter: int | None = None) -> bytes:
    """uint8/uint16 array -> PNG bytes.

    Shapes: (h, w) gray, (h, w, 2) gray+alpha, (h, w, 3) RGB,
    (h, w, 4) RGBA.  uint16 writes bit depth 16 (big-endian samples, per
    spec).  ``force_filter`` pins one filter type for all rows (tests)."""
    img = np.asarray(img)
    if img.dtype == np.uint8:
        depth, bytedepth = 8, 1
    elif img.dtype == np.uint16:
        depth, bytedepth = 16, 2
    else:
        raise PngError(f"PNG encoder takes uint8/uint16, got {img.dtype}")
    if img.ndim == 2:
        ctype, ch = 0, 1
    elif img.ndim == 3 and img.shape[2] in (2, 3, 4):
        ctype = {2: 4, 3: 2, 4: 6}[img.shape[2]]
        ch = img.shape[2]
    else:
        raise PngError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise PngError("empty image")
    stride = w * ch * bytedepth
    raw = img.astype(">u2" if depth == 16 else "u1").tobytes()
    rows = np.frombuffer(raw, np.uint8).reshape(h, stride)
    bpp = ch * bytedepth
    stream = _filter_rows(rows, bpp, force=force_filter)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(stream, 6))
        + _chunk(b"IEND", b"")
    )
