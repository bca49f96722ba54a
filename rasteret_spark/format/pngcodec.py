"""From-scratch PNG codec — stdlib ``zlib`` + numpy only, no PIL.

Closes the reference's PIL-gated image path (rasteret ships JPEG/PNG thumb
decode through PIL in ``src/rasteret/core/display.py``; this container has
no PIL, so the format itself is implemented here): full chunk walk, IHDR
bit depths 1/2/4/8/16, color types 0 (gray), 2 (RGB), 3 (palette),
4 (gray+alpha), 6 (RGBA), all five scanline filters, tRNS transparency,
and Adam7 deinterlacing.  The engine only decodes PNG; the tests'
fixture builder (``tests/png_fixture.py``) writes the PNGs they
round-trip.

Wire-format validation (round-5 lesson: an internally-consistent codec
pair can hide format bugs) is against REAL third-party artifacts: the
PNGs shipped in ``/usr/share`` (git-logo, python-doc icons, nodejs doc
screenshots) decode and survive re-encode round-trips bit-exactly — see
``tests/test_png.py``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type -> number of samples per pixel (palette is 1 index)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass grid: (x_off, y_off, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


class PngError(ValueError):
    pass


# --- chunk layer -------------------------------------------------------------
def iter_chunks(buf: bytes):
    """Yield (tag, payload) for every chunk; validates lengths + CRCs."""
    if buf[:8] != SIGNATURE:
        raise PngError("not a PNG (bad signature)")
    pos = 8
    while pos + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > len(buf):
            raise PngError(f"truncated chunk {tag!r}")
        data = buf[pos + 8 : end]
        (crc,) = struct.unpack_from(">I", buf, end)
        if crc != zlib.crc32(tag + data) & 0xFFFFFFFF:
            raise PngError(f"bad CRC in chunk {tag!r}")
        yield tag, data
        pos = end + 4
        if tag == b"IEND":
            return
    raise PngError("no IEND chunk")


# --- filters -----------------------------------------------------------------
def _unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering: (h, 1+stride) raw stream ->
    (h, stride) reconstructed bytes.  None/Sub/Up are vectorized (Sub via
    the mod-256 cumulative sum over each byte lane); Average and Paeth are
    inherently sequential within a row."""
    need = h * (1 + stride)
    if len(raw) < need:
        raise PngError(f"inflated stream too short: {len(raw)} < {need}")
    rows = np.frombuffer(raw, np.uint8, need).reshape(h, 1 + stride)
    ftypes = rows[:, 0]
    data = rows[:, 1:].astype(np.int64)
    out = np.zeros((h, stride), np.int64)
    prev = np.zeros(stride, np.int64)
    prev_list: list[int] | None = None  # lazy plain-int mirror for ft 3/4
    # pad width to a bpp multiple once for the Sub cumsum trick
    lanes = -(-stride // bpp)
    for y in range(h):
        ft = int(ftypes[y])
        row = data[y]
        if ft == 0:
            rec = row
        elif ft == 1:  # Sub: rec[i] = row[i] + rec[i-bpp]  (cumsum per lane)
            tmp = np.zeros(lanes * bpp, np.int64)
            tmp[:stride] = row
            rec = np.cumsum(tmp.reshape(lanes, bpp), axis=0).reshape(-1)[:stride] & 0xFF
        elif ft == 2:  # Up
            rec = (row + prev) & 0xFF
        elif ft in (3, 4):
            # Average/Paeth are sequential within the row (left neighbour is
            # already-reconstructed output) — run the scan over plain Python
            # ints, ~50x faster than numpy scalar indexing
            if prev_list is None:
                prev_list = prev.tolist()
            r = row.tolist()
            if ft == 3:  # Average
                for i in range(stride):
                    a = r[i - bpp] if i >= bpp else 0
                    r[i] = (r[i] + ((a + prev_list[i]) >> 1)) & 0xFF
            else:  # Paeth
                for i in range(stride):
                    a = r[i - bpp] if i >= bpp else 0
                    c = prev_list[i - bpp] if i >= bpp else 0
                    b = prev_list[i]
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    r[i] = (r[i] + pred) & 0xFF
            rec = np.array(r, np.int64)
            out[y] = rec
            prev = rec
            prev_list = r
            continue
        else:
            raise PngError(f"unknown filter type {ft} on row {y}")
        out[y] = rec
        prev = rec
        prev_list = None
    return out.astype(np.uint8)


# --- decode ------------------------------------------------------------------
def _unpack_bits(rows: np.ndarray, depth: int, w: int) -> np.ndarray:
    """(h, stride_bytes) packed rows -> (h, w) samples for depth 1/2/4.
    Bits are packed MSB-first within each byte (PNG spec §7.2)."""
    h = rows.shape[0]
    per_byte = 8 // depth
    shifts = np.arange(per_byte - 1, -1, -1) * depth
    mask = (1 << depth) - 1
    # (h, stride, per_byte) -> (h, stride*per_byte), crop to w
    expanded = (rows[:, :, None] >> shifts[None, None, :]) & mask
    return expanded.reshape(h, -1)[:, :w]


def _decode_region(
    raw: bytes, h: int, w: int, depth: int, ch: int
) -> np.ndarray:
    """Unfilter + unpack one (sub-)image region -> (h, w, ch) int array in
    the stored sample domain (no palette/scale applied)."""
    bytedepth = 2 if depth == 16 else 1
    if depth >= 8:
        stride = w * ch * bytedepth
        bpp = ch * bytedepth
    else:
        stride = -(-(w * ch * depth) // 8)
        bpp = 1
    rec = _unfilter(raw, h, stride, bpp)
    if depth == 16:
        samples = rec.reshape(h, w * ch, 2)
        vals = (samples[:, :, 0].astype(np.uint16) << 8) | samples[:, :, 1]
        return vals.reshape(h, w, ch)
    if depth == 8:
        return rec.reshape(h, w, ch).astype(np.uint16)
    # sub-byte depths are only legal for 1-channel color types (0 and 3)
    return _unpack_bits(rec, depth, w).reshape(h, w, 1).astype(np.uint16)


def _region_bytes(h: int, w: int, depth: int, ch: int) -> int:
    if h == 0 or w == 0:
        return 0
    bytedepth = 2 if depth == 16 else 1
    stride = w * ch * bytedepth if depth >= 8 else -(-(w * ch * depth) // 8)
    return h * (1 + stride)


def decode(buf: bytes) -> np.ndarray:
    """PNG bytes -> numpy array.

    Returns uint8 (or uint16 for bit depth 16): (h, w) for gray, (h, w, C)
    otherwise.  Palette images expand through PLTE to RGB (RGBA when a
    tRNS chunk is present); gray bit depths 1/2/4 scale to the full 8-bit
    range (sample-max 2^d-1 maps to 255, per the spec's presentation
    rule); gray/RGB tRNS adds an alpha channel."""
    buf = bytes(buf)
    ihdr = None
    plte = None
    trns = None
    idat = []
    for tag, data in iter_chunks(buf):
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = data
        elif tag == b"IDAT":
            idat.append(data)
    if ihdr is None:
        raise PngError("no IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise PngError(f"unknown compression/filter method {comp}/{filt}")
    if ctype not in _CHANNELS:
        raise PngError(f"unknown color type {ctype}")
    if depth not in (1, 2, 4, 8, 16) or (depth < 8 and ctype not in (0, 3)):
        raise PngError(f"illegal bit depth {depth} for color type {ctype}")
    ch = _CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))

    if interlace == 0:
        img = _decode_region(raw, h, w, depth, ch)
    elif interlace == 1:  # Adam7
        img = np.zeros((h, w, ch), np.uint16)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            ph = (h - y0 + dy - 1) // dy
            pw = (w - x0 + dx - 1) // dx
            n = _region_bytes(ph, pw, depth, ch)
            if n == 0:
                continue
            sub = _decode_region(raw[pos : pos + n], ph, pw, depth, ch)
            pos += n
            img[y0::dy, x0::dx] = sub
    else:
        raise PngError(f"unknown interlace method {interlace}")

    if ctype == 3:  # palette -> RGB(A)
        if plte is None:
            raise PngError("palette image without PLTE")
        idx = img[:, :, 0]
        if idx.max(initial=0) >= len(plte):
            raise PngError("palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, np.uint8)
            t = np.frombuffer(trns, np.uint8)
            alpha[: len(t)] = t
            return np.dstack([rgb, alpha[idx]])
        return rgb

    # tRNS key is in the STORED sample domain — mask before any scaling
    mask = None
    if trns is not None and ctype in (0, 2):
        key = struct.unpack(f">{ch}H", trns)
        mask = np.all(img == np.array(key, np.uint16)[None, None, :], axis=2)

    if depth < 8:  # gray 1/2/4 -> presentation scale to 8-bit
        img = (img * (255 // ((1 << depth) - 1))).astype(np.uint16)
        depth = 8

    if mask is not None:
        maxv = 65535 if depth == 16 else 255
        alpha = np.where(mask, 0, maxv).astype(np.uint16)
        img = np.dstack([img, alpha])
        ch += 1

    out_dtype = np.uint16 if depth == 16 else np.uint8
    img = img.astype(out_dtype)
    return img[:, :, 0] if img.shape[2] == 1 else img


def info(buf: bytes) -> dict:
    """Header-only parse: dict of IHDR fields + chunk inventory (no
    inflate) — the cheap path for metadata enrichment."""
    tags = []
    ihdr = None
    for tag, data in iter_chunks(bytes(buf)):
        tags.append(tag.decode("latin1"))
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
    if ihdr is None:
        raise PngError("no IHDR")
    w, h, depth, ctype, _, _, interlace = ihdr
    return {
        "width": w, "height": h, "bit_depth": depth, "color_type": ctype,
        "interlace": interlace, "channels": _CHANNELS[ctype], "chunks": tags,
    }
