"""From-scratch Esri LERC2 decoder + deterministic encoder, pure Python.

Closes the engine's last declared-missing codec: the reference routes COG
tiles with TIFF compression id 34887 (LERC) through GDAL/liblerc
(``src/rasteret/fetch/cog.py:843-966`` declares the codec matrix); this
container has no Python lerc package, so the wire format is implemented
here from the public format (Esri/lerc, Apache-2.0 spec'd in
``doc/Lerc_bytes_layout.pdf``) the way ``zstd.py`` implements RFC 8878.

Decoder covers LERC2 versions 2-6 as written by liblerc (the only writer
in the wild — GDAL links it): header layouts per version (v2 no checksum,
v3 +Fletcher32, v4 +nDepth & per-band min/max & byte Huffman, v6 +extra
flag words), RLE-compressed validity masks, one-sweep raw bands,
micro-block tiles (raw / bit-stuffed / constant), LUT-mode bit-stuffing,
both bit-packing eras (v2 MSB-first per uint32, v3+ LSB-first trimmed),
Huffman and delta-Huffman modes for 8-bit data with explicit code tables,
float/double quantization via 2*maxZError, and multi-band blobs (liblerc
concatenates one complete Lerc2 blob per band).  Checksums ARE verified
(the exact Fletcher32 variant liblerc uses, including its once-per-word
sum2 accumulation and 359-word reduction stride).

Encoder emits version-6 blobs with real micro-block bit-stuffing
(constant blocks, offset+bitstuff, raw fallback — no LUT/Huffman search)
for integer data and integral floats, one-sweep otherwise; output is
byte-deterministic, so cache fingerprints stay stable.

Wire-format validation (the round-5 LZW lesson: an internally-consistent
codec pair can hide wire bugs) is BOTH ways against liblerc 4 via ctypes
when ``libLerc.so`` is present: liblerc encodes across a dtype x shape x
mask x distribution matrix and this decoder must match bit-exact, and
liblerc must decode this encoder's blobs bit-exact — see
``tests/test_lerc.py``.

Every field layout below was confirmed empirically against liblerc 4.0
output (probe transcripts in the tests), not copied from C++ sources.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import struct

import numpy as np

FILE_KEY = b"Lerc2 "

# LERC public C API data types, index == wire id
_DTYPES = [
    np.dtype(np.int8),
    np.dtype(np.uint8),
    np.dtype(np.int16),
    np.dtype(np.uint16),
    np.dtype(np.int32),
    np.dtype(np.uint32),
    np.dtype(np.float32),
    np.dtype(np.float64),
]
_DT_ID = {dt: i for i, dt in enumerate(_DTYPES)}


class LercError(ValueError):
    pass


def _fletcher32(data: bytes) -> int:
    """liblerc's Fletcher32 variant: big-endian word assembly, sum2 bumped
    once per word (after the low byte), 16-bit folds every 359 words and
    twice at the end.  Computed over blob[14:] (everything after the
    checksum field itself)."""
    s1, s2 = 0xFFFF, 0xFFFF
    i, words = 0, len(data) // 2
    while words:
        t = min(words, 359)
        words -= t
        for _ in range(t):
            s1 += data[i] << 8
            s1 += data[i + 1]
            s2 += s1
            i += 2
        s1 = (s1 & 0xFFFF) + (s1 >> 16)
        s2 = (s2 & 0xFFFF) + (s2 >> 16)
    if len(data) & 1:
        s1 += data[-1] << 8
        s2 += s1
    for _ in range(2):
        s1 = (s1 & 0xFFFF) + (s1 >> 16)
        s2 = (s2 & 0xFFFF) + (s2 >> 16)
    return ((s2 << 16) | s1) & 0xFFFFFFFF


# --- header ------------------------------------------------------------------
class _Header:
    __slots__ = (
        "version",
        "checksum",
        "n_rows",
        "n_cols",
        "n_depth",
        "num_valid",
        "micro_block",
        "blob_size",
        "dtype",
        "max_z_error",
        "z_min",
        "z_max",
        "n_blobs_more",
        "header_end",
    )


def _parse_header(buf: bytes, base: int) -> _Header:
    if buf[base : base + 6] != FILE_KEY:
        raise LercError("not a Lerc2 blob (bad file key)")
    h = _Header()
    pos = base + 6
    (h.version,) = struct.unpack_from("<i", buf, pos)
    pos += 4
    if not 2 <= h.version <= 6:
        raise LercError(f"unsupported Lerc2 version {h.version}")
    h.checksum = None
    if h.version >= 3:
        (h.checksum,) = struct.unpack_from("<I", buf, pos)
        pos += 4
    h.n_depth = 1
    (h.n_rows, h.n_cols) = struct.unpack_from("<2i", buf, pos)
    pos += 8
    if h.version >= 4:
        (h.n_depth,) = struct.unpack_from("<i", buf, pos)
        pos += 4
    (h.num_valid, h.micro_block, h.blob_size, dt) = struct.unpack_from("<4i", buf, pos)
    pos += 16
    h.n_blobs_more = 0
    if h.version >= 6:
        # two extra words: nBlobsMore + flag bytes (byte @+1 set when the
        # encoder was handed noData values — liblerc folds them into the
        # mask, so nothing further to read)
        (h.n_blobs_more, _flags) = struct.unpack_from("<2i", buf, pos)
        pos += 8
    (h.max_z_error, h.z_min, h.z_max) = struct.unpack_from("<3d", buf, pos)
    pos += 24
    if h.version >= 6:
        # 16 reserved bytes, always zero in every liblerc-4 blob (probed
        # across dtypes, masks, noData, nDepth>1); checksum-protected, so
        # any writer that uses them will trip the explicit check here
        if buf[pos : pos + 16] != b"\x00" * 16:
            raise LercError("Lerc2 v6 reserved block is non-zero; unsupported extension")
        pos += 16
    if not (0 <= dt < len(_DTYPES)):
        raise LercError(f"bad data type id {dt}")
    h.dtype = _DTYPES[dt]
    if h.n_rows <= 0 or h.n_cols <= 0 or h.n_depth <= 0:
        raise LercError("bad dimensions")
    if h.blob_size < 0 or base + h.blob_size > len(buf):
        raise LercError("blob size exceeds buffer")
    h.header_end = pos
    if h.checksum is not None:
        want = _fletcher32(buf[base + 14 : base + h.blob_size])
        if want != h.checksum:
            raise LercError(f"Fletcher32 mismatch: stored {h.checksum:#x} computed {want:#x}")
    return h


# --- validity mask -----------------------------------------------------------
def _read_mask(buf: bytes, pos: int, h: _Header) -> tuple[np.ndarray, int]:
    npix = h.n_rows * h.n_cols
    (n_mask_bytes,) = struct.unpack_from("<i", buf, pos)
    pos += 4
    if n_mask_bytes < 0:
        raise LercError("negative mask byte count")
    if n_mask_bytes == 0:
        if h.num_valid == 0:
            return np.zeros(npix, dtype=bool), pos
        return np.ones(npix, dtype=bool), pos
    # RLE: [int16 cnt] cnt>=0 -> cnt literal bytes; cnt<0 -> next byte
    # repeated -cnt times; terminated by -32768
    end = pos + n_mask_bytes
    out = bytearray()
    while pos < end:
        (cnt,) = struct.unpack_from("<h", buf, pos)
        pos += 2
        if cnt == -32768:
            break
        if cnt >= 0:
            out += buf[pos : pos + cnt]
            pos += cnt
        else:
            out += buf[pos : pos + 1] * (-cnt)
            pos += 1
    else:
        raise LercError("mask RLE missing terminator")
    bits = np.unpackbits(np.frombuffer(bytes(out), dtype=np.uint8))  # MSB-first
    if bits.size < npix:
        raise LercError("mask RLE too short")
    return bits[:npix].astype(bool), end


# --- bit unstuffing ----------------------------------------------------------
def _unstuff_lsb(buf: bytes, pos: int, n: int, nbits: int) -> tuple[np.ndarray, int]:
    """v3+ BitStuffer2 payload: n values, LSB-first in a little-endian byte
    stream, tail-trimmed to ceil(n*nbits/8) bytes."""
    if nbits == 0:
        return np.zeros(n, dtype=np.uint32), pos
    nbytes = (n * nbits + 7) // 8
    chunk = buf[pos : pos + nbytes]
    if len(chunk) < nbytes:
        raise LercError("bit-stuffed payload truncated")
    big = int.from_bytes(chunk, "little")
    m = (1 << nbits) - 1
    vals = np.fromiter(
        ((big >> (i * nbits)) & m for i in range(n)), dtype=np.uint32, count=n
    )
    return vals, pos + nbytes


def _unstuff_msb_words(buf: bytes, pos: int, n: int, nbits: int) -> tuple[np.ndarray, int]:
    """v2-era BitStuffer: values packed MSB-first within consecutive uint32
    words (stored little-endian), tail bytes beyond the used bits trimmed;
    a partial final word is reassembled low-bytes-first."""
    if nbits == 0:
        return np.zeros(n, dtype=np.uint32), pos
    total_bits = n * nbits
    n_words = (total_bits + 31) // 32
    nbytes = 4 * n_words - (32 * n_words - total_bits) // 8
    chunk = buf[pos : pos + nbytes]
    if len(chunk) < nbytes:
        raise LercError("bit-stuffed payload truncated")
    big = 0
    full = nbytes // 4
    for i in range(full):
        big = (big << 32) | int.from_bytes(chunk[4 * i : 4 * i + 4], "little")
    tail = chunk[4 * full :]
    if tail:
        # a trimmed final word keeps its HIGH bytes (the stuffed bits live
        # at the word's MSB end); reassemble by left-justifying
        big = (big << 32) | (int.from_bytes(tail, "little") << (8 * (4 - len(tail))))
    m = (1 << nbits) - 1
    top = 32 * n_words
    vals = np.fromiter(
        ((big >> (top - (i + 1) * nbits)) & m for i in range(n)),
        dtype=np.uint32,
        count=n,
    )
    return vals, pos + nbytes


def _bitstuff_decode(buf: bytes, pos: int, n_expected: int, version: int) -> tuple[np.ndarray, int]:
    """Full BitStuffer2 element: numBitsByte (+LUT), count, payload.
    Returns unsigned diff values per element."""
    num_bits_byte = buf[pos]
    pos += 1
    count_code = num_bits_byte >> 6
    nb = num_bits_byte & 63
    count_width = {2: 1, 1: 2, 0: 4}.get(count_code)
    if count_width is None:
        raise LercError(f"bad count width code {count_code}")
    count = int.from_bytes(buf[pos : pos + count_width], "little")
    pos += count_width
    if count != n_expected:
        raise LercError(f"bit-stuff count {count} != expected {n_expected}")
    unstuff = _unstuff_lsb if version >= 3 else _unstuff_msb_words
    if nb >= 32:  # LUT mode: entries stuffed at nb-32 bits, sorted, implicit 0
        entry_bits = nb - 32
        n_lut = buf[pos]
        pos += 1
        if n_lut < 2:
            raise LercError("LUT with fewer than 2 entries")
        entries, pos = unstuff(buf, pos, n_lut - 1, entry_bits)
        lut = np.concatenate([[np.uint32(0)], entries.astype(np.uint32)])
        idx_bits = int(n_lut - 1).bit_length()
        idx, pos = unstuff(buf, pos, count, idx_bits)
        if int(idx.max(initial=0)) >= n_lut:
            raise LercError("LUT index out of range")
        return lut[idx], pos
    vals, pos = unstuff(buf, pos, count, nb)
    return vals, pos


# --- tile (micro-block) decoding ----------------------------------------------
_STRUCT_FMT = ["<b", "<B", "<h", "<H", "<i", "<I", "<f", "<d"]


def _offset_type_id(dt_id: int, code: int) -> int:
    """Tile offsets are stored in a reduced data type; the 2-bit code in the
    comprFlag selects how far down the per-dtype ladder (empirically:
    short/int subtract code, ushort/uint subtract 2*code, float ->
    [float, short, char], double -> [double, float, short, char])."""
    if code == 0:
        return dt_id
    if dt_id in (0, 1):  # char/uchar never shorten
        reduced = dt_id
    elif dt_id in (2, 4):  # short, int
        reduced = dt_id - code
    elif dt_id in (3, 5):  # ushort, uint
        reduced = dt_id - 2 * code
    elif dt_id == 6:  # float
        reduced = (6, 2, 0)[code] if code < 3 else -1
    else:  # double
        reduced = (7, 6, 4, 2)[code]
    if reduced < 0:
        raise LercError(f"bad offset reduction code {code} for dtype id {dt_id}")
    return reduced


def _read_offset(buf: bytes, pos: int, dtype: np.dtype, code: int) -> tuple[float, int]:
    fmt = _STRUCT_FMT[_offset_type_id(_DT_ID[dtype], code)]
    (val,) = struct.unpack_from(fmt, buf, pos)
    return float(val), pos + struct.calcsize(fmt)


def _decode_tiles(
    buf: bytes,
    pos: int,
    h: _Header,
    valid2d: np.ndarray,
    inv_scale: float,
    z_max: float,
) -> tuple[np.ndarray, int]:
    """Micro-block grid decode for one band, nDepth==1.  Returns float64
    work image (h*w,), masked pixels zero."""
    rows, cols, mb = h.n_rows, h.n_cols, h.micro_block
    out = np.zeros(rows * cols, dtype=np.float64)
    is_float = h.dtype.kind == "f"
    for r0 in range(0, rows, mb):
        r1 = min(r0 + mb, rows)
        for c0 in range(0, cols, mb):
            c1 = min(c0 + mb, cols)
            block_valid = valid2d[r0:r1, c0:c1]
            n_valid = int(block_valid.sum())
            compr = buf[pos]
            pos += 1
            low2 = compr & 3
            code = compr >> 6
            if n_valid == 0:
                # fully-invalid block: liblerc still writes its comprFlag
                # byte (low2 == 2, test code in bits 2-5), nothing follows
                if low2 != 2:
                    raise LercError(
                        f"empty micro-block carries comprFlag {compr:#x}"
                    )
                continue
            if low2 == 2:  # all-zero diff block: every valid pixel = 0 offsetless
                vals = np.zeros(n_valid, dtype=np.float64)
            elif low2 == 3:  # constant block
                offset, pos = _read_offset(buf, pos, h.dtype, code)
                vals = np.full(n_valid, offset, dtype=np.float64)
            elif low2 == 0:  # raw dtype values for valid pixels
                nbytes = n_valid * h.dtype.itemsize
                vals = np.frombuffer(buf, dtype=h.dtype.newbyteorder("<"), count=n_valid, offset=pos).astype(np.float64)
                pos += nbytes
            else:  # bit-stuffed diffs against offset
                offset, pos = _read_offset(buf, pos, h.dtype, code)
                diffs, pos = _bitstuff_decode(buf, pos, n_valid, h.version)
                vals = offset + diffs.astype(np.float64) * inv_scale
                if is_float or inv_scale != 1.0:
                    np.minimum(vals, z_max, out=vals)
            # scatter into block row-major over valid pixels
            idx = (
                np.repeat(np.arange(r0, r1) * cols, c1 - c0)
                + np.tile(np.arange(c0, c1), r1 - r0)
            )
            out[idx[block_valid.ravel()]] = vals
    return out, pos


# --- lossless float (v6: byte-plane sections) ----------------------------------
def _decode_byte_rle(buf: bytes, pos: int, end: int, n: int) -> bytes:
    """Per-plane byte RLE: [L][v] with L>=0x80 -> (L-0x80+2) copies of v;
    [L][L+1 literal bytes] with L<0x80."""
    out = bytearray()
    while pos < end and len(out) < n:
        L = buf[pos]
        pos += 1
        if L >= 0x80:
            out += buf[pos : pos + 1] * (L - 0x80 + 2)
            pos += 1
        else:
            out += buf[pos : pos + L + 1]
            pos += L + 1
    if len(out) != n or pos != end:
        raise LercError("byte-plane RLE length mismatch")
    return bytes(out)


def _decode_huffman_plane(buf: bytes, pos: int, end: int, n: int, version: int) -> np.ndarray:
    table, pos = _read_huffman_table(buf, pos, version)
    max_len = max(ln for ln, _ in table) if table else 0
    rdr = _WordBitReader(buf, pos)
    out = np.empty(n, dtype=np.uint8)
    get = table.get
    for i in range(n):
        ln, code = 0, 0
        while True:
            code = (code << 1) | rdr.read_bits(1)
            ln += 1
            sym = get((ln, code))
            if sym is not None:
                break
            if ln > max_len:
                raise LercError("Huffman plane stream desync")
        out[i] = sym
    if pos + rdr.bytes_consumed() > end:
        raise LercError("Huffman plane overran section")
    return out


def _decode_lossless_float(
    buf: bytes, pos: int, h: _Header, valid2d: np.ndarray
) -> tuple[np.ndarray, int]:
    """Lerc2 v6 lossless float/double: ALL pixels' IEEE bit patterns are
    split into little-endian byte planes; each plane section is constant
    (1), raw (2), byte-RLE (3) or Huffman-coded (0).  Transform 1 stores,
    per image row, the raw bit pattern at the row start and then
    ``cur_bits - prev_bits`` (mod 2^width) per pixel, split into planes
    AFTER the scalar delta."""
    if buf[pos] != 3:  # constant: 4 byte-planes per 32-bit word, minus one
        raise LercError(f"unexpected plane-group byte {buf[pos]}")
    transform = buf[pos + 1]
    pos += 2
    if transform not in (0, 1, 2):
        raise LercError(f"unknown float-plane transform {transform}")
    n_planes = h.dtype.itemsize  # one byte-plane section per value byte
    npix = h.n_rows * h.n_cols
    planes = []
    for p in range(n_planes):
        (idx,) = struct.unpack_from("<H", buf, pos)
        (sec_len,) = struct.unpack_from("<i", buf, pos + 2)
        pos += 6
        end = pos + sec_len
        if idx != p:
            raise LercError(f"plane index {idx} out of order (expected {p})")
        method = buf[pos]
        if method == 1:
            value = buf[pos + 1]
            (count,) = struct.unpack_from("<i", buf, pos + 2)
            if count != npix or pos + 6 != end:
                raise LercError("constant plane count mismatch")
            plane = np.full(npix, value, dtype=np.uint8)
        elif method == 2:
            if pos + 1 + npix != end:
                raise LercError("raw plane length mismatch")
            plane = np.frombuffer(buf, dtype=np.uint8, count=npix, offset=pos + 1).copy()
        elif method == 3:
            plane = np.frombuffer(
                bytearray(_decode_byte_rle(buf, pos + 1, end, npix)), dtype=np.uint8
            )
        elif method == 0:
            plane = _decode_huffman_plane(buf, pos + 1, end, npix, h.version)
        else:
            raise LercError(f"unknown plane method {method}")
        planes.append(plane)
        pos = end
    uint_t = np.dtype(f"<u{h.dtype.itemsize}")
    # float32 planes hold a remapped word u = exp<<24 | sign<<23 | mantissa
    # (sign and exponent swapped vs IEEE so the exponent owns a whole
    # plane); float64 planes hold the raw IEEE bit layout
    wide = np.zeros(npix, dtype=np.uint64)
    for p, plane in enumerate(planes):
        wide |= plane.astype(np.uint64) << np.uint64(8 * p)
    mant_bits, exp_bits = (23, 8) if h.dtype.itemsize == 4 else (52, 11)
    m = wide & np.uint64((1 << mant_bits) - 1)
    upper = wide >> np.uint64(mant_bits)  # sign+exponent as ONE field
    if transform in (1, 2):
        # Deltas replay as two independent modular chains: the top
        # (exp_bits+1)-bit field and the mantissa, each cur = prev + delta
        # mod its width.  Transform 1: every row chains horizontally from a
        # raw col-0 seed.  Transform 2: column 0 chains vertically, then
        # each row chains horizontally from its col-0 value.
        u2 = upper.reshape(h.n_rows, h.n_cols)
        m2 = m.reshape(h.n_rows, h.n_cols)
        np.cumsum(u2, axis=1, out=u2)
        np.cumsum(m2, axis=1, out=m2)
        if transform == 2:
            # 2-D second difference: stored = cur - left - above + diag;
            # the horizontal cumsum above leaves per-column vertical deltas,
            # a vertical cumsum replays them
            u2 &= np.uint64((1 << (exp_bits + 1)) - 1)
            m2 &= np.uint64((1 << mant_bits) - 1)
            np.cumsum(u2, axis=0, out=u2)
            np.cumsum(m2, axis=0, out=m2)
        u2 &= np.uint64((1 << (exp_bits + 1)) - 1)
        m2 &= np.uint64((1 << mant_bits) - 1)
    if h.dtype.itemsize == 4:
        # float32 planes carry u = exp<<1 | sign in the upper field; undo
        s = upper & np.uint64(1)
        e = upper >> np.uint64(1)
        bits = ((s << np.uint64(31)) | (e << np.uint64(23)) | m).astype(uint_t)
    else:
        bits = ((upper << np.uint64(52)) | m).astype(uint_t)
    out = bits.view(h.dtype.newbyteorder("<")).copy()
    out[~valid2d.ravel()] = 0
    return out, pos


# --- Huffman (8-bit bands, v>=4) ----------------------------------------------
class _WordBitReader:
    """MSB-first bit reader over little-endian uint32 words."""

    __slots__ = ("buf", "base", "bitpos")

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.base = pos
        self.bitpos = 0

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            bp = self.bitpos
            word_off = self.base + 4 * (bp >> 5)
            word = int.from_bytes(self.buf[word_off : word_off + 4].ljust(4, b"\x00"), "little")
            v = (v << 1) | ((word >> (31 - (bp & 31))) & 1)
            self.bitpos = bp + 1
        return v

    def bytes_consumed(self) -> int:
        return 4 * ((self.bitpos + 31) // 32)


def _read_huffman_table(buf: bytes, pos: int, version: int):
    (tbl_ver, size, i0, i1) = struct.unpack_from("<4i", buf, pos)
    pos += 16
    if tbl_ver not in (2, 3, 4):
        raise LercError(f"bad Huffman table version {tbl_ver}")
    if size <= 0 or size > 1 << 16:
        raise LercError("bad Huffman alphabet size")
    n_sym = i1 - i0
    if n_sym <= 0:
        n_sym += size
    if n_sym <= 0 or n_sym > size:
        raise LercError("bad Huffman symbol range")
    lengths, pos = _bitstuff_decode_lengths(buf, pos, n_sym, version)
    rdr = _WordBitReader(buf, pos)
    table: dict[tuple[int, int], int] = {}
    for k in range(n_sym):
        ln = int(lengths[k])
        if ln == 0:
            continue
        if ln > 32:
            raise LercError("Huffman code too long")
        code = rdr.read_bits(ln)
        table[(ln, code)] = (i0 + k) % size
    pos += rdr.bytes_consumed()
    return table, pos


def _bitstuff_decode_lengths(buf: bytes, pos: int, n: int, version: int):
    """Lengths use a plain BitStuffer2 element (never LUT)."""
    num_bits_byte = buf[pos]
    pos += 1
    count_code = num_bits_byte >> 6
    nb = num_bits_byte & 63
    if nb >= 32:
        raise LercError("LUT-mode lengths not expected")
    count_width = {2: 1, 1: 2, 0: 4}.get(count_code)
    if count_width is None:
        raise LercError(f"bad count width code {count_code}")
    count = int.from_bytes(buf[pos : pos + count_width], "little")
    pos += count_width
    if count != n:
        raise LercError(f"Huffman length count {count} != {n}")
    unstuff = _unstuff_lsb if version >= 3 else _unstuff_msb_words
    return unstuff(buf, pos, n, nb)


def _decode_huffman(
    buf: bytes, pos: int, h: _Header, valid2d: np.ndarray, delta: bool
) -> tuple[np.ndarray, int]:
    table, pos = _read_huffman_table(buf, pos, h.version)
    max_len = max(ln for ln, _ in table) if table else 0
    rdr = _WordBitReader(buf, pos)
    rows, cols = h.n_rows, h.n_cols
    # signed bytes are biased by +128 so Huffman symbols stay non-negative
    bias = 128 if h.dtype.kind == "i" else 0
    out = np.zeros(rows * cols, dtype=np.uint8)
    last = 0  # most recently decoded value, any position
    for r in range(rows):
        row_valid = valid2d[r]
        for c in range(cols):
            if not row_valid[c]:
                continue
            ln, code = 0, 0
            while True:
                code = (code << 1) | rdr.read_bits(1)
                ln += 1
                sym = table.get((ln, code))
                if sym is not None:
                    break
                if ln > max_len:
                    raise LercError("Huffman stream desync")
            if delta:
                # base priority: valid left neighbor, else valid pixel above,
                # else the last decoded value (0 before any)
                if c > 0 and row_valid[c - 1]:
                    base = int(out[r * cols + c - 1])
                elif r > 0 and valid2d[r - 1, c]:
                    base = int(out[(r - 1) * cols + c])
                else:
                    base = last
                val = (base + sym - bias) & 0xFF
            else:
                val = (sym - bias) & 0xFF
            out[r * cols + c] = val
            last = val
    pos += rdr.bytes_consumed()
    return out, pos


# --- band + blob decode --------------------------------------------------------
def _decode_band(buf: bytes, pos: int, h: _Header, valid: np.ndarray) -> tuple[np.ndarray, int]:
    """One band's data section (after mask).  nDepth==1 path."""
    rows, cols = h.n_rows, h.n_cols
    dtype = h.dtype
    npix = rows * cols
    valid2d = valid.reshape(rows, cols)
    n_valid = int(valid.sum())
    if n_valid == 0:
        return np.zeros(npix, dtype=dtype), pos

    if h.z_min == h.z_max:
        # constant band: liblerc writes NO data section at all (any version)
        out = np.zeros(npix, dtype=dtype)
        out[valid] = np.asarray(h.z_min).astype(dtype)
        return out, pos

    if h.version >= 4:
        mins = np.frombuffer(buf, dtype=dtype.newbyteorder("<"), count=h.n_depth, offset=pos)
        pos += h.n_depth * dtype.itemsize
        maxs = np.frombuffer(buf, dtype=dtype.newbyteorder("<"), count=h.n_depth, offset=pos)
        pos += h.n_depth * dtype.itemsize
        if h.n_depth == 1 and mins[0] == maxs[0]:
            out = np.zeros(npix, dtype=dtype)
            out[valid] = mins[0]
            return out, pos

    if h.n_depth != 1:
        raise LercError(
            f"nDepth={h.n_depth} tile decoding not supported by the pure "
            "decoder (liblerc fast path handles it when present)"
        )

    one_sweep = buf[pos]
    pos += 1
    if one_sweep == 1:
        vals = np.frombuffer(buf, dtype=dtype.newbyteorder("<"), count=n_valid, offset=pos)
        pos += n_valid * dtype.itemsize
        out = np.zeros(npix, dtype=dtype)
        out[valid] = vals
        return out, pos

    if dtype.kind == "f" and h.max_z_error == 0 and h.version >= 6:
        out, pos = _decode_lossless_float(buf, pos, h, valid2d)
        return out, pos

    mode = 0
    if dtype.itemsize == 1 and h.max_z_error <= 0.5:
        # 8-bit bands carry a Huffman-mode byte in every Lerc2 version
        mode = buf[pos]
        pos += 1
    if mode in (1, 2):
        raw, pos = _decode_huffman(buf, pos, h, valid2d, delta=(mode == 1))
        out = raw.view(dtype).copy()
        out[~valid] = 0
        return out.reshape(npix), pos
    if mode != 0:
        raise LercError(f"bad image encode mode {mode}")

    inv_scale = 2.0 * h.max_z_error if h.max_z_error > 0 else 1.0
    if dtype.kind in "iu" and h.max_z_error <= 0.5:
        inv_scale = 1.0
    work, pos = _decode_tiles(buf, pos, h, valid2d, inv_scale, h.z_max)
    if dtype.kind == "f":
        out = work.astype(dtype)
    else:
        info = np.iinfo(dtype)
        out = np.clip(np.round(work), info.min, info.max).astype(dtype)
    out[~valid] = 0
    return out, pos


def unwrap_additional_compression(payload: bytes, expected_raw: int) -> bytes:
    """GDAL's TIFF LERC codec can wrap the whole Lerc2 blob in deflate or
    zstd (LERC_PARAMETERS[1] = 1/2); the three framings are unambiguous,
    so sniff instead of plumbing the tag.  ``expected_raw`` bounds the
    zstd fast-path allocation (decoded raster bytes; the blob is smaller
    than ~4x that)."""
    if payload[:6] == FILE_KEY:
        return payload
    if payload[:4] == b"\x28\xb5\x2f\xfd":  # zstd frame magic
        from rasteret_spark.format import zstd as _zstdmod

        return _zstdmod.decompress_fast(payload, expected=4 * expected_raw)
    import zlib

    return zlib.decompress(payload)


def decode_blob(buf: bytes, base: int = 0):
    """Decode ONE Lerc2 band blob starting at ``base``.

    Returns (array[h, w], valid_mask[h, w], header, next_pos).
    """
    h = _parse_header(buf, base)
    valid, pos = _read_mask(buf, h.header_end, h)
    band, pos = _decode_band(buf, pos, h, valid)
    end = base + h.blob_size
    if pos > end:
        raise LercError(f"band decode overran blob ({pos} > {end})")
    return (
        band.reshape(h.n_rows, h.n_cols),
        valid.reshape(h.n_rows, h.n_cols),
        h,
        end,
    )


def decode(buf: bytes):
    """Decode a full LERC byte stream (1..n concatenated band blobs, as
    liblerc writes multi-band data).

    Returns (bands, valid) where bands is (n_bands, h, w) in the blob's
    dtype and valid is (n_bands, h, w) bool.
    """
    bands = []
    valids = []
    pos = 0
    while pos < len(buf) and buf[pos : pos + 6] == FILE_KEY:
        band, valid, h, pos = decode_blob(buf, pos)
        bands.append(band)
        valids.append(valid)
    if not bands:
        raise LercError("no Lerc2 blobs in buffer")
    if pos != len(buf):
        tail = buf[pos:]
        if tail.strip(b"\x00"):
            raise LercError(f"{len(tail)} undecoded trailing bytes")
    return np.stack(bands), np.stack(valids)


# --- encoder -------------------------------------------------------------------
def _rle_mask(valid: np.ndarray) -> bytes:
    packed = np.packbits(valid.astype(np.uint8))  # MSB-first, matches reader
    raw = packed.tobytes()
    out = bytearray()
    i = 0
    while i < len(raw):
        # find run of identical bytes
        j = i
        while j < len(raw) and raw[j] == raw[i] and j - i < 32767:
            j += 1
        if j - i >= 4:
            out += struct.pack("<h", -(j - i)) + raw[i : i + 1]
            i = j
        else:
            # literal run until next long repeat
            k = i
            while k < len(raw) and k - i < 32767:
                r = k
                while r < len(raw) and raw[r] == raw[k]:
                    r += 1
                if r - k >= 4:
                    break
                k = r
            out += struct.pack("<h", k - i) + raw[i:k]
            i = k
    out += struct.pack("<h", -32768)
    return bytes(out)


def _stuff_lsb(vals: np.ndarray, nbits: int) -> bytes:
    n = len(vals)
    big = 0
    for i in range(n - 1, -1, -1):
        big = (big << nbits) | int(vals[i])
    return big.to_bytes((n * nbits + 7) // 8, "little")


def _encode_band(
    arr: np.ndarray, valid: np.ndarray, mb: int, max_z_error: float = 0.0
) -> tuple[bytes, float]:
    """Data section for one band: per-depth min/max + micro-block tiles
    (constant / bit-stuffed / raw), or one-sweep when tiling can't win.
    Returns (bytes, declared_max_z) — the maxZError the header must carry
    (0.5 for integer-step tiles, like liblerc; the caller's value for
    lossy quantization; 0 for one-sweep raw floats)."""
    dtype = arr.dtype
    rows, cols = arr.shape
    vals = arr[valid]
    vmin, vmax = vals.min(), vals.max()
    out = bytearray()
    out += np.asarray([vmin], dtype=dtype.newbyteorder("<")).tobytes()
    out += np.asarray([vmax], dtype=dtype.newbyteorder("<")).tobytes()
    lossless_default = 0.5 if dtype.kind in "iu" else 0.0
    if vmin == vmax:
        return bytes(out), lossless_default

    if max_z_error > 0:
        # lossy quantized tiles: step = 2*maxZError, like liblerc.  Fall
        # back to lossless if the quantized range would blow the bit budget.
        step = 2.0 * float(max_z_error)
        if (float(vmax) - float(vmin)) / step < 2**28:
            out += b"\x00"  # not one-sweep
            if dtype.itemsize == 1 and max_z_error <= 0.5:
                # readers look for the Huffman-mode byte only when the
                # declared maxZError keeps 8-bit data in the lossless regime
                out += b"\x00"
            out += _encode_tiles(arr, valid, mb, dtype, step)
            return bytes(out), float(max_z_error)

    integral = dtype.kind in "iu" or bool(np.all(vals == np.floor(vals)))
    if not integral or (dtype.kind == "f" and (vmax - vmin) >= 2**31):
        out += b"\x01"  # one-sweep raw
        out += np.ascontiguousarray(vals, dtype=dtype.newbyteorder("<")).tobytes()
        return bytes(out), lossless_default

    out += b"\x00"  # not one-sweep
    if dtype.itemsize == 1:
        out += b"\x00"  # image encode mode: tiling
    out += _encode_tiles(arr, valid, mb, dtype, 1.0)
    return bytes(out), 0.5


def _encode_tiles(
    arr: np.ndarray, valid: np.ndarray, mb: int, dtype: np.dtype, step: float
) -> bytes:
    """Micro-block tile stream: per block constant / bit-stuffed quantized
    diffs (``q = round((v - blockmin)/step)``) / raw fallback."""
    rows, cols = arr.shape
    body = bytearray()
    for r0 in range(0, rows, mb):
        r1 = min(r0 + mb, rows)
        for cb, c0 in enumerate(range(0, cols, mb)):
            c1 = min(c0 + mb, cols)
            bv = valid[r0:r1, c0:c1]
            n_valid = int(bv.sum())
            # liblerc's reader verifies an integrity code in comprFlag
            # bits 2-5: the column-block index with its LSB dropped
            test_code = (cb & 14) << 2
            if n_valid == 0:
                # fully-invalid block still carries its comprFlag byte
                body.append(2 | test_code)
                continue
            bvals = arr[r0:r1, c0:c1][bv]
            bmin, bmax = bvals.min(), bvals.max()
            q = None
            if bmin != bmax:
                q = np.round((bvals.astype(np.float64) - float(bmin)) / step)
            if q is None or q.max() == 0:
                # constant block (for lossy, every value within maxZError
                # of the block min — reconstructing bmin stays in tolerance)
                body.append(3 | test_code)
                body += np.asarray([bmin], dtype=dtype.newbyteorder("<")).tobytes()
                continue
            nbits = int(q.max()).bit_length()
            if nbits >= min(dtype.itemsize * 8, 31):
                body.append(0 | test_code)  # raw block
                body += np.ascontiguousarray(bvals, dtype=dtype.newbyteorder("<")).tobytes()
                continue
            body.append(1 | test_code)  # bit-stuffed, full-width offset
            body += np.asarray([bmin], dtype=dtype.newbyteorder("<")).tobytes()
            body.append((2 << 6) | nbits)  # 1-byte count
            body.append(n_valid)
            body += _stuff_lsb(q.astype(np.uint32), nbits)
    return bytes(body)


def encode(
    arr: np.ndarray, valid: np.ndarray | None = None, max_z_error: float = 0.0
) -> bytes:
    """Encode (h, w) or (bands, h, w) as version-6 LERC2 blobs (one blob
    per band, concatenated — liblerc's own multi-band layout).  Lossless
    by default; ``max_z_error > 0`` quantizes tiles with step
    ``2*max_z_error`` (GDAL's MAX_Z_ERROR semantics).  Deterministic:
    same input -> same bytes."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[None]
    if a.ndim != 3:
        raise LercError(f"expected 2-D or 3-D array, got shape {a.shape}")
    if a.dtype not in _DT_ID:
        raise LercError(f"unsupported dtype {a.dtype}")
    n_bands, rows, cols = a.shape
    if valid is None:
        valid = np.ones((rows, cols), dtype=bool)
    valid = np.asarray(valid, dtype=bool).reshape(rows, cols)
    num_valid = int(valid.sum())
    mb = 8
    if num_valid == rows * cols:
        mask_sec = b"\x00\x00\x00\x00"
    else:  # identical for every band: compute the RLE once
        rle = _rle_mask(valid)
        mask_sec = struct.pack("<i", len(rle)) + rle
    blobs = []
    for b in range(n_bands):
        band = a[b]
        if num_valid:
            vals = band[valid].astype(np.float64)
            z_min, z_max = float(vals.min()), float(vals.max())
        else:
            z_min = z_max = 0.0
        if num_valid == 0:
            data_sec, declared_z = b"", (0.5 if a.dtype.kind in "iu" else 0.0)
        else:
            data_sec, declared_z = _encode_band(band, valid, mb, max_z_error)
        # header: sizes need blob_size, so assemble then patch; every blob
        # counts the blobs still to come (liblerc counts down per band)
        n_more = n_bands - 1 - b
        head = bytearray()
        head += FILE_KEY
        head += struct.pack("<i", 6)
        head += b"\x00\x00\x00\x00"  # checksum placeholder
        head += struct.pack("<7i", rows, cols, 1, num_valid, mb, 0, _DT_ID[a.dtype])
        head += struct.pack("<2i", n_more, 0)
        head += struct.pack("<3d", declared_z, z_min, z_max)
        head += b"\x00" * 16
        blob = bytearray(head + mask_sec + data_sec)
        struct.pack_into("<i", blob, 34, len(blob))  # blobSize
        struct.pack_into("<I", blob, 10, _fletcher32(bytes(blob[14:])))
        blobs.append(bytes(blob))
    return b"".join(blobs)


# --- liblerc (ctypes) fast path --------------------------------------------------
_LIB = None
_LIB_TRIED = False


def _liblerc():
    global _LIB, _LIB_TRIED
    if not _LIB_TRIED:
        _LIB_TRIED = True
        name = ctypes.util.find_library("Lerc") or ctypes.util.find_library("lerc")
        if name:
            try:
                lib = ctypes.CDLL(name)
                lib.lerc_decode.restype = ctypes.c_uint
                lib.lerc_decode.argtypes = [
                    ctypes.c_char_p, ctypes.c_uint, ctypes.c_int, ctypes.c_char_p,
                    ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                    ctypes.c_uint, ctypes.c_void_p,
                ]
                lib.lerc_getBlobInfo.restype = ctypes.c_uint
                lib.lerc_getBlobInfo.argtypes = [
                    ctypes.c_char_p, ctypes.c_uint,
                    ctypes.POINTER(ctypes.c_uint), ctypes.POINTER(ctypes.c_double),
                    ctypes.c_int, ctypes.c_int,
                ]
                lib.lerc_encode.restype = ctypes.c_uint
                lib.lerc_encode.argtypes = [
                    ctypes.c_void_p, ctypes.c_uint, ctypes.c_int, ctypes.c_int,
                    ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_char_p,
                    ctypes.c_double, ctypes.c_char_p, ctypes.c_uint,
                    ctypes.POINTER(ctypes.c_uint),
                ]
                _LIB = lib
            except OSError:
                _LIB = None
    return _LIB


def decode_fast(buf: bytes):
    """liblerc-backed decode when the shared library is present; falls back
    to the pure decoder.  Same return shape as :func:`decode`."""
    lib = _liblerc()
    if lib is None:
        return decode(buf)
    info = (ctypes.c_uint * 11)()
    ranges = (ctypes.c_double * 3)()
    st = lib.lerc_getBlobInfo(buf, len(buf), info, ranges, 11, 3)
    if st != 0:
        raise LercError(f"lerc_getBlobInfo failed: {st}")
    _ver, dt, n_depth, n_cols, n_rows, n_bands, _nvalid, _bsize, n_masks = (
        int(info[i]) for i in range(9)
    )
    dtype = _DTYPES[dt]
    if n_depth != 1:
        out = np.empty((n_bands, n_rows, n_cols, n_depth), dtype=dtype)
    else:
        out = np.empty((n_bands, n_rows, n_cols), dtype=dtype)
    n_masks = max(n_masks, 1)
    mask = np.empty((n_masks, n_rows, n_cols), dtype=np.uint8)
    st = lib.lerc_decode(
        buf, len(buf), n_masks, mask.ctypes.data_as(ctypes.c_char_p),
        n_depth, n_cols, n_rows, n_bands, dt, out.ctypes.data_as(ctypes.c_void_p),
    )
    if st != 0:
        raise LercError(f"lerc_decode failed: {st}")
    valid = mask.astype(bool)
    if valid.shape[0] != n_bands:
        valid = np.broadcast_to(valid[:1], (n_bands, n_rows, n_cols)).copy()
    return out, valid
