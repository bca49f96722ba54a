"""Mini-raster container: a tiled, compressed, georeferenced binary format.

Plays the role of a Cloud-Optimized GeoTIFF for this engine: a small parseable
header up front (magic -> header length -> fixed fields -> tile offset /
byte-count tables) followed by independently-decodable tile payloads.  The
layout intentionally mirrors what the reference engine extracts from real COG
headers — dims, tile grid, dtype, affine transform, compression/predictor,
``tile_offsets`` + ``tile_byte_counts``, nodata (rasteret ``CogMetadata``,
`src/rasteret/types.py:77-159`; progressive header reads
`src/rasteret/fetch/header_parser.py:276-300`) — so that header-cache
enrichment and byte-range tile-window reads are exercised for real, without
GDAL and without copying any reference code.

Everything here is pure numpy + stdlib, safe to run inside Arrow-batched UDFs.

Layout v2 (little-endian):

    0   4  magic  b"MRST"
    4   4  header_len       u32   total header bytes incl. tile tables
    8   1  version          u8    (=2)
    9   1  dtype_code       u8    index into codecs.DTYPES
    10  1  compression      u8    codecs.COMP_*
    11  1  predictor        u8    1 none / 2 horizontal / 3 float-shuffle
    12  4  width            u32
    16  4  height           u32
    20  2  tile_w           u16
    22  2  tile_h           u16
    24  2  n_bands          u16   planar band count
    26  1  nodata_flag      u8
    27  8  nodata           f64
    35  8  qstep            f64   quantization step for lossy tiles
    43  48 transform        6xf64 (a,b,c,d,e,f): x=a*col+c, y=e*row+f (b=d=0)
    91  4  epsg             u32
    95  4  n_tiles          u32   total = tiles_x * tiles_y * n_bands
    99  8n tile_offsets     u64[n]  absolute into the blob
    ..  8n tile_byte_counts u64[n]

Bands are PLANAR, band-major: tile index = (band * tiles_y + ty) * tiles_x
+ tx — the same per-band planar slicing the reference performs on its tile
tables (`src/rasteret/ingest/enrich.py:36-93`), so a one-band read touches a
contiguous run of the offset table and never fetches other bands' tiles.

Edge tiles are stored padded to full (tile_h, tile_w), TIFF-style; the window
reader crops them (edge handling parity with `src/rasteret/fetch/cog.py:1378-1398`).
"""

from __future__ import annotations

from dataclasses import dataclass, asdict

import numpy as np

from rasteret_spark.format import codecs

MAGIC = b"MRST"
HEADER_FIXED = 99
HEADER_FIXED_V1 = 97  # v1 had no n_bands field (nodata_flag at 24, 2 bytes earlier)
VERSION = 2


@dataclass
class MiniRasterMeta:
    """Parsed header — the per-image 'CogMetadata' struct cached by enrichment."""

    width: int
    height: int
    tile_w: int
    tile_h: int
    dtype_code: int
    compression: int
    predictor: int
    nodata: float | None
    qstep: float
    transform: tuple[float, float, float, float, float, float]
    epsg: int
    tile_offsets: np.ndarray  # u64[n_tiles]
    tile_byte_counts: np.ndarray  # u64[n_tiles]
    header_len: int
    n_bands: int = 1
    # container provenance: the same meta struct also describes tiled/stripped
    # GeoTIFFs parsed by format/tiff.py (mapped onto engine codec/dtype ids).
    # byte_order qualifies the SAMPLE bytes ("<" LE, ">" BE/Motorola) — the
    # dtype property carries it so every downstream decode is order-correct.
    container: str = "miniraster"
    byte_order: str = "<"
    # TIFF tag 347 content for abbreviated JPEG tile streams (None for
    # self-contained streams and every non-JPEG codec)
    jpeg_tables: bytes | None = None

    @property
    def tiles_x(self) -> int:
        return -(-self.width // self.tile_w)

    @property
    def tiles_y(self) -> int:
        return -(-self.height // self.tile_h)

    @property
    def tiles_per_band(self) -> int:
        return self.tiles_x * self.tiles_y

    def tile_index(self, band: int, ty: int, tx: int) -> int:
        """Planar band-major tile index (reference planar-slicing order,
        `src/rasteret/ingest/enrich.py:36-93`)."""
        return (band * self.tiles_y + ty) * self.tiles_x + tx

    @property
    def dtype(self) -> np.dtype:
        d = codecs.CODE_DTYPE[self.dtype_code]
        return d.newbyteorder(">") if self.byte_order == ">" else d

    def to_row(self) -> dict:
        d = asdict(self)
        d["tile_offsets"] = [int(v) for v in self.tile_offsets]
        d["tile_byte_counts"] = [int(v) for v in self.tile_byte_counts]
        d["transform"] = list(self.transform)
        return d

    @classmethod
    def from_row(cls, d: dict) -> "MiniRasterMeta":
        return cls(
            width=int(d["width"]),
            height=int(d["height"]),
            tile_w=int(d["tile_w"]),
            tile_h=int(d["tile_h"]),
            dtype_code=int(d["dtype_code"]),
            compression=int(d["compression"]),
            predictor=int(d["predictor"]),
            nodata=None
            if d.get("nodata") is None
            or (isinstance(d["nodata"], float) and np.isnan(d["nodata"]))
            else float(d["nodata"]),
            qstep=float(d["qstep"]),
            transform=tuple(float(v) for v in d["transform"]),
            epsg=int(d["epsg"]),
            tile_offsets=np.asarray(d["tile_offsets"], dtype=np.uint64),
            tile_byte_counts=np.asarray(d["tile_byte_counts"], dtype=np.uint64),
            header_len=int(d["header_len"]),
            n_bands=int(d.get("n_bands", 1) or 1),
            container=str(d.get("container") or "miniraster"),
            byte_order=str(d.get("byte_order") or "<"),
            jpeg_tables=None
            if d.get("jpeg_tables") is None
            else bytes(d["jpeg_tables"]),
        )


# -----------------------------------------------------------------------------
def encode_image(
    arr: np.ndarray,
    tile_w: int = 64,
    tile_h: int = 64,
    compression: int = codecs.COMP_DEFLATE,
    predictor: int = codecs.PRED_NONE,
    transform: tuple[float, ...] = (1.0, 0.0, 0.0, 0.0, -1.0, 0.0),
    epsg: int = 4326,
    nodata: float | None = None,
    qstep: float = 1.0,
) -> bytes:
    """Encode a 2-D (h, w) or planar 3-D (bands, h, w) array into a
    mini-raster blob.  Tiles are stored band-major planar."""
    if arr.ndim == 2:
        arr = arr[None, :, :]
    assert arr.ndim == 3, "expected (h, w) or (bands, h, w)"
    n_bands, h, w = arr.shape
    dtype_code = codecs.DTYPE_CODE[arr.dtype.name]
    tiles_x = -(-w // tile_w)
    tiles_y = -(-h // tile_h)
    n_tiles = tiles_x * tiles_y * n_bands
    header_len = HEADER_FIXED + 16 * n_tiles

    payloads: list[bytes] = []
    for band in range(n_bands):
        for ty in range(tiles_y):
            for tx in range(tiles_x):
                tile = np.zeros((tile_h, tile_w), dtype=arr.dtype)
                ys, xs = ty * tile_h, tx * tile_w
                sub = arr[band, ys : min(ys + tile_h, h), xs : min(xs + tile_w, w)]
                tile[: sub.shape[0], : sub.shape[1]] = sub
                payloads.append(codecs.encode_tile(tile, compression, predictor, qstep))

    offsets = np.zeros(n_tiles, dtype=np.uint64)
    counts = np.zeros(n_tiles, dtype=np.uint64)
    pos = header_len
    for i, p in enumerate(payloads):
        offsets[i] = pos
        counts[i] = len(p)
        pos += len(p)

    head = bytearray()
    head += MAGIC
    head += np.uint32(header_len).tobytes()
    head += bytes([VERSION, dtype_code, compression, predictor])
    head += np.uint32(w).tobytes() + np.uint32(h).tobytes()
    head += np.uint16(tile_w).tobytes() + np.uint16(tile_h).tobytes()
    head += np.uint16(n_bands).tobytes()
    head += bytes([0 if nodata is None else 1])
    head += np.float64(0.0 if nodata is None else nodata).tobytes()
    head += np.float64(qstep).tobytes()
    head += np.asarray(transform, dtype=np.float64).tobytes()
    head += np.uint32(epsg).tobytes()
    head += np.uint32(n_tiles).tobytes()
    head += offsets.tobytes() + counts.tobytes()
    assert len(head) == header_len
    return bytes(head) + b"".join(payloads)


class NeedBytes(ValueError):
    """A header parse ran past the end of the bytes it was given (a prefix
    or a truncated blob): callers holding only a prefix re-fetch a larger
    one (the reference's progressive header read,
    `src/rasteret/fetch/header_parser.py:276-300`); a short read is never
    parsed."""

    def __init__(self, offset: int, size: int):
        super().__init__(f"short read: need bytes [{offset}, {offset + size})")
        self.offset = offset
        self.size = size


def header_len_from_prefix(prefix: bytes) -> int:
    """First progressive read: how many bytes does the full header need?"""
    if prefix[:4] != MAGIC:
        raise ValueError("not a mini-raster blob (bad magic)")
    if len(prefix) < 8:
        raise NeedBytes(0, 8)
    return int(np.frombuffer(prefix[4:8], dtype=np.uint32)[0])


def parse_header(buf: bytes) -> MiniRasterMeta:
    """Parse a header from a prefix of the blob (>= header_len bytes).

    Reads both layout versions: v2 (multi-band, n_bands u16 at offset 24)
    and the legacy v1 (single-band; no n_bands field, every later field 2
    bytes earlier, fixed header 97 bytes) — blobs/catalogs persisted by
    earlier builds stay readable (no format break on upgrade).
    """
    header_len = header_len_from_prefix(buf)
    if len(buf) < header_len:
        raise NeedBytes(0, header_len)
    version, dtype_code, compression, predictor = buf[8], buf[9], buf[10], buf[11]
    if version not in (1, VERSION):
        raise ValueError(f"unsupported version {version}")
    w, h = np.frombuffer(buf[12:20], dtype=np.uint32)
    tile_w, tile_h = np.frombuffer(buf[20:24], dtype=np.uint16)
    if version == 1:
        n_bands, p, fixed = 1, 24, HEADER_FIXED_V1
    else:
        n_bands = int(np.frombuffer(buf[24:26], dtype=np.uint16)[0])
        p, fixed = 26, HEADER_FIXED
    nodata_flag = buf[p]
    nodata = float(np.frombuffer(buf[p + 1 : p + 9], dtype=np.float64)[0])
    qstep = float(np.frombuffer(buf[p + 9 : p + 17], dtype=np.float64)[0])
    transform = tuple(np.frombuffer(buf[p + 17 : p + 65], dtype=np.float64))
    epsg = int(np.frombuffer(buf[p + 65 : p + 69], dtype=np.uint32)[0])
    n_tiles = int(np.frombuffer(buf[p + 69 : p + 73], dtype=np.uint32)[0])
    off_end = fixed + 8 * n_tiles
    offsets = np.frombuffer(buf[fixed:off_end], dtype=np.uint64).copy()
    counts = np.frombuffer(buf[off_end : off_end + 8 * n_tiles], dtype=np.uint64).copy()
    return MiniRasterMeta(
        width=int(w),
        height=int(h),
        tile_w=int(tile_w),
        tile_h=int(tile_h),
        dtype_code=int(dtype_code),
        compression=int(compression),
        predictor=int(predictor),
        nodata=None if nodata_flag == 0 else nodata,
        qstep=qstep,
        transform=transform,
        epsg=epsg,
        tile_offsets=offsets,
        tile_byte_counts=counts,
        header_len=header_len,
        n_bands=n_bands,
    )


# --- tile-window planning (rasteret `compute_tile_indices` semantics,
#     src/rasteret/fetch/cog.py:969-1089: clamp window to grid, list
#     intersecting tiles) -------------------------------------------------------
def plan_window_tiles(
    meta: MiniRasterMeta, col_off: int, row_off: int, win_w: int, win_h: int,
    band: int = 0,
) -> list[tuple[int, int, int]]:
    """Window -> [(tile_index, tile_col, tile_row)] of intersecting tiles of
    one band (planar layout: only that band's tiles are ever touched)."""
    c0 = max(0, col_off)
    r0 = max(0, row_off)
    c1 = min(meta.width, col_off + win_w)
    r1 = min(meta.height, row_off + win_h)
    if c1 <= c0 or r1 <= r0:
        return []
    tx0, tx1 = c0 // meta.tile_w, (c1 - 1) // meta.tile_w
    ty0, ty1 = r0 // meta.tile_h, (r1 - 1) // meta.tile_h
    out = []
    for ty in range(ty0, ty1 + 1):
        for tx in range(tx0, tx1 + 1):
            out.append((meta.tile_index(band, ty, tx), tx, ty))
    return out


def coalesce_ranges(
    offsets: np.ndarray, sizes: np.ndarray, gap: int = 1024, max_per_batch: int = 20
) -> list[tuple[int, int, list[int]]]:
    """Sort byte ranges and merge neighbours with gap <= ``gap`` bytes.

    Returns [(merged_offset, merged_size, [original_indices])].  Same
    coalescing policy as the reference's ranged-GET merger
    (`src/rasteret/fetch/cog.py:724-742`: sort, merge gap<=1024, <=20 ranges).
    """
    if len(offsets) == 0:
        return []
    order = np.argsort(offsets, kind="stable")
    merged: list[tuple[int, int, list[int]]] = []
    cur_off = int(offsets[order[0]])
    cur_end = cur_off + int(sizes[order[0]])
    cur_idx = [int(order[0])]
    for oi in order[1:]:
        o, s = int(offsets[oi]), int(sizes[oi])
        if o <= cur_end + gap and len(cur_idx) < max_per_batch:
            cur_end = max(cur_end, o + s)
            cur_idx.append(int(oi))
        else:
            merged.append((cur_off, cur_end - cur_off, cur_idx))
            cur_off, cur_end, cur_idx = o, o + s, [int(oi)]
    merged.append((cur_off, cur_end - cur_off, cur_idx))
    return merged


class CachedReader:
    """The engine's window reader: a parsed header, a decoded-tile cache and
    coalesced byte-range reads of only the tiles a request touches.

    ``blob`` is anything sliceable: bytes, or a ``fetch.RangedBlob`` for
    href tables.  One instance per image inside a UDF batch lets many
    windows (multiple AOIs / many sampled points on the same image) share
    tile reads and decodes — the distributed analogue of rasteret's
    per-source tile cache in the point sampler
    (`src/rasteret/core/raster_accessor.py:519-560`).
    """

    def __init__(self, blob: bytes, meta: MiniRasterMeta | None = None):
        self.blob = blob
        if meta is None:
            from rasteret_spark.format.container import parse_any

            meta = parse_any(blob)
        self.meta = meta
        self._tiles: dict[int, np.ndarray] = {}

    def tiles(self, ids) -> list[np.ndarray]:
        """The decoded tiles of planar tile indices ``ids``, in order.  The
        uncached ones are read in one pass, one ``blob`` slice per coalesced
        range — over a ``fetch.RangedBlob`` each slice is one ranged GET
        (`src/rasteret/fetch/cog.py:744-826`) — and each is decoded once
        into the cache."""
        ids = [int(i) for i in ids]
        missing = [i for i in dict.fromkeys(ids) if i not in self._tiles]
        if missing:
            m = self.meta
            offsets = m.tile_offsets[missing]
            sizes = m.tile_byte_counts[missing]
            for m_off, m_size, members in coalesce_ranges(offsets, sizes):
                chunk = self.blob[m_off : m_off + m_size]
                for k in members:
                    rel = int(offsets[k]) - m_off
                    self._tiles[missing[k]] = codecs.decode_tile(
                        chunk[rel : rel + int(sizes[k])], m.compression, m.predictor,
                        m.dtype, m.tile_h, m.tile_w, m.qstep, jpeg_tables=m.jpeg_tables,
                    )
        return [self._tiles[i] for i in ids]

    def window(
        self, col_off: int, row_off: int, win_w: int, win_h: int, band: int = 0
    ) -> np.ndarray:
        """Pixels of one band's window; pixels outside the raster (window
        overhang) hold the raster nodata (or 0)."""
        m = self.meta
        fill = m.nodata if m.nodata is not None else 0
        canvas = np.full((win_h, win_w), fill, dtype=m.dtype)
        plan = plan_window_tiles(m, col_off, row_off, win_w, win_h, band)
        for (_, tx, ty), tile in zip(plan, self.tiles([t[0] for t in plan])):
            px0, py0 = tx * m.tile_w, ty * m.tile_h
            vw = min(m.tile_w, m.width - px0)
            vh = min(m.tile_h, m.height - py0)
            c0, r0 = max(px0, col_off), max(py0, row_off)
            c1 = min(px0 + vw, col_off + win_w)
            r1 = min(py0 + vh, row_off + win_h)
            if c1 <= c0 or r1 <= r0:
                continue
            canvas[r0 - row_off : r1 - row_off, c0 - col_off : c1 - col_off] = tile[
                r0 - py0 : r1 - py0, c0 - px0 : c1 - px0
            ]
        return canvas
