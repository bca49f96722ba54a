"""Container dispatch: one parse/decode surface over every blob format the
engine reads (mini-raster and tiled/stripped (Geo)TIFF/BigTIFF).

Every blob-touching operator routes through these two helpers, so adding a
container is a one-module change — the reference's analogous seam is the
format branch in its COG reader (`src/rasteret/fetch/cog.py:843-966`)."""

from __future__ import annotations

import numpy as np

from rasteret_spark.format import miniraster as mr
from rasteret_spark.format import tiff


def parse_any(blob) -> mr.MiniRasterMeta:
    """Parse a blob's header into the engine meta, whatever the container.

    ``blob`` may be real bytes, a header prefix, OR any bytes-like
    supporting contiguous slicing (e.g. ``sources.fetch.RangedBlob``) — the
    parse then costs a handful of ranged reads, never a download.  A parse
    that runs past the end of the bytes given raises ``NeedBytes``."""
    if tiff.sniff(bytes(blob[:4])) is not None:
        return tiff.to_engine_meta(tiff.parse_tiff(tiff.blob_read(blob)))
    need = mr.header_len_from_prefix(bytes(blob[:8]))
    return mr.parse_header(bytes(blob[:need]))


def decode_full(blob, band: int | None = None, ifd: int = 0) -> np.ndarray:
    """Whole-image decode, any container: the independent check of
    ``CachedReader.window`` (no window-intersection math).

    Every tile of a band is read through ``CachedReader.tiles`` (one
    coalesced pass) and pasted at its grid origin on a padded
    (tiles_y * tile_h, tiles_x * tile_w) canvas, which is then cropped.
    ``band=None``: 2-D for one band, else a stacked (bands, h, w) cube; an
    explicit ``band`` always yields 2-D.  Chunky (interleaved) TIFFs, which
    the planar engine meta cannot carry, come back (h, w, spp), or one
    channel for an explicit ``band``.  ``ifd`` selects a TIFF directory
    (overview levels)."""
    if tiff.sniff(bytes(blob[:4])) is None:
        meta = parse_any(blob)
    else:
        tm = tiff.parse_tiff(tiff.blob_read(blob), ifd=ifd)
        if tm.samples_per_pixel > 1 and tm.planar_config == 1:
            spans = zip(tm.tile_offsets[: tm.tiles_x * tm.tiles_y], tm.tile_byte_counts)
            tiles = [tiff.decode_chunky_tile(bytes(blob[o : o + n]), tm) for o, n in spans]
            out = _paste(tm, tiles)
            return out if band is None else out[:, :, band]
        meta = tiff.to_engine_meta(tm)
    reader = mr.CachedReader(blob, meta)
    n = meta.tiles_per_band
    bands = range(meta.n_bands) if band is None else [band]
    planes = [_paste(meta, reader.tiles(range(b * n, (b + 1) * n))) for b in bands]
    return planes[0] if len(planes) == 1 else np.stack(planes)


def _paste(m, tiles: list[np.ndarray]) -> np.ndarray:
    """Row-major grid ``tiles`` of meta ``m`` (short final strips allowed)
    -> the (height, width[, spp]) image."""
    th, tw = m.tile_h, m.tile_w
    canvas = np.zeros((m.tiles_y * th, m.tiles_x * tw) + tiles[0].shape[2:], dtype=m.dtype)
    for k, tile in enumerate(tiles):
        ty, tx = divmod(k, m.tiles_x)
        canvas[ty * th : ty * th + tile.shape[0], tx * tw : tx * tw + tile.shape[1]] = tile
    return canvas[: m.height, : m.width]
