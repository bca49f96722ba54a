"""Pixel-level first-valid mosaics and [T, C, H, W] chip stacks.

Spark re-expression of the reference's pixel compositing paths:

  * first-valid-per-pixel mosaic over decoded windows in deterministic order
    (rasteret `src/rasteret/integrations/torchgeo.py:958-995`);
  * chip serving — per-chip [T, C, H, W] window tensors
    (`torchgeo.py:997-1236`);
  * nearest-neighbour reprojection of each source image onto the target chip
    grid (the R8/R9 warp/merge-resample path, reference
    `src/rasteret/core/utils.py:215-344` + `core/rio_semantics.py:51-313`) —
    every contributing image is resampled onto ONE common grid before
    compositing, so cross-CRS and cross-resolution inputs mosaic correctly.

Plan shape (scale discipline):

  1. Candidate (chip x image) pairs come from the native cell-cover
     ``bbox_join`` — LIGHT columns only, no blobs in that shuffle.  This
     light-candidate step is shared by ``chip_candidates`` and
     ``chips.chip_serve``.
  2. One cap + payload step, also shared: a window over (chip_id) keeps
     each chip's ``max_images_per_chip`` newest candidates, still on light
     columns, then the survivors join the payload column that
     ``decode.blob_source`` picks (``bytes``, or ``href`` for a remote
     table) and group by ``chip_id``: each kept blob moves through exactly
     ONE shuffle, into the chip group that composites it.  Chips are
     independent -> perfectly parallel across executors; group size is
     bounded by the cap, not by dataset size.
  3. ``applyInPandas`` composites one chip per group with vectorized numpy;
     images are sorted INSIDE the kernel by (datetime, image_id) so the
     result is independent of upstream row order (mosaic order-invariance,
     SURVEY.md §7 "hard parts").  The kernels neither cap nor pick a
     payload column: they open each row with ``blob_source``'s opener.

The target grid is axis-aligned in the GRID CRS — ``chip_id, xmin, ymax,
xres, yres, width, height`` with x = xmin + (col+0.5)*xres,
y = ymax - (row+0.5)*yres, all in grid-CRS units.  The grid CRS defaults to
lon/lat (EPSG:4326); a ``grid_epsg`` column on the chip rows selects any
registered CRS (the reference's native-CRS mosaic path: it auto-detects the
most-common CRS and composites in it, `src/rasteret/core/execution.py:
396-456` + `core/raster_accessor.py:1048-1099` — here ``most_common_epsg``
feeds ``Collection.mosaic(grid_epsg="auto")``), so single-zone UTM archives
mosaic in their own meters instead of resampling through lon/lat.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark import crs
from rasteret_spark.format import miniraster as mr
from rasteret_spark.operators.decode import _err_status, blob_source, join_grouped_side
from rasteret_spark.operators.util import nanlist

CHIP_COLS = ("chip_id", "chip_xmin", "chip_ymax", "chip_xres", "chip_yres",
             "chip_w", "chip_h")

# outputs are self-describing (R10): every row carries its grid georeferencing
# (origin/res/size + grid CRS) so pixel coords reconstruct from the row alone —
# the distributed analogue of the reference's CF/spatial_ref attrs
# (`src/rasteret/core/raster_accessor.py:1328-1477`)
GRID_COLS_SCHEMA = (
    "chip_xmin double, chip_ymax double, chip_xres double, chip_yres double, "
    "chip_w int, chip_h int, grid_epsg int"
)

MOSAIC_SCHEMA = (
    "chip_id string, band int, n_images int, n_contributing int, "
    "filled bigint, v_sum double, values array<double>, "
    + GRID_COLS_SCHEMA
    + ", n_failed int, capped boolean, status string"
)

CHIP_STACK_SCHEMA = (
    "chip_id string, t_index int, image_id string, datetime timestamp, "
    "band int, filled bigint, values array<double>, "
    + GRID_COLS_SCHEMA
    + ", capped boolean, status string"
)

# default temporal-depth bound: a chip under a 10,000-scene archive must not
# drag every blob into one applyInPandas group.  32 newest scenes cover any
# realistic cloud/nodata fill depth (synthetic fixture plants nodata in ~20%
# of images -> P(32 straight misses) ~ 0.2^32); override per query.
DEFAULT_MAX_IMAGES_PER_CHIP = 32


def _target_centers_in_source(
    meta, grid_epsg: int, xmin, ymax, xres, yres, width, height
):
    """Target pixel centers (grid-CRS coords) -> source-CRS coords, flattened
    row-major.  grid_epsg=4326 reproduces the original lon/lat grid path."""
    gxs = xmin + (np.arange(width) + 0.5) * xres
    gys = ymax - (np.arange(height) + 0.5) * yres
    gx, gy = np.meshgrid(gxs, gys)
    return crs.transform_points(grid_epsg, meta.epsg, gx.ravel(), gy.ravel())


def reproject_nearest(
    reader: mr.CachedReader,
    band: int,
    xmin: float,
    ymax: float,
    xres: float,
    yres: float,
    width: int,
    height: int,
    grid_epsg: int = 4326,
) -> np.ndarray:
    """Nearest-neighbour resample of one image band onto the target grid
    (grid-CRS coords; default lon/lat).  Returns float64 (height, width);
    NaN where the target pixel falls outside the image or on nodata.  One
    windowed read covers exactly the touched source region (tile-pruned by
    the reader)."""
    meta = reader.meta
    xs, ys = _target_centers_in_source(
        meta, grid_epsg, xmin, ymax, xres, yres, width, height
    )
    a, _, c, _, e, f = meta.transform
    cols = np.floor((xs - c) / a).astype(np.int64)
    rows = np.floor((ys - f) / e).astype(np.int64)
    inb = (cols >= 0) & (cols < meta.width) & (rows >= 0) & (rows < meta.height)
    out = np.full(width * height, np.nan)
    if inb.any():
        r0, r1 = int(rows[inb].min()), int(rows[inb].max())
        c0, c1 = int(cols[inb].min()), int(cols[inb].max())
        win = reader.window(c0, r0, c1 - c0 + 1, r1 - r0 + 1, band=band).astype(
            np.float64
        )
        vals = win[rows[inb] - r0, cols[inb] - c0]
        if meta.nodata is not None:
            if np.isnan(meta.nodata):
                vals = np.where(np.isnan(vals), np.nan, vals)
            else:
                vals = np.where(vals == meta.nodata, np.nan, vals)
        out[inb] = vals
    return out.reshape(height, width)


def reproject_bilinear(
    reader: mr.CachedReader,
    band: int,
    xmin: float,
    ymax: float,
    xres: float,
    yres: float,
    width: int,
    height: int,
    grid_epsg: int = 4326,
) -> np.ndarray:
    """Bilinear resample onto the target grid (the reference's
    rasterio.warp non-nearest path, `src/rasteret/core/utils.py:215-344`).

    Sample positions are target pixel centers in source fractional pixel
    space; the 4 surrounding source pixels interpolate with edge-clamped
    indices.  Strict nodata semantics: any invalid corner poisons the
    output pixel (NaN) — no partial-weight renormalization, so results are
    deterministic and maskable."""
    meta = reader.meta
    xs, ys = _target_centers_in_source(
        meta, grid_epsg, xmin, ymax, xres, yres, width, height
    )
    a, _, c, _, e, f = meta.transform
    fc = (xs - c) / a
    fr = (ys - f) / e
    # a target pixel participates iff its point lands inside the raster
    inb = (fc >= 0) & (fc < meta.width) & (fr >= 0) & (fr < meta.height)
    out = np.full(width * height, np.nan)
    if not inb.any():
        return out.reshape(height, width)
    gx = fc[inb] - 0.5
    gy = fr[inb] - 0.5
    c0 = np.clip(np.floor(gx).astype(np.int64), 0, meta.width - 1)
    r0 = np.clip(np.floor(gy).astype(np.int64), 0, meta.height - 1)
    c1 = np.minimum(c0 + 1, meta.width - 1)
    r1 = np.minimum(r0 + 1, meta.height - 1)
    wx = np.clip(gx - np.floor(gx), 0.0, 1.0)
    wy = np.clip(gy - np.floor(gy), 0.0, 1.0)
    cmin, cmax = int(c0.min()), int(c1.max())
    rmin, rmax = int(r0.min()), int(r1.max())
    win = reader.window(cmin, rmin, cmax - cmin + 1, rmax - rmin + 1, band=band).astype(
        np.float64
    )
    if meta.nodata is not None:
        win = np.where(
            np.isnan(win) if np.isnan(meta.nodata) else win == meta.nodata,
            np.nan,
            win,
        )
    v00 = win[r0 - rmin, c0 - cmin]
    v01 = win[r0 - rmin, c1 - cmin]
    v10 = win[r1 - rmin, c0 - cmin]
    v11 = win[r1 - rmin, c1 - cmin]
    top = (1.0 - wx) * v00 + wx * v01
    bot = (1.0 - wx) * v10 + wx * v11
    out[inb] = (1.0 - wy) * top + wy * bot  # NaN corners propagate
    return out.reshape(height, width)


def _cubic_weights(t: np.ndarray) -> np.ndarray:
    """Keys bicubic kernel weights (a = -0.5, the Catmull-Rom spline GDAL's
    ``Resampling.cubic`` uses) for taps at offsets (-1, 0, 1, 2) given the
    fractional position t in [0, 1).  Shape (p, 4); rows sum to 1."""
    a = -0.5
    d0, d1, d2, d3 = 1.0 + t, t, 1.0 - t, 2.0 - t
    w0 = a * (d0**3 - 5 * d0**2 + 8 * d0 - 4)
    w1 = (a + 2) * d1**3 - (a + 3) * d1**2 + 1
    w2 = (a + 2) * d2**3 - (a + 3) * d2**2 + 1
    w3 = a * (d3**3 - 5 * d3**2 + 8 * d3 - 4)
    return np.stack([w0, w1, w2, w3], axis=1)


def reproject_cubic(
    reader: mr.CachedReader,
    band: int,
    xmin: float,
    ymax: float,
    xres: float,
    yres: float,
    width: int,
    height: int,
    grid_epsg: int = 4326,
) -> np.ndarray:
    """Bicubic (Keys, a=-0.5) resample onto the target grid — the reference's
    rasterio ``Resampling.cubic`` surface (`src/rasteret/core/utils.py:215-344`).

    4x4 edge-clamped neighborhood per target pixel; strict nodata semantics:
    any invalid tap poisons the output pixel (NaN), same rule as bilinear."""
    meta = reader.meta
    xs, ys = _target_centers_in_source(
        meta, grid_epsg, xmin, ymax, xres, yres, width, height
    )
    a, _, c, _, e, f = meta.transform
    fc = (xs - c) / a
    fr = (ys - f) / e
    inb = (fc >= 0) & (fc < meta.width) & (fr >= 0) & (fr < meta.height)
    out = np.full(width * height, np.nan)
    if not inb.any():
        return out.reshape(height, width)
    gx = fc[inb] - 0.5
    gy = fr[inb] - 0.5
    c0 = np.floor(gx).astype(np.int64)
    r0 = np.floor(gy).astype(np.int64)
    tx = np.clip(gx - c0, 0.0, 1.0)
    ty = np.clip(gy - r0, 0.0, 1.0)
    cols4 = np.clip(c0[:, None] + np.arange(-1, 3), 0, meta.width - 1)
    rows4 = np.clip(r0[:, None] + np.arange(-1, 3), 0, meta.height - 1)
    cmin, cmax = int(cols4.min()), int(cols4.max())
    rmin, rmax = int(rows4.min()), int(rows4.max())
    win = reader.window(cmin, rmin, cmax - cmin + 1, rmax - rmin + 1, band=band).astype(
        np.float64
    )
    if meta.nodata is not None:
        win = np.where(
            np.isnan(win) if np.isnan(meta.nodata) else win == meta.nodata,
            np.nan,
            win,
        )
    taps = win[rows4[:, :, None] - rmin, cols4[:, None, :] - cmin]  # (p, 4, 4)
    wx = _cubic_weights(tx)  # (p, 4)
    wy = _cubic_weights(ty)
    out[inb] = np.einsum("pr,pc,prc->p", wy, wx, taps)  # NaN taps propagate
    return out.reshape(height, width)


def _bbox_to_source(
    src_epsg: int, grid_epsg: int, xmin: float, ymin: float, xmax: float, ymax: float
) -> tuple[float, float, float, float]:
    """Grid-CRS bbox -> source-CRS bounding box.  The 4326 path keeps the
    original corner-exact/densified ``bbox_from_lonlat`` (bit-identical to
    the pre-grid_epsg behavior); other grids go through the densified
    ``transform_bbox`` ring."""
    if grid_epsg == 4326:
        return crs.bbox_from_lonlat(src_epsg, xmin, ymin, xmax, ymax)
    return crs.transform_bbox(grid_epsg, src_epsg, (xmin, ymin, xmax, ymax))


def reproject_average(
    reader: mr.CachedReader,
    band: int,
    xmin: float,
    ymax: float,
    xres: float,
    yres: float,
    width: int,
    height: int,
    grid_epsg: int = 4326,
) -> np.ndarray:
    """Average resample onto the target grid — the reference's rasterio
    ``Resampling.average`` surface (`src/rasteret/core/utils.py:215-344`).

    Semantics (documented, oracle-pinned): each target pixel takes the mean
    of all VALID source pixels whose centers fall inside it; target pixels
    with no contributing center (upsampling regime) fall back to the nearest
    sample, so average == nearest when the target is finer than the source.
    Valid-only averaging means nodata never dilutes a mean (no poisoning) —
    downsampling is where this method earns its keep."""
    meta = reader.meta
    a, _, c, _, e, f = meta.transform
    # source window touched by the target extent (corner-mapped for separable
    # CRS pairs, densified-boundary where edges curve)
    sx0, sy0, sx1, sy1 = _bbox_to_source(
        meta.epsg, grid_epsg,
        xmin, ymax - height * yres, xmin + width * xres, ymax,
    )
    fcs = (np.array([sx0, sx1]) - c) / a
    frs = (np.array([sy0, sy1]) - f) / e
    c0 = max(int(np.floor(fcs.min())), 0)
    c1 = min(int(np.ceil(fcs.max())), meta.width)
    r0 = max(int(np.floor(frs.min())), 0)
    r1 = min(int(np.ceil(frs.max())), meta.height)
    out = np.full(width * height, np.nan)
    if c1 <= c0 or r1 <= r0:
        return out.reshape(height, width)
    win = reader.window(c0, r0, c1 - c0, r1 - r0, band=band).astype(np.float64)
    if meta.nodata is not None:
        win = np.where(
            np.isnan(win) if np.isnan(meta.nodata) else win == meta.nodata,
            np.nan,
            win,
        )
    # source pixel centers -> target cell indices (in grid-CRS coords)
    src_x = a * (c0 + np.arange(c1 - c0) + 0.5) + c
    src_y = e * (r0 + np.arange(r1 - r0) + 0.5) + f
    if crs.is_separable(meta.epsg) and crs.is_separable(grid_epsg):
        # separable COMPOSITION through the lon/lat hub: x depends only on x
        gx, _ = crs.transform_points(meta.epsg, grid_epsg, src_x, np.zeros_like(src_x))
        _, gy = crs.transform_points(meta.epsg, grid_epsg, np.zeros_like(src_y), src_y)
        tcol = np.floor((gx - xmin) / xres).astype(np.int64)
        trow = np.floor((ymax - gy) / yres).astype(np.int64)
        gc, gr = np.meshgrid(tcol, trow)
    else:
        gsx, gsy = np.meshgrid(src_x, src_y)
        tx, ty = crs.transform_points(meta.epsg, grid_epsg, gsx.ravel(), gsy.ravel())
        gc = np.floor((tx - xmin) / xres).astype(np.int64).reshape(gsx.shape)
        gr = np.floor((ymax - ty) / yres).astype(np.int64).reshape(gsx.shape)
    keep = (gc >= 0) & (gc < width) & (gr >= 0) & (gr < height) & ~np.isnan(win)
    if keep.any():
        flat = (gr[keep] * width + gc[keep]).astype(np.int64)
        sums = np.zeros(width * height)
        cnts = np.zeros(width * height)
        np.add.at(sums, flat, win[keep])
        np.add.at(cnts, flat, 1.0)
        got = cnts > 0
        out[got] = sums[got] / cnts[got]
    # cells without a contributing source center: nearest fallback
    empty = np.isnan(out)
    if empty.any():
        near = reproject_nearest(
            reader, band, xmin, ymax, xres, yres, width, height, grid_epsg=grid_epsg
        )
        out[empty] = near.ravel()[empty]
    return out.reshape(height, width)


RESAMPLERS = {
    "nearest": reproject_nearest,
    "bilinear": reproject_bilinear,
    "cubic": reproject_cubic,
    "average": reproject_average,
}


def reproject_to_grid(
    reader: mr.CachedReader,
    band: int,
    *grid,
    method: str = "nearest",
    grid_epsg: int = 4326,
) -> np.ndarray:
    fn = RESAMPLERS.get(method)
    if fn is None:
        raise ValueError(f"unknown resample method {method!r} (have {sorted(RESAMPLERS)})")
    return fn(reader, band, *grid, grid_epsg=grid_epsg)


def _chip_header(pdf: pd.DataFrame, newest_first: bool = True):
    """Per-chip header both kernels open a group with: the rows sorted by
    (datetime, image_id) — newest first, or oldest first for the stack's
    time axis — so the result is independent of upstream row order; the
    ``capped`` flag; the grid tuple ``reproject_to_grid`` takes; and the
    GRID_COLS_SCHEMA columns every output row carries.

    ``capped``: ``n_candidates`` (the pre-cap per-chip count ``_depth_cap``
    adds) exceeds the rows present, so a truncated chip is visible in the
    output, never a silent drop.  Pairs built without the cap lack the
    column and are never capped.  The grid CRS is the optional
    ``grid_epsg`` column (absent -> lon/lat), constant per chip by
    construction (one grid per request)."""
    pdf = pdf.sort_values(
        ["datetime", "image_id"], ascending=[not newest_first, True]
    ).reset_index(drop=True)
    r0 = pdf.iloc[0]
    ncand = int(r0["n_candidates"]) if "n_candidates" in pdf.columns else len(pdf)
    gcols = {
        "chip_xmin": float(r0["chip_xmin"]),
        "chip_ymax": float(r0["chip_ymax"]),
        "chip_xres": float(r0["chip_xres"]),
        "chip_yres": float(r0["chip_yres"]),
        "chip_w": int(r0["chip_w"]),
        "chip_h": int(r0["chip_h"]),
        "grid_epsg": int(r0["grid_epsg"]) if "grid_epsg" in pdf.columns else 4326,
    }
    grid = tuple(gcols[c] for c in CHIP_COLS[1:])
    return pdf, bool(ncand > len(pdf)), grid, gcols


def first_valid_mosaic_pixels(
    pairs: DataFrame,
    bands: tuple[int, ...] | list[int] = (0,),
    method: str = "nearest",
) -> DataFrame:
    """Per-pixel first-valid composite per chip.

    ``pairs`` columns: CHIP_COLS + image_id, datetime and ``bytes`` or
    ``href`` (one row per candidate chip x image pair, payload already
    joined — ``chip_candidates`` builds them, depth cap included).  For
    each chip and band, images are visited newest-first (deterministic
    tie-break on image_id) and each still-empty pixel takes the first valid
    value — the reference's first-valid precedence (`torchgeo.py:958-995`).

    A corrupt blob is skipped (counted in ``n_failed``; ``status`` carries
    the first error) instead of failing the stage — per-record failure
    containment parity (`src/rasteret/core/execution.py:274-297`).  Output
    rows are self-describing: GRID_COLS_SCHEMA georeferencing rides along.
    """
    want_bands = tuple(bands)
    payload_col, open_blob = blob_source(pairs)

    def composite(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, capped, grid, gcols = _chip_header(pdf)
        w, h = gcols["chip_w"], gcols["chip_h"]
        out = []
        for band in want_bands:
            canvas = np.full((h, w), np.nan)
            contributing, n_failed, first_err = 0, 0, None
            for blob in pdf[payload_col]:
                if not np.isnan(canvas).any():
                    break  # chip fully composited — skip remaining decodes
                try:
                    reader = mr.CachedReader(open_blob(blob))
                    if band >= reader.meta.n_bands:
                        continue
                    rep = reproject_to_grid(
                        reader, band, *grid, method=method, grid_epsg=gcols["grid_epsg"]
                    )
                except Exception as e:  # quarantine the image, keep the chip
                    n_failed += 1
                    if first_err is None:
                        first_err = _err_status(e)
                    continue
                need = np.isnan(canvas) & ~np.isnan(rep)
                if need.any():
                    canvas[need] = rep[need]
                    contributing += 1
            filled = int((~np.isnan(canvas)).sum())
            out.append(
                {
                    "chip_id": pdf.at[0, "chip_id"],
                    "band": band,
                    "n_images": int(len(pdf)),
                    "n_contributing": contributing,
                    "filled": filled,
                    "v_sum": float(np.nansum(canvas)) if filled else None,
                    "values": nanlist(canvas.ravel()),
                    **gcols,
                    "n_failed": n_failed,
                    "capped": capped,
                    "status": "ok" if n_failed == 0 else f"partial: {first_err}",
                }
            )
        return pd.DataFrame(out)

    return pairs.groupBy("chip_id").applyInPandas(composite, schema=MOSAIC_SCHEMA)


def chip_stack_pixels(
    pairs: DataFrame,
    bands: tuple[int, ...] | list[int] = (0,),
    method: str = "nearest",
) -> DataFrame:
    """[T, C, H, W] chip tensor, exploded as one row per (t, band).

    ``pairs`` as for ``first_valid_mosaic_pixels`` (``chip_candidates`` or
    ``chips.chip_serve`` keep each chip's newest N scenes).  Time steps are
    ordered oldest-first with image_id tie-break (stable t_index regardless
    of input row order); every step is the image reprojected onto the chip
    grid — the distributed layout of the reference's stacked chip tensors
    (`torchgeo.py:997-1236`).

    A corrupt blob keeps its t slot (time axis stays stable) but emits
    quarantine rows with filled=0, values=null and the error in
    ``status``.  GRID_COLS_SCHEMA georeferencing rides along."""
    want_bands = tuple(bands)
    payload_col, open_blob = blob_source(pairs)

    def stack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, capped, grid, gcols = _chip_header(pdf, newest_first=False)
        out = []
        for t, (image_id, ts, blob) in enumerate(
            zip(pdf["image_id"], pdf["datetime"], pdf[payload_col])
        ):
            base = {
                "chip_id": pdf.at[0, "chip_id"],
                "t_index": t,
                "image_id": image_id,
                "datetime": ts,
                **gcols,
                "capped": capped,
            }
            try:
                reader = mr.CachedReader(open_blob(blob))
                for band in want_bands:
                    if band >= reader.meta.n_bands:
                        continue
                    rep = reproject_to_grid(
                        reader, band, *grid, method=method, grid_epsg=gcols["grid_epsg"]
                    )
                    out.append(
                        {
                            **base,
                            "band": band,
                            "filled": int((~np.isnan(rep)).sum()),
                            "values": nanlist(rep.ravel()),
                            "status": "ok",
                        }
                    )
            except Exception as e:  # quarantine the time step, keep the chip
                out.append(
                    {**base, "band": -1, "filled": 0, "values": None, "status": _err_status(e)}
                )
        return pd.DataFrame(out)

    return pairs.groupBy("chip_id").applyInPandas(stack, schema=CHIP_STACK_SCHEMA)


def most_common_epsg(images: DataFrame) -> int:
    """Auto target-CRS detection: the mode of the record CRSes with a
    deterministic tie-break (the reference's most-common-CRS pick before
    reprojection, `src/rasteret/core/execution.py:396-456`)."""
    row = (
        images.groupBy("epsg")
        .count()
        .orderBy(F.col("count").desc(), F.col("epsg").asc())
        .first()
    )
    if row is None:
        raise ValueError("empty image table — no CRS to detect")
    return int(row[0])


def chips_as_aois(chips: DataFrame) -> DataFrame:
    """CHIP_COLS -> the aoi_* bbox columns (LON/LAT) the cell-cover join
    consumes.  SINGLE definition of the chip-extent convention (pixel-edge
    aligned) — shared by the mosaic and chip-serving paths so they cannot
    diverge.

    Lon/lat grids (no ``grid_epsg`` column) stay pure native expressions.
    Projected grids go through a vectorized ``mapInPandas`` stage that maps
    each chip's DENSIFIED boundary to lon/lat and takes bounds (curvature-
    safe for Transverse Mercator) — still fully distributed, numpy across
    all chips of a batch at once."""
    chips = chips.withColumn(
        "aoi_xmin", F.col("chip_xmin")
    ).withColumn(
        "aoi_xmax", F.col("chip_xmin") + F.col("chip_w") * F.col("chip_xres")
    ).withColumn(
        "aoi_ymax", F.col("chip_ymax")
    ).withColumn(
        "aoi_ymin", F.col("chip_ymax") - F.col("chip_h") * F.col("chip_yres")
    )
    if "grid_epsg" not in chips.columns:
        return chips

    schema = chips.schema  # same columns; aoi_* rewritten to lon/lat

    def to_lonlat_bounds(batches):
        t = np.linspace(0.0, 1.0, 8)
        for pdf in batches:
            for epsg in pdf["grid_epsg"].unique():
                m = pdf["grid_epsg"] == epsg
                if int(epsg) == 4326:
                    continue  # extent already lon/lat
                x0 = pdf.loc[m, "aoi_xmin"].to_numpy()[:, None]
                x1 = pdf.loc[m, "aoi_xmax"].to_numpy()[:, None]
                y0 = pdf.loc[m, "aoi_ymin"].to_numpy()[:, None]
                y1 = pdf.loc[m, "aoi_ymax"].to_numpy()[:, None]
                xs = np.concatenate(
                    [x0 + (x1 - x0) * t, np.broadcast_to(x1, (len(x1), len(t))),
                     x1 + (x0 - x1) * t, np.broadcast_to(x0, (len(x0), len(t)))],
                    axis=1,
                )
                ys = np.concatenate(
                    [np.broadcast_to(y0, (len(y0), len(t))), y0 + (y1 - y0) * t,
                     np.broadcast_to(y1, (len(y1), len(t))), y1 + (y0 - y1) * t],
                    axis=1,
                )
                lon, lat = crs.to_lonlat(int(epsg), xs.ravel(), ys.ravel())
                lon = lon.reshape(xs.shape)
                lat = lat.reshape(ys.shape)
                pdf.loc[m, "aoi_xmin"] = lon.min(axis=1)
                pdf.loc[m, "aoi_xmax"] = lon.max(axis=1)
                pdf.loc[m, "aoi_ymin"] = lat.min(axis=1)
                pdf.loc[m, "aoi_ymax"] = lat.max(axis=1)
            yield pdf

    return chips.mapInPandas(to_lonlat_bounds, schema=schema)


def _light_candidates(
    chips: DataFrame, images_light: DataFrame, images: DataFrame, res: int
) -> DataFrame:
    """The chip paths' one light-candidate step: (chip x image) pairs from
    the cell-cover ``bbox_join`` over ``chips_as_aois``, as CHIP_COLS (+
    ``grid_epsg``) + image_id + datetime — no payload.  ``datetime`` comes
    from ``images_light`` when it carries it (``spatial_join.image_light``
    of a stored table does), else from ``images`` by image_id."""
    from rasteret_spark.operators.spatial_join import bbox_join

    extra = ["grid_epsg"] if "grid_epsg" in chips.columns else []
    cands = bbox_join(images_light, chips_as_aois(chips), res=res)
    if "datetime" not in images_light.columns:
        cands = cands.join(images.select("image_id", "datetime"), "image_id")
    return cands.select(*CHIP_COLS, *extra, "image_id", "datetime")


def _depth_cap(cands: DataFrame, max_images_per_chip: int) -> DataFrame:
    """Cap the temporal depth BEFORE blobs join: one window over (chip_id)
    in newest-first order (datetime desc, image_id asc) keeps each chip's
    first N light candidates, so a chip sitting under a 10,000-scene
    archive does not drag 10,000 blobs into one group when the newest
    handful fill it (the knob the reference's query-limited chip reads
    expose).

    Adds ``n_candidates`` (the PRE-cap per-chip candidate count, whole-
    partition frame of the same window — no second window, no extra
    shuffle) so the kernels can surface a ``capped`` flag."""
    over = "OVER (PARTITION BY chip_id ORDER BY `datetime` DESC, image_id ASC"
    return cands.selectExpr(
        "*",
        f"row_number() {over}) AS _rn",
        f"count(1) {over} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        " AS n_candidates",
    ).filter(f"_rn <= {int(max_images_per_chip)}").drop("_rn")


def join_payload_grouped(cands: DataFrame, images_payload: DataFrame) -> DataFrame:
    """Join light (chip x image) candidates to blob payloads with the
    one-blob-shuffle guarantee: candidates group into one per-image chip
    LIST (light columns), and that grouped side joins the payload through
    the zonal and sample paths' ``decode.join_grouped_side``.  Broadcast
    path: blobs never shuffle at the join — the only blob exchange left is
    the final per-chip group.  Above ``decode.BROADCAST_PAIRS_LIMIT`` pairs
    the plan falls back to a hash join on image_id (the 10^9-pair regime
    where broadcasting would blow the driver)."""
    chip_cols = [c for c in cands.columns if c != "image_id"]
    return (
        join_grouped_side(images_payload, cands, chip_cols, "_chips")
        .withColumn("_c", F.explode("_chips"))
        .drop("_chips")
        .select(*images_payload.columns, "_c.*")
    )


def _capped_payload(
    cands: DataFrame, images: DataFrame, max_images_per_chip: int | None
) -> DataFrame:
    """The chip paths' one cap + payload step: ``_depth_cap`` on the light
    candidates (``None`` keeps every candidate), then the grouped payload
    join against ``images`` projected to image_id, datetime and the column
    ``decode.blob_source`` picks — so callers pass the stored table, blob
    or remote."""
    if max_images_per_chip is not None:
        cands = _depth_cap(cands, max_images_per_chip)
    payload_col, _ = blob_source(images)
    return join_payload_grouped(
        cands.drop("datetime"), images.select("image_id", "datetime", payload_col)
    )


def chip_candidates(
    chips: DataFrame,
    images_light: DataFrame,
    images: DataFrame,
    res: int = 7,
    max_images_per_chip: int | None = DEFAULT_MAX_IMAGES_PER_CHIP,
) -> DataFrame:
    """chips x images pairs for the pixel kernels: the light-candidate step,
    then the cap + payload step — CHIP_COLS + image_id + datetime + payload
    (``bytes`` or ``href``) + ``n_candidates``, each kept blob through
    exactly one shuffle (the per-chip group; the payload join broadcasts the
    grouped candidate list under the size guard, see
    ``join_payload_grouped``).  ``chips`` needs CHIP_COLS; ``images_light``
    needs image_id + img_xmin/_ymin/_xmax/_ymax (``spatial_join.
    image_light``); ``images`` is the stored table (image_id, datetime,
    ``bytes`` or ``href``).

    ``max_images_per_chip`` (default ``DEFAULT_MAX_IMAGES_PER_CHIP``) keeps
    each chip's newest N candidates HERE, on light columns, BEFORE any blob
    moves — under a 10,000-scene archive the dropped candidates never
    shuffle their payloads; ``None`` keeps them all.  The cap trades
    completeness for boundedness — pick N >= the worst-case cloud/nodata
    depth.

    NOTE: the size guard runs the candidate join once at PLAN-BUILD time and
    local-checkpoints the grouped side (same contract as the zonal path's
    ``decode.join_grouped_side``); the checkpoint lives as long as the returned
    plan."""
    cands = _light_candidates(chips, images_light, images, res)
    return _capped_payload(cands, images, max_images_per_chip)
