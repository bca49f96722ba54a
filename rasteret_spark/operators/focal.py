"""Focal (moving-window) raster operators over per-band chip rows.

The reference ships its assembled arrays to the driver and leaves kernel
filtering to numpy/xarray on the client (`examples/landsat_xarray.py`,
`src/rasteret/core/collection.py:523-604` hand back xarray for exactly this
kind of post-processing).  At 100 TB the neighborhood pass has to run WHERE
the pixels already are: these operators evaluate (2R+1)x(2R+1) stencils over
the engine's per-band rows (MOSAIC_SCHEMA shape: one row per chip x band
with ``values array<double>`` + ``chip_w``/``chip_h``) as vectorized numpy
kernels (``operators/arrow_kernels.py``) over whole chips — ONE
``mapInPandas`` per operator and NO shuffle (each chip row is independent;
the operator pipelines into whatever produced the rows).  Chips overlap by
construction when the grid stride < chip size, so no halo exchange is
needed — the window never has to cross a chip boundary that the sampler
didn't already cover.

Edge policy: replicate (out-of-chip taps clamp to the nearest edge pixel —
numpy's ``np.pad(mode="edge")``).  Null semantics are per operator:

* ``focal_stats`` — the statistic is taken over the VALID taps in the
  window; a pixel with zero valid taps is null.  (Cloud-tolerant
  smoothing: a null center still receives a neighborhood estimate.)
* ``sobel`` — strict: gradients at a pixel with any missing neighbor are
  null; magnitude is ``sqrt(gx^2 + gy^2)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rasteret_spark.operators import arrow_kernels as ak
from rasteret_spark.operators.arrow_kernels import SOBEL_X, SOBEL_Y  # noqa: F401

FOCAL_STATS = ("mean", "min", "max", "sum", "count")


def _require(df: DataFrame, value_col: str) -> None:
    for c in (value_col, "chip_w", "chip_h"):
        if c not in df.columns:
            raise ValueError(f"focal operators need column {c!r}")


def _arrow_map(per_band, value_col, out_col, fn):
    """Run a per-chip 2-D kernel through the shared mapInPandas runner:
    null/short rows -> null output column."""

    def row_fn(row, arr2d):
        if arr2d is None:
            return {out_col: None}
        return {out_col: fn(row, arr2d)}

    return ak.map_chip_rows(
        per_band, [(out_col, "array<double>")], row_fn, value_col=value_col
    )


def focal_stats(
    per_band: DataFrame,
    stat: str = "mean",
    radius: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """Moving-window statistic per pixel (focal mean/min/max/sum/count).

    Input: per-band rows (``chip_id, band, values`` + ``chip_w/chip_h``).
    Output: the input plus ``<out_col> array<double>`` of the same length.
    The statistic is over the valid taps of the replicate-clamped window;
    ``count`` is the number of valid taps (as double, so every focal output
    is ``array<double>``)."""
    if stat not in FOCAL_STATS:
        raise ValueError(f"unknown focal stat {stat!r} (one of {FOCAL_STATS})")
    if radius < 1:
        raise ValueError("radius must be >= 1")
    _require(per_band, "values")
    return _arrow_map(
        per_band, "values", out_col or f"focal_{stat}",
        lambda row, a: ak.focal_stat_2d(a, stat, radius),
    )


TERRAIN_OUTS = ("dzdx", "dzdy", "slope", "aspect", "hillshade")


def terrain(
    per_band: DataFrame,
    outs: tuple[str, ...] = ("slope", "aspect", "hillshade"),
    z_factor: float = 1.0,
    altitude: float = 45.0,
    azimuth: float = 315.0,
    value_col: str = "values",
    xres_col: str = "chip_xres",
    yres_col: str = "chip_yres",
) -> DataFrame:
    """Terrain derivatives from elevation chips via Horn's method (the
    standard GIS kernel): per-pixel 3x3 weighted gradients, slope, compass
    aspect, and analytic hillshade.  The reference's users run
    ``gdaldem``-style products client-side on assembled arrays; at 100 TB
    the stencil runs where the pixels are, as one vectorized numpy pass per
    chip (one ``mapInPandas``, zero added shuffles — same contract as the
    other focal operators, plan-asserted in tests).

    Conventions (Esri/GDAL): the grid is north-up (row 0 = max y), so
    ``dzdx`` is (east - west) / (8 * |xres|) and ``dzdy`` is
    (north - south) / (8 * |yres|) — y-up ground gradients per cell-size
    unit.  ``slope`` is degrees from horizontal,
    ``atan(z_factor * hypot(dzdx, dzdy))``; ``aspect`` is compass degrees
    (0 = north, clockwise, null for flat cells); ``hillshade`` is the
    0-255 illumination for a sun at ``altitude``/``azimuth`` degrees,
    clamped at 0.  Strict stencil: ANY null tap nulls every output at
    that pixel (a gradient with a missing term is not that gradient).
    The gradient surfaces are exact; the trig surfaces go through libm
    (pinned by tolerance in tests, like the reference pins gdaldem
    parity)."""
    bad = [o for o in outs if o not in TERRAIN_OUTS]
    if bad:
        raise ValueError(f"unknown terrain outputs {bad} (of {TERRAIN_OUTS})")
    _require(per_band, value_col)
    for c in (xres_col, yres_col):
        if c not in per_band.columns:
            raise ValueError(f"terrain needs column {c!r}")

    def row_fn(row, arr2d):
        if arr2d is None:
            return {o: None for o in outs}
        return ak.terrain_2d(
            arr2d, tuple(outs), float(row[xres_col]), float(row[yres_col]),
            float(z_factor), float(altitude), float(azimuth),
        )

    return ak.map_chip_rows(
        per_band, [(o, "array<double>") for o in outs], row_fn,
        value_col=value_col,
    )


def spatial_stats(per_band: DataFrame) -> DataFrame:
    """Per-chip spatial autocorrelation: Moran's I and Geary's C under
    rook contiguity (unit weights between orthogonally adjacent VALID
    pixels, no edge wrap, no replicate padding) — the texture/clustering
    screen that separates coherent scenes from salt-and-pepper noise or
    constant slabs before they reach a training set.

    Adds ``n_valid``, ``w_pairs`` (directed valid-adjacent pair count,
    each undirected pair counted twice — the standard W), ``morans_i``
    and ``gearys_c``; both statistics are null when the chip has no
    adjacent valid pair or zero variance.  ZERO shuffles and no
    transcendentals — every sum folds in a fixed (pixel-major, then
    N/S/W/E offset) order, so independent mirrors reproduce the floats
    bit-exactly."""
    _require(per_band, "values")

    def row_fn(row, arr2d):
        if arr2d is None:
            return {"n_valid": None, "w_pairs": None,
                    "morans_i": None, "gearys_c": None}
        return ak.spatial_stats_row(arr2d)

    return ak.map_chip_rows(
        per_band,
        [("n_valid", "int"), ("w_pairs", "bigint"),
         ("morans_i", "double"), ("gearys_c", "double")],
        row_fn,
    )


def sobel(
    per_band: DataFrame,
    value_col: str = "values",
    out_col: str = "sobel",
) -> DataFrame:
    """Sobel gradient magnitude per pixel: ``sqrt(gx^2 + gy^2)`` with the
    standard 3x3 kernels, strict stencil (any null neighbor -> null).
    Edge-detection / texture features for chip quality screens."""
    _require(per_band, value_col)
    return _arrow_map(
        per_band, value_col, out_col, lambda row, a: ak.sobel_2d(a)
    )
