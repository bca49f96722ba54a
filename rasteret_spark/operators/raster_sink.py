"""Distributed COG export: mosaic/composite pixel rows -> one tiled,
overviewed GeoTIFF per chip, written executor-side through the pluggable
writer registry (`sources/fetch._WRITERS`).

The reference is a READER of COGs others produce (its writer-shaped code is
test fixtures only); a training-data pipeline also needs the opposite leg —
materializing the composites/chips it builds as cloud-optimized rasters the
rest of the stack (and this engine's own `sources/rasters.ingest_rasters` /
remote ranged-read path) can consume.  This is the engine's `gdal_translate
-of COG`, distributed:

- ONE shuffle (the per-chip groupBy that collates bands); every other step
  is executor-local.  No driver I/O, no collect — the manifest the caller
  gets back is itself a DataFrame.
- Writes are atomic per file (temp + rename in the builtin ``file`` writer)
  and idempotent (deterministic ``<out_dir>/<chip_id>.tif`` naming), so a
  re-run after a partial failure simply overwrites — the same at-least-once
  contract Spark gives its own file sinks.
- Per-chip quarantine: a chip whose rows are malformed yields a manifest
  row with ``status != "ok"`` instead of a task failure
  (`src/rasteret/core/execution.py:274-297` parity).

Output blobs are real COGs in the layout the engine's own TIFF reader and
the reference's header parser (`src/rasteret/fetch/header_parser.py:33-657`)
both understand: tiled (16-multiple tile dims per the TIFF6 spec), optional
deflate/LZW/zstd/LERC compression, float predictor, ModelPixelScale +
ModelTiepoint + GeoKey CRS georeferencing, GDAL_NODATA, and a
nearest-neighbour overview pyramid chained through next-IFD pointers.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MANIFEST_SCHEMA = (
    "chip_id string, href string, n_bytes bigint, sha256 string, "
    "width int, height int, n_bands int, epsg int, "
    "chip_xmin double, chip_ymax double, chip_xres double, chip_yres double, "
    "n_overviews int, compression string, status string"
)

_REQUIRED = ("chip_id", "band", "values", "chip_xmin", "chip_ymax",
             "chip_xres", "chip_yres", "chip_w", "chip_h", "grid_epsg")


def _tile_dims(w: int, h: int, tile: tuple[int, int]) -> tuple[int, int] | None:
    """COG tile dims: requested size, clamped to the 16-multiple that covers
    a small image (padding waste <= 15 px/side).  Images narrower than one
    16px tile in either axis fall back to strips — a 8x8 thumbnail does not
    need (and the TIFF6 spec does not allow) a sub-16 tile grid."""
    if min(w, h) < 16:
        return None
    tw = min(int(tile[0]), -(-w // 16) * 16)
    th = min(int(tile[1]), -(-h // 16) * 16)
    return (tw, th)


MAX_OVERVIEW_LEVELS = 6


def _overview_factors(w: int, h: int, min_dim: int = 32) -> list[int]:
    """gdaladdo's default ladder: powers of two while the decimated image
    stays >= ``min_dim`` in both axes, at most ``MAX_OVERVIEW_LEVELS``."""
    out: list[int] = []
    f = 2
    while len(out) < MAX_OVERVIEW_LEVELS and min(w, h) // f >= min_dim:
        out.append(f)
        f *= 2
    return out


def write_cogs(
    pixels: DataFrame,
    out_dir: str,
    *,
    compression: str = "deflate",
    tile: tuple[int, int] = (256, 256),
    dtype: str = "float32",
    nodata: float = float("nan"),
    overview_min_dim: int = 32,
    writers: dict | None = None,
    suffix: str = ".tif",
) -> DataFrame:
    """Export per-chip pixel rows (MOSAIC_SCHEMA-shaped: one row per
    (chip_id, band) with a row-major ``values`` array + GRID_COLS
    georeferencing) as one multi-band tiled GeoTIFF per chip under
    ``out_dir``, returning the manifest DataFrame (MANIFEST_SCHEMA).

    ``writers`` is a registry snapshot (defaults to the module registry at
    BUILD time — a scheme registered after this call does not alter the
    plan, as ``fetch_blobs`` snapshots ``_FETCHERS``).  Floats default to
    predictor 3 (byte-plane split) which is what GDAL emits for float COGs;
    integer dtypes get predictor 2 under LZW/deflate, 1 otherwise.
    """
    missing = [c for c in _REQUIRED if c not in pixels.columns]
    if missing:
        raise ValueError(f"write_cogs input missing columns {missing}")
    from rasteret_spark.sources import fetch as fx

    wreg = dict(fx._WRITERS) if writers is None else dict(writers)
    out_dir = out_dir.rstrip("/")
    np_dtype = np.dtype(dtype)
    if np_dtype.kind not in "uif":
        raise ValueError(f"unsupported dtype {dtype!r}")
    if np_dtype.kind != "f" and not np.isfinite(nodata):
        raise ValueError("integer dtype needs a finite nodata value")
    comp = str(compression)

    def export(pdf: pd.DataFrame) -> pd.DataFrame:
        from rasteret_spark.format import tiffwrite
        from rasteret_spark.sources.fetch import put

        r0 = pdf.iloc[0]
        chip_id = str(r0["chip_id"])
        href = f"{out_dir}/{chip_id}{suffix}"
        base = {
            "chip_id": chip_id, "href": href, "n_bytes": None,
            "sha256": None, "width": None, "height": None, "n_bands": None,
            "epsg": None, "chip_xmin": None, "chip_ymax": None,
            "chip_xres": None, "chip_yres": None, "n_overviews": 0,
            "compression": comp, "status": "ok",
        }

        def fail(msg: str) -> pd.DataFrame:
            base["status"] = msg[:200]
            return pd.DataFrame([base])

        try:
            w, h = int(r0["chip_w"]), int(r0["chip_h"])
            epsg = int(r0["grid_epsg"])
            rows = pdf[pdf["values"].notna()].sort_values("band")
            if rows.empty:
                return fail("error: no band rows with pixel values")
            bands = [int(b) for b in rows["band"]]
            if len(set(bands)) != len(bands):
                return fail("error: duplicate band rows for chip")
            planes = []
            for vals in rows["values"]:
                a = np.asarray(
                    [np.nan if v is None else float(v) for v in vals],
                    dtype="float64",
                )
                if a.size != w * h:
                    return fail(
                        f"error: band array size {a.size} != {w}x{h}"
                    )
                if np_dtype.kind != "f":
                    a = np.where(np.isnan(a), float(nodata), a)
                planes.append(a.reshape(h, w).astype(np_dtype))
            arr = planes[0] if len(planes) == 1 else np.stack(planes)
            if np_dtype.kind == "f" and not np.isnan(nodata):
                arr = np.where(np.isnan(arr), np_dtype.type(nodata), arr)
            factors = _overview_factors(w, h, min_dim=overview_min_dim)
            predictor = (
                3 if np_dtype.kind == "f" and comp in ("deflate", "lzw", "zstd")
                else 2 if comp in ("deflate", "lzw") else 1
            )
            if comp in ("lerc", "jpeg", "none"):
                predictor = 1
            blob = tiffwrite.write_tiff(
                np.ascontiguousarray(arr),
                tile=_tile_dims(w, h, tile),
                compression=comp,
                predictor=predictor,
                pixel_scale=(float(r0["chip_xres"]), float(r0["chip_yres"])),
                tiepoint=(float(r0["chip_xmin"]), float(r0["chip_ymax"])),
                epsg=epsg,
                nodata=float(nodata),
                overviews=factors or None,
            )
            put(href, blob, writers=wreg)
            base.update(
                n_bytes=len(blob),
                sha256=hashlib.sha256(blob).hexdigest(),
                width=w, height=h, n_bands=len(planes), epsg=epsg,
                chip_xmin=float(r0["chip_xmin"]),
                chip_ymax=float(r0["chip_ymax"]),
                chip_xres=float(r0["chip_xres"]),
                chip_yres=float(r0["chip_yres"]),
                n_overviews=len(factors),
            )
            return pd.DataFrame([base])
        except Exception as e:  # quarantine the chip, keep the export job
            return fail(f"error: {type(e).__name__}: {e}")

    return pixels.groupBy("chip_id").applyInPandas(export, schema=MANIFEST_SCHEMA)
