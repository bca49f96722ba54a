"""Driver-side output assembly: exploded chip/mosaic rows -> georeferenced
numpy tensors with CF-style attrs.

The distributed outputs stay exploded array-rows (the scalable layout); these
helpers reassemble a COLLECTED chip — the analogue of the reference's
xarray/CF assembly (`/root/reference/src/rasteret/core/raster_accessor.py:
1328-1477`: spatial_ref, GeoTransform, band/time coords) without requiring
xarray in the engine: the plain (tensor, attrs) pair has everything needed
to georeference each pixel (``pixel_coords`` gives the lon/lat axes).

Attrs contract (GDAL GeoTransform order, north-up lon/lat grid):
  transform = (xres, 0, xmin, 0, -yres, ymax)   x = xmin + (col+0.5)*xres
  epsg      = grid_epsg from the row            y = ymax - (row+0.5)*yres
"""

from __future__ import annotations

import numpy as np


def _attrs(row) -> dict:
    from rasteret_spark import crs as _crs

    # augmented rows (flip/rot) carry nulled georeferencing by contract
    # (operators/augment.py): refuse loudly instead of emitting a transform
    # that maps the wrong pixels
    try:
        aug = row["aug_op"]
    except (KeyError, ValueError, IndexError, TypeError):
        aug = None
    if aug is not None and aug != "identity":
        raise ValueError(
            f"row carries aug_op={aug!r}: geometric augmentation invalidates "
            "the north-up georeferencing; assemble only accepts identity or "
            "un-augmented rows"
        )
    epsg = int(row["grid_epsg"])
    try:
        wkt = _crs.crs_wkt(epsg)
    except ValueError:  # injected CRS without a registered WKT spelling
        wkt = None
    return {
        "transform": (
            float(row["chip_xres"]), 0.0, float(row["chip_xmin"]),
            0.0, -float(row["chip_yres"]), float(row["chip_ymax"]),
        ),
        "epsg": epsg,
        # CF/rioxarray-style spelling of the grid CRS (the reference's
        # spatial_ref parity, `core/raster_accessor.py:1328-1477`)
        "crs_wkt": wkt,
        "width": int(row["chip_w"]),
        "height": int(row["chip_h"]),
        "chip_id": row["chip_id"],
    }


def _plane(values, h: int, w: int) -> np.ndarray:
    if values is None:
        return np.full((h, w), np.nan)
    return np.asarray(
        [np.nan if v is None else float(v) for v in values], dtype=np.float64
    ).reshape(h, w)


def chip_to_array(row, value_col: str = "values") -> tuple[np.ndarray, dict]:
    """One mosaic row (MOSAIC_SCHEMA, collected) -> ((H, W) float64, attrs).
    Nulls become NaN.  ``value_col`` assembles derived arrays that carry
    the same grid columns — band-math indices (``"nd"``/``"ratio"``) and
    temporal composites (``"composite"``)."""
    attrs = _attrs(row)
    return _plane(row[value_col], attrs["height"], attrs["width"]), attrs


def pixel_coords(attrs: dict) -> tuple[np.ndarray, np.ndarray]:
    """(lon[width], lat[height]) pixel-center axes from assembled attrs."""
    a, _, c, _, e, f = attrs["transform"]
    lon = c + (np.arange(attrs["width"]) + 0.5) * a
    lat = f + (np.arange(attrs["height"]) + 0.5) * e
    return lon, lat


def stack_to_tensor(rows) -> tuple[np.ndarray, dict]:
    """Collected CHIP_STACK_SCHEMA rows of ONE chip -> ([T, C, H, W] float64,
    attrs).  T follows t_index ascending, C follows band ascending; missing
    (t, band) planes (band absent from an image, or a quarantined time step)
    are NaN.  attrs gains ``times`` (datetime per t), ``bands``, and
    ``status`` (per-t status strings — 'ok' or the quarantine error)."""
    rows = list(rows)
    if not rows:
        raise ValueError("no rows — cannot assemble an empty chip")
    chip_ids = {r["chip_id"] for r in rows}
    if len(chip_ids) != 1:
        raise ValueError(f"rows span multiple chips {sorted(chip_ids)}; group first")
    attrs = _attrs(rows[0])
    h, w = attrs["height"], attrs["width"]
    t_idx = sorted({int(r["t_index"]) for r in rows})
    bands = sorted({int(r["band"]) for r in rows if int(r["band"]) >= 0})
    t_pos = {t: i for i, t in enumerate(t_idx)}
    b_pos = {b: i for i, b in enumerate(bands)}
    tensor = np.full((len(t_idx), max(len(bands), 1), h, w), np.nan)
    times: dict[int, object] = {}
    status: dict[int, str] = {}
    for r in rows:
        ti = t_pos[int(r["t_index"])]
        times[ti] = r["datetime"]
        st = r["status"] if "status" in r else "ok"
        if int(r["band"]) < 0:  # quarantined time step: NaN planes, keep error
            status[ti] = st
            continue
        status.setdefault(ti, st)
        tensor[ti, b_pos[int(r["band"])]] = _plane(r["values"], h, w)
    attrs["times"] = [times.get(i) for i in range(len(t_idx))]
    attrs["bands"] = bands
    attrs["status"] = [status.get(i, "ok") for i in range(len(t_idx))]
    return tensor, attrs


def chip_batches(stack_df, batch_size: int = 8):
    """DataLoader-style iterator over a CHIP_STACK_SCHEMA DataFrame: yields
    lists of up to ``batch_size`` ``(tensor, attrs)`` pairs, one per chip —
    the reference adapter's batched dataset surface
    (`/root/reference/src/rasteret/integrations/torchgeo.py:292-299`) without
    a torch dependency.

    Streams through ``toLocalIterator`` after a chip_id/t_index/band sort, so
    the driver holds at most one batch of assembled chips plus one partition
    of exploded rows — never the full result."""
    rows = stack_df.orderBy("chip_id", "t_index", "band").toLocalIterator()
    batch: list = []
    current: list = []
    cur_id = None
    for row in rows:
        rid = row["chip_id"]
        if cur_id is not None and rid != cur_id:
            batch.append(stack_to_tensor(current))
            current = []
            if len(batch) >= batch_size:
                yield batch
                batch = []
        cur_id = rid
        current.append(row)
    if current:
        batch.append(stack_to_tensor(current))
    if batch:
        yield batch
