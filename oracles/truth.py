"""Generator-truth reference results for the driver's DuckDB oracles.

q40/q43 read the generator's declared metadata (``images_meta_pdf``), so
the Spark side must recover the same facts by PARSING the encoded blobs.
Every pixel-valued result here is computed from
``synthetic.make_image_truth`` / ``make_tiff_image_truth`` — the pre-encode
array the generator drew (plus the value-level qlossy quantization mirror)
— and single-process numpy reductions.  No mini-raster container, no
CachedReader, no Spark: when the driver diffs a Spark query against a
parquet written from these frames, the comparison crosses the whole
encode -> header-parse -> tile-decode -> distributed-join stack instead of
reusing any of it.

Shared with the engine are only the deterministic coordinate/geometry
kernels (window math, CRS transforms, even-odd PIP, XXH64) and, for the
lossy TIFF jpeg rows of q62, the JPEG codec's per-tile round trip — the
same status the reference gives rasterio/shapely in its own fixture
oracles (its `tests/test_dataset_pixel_comparison.py`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rasteret_spark import crs, geom
from rasteret_spark.operators.decode import (
    pixel_axes_lonlat,
    pixel_centers_lonlat,
    window_from_bbox,
)
from rasteret_spark.sources import synthetic as syn

_INT32 = ["band", "win_col", "win_row", "win_w", "win_h"]
_INT64 = ["px_count", "valid_count"]
_FLOAT = ["v_sum", "v_mean", "v_min", "v_max"]


def _image_sidecar(i: int, seed: int = 42) -> dict:
    """Truth dict for image ``i`` — footprint bbox / caption / timestamp come
    from the generator's own pre-encode sidecar (one definition,
    `synthetic._row_sidecar`); only the row id is added here."""
    t = syn.make_image_truth(i, seed)
    t["image_id"] = f"img-{i:08d}"
    return t


# mini-raster header compression ids of the generator's format matrix (the
# container's declared enum, restated here so the oracle never reads it back
# from the codec module)
_MINIRASTER_COMP_CODE = {"raw": 0, "deflate": 1, "lzma": 2, "bz2": 3,
                         "packbits": 4, "qlossy": 5}


def images_meta_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Generator-truth metadata for the synthetic images table, WITHOUT any
    encode or header parse: width/height/bands/epsg/phash from the drawn
    truth, compression/predictor from the format matrix, tile counts from
    the 64x64 grid math.  This is the DuckDB side of the q40/q43 oracles —
    the Spark side must recover the same facts by PARSING the encoded
    blobs."""
    rows = []
    for i in range(n):
        t = syn.make_image_truth(i, seed)
        rows.append(
            {
                "image_id": f"img-{i:08d}",
                "fmt": t["fmt"],
                "width": t["w"],
                "height": t["h"],
                "compression": _MINIRASTER_COMP_CODE[t["fmt"]],
                "predictor": t["predictor"],
                "epsg": t["epsg"],
                "n_tiles": -(-t["w"] // 64) * (-(-t["h"] // 64)) * t["n_bands"],
                "phash": syn.phash64(t["arr"][0]),
            }
        )
    pdf = pd.DataFrame(rows)
    for c in ("width", "height", "compression", "predictor", "epsg", "n_tiles"):
        pdf[c] = pdf[c].astype("int32")
    pdf["phash"] = pdf["phash"].astype("int64")
    return pdf


def _zonal_truth_row(t: dict, aoi: dict, band: int) -> dict:
    """Mirror of the zonal kernel's per-(aoi, band) record over the truth
    array (`operators/decode.py:353-420` semantics, numpy single-process)."""
    bx0, by0, bx1, by1 = crs.bbox_from_lonlat(
        t["epsg"],
        float(aoi["xmin"]), float(aoi["ymin"]),
        float(aoi["xmax"]), float(aoi["ymax"]),
    )
    c0, r0, ww, wh = window_from_bbox(
        t["transform"], t["w"], t["h"], bx0, by0, bx1, by1
    )
    rec = {
        "image_id": t["image_id"],
        "aoi_id": aoi["aoi_id"],
        "band": band,
        "caption": t["caption"],
        "win_col": c0, "win_row": r0, "win_w": ww, "win_h": wh,
        "px_count": 0, "valid_count": 0,
        "v_sum": None, "v_mean": None, "v_min": None, "v_max": None,
        "status": "ok",
    }
    if ww <= 0 or wh <= 0:
        return rec
    wkb = bytes(aoi["geometry"])
    if crs.is_separable(t["epsg"]):
        lon, lat = pixel_axes_lonlat(t["transform"], t["epsg"], c0, r0, ww, wh)
        inside = geom.points_in_polygon_grid(lon, lat, wkb)
    else:
        glon, glat = pixel_centers_lonlat(t["transform"], t["epsg"], c0, r0, ww, wh)
        inside = geom.points_in_polygon_wkb(glon.ravel(), glat.ravel(), wkb).reshape(wh, ww)
    arr = t["expected"][band, r0 : r0 + wh, c0 : c0 + ww]
    valid = inside
    if t["nodata"] is not None:
        if np.isnan(t["nodata"]):
            valid = valid & ~np.isnan(arr.astype(np.float64))
        else:
            valid = valid & (arr != np.asarray(t["nodata"]).astype(arr.dtype))
    v = arr[valid].astype(np.float64)
    rec.update(
        px_count=int(inside.sum()),
        valid_count=int(v.size),
        v_sum=float(v.sum()) if v.size else None,
        v_mean=float(v.mean()) if v.size else None,
        v_min=float(v.min()) if v.size else None,
        v_max=float(v.max()) if v.size else None,
    )
    return rec


def zonal_truth_pdf(
    n_images: int = 120,
    n_aois: int = 40,
    seed: int = 42,
    bands: tuple[int, ...] = (0,),
) -> pd.DataFrame:
    """Expected output of the zonal query (brute-force pair enumeration +
    truth-array masking) with the engine's exact column dtypes."""
    aois = syn.aois_table(n_aois, seed).to_pylist()
    rows: list[dict] = []
    for i in range(n_images):
        t = _image_sidecar(i, seed)
        for aoi in aois:
            if not (
                t["xmax"] >= aoi["xmin"]
                and t["xmin"] <= aoi["xmax"]
                and t["ymax"] >= aoi["ymin"]
                and t["ymin"] <= aoi["ymax"]
            ):
                continue
            if not geom.rect_intersects_polygon(
                t["xmin"], t["ymin"], t["xmax"], t["ymax"], bytes(aoi["geometry"])
            ):
                continue
            for band in bands:
                if band < t["n_bands"]:
                    rows.append(_zonal_truth_row(t, aoi, band))
    pdf = pd.DataFrame(rows)
    for c in _INT32:
        pdf[c] = pdf[c].astype("int32")
    for c in _INT64:
        pdf[c] = pdf[c].astype("int64")
    for c in _FLOAT:
        pdf[c] = pdf[c].astype("float64")
    return pdf


def _sample_truth_rows(t: dict, pts: list[dict], max_ring: int, band: int) -> list[dict]:
    """Mirror of the point sampler's per-(image, band) records over the truth
    array (`operators/sampling.py:186-262` semantics) — but the ring fallback
    is a BRUTE-FORCE scan of the full Chebyshev window (all pixels within
    ``max_ring``), not the engine's incremental ring walk with early-retire
    certification, so selection bugs in either implementation can't hide."""
    sx, _, x0, _, sy, y0 = t["transform"]
    w, h = t["w"], t["h"]
    arr = t["expected"][band]
    nod = t["nodata"]
    xs, ys = crs.from_lonlat(
        t["epsg"],
        np.asarray([p["x"] for p in pts], dtype=float),
        np.asarray([p["y"] for p in pts], dtype=float),
    )
    fcols = (np.atleast_1d(xs) - x0) / sx
    frows = (np.atleast_1d(ys) - y0) / sy
    out = []
    for j, p in enumerate(pts):
        col, row = int(np.floor(fcols[j])), int(np.floor(frows[j]))
        in_b = 0 <= col < w and 0 <= row < h
        value = float(arr[row, col]) if in_b else np.nan
        valid = in_b and (nod is None or value != nod)
        ring_steps, s_col, s_row = 0, col if in_b else -1, row if in_b else -1
        if max_ring > 0 and nod is not None and in_b and not valid:
            best = None  # (d2, r, c, v) lexicographic over the whole window
            for r in range(max(0, row - max_ring), min(h, row + max_ring + 1)):
                for c in range(max(0, col - max_ring), min(w, col + max_ring + 1)):
                    if r == row and c == col:
                        continue
                    v = float(arr[r, c])
                    if np.isnan(v) or (np.isnan(nod) and np.isnan(v)) or v == nod:
                        continue
                    d2 = (r + 0.5 - frows[j]) ** 2 + (c + 0.5 - fcols[j]) ** 2
                    if best is None or (d2, r, c) < best[:3]:
                        best = (d2, r, c, v)
            if best is not None:
                _, br, bc, bv = best
                value, valid = bv, True
                ring_steps = max(abs(br - row), abs(bc - col))
                s_row, s_col = br, bc
        out.append(
            {
                "point_index": p["point_index"],
                "image_id": t["image_id"],
                "band": band,
                "px_col": col,
                "px_row": row,
                "in_bounds": in_b,
                "value": None if np.isnan(value) else value,
                "valid": bool(valid),
                "ring_steps": ring_steps,
                "sample_col": s_col,
                "sample_row": s_row,
                "status": "ok",
            }
        )
    return out


def sample_truth_pdf(
    n_images: int = 120,
    n_points: int = 200,
    max_ring: int = 4,
    seed: int = 42,
    bands: tuple[int, ...] = (0,),
    latest_only: bool = False,
) -> pd.DataFrame:
    """Expected output of the point-sample queries: brute-force candidate
    enumeration (inclusive bbox containment, `spatial_join.py:157-188`
    predicate), optional latest-per-point winner dedup (max datetime, tie ->
    min image_id — `asof.latest_per_key` semantics), then truth-array
    sampling with brute-force ring fallback."""
    pts = syn.points_table(n_points, seed).to_pylist()
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    pairs: dict[str, list[dict]] = {}  # image_id -> candidate points
    if latest_only:
        for p in pts:
            best = None
            for t in sidecars:
                if t["xmin"] <= p["x"] <= t["xmax"] and t["ymin"] <= p["y"] <= t["ymax"]:
                    # newest first; ties -> lexicographically smallest id
                    k = (t["datetime"], _NegStr(t["image_id"]))
                    if best is None or k > best[0]:
                        best = (k, t)
            if best is not None:
                pairs.setdefault(best[1]["image_id"], []).append(p)
    else:
        for t in sidecars:
            sel = [
                p
                for p in pts
                if t["xmin"] <= p["x"] <= t["xmax"] and t["ymin"] <= p["y"] <= t["ymax"]
            ]
            if sel:
                pairs[t["image_id"]] = sel
    by_id = {t["image_id"]: t for t in sidecars}
    rows: list[dict] = []
    for image_id, sel in pairs.items():
        t = by_id[image_id]
        for band in bands:
            if band < t["n_bands"]:
                rows.extend(_sample_truth_rows(t, sel, max_ring, band))
    pdf = pd.DataFrame(rows)
    pdf["point_index"] = pdf["point_index"].astype("int64")
    for c in ("band", "px_col", "px_row", "ring_steps", "sample_col", "sample_row"):
        pdf[c] = pdf[c].astype("int32")
    pdf["value"] = pdf["value"].astype("float64")
    for c in ("in_bounds", "valid"):
        pdf[c] = pdf[c].astype(bool)
    return pdf


_M64 = (1 << 64) - 1
_XP1, _XP2, _XP3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_XP4, _XP5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


def _xxh_long(v: int, seed: int) -> int:
    """XXH64 of one 8-byte little-endian long (public xxHash spec; the
    Catalyst ``xxhash64`` per-column step for LongType)."""
    h = ((seed & _M64) + _XP5 + 8) & _M64
    h ^= (_rotl64((v & _M64) * _XP2 & _M64, 31) * _XP1) & _M64
    h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
    return _xxh_fmix(h)


def _xxh_int(v: int, seed: int) -> int:
    """XXH64 4-byte path (Catalyst's IntegerType step)."""
    h = ((seed & _M64) + _XP5 + 4) & _M64
    h ^= ((v & 0xFFFFFFFF) * _XP1) & _M64
    h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
    return _xxh_fmix(h)


def spark_xxhash64_long_int(v: int, seed_lit: int) -> int:
    """Mirror of ``F.xxhash64(long_col, F.lit(int))`` (seed 42 fold) —
    verified bit-equal against Spark in tests."""
    h = _xxh_long(v, 42)
    h = _xxh_int(seed_lit, h)
    return h - (1 << 64) if h >= (1 << 63) else h


def chip_grid_truth(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    yres: float | None = None,
    stride: int | None = None,
    random_n: int | None = None,
    seed: int = 0,
    prefix: str = "chip",
    grid_epsg: int = 4326,
) -> list[dict]:
    """Mirror of ``chips.chip_requests``: grid mode (GridGeoSampler
    semantics: ceil((extent - chip)/stride) + 1 positions, last clamped
    flush) and random mode (xxhash64-derived uniform offsets)."""
    import math

    yres = xres if yres is None else yres
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    cw, ch = size * xres, size * yres
    out = []
    if random_n is not None:
        buckets = 1 << 30
        for cid in range(int(random_n)):
            ux = ((spark_xxhash64_long_int(cid, seed) % buckets) + buckets) % buckets
            uy = ((spark_xxhash64_long_int(cid, seed + 1) % buckets) + buckets) % buckets
            chip = {
                "chip_id": f"{prefix}-{cid:08d}",
                "chip_xmin": xmin + (ux / float(buckets)) * max((xmax - xmin) - cw, 0.0),
                "chip_ymax": ymax - (uy / float(buckets)) * max((ymax - ymin) - ch, 0.0),
                "chip_xres": float(xres),
                "chip_yres": float(yres),
                "chip_w": int(size),
                "chip_h": int(size),
            }
            if int(grid_epsg) != 4326:
                chip["grid_epsg"] = int(grid_epsg)
            out.append(chip)
        return out
    st = size if stride is None else int(stride)
    sx, sy = st * xres, st * yres
    n_x = max(math.ceil(((xmax - xmin) - cw) / sx) + 1, 1)
    n_y = max(math.ceil(((ymax - ymin) - ch) / sy) + 1, 1)
    for cid in range(int(n_x) * int(n_y)):
        i, j = cid % n_x, cid // n_x
        chip = {
            "chip_id": f"{prefix}-{cid:08d}",
            "chip_xmin": min(xmin + i * sx, max(xmax - cw, xmin)),
            "chip_ymax": max(ymax - j * sy, min(ymin + ch, ymax)),
            "chip_xres": float(xres),
            "chip_yres": float(yres),
            "chip_w": int(size),
            "chip_h": int(size),
        }
        if int(grid_epsg) != 4326:
            chip["grid_epsg"] = int(grid_epsg)
        out.append(chip)
    return out


def _chip_lonlat_bbox(chip: dict) -> tuple[float, float, float, float]:
    """Chip extent as a LON/LAT bbox — mirror of ``chips_as_aois`` (pixel-edge
    aligned; projected grids take bounds of the 8-point densified boundary)."""
    x0 = chip["chip_xmin"]
    x1 = chip["chip_xmin"] + chip["chip_w"] * chip["chip_xres"]
    y1 = chip["chip_ymax"]
    y0 = chip["chip_ymax"] - chip["chip_h"] * chip["chip_yres"]
    epsg = int(chip.get("grid_epsg", 4326))
    if epsg == 4326:
        return x0, y0, x1, y1
    t = np.linspace(0.0, 1.0, 8)
    xs = np.concatenate(
        [x0 + (x1 - x0) * t, np.full(len(t), x1), x1 + (x0 - x1) * t, np.full(len(t), x0)]
    )
    ys = np.concatenate(
        [np.full(len(t), y0), y0 + (y1 - y0) * t, np.full(len(t), y1), y1 + (y0 - y1) * t]
    )
    lon, lat = crs.to_lonlat(epsg, xs, ys)
    return float(lon.min()), float(lat.min()), float(lon.max()), float(lat.max())


def _truth_nearest(t: dict, band: int, chip: dict) -> np.ndarray:
    """Nearest resample of a truth array onto a chip grid — mirror of
    ``raster_mosaic.reproject_nearest`` over ``expected`` (no reader)."""
    w, h = chip["chip_w"], chip["chip_h"]
    gxs = chip["chip_xmin"] + (np.arange(w) + 0.5) * chip["chip_xres"]
    gys = chip["chip_ymax"] - (np.arange(h) + 0.5) * chip["chip_yres"]
    gx, gy = np.meshgrid(gxs, gys)
    xs, ys = crs.transform_points(
        int(chip.get("grid_epsg", 4326)), t["epsg"], gx.ravel(), gy.ravel()
    )
    a, _, c, _, e, f = t["transform"]
    cols = np.floor((xs - c) / a).astype(np.int64)
    rows = np.floor((ys - f) / e).astype(np.int64)
    inb = (cols >= 0) & (cols < t["w"]) & (rows >= 0) & (rows < t["h"])
    out = np.full(w * h, np.nan)
    if inb.any():
        vals = t["expected"][band].astype(np.float64)[rows[inb], cols[inb]]
        nod = t["nodata"]
        if nod is not None:
            vals = np.where(np.isnan(vals) if np.isnan(nod) else vals == nod, np.nan, vals)
        out[inb] = vals
    return out.reshape(h, w)


def _truth_average(t: dict, band: int, chip: dict) -> np.ndarray:
    """Average resample mirror (``reproject_average`` semantics: mean of valid
    source-pixel centers per target cell, nearest fallback where none land) —
    computed over the FULL truth array, no source-window clipping."""
    w, h = chip["chip_w"], chip["chip_h"]
    xmin, ymax = chip["chip_xmin"], chip["chip_ymax"]
    xres, yres = chip["chip_xres"], chip["chip_yres"]
    gepsg = int(chip.get("grid_epsg", 4326))
    a, _, c, _, e, f = t["transform"]
    arr = t["expected"][band].astype(np.float64)
    nod = t["nodata"]
    if nod is not None:
        arr = np.where(np.isnan(arr) if np.isnan(nod) else arr == nod, np.nan, arr)
    src_x = a * (np.arange(t["w"]) + 0.5) + c
    src_y = e * (np.arange(t["h"]) + 0.5) + f
    if crs.is_separable(t["epsg"]) and crs.is_separable(gepsg):
        gxv, _ = crs.transform_points(t["epsg"], gepsg, src_x, np.zeros_like(src_x))
        _, gyv = crs.transform_points(t["epsg"], gepsg, np.zeros_like(src_y), src_y)
        tcol = np.floor((gxv - xmin) / xres).astype(np.int64)
        trow = np.floor((ymax - gyv) / yres).astype(np.int64)
        gc, gr = np.meshgrid(tcol, trow)
    else:
        gsx, gsy = np.meshgrid(src_x, src_y)
        tx, ty = crs.transform_points(t["epsg"], gepsg, gsx.ravel(), gsy.ravel())
        gc = np.floor((tx - xmin) / xres).astype(np.int64).reshape(gsx.shape)
        gr = np.floor((ymax - ty) / yres).astype(np.int64).reshape(gsx.shape)
    keep = (gc >= 0) & (gc < w) & (gr >= 0) & (gr < h) & ~np.isnan(arr)
    out = np.full(w * h, np.nan)
    if keep.any():
        flat = (gr[keep] * w + gc[keep]).astype(np.int64)
        sums = np.zeros(w * h)
        cnts = np.zeros(w * h)
        np.add.at(sums, flat, arr[keep])
        np.add.at(cnts, flat, 1.0)
        got = cnts > 0
        out[got] = sums[got] / cnts[got]
    empty = np.isnan(out)
    if empty.any():
        out[empty] = _truth_nearest(t, band, chip).ravel()[empty]
    return out.reshape(h, w)


def _chip_cands_truth(chip: dict, sidecars: list[dict]) -> list[dict]:
    """Bbox-overlap candidates of one chip, in composite order (newest-first,
    ties -> image_id ascending)."""
    axmin, aymin, axmax, aymax = _chip_lonlat_bbox(chip)
    cands = [
        t
        for t in sidecars
        if t["xmax"] >= axmin and t["xmin"] <= axmax
        and t["ymax"] >= aymin and t["ymin"] <= aymax
    ]
    cands.sort(key=lambda t: t["image_id"])
    cands.sort(key=lambda t: t["datetime"], reverse=True)
    return cands


def _composite_chip(
    chip: dict, kept: list[dict], band: int, method: str = "nearest"
) -> tuple[np.ndarray, int]:
    """First-valid composite of one chip band over truth arrays; returns
    (canvas, n_contributing) — mirror of the ``first_valid_mosaic_pixels``
    inner loop including the early break on a full canvas."""
    resample = _truth_average if method == "average" else _truth_nearest
    w, h = chip["chip_w"], chip["chip_h"]
    canvas = np.full((h, w), np.nan)
    contributing = 0
    for t in kept:
        if not np.isnan(canvas).any():
            break
        if band >= t["n_bands"]:
            continue
        rep = resample(t, band, chip)
        need = np.isnan(canvas) & ~np.isnan(rep)
        if need.any():
            canvas[need] = rep[need]
            contributing += 1
    return canvas, contributing


def mosaic_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0,),
    grid_epsg: int = 4326,
    method: str = "nearest",
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the first-valid mosaic queries: chip grid mirror,
    brute-force candidate enumeration (bbox overlap in lon/lat), newest-first
    depth cap, then per-pixel first-valid compositing over truth arrays."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride, grid_epsg=grid_epsg)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        n_candidates = len(cands)
        kept = cands[:max_images_per_chip]
        for band in bands:
            canvas, contributing = _composite_chip(chip, kept, band, method)
            filled = int((~np.isnan(canvas)).sum())
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "grid_epsg": int(chip.get("grid_epsg", 4326)),
                    "n_images": len(kept),
                    "n_contributing": contributing,
                    "filled": filled,
                    "v_sum": float(np.nansum(canvas)) if filled else None,
                    "capped": bool(n_candidates > len(kept)),
                    "status": "ok",
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "grid_epsg", "n_images", "n_contributing"):
        pdf[c] = pdf[c].astype("int32")
    pdf["filled"] = pdf["filled"].astype("int64")
    pdf["v_sum"] = pdf["v_sum"].astype("float64")
    pdf["capped"] = pdf["capped"].astype(bool)
    return pdf


def chip_stack_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int | None = None,
    random_n: int | None = None,
    chip_seed: int = 0,
    bands: tuple[int, ...] = (0,),
    t_start=None,
    t_end=None,
    t_step: int = 1,
    max_images_per_chip: int = 32,
    with_status: bool = False,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the chip-stack/serve queries (light columns):
    chip-grid mirror -> bbox-overlap candidates -> interval + t-step slice
    (ts asc, image_id asc) -> newest-first depth cap -> oldest-first t_index
    assignment -> per-(t, band) filled counts over truth arrays."""
    chips = chip_grid_truth(
        bbox, size, xres, stride=stride, random_n=random_n, seed=chip_seed
    )
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        axmin, aymin, axmax, aymax = _chip_lonlat_bbox(chip)
        cands = [
            t
            for t in sidecars
            if t["xmax"] >= axmin and t["xmin"] <= axmax
            and t["ymax"] >= aymin and t["ymin"] <= aymax
        ]
        if t_start is not None:
            cands = [t for t in cands if t["datetime"] >= t_start]
        if t_end is not None:
            cands = [t for t in cands if t["datetime"] <= t_end]
        # t-step slice in (ts asc, image_id asc) order
        cands.sort(key=lambda t: (t["datetime"], t["image_id"]))
        if t_step > 1:
            cands = cands[::t_step]
        # depth cap: newest-first, ties -> image_id asc, keep first N ...
        cands.sort(key=lambda t: t["image_id"])
        cands.sort(key=lambda t: t["datetime"], reverse=True)
        kept = cands[:max_images_per_chip]
        # ... then stack oldest-first (ts asc, image_id asc)
        kept.sort(key=lambda t: (t["datetime"], t["image_id"]))
        for t_index, t in enumerate(kept):
            for band in bands:
                if band >= t["n_bands"]:
                    continue
                rep = _truth_nearest(t, band, chip)
                row = {
                    "chip_id": chip["chip_id"],
                    "t_index": t_index,
                    "image_id": t["image_id"],
                    "band": band,
                    "filled": int((~np.isnan(rep)).sum()),
                }
                if with_status:
                    row["status"] = "ok"
                rows.append(row)
    pdf = pd.DataFrame(rows)
    for c in ("t_index", "band"):
        pdf[c] = pdf[c].astype("int32")
    pdf["filled"] = pdf["filled"].astype("int64")
    return pdf


_TIFF_COMP_CODE = {"raw": 0, "deflate": 1, "packbits": 4, "lzw": 6,
                   "zstd": 7, "jpeg": 8, "lerc": 9}


def cog_export_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
    overview_min_dim: int = 32,
) -> pd.DataFrame:
    """Expected re-read verification of the COG export sink (q82): compose
    the first-valid mosaic truth per chip, cast each band plane to float32
    (the sink's storage dtype) the way the file roundtrip does, and mirror
    the nearest-neighbour overview ladder the writer contracts (powers of
    two while the decimated image stays >= ``overview_min_dim`` — spelled
    here independently of ``raster_sink._overview_factors``).

    ``filled``/``v_sum`` are computed from the float32-then-float64 pixel
    sequence in row-major order — exactly what decoding the written file
    yields — so the oracle is bit-exact, not approximate."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        w, h = int(chip["chip_w"]), int(chip["chip_h"])
        n_ov, f = 0, 2
        while n_ov < 6 and min(w, h) // f >= overview_min_dim:
            n_ov += 1
            f *= 2
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            a64 = canvas.astype(np.float32).astype(np.float64)
            filled = int((~np.isnan(a64)).sum())
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "width": w,
                    "height": h,
                    "n_overviews": n_ov,
                    "filled": filled,
                    "v_sum": float(np.nansum(a64)) if filled else None,
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "width", "height", "n_overviews"):
        pdf[c] = pdf[c].astype("int32")
    pdf["filled"] = pdf["filled"].astype("int64")
    pdf["v_sum"] = pdf["v_sum"].astype("float64")
    return pdf


def shard_export_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    n_shards: int,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected sample rows read back from the tar-shard export (q83):
    mosaic truth per chip, stacked band-major and cast to float32 (the
    sink's .npy storage), shard assignment mirrored from Catalyst
    ``pmod(xxhash64(chip_id), n_shards)`` via the XXH64 spec
    implementation."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        w, h = int(chip["chip_w"]), int(chip["chip_h"])
        planes = [
            _composite_chip(chip, kept, band)[0].astype(np.float32)
            for band in bands
        ]
        a64 = np.stack(planes).astype(np.float64)
        filled = int((~np.isnan(a64)).sum())
        rows.append(
            {
                "chip_id": chip["chip_id"],
                "shard_id": _xxh64_str(chip["chip_id"]) % n_shards,
                "n_bands": len(bands),
                "height": h,
                "width": w,
                "filled": filled,
                "v_sum": float(np.nansum(a64)) if filled else None,
            }
        )
    pdf = pd.DataFrame(rows)
    for c in ("shard_id", "n_bands", "height", "width"):
        pdf[c] = pdf[c].astype("int32")
    pdf["filled"] = pdf["filled"].astype("int64")
    pdf["v_sum"] = pdf["v_sum"].astype("float64")
    return pdf


def global_band_stats_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected dataset-wide per-band normalization stats (q85): the
    single-process numpy fold of the same mosaic truth planes the
    distributed ``band_math.global_band_stats`` pass reduces — population
    std from sum / sum-of-squares in float64."""
    chips = sorted(
        chip_grid_truth(bbox, size, xres, stride=stride),
        key=lambda c: str(c["chip_id"]),
    )
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    acc: dict[int, dict] = {
        b: {"n_chips": 0, "n_px": 0, "n_valid": 0, "s": 0.0, "ss": 0.0,
            "vmin": np.inf, "vmax": -np.inf}
        for b in bands
    }
    # fold order mirrors the deterministic Catalyst pass bit-for-bit:
    # per chip a sequential left fold over the row-major valid pixels
    # (F.aggregate semantics, NOT numpy pairwise summation), then chips
    # fold in sorted chip_id order (the array_sort'ed partial structs)
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        for b in bands:
            plane = _composite_chip(chip, kept, b)[0].astype(np.float64)
            a = acc[b]
            v = plane.ravel()
            v = v[~np.isnan(v)]
            s = ss = 0.0
            for x in v.tolist():
                s += x
                ss += x * x
            a["n_chips"] += 1
            a["n_px"] += plane.size
            a["n_valid"] += v.size
            a["s"] += s
            a["ss"] += ss
            if v.size:
                a["vmin"] = min(a["vmin"], float(v.min()))
                a["vmax"] = max(a["vmax"], float(v.max()))
    rows = []
    for b in bands:
        a = acc[b]
        n = a["n_valid"]
        mean = a["s"] / n if n else None
        var = max(a["ss"] / n - mean * mean, 0.0) if n else None
        rows.append(
            {
                "band": b,
                "n_chips": a["n_chips"],
                "n_px": a["n_px"],
                "n_valid": n,
                "mean": mean,
                "std": float(np.sqrt(var)) if n else None,
                "vmin": a["vmin"] if n else None,
                "vmax": a["vmax"] if n else None,
            }
        )
    pdf = pd.DataFrame(rows)
    pdf["band"] = pdf["band"].astype("int32")
    for c in ("n_chips", "n_px", "n_valid"):
        pdf[c] = pdf[c].astype("int64")
    for c in ("mean", "std", "vmin", "vmax"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


def image_shard_truth_pdf(
    n_shards: int,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected sample rows read back from the image+caption tar-shard
    export (q84): per image the float32 cast of the generator's pre-encode
    ``expected`` array (nodata masked to NaN, mirroring the sink), the
    caption VERBATIM, and the shard id mirrored from Catalyst
    ``pmod(xxhash64(image_id), n_shards)`` via the XXH64 spec
    implementation.  Pure generator math — crosses the whole
    encode/decode/tar/read stack without reusing any of it."""
    rows: list[dict] = []
    for i in range(n_images):
        t = syn.make_image_truth(i, seed)
        image_id = f"img-{i:08d}"
        exp = t["expected"]
        a = exp.astype(np.float32)
        nodata = t["nodata"]
        if nodata is not None and not np.isnan(nodata):
            a = np.where(exp == np.asarray(nodata).astype(exp.dtype), np.nan, a)
        a64 = a.astype(np.float64)
        filled = int(np.count_nonzero(~np.isnan(a64)))
        rows.append(
            {
                "image_id": image_id,
                "shard_id": _xxh64_str(image_id) % n_shards,
                "n_bands": int(exp.shape[0]),
                "height": int(exp.shape[1]),
                "width": int(exp.shape[2]),
                "filled": filled,
                "v_sum": float(np.nansum(a64)) if filled else None,
                "caption": t["caption"],
            }
        )
    pdf = pd.DataFrame(rows)
    for c in ("shard_id", "n_bands", "height", "width"):
        pdf[c] = pdf[c].astype("int32")
    pdf["filled"] = pdf["filled"].astype("int64")
    pdf["v_sum"] = pdf["v_sum"].astype("float64")
    return pdf


def _jpeg_round_trip(t: dict) -> np.ndarray:
    """Post-decode pixels of a lossy TIFF jpeg row: each tile (64x64,
    zero-padded) or strip (48 rows) of each planar band through the JPEG
    codec at the writer's quality 92, cropped back to the image."""
    from rasteret_spark.format import jpegcodec

    h, w = t["h"], t["w"]
    th, tw = (64, 64) if t["tiled"] else (min(48, h), w)
    out = np.empty_like(t["arr"])
    for b, plane in enumerate(t["arr"]):
        for y0 in range(0, h, th):
            for x0 in range(0, w, tw):
                blk = plane[y0 : y0 + th, x0 : x0 + tw]
                if t["tiled"]:
                    blk = np.pad(blk, ((0, th - blk.shape[0]), (0, tw - blk.shape[1])))
                dec = jpegcodec.decode(jpegcodec.encode(blk, quality=92))
                out[b, y0 : y0 + th, x0 : x0 + tw] = dec[: min(th, h - y0), : min(tw, w - x0)]
    return out


def _tiff_sidecar(i: int, seed: int = 42) -> dict:
    """TIFF truth dict plus footprint bbox / caption / image_id (same corner
    and caption math as ``make_tiff_image_row``).  For the lossy jpeg rows
    the generator declares no pre-encode expected pixels; those rows take
    them from a per-tile JPEG round trip of the drawn array — the container/
    window path is still independently checked, the codec itself is pinned
    by the JPEG wire tests instead."""
    t = syn.make_tiff_image_truth(i, seed)
    if t["expected"] is None:
        t["expected"] = _jpeg_round_trip(t)
    if t["pixel_is_point"]:
        # the FILE stores a center tiepoint; the engine recovers the area
        # origin as tie - scale/2 — mirror that float roundtrip exactly
        # (format/tiff.py:276-279), it is the container's declared georef
        # (the footprint bbox above keeps the generator's original origin,
        # exactly like the written row)
        sx, _, x0, _, sy, y0 = t["transform"]
        t["transform"] = (sx, 0.0, (x0 + sx / 2.0) - sx / 2.0,
                          0.0, sy, (y0 - sx / 2.0) + sx / 2.0)
    t["image_id"] = f"tif-{i:08d}"
    return t


def tiff_zonal_truth_pdf(
    n_images: int = 96,
    n_aois: int = 40,
    seed: int = 42,
    bands: tuple[int, ...] = (0,),
) -> pd.DataFrame:
    """Expected output of the TIFF enrich+zonal query: the zonal truth mirror
    over TIFF-backed truth arrays, joined with the format matrix's DECLARED
    header facts (container/byte order/codec enum/predictor) — the Spark
    side must recover every one of them from real IFD walks."""
    aois = syn.aois_table(n_aois, seed).to_pylist()
    rows: list[dict] = []
    for i in range(n_images):
        t = _tiff_sidecar(i, seed)
        facts = {
            "container": "bigtiff" if t["bigtiff"] else "tiff",
            "byte_order": t["byte_order"],
            "codec": _TIFF_COMP_CODE[t["fmt"]],
            "predictor": t["predictor"],
        }
        for aoi in aois:
            if not (
                t["xmax"] >= aoi["xmin"] and t["xmin"] <= aoi["xmax"]
                and t["ymax"] >= aoi["ymin"] and t["ymin"] <= aoi["ymax"]
            ):
                continue
            if not geom.rect_intersects_polygon(
                t["xmin"], t["ymin"], t["xmax"], t["ymax"], bytes(aoi["geometry"])
            ):
                continue
            for band in bands:
                if band < t["n_bands"]:
                    z = _zonal_truth_row(t, aoi, band)
                    rows.append(
                        {
                            "image_id": z["image_id"],
                            "aoi_id": z["aoi_id"],
                            "band": band,
                            **facts,
                            "px_count": z["px_count"],
                            "valid_count": z["valid_count"],
                            "v_mean": z["v_mean"],
                            "status": "ok",
                        }
                    )
    pdf = pd.DataFrame(rows)
    pdf["band"] = pdf["band"].astype("int32")
    pdf["codec"] = pdf["codec"].astype("int32")
    pdf["predictor"] = pdf["predictor"].astype("int32")
    for c in ("px_count", "valid_count"):
        pdf[c] = pdf[c].astype("int64")
    pdf["v_mean"] = pdf["v_mean"].astype("float64")
    return pdf


def overview_truth_pdf(
    n_images: int = 96,
    seed: int = 42,
    overviews: tuple[int, ...] = (2, 4),
    factors: tuple[int, ...] = (1, 2, 4),
) -> pd.DataFrame:
    """Expected output of the overview-pixel query: pyramids rebuilt as exact
    ``[::f, ::f]`` decimations of the pre-encode band-0 array, the engine's
    pick-coarsest-level-not-exceeding-factor rule and trunc-scaled window
    mapping mirrored, position-weighted checksums over the sliced window.
    Lossy jpeg rows are skipped (their pyramids re-encode per level)."""
    rows: list[dict] = []
    for i in range(n_images):
        t = syn.make_tiff_image_truth(i, seed)
        if t["fmt"] == "jpeg":
            continue
        arr0 = t["expected"][0]
        levels = [arr0] + (
            [arr0[::f, ::f] for f in overviews] if t["tiled"] else []
        )
        w, h = t["w"], t["h"]
        c0, r0 = w // 4, h // 4
        ww, wh = w // 2, h // 2
        for factor in factors:
            best = 0
            for li, lv in enumerate(levels):
                dec = w / lv.shape[1]
                if dec <= factor + 1e-9 and dec >= w / levels[best].shape[1]:
                    best = li
            lv = levels[best]
            fx = w / lv.shape[1]
            fy = h / lv.shape[0]
            cc, rr = int(c0 / fx), int(r0 / fy)
            www = max(int(ww / fx), 1)
            whh = max(int(wh / fy), 1)
            win = lv[rr : rr + whh, cc : cc + www].astype(np.float64)
            v = win.ravel()
            rows.append(
                {
                    "image_id": f"tif-{i:08d}",
                    "factor": factor,
                    "n_levels": len(levels),
                    "level": best,
                    "win_w": win.shape[1],
                    "win_h": win.shape[0],
                    "checksum": float(np.nansum(v * np.arange(1, v.size + 1))),
                    "status": "ok",
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("factor", "n_levels", "level", "win_w", "win_h"):
        pdf[c] = pdf[c].astype("int32")
    pdf["checksum"] = pdf["checksum"].astype("float64")
    return pdf


def band_index_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    band_a: int = 1,
    band_b: int = 0,
    lo: float = 0.0,
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the band-index query: first-valid composites of
    both bands over truth arrays, then ``(a - b) / (a + b)`` with the
    engine's null semantics (null where either band is unfilled or the
    denominator is exactly 0), summary stats re-folded sequentially, and
    the ``>= lo`` mask count."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        ca, _ = _composite_chip(chip, kept, band_a)
        cb, _ = _composite_chip(chip, kept, band_b)
        a, b = ca.ravel(), cb.ravel()
        denom = a + b
        with np.errstate(divide="ignore", invalid="ignore"):
            nd = np.where(
                np.isnan(a) | np.isnan(b) | (denom == 0.0), np.nan, (a - b) / denom
            )
        valid = nd[~np.isnan(nd)]
        n = int(valid.size)
        rows.append(
            {
                "chip_id": chip["chip_id"],
                "nd_filled": n,
                "nd_mean": (_fold_sum(valid) / n) if n else None,
                "nd_min": float(valid.min()) if n else None,
                "nd_max": float(valid.max()) if n else None,
                "n_nonneg": int((valid >= lo).sum()),
            }
        )
    pdf = pd.DataFrame(rows)
    pdf["nd_filled"] = pdf["nd_filled"].astype("int32")
    pdf["n_nonneg"] = pdf["n_nonneg"].astype("int32")
    for c in ("nd_mean", "nd_min", "nd_max"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


def temporal_median_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the temporal-median query: per (chip, band), the
    per-pixel median across the stack's timesteps (nulls skipped per pixel;
    even counts average the two middle values), then the mean of the
    composited pixels re-folded sequentially."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        kept = _chip_cands_truth(chip, sidecars)[:max_images_per_chip]
        for band in bands:
            planes = [
                _truth_nearest(t, band, chip).ravel()
                for t in kept
                if band < t["n_bands"]
            ]
            if not planes:
                continue
            stack = np.stack(planes)  # (n_t, n_px)
            comp = np.full(stack.shape[1], np.nan)
            for i in range(stack.shape[1]):
                v = stack[:, i]
                v = np.sort(v[~np.isnan(v)])
                if v.size:
                    comp[i] = (v[(v.size - 1) // 2] + v[v.size // 2]) / 2
            valid = comp[~np.isnan(comp)]
            n = int(valid.size)
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "n_t": len(planes),
                    "n_valid_px": n,
                    "median_mean": (_fold_sum(valid) / n) if n else None,
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "n_t", "n_valid_px"):
        pdf[c] = pdf[c].astype("int32")
    pdf["median_mean"] = pdf["median_mean"].astype("float64")
    return pdf


def _median_composite(planes: list[np.ndarray], n_px: int) -> np.ndarray:
    """Per-pixel median over a list of flat truth planes (nulls skipped per
    pixel, even counts average the two middle values — the engine's
    sorted-array ``(lo + hi) / 2`` spelling exactly)."""
    comp = np.full(n_px, np.nan)
    if not planes:
        return comp
    stack = np.stack(planes)
    for i in range(n_px):
        v = np.sort(stack[:, i][~np.isnan(stack[:, i])])
        if v.size:
            comp[i] = (v[(v.size - 1) // 2] + v[v.size // 2]) / 2
    return comp


def change_detect_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    split,
    threshold: float,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the two-epoch change-detection query: per
    (chip, band), the per-pixel median composite of the timesteps BEFORE
    ``split`` and AT/AFTER it, the ``after - before`` delta, and the
    engine's scalar projections — epoch depths, valid-delta count, the
    ``|delta| > threshold`` changed-pixel count, and the index-weighted
    sequential fold of the delta array (nulls fold as 0)."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        kept = _chip_cands_truth(chip, sidecars)[:max_images_per_chip]
        for band in bands:
            planes = [
                (t["datetime"], _truth_nearest(t, band, chip).ravel())
                for t in kept
                if band < t["n_bands"]
            ]
            if not planes:
                continue
            before = [p for d, p in planes if d < split]
            after = [p for d, p in planes if d >= split]
            n_px = planes[0][1].size
            delta = _median_composite(after, n_px) - _median_composite(
                before, n_px
            )
            valid = ~np.isnan(delta)
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "n_before": len(before),
                    "n_after": len(after),
                    "delta_valid": int(valid.sum()),
                    "delta_changed": int(
                        (np.abs(delta[valid]) > threshold).sum()
                    ),
                    "delta_wsum": _fold_sum(
                        (0.0 if np.isnan(d) else d) * (i + 1)
                        for i, d in enumerate(delta)
                    ),
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "n_before", "n_after", "delta_valid", "delta_changed"):
        pdf[c] = pdf[c].astype("int32")
    pdf["delta_wsum"] = pdf["delta_wsum"].astype("float64")
    return pdf


def temporal_trend_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
    per_seconds: float = 86400.0,
) -> pd.DataFrame:
    """Expected output of the per-pixel temporal-trend query: per
    (chip, band), the OLS slope/intercept of value ~ time (days from the
    group's first timestep) folded SEQUENTIALLY over observations sorted by
    (datetime, image_id) — the exact accumulation order of the engine's
    ``array_sort`` + ``aggregate`` spelling, so sums are bit-identical —
    then the engine's scalar projections (valid-fit count and
    index-weighted folds of both arrays, nulls as 0)."""
    import datetime as dt

    epoch0 = dt.datetime(1970, 1, 1)
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        kept = _chip_cands_truth(chip, sidecars)[:max_images_per_chip]
        for band in bands:
            planes = [
                (t["datetime"], t["image_id"],
                 _truth_nearest(t, band, chip).ravel())
                for t in kept
                if band < t["n_bands"]
            ]
            if not planes:
                continue
            planes.sort(key=lambda p: (p[0], p[1]))
            t0 = (planes[0][0] - epoch0).total_seconds()
            ts = [
                ((d - epoch0).total_seconds() - t0) / per_seconds
                for d, _, _ in planes
            ]
            n_px = planes[0][2].size
            slope = np.full(n_px, np.nan)
            intercept = np.full(n_px, np.nan)
            for i in range(n_px):
                n = st = sv = stt = stv = 0.0
                for t, (_, _, plane) in zip(ts, planes):
                    v = plane[i]
                    if not np.isnan(v):
                        n += 1.0
                        st += t
                        sv += v
                        stt += t * t
                        stv += t * v
                den = n * stt - st * st
                if den != 0.0:
                    slope[i] = (n * stv - st * sv) / den
                    intercept[i] = (sv - slope[i] * st) / n
            valid = ~np.isnan(slope)
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "n_t": len(planes),
                    "slope_valid": int(valid.sum()),
                    "slope_wsum": _fold_sum(
                        (0.0 if np.isnan(m) else m) * (i + 1)
                        for i, m in enumerate(slope)
                    ),
                    "intercept_wsum": _fold_sum(
                        (0.0 if np.isnan(b) else b) * (i + 1)
                        for i, b in enumerate(intercept)
                    ),
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "n_t", "slope_valid"):
        pdf[c] = pdf[c].astype("int32")
    for c in ("slope_wsum", "intercept_wsum"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


def gap_fill_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the temporal gap-fill query: the q51 stack mirror,
    then a PER-PIXEL python loop (bisect over valid timesteps — structurally
    independent of the engine's accumulate-vectorized kernel): interior gaps
    interpolate ``vp + w*(vn - vp)`` in epoch-seconds time, edge gaps copy
    the nearest valid, all-gap pixels stay null."""
    import datetime as dt

    epoch0 = dt.datetime(1970, 1, 1)
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        kept = _chip_cands_truth(chip, sidecars)[:max_images_per_chip]
        kept.sort(key=lambda t: (t["datetime"], t["image_id"]))
        for band in bands:
            # the STACK's t_index enumerates ALL kept images; images lacking
            # this band emit no row but still consume their slot
            steps = [
                (gk, t) for gk, t in enumerate(kept) if band < t["n_bands"]
            ]
            if not steps:
                continue
            planes = np.stack(
                [_truth_nearest(t, band, chip).ravel() for _, t in steps]
            )
            # tz-independent epoch seconds (naive arithmetic == pandas
            # int64-ns/1e9 for TIMESTAMP_NTZ values)
            tsec = np.array(
                [(t["datetime"] - epoch0).total_seconds() for _, t in steps],
                dtype=np.float64,
            )
            T, P = planes.shape
            filled = planes.copy()
            n_filled = np.zeros(T, dtype=np.int64)
            for p in range(P):
                vi = [k for k in range(T) if not np.isnan(planes[k, p])]
                if not vi or len(vi) == T:
                    continue
                for k in range(T):
                    if not np.isnan(planes[k, p]):
                        continue
                    prev = max((j for j in vi if j < k), default=None)
                    nxt = min((j for j in vi if j > k), default=None)
                    if prev is not None and nxt is not None:
                        tp, tn, tk = tsec[prev], tsec[nxt], tsec[k]
                        vp, vn = planes[prev, p], planes[nxt, p]
                        if tn == tp:
                            filled[k, p] = vp
                        else:
                            w = (tk - tp) / (tn - tp)
                            filled[k, p] = vp + w * (vn - vp)
                    elif nxt is not None:
                        filled[k, p] = planes[nxt, p]
                    elif prev is not None:
                        filled[k, p] = planes[prev, p]
                    else:
                        continue
                    n_filled[k] += 1
            for k, (gk, t) in enumerate(steps):
                flat = filled[k]
                wsum = np.where(np.isnan(flat), 0.0, flat) * np.arange(
                    1, flat.size + 1
                )
                rows.append(
                    {
                        "chip_id": chip["chip_id"],
                        "t_index": gk,
                        "image_id": t["image_id"],
                        "band": band,
                        "n_missing": int(np.isnan(planes[k]).sum()),
                        "n_filled": int(n_filled[k]),
                        "weighted": _fold_sum(wsum),
                    }
                )
    pdf = pd.DataFrame(rows)
    for c in ("t_index", "band"):
        pdf[c] = pdf[c].astype("int32")
    for c in ("n_missing", "n_filled"):
        pdf[c] = pdf[c].astype("int64")
    pdf["weighted"] = pdf["weighted"].astype("float64")
    return pdf


def pixel_series_truth_pdf(
    n_images: int = 120,
    n_points: int = 200,
    seed: int = 42,
    bands: tuple[int, ...] = (0,),
) -> pd.DataFrame:
    """Expected output of the pixel-series query: valid in-bounds truth
    samples (no ring fallback), grouped per (point, band), folded in
    chronological (t, image_id) order — n_obs / t_first / t_last / v_mean
    (`sampling.point_time_series` semantics)."""
    flat = sample_truth_pdf(n_images, n_points, max_ring=0, seed=seed, bands=bands)
    flat = flat[flat["valid"] & flat["in_bounds"]]
    times = {
        t["image_id"]: t["datetime"]
        for t in (_image_sidecar(i, seed) for i in range(n_images))
    }
    rows: list[dict] = []
    for (pidx, band), grp in flat.groupby(["point_index", "band"]):
        obs = sorted(
            (times[r.image_id], r.image_id, r.value) for r in grp.itertuples()
        )
        rows.append(
            {
                "point_index": int(pidx),
                "band": int(band),
                "n_obs": len(obs),
                "t_first": obs[0][0],
                "t_last": obs[-1][0],
                "v_mean": _fold_sum([o[2] for o in obs]) / len(obs),
            }
        )
    pdf = pd.DataFrame(rows)
    pdf["point_index"] = pdf["point_index"].astype("int64")
    for c in ("band", "n_obs"):
        pdf[c] = pdf[c].astype("int32")
    pdf["v_mean"] = pdf["v_mean"].astype("float64")
    return pdf


def label_masks_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    n_aois: int = 40,
    seed: int = 42,
    class_col: str = "crop",
) -> pd.DataFrame:
    """Expected output of the label-rasterization query.  Structurally
    independent of the engine's sequential burn-with-early-break: every
    pixel takes the class of its FIRST containing polygon in aoi_id order,
    computed from a full stack of inside-matrices (PIP kernels shared, as
    everywhere in this module)."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    aois = syn.aois_table(n_aois, seed).to_pylist()
    classes = sorted({a[class_col] for a in aois if a[class_col] is not None})
    class_id = {c: i + 1 for i, c in enumerate(classes)}
    rows: list[dict] = []
    for chip in chips:
        x0, y0, x1, y1 = _chip_lonlat_bbox(chip)
        cands = sorted(
            (
                a
                for a in aois
                if a[class_col] is not None
                and a["xmax"] >= x0 and a["xmin"] <= x1
                and a["ymax"] >= y0 and a["ymin"] <= y1
            ),
            key=lambda a: a["aoi_id"],
        )
        if not cands:
            continue
        w, h = chip["chip_w"], chip["chip_h"]
        lons = chip["chip_xmin"] + (np.arange(w) + 0.5) * chip["chip_xres"]
        lats = chip["chip_ymax"] - (np.arange(h) + 0.5) * chip["chip_yres"]
        insides = np.stack(
            [
                geom.points_in_polygon_grid(lons, lats, bytes(a["geometry"]))
                for a in cands
            ]
        )  # (n_polys, h, w) — priority axis first
        first = np.argmax(insides, axis=0)  # first True wins (0 if none True)
        any_in = insides.any(axis=0)
        ids = np.array([class_id[a[class_col]] for a in cands])
        mask = np.where(any_in, ids[first], 0).astype(np.int64)
        flat = mask.ravel()
        rows.append(
            {
                "chip_id": chip["chip_id"],
                "n_polys": len(cands),
                "n_labeled": int((mask != 0).sum()),
                "checksum": int((flat * np.arange(1, flat.size + 1)).sum()),
                "status": "ok",
            }
        )
    pdf = pd.DataFrame(rows, columns=["chip_id", "n_polys", "n_labeled",
                                      "checksum", "status"])
    pdf["n_polys"] = pdf["n_polys"].astype("int32")
    for c in ("n_labeled", "checksum"):
        pdf[c] = pdf[c].astype("int64")
    return pdf


def class_stats_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0, 1),
    n_aois: int = 40,
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
    class_col: str = "crop",
) -> pd.DataFrame:
    """Expected output of the class-stratified stats query: first-valid
    mosaic canvases + per-pixel first-containing-polygon masks recomputed
    from truth, then per-(chip, band, class) counts and row-major
    sequential-fold sums."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    aois = syn.aois_table(n_aois, seed).to_pylist()
    classes = sorted({a[class_col] for a in aois if a[class_col] is not None})
    class_id = {c: i + 1 for i, c in enumerate(classes)}
    rows: list[dict] = []
    for chip in chips:
        x0, y0, x1, y1 = _chip_lonlat_bbox(chip)
        cands = sorted(
            (
                a
                for a in aois
                if a[class_col] is not None
                and a["xmax"] >= x0 and a["xmin"] <= x1
                and a["ymax"] >= y0 and a["ymin"] <= y1
            ),
            key=lambda a: a["aoi_id"],
        )
        if not cands:
            continue  # no mask row -> the chip-keyed join drops the chip
        w, h = chip["chip_w"], chip["chip_h"]
        lons = chip["chip_xmin"] + (np.arange(w) + 0.5) * chip["chip_xres"]
        lats = chip["chip_ymax"] - (np.arange(h) + 0.5) * chip["chip_yres"]
        insides = np.stack(
            [
                geom.points_in_polygon_grid(lons, lats, bytes(a["geometry"]))
                for a in cands
            ]
        )
        first = np.argmax(insides, axis=0)
        any_in = insides.any(axis=0)
        ids = np.array([class_id[a[class_col]] for a in cands])
        mask = np.where(any_in, ids[first], 0).astype(np.int64).ravel()
        kept = _chip_cands_truth(chip, sidecars)[:max_images_per_chip]
        if not kept:
            continue  # no mosaic row either
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            flat = canvas.ravel()
            for cid in sorted(set(mask[mask != 0])):
                sel = mask == cid
                vals = flat[sel]
                valid = vals[~np.isnan(vals)]
                n_valid = int(valid.size)
                rows.append(
                    {
                        "chip_id": chip["chip_id"],
                        "band": band,
                        "class_id": int(cid),
                        "n_px": int(sel.sum()),
                        "n_valid": n_valid,
                        "v_sum": _fold_sum(valid) if n_valid else None,
                        "v_mean": (_fold_sum(valid) / n_valid) if n_valid else None,
                    }
                )
    pdf = pd.DataFrame(
        rows,
        columns=["chip_id", "band", "class_id", "n_px", "n_valid", "v_sum", "v_mean"],
    )
    for c in ("band", "class_id", "n_px", "n_valid"):
        pdf[c] = pdf[c].astype("int32")
    for c in ("v_sum", "v_mean"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


def _xxh64_str(s: str, seed: int = 42) -> int:
    """Catalyst ``xxhash64(string)`` == standard XXH64 over the UTF-8 bytes
    with seed 42 (verified bit-equal against Spark in tests)."""
    from rasteret_spark.format.zstd import xxh64

    h = xxh64(s.encode("utf-8"), seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def _read_documents(sf_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]).to_pylist()


def _fnv1a64(b: bytes) -> int:
    h = 0xCBF29CE484222325
    for ch in b:
        h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_truth_pdf(
    sf_dir: str = "/root/testdata/sf0.01",
    max_hamming: int = 10,
    block_bits: int = 16,
) -> pd.DataFrame:
    """Expected output of the simhash near-dup query: scalar FNV-1a token
    hashes + bit-majority signatures, pigeonhole 16-bit band candidates,
    popcount verify — all single-process Python over the raw parquet."""
    docs = _read_documents(sf_dir)
    sims: dict[int, int] = {}
    for d in docs:
        toks = (d["text"] or "").lower().split()
        if not toks:
            sims[d["doc_id"]] = 0
            continue
        votes = [0] * 64
        for w in toks:
            h = _fnv1a64(w.encode("utf-8"))
            for bit in range(64):
                votes[bit] += 1 if (h >> bit) & 1 else -1
        sims[d["doc_id"]] = sum(1 << b for b in range(64) if votes[b] > 0)
    n_bands = 64 // block_bits
    mask = (1 << block_bits) - 1
    buckets: dict[tuple[int, int], list[int]] = {}
    for did, sim in sims.items():
        for band in range(n_bands):
            buckets.setdefault((band, (sim >> (band * block_bits)) & mask), []).append(did)
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    rows = []
    for a, b in sorted(pairs):
        ham = bin(sims[a] ^ sims[b]).count("1")
        if ham <= max_hamming:
            rows.append({"id_a": a, "id_b": b, "hamming": ham})
    pdf = pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"])
    pdf["id_a"] = pdf["id_a"].astype("int64")
    pdf["id_b"] = pdf["id_b"].astype("int64")
    pdf["hamming"] = pdf["hamming"].astype("int32")
    return pdf


def _norm_tokens(text: str) -> list[str]:
    import re

    return re.sub(r"[ \t\n\x0B\f\r]+", " ", (text or "").lower()).strip(" ").split(" ")


def _shingles_truth(text: str, n: int = 3) -> list[str]:
    toks = _norm_tokens(text)
    if len(toks) < n:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def minhash_truth_pdf(
    sf_dir: str = "/root/testdata/sf0.01",
    num_perm: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.3,
    shingle_n: int = 3,
) -> pd.DataFrame:
    """Expected output of the minhash-LSH pair query: per-doc signatures from
    the xxhash64 mirrors, banded bucket candidates, exact shingle-set Jaccard
    verify — single-process Python over the raw parquet."""
    docs = _read_documents(sf_dir)
    rows_per_band = num_perm // bands
    sigs: dict[int, list[int]] = {}
    shingle_sets: dict[int, set[str]] = {}
    for d in docs:
        sh = _shingles_truth(d["text"], shingle_n)
        shingle_sets[d["doc_id"]] = set(sh)
        base = [_xxh64_str(s) for s in set(sh)]  # dup shingles don't move a min
        sigs[d["doc_id"]] = [
            min(spark_xxhash64_long_int(h, p) for h in base) for p in range(num_perm)
        ]
    buckets: dict[tuple[int, int], list[int]] = {}
    for did, sig in sigs.items():
        for band in range(bands):
            h = 42
            h = _xxh_int(band, h)
            for v in sig[band * rows_per_band : (band + 1) * rows_per_band]:
                h = _xxh_long(v, h)
            h = h - (1 << 64) if h >= (1 << 63) else h
            buckets.setdefault((band, h), []).append(did)
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    rows = []
    for a, b in sorted(pairs):
        sa, sb = shingle_sets[a], shingle_sets[b]
        jac = len(sa & sb) / len(sa | sb)
        if jac >= jaccard_threshold:
            rows.append({"id_a": a, "id_b": b})
    pdf = pd.DataFrame(rows, columns=["id_a", "id_b"])
    pdf["id_a"] = pdf["id_a"].astype("int64")
    pdf["id_b"] = pdf["id_b"].astype("int64")
    return pdf


def _read_embeddings(sf_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pylist()


def _cosine_fold(a: np.ndarray, b: np.ndarray) -> float:
    """Catalyst ``cosine_expr`` mirror: element-wise double casts, sequential
    ``aggregate`` folds for all three dots."""
    import math

    a = a.astype(np.float64)
    b = b.astype(np.float64)
    return _fold_sum(a * b) / (math.sqrt(_fold_sum(a * a)) * math.sqrt(_fold_sum(b * b)))


def _hyperplane_tables(
    mat: np.ndarray, dim: int, n_bits: int, n_tables: int, seed: int = 7
) -> np.ndarray:
    """(n, n_tables) bucket ids — mirror of ``hyperplane_buckets_udf`` (same
    deterministic seeded planes; the full-matrix matmul reproduces the
    per-row batched products bit-for-bit)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits * n_tables, dim)).astype(np.float64)
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    bits = (mat @ planes.T) > 0
    return bits.reshape(len(mat), n_tables, n_bits) @ weights


def _rank_topk(
    cand: dict[object, set], vecs: dict, pvecs: dict, k: int
) -> list[dict]:
    """Exact cosine rerank + row_number window mirror: per probe, order by
    (cosine desc, target id asc), keep the first k."""
    rows: list[dict] = []
    for pid in sorted(cand, key=str):
        scored = [
            (-_cosine_fold(vecs[t], pvecs[pid]), t) for t in cand[pid] if t != pid
        ]
        scored.sort()
        for rank, (_, t) in enumerate(scored[:k], start=1):
            rows.append({"probe_id": pid, "neighbor_id": t, "rank": rank})
    return rows


def lsh_topk_truth_pdf(
    sf_dir: str = "/root/testdata/sf0.01",
    k: int = 3,
    dim: int = 64,
    n_bits: int = 4,
    n_tables: int = 8,
    n_probes: int = 10,
) -> pd.DataFrame:
    """Expected output of the hyperplane-LSH ANN query: bucket tables mirrored
    from the seeded planes, candidates = pairs agreeing in >= 1 table, exact
    sequential-fold cosine rerank, top-k per probe."""
    rows = _read_embeddings(sf_dir)
    ids = [r["vec_id"] for r in rows]
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    bk = _hyperplane_tables(mat, dim, n_bits, n_tables)
    vecs = {i: np.asarray(r["embedding"], dtype=np.float32)
            for i, r in zip(ids, rows)}
    probe_ids = [i for i in ids if i < n_probes]
    by_tb: dict[tuple[int, int], list[int]] = {}
    for row_i, did in enumerate(ids):
        for t in range(n_tables):
            by_tb.setdefault((t, int(bk[row_i, t])), []).append(did)
    cand: dict[object, set] = {p: set() for p in probe_ids}
    idx_of = {did: i for i, did in enumerate(ids)}
    for p in probe_ids:
        for t in range(n_tables):
            for did in by_tb.get((t, int(bk[idx_of[p], t])), ()):
                cand[p].add(did)
    out = _rank_topk(cand, vecs, {p: vecs[p] for p in probe_ids}, k)
    pdf = pd.DataFrame(out)
    pdf["probe_id"] = pdf["probe_id"].astype("int64")
    pdf["neighbor_id"] = pdf["neighbor_id"].astype("int64")
    pdf["rank"] = pdf["rank"].astype("int32")
    return pdf


def ivf_topk_truth_pdf(
    sf_dir: str = "/root/testdata/sf0.01",
    k: int = 3,
    n_clusters: int = 16,
    nprobe: int = 6,
    sample: int = 4096,
    iters: int = 10,
    seed: int = 11,
    n_probes: int = 10,
) -> pd.DataFrame:
    """Expected output of the IVF ANN query: the deterministic quantizer
    re-trained from scratch (hash-ordered sample mirror of the engine's
    ``orderBy(xxhash64(id)) . limit``), single-list target assignment,
    nprobe probe lists, exact rerank."""
    rows = _read_embeddings(sf_dir)
    ids = [r["vec_id"] for r in rows]
    # the engine's bounded deterministic sample: hash-ordered limit
    order = sorted(range(len(ids)), key=lambda i: _xxh64_str(str(ids[i])))[:sample]
    m = np.stack(
        [np.asarray(rows[i]["embedding"], dtype=np.float64) for i in order]
    )
    m /= np.linalg.norm(m, axis=1, keepdims=True) + 1e-12
    rng = np.random.default_rng(seed)
    cent = m[rng.choice(len(m), size=min(n_clusters, len(m)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(m @ cent.T, axis=1)
        for c in range(len(cent)):
            sel = m[assign == c]
            if len(sel):
                v = sel.sum(axis=0)
                cent[c] = v / (np.linalg.norm(v) + 1e-12)
    # per-row cluster ids (argsort(-sims) mirror of ivf_cluster_udf)
    full = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    fn = full / (np.linalg.norm(full, axis=1, keepdims=True) + 1e-12)
    sims = fn @ cent.T
    t_cl = np.argsort(-sims, axis=1)[:, :1][:, 0]
    p_cls = np.argsort(-sims, axis=1)[:, :nprobe]
    vecs = {i: np.asarray(r["embedding"], dtype=np.float32)
            for i, r in zip(ids, rows)}
    probe_ids = [i for i in ids if i < n_probes]
    idx_of = {did: i for i, did in enumerate(ids)}
    by_cl: dict[int, list[int]] = {}
    for row_i, did in enumerate(ids):
        by_cl.setdefault(int(t_cl[row_i]), []).append(did)
    cand: dict[object, set] = {
        p: {
            did
            for cl in p_cls[idx_of[p]]
            for did in by_cl.get(int(cl), ())
        }
        for p in probe_ids
    }
    out = _rank_topk(cand, vecs, {p: vecs[p] for p in probe_ids}, k)
    pdf = pd.DataFrame(out)
    pdf["probe_id"] = pdf["probe_id"].astype("int64")
    pdf["neighbor_id"] = pdf["neighbor_id"].astype("int64")
    pdf["rank"] = pdf["rank"].astype("int32")
    return pdf


def _feature_descriptor(arr: np.ndarray) -> np.ndarray:
    """Mirror of ``multimodal.extract_features``'s 22-dim descriptor over a
    2-D float array (band 0 of the truth array — the registered miniraster
    decoder reads band 0)."""
    arr = arr.astype(np.float64)
    mu = float(arr.mean())
    sd = float(arr.std()) or 1.0
    z = (arr - mu) / sd
    q = np.percentile(z, [10, 25, 50, 75, 90])
    dy = float(np.abs(np.diff(z, axis=0)).mean()) if z.shape[0] > 1 else 0.0
    dx = float(np.abs(np.diff(z, axis=1)).mean()) if z.shape[1] > 1 else 0.0
    h, w = arr.shape
    ys = (np.arange(5) * h) // 4
    xs = (np.arange(5) * w) // 4
    cells = [
        float(c.mean()) if c.size else 0.0
        for i in range(4) for j in range(4)
        for c in [z[ys[i]:ys[i + 1], xs[j]:xs[j + 1]]]
    ]
    return np.array([*q.tolist(), dy + dx, *cells], dtype=np.float64)


def image_feature_pairs_truth_pdf(
    n_images: int = 120,
    threshold: float = 0.999,
    n_bits: int = 6,
    n_tables: int = 6,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the image-descriptor near-dup query: descriptors
    recomputed from PRE-ENCODE truth arrays, hyperplane bucket self-join
    candidates, sequential-fold cosine >= threshold."""
    ids = [f"img-{i:08d}" for i in range(n_images)]
    feats = np.stack(
        [
            _feature_descriptor(syn.make_image_truth(i, seed)["expected"][0])
            for i in range(n_images)
        ]
    )
    bk = _hyperplane_tables(feats, feats.shape[1], n_bits, n_tables)
    pairs: set[tuple[str, str]] = set()
    by_tb: dict[tuple[int, int], list[int]] = {}
    for row_i in range(n_images):
        for t in range(n_tables):
            by_tb.setdefault((t, int(bk[row_i, t])), []).append(row_i)
    for members in by_tb.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                pairs.add((ids[a], ids[b]) if ids[a] < ids[b] else (ids[b], ids[a]))
    rows = [
        {"id_a": a, "id_b": b}
        for a, b in sorted(pairs)
        if _cosine_fold(feats[ids.index(a)], feats[ids.index(b)]) >= threshold
    ]
    return pd.DataFrame(rows, columns=["id_a", "id_b"]).astype(
        {"id_a": "object", "id_b": "object"}
    )


def _fold_sum(vals) -> float:
    """Sequential left fold (the order ``F.aggregate`` adds doubles in) —
    NOT numpy pairwise summation."""
    acc = 0.0
    for v in vals:
        acc += v
    return acc


def _wfold(flat: np.ndarray) -> float:
    """Mirror of the engine's position-weighted array fold:
    ``aggregate(zip_with(arr, sequence(1..n), coalesce(v,0)*i), 0.0, +)``."""
    return _fold_sum(
        (0.0 if np.isnan(v) else float(v)) * float(i + 1)
        for i, v in enumerate(flat)
    )


def _focal_taps(a2d: np.ndarray, radius: int):
    """Clamped (replicate-edge) window planes in row-major offset order —
    the order ``operators/focal.py`` unrolls its stencil in."""
    h, w = a2d.shape
    pad = np.pad(a2d, radius, mode="edge")
    for dr in range(-radius, radius + 1):
        for dc in range(-radius, radius + 1):
            yield pad[radius + dr:radius + dr + h,
                      radius + dc:radius + dc + w]


def _focal_mean_np(a2d: np.ndarray, radius: int = 1) -> np.ndarray:
    """Focal mean with the engine's semantics: mean over VALID taps of the
    clamped window, null if none — accumulated per pixel in the engine's
    offset order (sequential fold, not numpy pairwise sums)."""
    acc = np.zeros_like(a2d)
    n = np.zeros(a2d.shape, dtype=np.int64)
    for tap in _focal_taps(a2d, radius):
        m = ~np.isnan(tap)
        acc = np.where(m, acc + np.where(m, tap, 0.0), acc)
        n += m
    with np.errstate(invalid="ignore"):
        return np.where(n > 0, acc / n, np.nan)


def _sobel_np(a2d: np.ndarray) -> np.ndarray:
    """Strict-stencil Sobel magnitude: any null tap -> null; gx/gy folded
    over ALL 9 taps (zero weights included) in the engine's offset order."""
    kx = ((-1.0, 0.0, 1.0), (-2.0, 0.0, 2.0), (-1.0, 0.0, 1.0))
    ky = ((-1.0, -2.0, -1.0), (0.0, 0.0, 0.0), (1.0, 2.0, 1.0))
    gx = np.zeros_like(a2d)
    gy = np.zeros_like(a2d)
    any_null = np.zeros(a2d.shape, dtype=bool)
    taps = list(_focal_taps(a2d, 1))
    flat_kx = [w for row in kx for w in row]
    flat_ky = [w for row in ky for w in row]
    for tap, wx, wy in zip(taps, flat_kx, flat_ky):
        any_null |= np.isnan(tap)
        t = np.where(np.isnan(tap), 0.0, tap)
        gx = gx + t * wx
        gy = gy + t * wy
    return np.where(any_null, np.nan, np.sqrt(gx * gx + gy * gy))


def focal_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0, 1),
    radius: int = 1,
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the focal-filter query: first-valid composites
    over truth arrays, focal mean of the canvas, Sobel magnitude of the
    SMOOTHED canvas, and per-(chip, band) valid counts + position-weighted
    sequential folds of both derived arrays."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            fm = _focal_mean_np(canvas, radius)
            sb = _sobel_np(fm)
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "fm_filled": int((~np.isnan(fm)).sum()),
                    "fm_wsum": _wfold(fm.ravel()),
                    "sb_filled": int((~np.isnan(sb)).sum()),
                    "sb_wsum": _wfold(sb.ravel()),
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "fm_filled", "sb_filled"):
        pdf[c] = pdf[c].astype("int32")
    for c in ("fm_wsum", "sb_wsum"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


def _horn_gradients_np(
    a2d: np.ndarray, xres: float, yres: float
) -> tuple[np.ndarray, np.ndarray]:
    """Horn 3x3 gradients with the engine's exact expression tree
    (operators/focal.terrain): replicate-clamped taps in row-major offset
    order a b c / d e f / g h i, dzdx east-west over |xres|, dzdy y-up
    north-south over |yres|; any NaN tap -> NaN gradients."""
    taps = list(_focal_taps(a2d, 1))
    a, b, c, d, _, f, g, h, i = taps
    p = ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / (8.0 * abs(xres))
    q = ((a + 2.0 * b + c) - (g + 2.0 * h + i)) / (8.0 * abs(yres))
    bad = np.zeros(a2d.shape, dtype=bool)
    for tap in taps:
        bad |= np.isnan(tap)
    return np.where(bad, np.nan, p), np.where(bad, np.nan, q)


def terrain_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    steep_tan2: float,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the terrain query: first-valid composites over
    truth arrays, Horn gradients of the canvas, then the engine's
    arithmetic-exact scalar projections — valid-gradient count,
    position-weighted sequential folds of dzdx/dzdy, and the count of
    pixels steeper than the threshold (``dzdx^2 + dzdy^2 > steep_tan2``,
    transcendental-free so the DuckDB hash is bit-exact; the trig
    surfaces are pinned by pytest tolerance oracles instead)."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            p, q = _horn_gradients_np(
                canvas, chip["chip_xres"], chip["chip_yres"]
            )
            valid = ~np.isnan(p)
            mag2 = p * p + q * q
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "grad_valid": int(valid.sum()),
                    "dzdx_wsum": _wfold(p.ravel()),
                    "dzdy_wsum": _wfold(q.ravel()),
                    "steep_px": int((mag2[valid] > steep_tan2).sum()),
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "grad_valid", "steep_px"):
        pdf[c] = pdf[c].astype("int32")
    for c in ("dzdx_wsum", "dzdy_wsum"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


def chip_stats_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the chip-QA query: first-valid composites over
    truth arrays, then per (chip, band) the engine's radiometric stats —
    valid count, null fraction, min/max, saturated-pixel count and
    linear-interpolated quantiles with the exact float expression
    ``v[lo] + (v[hi] - v[lo]) * (p*(n-1) - lo)`` (hand-coded, not
    np.percentile, so the arithmetic tree matches the Catalyst one)."""
    import math

    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            flat = canvas.ravel()
            s = np.sort(flat[~np.isnan(flat)])
            n = int(s.size)
            n_px = int(flat.size)
            rec = {
                "chip_id": chip["chip_id"],
                "band": band,
                "n_valid": n,
                "null_frac": (
                    float(n_px - n) / float(n_px) if n_px > 0 else None
                ),
                "vmin": float(s[0]) if n else None,
                "vmax": float(s[-1]) if n else None,
                "at_max_px": int((flat == s[-1]).sum()) if n else 0,
            }
            for p in probs:
                key = f"q{int(round(p * 100)):02d}"
                if n == 0:
                    rec[key] = None
                    continue
                idx = float(p) * float(n - 1)
                lo = math.floor(idx)
                hi = math.ceil(idx)
                rec[key] = float(
                    s[lo] + (s[hi] - s[lo]) * (idx - float(lo))
                )
            rows.append(rec)
    pdf = pd.DataFrame(rows)
    for c in ("band", "n_valid", "at_max_px"):
        pdf[c] = pdf[c].astype("int32")
    for c in pdf.columns:
        if c.startswith(("q", "v", "null_")) and c != "vband":
            pdf[c] = pdf[c].astype("float64")
    return pdf


def _spatial_stats_np(a2d: np.ndarray) -> dict:
    """Mirror of ``focal.spatial_stats`` over one chip plane: rook-contiguity
    Moran's I / Geary's C with the engine's exact fold orders (pixel-major,
    neighbors N/S/W/E, nulls as 0 contributions)."""
    h, w = a2d.shape
    flat = a2d.ravel()
    valid = ~np.isnan(flat)
    n = int(valid.sum())
    mean = _fold_sum(v for v in flat if not np.isnan(v)) / n if n else None

    def nbrs(i: int):
        r, c = divmod(i, w)
        out = []
        out.append(flat[i - w] if r > 0 else np.nan)
        out.append(flat[i + w] if r < h - 1 else np.nan)
        out.append(flat[i - 1] if c > 0 else np.nan)
        out.append(flat[i + 1] if c < w - 1 else np.nan)
        return out

    w_pairs = num_i = num_c = den = 0.0
    for i in range(flat.size):
        v = flat[i]
        if np.isnan(v):
            continue
        nb = nbrs(i)
        w_pairs += float(sum(0 if np.isnan(x) else 1 for x in nb))
        s = 0.0
        for x in nb:
            s = s + (0.0 if np.isnan(x) else (x - mean))
        num_i += (v - mean) * s
        s2 = 0.0
        for x in nb:
            d = v - x
            s2 = s2 + (0.0 if np.isnan(d) else d * d)
        num_c += s2
        den += (v - mean) * (v - mean)
    ok = w_pairs > 0 and den != 0.0
    return {
        "n_valid": n,
        "w_pairs": int(w_pairs),
        "morans_i": (n / w_pairs) * (num_i / den) if ok else None,
        "gearys_c": (
            ((n - 1.0) / (2.0 * w_pairs)) * (num_c / den)
            if ok and n > 1 else None
        ),
    }


def spatial_stats_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the spatial-autocorrelation query: first-valid
    composites over truth arrays, then rook Moran's I / Geary's C per
    (chip, band) with the engine's fold orders mirrored bit-exactly."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    **_spatial_stats_np(canvas),
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "n_valid"):
        pdf[c] = pdf[c].astype("int32")
    pdf["w_pairs"] = pdf["w_pairs"].astype("int64")
    for c in ("morans_i", "gearys_c"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


def qa_mask_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    data_band: int = 0,
    qa_band: int = 1,
    bit: int = 1,
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the QA-bitmask query: composite the data and QA
    bands over truth arrays, decode ``bit`` of ``int64(floor(qa_pixel))``
    (arithmetic shift, numpy == JVM semantics), null data pixels whose QA
    pixel is flagged or missing, then the engine's counts and
    position-weighted fold — all hand-mirrored, no Spark in the loop."""
    import math

    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        data, _ = _composite_chip(chip, kept, data_band)
        qa, _ = _composite_chip(chip, kept, qa_band)
        dflat, qflat = data.ravel(), qa.ravel()
        masked = np.full(dflat.shape, np.nan)
        qa_valid = qa_flagged = 0
        for i in range(qflat.size):
            q = qflat[i]
            if np.isnan(q):
                continue  # unknown QA -> pixel dropped
            qa_valid += 1
            if (int(math.floor(q)) >> bit) & 1:
                qa_flagged += 1
            else:
                masked[i] = dflat[i]
        rows.append(
            {
                "chip_id": chip["chip_id"],
                "qa_valid": qa_valid,
                "qa_flagged": qa_flagged,
                "kept_px": int((~np.isnan(masked)).sum()),
                "masked_wsum": _wfold(masked),
            }
        )
    pdf = pd.DataFrame(rows)
    for c in ("qa_valid", "qa_flagged", "kept_px"):
        pdf[c] = pdf[c].astype("int32")
    pdf["masked_wsum"] = pdf["masked_wsum"].astype("float64")
    return pdf


def _quantile_truth(s: np.ndarray, p: float) -> float | None:
    """The engine's linear-interpolated quantile over an ASCENDING valid
    array, with the exact arithmetic tree (hand-coded, not np.percentile)."""
    import math

    n = int(s.size)
    if n == 0:
        return None
    idx = float(p) * float(n - 1)
    lo = math.floor(idx)
    hi = math.ceil(idx)
    return float(s[lo] + (s[hi] - s[lo]) * (idx - float(lo)))


def stretch_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    p_lo: float = 0.02,
    p_hi: float = 0.98,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the percentile-stretch query: composites over
    truth arrays, the engine's quantile cut points, per-pixel
    ``clamp((v - lo) / (hi - lo), 0, 1)`` (flat chip -> 0.0), clip counts
    and the position-weighted fold of the stretched canvas."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            flat = canvas.ravel()
            s = np.sort(flat[~np.isnan(flat)])
            cut_lo = _quantile_truth(s, p_lo)
            cut_hi = _quantile_truth(s, p_hi)
            stretched = np.full(flat.shape, np.nan)
            clip_lo = clip_hi = 0
            for i in range(flat.size):
                v = flat[i]
                if np.isnan(v):
                    continue
                if v < cut_lo:
                    clip_lo += 1
                if v > cut_hi:
                    clip_hi += 1
                if cut_hi > cut_lo:
                    u = (v - cut_lo) / (cut_hi - cut_lo)
                    stretched[i] = min(max(u, 0.0), 1.0)
                else:
                    stretched[i] = 0.0
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "cut_lo": cut_lo,
                    "cut_hi": cut_hi,
                    "clip_lo_px": clip_lo,
                    "clip_hi_px": clip_hi,
                    "stretch_wsum": _wfold(stretched),
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "clip_lo_px", "clip_hi_px"):
        pdf[c] = pdf[c].astype("int32")
    for c in ("cut_lo", "cut_hi", "stretch_wsum"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


def chip_histogram_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    lo: float,
    hi: float,
    n_bins: int = 8,
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the histogram query: per (chip, band) bin counts
    with the engine's exact bin rule ``clamp(floor((v - lo) / width), 0,
    n_bins - 1)`` over composited truth arrays (same float divide, same
    edge-bin clamping)."""
    import math

    width = (hi - lo) / float(n_bins)
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            flat = canvas.ravel()
            counts = [0] * n_bins
            for v in flat:
                if np.isnan(v):
                    continue
                k = int(math.floor((v - lo) / width))
                counts[min(max(k, 0), n_bins - 1)] += 1
            rec = {"chip_id": chip["chip_id"], "band": band}
            for k in range(n_bins):
                rec[f"h{k}"] = counts[k]
            rows.append(rec)
    pdf = pd.DataFrame(rows)
    pdf["band"] = pdf["band"].astype("int32")
    for k in range(n_bins):
        pdf[f"h{k}"] = pdf[f"h{k}"].astype("int32")
    return pdf


def train_split_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    salt: str = "",
    bands: tuple[int, ...] = (0, 1),
    max_images_per_chip: int = 32,
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the split-assignment query: the xxhash64 mirror
    (seed 42 over UTF-8 bytes, bit-equal to Catalyst) buckets each chip_id
    into ``pmod(h, 1e6)``, cumulative fractions carve the splits, and each
    chip row carries its composite valid count + position-weighted fold so
    the oracle checks the split is assigned to the RIGHT chip contents."""
    buckets = 1_000_000
    bounds = []
    cum = 0.0
    for f in fractions[:-1]:
        cum += f
        bounds.append(int(round(cum * buckets)))
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        cands = _chip_cands_truth(chip, sidecars)
        if not cands:
            continue
        kept = cands[:max_images_per_chip]
        u = _xxh64_str(chip["chip_id"] + salt) % buckets
        split = names[-1]
        for b, name in zip(bounds, names[:-1]):
            if u < b:
                split = name
                break
        for band in bands:
            canvas, _ = _composite_chip(chip, kept, band)
            flat = canvas.ravel()
            rows.append(
                {
                    "chip_id": chip["chip_id"],
                    "band": band,
                    "split": split,
                    "n_valid": int((~np.isnan(flat)).sum()),
                    "v_wsum": _wfold(flat),
                }
            )
    pdf = pd.DataFrame(rows)
    for c in ("band", "n_valid"):
        pdf[c] = pdf[c].astype("int32")
    pdf["v_wsum"] = pdf["v_wsum"].astype("float64")
    return pdf


def build_overviews_truth_pdf(
    n_images: int = 96,
    seed: int = 42,
    factors: tuple[int, ...] = (2, 4),
) -> pd.DataFrame:
    """Expected output of the overview-building query: per TIFF row the
    builder's status triage (already-pyramided rows pass through, lossy
    full-res rows are never re-encoded, the rest gain ``1 + len(factors)``
    levels) and, for built rows, the position-weighted checksum of the
    factor-2 level's band-0 plane — the exact ``[::2, ::2]`` decimation of
    the pre-encode array (lossless codecs round-trip bit-exactly)."""
    rows: list[dict] = []
    for i in range(n_images):
        t = syn.make_tiff_image_truth(i, seed)
        if t["tiled"]:  # generator writes tiled rows with a [2, 4] pyramid
            status, n_in, n_out, cs = "has_overviews", 3, 3, None
        elif t["fmt"] == "jpeg":
            status, n_in, n_out, cs = "skipped_lossy", 1, 1, None
        else:
            a = t["expected"][0][::2, ::2].astype(np.float64).ravel()
            cs = float(np.nansum(a * np.arange(1, a.size + 1)))
            status, n_in, n_out = "ok", 1, 1 + len(factors)
        rows.append(
            {
                "image_id": f"tif-{i:08d}",
                "status": status,
                "n_levels_in": n_in,
                "n_levels_out": n_out,
                "ov_checksum": cs,
            }
        )
    pdf = pd.DataFrame(rows)
    for c in ("n_levels_in", "n_levels_out"):
        pdf[c] = pdf[c].astype("int32")
    pdf["ov_checksum"] = pdf["ov_checksum"].astype("float64")
    return pdf


def augment_truth_pdf(
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    stride: int,
    max_images_per_chip: int = 4,
    ops: tuple[str, ...] = ("identity", "hflip", "vflip", "rot90"),
    n_images: int = 120,
    seed: int = 42,
) -> pd.DataFrame:
    """Expected output of the chip-augmentation query: the q51-style stack
    mirror, each [H, W] plane flipped/rotated with numpy (vs the engine's
    native Catalyst permutation gathers), then the engine's two checksums
    re-folded sequentially in each op's row-major array order."""
    chips = chip_grid_truth(bbox, size, xres, stride=stride)
    sidecars = [_image_sidecar(i, seed) for i in range(n_images)]
    rows: list[dict] = []
    for chip in chips:
        axmin, aymin, axmax, aymax = _chip_lonlat_bbox(chip)
        cands = [
            t
            for t in sidecars
            if t["xmax"] >= axmin and t["xmin"] <= axmax
            and t["ymax"] >= aymin and t["ymin"] <= aymax
        ]
        cands.sort(key=lambda t: t["image_id"])
        cands.sort(key=lambda t: t["datetime"], reverse=True)
        kept = cands[:max_images_per_chip]
        kept.sort(key=lambda t: (t["datetime"], t["image_id"]))
        for t_index, t in enumerate(kept):
            rep = _truth_nearest(t, 0, chip)  # (h, w)
            for op in ops:
                if op == "identity":
                    plane = rep
                elif op == "hflip":
                    plane = rep[:, ::-1]
                elif op == "vflip":
                    plane = rep[::-1, :]
                elif op == "rot90":
                    # dst (r', c') in (w x h) pulls src (h-1-c', r')
                    plane = rep.T[:, ::-1]
                else:
                    raise ValueError(op)
                flat = plane.ravel()
                w = np.where(np.isnan(flat), 0.0, flat) * np.arange(1, flat.size + 1)
                rows.append(
                    {
                        "chip_id": chip["chip_id"],
                        "t_index": t_index,
                        "band": 0,
                        "aug_op": op,
                        "chip_w": plane.shape[1],
                        "chip_h": plane.shape[0],
                        "v_sum": _fold_sum(flat[~np.isnan(flat)]),
                        "weighted": _fold_sum(w),
                    }
                )
    pdf = pd.DataFrame(rows)
    for c in ("t_index", "band", "chip_w", "chip_h"):
        pdf[c] = pdf[c].astype("int32")
    for c in ("v_sum", "weighted"):
        pdf[c] = pdf[c].astype("float64")
    return pdf


class _NegStr:
    """Inverts string comparison so 'max of (datetime, _NegStr(id))' picks the
    newest datetime and, on ties, the SMALLEST image_id."""

    __slots__ = ("s",)

    def __init__(self, s: str):
        self.s = s

    def __lt__(self, other: "_NegStr") -> bool:
        return self.s > other.s

    def __gt__(self, other: "_NegStr") -> bool:
        return self.s < other.s

    def __eq__(self, other: object) -> bool:
        return isinstance(other, _NegStr) and self.s == other.s


def _psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR of ``b`` against ``a`` with the peak taken from ``a`` (1.0 for an
    all-zero ``a``); inf when the arrays are equal."""
    mse = float(np.mean((a - b) ** 2))
    if mse == 0.0:
        return float("inf")
    peak = float(np.max(np.abs(a))) or 1.0
    return 10.0 * np.log10(peak * peak / mse)


def psnr_truth_pdf(n: int = 120, seed: int = 42) -> pd.DataFrame:
    """Expected output of the fidelity query: per image, whether the decode
    should be bit-exact vs the drawn array, and the PSNR it should land on
    (lossless -> exact, capped-inf PSNR; qlossy -> the quantization's PSNR)."""
    rows = []
    for i in range(n):
        t = syn.make_image_truth(i, seed)
        lossless = t["fmt"] not in ("qlossy",)
        p = _psnr_db(t["arr"].astype(np.float64), t["expected"].astype(np.float64))
        rows.append(
            {
                "image_id": f"img-{i:08d}",
                "fmt": t["fmt"],
                "exact": bool(np.array_equal(t["arr"], t["expected"])),
                "psnr_db": float(min(p, 1e6)),
                "lossless": lossless,
            }
        )
    pdf = pd.DataFrame(rows)
    pdf["psnr_db"] = pdf["psnr_db"].astype("float64")
    return pdf
