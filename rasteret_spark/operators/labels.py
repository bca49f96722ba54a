"""Training-label rasterization: burn AOI polygons into per-chip class masks.

A segmentation training set needs (imagery, label) pairs on the SAME grid:
the imagery side comes from ``chips.chip_serve`` / ``raster_mosaic``; this
operator produces the label side — for every chip of the request grid, a
[H, W] integer mask where each pixel carries the class of the
highest-priority AOI polygon containing its center (0 = background).  The
reference reaches label masks only through external TorchGeo datasets
(`src/rasteret/integrations/torchgeo.py:100-290` pairs imagery with
pre-rasterized label layers); here the rasterization itself is a first-class
distributed operator over the vector AOI table.

Scale shape: the chips x AOIs candidate join is the same cell-cover
equi-join every other spatial path uses (light columns only — WKB polygon
payloads join after the candidate filter), masks burn inside ONE
``groupBy(chip_id).applyInPandas`` stage (the only shuffle), and the
per-chip work is bounded by overlapping-AOI count x chip pixels.  Class
priority is deterministic: polygons burn in ``aoi_id`` ascending order and
the FIRST writer wins each pixel, so output is invariant to row order and
partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark import crs, geom
from rasteret_spark.operators.raster_mosaic import CHIP_COLS, GRID_COLS_SCHEMA

LABEL_SCHEMA = (
    "chip_id string, n_polys int, n_labeled bigint, mask array<int>, "
    + GRID_COLS_SCHEMA
    + ", status string"
)


def _chip_center_lonlat(
    xmin: float, ymax: float, xres: float, yres: float,
    w: int, h: int, grid_epsg: int,
):
    """Pixel-center lon/lat of a chip grid.  Returns (lon_axis, lat_axis)
    for lon/lat grids (separable PIP path) or (lon_grid, lat_grid) matrices
    for projected grids."""
    gxs = xmin + (np.arange(w) + 0.5) * xres
    gys = ymax - (np.arange(h) + 0.5) * yres
    if grid_epsg == 4326:
        return gxs, gys, True
    gx, gy = np.meshgrid(gxs, gys)
    lon, lat = crs.to_lonlat(grid_epsg, gx.ravel(), gy.ravel())
    return lon.reshape(h, w), lat.reshape(h, w), False


def burn_mask(
    chip: dict, polys: list[tuple[str, int, bytes]]
) -> tuple[np.ndarray, int]:
    """Burn ``(aoi_id, class_id, wkb)`` polygons (already in priority order)
    into one chip's [h, w] int32 mask; returns (mask, n_contributing).
    Shared by the executor kernel and the driver-side oracle."""
    w, h = int(chip["chip_w"]), int(chip["chip_h"])
    gepsg = int(chip.get("grid_epsg") or 4326)
    ax, ay, separable = _chip_center_lonlat(
        float(chip["chip_xmin"]), float(chip["chip_ymax"]),
        float(chip["chip_xres"]), float(chip["chip_yres"]), w, h, gepsg,
    )
    mask = np.zeros((h, w), dtype=np.int32)
    contributing = 0
    for _aoi_id, class_id, wkb in polys:
        empty = mask == 0
        if not empty.any():
            break  # fully labeled — later (lower-priority) polygons can't win
        if separable:
            inside = geom.points_in_polygon_grid(ax, ay, wkb)
        else:
            inside = geom.points_in_polygon_wkb(
                ax.ravel(), ay.ravel(), wkb
            ).reshape(h, w)
        take = empty & inside
        if take.any():
            mask[take] = class_id
            contributing += 1
    return mask, contributing


def class_stats(masks: DataFrame, pixels: DataFrame) -> DataFrame:
    """Class-stratified pixel statistics over (imagery, label) pairs — the
    training-data QA surface (class balance, per-class radiometry) for the
    masks :func:`label_masks` produces and the pixel rows the mosaic/stack
    kernels produce on the SAME grid.

    ``masks``: (chip_id, mask array<int>) rows.  ``pixels``: (chip_id, band,
    ``values`` array<double>) rows (MOSAIC/CHIP_STACK shape).  Output:
    one row per (chip_id, band, class_id) with n_px (pixels of the class),
    n_valid (with a non-null value), v_sum / v_mean over the valid ones.

    One vectorized numpy pass per joined row (one ``mapInPandas``) folds
    each class's valid pixels IN ARRAY ORDER (deterministic, oracle-exact
    sums — never a shuffle-order-dependent SQL SUM over exploded pixels),
    emits K rows per chip (not H x W), and the only data movement is the
    chip-keyed equi-join.  A null mask emits no rows."""
    j_in = pixels.join(
        masks.select("chip_id", F.col("mask").alias("_mask")), "chip_id"
    )
    carry_a = [c for c in ("chip_id", "band") if c in pixels.columns]
    # per-class sums accumulate the valid pixels in array order (cumsum's
    # last slot, not pairwise np.sum)
    schema = ", ".join(
        [f"{c} {'string' if c == 'chip_id' else 'int'}" for c in carry_a]
        + ["class_id int", "n_px int", "n_valid int",
           "v_sum double", "v_mean double"]
    )
    sel_cols = carry_a + ["values", "_mask"]

    def run(batches):
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in (
                *carry_a, "class_id", "n_px", "n_valid", "v_sum", "v_mean"
            )}
            for i in range(len(pdf)):
                m_cell = pdf["_mask"].iloc[i]
                if m_cell is None:
                    continue
                m = np.asarray(m_cell, dtype=np.int64)
                v_cell = pdf["values"].iloc[i]
                v = np.full(m.size, np.nan)
                if v_cell is not None:
                    va = np.asarray(v_cell, dtype=np.float64)
                    v[: min(va.size, m.size)] = va[: m.size]
                for c in np.unique(m[m != 0]):
                    sel = m == c
                    ok = sel & ~np.isnan(v)
                    n_valid = int(ok.sum())
                    vs = v[ok]
                    v_sum = float(np.cumsum(vs)[-1]) if n_valid else None
                    for cc in carry_a:
                        out[cc].append(pdf[cc].iloc[i])
                    out["class_id"].append(int(c))
                    out["n_px"].append(int(sel.sum()))
                    out["n_valid"].append(n_valid)
                    out["v_sum"].append(v_sum)
                    out["v_mean"].append(
                        None if not n_valid else v_sum / n_valid
                    )
            yield pd.DataFrame(out)

    return j_in.select(*sel_cols).mapInPandas(run, schema=schema)


def label_masks(
    chips: DataFrame,
    aois: DataFrame,
    class_col: str = "crop",
    classes: list[str] | None = None,
) -> DataFrame:
    """Per-chip segmentation label masks from an AOI polygon table.

    ``chips``: CHIP_COLS rows (lon/lat or projected grids — same contract as
    the mosaic/serving kernels).  ``aois``: aoi_id, geometry (lon/lat WKB),
    xmin/ymin/xmax/ymax plus a categorical ``class_col``.  ``classes`` fixes
    the class -> id mapping (index+1; 0 is background); None derives it as
    the sorted distinct values of ``class_col`` (one bounded driver pull —
    class cardinality, not rows).

    Output: one row per chip that overlaps at least one AOI —
    LABEL_SCHEMA (mask row-major, n_polys = candidate polygons,
    n_labeled = non-background pixels).
    """
    from rasteret_spark.operators import raster_mosaic as rmo
    from rasteret_spark.operators.spatial_join import bbox_join

    if classes is None:
        classes = sorted(
            r[0] for r in aois.select(class_col).distinct().collect() if r[0] is not None
        )
    class_id = {c: i + 1 for i, c in enumerate(classes)}
    mapping = F.create_map(
        *[x for c, i in class_id.items() for x in (F.lit(c), F.lit(i))]
    )

    extra = ["grid_epsg"] if "grid_epsg" in chips.columns else []
    # chip extents as lon/lat bboxes (shared convention with every other
    # chip consumer), renamed so the cell-cover join can treat chips as the
    # "image" side and polygons as the "aoi" side
    cb = rmo.chips_as_aois(chips)
    for c in ("xmin", "ymin", "xmax", "ymax"):
        cb = cb.withColumnRenamed(f"aoi_{c}", f"cgrid_{c}")
    a_light = aois.select(
        "aoi_id",
        mapping[F.col(class_col)].alias("_cls"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    ).filter(F.col("_cls").isNotNull())
    # candidate join on LIGHT columns only; the polygon WKB payload joins
    # AFTER the candidate filter (never rides the cell-cover explode —
    # same rule as image blobs in every other spatial path)
    pairs = bbox_join(cb, a_light, res=7, img_prefix="cgrid").select(
        *CHIP_COLS, *extra, "aoi_id", "_cls"
    ).join(
        aois.select("aoi_id", F.col("geometry").alias("_wkb")), "aoi_id"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        chip = pdf.iloc[0]
        gepsg = int(chip["grid_epsg"]) if "grid_epsg" in pdf.columns else 4326
        # deterministic priority: aoi_id ascending, first writer wins
        pdf = pdf.sort_values("aoi_id")
        try:  # a null/garbage geometry quarantines the CHIP, not the stage
            polys = [
                (r["aoi_id"], int(r["_cls"]), bytes(r["_wkb"]))
                for _, r in pdf.iterrows()
            ]
            mask, _ = burn_mask({**chip.to_dict(), "grid_epsg": gepsg}, polys)
            return pd.DataFrame(
                [
                    {
                        "chip_id": chip["chip_id"],
                        "n_polys": len(polys),
                        "n_labeled": int((mask != 0).sum()),
                        "mask": mask.ravel().tolist(),
                        "chip_xmin": float(chip["chip_xmin"]),
                        "chip_ymax": float(chip["chip_ymax"]),
                        "chip_xres": float(chip["chip_xres"]),
                        "chip_yres": float(chip["chip_yres"]),
                        "chip_w": int(chip["chip_w"]),
                        "chip_h": int(chip["chip_h"]),
                        "grid_epsg": gepsg,
                        "status": "ok",
                    }
                ]
            )
        except Exception as e:  # quarantine the chip, keep the stage
            return pd.DataFrame(
                [
                    {
                        "chip_id": chip["chip_id"],
                        "n_polys": len(pdf),
                        "n_labeled": 0,
                        "mask": None,
                        "chip_xmin": float(chip["chip_xmin"]),
                        "chip_ymax": float(chip["chip_ymax"]),
                        "chip_xres": float(chip["chip_xres"]),
                        "chip_yres": float(chip["chip_yres"]),
                        "chip_w": int(chip["chip_w"]),
                        "chip_h": int(chip["chip_h"]),
                        "grid_epsg": gepsg,
                        "status": f"{type(e).__name__}: {e}"[:200],
                    }
                ]
            )

    return pairs.groupBy("chip_id").applyInPandas(run, schema=LABEL_SCHEMA)
