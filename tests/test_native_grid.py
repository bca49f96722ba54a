"""Native-CRS target grids: mosaics/chips composited in a projected grid CRS
(the reference's most-common-native-CRS path, `/root/reference/src/rasteret/
core/execution.py:396-456` + `core/raster_accessor.py:1048-1099`) instead of
always resampling through lon/lat.

The bit-exact oracle reprojects per-pixel over FULL decodes with the grid
coords mapped grid-CRS -> lon/lat -> source-CRS — the same independent-path
strategy as test_raster_mosaic, now with a non-4326 grid."""

import numpy as np
import pandas as pd
import pytest

from rasteret_spark import crs
from rasteret_spark.format import container, miniraster as mr
from rasteret_spark.operators import chips as chp
from rasteret_spark.operators import raster_mosaic as rmo

GRID_EPSG = 32633  # zone 33 covers the synthetic hotspot (13.4E, 52.5N)


def _utm_chips_pdf():
    """Chips over the hotspot, defined in EPSG:32633 meters (100 m pixels)."""
    x0, y0 = crs.from_lonlat(GRID_EPSG, np.array([13.36]), np.array([52.54]))
    rows = []
    for j in range(4):
        rows.append(
            {
                "chip_id": f"uchip-{j:03d}",
                "chip_xmin": float(x0[0]) + (j % 2) * 3200.0,
                "chip_ymax": float(y0[0]) - (j // 2) * 3200.0,
                "chip_xres": 100.0,
                "chip_yres": 100.0,
                "chip_w": 32,
                "chip_h": 32,
                "grid_epsg": GRID_EPSG,
            }
        )
    return pd.DataFrame(rows)


def _oracle_reproject_utm(blob: bytes, band: int, chip: dict) -> np.ndarray:
    meta = mr.parse_header(blob[: mr.header_len_from_prefix(blob[:8])])
    if band >= meta.n_bands:
        return np.full((chip["chip_h"], chip["chip_w"]), np.nan)
    arr = container.decode_full(blob, band=band).astype(np.float64)
    a, _, c, _, e, f = meta.transform
    out = np.full((chip["chip_h"], chip["chip_w"]), np.nan)
    for r in range(chip["chip_h"]):
        for cc in range(chip["chip_w"]):
            gx = chip["chip_xmin"] + (cc + 0.5) * chip["chip_xres"]
            gy = chip["chip_ymax"] - (r + 0.5) * chip["chip_yres"]
            lon, lat = crs.to_lonlat(GRID_EPSG, np.array([gx]), np.array([gy]))
            xs, ys = crs.from_lonlat(meta.epsg, lon, lat)
            col = int(np.floor((xs[0] - c) / a))
            row = int(np.floor((ys[0] - f) / e))
            if 0 <= col < meta.width and 0 <= row < meta.height:
                v = arr[row, col]
                if meta.nodata is None or (
                    not np.isnan(v) if np.isnan(meta.nodata) else v != meta.nodata
                ):
                    out[r, cc] = v
    return out


def _oracle_mosaic_utm(images_pdf, chip: dict, band: int) -> np.ndarray:
    # candidate filter via the chip's lon/lat bounds (densified boundary)
    gxmax = chip["chip_xmin"] + chip["chip_w"] * chip["chip_xres"]
    gymin = chip["chip_ymax"] - chip["chip_h"] * chip["chip_yres"]
    lx0, ly0, lx1, ly1 = crs.transform_bbox(
        GRID_EPSG, 4326, (chip["chip_xmin"], gymin, gxmax, chip["chip_ymax"])
    )
    order = images_pdf.sort_values(["datetime", "image_id"], ascending=[False, True])
    canvas = np.full((chip["chip_h"], chip["chip_w"]), np.nan)
    for _, im in order.iterrows():
        if not (
            im["xmax"] >= lx0 and im["xmin"] <= lx1
            and im["ymax"] >= ly0 and im["ymin"] <= ly1
        ):
            continue
        rep = _oracle_reproject_utm(bytes(im["bytes"]), band, chip)
        need = np.isnan(canvas) & ~np.isnan(rep)
        canvas[need] = rep[need]
    return canvas


@pytest.fixture(scope="module")
def utm_mosaic_inputs(spark, images_pdf):
    chips = spark.createDataFrame(_utm_chips_pdf())
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    payload = spark.createDataFrame(images_pdf[["image_id", "datetime", "bytes"]])
    pairs = rmo.chip_candidates(chips, img_light, payload, res=7)
    pairs.persist().count()
    return pairs


def test_utm_grid_mosaic_matches_full_decode_oracle(utm_mosaic_inputs, images_pdf):
    got = rmo.first_valid_mosaic_pixels(utm_mosaic_inputs, bands=(0,)).toPandas()
    assert set(got["chip_id"]) == set(_utm_chips_pdf()["chip_id"])
    assert (got["grid_epsg"] == GRID_EPSG).all(), "rows must carry the grid CRS"
    assert got["n_images"].max() > 1, "hotspot must overlap multiple images"
    checked_px = 0
    for _, chip in _utm_chips_pdf().iterrows():
        want = _oracle_mosaic_utm(images_pdf, chip, 0)
        row = got[got["chip_id"] == chip["chip_id"]].iloc[0]
        vals = np.array(
            [np.nan if v is None else v for v in row["values"]]
        ).reshape(chip["chip_h"], chip["chip_w"])
        assert int(row["filled"]) == int((~np.isnan(want)).sum())
        np.testing.assert_array_equal(np.isnan(vals), np.isnan(want))
        np.testing.assert_array_equal(vals[~np.isnan(want)], want[~np.isnan(want)])
        checked_px += int((~np.isnan(want)).sum())
    assert checked_px > 0, "oracle must actually fill pixels"


def test_utm_chip_stack_carries_grid_epsg(utm_mosaic_inputs):
    got = rmo.chip_stack_pixels(utm_mosaic_inputs, bands=(0,)).toPandas()
    assert len(got) and (got["grid_epsg"] == GRID_EPSG).all()
    assert all(
        v is None or len(v) == 32 * 32 for v in got["values"]
    )


def test_chips_as_aois_projected_bounds_match_transform_bbox(spark):
    chips = spark.createDataFrame(_utm_chips_pdf())
    aois = rmo.chips_as_aois(chips).toPandas().set_index("chip_id")
    for _, chip in _utm_chips_pdf().iterrows():
        gxmax = chip["chip_xmin"] + chip["chip_w"] * chip["chip_xres"]
        gymin = chip["chip_ymax"] - chip["chip_h"] * chip["chip_yres"]
        want = crs.transform_bbox(
            GRID_EPSG, 4326, (chip["chip_xmin"], gymin, gxmax, chip["chip_ymax"])
        )
        row = aois.loc[chip["chip_id"]]
        got = (row["aoi_xmin"], row["aoi_ymin"], row["aoi_xmax"], row["aoi_ymax"])
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)


def test_chip_requests_grid_epsg_column_contract(spark):
    """4326 grids keep the historic schema (no grid_epsg column); projected
    grids carry it on every row, with bbox/res in grid units."""
    ll = chp.chip_requests(spark, (13.0, 52.0, 13.5, 52.5), 32, 0.001)
    assert "grid_epsg" not in ll.columns
    gx0, gy0, gx1, gy1 = crs.bbox_from_lonlat(GRID_EPSG, 13.0, 52.0, 13.5, 52.5)
    pr = chp.chip_requests(
        spark, (gx0, gy0, gx1, gy1), 32, 100.0, grid_epsg=GRID_EPSG
    )
    pdf = pr.toPandas()
    assert (pdf["grid_epsg"] == GRID_EPSG).all()
    assert (pdf["chip_xres"] == 100.0).all()
    assert pdf["chip_xmin"].between(gx0, gx1).all()


def test_collection_mosaic_auto_grid_uses_most_common_epsg(spark, images_pdf):
    from rasteret_spark.collection import Collection
    from pyspark.sql import functions as F  # noqa: N812

    # narrow to the single-zone archive — the case native grids exist for:
    # auto-detection must pick the archive's own CRS and mosaic in meters
    col = Collection(spark, spark.createDataFrame(images_pdf)).where("epsg = 32633")
    want_epsg = rmo.most_common_epsg(col.records)
    assert want_epsg == GRID_EPSG
    im = images_pdf[images_pdf["epsg"] == 32633].iloc[0]
    bbox = (float(im["xmin"]), float(im["ymin"]), float(im["xmax"]), float(im["ymax"]))
    out = col.mosaic(bbox, size=32, xres=100.0, grid_epsg="auto").toPandas()
    assert len(out) > 0
    assert (out["grid_epsg"] == want_epsg).all()
    assert out["filled"].sum() > 0, "auto-grid mosaic must composite pixels"
    # and the historic default still runs lon/lat
    full = Collection(spark, spark.createDataFrame(images_pdf))
    out_ll = full.mosaic(bbox, size=32, xres=0.003).toPandas()
    assert (out_ll["grid_epsg"] == 4326).all()


def test_chips_as_aois_lonlat_stays_native_plan(spark):
    """Plan guard: the default lon/lat grid must keep chips_as_aois a pure
    native-expression stage (no Python eval node) — the projected-grid
    mapInPandas must never leak into the common path."""
    ll = chp.chip_requests(spark, (13.0, 52.0, 13.5, 52.5), 32, 0.001)
    plan = rmo.chips_as_aois(ll)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "PythonUDF" not in plan

    pr = chp.chip_requests(
        spark, crs.bbox_from_lonlat(GRID_EPSG, 13.0, 52.0, 13.5, 52.5),
        32, 100.0, grid_epsg=GRID_EPSG,
    )
    plan_pr = rmo.chips_as_aois(pr)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_pr


@pytest.mark.parametrize("epsg", [32633, 32733, 3857])
def test_chips_as_aois_bounds_any_builtin_crs(spark, epsg):
    """The vectorized densified-boundary transform must agree with the
    scalar transform_bbox for every builtin CRS family — including real
    (non-separable) Transverse Mercator south and Web Mercator."""
    x0, y0 = crs.from_lonlat(epsg, np.array([13.36]), np.array([52.54]))
    rows = [{
        "chip_id": f"c-{i}", "chip_xmin": float(x0[0]) + i * 5000.0,
        "chip_ymax": float(y0[0]) - i * 5000.0, "chip_xres": 150.0,
        "chip_yres": 150.0, "chip_w": 24, "chip_h": 24, "grid_epsg": epsg,
    } for i in range(3)]
    aois = rmo.chips_as_aois(
        spark.createDataFrame(pd.DataFrame(rows))
    ).toPandas().set_index("chip_id")
    for r in rows:
        gxmax = r["chip_xmin"] + r["chip_w"] * r["chip_xres"]
        gymin = r["chip_ymax"] - r["chip_h"] * r["chip_yres"]
        want = crs.transform_bbox(
            epsg, 4326, (r["chip_xmin"], gymin, gxmax, r["chip_ymax"])
        )
        row = aois.loc[r["chip_id"]]
        got = (row["aoi_xmin"], row["aoi_ymin"], row["aoi_xmax"], row["aoi_ymax"])
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)


def test_mosaic_on_real_tm_south_grid(spark, images_pdf):
    """End-to-end composite onto a REAL (Krueger-series, non-separable)
    Transverse Mercator grid: candidates resolve, pixels fill, and the
    rows carry the grid CRS — the path a Sentinel-2-south-zone archive
    would take."""
    epsg = 32733
    x0, y0 = crs.from_lonlat(epsg, np.array([13.38]), np.array([52.52]))
    chips = spark.createDataFrame(pd.DataFrame([{
        "chip_id": "s", "chip_xmin": float(x0[0]), "chip_ymax": float(y0[0]),
        "chip_xres": 100.0, "chip_yres": 100.0, "chip_w": 24, "chip_h": 24,
        "grid_epsg": epsg,
    }]))
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    payload = spark.createDataFrame(images_pdf[["image_id", "datetime", "bytes"]])
    pairs = rmo.chip_candidates(chips, img_light, payload, res=7)
    for method in ("nearest", "bilinear", "average"):
        got = rmo.first_valid_mosaic_pixels(pairs, bands=(0,), method=method).toPandas()
        assert len(got) == 1 and got.iloc[0]["grid_epsg"] == epsg
        assert got.iloc[0]["filled"] > 0, f"{method}: no pixels filled"
        assert got.iloc[0]["status"] == "ok"
