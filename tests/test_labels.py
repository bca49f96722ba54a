"""Label-mask rasterization (operators/labels.py) vs independent mirrors."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark import crs, geom
from rasteret_spark.operators import labels
from rasteret_spark.sources import synthetic as syn
from oracles import truth


def _stack_mirror(chip: dict, polys: list[tuple[str, int, bytes]]) -> np.ndarray:
    """Per-pixel first-containing-polygon (priority-axis argmax) — the
    structurally independent formulation of first-win burning."""
    w, h = chip["chip_w"], chip["chip_h"]
    gepsg = int(chip.get("grid_epsg") or 4326)
    gxs = chip["chip_xmin"] + (np.arange(w) + 0.5) * chip["chip_xres"]
    gys = chip["chip_ymax"] - (np.arange(h) + 0.5) * chip["chip_yres"]
    if gepsg == 4326:
        insides = np.stack(
            [geom.points_in_polygon_grid(gxs, gys, wkb) for _, _, wkb in polys]
        )
    else:
        gx, gy = np.meshgrid(gxs, gys)
        lon, lat = crs.to_lonlat(gepsg, gx.ravel(), gy.ravel())
        insides = np.stack(
            [
                geom.points_in_polygon_wkb(lon, lat, wkb).reshape(h, w)
                for _, _, wkb in polys
            ]
        )
    first = np.argmax(insides, axis=0)
    any_in = insides.any(axis=0)
    ids = np.array([cid for _, cid, _ in polys])
    return np.where(any_in, ids[first], 0).astype(np.int32)


def _chip(xmin, ymax, xres, w=24, h=24, grid_epsg=None):
    c = {"chip_id": "c", "chip_xmin": xmin, "chip_ymax": ymax,
         "chip_xres": xres, "chip_yres": xres, "chip_w": w, "chip_h": h}
    if grid_epsg:
        c["grid_epsg"] = grid_epsg
    return c


def test_burn_mask_matches_stack_mirror_lonlat():
    aois = syn.aois_table(40).to_pylist()
    classes = sorted({a["crop"] for a in aois if a["crop"] is not None})
    cid = {c: i + 1 for i, c in enumerate(classes)}
    chips = truth.chip_grid_truth((13.35, 52.448, 13.452, 52.55), 32, 0.001, stride=35)
    checked = 0
    for chip in chips:
        x0, y0, x1, y1 = truth._chip_lonlat_bbox(chip)
        cands = sorted(
            (a for a in aois
             if a["xmax"] >= x0 and a["xmin"] <= x1
             and a["ymax"] >= y0 and a["ymin"] <= y1),
            key=lambda a: a["aoi_id"],
        )
        if not cands:
            continue
        polys = [(a["aoi_id"], cid[a["crop"]], bytes(a["geometry"])) for a in cands]
        got, ncontrib = labels.burn_mask(chip, polys)
        want = _stack_mirror(chip, polys)
        assert np.array_equal(got, want), chip["chip_id"]
        assert 0 <= ncontrib <= len(polys)
        checked += 1
    assert checked >= 5


def test_burn_mask_priority_first_win():
    """Two overlapping squares: every contested pixel takes the LOWER aoi_id
    class, regardless of poly list order handed to the kernel (pre-sorted)."""
    sq1 = geom.wkb_polygon([np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])])
    sq2 = geom.wkb_polygon([np.array([[1.0, 0.0], [3.0, 0.0], [3.0, 2.0], [1.0, 2.0]])])
    chip = _chip(0.0, 2.0, 0.125, w=24, h=16)
    mask, ncontrib = labels.burn_mask(
        chip, [("aoi-0", 1, sq1), ("aoi-1", 2, sq2)]
    )
    assert ncontrib == 2
    # overlap band x in (1, 2) -> class 1 (first wins); x in (2, 3) -> class 2
    assert (mask[:, 9:15] == 1).all()   # centers 1.1875..1.8125
    assert (mask[:, 17:] == 2).all()    # centers > 2.125
    assert np.array_equal(mask, _stack_mirror(chip, [("a", 1, sq1), ("b", 2, sq2)]))


def test_burn_mask_projected_grid():
    """UTM chip grid: PIP runs on lon/lat-transformed centers."""
    lon0, lat0 = 13.4, 52.5
    x0, y0 = crs.from_lonlat(32633, lon0, lat0)
    ring = np.array(
        [[lon0 - 0.01, lat0 - 0.01], [lon0 + 0.01, lat0 - 0.01],
         [lon0 + 0.01, lat0 + 0.01], [lon0 - 0.01, lat0 + 0.01]]
    )
    poly = geom.wkb_polygon([ring])
    chip = _chip(float(x0) - 1600.0, float(y0) + 1600.0, 100.0, w=32, h=32,
                 grid_epsg=32633)
    mask, ncontrib = labels.burn_mask(chip, [("a", 3, poly)])
    assert ncontrib == 1
    assert (mask == 3).sum() > 50  # the ~1.3 km square covers many 100 m cells
    assert np.array_equal(mask, _stack_mirror(chip, [("a", 3, poly)]))


def test_label_masks_distributed_matches_truth(spark):
    from rasteret_spark.operators.chips import chip_requests

    grid = chip_requests(spark, (13.35, 52.448, 13.452, 52.55), 32, 0.001, stride=35)
    aois = spark.createDataFrame(syn.aois_table(40).to_pandas())
    out = labels.label_masks(grid, aois, class_col="crop").toPandas()
    want = truth.label_masks_truth_pdf(
        (13.35, 52.448, 13.452, 52.55), 32, 0.001, 35, n_aois=40
    )
    assert len(out) == len(want) and len(out) > 0
    assert (out["status"] == "ok").all()
    got = out.sort_values("chip_id").reset_index(drop=True)
    w = want.sort_values("chip_id").reset_index(drop=True)
    for i in range(len(got)):
        assert got.loc[i, "chip_id"] == w.loc[i, "chip_id"]
        assert got.loc[i, "n_polys"] == w.loc[i, "n_polys"]
        assert got.loc[i, "n_labeled"] == w.loc[i, "n_labeled"]
        flat = np.asarray(got.loc[i, "mask"], dtype=np.int64)
        cks = int((flat * np.arange(1, flat.size + 1)).sum())
        assert cks == w.loc[i, "checksum"]


def test_class_stats_matches_numpy(spark):
    """class_stats over a hand-built (pixels, mask) pair == row-major numpy
    per-class accounting, incl. null-pixel exclusion and null-mask drops."""
    import pandas as pd

    from rasteret_spark.operators.labels import class_stats

    mask = [0, 1, 1, 2, 2, 2, 0, 1]
    vals = [9.0, 1.5, None, 4.0, 5.0, None, 7.0, 2.5]
    masks = spark.createDataFrame(
        pd.DataFrame([
            {"chip_id": "c1", "mask": mask},
            {"chip_id": "dead", "mask": None},
        ]),
        schema="chip_id string, mask array<int>",
    )
    pixels = spark.createDataFrame(
        pd.DataFrame([
            {"chip_id": "c1", "band": 0, "values": vals},
            {"chip_id": "dead", "band": 0, "values": vals},
        ]),
        schema="chip_id string, band int, values array<double>",
    )
    out = (
        class_stats(masks, pixels)
        .toPandas()
        .sort_values(["chip_id", "band", "class_id"])
        .reset_index(drop=True)
    )
    assert list(out["chip_id"].unique()) == ["c1"]  # null mask drops out
    r1 = out[out["class_id"] == 1].iloc[0]
    assert r1["n_px"] == 3 and r1["n_valid"] == 2
    assert r1["v_sum"] == 1.5 + 2.5 and r1["v_mean"] == (1.5 + 2.5) / 2
    r2 = out[out["class_id"] == 2].iloc[0]
    assert r2["n_px"] == 3 and r2["n_valid"] == 2
    assert r2["v_sum"] == 4.0 + 5.0
    assert 0 not in set(out["class_id"])  # background never reported


def test_label_masks_null_geometry_quarantines_chip(spark):
    """An AOI row with a null geometry but valid bbox quarantines only the
    chips it touches (status column), never the stage."""
    import pandas as pd

    from rasteret_spark.operators.chips import chip_requests

    grid = chip_requests(spark, (13.35, 52.448, 13.452, 52.55), 32, 0.001, stride=35)
    aois_pd = syn.aois_table(40).to_pandas()
    bad = aois_pd.iloc[[0]].copy()
    bad["aoi_id"] = "aoi-broken"
    bad["geometry"] = None
    # the broken bbox covers the whole hotspot so it joins every chip
    bad["xmin"], bad["ymin"], bad["xmax"], bad["ymax"] = 13.3, 52.4, 13.5, 52.6
    aois = spark.createDataFrame(pd.concat([aois_pd, bad], ignore_index=True))
    out = labels.label_masks(grid, aois, class_col="crop").toPandas()
    assert len(out) > 0
    assert (out["status"] != "ok").all()  # every chip saw the broken polygon
    assert out["mask"].isna().all()


def test_label_masks_explicit_classes(spark):
    """A fixed classes list pins ids; classes absent from it drop out."""
    from rasteret_spark.operators.chips import chip_requests

    grid = chip_requests(spark, (13.35, 52.448, 13.452, 52.55), 32, 0.001, stride=35)
    aois_pd = syn.aois_table(40).to_pandas()
    all_classes = sorted(aois_pd["crop"].dropna().unique())
    assert len(all_classes) >= 2
    keep = all_classes[:1]
    aois = spark.createDataFrame(aois_pd)
    out = labels.label_masks(grid, aois, class_col="crop", classes=keep).toPandas()
    if len(out):
        for m in out["mask"]:
            assert set(np.unique(m)) <= {0, 1}
