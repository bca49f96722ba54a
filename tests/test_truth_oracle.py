"""Generator-truth oracle module (oracles/truth.py) vs the real stack.

truth.py recomputes pixel-valued query results from the PRE-ENCODE array
(no codec / container / Reader anywhere), so agreement here certifies the
whole encode -> parse -> decode -> mask pipeline against independent math —
the same role the reference gives rasterio in
`/root/reference/tests/test_dataset_pixel_comparison.py`.
"""

from __future__ import annotations

import numpy as np
import pytest

from rasteret_spark.format import container
from rasteret_spark.operators.decode import zonal_oracle_row
from rasteret_spark.sources import synthetic as syn
from oracles import truth


def test_make_image_truth_expected_matches_decode():
    """truth 'expected' array == what the container actually decodes,
    for every format in the first 40 rows (covers qlossy + all lossless)."""
    fmts = set()
    for i in range(40):
        t = syn.make_image_truth(i)
        row = syn.make_image_row(i)
        got = container.decode_full(row["bytes"])
        if got.ndim == 2:
            got = got[None]
        assert got.shape == t["expected"].shape, i
        assert got.dtype == t["expected"].dtype, i
        assert np.array_equal(got, t["expected"]), (i, t["fmt"])
        fmts.add(t["fmt"])
    assert "qlossy" in fmts and len(fmts) >= 3


def test_zonal_truth_rows_match_full_decode_oracle():
    """Per-(image, aoi) truth rows == the engine's full-decode oracle
    (which reads the real blob) wherever the pair overlaps."""
    aois = syn.aois_table(40).to_pylist()
    checked = 0
    for i in range(40):
        t = truth._image_sidecar(i)
        row = syn.make_image_row(i)
        row["image_id"] = t["image_id"]
        for aoi in aois:
            if not (
                t["xmax"] >= aoi["xmin"]
                and t["xmin"] <= aoi["xmax"]
                and t["ymax"] >= aoi["ymin"]
                and t["ymin"] <= aoi["ymax"]
            ):
                continue
            want = zonal_oracle_row(row, aoi, band=0)
            got = truth._zonal_truth_row(t, aoi, 0)
            for k in ("px_count", "valid_count", "v_sum", "v_mean", "v_min", "v_max"):
                g, w = got[k], want[k]
                if g is None or w is None:
                    assert g == w, (i, aoi["aoi_id"], k)
                else:
                    assert g == w, (i, aoi["aoi_id"], k, g, w)
            checked += 1
    assert checked >= 10, checked


def test_zonal_truth_pdf_dtypes_and_statuses():
    pdf = truth.zonal_truth_pdf(12, 8)
    assert (pdf["status"] == "ok").all()
    assert str(pdf["px_count"].dtype) == "int64"
    assert str(pdf["win_col"].dtype) == "int32"
    assert str(pdf["v_sum"].dtype) == "float64"


def test_sample_truth_rows_match_real_reader():
    """Truth-side point sampling (brute-force Chebyshev-window ring scan over
    the pre-encode array) == the engine's _sample_image (real CachedReader
    decode + incremental ring walk with early-retire certification), on
    nodata-bearing images with points planted ON the nodata block so the
    ring fallback actually runs."""
    from rasteret_spark.format import miniraster as mr
    from rasteret_spark.operators.sampling import _sample_image

    ring_hits = 0
    for i in range(40):
        t = truth._image_sidecar(i)
        row = syn.make_image_row(i)
        # probe a grid of pixel centers across the image (hits the nodata
        # block when present) expressed in lon/lat exactly like real points
        pts = []
        k = 0
        for fr in (0.1, 0.35, 0.5, 0.65, 0.9):
            for fc in (0.1, 0.35, 0.5, 0.65, 0.9):
                sx, _, x0, _, sy, y0 = t["transform"]
                x_proj = x0 + (fc * t["w"]) * sx
                y_proj = y0 + (fr * t["h"]) * sy
                from rasteret_spark import crs as _crs

                lon, lat = _crs.to_lonlat(t["epsg"], x_proj, y_proj)
                pts.append({"point_index": k, "x": float(lon), "y": float(lat)})
                k += 1
        reader = mr.CachedReader(bytes(row["bytes"]))
        want = _sample_image(
            t["image_id"], reader, [p["point_index"] for p in pts],
            [p["x"] for p in pts], [p["y"] for p in pts], max_ring=4, bands=(0,),
        )
        got = truth._sample_truth_rows(t, pts, max_ring=4, band=0)
        assert len(got) == len(want["point_index"])
        for j, g in enumerate(got):
            for col in (
                "point_index", "band", "px_col", "px_row", "in_bounds",
                "valid", "ring_steps", "sample_col", "sample_row", "status",
            ):
                assert g[col] == want[col][j], (i, j, col, g[col], want[col][j])
            wv = want["value"][j]
            gv = g["value"]
            if gv is None:
                assert np.isnan(wv), (i, j)
            else:
                assert gv == wv, (i, j, gv, wv)
            ring_hits += g["ring_steps"] > 0
    assert ring_hits >= 3  # the fallback genuinely exercised


def test_make_tiff_image_truth_expected_matches_decode():
    """TIFF truth 'expected' == the real container decode for every lossless
    matrix entry (jpeg rows declare expected=None — lossy)."""
    lossless = jpeg = 0
    for i in range(28):  # two full passes over the 14-entry matrix
        t = syn.make_tiff_image_truth(i)
        row = syn.make_tiff_image_row(i)
        got = container.decode_full(row["bytes"])
        if got.ndim == 2:
            got = got[None]
        if t["fmt"] == "jpeg":
            assert t["expected"] is None
            jpeg += 1
            continue
        assert np.array_equal(got, t["expected"]), (i, t["fmt"])
        lossless += 1
    assert jpeg >= 2 and lossless >= 20


def test_spark_xxhash64_mirror(spark):
    """The truth module's xxhash64(long, int-literal) mirror is bit-equal to
    Catalyst's (drives the random chip-request mirror for q53)."""
    from pyspark.sql import functions as F

    rows = (
        spark.range(64)
        .select("id", F.xxhash64("id", F.lit(1234)).alias("h"))
        .collect()
    )
    for r in rows:
        assert truth.spark_xxhash64_long_int(r["id"], 1234) == r["h"]


def test_chip_grid_truth_matches_chip_requests(spark):
    """Grid AND random chip-request mirrors == the Spark operator, field by
    field (bit-exact doubles)."""
    from rasteret_spark.operators import chips as ch

    bbox = (13.35, 52.448, 13.452, 52.55)
    for kwargs in (
        {"stride": 35},
        {"stride": 16},
        {"random_n": 8, "seed": 42},
        {"stride": 32, "grid_epsg": 32633},
    ):
        gkw = dict(kwargs)
        seed = gkw.pop("seed", 0)
        b = (400000.0, 5800000.0, 410000.0, 5810000.0) if "grid_epsg" in gkw else bbox
        res = 100.0 if "grid_epsg" in gkw else 0.001
        want = {
            r["chip_id"]: r.asDict()
            for r in ch.chip_requests(spark, b, 32, res, seed=seed, **gkw).collect()
        }
        got = truth.chip_grid_truth(b, 32, res, seed=seed, **gkw)
        assert len(got) == len(want)
        for chip in got:
            w = want[chip["chip_id"]]
            for k, v in chip.items():
                assert w[k] == v, (kwargs, chip["chip_id"], k, w[k], v)


def test_mosaic_truth_matches_composite_oracle():
    """Truth-side first-valid compositing == re-compositing through the real
    container (CachedReader + reproject_to_grid) for a hotspot chip grid."""
    from rasteret_spark.format import miniraster as mr
    from rasteret_spark.operators import raster_mosaic as rmo

    sidecars = [truth._image_sidecar(i) for i in range(60)]
    blobs = {f"img-{i:08d}": syn.make_image_row(i)["bytes"] for i in range(60)}
    chips = truth.chip_grid_truth((13.35, 52.448, 13.452, 52.55), 32, 0.001, stride=35)
    checked = 0
    for chip in chips:
        kept = truth._chip_cands_truth(chip, sidecars)[:8]
        if not kept:
            continue
        for band in (0, 1):
            got, _ = truth._composite_chip(chip, kept, band)
            # engine-side: same order, real decode path
            grid = (chip["chip_xmin"], chip["chip_ymax"],
                    chip["chip_xres"], chip["chip_yres"],
                    chip["chip_w"], chip["chip_h"])
            canvas = np.full((chip["chip_h"], chip["chip_w"]), np.nan)
            for t in kept:
                if not np.isnan(canvas).any():
                    break
                reader = mr.CachedReader(bytes(blobs[t["image_id"]]))
                if band >= reader.meta.n_bands:
                    continue
                rep = rmo.reproject_to_grid(reader, band, *grid)
                need = np.isnan(canvas) & ~np.isnan(rep)
                canvas[need] = rep[need]
            assert np.array_equal(got, canvas, equal_nan=True), (chip["chip_id"], band)
            checked += 1
    assert checked >= 4


def test_psnr_truth_matches_real_decode():
    """truth PSNR frame == recompute from the real decoded blob."""
    from rasteret_spark.format.codecs import psnr

    pdf = truth.psnr_truth_pdf(40)
    by_id = {r["image_id"]: r for _, r in pdf.iterrows()}
    lossy = exact = 0
    for i in range(40):
        t = syn.make_image_truth(i)
        row = syn.make_image_row(i)
        got = container.decode_full(row["bytes"])
        if got.ndim == 2:
            got = got[None]
        r = by_id[f"img-{i:08d}"]
        real_exact = bool(np.array_equal(t["arr"], got))
        assert bool(r["exact"]) == real_exact
        p = float(min(psnr(t["arr"].astype(np.float64), got.astype(np.float64)), 1e6))
        assert p == r["psnr_db"]
        if r["lossless"]:
            assert real_exact and p == 1e6
            exact += 1
        else:
            assert p >= 40.0
            lossy += 1
    assert lossy >= 1 and exact >= 1
