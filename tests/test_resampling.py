"""Cubic + average resampling kernels vs independent pointwise oracles
(pure-kernel tests, no Spark) — same differential strategy as the bilinear
oracle test.  Reference surface: rasterio Resampling.cubic / .average through
`/root/reference/src/rasteret/core/utils.py:215-344`."""

import numpy as np

from rasteret_spark.format import container, miniraster as mr
from rasteret_spark.operators import raster_mosaic as rmo


def _keys_w(t: float) -> list[float]:
    a = -0.5
    d = [1.0 + t, t, 1.0 - t, 2.0 - t]
    out = []
    for i, dd in enumerate(d):
        if i in (1, 2):  # |d| <= 1
            out.append((a + 2) * dd**3 - (a + 3) * dd**2 + 1)
        else:  # 1 < |d| < 2
            out.append(a * (dd**3 - 5 * dd**2 + 8 * dd - 4))
    return out


def test_reproject_cubic_matches_pointwise_oracle():
    rng = np.random.default_rng(11)
    arr = (rng.random((80, 100)) * 500).astype("float32")
    tr = (0.001, 0.0, 10.0, 0.0, -0.001, 50.0)
    blob = mr.encode_image(arr, tile_w=32, tile_h=32, transform=tr, epsg=4326)
    reader = mr.CachedReader(blob)
    g = dict(xmin=10.004, ymax=49.996, xres=0.00043, yres=0.00039, w=40, h=30)
    got = rmo.reproject_cubic(reader, 0, g["xmin"], g["ymax"], g["xres"], g["yres"],
                              g["w"], g["h"])
    full = container.decode_full(blob).astype(np.float64)
    for r in range(g["h"]):
        for c in range(g["w"]):
            lon = g["xmin"] + (c + 0.5) * g["xres"]
            lat = g["ymax"] - (r + 0.5) * g["yres"]
            fc = (lon - tr[2]) / tr[0]
            fr = (lat - tr[5]) / tr[4]
            if not (0 <= fc < 100 and 0 <= fr < 80):
                assert np.isnan(got[r, c])
                continue
            gx, gy = fc - 0.5, fr - 0.5
            c0, r0 = int(np.floor(gx)), int(np.floor(gy))
            tx, ty = min(max(gx - c0, 0.0), 1.0), min(max(gy - r0, 0.0), 1.0)
            wx, wy = _keys_w(tx), _keys_w(ty)
            want = 0.0
            for i in range(4):
                for j in range(4):
                    rr = min(max(r0 - 1 + i, 0), 79)
                    cc = min(max(c0 - 1 + j, 0), 99)
                    want += wy[i] * wx[j] * full[rr, cc]
            np.testing.assert_allclose(got[r, c], want, rtol=1e-10)


def test_reproject_cubic_nodata_poisons_strictly():
    arr = np.full((40, 40), 7.0, dtype="float32")
    arr[18:22, 18:22] = -9999.0
    tr = (0.001, 0.0, 0.0, 0.0, -0.001, 0.0)
    blob = mr.encode_image(arr, transform=tr, epsg=4326, nodata=-9999.0)
    reader = mr.CachedReader(blob)
    out = rmo.reproject_cubic(reader, 0, 0.0, 0.0, 0.001, 0.001, 40, 40)
    assert np.isnan(out[20, 20])
    # cubic's 4x4 stencil poisons a wider halo than bilinear's 2x2
    assert np.isnan(out).sum() > 16
    np.testing.assert_allclose(out[5, 5], 7.0, rtol=1e-12)


def test_reproject_average_downsample_matches_block_mean():
    """2x downsample on an aligned grid: each target pixel must be the exact
    mean of its 2x2 source block (all centers land in the target cell)."""
    rng = np.random.default_rng(13)
    arr = (rng.random((64, 64)) * 100).astype("float32")
    tr = (0.001, 0.0, 0.0, 0.0, -0.001, 0.0)
    blob = mr.encode_image(arr, tile_w=32, tile_h=32, transform=tr, epsg=4326)
    reader = mr.CachedReader(blob)
    out = rmo.reproject_average(reader, 0, 0.0, 0.0, 0.002, 0.002, 32, 32)
    want = arr.astype(np.float64).reshape(32, 2, 32, 2).mean(axis=(1, 3))
    np.testing.assert_allclose(out, want, rtol=1e-12)


def test_reproject_average_ignores_nodata_in_means():
    arr = np.full((8, 8), 10.0, dtype="float32")
    arr[0, 0] = -1.0  # nodata inside the first 2x2 block
    tr = (0.001, 0.0, 0.0, 0.0, -0.001, 0.0)
    blob = mr.encode_image(arr, transform=tr, epsg=4326, nodata=-1.0)
    reader = mr.CachedReader(blob)
    out = rmo.reproject_average(reader, 0, 0.0, 0.0, 0.002, 0.002, 4, 4)
    # valid-only mean: the block with one nodata still averages to 10
    np.testing.assert_allclose(out, np.full((4, 4), 10.0), rtol=1e-12)


def test_reproject_average_upsample_falls_back_to_nearest():
    rng = np.random.default_rng(17)
    arr = (rng.random((16, 16)) * 50).astype("float32")
    tr = (0.001, 0.0, 0.0, 0.0, -0.001, 0.0)
    blob = mr.encode_image(arr, transform=tr, epsg=4326)
    reader = mr.CachedReader(blob)
    # 4x upsample: most target cells have no source center -> nearest values
    avg = rmo.reproject_average(reader, 0, 0.0, 0.0, 0.00025, 0.00025, 64, 64)
    near = rmo.reproject_nearest(reader, 0, 0.0, 0.0, 0.00025, 0.00025, 64, 64)
    assert np.isfinite(avg).all()
    # cells that DO contain a source center hold that single pixel's value,
    # which is also its nearest value on this aligned grid — so avg == near
    np.testing.assert_allclose(avg, near, rtol=1e-12)


def test_reproject_to_grid_dispatch_and_unknown_method():
    arr = np.ones((8, 8), dtype="float32")
    blob = mr.encode_image(arr, transform=(0.001, 0.0, 0.0, 0.0, -0.001, 0.0))
    reader = mr.CachedReader(blob)
    grid = (0.0, 0.0, 0.001, 0.001, 8, 8)
    for m in ("nearest", "bilinear", "cubic", "average"):
        out = rmo.reproject_to_grid(reader, 0, *grid, method=m)
        assert out.shape == (8, 8)
    try:
        rmo.reproject_to_grid(reader, 0, *grid, method="lanczos")
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "unknown resample method" in str(e)


def test_mosaic_with_average_method(spark, images_pdf):
    """End-to-end: first_valid_mosaic_pixels(method='average') produces a
    fully-formed composite over the hotspot chips."""
    import pandas as pd

    im = images_pdf.iloc[0]
    chip = {
        "chip_id": "chip-avg",
        "chip_xmin": float(im["xmin"]),
        "chip_ymax": float(im["ymax"]),
        "chip_xres": (float(im["xmax"]) - float(im["xmin"])) / 8,
        "chip_yres": (float(im["ymax"]) - float(im["ymin"])) / 8,
        "chip_w": 8,
        "chip_h": 8,
    }
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [{**chip, "image_id": im["image_id"], "datetime": im["datetime"],
              "bytes": im["bytes"]}]
        )
    )
    got = rmo.first_valid_mosaic_pixels(pairs, bands=(0,), method="average").toPandas()
    assert len(got) == 1 and got.iloc[0]["status"] == "ok"
    assert got.iloc[0]["filled"] > 0
