"""Focal window operators (operators/focal.py): numpy-oracle exactness for
every statistic, replicate-edge and null semantics, strict vs normalized
convolution, Sobel gradients, composition over real mosaic rows, and the
plan contract (one vectorized Python stage per operator, ZERO shuffles —
each chip row is independent).

Reference parity: the reference hands assembled xarrays to the client for
neighborhood post-processing (`examples/landsat_xarray.py`); here the
kernel pass runs where the pixels are.
"""

import numpy as np
import pandas as pd
import pytest

from rasteret_spark.operators import focal
from rasteret_spark.operators import raster_mosaic as rmo

W, H = 6, 5


def _assert_python_stages(df, n):
    """Executed plan: exactly ``n`` MapInPandas (one per operator), no other
    Python node, and NO exchange."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == n and "EvalPython" not in plan, plan
    assert plan.count("Exchange") == 0, plan


def _grid(w=W, h=H):
    return {"chip_xmin": 1.0, "chip_ymax": 2.0, "chip_xres": 0.1,
            "chip_yres": -0.1, "chip_w": w, "chip_h": h, "grid_epsg": 4326}


def _rows():
    rng = np.random.default_rng(11)
    rows, truth = [], {}
    for chip in ("c1", "c2"):
        v = rng.uniform(-50.0, 100.0, W * H).round(3)
        mask = rng.random(W * H) < 0.2
        arr = np.where(mask, np.nan, v)
        rows.append({
            "chip_id": chip, "band": 0,
            "values": [None if np.isnan(x) else float(x) for x in arr],
            **_grid(),
        })
        truth[chip] = arr.reshape(H, W)
    # c3: fully null; c4: single pixel
    rows.append({"chip_id": "c3", "band": 0, "values": [None] * (W * H),
                 **_grid()})
    rows.append({"chip_id": "c4", "band": 0, "values": [7.0],
                 **_grid(w=1, h=1)})
    return rows, truth


@pytest.fixture(scope="module")
def per_band(spark):
    rows, truth = _rows()
    return spark.createDataFrame(rows), truth


def _windows(a2d, radius):
    """All clamped windows as (h, w, (2r+1)^2) in row-major offset order —
    the same order the Catalyst expression accumulates in."""
    h, w = a2d.shape
    pad = np.pad(a2d, radius, mode="edge")
    taps = []
    for dr in range(-radius, radius + 1):
        for dc in range(-radius, radius + 1):
            taps.append(pad[radius + dr:radius + dr + h,
                            radius + dc:radius + dc + w])
    return np.stack(taps, axis=-1)


def _np_focal(a2d, stat, radius):
    win = _windows(a2d, radius)
    valid = ~np.isnan(win)
    n = valid.sum(-1)
    if stat == "count":
        return n.astype(float)
    with np.errstate(invalid="ignore"):
        if stat == "min":
            out = np.where(n > 0, np.nanmin(win, axis=-1), np.nan)
        elif stat == "max":
            out = np.where(n > 0, np.nanmax(win, axis=-1), np.nan)
        else:
            s = np.where(valid, win, 0.0).sum(-1)
            if stat == "sum":
                out = np.where(n > 0, s, np.nan)
            else:
                out = np.where(n > 0, s / n, np.nan)
    return out


def _got(row, col):
    return np.array([np.nan if v is None else v for v in row[col]])


@pytest.mark.parametrize("stat", ["mean", "min", "max", "sum", "count"])
def test_focal_stats_match_numpy(per_band, stat):
    df, truth = per_band
    out = {r.chip_id: r for r in focal.focal_stats(df, stat, radius=1).collect()}
    for chip, a in truth.items():
        want = _np_focal(a, stat, 1).ravel()
        got = _got(out[chip], f"focal_{stat}")
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-9, equal_nan=True)
    # fully-null chip: every window has zero valid taps
    c3 = _got(out["c3"], f"focal_{stat}")
    if stat == "count":
        assert (c3 == 0.0).all()
    else:
        assert np.isnan(c3).all()
    # 1x1 chip: the window is the pixel replicated
    c4 = out["c4"][f"focal_{stat}"]
    assert c4 == [9.0 if stat == "count" else 63.0 if stat == "sum" else 7.0]


def test_focal_radius_two(per_band):
    df, truth = per_band
    out = {r.chip_id: r
           for r in focal.focal_stats(df, "mean", radius=2).collect()}
    for chip, a in truth.items():
        want = _np_focal(a, "mean", 2).ravel()
        np.testing.assert_allclose(
            _got(out[chip], "focal_mean"), want, rtol=0, atol=1e-9,
            equal_nan=True)


def test_sobel_matches_numpy(per_band):
    df, truth = per_band
    out = {r.chip_id: r for r in focal.sobel(df).collect()}
    kx = np.asarray(focal.SOBEL_X).ravel()
    ky = np.asarray(focal.SOBEL_Y).ravel()
    for chip, a in truth.items():
        win = _windows(a, 1)
        any_null = np.isnan(win).any(-1)
        gx = (win * kx).sum(-1)
        gy = (win * ky).sum(-1)
        want = np.where(any_null, np.nan, np.sqrt(gx * gx + gy * gy)).ravel()
        np.testing.assert_allclose(
            _got(out[chip], "sobel"), want, rtol=0, atol=1e-9, equal_nan=True)


def test_sobel_flat_field_is_zero(spark):
    df = spark.createDataFrame([{
        "chip_id": "c", "band": 0, "values": [5.0] * 12, **_grid(w=4, h=3)}])
    r = focal.sobel(df).collect()[0]
    assert all(v == 0.0 for v in r.sobel)


def test_focal_min_max_keep_first_extreme_tap():
    """min/max fold the taps in row-major offset order and replace only on
    a strict improvement, so -0.0 and 0.0 tie and the first tap wins (the
    array_min/array_max convention, not a total order)."""
    from rasteret_spark.operators import arrow_kernels as ak

    lo = ak.focal_stat_2d(np.array([[0.0, -0.0]]), "min", 1)
    hi = ak.focal_stat_2d(np.array([[-0.0, 0.0]]), "max", 1)
    assert (lo == 0.0).all() and not np.signbit(lo).any()
    assert (hi == 0.0).all() and np.signbit(hi).all()
    a = np.array([[np.nan, 3.0, np.nan], [np.nan, np.nan, np.nan]])
    for stat in ("min", "max"):
        np.testing.assert_array_equal(
            ak.focal_stat_2d(a, stat, 1), [[3.0] * 3, [3.0] * 3])
    assert np.isnan(ak.focal_stat_2d(np.full((2, 2), np.nan), "min", 1)).all()


def test_validation_errors(per_band):
    df, _ = per_band
    with pytest.raises(ValueError, match="unknown focal stat"):
        focal.focal_stats(df, "median")
    with pytest.raises(ValueError, match="radius"):
        focal.focal_stats(df, "mean", radius=0)
    with pytest.raises(ValueError, match="need column"):
        focal.sobel(df.drop("chip_w"))


def test_plan_is_pure_projection(per_band):
    """Each operator is one vectorized Python stage and adds NO exchange:
    the stencil stays where the pixels are."""
    df, _ = per_band
    fm = focal.focal_stats(df, "mean", radius=1, out_col="fm")
    _assert_python_stages(fm, 1)
    _assert_python_stages(focal.sobel(fm, value_col="fm", out_col="sb"), 2)


def _np_terrain(a2d, xres, yres, z_factor=1.0, altitude=45.0, azimuth=315.0):
    """Independent numpy Horn mirror: replicate-pad windows, Esri slope /
    compass aspect / hillshade; any-NaN window -> all outputs NaN."""
    import math

    win = _windows(a2d, 1)  # row-major offsets: a b c d e f g h i
    a, b, c, d, _, f, g, h, i = [win[..., k] for k in range(9)]
    p = ((c + 2 * f + i) - (a + 2 * d + g)) / (8 * abs(xres))
    q = ((a + 2 * b + c) - (g + 2 * h + i)) / (8 * abs(yres))
    srad = np.arctan(z_factor * np.sqrt(p * p + q * q))
    arad = np.arctan2(-q, -p)
    compass = (450.0 - np.degrees(arad)) % 360.0
    compass = np.where((p == 0) & (q == 0), np.nan, compass)
    zen = math.radians(90.0 - altitude)
    azm = math.radians((360.0 - azimuth + 90.0) % 360.0)
    hs = 255.0 * (math.cos(zen) * np.cos(srad)
                  + math.sin(zen) * np.sin(srad) * np.cos(azm - arad))
    hs = np.maximum(0.0, hs)
    bad = np.isnan(win).any(-1)
    out = {}
    for name, arr in [("dzdx", p), ("dzdy", q), ("slope", np.degrees(srad)),
                      ("aspect", compass), ("hillshade", hs)]:
        out[name] = np.where(bad, np.nan, arr)
    return out


def test_terrain_matches_numpy(per_band):
    df, truth = per_band
    got = {r.chip_id: r for r in focal.terrain(
        df, outs=("dzdx", "dzdy", "slope", "aspect", "hillshade"),
        z_factor=2.0, altitude=30.0, azimuth=225.0,
    ).collect()}
    for chip, a2d in truth.items():
        want = _np_terrain(a2d, 0.1, -0.1, z_factor=2.0,
                           altitude=30.0, azimuth=225.0)
        for name in ("dzdx", "dzdy", "slope", "aspect", "hillshade"):
            gv = np.asarray([np.nan if v is None else v
                             for v in got[chip][name]])
            np.testing.assert_allclose(
                gv, want[name].ravel(), atol=1e-9, equal_nan=True,
                err_msg=f"{chip}:{name}")
    # fully-null chip: all outputs null; 1x1 chip: flat -> slope 0
    assert all(v is None for v in got["c3"].slope)
    r4 = got["c4"]
    assert r4.slope[0] == 0.0 and r4.aspect[0] is None
    assert abs(r4.hillshade[0] - 255.0 * np.cos(np.radians(60.0))) < 1e-9


def test_terrain_compass_conventions(spark):
    """Hand ramps pin the aspect compass: downslope to the east -> 90,
    south -> 180, west -> 270, north -> 0; slope angle is exact."""
    w = h = 3
    ramps = {
        # z falls eastward by 1 per column; |xres|=1 -> tan(slope)=1 -> 45
        "east": [[2.0, 1.0, 0.0]] * 3,
        "west": [[0.0, 1.0, 2.0]] * 3,
        # z falls southward (row index grows south)
        "south": [[2.0] * 3, [1.0] * 3, [0.0] * 3],
        "north": [[0.0] * 3, [1.0] * 3, [2.0] * 3],
    }
    rows = [{"chip_id": k, "band": 0,
             "values": [float(v) for row in vals for v in row],
             "chip_xmin": 0.0, "chip_ymax": 0.0, "chip_xres": 1.0,
             "chip_yres": -1.0, "chip_w": w, "chip_h": h, "grid_epsg": 32633}
            for k, vals in ramps.items()]
    got = {r.chip_id: r for r in
           focal.terrain(spark.createDataFrame(rows)).collect()}
    for k, want_aspect in [("east", 90.0), ("south", 180.0),
                           ("west", 270.0), ("north", 0.0)]:
        r = got[k]
        center = 4  # middle pixel of 3x3
        assert abs(r.slope[center] - 45.0) < 1e-9, k
        assert abs(r.aspect[center] - want_aspect) < 1e-9, k
    # sun at default 315 az / 45 alt: a NW-facing slope is brightest
    nw = {r.chip_id: r for r in focal.terrain(spark.createDataFrame([
        {**rows[0], "chip_id": "nw",
         "values": [2.0, 1.0, 0.0, 1.0, 0.5, -0.5, 0.0, -0.5, -1.5][::-1]}
    ])).collect()}["nw"]
    assert nw.hillshade[4] > got["east"].hillshade[4]


def test_terrain_validation_and_plan(per_band):
    df, _ = per_band
    with pytest.raises(ValueError, match="unknown terrain"):
        focal.terrain(df, outs=("slope", "curvature"))
    with pytest.raises(ValueError, match="needs column"):
        focal.terrain(df.drop("chip_xres"))
    _assert_python_stages(focal.terrain(df), 1)


def _np_spatial(a2d):
    """Independent Moran/Geary mirror: vectorized numpy (different
    accumulation shape from both the engine and the truth module)."""
    h, w = a2d.shape
    valid = ~np.isnan(a2d)
    n = valid.sum()
    mean = np.nanmean(a2d)
    dev = np.where(valid, a2d - mean, 0.0)
    wp = num_i = num_c = 0.0
    for dr, dc in ((-1, 0), (1, 0), (0, -1), (0, 1)):
        src = a2d[max(0, dr):h + min(0, dr), max(0, dc):w + min(0, dc)]
        dst = a2d[max(0, -dr):h + min(0, -dr), max(0, -dc):w + min(0, -dc)]
        m = ~np.isnan(src) & ~np.isnan(dst)
        wp += m.sum()
        num_i += np.sum(np.where(m, (src - mean) * (dst - mean), 0.0))
        num_c += np.sum(np.where(m, (src - dst) ** 2, 0.0))
    den = np.sum(dev * dev)
    if wp == 0 or den == 0:
        return None, None, int(n), int(wp)
    return (
        (n / wp) * (num_i / den),
        ((n - 1) / (2 * wp)) * (num_c / den),
        int(n), int(wp),
    )


def test_spatial_stats_match_numpy(per_band):
    df, truth = per_band
    got = {r.chip_id: r for r in focal.spatial_stats(df).collect()}
    for chip, a2d in truth.items():
        mi, gc, n, wp = _np_spatial(a2d)
        r = got[chip]
        assert (r.n_valid, r.w_pairs) == (n, wp)
        assert abs(r.morans_i - mi) < 1e-9 and abs(r.gearys_c - gc) < 1e-9
    # degenerate chips: all-null and 1x1 -> null statistics
    assert got["c3"].morans_i is None and got["c3"].w_pairs == 0
    assert got["c4"].morans_i is None  # single pixel: no pairs


def test_spatial_stats_known_patterns(spark):
    """Hand-pinned extremes: a constant chip has zero variance (null I);
    a checkerboard is perfectly dispersed (I = -1 for this size); a
    half/half split is strongly clustered (I near +1)."""
    w = h = 4
    checker = [[float((r + c) % 2) for c in range(w)] for r in range(h)]
    halves = [[0.0] * w if r < h // 2 else [1.0] * w for r in range(h)]
    rows = [
        {"chip_id": k, "band": 0,
         "values": [v for row in vals for v in row],
         **_grid(w=w, h=h)}
        for k, vals in [("checker", checker), ("halves", halves),
                        ("const", [[7.0] * w] * h)]
    ]
    got = {r.chip_id: r for r in
           focal.spatial_stats(spark.createDataFrame(rows)).collect()}
    assert got["const"].morans_i is None and got["const"].n_valid == 16
    assert got["checker"].morans_i == -1.0  # every neighbor pair opposes
    assert got["halves"].morans_i > 0.5
    assert got["checker"].gearys_c > 1.0 and got["halves"].gearys_c < 0.5
    _assert_python_stages(focal.spatial_stats(spark.createDataFrame(rows)), 1)


def test_spatial_stats_truth_mirror_agrees_on_real_chips(spark):
    """q77 closure: engine Moran/Geary over real encoded mosaics equal the
    independent numpy truth mirror, bit for bit."""
    import duckdb

    import __spark_entry__ as entry

    got = (
        entry.q77_spatial_stats(spark, entry.ORACLE_SF_DIR)
        .toPandas()
        .sort_values(["chip_id", "band"])
        .reset_index(drop=True)
    )
    want = (
        duckdb.sql(entry.oracle_sql()["q77_spatial_stats"])
        .df()
        .sort_values(["chip_id", "band"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    ints = {"band": "int64", "n_valid": "int64", "w_pairs": "int64"}
    pd.testing.assert_frame_equal(
        got.astype(ints), want.astype(ints), check_exact=True
    )
    assert got["morans_i"].notna().any()


def test_terrain_truth_mirror_agrees_on_real_chips(spark):
    """q74 closure: the engine's Horn gradients over real encoded mosaics
    equal the independent numpy truth mirror, bit for bit, and the steep
    threshold is not degenerate."""
    import duckdb

    import __spark_entry__ as entry

    got = (
        entry.q74_terrain(spark, entry.ORACLE_SF_DIR)
        .toPandas()
        .sort_values(["chip_id", "band"])
        .reset_index(drop=True)
    )
    want = (
        duckdb.sql(entry.oracle_sql()["q74_terrain"])
        .df()
        .sort_values(["chip_id", "band"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    ints = {"band": "int64", "grad_valid": "int64", "steep_px": "int64"}
    pd.testing.assert_frame_equal(
        got.astype(ints), want.astype(ints), check_exact=True
    )
    assert got["steep_px"].sum() > 0
    assert (got["steep_px"] < got["grad_valid"]).any()


def test_focal_over_real_mosaic_composes(spark, images_pdf):
    """End-to-end: real-blob mosaic -> focal mean -> Sobel over the smoothed
    band, checked against numpy over the SAME mosaic rows."""
    chips = spark.createDataFrame(pd.DataFrame([
        {"chip_id": f"f-{j}", "chip_xmin": 13.36 + j * 0.03,
         "chip_ymax": 52.54, "chip_xres": 0.001, "chip_yres": 0.001,
         "chip_w": 16, "chip_h": 16}
        for j in range(3)
    ]))
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    payload = spark.createDataFrame(images_pdf[["image_id", "datetime", "bytes"]])
    pairs = rmo.chip_candidates(chips, img_light, payload, res=7)
    mosaic = rmo.first_valid_mosaic_pixels(pairs, bands=(0,)).persist()
    rows = {r.chip_id: r for r in
            mosaic.select("chip_id", "values", "chip_w", "chip_h").collect()}
    assert rows, "no chips composited"
    fm = focal.focal_stats(mosaic, "mean", radius=1, out_col="fm")
    got = {r.chip_id: r for r in
           focal.sobel(fm, value_col="fm", out_col="sb").collect()}
    for chip_id, r in rows.items():
        a = np.asarray(
            [np.nan if v is None else v for v in r["values"]]
        ).reshape(r.chip_h, r.chip_w)
        fm_want = _np_focal(a, "mean", 1)
        win = _windows(fm_want, 1)
        any_null = np.isnan(win).any(-1)
        gx = (win * np.asarray(focal.SOBEL_X).ravel()).sum(-1)
        gy = (win * np.asarray(focal.SOBEL_Y).ravel()).sum(-1)
        want = np.where(any_null, np.nan, np.sqrt(gx**2 + gy**2)).ravel()
        np.testing.assert_allclose(
            _got(got[chip_id], "sb"), want, rtol=0, atol=1e-9, equal_nan=True)
    mosaic.unpersist()
