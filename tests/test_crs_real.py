"""Real (non-linear) CRS support: spherical Web Mercator (EPSG:3857) and
ellipsoidal WGS84 UTM via the Krueger flattening series (EPSG:327xx south;
``tm_forward``/``tm_inverse`` for arbitrary zones).

Correctness strategy: the engine's Krueger-series Transverse Mercator is
cross-checked against an INDEPENDENT public formulation implemented here —
the classic Redfearn/Snyder series (Snyder, "Map Projections: A Working
Manual", USGS PP 1395, eqs. 8-9..8-17).  Two independent series agreeing to
millimeters over a zone is strong evidence both are the real projection.
Plus closed-form anchors (central-meridian exactness, k0 scale, Web Mercator
bounds) and engine-level zonal/warp runs on a real-UTM raster.
"""

import numpy as np
import pandas as pd
import pytest

from rasteret_spark import crs, geom
from rasteret_spark.format import codecs, miniraster as mr
from rasteret_spark.operators import decode, raster_mosaic as rmo


# --- independent oracle: Redfearn/Snyder forward -------------------------------
def snyder_tm_forward(lon, lat, lon0_deg, k0=0.9996, fe=500_000.0, fn=0.0):
    a = crs.WGS84_A
    f = crs.WGS84_F
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0_deg)
    N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
    T = np.tan(phi) ** 2
    C = ep2 * np.cos(phi) ** 2
    A = lam * np.cos(phi)
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    x = fe + k0 * N * (
        A
        + (1 - T + C) * A**3 / 6
        + (5 - 18 * T + T**2 + 72 * C - 58 * ep2) * A**5 / 120
    )
    y = fn + k0 * (
        M
        + N
        * np.tan(phi)
        * (
            A**2 / 2
            + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
            + (61 - 58 * T + T**2 + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    return x, y


def test_krueger_agrees_with_snyder_series():
    """Two independent public series, mm agreement across a zone (N + S)."""
    rng = np.random.default_rng(11)
    lon = 15.0 + rng.uniform(-3.0, 3.0, 500)  # zone 33
    lat = rng.uniform(-79.0, 84.0, 500)
    kx, ky = crs.tm_forward(lon, lat, 15.0, 0.9996, 500_000.0, 0.0)
    sx, sy = snyder_tm_forward(lon, lat, 15.0)
    np.testing.assert_allclose(kx, sx, atol=5e-3)
    np.testing.assert_allclose(ky, sy, atol=5e-3)


def _utm_north(zone: int):
    """(to_lonlat, from_lonlat) of real WGS84 UTM zone ``zone`` north."""
    lon0 = zone * 6.0 - 183.0
    return (
        lambda x, y: crs.tm_inverse(x, y, lon0, 0.9996, 500_000.0, 0.0),
        lambda lon, lat: crs.tm_forward(lon, lat, lon0, 0.9996, 500_000.0, 0.0),
    )


def test_utm_known_fixture_copenhagen():
    """pyproj-documented example: (55N, 12E) in UTM 32N -> ~(691875.63, 6098907.83)."""
    to_ll, from_ll = _utm_north(32)
    x, y = from_ll(np.array([12.0]), np.array([55.0]))
    assert abs(x[0] - 691875.632) < 0.1
    assert abs(y[0] - 6098907.825) < 0.1
    lon, lat = to_ll(x, y)
    assert abs(lon[0] - 12.0) < 1e-9 and abs(lat[0] - 55.0) < 1e-9


def test_central_meridian_anchors_and_scale():
    to_ll, from_ll = _utm_north(33)
    # equator on the CM is the projection origin
    x, y = from_ll(np.array([15.0]), np.array([0.0]))
    assert abs(x[0] - 500_000.0) < 1e-6 and abs(y[0]) < 1e-6
    # scale along the CM is k0 = 0.9996 (numeric derivative vs geodesic arc)
    for lat in (0.0, -35.0, 55.0):
        d = 1e-5
        _, y0 = from_ll(np.array([15.0]), np.array([lat - d]))
        _, y1 = from_ll(np.array([15.0]), np.array([lat + d]))
        phi = np.radians(lat)
        e2 = crs.WGS84_F * (2 - crs.WGS84_F)
        m_per_deg = (
            np.pi / 180.0 * crs.WGS84_A * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
        )
        k = (y1[0] - y0[0]) / (2 * d * m_per_deg)
        assert abs(k - 0.9996) < 1e-6


def test_utm_roundtrip_and_south_offset():
    rng = np.random.default_rng(12)
    lon = 153.0 + rng.uniform(-3.0, 3.0, 300)  # zone 56
    lat = rng.uniform(-80.0, -0.1, 300)
    x, y = crs.from_lonlat(32756, lon, lat)  # builtin real UTM south
    lon2, lat2 = crs.to_lonlat(32756, x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    # southern code = northern grid + 10,000 km false northing, same easting
    to_n, from_n = _utm_north(56)
    xn, yn = from_n(lon, lat)
    np.testing.assert_allclose(x, xn, atol=1e-9)
    np.testing.assert_allclose(y, yn + 10_000_000.0, atol=1e-6)
    assert not crs.is_separable(32756)


def test_web_mercator_closed_form():
    x, y = crs.from_lonlat(3857, np.array([0.0, 180.0]), np.array([0.0, 0.0]))
    assert abs(x[0]) < 1e-9 and abs(y[0]) < 1e-9
    assert abs(x[1] - np.pi * crs.WEB_MERCATOR_R) < 1e-6
    # y(45N) = R * ln(1 + sqrt(2))
    _, y45 = crs.from_lonlat(3857, np.array([0.0]), np.array([45.0]))
    assert abs(y45[0] - crs.WEB_MERCATOR_R * np.log(1 + np.sqrt(2))) < 1e-6
    lon, lat = crs.to_lonlat(3857, np.array([1_000_000.0]), np.array([6_800_000.0]))
    x2, y2 = crs.from_lonlat(3857, lon, lat)
    assert abs(x2[0] - 1_000_000.0) < 1e-6 and abs(y2[0] - 6_800_000.0) < 1e-6
    assert crs.is_separable(3857)


def test_register_custom_crs_dispatch():
    code = 990_032  # user-registered real UTM 32N under a private code
    crs.register_crs(code, *_utm_north(32), separable=False)
    try:
        x, y = crs.from_lonlat(code, np.array([12.0]), np.array([55.0]))
        assert abs(x[0] - 691875.632) < 0.1
        assert not crs.is_separable(code)
    finally:
        del crs._REGISTRY[code]
    with pytest.raises(ValueError, match="unregistered"):
        crs.from_lonlat(code, np.array([0.0]), np.array([0.0]))


def test_bbox_from_lonlat_densified_contains_boundary():
    """The window bbox must contain EVERY boundary point of the lon/lat box
    under the curved TM mapping (corners alone undershoot)."""
    xmin, ymin, xmax, ymax = 13.0, -34.0, 17.0, -30.0  # spans the CM: edges curve
    bx0, by0, bx1, by1 = crs.bbox_from_lonlat(32733, xmin, ymin, xmax, ymax)
    t = np.linspace(0, 1, 200)
    lons = np.concatenate([xmin + (xmax - xmin) * t, np.full_like(t, xmax),
                           xmax + (xmin - xmax) * t, np.full_like(t, xmin)])
    lats = np.concatenate([np.full_like(t, ymin), ymin + (ymax - ymin) * t,
                           np.full_like(t, ymax), ymax + (ymin - ymax) * t])
    px, py = crs.from_lonlat(32733, lons, lats)
    pad = 50.0  # densify at 8/edge leaves < 50 m sag over a 4-degree edge
    assert px.min() >= bx0 - pad and px.max() <= bx1 + pad
    assert py.min() >= by0 - pad and py.max() <= by1 + pad
    # corner-only mapping MISSES the northing bulge where the top edge
    # crosses the central meridian (southern hemisphere: y peaks at the CM)
    _, cy = crs.from_lonlat(
        32733, np.array([xmin, xmax, xmin, xmax]), np.array([ymin, ymin, ymax, ymax])
    )
    assert by1 > cy.max() + 100.0  # densified bound is strictly higher than corners


# --- engine-level: real-UTM raster through zonal + warp ------------------------
@pytest.fixture(scope="module")
def real_utm_image():
    """96x96 gradient raster in EPSG:32733 (real UTM 33S), 30 m pixels,
    upper-left anchored at (15.4E, 29.7S)."""
    epsg = 32733
    x0, y0 = (float(v) for v in crs.from_lonlat(epsg, 15.4, -29.7))
    transform = (30.0, 0.0, x0, 0.0, -30.0, y0)
    arr = (np.arange(96 * 96, dtype=np.int32).reshape(96, 96) % 30000).astype("int32")
    blob = mr.encode_image(
        arr, compression=codecs.COMP_DEFLATE, transform=transform, epsg=epsg,
        nodata=-1.0,
    )
    return arr, blob, transform, epsg


def test_zonal_on_real_utm_matches_pointwise_oracle(spark, real_utm_image):
    arr, blob, transform, epsg = real_utm_image
    # AOI: lon/lat box strictly inside the footprint
    glon, glat = decode.pixel_centers_lonlat(transform, epsg, 0, 0, 96, 96)
    xmin, xmax = glon.min() + 0.002, glon.max() - 0.002
    ymin, ymax = glat.min() + 0.002, glat.max() - 0.002
    ring = np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]])
    wkb = geom.wkb_polygon([ring])
    pairs = spark.createDataFrame(pd.DataFrame([{
        "image_id": "utm-real", "aoi_id": "a1", "aoi_geometry": bytearray(wkb),
        "aoi_xmin": xmin, "aoi_ymin": ymin, "aoi_xmax": xmax, "aoi_ymax": ymax,
    }]))
    images = spark.createDataFrame(pd.DataFrame([{
        "image_id": "utm-real", "bytes": bytearray(blob), "caption": "c",
    }]))
    got = decode.zonal_stats(pairs, images, bands=(0,)).toPandas().iloc[0]
    assert got["status"] == "ok"
    # oracle: full-grid generic PIP over ALL pixel centers
    inside = geom.points_in_polygon_wkb(glon.ravel(), glat.ravel(), wkb).reshape(96, 96)
    vals = arr.astype(np.float64)[inside]
    assert got["valid_count"] == int(inside.sum())
    assert got["v_sum"] == pytest.approx(float(vals.sum()), rel=1e-12)
    assert got["v_min"] == vals.min() and got["v_max"] == vals.max()


def test_warp_nearest_on_real_utm_uses_true_projection(real_utm_image):
    """Each warped target pixel equals the source pixel selected by the
    INDEPENDENT Snyder forward — i.e. the warp applies real TM, not a
    linear approximation (which would be off by whole pixels)."""
    arr, blob, transform, epsg = real_utm_image
    reader = mr.CachedReader(blob)
    glon, glat = decode.pixel_centers_lonlat(transform, epsg, 0, 0, 96, 96)
    xmin, ymax = glon.min() + 0.003, glat.max() - 0.003
    xres = yres = 0.0004
    w = h = 24
    out = rmo.reproject_nearest(reader, 0, xmin, ymax, xres, yres, w, h)
    lons = xmin + (np.arange(w) + 0.5) * xres
    lats = ymax - (np.arange(h) + 0.5) * yres
    gx, gy = np.meshgrid(lons, lats)
    sx, sy = snyder_tm_forward(gx.ravel(), gy.ravel(), 15.0, fn=10_000_000.0)
    a, _, c, _, e, f = transform
    fc, fr = (sx - c) / a, (sy - f) / e
    # skip pixels whose mapped point sits within 1 mm of a pixel edge (the
    # two series differ at that scale; everything else must match exactly)
    safe = (np.abs(fc - np.round(fc)) > 1e-3 / 30) & (np.abs(fr - np.round(fr)) > 1e-3 / 30)
    cols = np.floor(fc).astype(int)
    rows = np.floor(fr).astype(int)
    inb = (cols >= 0) & (cols < 96) & (rows >= 0) & (rows < 96) & safe
    expect = arr[rows[inb], cols[inb]].astype(np.float64)
    np.testing.assert_array_equal(out.ravel()[inb], expect)
    assert inb.sum() > 0.9 * w * h
    # and a LINEAR mapping of the same grid lands >=1 pixel away for most
    # points (the projections genuinely differ here)
    lx = (gx.ravel() - 15.0) * crs.M_PER_DEG_X + 500_000.0
    off = np.abs(lx - sx)
    assert (off > 30.0).mean() > 0.9


def test_average_on_real_utm_matches_bruteforce(real_utm_image):
    arr, blob, transform, epsg = real_utm_image
    reader = mr.CachedReader(blob)
    glon, glat = decode.pixel_centers_lonlat(transform, epsg, 0, 0, 96, 96)
    xmin, ymax = glon.min() + 0.001, glat.max() - 0.001
    xres = yres = 0.003  # coarse: ~10 source pixels per target cell
    w = h = 6
    out = rmo.reproject_average(reader, 0, xmin, ymax, xres, yres, w, h)
    # brute force: bin EVERY source center into target cells
    tcol = np.floor((glon.ravel() - xmin) / xres).astype(int)
    trow = np.floor((ymax - glat.ravel()) / yres).astype(int)
    vals = arr.astype(np.float64).ravel()
    expect = np.full((h, w), np.nan)
    for r in range(h):
        for c2 in range(w):
            m = (tcol == c2) & (trow == r)
            if m.any():
                expect[r, c2] = vals[m].mean()
    got_mask = ~np.isnan(expect)
    np.testing.assert_allclose(out[got_mask], expect[got_mask], rtol=1e-12)


def test_mixed_crs_mosaic_smoke(spark, real_utm_image):
    """A linear-zone image and a real-UTM image composite onto one lon/lat
    chip grid without error."""
    arr, blob, transform, epsg = real_utm_image
    glon, glat = decode.pixel_centers_lonlat(transform, epsg, 0, 0, 96, 96)
    lin_epsg = 32633
    lx, ly = crs.from_lonlat(lin_epsg, float(glon.min()), float(glat.max()))
    lin_blob = mr.encode_image(
        (np.full((96, 96), 7, dtype=np.int32)),
        transform=(30.0, 0.0, float(lx), 0.0, -30.0, float(ly)),
        epsg=lin_epsg,
    )
    chip = {
        "chip_id": "mix", "chip_xmin": float(glon.min()) + 0.002,
        "chip_ymax": float(glat.max()) - 0.002,
        "chip_xres": 0.0005, "chip_yres": 0.0005, "chip_w": 16, "chip_h": 16,
    }
    pairs = spark.createDataFrame(pd.DataFrame([
        {**chip, "image_id": "utm-real", "datetime": pd.Timestamp("2024-01-02"),
         "bytes": bytearray(blob)},
        {**chip, "image_id": "lin", "datetime": pd.Timestamp("2024-01-01"),
         "bytes": bytearray(lin_blob)},
    ]))
    got = rmo.first_valid_mosaic_pixels(pairs, bands=(0,)).toPandas()
    row = got.iloc[0]
    assert row["status"] == "ok" and row["filled"] == 256


def test_transform_points_ring_bbox_cross_crs():
    """CRS-to-CRS via the lon/lat hub: linear-zone -> real-UTM roundtrip and
    curvature-safe bbox transform."""
    rng = np.random.default_rng(21)
    lon = 15.0 + rng.uniform(-2, 2, 50)
    lat = rng.uniform(-40, -20, 50)
    # 32633 (linear synthetic) -> 32733 (real UTM south) -> back
    x33, y33 = crs.from_lonlat(32633, lon, lat)
    x73, y73 = crs.transform_points(32633, 32733, x33, y33)
    x33b, y33b = crs.transform_points(32733, 32633, x73, y73)
    np.testing.assert_allclose(x33b, x33, atol=1e-6)
    np.testing.assert_allclose(y33b, y33, atol=1e-6)
    # bbox: densified transform must contain every mapped boundary point
    bb33 = (float(x33.min()), float(y33.min()), float(x33.max()), float(y33.max()))
    bb73 = crs.transform_bbox(32633, 32733, bb33, density=16)
    px, py = crs.transform_points(32633, 32733, x33, y33)
    assert bb73[0] <= px.min() and px.max() <= bb73[2]
    assert bb73[1] <= py.min() and py.max() <= bb73[3]


# --- WKT2 spelling (CF/spatial_ref parity) --------------------------------------
class TestCrsWkt:
    def test_wgs84_geogcrs(self):
        w = crs.crs_wkt(4326)
        assert w.startswith('GEOGCRS["WGS 84"')
        assert 'ELLIPSOID["WGS 84",6378137,298.257223563' in w
        assert 'ID["EPSG",4326]]' in w

    def test_web_mercator_projcrs(self):
        w = crs.crs_wkt(3857)
        assert w.startswith('PROJCRS["WGS 84 / Pseudo-Mercator"')
        assert 'METHOD["Popular Visualisation Pseudo Mercator"' in w
        assert 'PARAMETER["False easting",0' in w
        assert 'ID["EPSG",3857]]' in w

    def test_real_utm_south_parameters(self):
        w = crs.crs_wkt(32733)  # zone 33 south: lon0 = 15
        assert 'METHOD["Transverse Mercator",ID["EPSG",9807]]' in w
        assert 'PARAMETER["Longitude of natural origin",15' in w
        assert 'PARAMETER["Scale factor at natural origin",0.9996' in w
        assert 'PARAMETER["False easting",500000' in w
        assert 'PARAMETER["False northing",10000000' in w
        assert 'ID["EPSG",32733]]' in w

    def test_synthetic_linear_zone_is_declared_not_disguised(self):
        w = crs.crs_wkt(32633)
        assert "synthetic" in w and "REMARK" in w
        assert "111320" in w and "110540" in w
        assert 'METHOD["Equidistant Cylindrical"' in w
        assert 'METHOD["Transverse Mercator"' not in w, (
            "linear zones must not claim to be real TM"
        )

    def test_registry_and_unknown(self):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="no WKT2 spelling"):
            crs.crs_wkt(99999)
        crs.register_crs_wkt(99999, 'ENGCRS["test"]')
        assert crs.crs_wkt(99999) == 'ENGCRS["test"]'

    def test_assembled_attrs_carry_crs_wkt(self):
        from rasteret_spark.operators import assemble

        row = {
            "chip_id": "c", "chip_xmin": 13.0, "chip_ymax": 52.0,
            "chip_xres": 0.001, "chip_yres": 0.001, "chip_w": 2, "chip_h": 2,
            "grid_epsg": 4326, "values": [1.0, None, 3.0, 4.0],
        }
        _, attrs = assemble.chip_to_array(row)
        assert attrs["crs_wkt"].startswith('GEOGCRS["WGS 84"')
        row["grid_epsg"] = 32733
        _, attrs = assemble.chip_to_array(row)
        assert "UTM zone 33S" in attrs["crs_wkt"]


# --- builtin real-world codes beyond UTM/Mercator (round 5) -------------------
class TestLAEAandPolar:
    """EPSG:3035 (ellipsoidal LAEA) and EPSG:3413/3031 (polar stereographic
    variant B) — Snyder-formula implementations pinned by the published
    EPSG worked example, projection-defining invariants (equal-area
    Jacobian, conformal isotropy, unit scale on the standard parallel),
    and tight roundtrips."""

    def test_laea_epsg_worked_example(self):
        # EPSG Guidance Note 7-2, Lambert Azimuthal Equal Area example
        # (ETRS89-LAEA): lat 50N lon 5E -> E 3962799.45 N 2999718.85
        x, y = crs.from_lonlat(3035, 5.0, 50.0)
        assert abs(float(x) - 3962799.45) < 0.01
        assert abs(float(y) - 2999718.85) < 0.01
        # the natural origin maps to the false origin exactly
        x0, y0 = crs.from_lonlat(3035, 10.0, 52.0)
        assert abs(float(x0) - 4321000.0) < 1e-6
        assert abs(float(y0) - 3210000.0) < 1e-6

    @pytest.mark.parametrize("epsg,lons,lats", [
        (3035, np.linspace(-10, 30, 9), np.linspace(35, 70, 8)),
        (3413, np.linspace(-180, 179, 13), np.linspace(60, 89.5, 7)),
        (3031, np.linspace(-180, 179, 13), np.linspace(-89.5, -60, 7)),
    ])
    def test_roundtrip(self, epsg, lons, lats):
        lo, la = np.meshgrid(lons, lats)
        x, y = crs.from_lonlat(epsg, lo, la)
        lo2, la2 = crs.to_lonlat(epsg, x, y)
        dlon = np.abs(((lo2 - lo + 180.0) % 360.0) - 180.0)
        assert float(dlon.max()) < 1e-7
        assert float(np.abs(la2 - la).max()) < 1e-7
        assert not crs.is_separable(epsg)

    def test_laea_preserves_area(self):
        """The defining property: the Jacobian determinant of (lon,lat)->
        (x,y) equals the ellipsoidal area element a^2(1-e^2)cosφ/
        (1-e^2 sin^2 φ)^2 everywhere (per radian^2)."""
        a, f = crs.GRS80_A, crs.GRS80_F
        e2 = 2 * f - f * f
        h = 1e-6
        for lon, lat in [(10.0, 52.0), (-5.0, 40.0), (25.0, 65.0), (0.0, 36.0)]:
            x0, y0 = crs.from_lonlat(3035, lon, lat)
            xdlon, ydlon = crs.from_lonlat(3035, lon + h, lat)
            xdlat, ydlat = crs.from_lonlat(3035, lon, lat + h)
            hr = np.radians(h)
            jac = abs(
                (xdlon - x0) / hr * (ydlat - y0) / hr
                - (xdlat - x0) / hr * (ydlon - y0) / hr
            )
            phi = np.radians(lat)
            want = a * a * (1 - e2) * np.cos(phi) / (1 - e2 * np.sin(phi) ** 2) ** 2
            assert abs(jac / want - 1.0) < 1e-5, (lon, lat, jac, want)

    @pytest.mark.parametrize("epsg,pts", [
        (3413, [(-45.0, 80.0), (10.0, 70.0), (120.0, 85.0)]),
        (3031, [(0.0, -80.0), (90.0, -71.0), (-140.0, -85.0)]),
    ])
    def test_polar_stereo_is_conformal(self, epsg, pts):
        """Stereographic projections are conformal: the local Jacobian must
        be a similarity (isotropic scale, no shear) at every point."""
        h = 1e-7
        for lon, lat in pts:
            x0, y0 = crs.from_lonlat(epsg, lon, lat)
            x1, y1 = crs.from_lonlat(epsg, lon + h, lat)
            x2, y2 = crs.from_lonlat(epsg, lon, lat + h)
            # scale per unit ground distance along parallel/meridian
            phi = np.radians(lat)
            a, f = crs.WGS84_A, crs.WGS84_F
            e2 = 2 * f - f * f
            nrad = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            mrad = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
            dpar = np.hypot(x1 - x0, y1 - y0) / (np.radians(h) * nrad * np.cos(phi))
            dmer = np.hypot(x2 - x0, y2 - y0) / (np.radians(h) * mrad)
            assert abs(dpar / dmer - 1.0) < 1e-4, (lon, lat, dpar, dmer)

    @pytest.mark.parametrize("epsg,lat_ts", [(3413, 70.0), (3031, -71.0)])
    def test_polar_stereo_unit_scale_on_standard_parallel(self, epsg, lat_ts):
        h = 1e-7
        for lon in (-120.0, 0.0, 60.0):
            x0, y0 = crs.from_lonlat(epsg, lon, lat_ts)
            x1, y1 = crs.from_lonlat(epsg, lon + h, lat_ts)
            phi = np.radians(lat_ts)
            a, f = crs.WGS84_A, crs.WGS84_F
            e2 = 2 * f - f * f
            nrad = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
            k = np.hypot(x1 - x0, y1 - y0) / (np.radians(h) * nrad * np.cos(phi))
            assert abs(k - 1.0) < 1e-6

    def test_poles_map_to_origin(self):
        x, y = crs.from_lonlat(3413, 37.0, 90.0)
        assert abs(float(x)) < 1e-6 and abs(float(y)) < 1e-6
        x, y = crs.from_lonlat(3031, -12.0, -90.0)
        assert abs(float(x)) < 1e-6 and abs(float(y)) < 1e-6

    def test_wkt2_spelled(self):
        assert 'ID["EPSG",9820]' in crs.crs_wkt(3035)  # LAEA method
        assert 'ID["EPSG",9829]' in crs.crs_wkt(3413)  # polar stereo B
        assert "Antarctic" in crs.crs_wkt(3031)
