"""Deterministic CRS registry: linear synthetic zones, real projections, and a
pluggable table (no pyproj in this environment).

The engine needs invertible pixel-CRS <-> lon/lat transforms for multi-CRS
rasters (the reference reprojects via pyproj/rasterio,
`src/rasteret/core/utils.py:119-179`).  Three tiers:

    EPSG:4326        identity (lon/lat degrees)
    EPSG:326zz       *linear* UTM-zone-shaped equirectangular
                     x = (lon - lon0) * 111320,  y = lat * 110540,
                     lon0 = zz*6 - 183.  Kept linear on purpose: the math is
                     exact and reproducible in ANSI SQL, which is what makes
                     the DuckDB oracles bit-exact (declared synthetic analogue).
    EPSG:3857        real spherical Web Mercator (closed form, separable)
    EPSG:327zz       real WGS84 UTM south via the Krueger flattening series
                     (order n^4, public math: Krueger 1912 / Karney 2011 as
                     summarized on the Transverse Mercator flattening-series
                     literature) — k0=0.9996, FE=500 km, FN=10 000 km.
    EPSG:3035        real ellipsoidal Lambert Azimuthal Equal-Area
                     (ETRS89-LAEA Europe; Snyder §24, GRS80) — pinned by the
                     published EPSG worked example + an equal-area Jacobian
                     invariant (tests/test_crs_real.py).
    EPSG:3413/3031   real ellipsoidal polar stereographic variant B (NSIDC
                     North / Antarctic; Snyder §21) — conformality and
                     unit-scale-on-standard-parallel invariants.

``register_crs`` injects arbitrary additional codes (mirroring rasteret's
runtime registries, `src/rasteret/constants.py:49-88`); ``tm_forward`` /
``tm_inverse`` give the real Transverse Mercator for registering any UTM
zone under a code.  All transforms are numpy-vectorized and run
executor-side inside pandas UDF batches; the registry dict travels by
closure capture.

Separability: a CRS is *separable* when lon depends only on x and lat only on
y (linear zones, 4326, 3857).  Transverse Mercator is NOT separable (lon
depends on both x and y); consumers with per-axis fast paths must branch on
``is_separable`` and fall back to full-grid transforms.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import numpy as np

M_PER_DEG_X = 111320.0
M_PER_DEG_Y = 110540.0

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WEB_MERCATOR_R = WGS84_A  # spherical Web Mercator uses the semi-major axis


class Projection(NamedTuple):
    to_lonlat: Callable  # (x, y) -> (lon, lat), numpy-vectorized
    from_lonlat: Callable  # (lon, lat) -> (x, y)
    separable: bool


_REGISTRY: dict[int, Projection] = {}


def register_crs(
    epsg: int,
    to_lonlat_fn: Callable,
    from_lonlat_fn: Callable,
    separable: bool = False,
) -> None:
    """Register/override a CRS.  Callables must be picklable (plain functions
    or cloudpickle-able closures) — they execute on executors."""
    _REGISTRY[int(epsg)] = Projection(to_lonlat_fn, from_lonlat_fn, bool(separable))


def utm_lon0(epsg: int) -> float:
    zone = epsg - 32600
    return zone * 6.0 - 183.0


# --- Web Mercator (EPSG:3857, spherical closed form) ---------------------------
def _merc_to_lonlat(x, y):
    lon = np.degrees(np.asarray(x, dtype=np.float64) / WEB_MERCATOR_R)
    lat = np.degrees(
        2.0 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / WEB_MERCATOR_R))
        - np.pi / 2.0
    )
    return lon, lat


def _merc_from_lonlat(lon, lat):
    x = WEB_MERCATOR_R * np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    y = WEB_MERCATOR_R * np.arctanh(np.sin(phi))
    return x, y


# --- Transverse Mercator (Krueger flattening series, order n^4) ----------------
_N = WGS84_F / (2.0 - WGS84_F)
_A_RECT = WGS84_A / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0)
# forward (geographic -> grid)
_ALPHA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 5.0 * _N**3 / 16.0 + 41.0 * _N**4 / 180.0,
    13.0 * _N**2 / 48.0 - 3.0 * _N**3 / 5.0 + 557.0 * _N**4 / 1440.0,
    61.0 * _N**3 / 240.0 - 103.0 * _N**4 / 140.0,
    49561.0 * _N**4 / 161280.0,
)
# inverse (grid -> conformal)
_BETA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 37.0 * _N**3 / 96.0 - _N**4 / 360.0,
    _N**2 / 48.0 + _N**3 / 15.0 - 437.0 * _N**4 / 1440.0,
    17.0 * _N**3 / 480.0 - 37.0 * _N**4 / 840.0,
    4397.0 * _N**4 / 161280.0,
)
# conformal -> geographic latitude
_DELTA = (
    2.0 * _N - 2.0 * _N**2 / 3.0 - 2.0 * _N**3 + 116.0 * _N**4 / 45.0,
    7.0 * _N**2 / 3.0 - 8.0 * _N**3 / 5.0 - 227.0 * _N**4 / 45.0,
    56.0 * _N**3 / 15.0 - 136.0 * _N**4 / 35.0,
    4279.0 * _N**4 / 630.0,
)
_E2SN = 2.0 * np.sqrt(_N) / (1.0 + _N)  # 2*sqrt(n)/(1+n) in the conformal map


def tm_forward(lon, lat, lon0_deg: float, k0: float, fe: float, fn: float):
    """WGS84 Transverse Mercator forward: degrees -> grid meters."""
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0_deg)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    s = np.sin(phi)
    t = np.sinh(np.arctanh(s) - _E2SN * np.arctanh(_E2SN * s))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))
    xs, es = xi.copy(), eta.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xs += a * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        es += a * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    return fe + k0 * _A_RECT * es, fn + k0 * _A_RECT * xs


def tm_inverse(x, y, lon0_deg: float, k0: float, fe: float, fn: float):
    """WGS84 Transverse Mercator inverse: grid meters -> degrees."""
    eta = (np.asarray(x, dtype=np.float64) - fe) / (k0 * _A_RECT)
    xi = (np.asarray(y, dtype=np.float64) - fn) / (k0 * _A_RECT)
    xp, ep = xi.copy(), eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xp -= b * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        ep -= b * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    chi = np.arcsin(np.sin(xp) / np.cosh(ep))
    phi = chi.copy()
    for j, d in enumerate(_DELTA, start=1):
        phi += d * np.sin(2.0 * j * chi)
    lam = np.arctan2(np.sinh(ep), np.cos(xp))
    return lon0_deg + np.degrees(lam), np.degrees(phi)


# --- ellipsoidal Lambert Azimuthal Equal-Area (Snyder 1987 §24) ---------------
GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101


def _authalic_q(sinphi, e: float, e2: float):
    """Snyder eq. 3-12: the authalic-latitude auxiliary q(φ)."""
    es = e * sinphi
    return (1.0 - e2) * (
        sinphi / (1.0 - e2 * sinphi * sinphi)
        - (1.0 / (2.0 * e)) * np.log((1.0 - es) / (1.0 + es))
    )


def make_laea(
    lat0: float, lon0: float, fe: float, fn: float,
    a: float = GRS80_A, f: float = GRS80_F,
):
    """(to_lonlat, from_lonlat) for the ellipsoidal oblique Lambert
    Azimuthal Equal-Area projection (Snyder 1987 eq. 24-2..24-21 + the
    authalic-to-geodetic series 3-18) — the method behind ETRS89-LAEA
    Europe (EPSG:3035) and the EASE grids."""
    e2 = 2.0 * f - f * f
    e = float(np.sqrt(e2))
    qp = float(_authalic_q(1.0, e, e2))
    rq = a * float(np.sqrt(qp / 2.0))
    phi0 = float(np.radians(lat0))
    b1 = float(np.arcsin(np.clip(_authalic_q(np.sin(phi0), e, e2) / qp, -1, 1)))
    m1 = float(np.cos(phi0) / np.sqrt(1.0 - e2 * np.sin(phi0) ** 2))
    d = a * m1 / (rq * np.cos(b1)) if abs(np.cos(b1)) > 1e-12 else 1.0
    sb1, cb1 = float(np.sin(b1)), float(np.cos(b1))
    # authalic -> geodetic series coefficients (Snyder 3-18)
    c1 = e2 / 3.0 + 31.0 * e2**2 / 180.0 + 517.0 * e2**3 / 5040.0
    c2 = 23.0 * e2**2 / 360.0 + 251.0 * e2**3 / 3780.0
    c3 = 761.0 * e2**3 / 45360.0

    def from_ll(lon, lat):
        lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
        phi = np.radians(np.asarray(lat, dtype=np.float64))
        b = np.arcsin(np.clip(_authalic_q(np.sin(phi), e, e2) / qp, -1.0, 1.0))
        sb, cb = np.sin(b), np.cos(b)
        denom = 1.0 + sb1 * sb + cb1 * cb * np.cos(lam)
        bigb = rq * np.sqrt(2.0 / denom)
        x = bigb * d * cb * np.sin(lam) + fe
        y = (bigb / d) * (cb1 * sb - sb1 * cb * np.cos(lam)) + fn
        return x, y

    def to_ll(x, y):
        xp = np.asarray(x, dtype=np.float64) - fe
        yp = np.asarray(y, dtype=np.float64) - fn
        rho = np.sqrt((xp / d) ** 2 + (d * yp) ** 2)
        ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * rq), -1.0, 1.0))
        with np.errstate(invalid="ignore", divide="ignore"):
            sinb = np.where(
                rho == 0.0,
                sb1,
                np.cos(ce) * sb1 + d * yp * np.sin(ce) * cb1 / rho,
            )
        b = np.arcsin(np.clip(sinb, -1.0, 1.0))
        phi = b + c1 * np.sin(2 * b) + c2 * np.sin(4 * b) + c3 * np.sin(6 * b)
        lam = np.arctan2(
            xp * np.sin(ce),
            d * rho * cb1 * np.cos(ce) - d * d * yp * sb1 * np.sin(ce),
        )
        lam = np.where(rho == 0.0, 0.0, lam)
        return lon0 + np.degrees(lam), np.degrees(phi)

    return to_ll, from_ll


# --- ellipsoidal polar stereographic (Snyder 1987 §21, EPSG method 9829) -------
def make_polar_stereo(
    lat_ts: float, lon0: float, fe: float = 0.0, fn: float = 0.0,
    south: bool = False, a: float = WGS84_A, f: float = WGS84_F,
):
    """(to_lonlat, from_lonlat) for ellipsoidal polar stereographic,
    variant B (standard parallel given) — EPSG:3413 (NSIDC North),
    EPSG:3031 (Antarctic).  ``south=True`` for the south aspect; pass
    ``lat_ts`` as the (signed) standard parallel."""
    e2 = 2.0 * f - f * f
    e = float(np.sqrt(e2))

    def tfun(phi):
        es = e * np.sin(phi)
        return np.tan(np.pi / 4.0 - phi / 2.0) * ((1.0 + es) / (1.0 - es)) ** (
            e / 2.0
        )

    phi_ts = float(np.radians(abs(lat_ts)))
    tc = float(tfun(phi_ts))
    mc = float(np.cos(phi_ts) / np.sqrt(1.0 - e2 * np.sin(phi_ts) ** 2))
    # conformal -> geodetic series (Snyder 3-5)
    ca = e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0 + 13.0 * e2**4 / 360.0
    cb = 7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0
    cc = 7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0
    cd = 4279.0 * e2**4 / 161280.0
    sgn = -1.0 if south else 1.0

    def from_ll(lon, lat):
        lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
        phi = sgn * np.radians(np.asarray(lat, dtype=np.float64))
        rho = a * mc * tfun(phi) / tc
        x = rho * np.sin(lam) + fe
        y = -sgn * rho * np.cos(lam) + fn  # north: -ρcosΔλ, south: +ρcosΔλ
        return x, y

    def to_ll(x, y):
        xp = np.asarray(x, dtype=np.float64) - fe
        yp = -sgn * (np.asarray(y, dtype=np.float64) - fn)
        rho = np.hypot(xp, yp)
        t = rho * tc / (a * mc)
        chi = np.pi / 2.0 - 2.0 * np.arctan(t)
        phi = (
            chi
            + ca * np.sin(2 * chi)
            + cb * np.sin(4 * chi)
            + cc * np.sin(6 * chi)
            + cd * np.sin(8 * chi)
        )
        lam = np.where(rho == 0.0, 0.0, np.arctan2(xp, yp))
        return lon0 + np.degrees(lam), sgn * np.degrees(phi)

    return to_ll, from_ll


# builtin real-world codes beyond UTM/Mercator: registered at import so real
# GeoTIFFs carrying these GeoKeys reproject with no user setup
register_crs(3035, *make_laea(52.0, 10.0, 4_321_000.0, 3_210_000.0))
register_crs(3413, *make_polar_stereo(70.0, -45.0))
register_crs(3031, *make_polar_stereo(-71.0, 0.0, south=True))


# --- dispatch ------------------------------------------------------------------
def is_separable(epsg: int) -> bool:
    proj = _REGISTRY.get(epsg)
    if proj is not None:
        return proj.separable
    if epsg == 4326 or epsg == 3857 or 32601 <= epsg <= 32660:
        return True
    if 32701 <= epsg <= 32760:
        return False
    raise ValueError(f"unregistered CRS {epsg}")


def to_lonlat(epsg: int, x, y):
    proj = _REGISTRY.get(epsg)
    if proj is not None:
        return proj.to_lonlat(x, y)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if epsg == 4326:
        return x, y
    if 32601 <= epsg <= 32660:  # linear synthetic zones (oracle-exact)
        return x / M_PER_DEG_X + utm_lon0(epsg), y / M_PER_DEG_Y
    if epsg == 3857:
        return _merc_to_lonlat(x, y)
    if 32701 <= epsg <= 32760:  # real UTM south
        return tm_inverse(x, y, (epsg - 32700) * 6.0 - 183.0, 0.9996, 500_000.0, 10_000_000.0)
    raise ValueError(f"unregistered CRS {epsg}")


def from_lonlat(epsg: int, lon, lat):
    proj = _REGISTRY.get(epsg)
    if proj is not None:
        return proj.from_lonlat(lon, lat)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    if epsg == 4326:
        return lon, lat
    if 32601 <= epsg <= 32660:
        return (lon - utm_lon0(epsg)) * M_PER_DEG_X, lat * M_PER_DEG_Y
    if epsg == 3857:
        return _merc_from_lonlat(lon, lat)
    if 32701 <= epsg <= 32760:
        return tm_forward(lon, lat, (epsg - 32700) * 6.0 - 183.0, 0.9996, 500_000.0, 10_000_000.0)
    raise ValueError(f"unregistered CRS {epsg}")


# --- WKT2 spelling (CF/spatial_ref parity) -------------------------------------
_WKT_REGISTRY: dict[int, str] = {}


def register_crs_wkt(epsg: int, wkt: str) -> None:
    """Attach a WKT2 string to a (typically ``register_crs``-injected) code so
    assembled outputs can CF-spell it."""
    _WKT_REGISTRY[int(epsg)] = wkt


_WGS84_DATUM_WKT = (
    'DATUM["World Geodetic System 1984",'
    'ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]]],'
    'PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]'
)

_CARTESIAN_CS_WKT = (
    "CS[Cartesian,2],"
    'AXIS["easting (E)",east,ORDER[1],LENGTHUNIT["metre",1]],'
    'AXIS["northing (N)",north,ORDER[2],LENGTHUNIT["metre",1]]'
)


def crs_wkt(epsg: int) -> str:
    """WKT2 (ISO 19162) text for a CRS code — the engine's analogue of the
    reference's ``spatial_ref`` attrs (rasterio CRS WKT riding on assembled
    xarray output, `src/rasteret/core/raster_accessor.py:1328-1477`).

    Hand-written for the builtin families: 4326, 3857, real UTM south
    (327xx).  The synthetic linear zones (326xx) are spelled as what they
    ARE — an equidistant-cylindrical-style linear map declared in a REMARK —
    not as real Transverse Mercator, so a consumer is never misled about the
    math.  ``register_crs_wkt`` covers injected codes."""
    epsg = int(epsg)
    if epsg in _WKT_REGISTRY:
        return _WKT_REGISTRY[epsg]
    if epsg == 4326:
        return (
            'GEOGCRS["WGS 84",' + _WGS84_DATUM_WKT + ","
            "CS[ellipsoidal,2],"
            'AXIS["geodetic latitude (Lat)",north,ORDER[1],'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'AXIS["geodetic longitude (Lon)",east,ORDER[2],'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'ID["EPSG",4326]]'
        )
    if epsg == 3857:
        return (
            'PROJCRS["WGS 84 / Pseudo-Mercator",'
            'BASEGEOGCRS["WGS 84",' + _WGS84_DATUM_WKT + "],"
            'CONVERSION["Popular Visualisation Pseudo-Mercator",'
            'METHOD["Popular Visualisation Pseudo Mercator",ID["EPSG",1024]],'
            'PARAMETER["Latitude of natural origin",0,'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'PARAMETER["Longitude of natural origin",0,'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'PARAMETER["False easting",0,LENGTHUNIT["metre",1]],'
            'PARAMETER["False northing",0,LENGTHUNIT["metre",1]]],'
            + _CARTESIAN_CS_WKT + ','
            'ID["EPSG",3857]]'
        )
    if 32701 <= epsg <= 32760:  # real WGS84 UTM south (Krueger-series impl)
        zone = epsg - 32700
        lon0 = zone * 6 - 183
        return (
            f'PROJCRS["WGS 84 / UTM zone {zone}S",'
            'BASEGEOGCRS["WGS 84",' + _WGS84_DATUM_WKT + "],"
            f'CONVERSION["UTM zone {zone}S",'
            'METHOD["Transverse Mercator",ID["EPSG",9807]],'
            'PARAMETER["Latitude of natural origin",0,'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            f'PARAMETER["Longitude of natural origin",{lon0},'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'PARAMETER["Scale factor at natural origin",0.9996,'
            'SCALEUNIT["unity",1]],'
            'PARAMETER["False easting",500000,LENGTHUNIT["metre",1]],'
            'PARAMETER["False northing",10000000,LENGTHUNIT["metre",1]]],'
            + _CARTESIAN_CS_WKT + ','
            f'ID["EPSG",{epsg}]]'
        )
    if 32601 <= epsg <= 32660:  # engine-declared SYNTHETIC linear zones
        zone = epsg - 32600
        lon0 = zone * 6 - 183
        return (
            f'PROJCRS["rasteret-spark linear zone {zone}N '
            f'(synthetic analogue of EPSG:{epsg})",'
            'BASEGEOGCRS["WGS 84",' + _WGS84_DATUM_WKT + "],"
            f'CONVERSION["Linear equirectangular zone {zone}",'
            'METHOD["Equidistant Cylindrical",ID["EPSG",1028]],'
            f'PARAMETER["Longitude of natural origin",{lon0},'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'PARAMETER["False easting",0,LENGTHUNIT["metre",1]],'
            'PARAMETER["False northing",0,LENGTHUNIT["metre",1]]],'
            + _CARTESIAN_CS_WKT + ','
            'REMARK["engine-declared synthetic zone: x=(lon-lon0)*111320 m, '
            'y=lat*110540 m (exact linear math for oracle reproducibility, '
            "not real Transverse Mercator)\"],"
            f'ID["EPSG",{epsg}]]'
        )
    raise ValueError(f"no WKT2 spelling for CRS {epsg}; register_crs_wkt it")


def transform_points(src_epsg: int, dst_epsg: int, x, y):
    """Pointwise CRS-to-CRS transform via the lon/lat hub — the
    ``transform_coords`` analogue (rasteret `core/geometry.py:186-247`)."""
    lon, lat = to_lonlat(src_epsg, x, y)
    return from_lonlat(dst_epsg, lon, lat)


def transform_bbox(
    src_epsg: int,
    dst_epsg: int,
    bbox: tuple[float, float, float, float],
    density: int = 8,
) -> tuple[float, float, float, float]:
    """bbox between CRSs: densified boundary ring mapped pointwise, bounds
    taken in the destination — exact for separable pairs, curvature-safe for
    Transverse Mercator (the ``transform_bbox`` analogue)."""
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    t = np.linspace(0.0, 1.0, max(density, 2))
    xs = np.concatenate(
        [xmin + (xmax - xmin) * t, np.full_like(t, xmax), xmax + (xmin - xmax) * t, np.full_like(t, xmin)]
    )
    ys = np.concatenate(
        [np.full_like(t, ymin), ymin + (ymax - ymin) * t, np.full_like(t, ymax), ymax + (ymin - ymax) * t]
    )
    bx, by = transform_points(src_epsg, dst_epsg, xs, ys)
    return float(bx.min()), float(by.min()), float(bx.max()), float(by.max())


def bbox_from_lonlat(
    epsg: int,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    density: int = 8,
) -> tuple[float, float, float, float]:
    """lon/lat bbox -> bounding box in the target CRS.

    Separable CRS: the two corners bound exactly (per-axis monotone maps).
    Non-separable (Transverse Mercator): map a densified boundary ring —
    ``density`` samples per edge — so curved edges can't escape the window
    (the same densify-the-ring approach rasterio's transform_bounds uses).
    """
    if is_separable(epsg):
        bx, by = from_lonlat(epsg, np.array([xmin, xmax]), np.array([ymin, ymax]))
        return float(bx.min()), float(by.min()), float(bx.max()), float(by.max())
    t = np.linspace(0.0, 1.0, max(density, 2))
    lons = np.concatenate(
        [xmin + (xmax - xmin) * t, np.full_like(t, xmax), xmax + (xmin - xmax) * t, np.full_like(t, xmin)]
    )
    lats = np.concatenate(
        [np.full_like(t, ymin), ymin + (ymax - ymin) * t, np.full_like(t, ymax), ymax + (ymin - ymax) * t]
    )
    bx, by = from_lonlat(epsg, lons, lats)
    return float(bx.min()), float(by.min()), float(bx.max()), float(by.max())


# --- WKT2 for the builtin real-world codes beyond UTM/Mercator -----------------
_ETRS89_DATUM_WKT = (
    'DATUM["European Terrestrial Reference System 1989",'
    'ELLIPSOID["GRS 1980",6378137,298.257222101,LENGTHUNIT["metre",1]]],'
    'PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]'
)

register_crs_wkt(3035, (
    'PROJCRS["ETRS89-extended / LAEA Europe",'
    'BASEGEOGCRS["ETRS89",' + _ETRS89_DATUM_WKT + "],"
    'CONVERSION["Europe Equal Area 2001",'
    'METHOD["Lambert Azimuthal Equal Area",ID["EPSG",9820]],'
    'PARAMETER["Latitude of natural origin",52,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Longitude of natural origin",10,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["False easting",4321000,LENGTHUNIT["metre",1]],'
    'PARAMETER["False northing",3210000,LENGTHUNIT["metre",1]]],'
    + _CARTESIAN_CS_WKT + ','
    'ID["EPSG",3035]]'
))

register_crs_wkt(3413, (
    'PROJCRS["WGS 84 / NSIDC Sea Ice Polar Stereographic North",'
    'BASEGEOGCRS["WGS 84",' + _WGS84_DATUM_WKT + "],"
    'CONVERSION["US NSIDC Sea Ice polar stereographic north",'
    'METHOD["Polar Stereographic (variant B)",ID["EPSG",9829]],'
    'PARAMETER["Latitude of standard parallel",70,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Longitude of origin",-45,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["False easting",0,LENGTHUNIT["metre",1]],'
    'PARAMETER["False northing",0,LENGTHUNIT["metre",1]]],'
    + _CARTESIAN_CS_WKT + ','
    'ID["EPSG",3413]]'
))

register_crs_wkt(3031, (
    'PROJCRS["WGS 84 / Antarctic Polar Stereographic",'
    'BASEGEOGCRS["WGS 84",' + _WGS84_DATUM_WKT + "],"
    'CONVERSION["Antarctic Polar Stereographic",'
    'METHOD["Polar Stereographic (variant B)",ID["EPSG",9829]],'
    'PARAMETER["Latitude of standard parallel",-71,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Longitude of origin",0,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["False easting",0,LENGTHUNIT["metre",1]],'
    'PARAMETER["False northing",0,LENGTHUNIT["metre",1]]],'
    + _CARTESIAN_CS_WKT + ','
    'ID["EPSG",3031]]'
))
