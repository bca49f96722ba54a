"""Minimal vectorized geometry kernels: WKB codec, bbox, ray-cast PIP.

No shapely/GEOS in this environment; the engine carries footprints and AOIs
as standard WKB binary columns (little-endian Point / Polygon / MultiPolygon)
and evaluates containment with an even-odd ray-cast — the same exact-refine
predicate the reference applies after bbox pruning (rasteret evaluates
polygon masks via rasterio `geometry_mask`; here the join refine only needs
point-in-polygon and rectangle-polygon tests).

All predicates are numpy-vectorized over arrays of points against one
polygon; they are called from Arrow-batched pandas UDFs.  Pixel-window masks
use ``points_in_polygon_grid``, a crossing-count form of the same ray-cast.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_POLYGON = 3
WKB_MULTIPOLYGON = 6


# --- encoding ----------------------------------------------------------------
def wkb_polygon(rings: list[np.ndarray]) -> bytes:
    """rings: list of (n,2) float64 arrays, closed or not (auto-closed)."""
    out = bytearray(struct.pack("<BII", 1, WKB_POLYGON, len(rings)))
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out += struct.pack("<I", len(ring))
        out += np.ascontiguousarray(ring).tobytes()
    return bytes(out)


def wkb_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = bytearray(struct.pack("<BII", 1, WKB_MULTIPOLYGON, len(polys)))
    for rings in polys:
        out += wkb_polygon(rings)
    return bytes(out)


def wkb_box(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    return wkb_polygon(
        [np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]])]
    )


# --- decoding ----------------------------------------------------------------
def _parse_polygon(buf: bytes, off: int) -> tuple[list[np.ndarray], int]:
    endian = buf[off]
    assert endian == 1, "big-endian WKB unsupported"
    gtype, nrings = struct.unpack_from("<II", buf, off + 1)
    assert gtype == WKB_POLYGON
    off += 9
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", buf, off)
        off += 4
        pts = np.frombuffer(buf, dtype="<f8", count=npts * 2, offset=off).reshape(npts, 2)
        rings.append(pts.copy())
        off += npts * 16
    return rings, off


def parse_wkb(buf: bytes):
    """WKB -> ("point", (x, y)) | ("polygon", [rings]) | ("multipolygon", [[rings]...])."""
    endian = buf[0]
    assert endian == 1
    (gtype,) = struct.unpack_from("<I", buf, 1)
    if gtype == WKB_POINT:
        x, y = struct.unpack_from("<dd", buf, 5)
        return "point", (x, y)
    if gtype == WKB_POLYGON:
        rings, _ = _parse_polygon(buf, 0)
        return "polygon", rings
    if gtype == WKB_MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, 5)
        off = 9
        polys = []
        for _ in range(npolys):
            rings, off = _parse_polygon(buf, off)
            polys.append(rings)
        return "multipolygon", polys
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def polygons_of(buf: bytes) -> list[list[np.ndarray]]:
    """Normalize any supported geometry to a list of polygons (ring lists)."""
    kind, data = parse_wkb(buf)
    if kind == "polygon":
        return [data]
    if kind == "multipolygon":
        return data
    raise ValueError("expected (multi)polygon WKB")


def wkb_bbox(buf: bytes) -> tuple[float, float, float, float]:
    kind, data = parse_wkb(buf)
    if kind == "point":
        x, y = data
        return x, y, x, y
    polys = [data] if kind == "polygon" else data
    all_pts = np.vstack([r for rings in polys for r in rings])
    return (
        float(all_pts[:, 0].min()),
        float(all_pts[:, 1].min()),
        float(all_pts[:, 0].max()),
        float(all_pts[:, 1].max()),
    )


# --- predicates ---------------------------------------------------------------
def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast: bool mask of points strictly-or-boundary inside ring.

    Half-open edge rule (y0 <= y < y1 crossing test) gives consistent results
    for points on horizontal boundaries; vertical-boundary points count as
    inside when the ray-x comparison is <=.
    """
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    crosses = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / np.where(y1 == y0, np.inf, y1 - y0)
    hits = crosses & (px <= xint)
    return hits.sum(axis=1) % 2 == 1


def points_in_polygon_wkb(px: np.ndarray, py: np.ndarray, buf: bytes) -> np.ndarray:
    """Vectorized PIP for polygon/multipolygon WKB (even-odd: holes excluded)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape[0], dtype=bool)
    for rings in polygons_of(buf):
        poly_in = np.zeros(px.shape[0], dtype=bool)
        for ring in rings:
            poly_in ^= points_in_ring(px, py, ring)
        inside |= poly_in
    return inside


# cells per row block of points_in_polygon_grid's count table and crossing test
PIP_BLOCK_CELLS = 1 << 20


def polygon_edges(buf: bytes) -> list[np.ndarray]:
    """Edge table per polygon, parsed once: a (5, e) float64 array of rows
    ``x0, y0, x1, y1`` and the ray-cast denominator ``y1 - y0`` (inf where
    horizontal) over the edges of all its rings."""
    edges = []
    for rings in polygons_of(buf):
        x0, y0 = np.concatenate([r[:-1] for r in rings]).T
        x1, y1 = np.concatenate([r[1:] for r in rings]).T
        edges.append(np.array([x0, y0, x1, y1, np.where(y1 == y0, np.inf, y1 - y0)]))
    return edges


def points_in_polygon_grid(
    xs: np.ndarray, ys: np.ndarray, poly: bytes | list[np.ndarray]
) -> np.ndarray:
    """(ny, nx) even-odd mask of the grid ``xs`` x ``ys`` (any order) against
    polygon WKB or its ``polygon_edges``, bit-identical to
    ``points_in_polygon_wkb`` on the meshgrid.  Only crossing (row, edge)
    pairs get the generic kernel's ``xint``; over ascending xs, ``px <= xint``
    holds exactly for columns ``j < searchsorted(xs, xint, 'right')``, so a
    pixel's parity counts the cuts right of it, read off a running count of
    their ``bincount``."""
    edges = poly if isinstance(poly, list) else polygon_edges(poly)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    h, w = ys.size, xs.size
    order = None
    if not (xs[1:] >= xs[:-1]).all():  # unsorted, descending or NaN
        order = np.argsort(xs, kind="stable")
        xs = xs[order]
    out = np.zeros((h, w), dtype=bool)
    for x0, y0, x1, y1, den in edges:
        step = max(1, PIP_BLOCK_CELLS // max(w + 1, x0.size))
        for r0 in range(0, h, step):
            py = ys[r0 : r0 + step, None]
            rows, idx = np.nonzero((y0 > py) != (y1 > py))
            if rows.size == 0:
                continue
            xint = x0[idx] + (py[rows, 0] - y0[idx]) * (x1[idx] - x0[idx]) / den[idx]
            cut = xs.searchsorted(xint, side="right")
            cut[np.isnan(xint)] = 0  # px <= NaN never holds
            # cuts right of pixel j = running count at the row end minus the
            # one through j, so parity = inequality of the two running parities
            run = np.bincount(rows * (w + 1) + cut, minlength=py.size * (w + 1))
            np.bitwise_and(run.cumsum(out=run), 1, out=run)
            run = run.reshape(py.size, w + 1)
            out[r0 : r0 + py.size] |= run[:, :w] != run[:, w:]
    if order is not None:
        out[:, order] = out.copy()
    return out


def _segments_intersect(a0, a1, b0, b1) -> bool:
    def orient(p, q, r):
        return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

    d1, d2 = orient(b0, b1, a0), orient(b0, b1, a1)
    d3, d4 = orient(a0, a1, b0), orient(a0, a1, b1)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True
    return False


def rects_intersect_polygon(
    xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray, buf: bytes
) -> np.ndarray:
    """Vectorized exact rectangle x polygon intersection for MANY rects
    against ONE polygon (same predicate as ``rect_intersects_polygon``):
    any rect corner inside polygon, OR any polygon vertex inside rect, OR any
    (rect edge x polygon edge) proper crossing."""
    xmin = np.asarray(xmin, dtype=np.float64)
    ymin = np.asarray(ymin, dtype=np.float64)
    xmax = np.asarray(xmax, dtype=np.float64)
    ymax = np.asarray(ymax, dtype=np.float64)
    n = xmin.size
    out = np.zeros(n, dtype=bool)
    polys = polygons_of(buf)

    # 1. any rect corner inside the polygon (one batched ray-cast)
    cx = np.stack([xmin, xmax, xmax, xmin], axis=1).ravel()
    cy = np.stack([ymin, ymin, ymax, ymax], axis=1).ravel()
    out |= points_in_polygon_wkb(cx, cy, buf).reshape(n, 4).any(axis=1)

    # polygon edges as arrays
    ex0 = np.concatenate([r[:-1, 0] for rings in polys for r in rings])
    ey0 = np.concatenate([r[:-1, 1] for rings in polys for r in rings])
    ex1 = np.concatenate([r[1:, 0] for rings in polys for r in rings])
    ey1 = np.concatenate([r[1:, 1] for rings in polys for r in rings])

    # 2. any polygon vertex inside a rect
    vx, vy = ex0, ey0
    out |= (
        (vx[None, :] >= xmin[:, None])
        & (vx[None, :] <= xmax[:, None])
        & (vy[None, :] >= ymin[:, None])
        & (vy[None, :] <= ymax[:, None])
    ).any(axis=1)

    # 3. proper edge crossings: rect edges (4 per rect) x polygon edges.
    todo = np.nonzero(~out)[0]
    if todo.size:
        rx0 = np.stack([xmin[todo], xmax[todo], xmax[todo], xmin[todo]], axis=1)
        ry0 = np.stack([ymin[todo], ymin[todo], ymax[todo], ymax[todo]], axis=1)
        rx1 = np.stack([xmax[todo], xmax[todo], xmin[todo], xmin[todo]], axis=1)
        ry1 = np.stack([ymin[todo], ymax[todo], ymax[todo], ymin[todo]], axis=1)
        # orient(p, q, r) = (qx-px)(ry-py) - (qy-py)(rx-px); shapes (m,4,E)
        px0, py0, px1, py1 = (a[None, None, :] for a in (ex0, ey0, ex1, ey1))
        ax0, ay0, ax1, ay1 = (a[:, :, None] for a in (rx0, ry0, rx1, ry1))
        d1 = (px1 - px0) * (ay0 - py0) - (py1 - py0) * (ax0 - px0)
        d2 = (px1 - px0) * (ay1 - py0) - (py1 - py0) * (ax1 - px0)
        d3 = (ax1 - ax0) * (py0 - ay0) - (ay1 - ay0) * (px0 - ax0)
        d4 = (ax1 - ax0) * (py1 - ay0) - (ay1 - ay0) * (px1 - ax0)
        cross = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        out[todo] |= cross.any(axis=(1, 2))
    return out


def rect_intersects_polygon(
    xmin: float, ymin: float, xmax: float, ymax: float, buf: bytes
) -> bool:
    """Exact rectangle x polygon intersection (for tight cell covers)."""
    polys = polygons_of(buf)
    corners = np.array(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]], dtype=np.float64
    )
    # any rect corner inside polygon
    if points_in_polygon_wkb(corners[:, 0], corners[:, 1], buf).any():
        return True
    rect_edges = [(corners[i], corners[(i + 1) % 4]) for i in range(4)]
    for rings in polys:
        for ring in rings:
            # any polygon vertex inside rect
            vin = (
                (ring[:, 0] >= xmin)
                & (ring[:, 0] <= xmax)
                & (ring[:, 1] >= ymin)
                & (ring[:, 1] <= ymax)
            )
            if vin.any():
                return True
            # any edge pair crossing
            for i in range(len(ring) - 1):
                for e0, e1 in rect_edges:
                    if _segments_intersect(ring[i], ring[i + 1], e0, e1):
                        return True
    return False
