"""Unit tests for the WKB/PIP geometry kernels."""

import struct

import numpy as np

from rasteret_spark import geom


def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, geom.WKB_POINT, x, y)


def test_wkb_point_polygon_roundtrip():
    pt = wkb_point(3.5, -7.25)
    assert geom.parse_wkb(pt) == ("point", (3.5, -7.25))
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    poly = geom.wkb_polygon([ring])
    kind, rings = geom.parse_wkb(poly)
    assert kind == "polygon" and len(rings) == 1 and len(rings[0]) == 5
    assert geom.wkb_bbox(poly) == (0.0, 0.0, 4.0, 4.0)


def test_pip_square_with_hole():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], dtype=float)
    poly = geom.wkb_polygon([outer, hole])
    px = np.array([5.0, 2.0, 11.0, 5.0])
    py = np.array([5.0, 2.0, 5.0, 3.0])
    got = geom.points_in_polygon_wkb(px, py, poly)
    assert list(got) == [False, True, False, True]  # hole, inside, outside, inside


def test_pip_multipolygon():
    a = [np.array([[0, 0], [2, 0], [2, 2], [0, 2]], dtype=float)]
    b = [np.array([[10, 10], [12, 10], [12, 12], [10, 12]], dtype=float)]
    mp = geom.wkb_multipolygon([a, b])
    px = np.array([1.0, 11.0, 5.0])
    py = np.array([1.0, 11.0, 5.0])
    assert list(geom.points_in_polygon_wkb(px, py, mp)) == [True, True, False]


def test_pip_matches_matplotlib_style_oracle():
    rng = np.random.default_rng(7)
    ring = np.array([[0, 0], [8, 1], [9, 7], [4, 9], [-1, 5]], dtype=float)
    poly = geom.wkb_polygon([ring])
    px = rng.uniform(-2, 10, 500)
    py = rng.uniform(-2, 10, 500)
    got = geom.points_in_polygon_wkb(px, py, poly)
    # independent scalar even-odd implementation as oracle
    closed = np.vstack([ring, ring[:1]])

    def inside(x, y):
        c = False
        for i in range(len(closed) - 1):
            x0, y0 = closed[i]
            x1, y1 = closed[i + 1]
            if (y0 > y) != (y1 > y) and x <= x0 + (y - y0) * (x1 - x0) / (y1 - y0):
                c = not c
        return c

    want = np.array([inside(x, y) for x, y in zip(px, py)])
    assert (got == want).all()


def test_rect_intersects_polygon_cases():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    poly = geom.wkb_polygon([ring])
    assert geom.rect_intersects_polygon(2, 2, 3, 3, poly)  # rect inside poly
    assert geom.rect_intersects_polygon(-5, -5, 20, 20, poly)  # poly inside rect
    assert geom.rect_intersects_polygon(9, 9, 12, 12, poly)  # corner overlap
    assert not geom.rect_intersects_polygon(11, 11, 12, 12, poly)  # disjoint
    # crossing without any vertex containment
    assert geom.rect_intersects_polygon(-1, 4, 11, 6, poly)
