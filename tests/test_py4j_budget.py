"""Building the cell joins costs few Py4J round trips.

A Py4J call is one Python -> JVM round trip through the gateway, about
0.25 ms of CPU across both processes, and plan building is paid once per
query.  The cell math is SQL text, so each cell expression is one parsed
string rather than one call per ``Column`` node: building
``bbox_join(res=7, salts=4)`` took 1,867 calls and ``point_in_bbox_join``
1,015 when the cell math was built from ``Column`` objects; the budgets
below sit far under both.
"""

import py4j.clientserver

from rasteret_spark.operators import spatial_join as sj

BBOX_JOIN_BUDGET = 300
POINT_JOIN_BUDGET = 200


def _calls(monkeypatch, fn) -> int:
    n = 0
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        nonlocal n
        n += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
        fn()
    return n


def _frames(spark):
    images = spark.createDataFrame(
        [("a", 0.0, 0.0, 1.0, 1.0)],
        "image_id string, img_xmin double, img_ymin double, img_xmax double, img_ymax double",
    )
    aois = spark.createDataFrame(
        [("x", b"", 0.0, 0.0, 1.0, 1.0)],
        "aoi_id string, aoi_geometry binary, aoi_xmin double, aoi_ymin double, "
        "aoi_xmax double, aoi_ymax double",
    )
    points = spark.createDataFrame([(1, 0.5, 0.5)], "point_index long, x double, y double")
    return images, aois, points


def test_cell_join_build_py4j_budget(spark, monkeypatch):
    images, aois, points = _frames(spark)
    n_bbox = _calls(monkeypatch, lambda: sj.bbox_join(images, aois, res=7, salts=4))
    n_point = _calls(monkeypatch, lambda: sj.point_in_bbox_join(points, images, res=8))
    assert n_bbox <= BBOX_JOIN_BUDGET, n_bbox
    assert n_point <= POINT_JOIN_BUDGET, n_point
    # the counted build is the real one: both joins still find their pair
    assert sj.bbox_join(images, aois, res=7, salts=4).count() == 1
    assert sj.point_in_bbox_join(points, images, res=8).count() == 1
