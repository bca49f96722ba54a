"""The engine's one cell index (``spatial_join``) and its one skew mechanism
(cell-key salting in ``bbox_join(salts=)``).

* Cover property: the cell of every point of a closed bbox — interior,
  on the ``xmax``/``ymax`` edge, on a cell boundary — is one of the bbox's
  ``explode_cover`` cells, at any resolution.  This is the closed-max-edge
  rule of ``_axis_cell``: shrinking the max edge by an epsilon drops the
  cover cell a boundary point lies in.
* Straggler bound: on a fixture whose hot cell holds 30% of the images and
  of the AOIs, forced onto the shuffle join, salting spreads the hot cell's
  candidate rows over the reduce partitions.  Rows per partition come from
  ``spark_partition_id()``, which is deterministic where task walls are not.
"""

from contextlib import contextmanager
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rasteret_spark.operators import spatial_join as sj

RESES = range(1, 13)


def _boundaries(lo, hi, half_span, res):
    """Cell boundaries of one axis at ``res`` inside ``[lo, hi]``."""
    step = 2 * half_span / (1 << res)
    k = np.arange(np.ceil((lo + half_span) / step), np.floor((hi + half_span) / step) + 1)
    return k * step - half_span


def _cover_rows(n: int = 2000, seed: int = 7) -> pd.DataFrame:
    """(bbox, res, point) rows.  A third of the bboxes end exactly on a
    cell boundary (or on the domain edge); points are interior, on the
    closed max edges and corner, on the min corner, or on a cell boundary
    inside the bbox."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        res = int(rng.choice(RESES))
        x0, y0 = rng.uniform(-180, 175), rng.uniform(-90, 85)
        x1 = min(x0 + rng.uniform(1e-3, 8.0), 180.0)
        y1 = min(y0 + rng.uniform(1e-3, 8.0), 90.0)
        if i % 3 == 0:  # snap the max edges onto the next cell boundary
            bx = _boundaries(x1, 180.0, 180.0, res)
            by = _boundaries(y1, 90.0, 90.0, res)
            x1, y1 = float(bx[0]), float(by[0])
        kind = i % 6
        if kind == 0:
            px, py = rng.uniform(x0, x1), rng.uniform(y0, y1)
        elif kind == 1:
            px, py = x1, rng.uniform(y0, y1)
        elif kind == 2:
            px, py = rng.uniform(x0, x1), y1
        elif kind == 3:
            px, py = x1, y1
        elif kind == 4:
            px, py = x0, y0
        else:
            bx = _boundaries(x0, x1, 180.0, res)
            by = _boundaries(y0, y1, 90.0, res)
            px = float(bx[-1]) if len(bx) else x1
            py = float(by[-1]) if len(by) else y1
        rows.append((i, res, x0, y0, x1, y1, px, py))
    return pd.DataFrame(rows, columns=["row", "res", "xmin", "ymin", "xmax", "ymax", "px", "py"])


def test_explode_cover_contains_point_cells(spark):
    pdf = _cover_rows()
    assert ((pdf.px >= pdf.xmin) & (pdf.px <= pdf.xmax)
            & (pdf.py >= pdf.ymin) & (pdf.py <= pdf.ymax)).all()
    df = spark.createDataFrame(pdf)
    per_res = [
        sj.explode_cover(df.filter(F.col("res") == r), "xmin", "ymin", "xmax", "ymax", r)
        .groupBy("row")
        .agg(F.max(F.col("cell") == F.expr(sj.cell_of_point_col("px", "py", r)))
             .alias("hit"))
        for r in RESES
    ]
    got = (
        reduce(lambda a, b: a.unionByName(b), per_res)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"),
             F.sort_array(F.collect_list(F.when(~F.col("hit"), F.col("row")))).alias("missed"))
        .collect()[0]
    )
    assert got["n"] == len(pdf)
    assert got["missed"] == [], pdf.set_index("row").loc[got["missed"][:5]]


# --- straggler bound under a hot cell ---------------------------------------------
RES = 7
DX, DY = 360.0 / (1 << RES), 180.0 / (1 << RES)
HOT_X0, HOT_Y0 = 68 * DX - 180.0, 96 * DY - 90.0  # cell (68, 96) at res 7
# salts spread over twice as many partitions: the (cell, salt) hash is not
# a bijection, and at 8 partitions 4 of the 8 salt keys share one partition
PARTITIONS = 16


def _skewed_boxes(n: int, seed: int, hot_w: float, cold_w: float, prefix: str) -> pd.DataFrame:
    """``n`` boxes, 30% of them inside the hot cell (``hot_w`` of its
    extent), the rest spread over 120 x 80 degrees (``cold_w`` wide)."""
    rng = np.random.default_rng(seed)
    u, v = rng.uniform(size=n), rng.uniform(size=n)
    hot = np.arange(n) % 10 < 3
    w = np.where(hot, hot_w * DX, cold_w)
    h = np.where(hot, hot_w * DY, cold_w)
    x0 = np.where(hot, HOT_X0 + u * DX * (1 - hot_w), -60 + u * 120)
    y0 = np.where(hot, HOT_Y0 + v * DY * (1 - hot_w), -40 + v * 80)
    return pd.DataFrame({
        f"{prefix}_id": np.arange(n),
        f"{prefix}_xmin": x0, f"{prefix}_ymin": y0,
        f"{prefix}_xmax": x0 + w, f"{prefix}_ymax": y0 + h,
    })


@contextmanager
def _confs(spark, **kv):
    """Set session confs for the block, then restore each to its old value
    (or unset it)."""
    old = {k: spark.conf.get(k, None) for k in kv}
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _rows_per_partition(cands) -> list[int]:
    """Candidate rows per reduce partition of the join stage (the partition
    id is taken right after the join, before any further exchange)."""
    counts = (
        cands.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid").count().collect()
    )
    per = dict.fromkeys(range(PARTITIONS), 0)
    per.update({r["pid"]: r["count"] for r in counts})
    return list(per.values())


def test_salted_bbox_join_bounds_the_straggler(spark):
    imgs = spark.createDataFrame(
        _skewed_boxes(400, 1, 0.4, 0.5, "img").rename(columns={"img_id": "image_id"}))
    aois = spark.createDataFrame(_skewed_boxes(800, 2, 0.02, 0.05, "aoi"))
    with _confs(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.shuffle.partitions": str(PARTITIONS),
        },
    ):
        plain = _rows_per_partition(sj.bbox_join(imgs, aois, res=RES))
        salted = _rows_per_partition(sj.bbox_join(imgs, aois, res=RES, salts=8))
    assert sum(plain) == sum(salted) > 0
    ratio = [max(c) / (sum(c) / PARTITIONS) for c in (plain, salted)]
    # the hot cell lands whole in one partition without salting
    assert ratio[0] > 0.5 * PARTITIONS, (plain, ratio)
    assert ratio[1] <= 0.5 * ratio[0], (plain, salted, ratio)
