"""Cell-cover spatial joins: point-in-polygon and AOI x image overlap.

The engine's one cell index: every cell id (``knn``'s rings included) comes
from ``_axis_cell`` / ``pack_cell`` here.

The Spark generalization of rasteret's bbox-prune + exact-refine join pattern
(bbox prefilter `src/rasteret/core/collection.py:225-239` + per-pair exact
evaluation `src/rasteret/core/execution.py:244-297`), redesigned for shuffle
efficiency at 10^12-row scale:

  1. Both sides are covered with quadtree cells at one fixed resolution.
     The cell math is built as SQL text (``_axis_cell`` / ``pack_cell``:
     floor arithmetic + ``sequence`` + ``explode``), the one copy of it, so
     each cell expression costs the driver one Py4J round trip instead of
     one per ``Column`` node; it is parsed into the same JVM-native
     expressions — candidate generation never leaves the JVM, so
     Catalyst/AQE own the join strategy and whole-stage codegen applies.
  2. The cell equi-join produces each candidate pair once thanks to the
     canonical-cell rule: a pair is emitted only from the cell containing the
     top-left corner of the two bboxes' intersection.  No ``distinct`` /
     dedup shuffle is ever needed.
  3. Exact refinement: image footprints are axis-aligned rectangles in their
     (linear) CRS, so bbox tests are exact for them; arbitrary AOI polygons
     are refined with the vectorized ray-cast/rect-intersection kernels in a
     single Arrow-batched UDF — the only Python in the plan.

Skew: dense metro cells produce hot join keys.  ``bbox_join(salts=)``
appends a deterministic salt to the cell key on the big (image) side and
explodes the AOI side by every salt — bounded fan-out, the engine's one skew
mechanism of its own; ``session.get_spark`` also turns on Spark's AQE skew
join.  Measured on a 4-core host with one res-7 cell holding 30% of the
images and of the AOIs, broadcast and partition coalescing off and 16
shuffle partitions (medians of 6 reps): the join stage's slowest task took
354 ms plain, 146 ms with ``salts=4``, 172 ms with ``salts=8`` and 63 ms
with the AQE skew join at 16 KB thresholds, against a 23-27 ms median task;
output rows per CPU-second were 0.99M, 0.88M, 0.98M and 1.03M.  At its default
256 MB threshold the AQE skew join leaves partitions of this size alone, and
when the cell join is a broadcast hash join neither changes task sizes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

RES_SHIFT = 52
IX_SHIFT = 26


def _n(res: int) -> int:
    return 1 << res


def _q(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _d(v: float) -> str:
    """A double literal in SQL text: a bare ``180.0`` parses as a decimal."""
    return f"{float(v)!r}D"


def pack_cell(res: int, ix: str, iy: str) -> str:
    """SQL text of the packed cell id of integer cell indices ``ix``/``iy``
    (SQL text): ``res << 52 | ix << 26 | iy`` as bigint arithmetic.  For a
    fixed ``ix`` the ids of consecutive ``iy`` are consecutive integers."""
    return (
        f"({res}L * {1 << RES_SHIFT}L + CAST({ix} AS BIGINT) * {1 << IX_SHIFT}L"
        f" + CAST({iy} AS BIGINT))"
    )


def _axis_cell(v: str, half_span: float, res: int) -> str:
    """SQL text of the clamped cell index of a coordinate (SQL text ``v``)
    on one axis (``half_span`` 180 for lon, 90 for lat): floor of the
    coordinate's position on the ``2**res``-cell axis, clamped to
    ``[0, 2**res - 1]``.

    No epsilon shrink on a bbox max edge: the containment predicate is
    closed (x <= xmax), so a point lying exactly on a cell boundary that is
    also the bbox max edge must still find the cover cell containing it —
    shrinking by eps dropped those matches.  Cost is at most one extra
    candidate cell per axis; canonical-cell dedup and the exact refine
    filter keep the output identical otherwise."""
    n = _n(res)
    return (
        f"least(greatest(floor(({v} + {_d(half_span)}) / {_d(2 * half_span)}"
        f" * {_d(n)}), 0), {n - 1})"
    )


def cell_of_point_col(lon: str, lat: str, res: int) -> str:
    """SQL text of a point's cell id (``lon``/``lat`` SQL text, e.g. a
    quoted column name): ``pack_cell`` of its two ``_axis_cell`` indices.
    Wrap it in ``F.expr`` for a Column."""
    return pack_cell(res, _axis_cell(lon, 180.0, res), _axis_cell(lat, 90.0, res))


def explode_cover(
    df: DataFrame,
    xmin: str,
    ymin: str,
    xmax: str,
    ymax: str,
    res: int,
    cell_name: str = "cell",
) -> DataFrame:
    """Explode a bbox into its covering cells at ``res`` — JVM-native
    (sequence x sequence), no UDF.  Adds ``cell_name`` column.

    Three ``selectExpr`` steps: the four axis indices, the x explode, then
    the y explode as one ``sequence`` of packed ids (consecutive for a
    fixed x)."""
    keep = [_q(c) for c in df.columns]
    ix0, iy0 = _axis_cell(_q(xmin), 180.0, res), _axis_cell(_q(ymin), 90.0, res)
    return (
        df.selectExpr(
            *keep,
            f"{ix0} AS _ix0", f"greatest({_axis_cell(_q(xmax), 180.0, res)}, {ix0}) AS _ix1",
            f"{iy0} AS _iy0", f"greatest({_axis_cell(_q(ymax), 90.0, res)}, {iy0}) AS _iy1",
        )
        .selectExpr(*keep, "_iy0", "_iy1", "explode(sequence(_ix0, _ix1)) AS _ix")
        .selectExpr(
            *keep,
            f"explode(sequence({pack_cell(res, '_ix', '_iy0')}, {pack_cell(res, '_ix', '_iy1')}))"
            f" AS {_q(cell_name)}",
        )
    )


def image_light(images: DataFrame) -> DataFrame:
    """The image side of a cell join from a stored image table: ``image_id``,
    ``datetime`` when present (the chip paths' temporal stack), and the
    footprint bbox as ``img_xmin``..``img_ymax`` — light columns only, so no
    blob rides through the join's shuffles."""
    return images.select(
        "image_id",
        *(["datetime"] if "datetime" in images.columns else []),
        *(F.col(c).alias(f"img_{c}") for c in ("xmin", "ymin", "xmax", "ymax")),
    )


def bbox_overlap(a: str, b: str) -> str:
    """SQL text of the exact bbox-overlap predicate on two bbox column
    prefixes (`{a}_xmin`...), same expression as rasteret
    `_bbox_overlap_expr` (`src/rasteret/core/collection.py:225-239`)."""
    return (
        f"{_q(a + '_xmax')} >= {_q(b + '_xmin')} AND {_q(a + '_xmin')} <= {_q(b + '_xmax')}"
        f" AND {_q(a + '_ymax')} >= {_q(b + '_ymin')} AND {_q(a + '_ymin')} <= {_q(b + '_ymax')}"
    )


def bbox_join(
    images: DataFrame,
    aois: DataFrame,
    res: int = 7,
    img_prefix: str = "img",
    salts: int = 0,
) -> DataFrame:
    """Candidate bbox-overlap join via cell equi-join, deduped by the
    canonical-cell rule (no distinct).  Inputs must carry
    ``{img_prefix}_xmin/_ymin/_xmax/_ymax`` and ``aoi_xmin/_ymin/_xmax/_ymax``
    columns; all other columns pass through.  ``salts > 0`` appends a salt to
    the image-side key and explodes the AOI side by every salt value
    (hot-cell skew mitigation).
    """
    ic = explode_cover(images, f"{img_prefix}_xmin", f"{img_prefix}_ymin",
                       f"{img_prefix}_xmax", f"{img_prefix}_ymax", res, "cell")
    ac = explode_cover(aois, "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax", res, "cell")
    join_keys = ["cell"]
    if salts > 0:
        ic = ic.selectExpr("*", f"pmod(xxhash64(image_id), {salts}) AS salt")
        ac = ac.selectExpr("*", f"explode(sequence(0, {salts - 1})) AS salt")
        join_keys = ["cell", "salt"]
    # canonical cell: the one containing the intersection's min corner
    inter_x = f"greatest({_q(img_prefix + '_xmin')}, aoi_xmin)"
    inter_y = f"greatest({_q(img_prefix + '_ymin')}, aoi_ymin)"
    return (
        ic.join(ac, join_keys, "inner")
        .filter(f"cell = {cell_of_point_col(inter_x, inter_y, res)}"
                f" AND {bbox_overlap(img_prefix, 'aoi')}")
        .drop(*join_keys)
    )


def point_in_bbox_join(points: DataFrame, images: DataFrame, res: int = 7) -> DataFrame:
    """points x images containment candidates: point cell equi-join against
    image cover cells + exact bbox containment (exact for rectangular
    footprints).  ``points`` carry ``x``/``y``, ``images`` the
    ``img_xmin``..``img_ymax`` bbox.  This is the distributed form of
    rasteret's candidate-point prefilter
    (`src/rasteret/core/point_sample_helpers.py:37-56`)."""
    ic = explode_cover(images, "img_xmin", "img_ymin", "img_xmax", "img_ymax", res, "cell")
    pc = points.selectExpr("*", f"{cell_of_point_col(_q('x'), _q('y'), res)} AS cell")
    return (
        pc.join(ic, "cell", "inner")
        .filter("x >= img_xmin AND x <= img_xmax AND y >= img_ymin AND y <= img_ymax")
        .drop("cell")
    )


# --- exact polygon refine (the only Python stage) ------------------------------
def refine_rect_polygon(cands: DataFrame) -> DataFrame:
    """Exact rectangle x polygon refine for ``bbox_join`` candidate pairs
    (Arrow-batched): adds boolean ``intersects`` — the ``img_`` bbox
    against the ``aoi_geometry`` WKB.

    Partitioning: the refine fuses into whatever stage produces the
    candidates (the cell join's shuffle stage, or its streamed side under a
    broadcast join), and that stage already sets the partitioning — adding
    a dedicated exchange + python stage costs more in task-dispatch floor
    than the vectorized kernel itself (the whole 39k-row bench refine is
    68 ms single-core; a separate 32-task pandas stage costs ~1 s on this
    host).  Nothing peeks at the candidates' partition count: on a join,
    ``df.rdd`` executes the join's stages under AQE, a Spark job at plan
    build."""
    import numpy as np

    from rasteret_spark import geom

    @F.pandas_udf("boolean")
    def _refine(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series,
                wkb: pd.Series) -> pd.Series:
        # one vectorized pass per distinct polygon payload in the batch
        out = np.zeros(len(xmin), dtype=bool)
        groups: dict[bytes, list[int]] = {}
        for i, g in enumerate(wkb):
            groups.setdefault(bytes(g), []).append(i)
        a = xmin.to_numpy(float); b = ymin.to_numpy(float)
        c = xmax.to_numpy(float); d = ymax.to_numpy(float)
        for g, idxs in groups.items():
            ii = np.asarray(idxs)
            out[ii] = geom.rects_intersect_polygon(a[ii], b[ii], c[ii], d[ii], g)
        return pd.Series(out)

    return cands.withColumn(
        "intersects", _refine("img_xmin", "img_ymin", "img_xmax", "img_ymax", "aoi_geometry")
    )
