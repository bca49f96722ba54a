"""Chip-serving API: query-driven chip grids + [T, C, H, W] stack serving.

Spark re-expression of the reference's TorchGeo adapter surface
(`/root/reference/src/rasteret/integrations/torchgeo.py:292-299, 997-1236`):
GridGeoSampler-style sliding-window chip grids and RandomGeoSampler-style
seeded random chips over a query bbox, interval time filtering with step
slicing (the adapter's ``df.iloc[::t_step]`` after temporal-overlap
filtering, `torchgeo.py:1016-1025`), composed with the candidate cell join
and the pixel chip-stack operator.

Scale shape:

  * the chip grid is generated DISTRIBUTED from ``spark.range`` with pure
    native expressions — a continental bbox at 10 m stride produces billions
    of chips without the driver materializing any of them;
  * random chips draw per-index uniforms from a seeded xxhash64, so the
    sample is deterministic, reproducible, and shuffle-free;
  * temporal filtering and t-step slicing happen on LIGHT candidate columns
    BEFORE the blob join — dropped time steps never shuffle their payloads.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.operators import raster_mosaic as rmo

_HASH_BUCKETS = 1 << 30


def chip_requests(
    spark: SparkSession,
    bbox: tuple[float, float, float, float],
    size: int,
    xres: float,
    yres: float | None = None,
    stride: int | None = None,
    random_n: int | None = None,
    seed: int = 0,
    prefix: str = "chip",
    grid_epsg: int = 4326,
) -> DataFrame:
    """Chip grid over a query bbox -> CHIP_COLS rows.

    Grid mode (``random_n=None``): sliding windows of ``size`` x ``size``
    pixels every ``stride`` pixels (default ``size`` — non-overlapping),
    TorchGeo GridGeoSampler semantics: ``ceil((extent - chip)/stride) + 1``
    positions per axis, the last position clamped flush with the far edge; a
    bbox smaller than one chip yields a single chip anchored at the origin.

    Random mode (``random_n=N``): N chips with offsets uniform over the
    bbox minus the chip extent (RandomGeoSampler), drawn deterministically
    per index from ``seed`` — same seed, same chips, on any cluster layout.

    ``grid_epsg`` selects the grid CRS: ``bbox``/``xres``/``yres`` are then
    in THAT CRS's units (e.g. meters for UTM) and the rows carry a
    ``grid_epsg`` column the downstream kernels consume — the reference's
    native-CRS mosaic path (`src/rasteret/core/execution.py:396-456`).  The
    default lon/lat grid emits no extra column (identical to the historic
    schema)."""
    yres = xres if yres is None else yres
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    if xmax <= xmin or ymax <= ymin:
        raise ValueError(f"degenerate bbox {bbox}")
    if size <= 0 or xres <= 0 or yres <= 0:
        raise ValueError("size and resolutions must be positive")
    cw, ch = size * xres, size * yres
    if random_n is not None:
        df = spark.range(int(random_n))
        ux = (
            F.pmod(F.xxhash64(F.col("id"), F.lit(int(seed))), F.lit(_HASH_BUCKETS))
            / float(_HASH_BUCKETS)
        )
        uy = (
            F.pmod(F.xxhash64(F.col("id"), F.lit(int(seed) + 1)), F.lit(_HASH_BUCKETS))
            / float(_HASH_BUCKETS)
        )
        x0 = F.lit(xmin) + ux * F.lit(max((xmax - xmin) - cw, 0.0))
        y1 = F.lit(ymax) - uy * F.lit(max((ymax - ymin) - ch, 0.0))
    else:
        st = size if stride is None else int(stride)
        if st <= 0:
            raise ValueError("stride must be positive")
        sx, sy = st * xres, st * yres
        n_x = max(math.ceil(((xmax - xmin) - cw) / sx) + 1, 1)
        n_y = max(math.ceil(((ymax - ymin) - ch) / sy) + 1, 1)
        df = spark.range(int(n_x) * int(n_y))
        i = F.col("id") % n_x
        j = F.floor(F.col("id") / n_x)
        # last position clamps flush with the far edge (GridGeoSampler rule)
        x0 = F.least(F.lit(xmin) + i * F.lit(sx), F.lit(max(xmax - cw, xmin)))
        y1 = F.greatest(F.lit(ymax) - j * F.lit(sy), F.lit(min(ymin + ch, ymax)))
    cols = [
        F.format_string(f"{prefix}-%08d", F.col("id")).alias("chip_id"),
        x0.cast("double").alias("chip_xmin"),
        y1.cast("double").alias("chip_ymax"),
        F.lit(float(xres)).alias("chip_xres"),
        F.lit(float(yres)).alias("chip_yres"),
        F.lit(int(size)).alias("chip_w"),
        F.lit(int(size)).alias("chip_h"),
    ]
    if int(grid_epsg) != 4326:
        cols.append(F.lit(int(grid_epsg)).alias("grid_epsg"))
    return df.select(*cols)


def slice_time_steps(
    cands: DataFrame,
    t_start=None,
    t_end=None,
    t_step: int = 1,
) -> DataFrame:
    """Interval time filter + step slicing over per-chip candidates (light
    columns): keep rows with ``t_start <= ts <= t_end``, then per chip every
    ``t_step``-th in (ts, image_id) order — the adapter's temporal-overlap
    filter + ``iloc[::t_step]`` (`torchgeo.py:1016-1025`)."""
    if t_start is not None:
        cands = cands.filter(F.col("datetime") >= F.lit(t_start))
    if t_end is not None:
        cands = cands.filter(F.col("datetime") <= F.lit(t_end))
    if t_step > 1:
        w = Window.partitionBy("chip_id").orderBy(F.col("datetime").asc(), F.col("image_id").asc())
        cands = (
            cands.withColumn("_rn", F.row_number().over(w))
            .filter(F.pmod(F.col("_rn") - 1, F.lit(int(t_step))) == 0)
            .drop("_rn")
        )
    return cands


def chip_serve(
    chips: DataFrame,
    images_light: DataFrame,
    images: DataFrame,
    t_start=None,
    t_end=None,
    t_step: int = 1,
    bands: tuple[int, ...] | list[int] = (0,),
    method: str = "nearest",
    max_images_per_chip: int | None = rmo.DEFAULT_MAX_IMAGES_PER_CHIP,
) -> DataFrame:
    """Serve [T, C, H, W] chip stacks for a chip-request table.

    ``chips``: CHIP_COLS rows (from ``chip_requests`` or hand-built).
    ``images_light``: ``spatial_join.image_light`` of the image table —
    NO blobs.  ``images``: the stored table (image_id, datetime, ``bytes``
    or ``href``).

    Plan: the two steps of ``raster_mosaic.chip_candidates`` with the
    temporal interval + step slice between them — light candidates from the
    cell-cover join -> ``slice_time_steps`` (still light) -> depth cap
    (newest ``max_images_per_chip``, ``None`` keeps all) + grouped payload
    join under the size-guarded broadcast (each surviving blob shuffles
    once, into its chip group) -> ``chip_stack_pixels``.  Matches the
    reference adapter's select-then-fetch ordering
    (`torchgeo.py:1016-1061`).  Building the plan runs the candidate join
    once to size and local-checkpoint the grouped side
    (``decode.grouped_side_choice``).
    """
    # cell resolution 7, as in raster_mosaic.chip_candidates
    cands = rmo._light_candidates(chips, images_light, images, 7)
    cands = slice_time_steps(cands, t_start, t_end, t_step)
    pairs = rmo._capped_payload(cands, images, max_images_per_chip)
    return rmo.chip_stack_pixels(pairs, bands=bands, method=method)
