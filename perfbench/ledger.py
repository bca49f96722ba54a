"""Per-layer ledger for the traced run.

Every traced run measures every layer, whatever its workload, so each
per-layer metric has a value in every traced run:

* one traced rep of each workload, on the run's seeded inputs; a layer's
  time is the duration of its span around the public call (plan builds,
  actions, lineage run and resume, mosaic, stack and each operator);
* isolated calls for what no rep shows on its own: the blob scan, the
  candidate join and the refine as counts, the Python boundary with an
  empty kernel, the header parse, and single-process loops over the
  window-read and polygon-mask kernels.

Each measurement runs under its own Spark job group (``ledger-*``), so its
jobs stay out of the rep totals read from the event log.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from perfbench import inputs as inp
from perfbench import workloads as wl

KERNEL_PAIRS = 48  # refined pairs in the single-process window/PIP loops


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(ctx: wl.Ctx, name: str, fn):
    ctx.spark.sparkContext.setJobGroup(f"ledger-{name}", name)
    t0 = time.perf_counter()
    r = fn()
    return time.perf_counter() - t0, r


def kernel_loops(ctx: wl.Ctx) -> tuple[float, float]:
    """Mean microseconds per ``CachedReader.window`` and per
    ``geom.points_in_polygon_grid`` call over a seeded subset of refined
    pairs, in this process (no Spark)."""
    from rasteret_spark import crs, geom
    from rasteret_spark.format import miniraster as mr
    from rasteret_spark.operators import decode

    pairs = inp.zonal_pairs(ctx.meta, ctx.aois)
    rng = np.random.default_rng(ctx.inputs.seed + 1)
    pick = [pairs[i] for i in rng.choice(len(pairs), min(KERNEL_PAIRS, len(pairs)), replace=False)]
    blobs = {k: r["bytes"] for k, r in ctx.inputs.image_rows(sorted({p[0] for p in pick})).items()}
    aois = {a["aoi_id"]: a for a in ctx.aois.to_pylist()}
    win_s = pip_s = 0.0
    n_win = n_pip = 0
    for image_id, aoi_id in pick:
        blob, aoi = blobs[image_id], aois[aoi_id]
        meta = mr.CachedReader(blob).meta
        box = crs.bbox_from_lonlat(meta.epsg, aoi["xmin"], aoi["ymin"], aoi["xmax"], aoi["ymax"])
        c0, r0, ww, wh = decode.window_from_bbox(meta.transform, meta.width, meta.height, *box)
        if ww <= 0 or wh <= 0:
            continue
        t0 = time.perf_counter()
        mr.CachedReader(blob, meta).window(c0, r0, ww, wh, band=0)
        win_s += time.perf_counter() - t0
        n_win += 1
        if crs.is_separable(meta.epsg):
            lon, lat = decode.pixel_axes_lonlat(meta.transform, meta.epsg, c0, r0, ww, wh)
            t0 = time.perf_counter()
            geom.points_in_polygon_grid(lon, lat, aoi["geometry"])
            pip_s += time.perf_counter() - t0
            n_pip += 1
    return 1e6 * win_s / max(n_win, 1), 1e6 * pip_s / max(n_pip, 1)


def isolated(ctx: wl.Ctx) -> dict[str, float]:
    from rasteret_spark.operators import enrich

    m: dict[str, float] = {}
    images = ctx.spark.read.parquet(ctx.inputs.images_dir)
    payload = images.select("image_id", "bytes")
    m["scan.blob_s"], _ = _timed(ctx, "scan.blob", lambda: _noop(payload))

    cands, refined = wl.zonal_candidates(ctx, images)
    m["spatial_join.bbox_join_s"], n_cands = _timed(ctx, "bbox_join", cands.count)
    join_refine_s, n_refined = _timed(ctx, "refine", refined.count)
    m["spatial_join.cand_pairs"] = n_cands
    m["spatial_join.refine_s"] = join_refine_s - m["spatial_join.bbox_join_s"]
    m["spatial_join.refine_keep_ratio"] = n_refined / max(n_cands, 1)
    points = wl.sample_candidates(ctx, images)
    m["spatial_join.point_join_s"], m["spatial_join.point_cands"] = _timed(
        ctx, "point_join", points.count
    )

    # the zonal decode input (image blobs joined to the broadcast grouped
    # AOI side) shipped to a mapInPandas that returns nothing
    grouped = refined.groupBy("image_id").agg(
        F.collect_list(
            F.struct("aoi_id", "aoi_geometry", "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax")
        ).alias("_aois")
    ).persist()
    grouped.count()

    def drain(batches):
        for pdf in batches:
            yield pdf[["image_id"]].iloc[:0]

    passthrough = (
        payload.withColumn("caption", F.lit(""))
        .join(F.broadcast(grouped), "image_id")
        .mapInPandas(drain, "image_id string")
    )
    m["boundary.passthrough_s"], _ = _timed(ctx, "passthrough", lambda: _noop(passthrough))
    grouped.unpersist()

    m["format.window_us"], m["geom.pip_us"] = kernel_loops(ctx)
    m["enrich.parse_s"], _ = _timed(ctx, "enrich", lambda: _noop(enrich.enrich_headers(payload)))
    return m


def measure(ctx: wl.Ctx, wanted: set[str]) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics named in ``wanted`` plus the problems the ledger's
    own reps found."""
    m = isolated(ctx)
    problems: list[str] = []
    for name, cls in wl.WORKLOADS.items():
        rep_id = f"ledger-{name}"
        ctx.spark.sparkContext.setJobGroup(rep_id, rep_id)
        ctx.tr.rep = rep_id
        with ctx.tr.span("rep"):
            out = cls(ctx).run(ctx, ctx.inputs.images_dir)
        problems.extend(f"{rep_id}: {p}" for p in out.problems)
        for span, secs in ctx.tr.durations(rep_id).items():
            if f"{span}_s" in wanted and f"{span}_s" not in m:  # isolated calls win
                m[f"{span}_s"] = secs
        if name == "ingest":
            m["lineage.files"] = out.files
            m["lineage.bytes_per_image"] = out.bytes / ctx.n_images
    return m, problems
