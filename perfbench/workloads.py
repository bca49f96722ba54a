"""The four closed-loop workloads.

A rep builds its plan with the engine's public calls *and* runs the action,
because building a zonal, sample or mosaic plan runs a Spark job today
(``decode.grouped_side_choice``).  Plans are rebuilt every rep.  Each action
is one small aggregate over the workload's output -- row count, non-``ok``
status rows and an order-independent digest -- so every rep is checked
without a second pass over the data.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from perfbench import inputs as inp

# the densest image hot spot of the synthetic generator and the battery's
# chip grid over it (size, resolution, stride)
HOTSPOT_BBOX = (13.35, 52.448, 13.452, 52.55)
CHIP_SIZE, CHIP_RES, CHIP_STRIDE = 32, 0.001, 35
ZONAL_PICKS = 4


@dataclass
class RepOut:
    units: float          # work units for the throughput metric
    attempted: int        # work units checked (rows, buckets, queries)
    bad: int              # output rows whose status is not 'ok'
    digest: object        # must repeat exactly across reps of one run
    problems: list = field(default_factory=list)
    plans: list = field(default_factory=list)  # executed action DataFrames


class Ctx:
    """What a rep needs: session, inputs, tracer and per-seed references."""

    def __init__(self, spark, inputs: inp.Inputs, tracer, work: str):
        self.spark, self.inputs, self.tr, self.work = spark, inputs, tracer, work
        self.aois = inputs.table("aois")
        self.points = inputs.table("points")
        self.meta = inputs.image_meta()
        self.n_images = self.meta.num_rows

    def frame(self, table) -> DataFrame:
        return self.spark.createDataFrame(table.to_pandas())


def _light(images: DataFrame) -> DataFrame:
    return images.select(
        "image_id",
        F.col("xmin").alias("img_xmin"), F.col("ymin").alias("img_ymin"),
        F.col("xmax").alias("img_xmax"), F.col("ymax").alias("img_ymax"),
    )


def _aoi_side(ctx: Ctx) -> DataFrame:
    return ctx.frame(ctx.aois).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )


def pair_digest_col(a: str, b: str):
    return F.sum(F.crc32(F.concat_ws("|", F.col(a).cast("string"), F.col(b).cast("string"))))


def status_aggs():
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("bad"),
    ]


# --- zonal ----------------------------------------------------------------------
def zonal_candidates(ctx: Ctx, images: DataFrame):
    from rasteret_spark.operators import spatial_join as sj

    with ctx.tr.span("spatial_join.bbox_join"):
        cands = sj.bbox_join(_light(images), _aoi_side(ctx), res=7, salts=4)
    with ctx.tr.span("spatial_join.refine"):
        refined = sj.refine_rect_polygon(cands).filter(F.col("intersects")).select(
            "image_id", "aoi_id", "aoi_geometry",
            "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax",
        )
    return cands, refined


def zonal_plan(ctx: Ctx, images_path: str) -> DataFrame:
    from rasteret_spark.operators import decode

    images = ctx.spark.read.parquet(images_path)
    _, refined = zonal_candidates(ctx, images)
    with ctx.tr.span("decode.plan_build"):
        return decode.zonal_stats(
            refined, images.select("image_id", "bytes").withColumn("caption", F.lit(""))
        )


class Zonal:
    name = "zonal"

    def __init__(self, ctx: Ctx):
        pairs = inp.zonal_pairs(ctx.meta, ctx.aois)
        self.n_pairs = len(pairs)
        self.digest = inp.pair_digest(*zip(*pairs)) if pairs else 0
        rng = np.random.default_rng(ctx.inputs.seed)
        picks = [pairs[i] for i in rng.choice(len(pairs), min(ZONAL_PICKS, len(pairs)), replace=False)]
        rows = ctx.inputs.image_rows(sorted({p[0] for p in picks}))
        aois = {a["aoi_id"]: a for a in ctx.aois.to_pylist()}
        from rasteret_spark.operators.decode import zonal_oracle_row

        self.picks = [(p, zonal_oracle_row(rows[p[0]], aois[p[1]])) for p in picks]

    def run(self, ctx: Ctx, images_path: str, check: bool = True):
        z = zonal_plan(ctx, images_path)
        stats = F.struct("px_count", "valid_count", "v_sum", "v_min", "v_max")
        picks = [
            F.max(F.when((F.col("image_id") == i) & (F.col("aoi_id") == a), stats)).alias(f"p{k}")
            for k, ((i, a), _) in enumerate(self.picks)
        ]
        q = z.agg(*status_aggs(), pair_digest_col("image_id", "aoi_id").alias("digest"), *picks)
        with ctx.tr.span("decode.zonal"):
            r = q.collect()[0]  # collect keeps q's own final plan
        out = RepOut(units=ctx.n_images, attempted=r["rows"], bad=r["bad"], digest=r["digest"])
        out.plans = [q]
        if check:
            if r["rows"] != self.n_pairs:
                out.problems.append(f"zonal rows {r['rows']} != brute-force pairs {self.n_pairs}")
            if r["digest"] != self.digest:
                out.problems.append("zonal pair set differs from the brute-force pair set")
            for k, ((i, a), want) in enumerate(self.picks):
                got = r[f"p{k}"]
                if got is None or not _same_stats(got.asDict(), want):
                    out.problems.append(f"zonal row ({i}, {a}) {got} != oracle {want}")
        return out


def _same_stats(got: dict, want: dict) -> bool:
    for k, v in got.items():
        w = want[k]
        if (v is None) != (w is None):
            return False
        if v is not None and not np.isclose(v, w, rtol=1e-9, atol=0):
            return False
    return True


# --- sample -----------------------------------------------------------------------
def sample_candidates(ctx: Ctx, images: DataFrame) -> DataFrame:
    from rasteret_spark.operators import spatial_join as sj

    with ctx.tr.span("spatial_join.point_join"):
        return sj.point_in_bbox_join(ctx.frame(ctx.points), _light(images), res=8).select(
            "point_index", "x", "y", "image_id"
        )


def sample_plan(ctx: Ctx, images_path: str) -> DataFrame:
    from rasteret_spark.operators import sampling

    images = ctx.spark.read.parquet(images_path)
    cands = sample_candidates(ctx, images)
    with ctx.tr.span("sampling.plan_build"):
        return sampling.sample_points(cands, images.select("image_id", "bytes"), max_ring=3)


class Sample:
    name = "sample"

    def __init__(self, ctx: Ctx):
        pairs = inp.point_pairs(ctx.meta, ctx.points)
        self.n_pairs = len(pairs)
        self.digest = inp.pair_digest(*zip(*pairs)) if pairs else 0

    def run(self, ctx: Ctx, images_path: str, check: bool = True):
        s = sample_plan(ctx, images_path)
        q = s.agg(*status_aggs(), pair_digest_col("point_index", "image_id").alias("digest"))
        with ctx.tr.span("sampling.sample"):
            r = q.collect()[0]  # collect keeps q's own final plan
        # the unit is the point sampled (over every image it falls in): the
        # point count is the same for every seed, the output row count is not
        out = RepOut(units=ctx.points.num_rows, attempted=r["rows"], bad=r["bad"], digest=r["digest"])
        out.plans = [q]
        if check:
            if r["rows"] != self.n_pairs:
                out.problems.append(f"sample rows {r['rows']} != brute-force count {self.n_pairs}")
            if r["digest"] != self.digest:
                out.problems.append("sample pair set differs from the brute-force pair set")
        return out


# --- ingest -----------------------------------------------------------------------
def enrich_transform(df: DataFrame) -> DataFrame:
    from rasteret_spark.operators import enrich

    return enrich.enrich_headers(df).select("image_id", "part_id", "meta")


def read_lineage_log(out_dir: str) -> list[dict]:
    log_dir = os.path.join(out_dir, "_lineage")
    rows = []
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def dir_size(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for fn in files:
            n += 1
            size += os.path.getsize(os.path.join(root, fn))
    return n, size


class Ingest:
    name = "ingest"
    stage = "enrich"

    def __init__(self, ctx: Ctx):
        self.k = 0

    def run(self, ctx: Ctx, images_path: str, check: bool = True):
        from rasteret_spark.plans import lineage

        self.k += 1
        out_dir = os.path.join(ctx.work, "ingest", f"rep-{self.k}")
        shutil.rmtree(out_dir, ignore_errors=True)
        images = ctx.spark.read.parquet(images_path).select("image_id", "bytes")
        with ctx.tr.span("lineage.run"):
            lineage.checkpointed_run(ctx.spark, images, enrich_transform, out_dir, "image_id", stage=self.stage)
        log_first = read_lineage_log(out_dir)
        with ctx.tr.span("lineage.resume"):
            lineage.checkpointed_run(ctx.spark, images, enrich_transform, out_dir, "image_id", stage=self.stage)
        log = read_lineage_log(out_dir)
        data_dir = os.path.join(out_dir, f"data-{self.stage}")
        buckets = {int(d.split("=")[1]) for d in os.listdir(data_dir) if d.startswith("part_id=")}
        rows_out = sum(r["rows_out"] for r in log)
        out = RepOut(units=ctx.n_images, attempted=len(log), bad=0,
                     digest=(rows_out, tuple(sorted(r["part_id"] for r in log))))
        out.files, out.bytes = dir_size(data_dir)
        if check:
            if {r["part_id"] for r in log} != buckets or len(log) != len(buckets):
                out.problems.append("lineage log does not cover every written bucket exactly once")
            if rows_out != ctx.n_images:
                out.problems.append(f"lineage rows_out {rows_out} != images {ctx.n_images}")
            if len(log) != len(log_first):
                out.problems.append("resume processed buckets that were already complete")
        shutil.rmtree(out_dir, ignore_errors=True)
        return out


# --- raster_ops ---------------------------------------------------------------------
def chip_grid(ctx: Ctx) -> DataFrame:
    from rasteret_spark.operators import chips

    return chips.chip_requests(ctx.spark, HOTSPOT_BBOX, CHIP_SIZE, CHIP_RES, stride=CHIP_STRIDE)


def chip_pairs(ctx: Ctx, images_path: str) -> DataFrame:
    from rasteret_spark.operators import raster_mosaic as rmo

    images = ctx.spark.read.parquet(images_path)
    with ctx.tr.span("raster_mosaic.plan_build"):
        return rmo.chip_candidates(
            ctx.grid, _light(images), images.select("image_id", "datetime", "bytes")
        )


def _focal_sobel(ctx, base):
    from rasteret_spark.operators import focal

    return focal.sobel(focal.focal_stats(base), value_col="focal_mean")


def _terrain(ctx, base):
    from rasteret_spark.operators import focal

    return focal.terrain(base)


def _spatial_stats(ctx, base):
    from rasteret_spark.operators import focal

    return focal.spatial_stats(base)


def _chip_stats(ctx, base):
    from rasteret_spark.operators import band_math as bm

    return bm.chip_stats(base)


def _class_stats(ctx, base):
    from rasteret_spark.operators import labels

    masks = labels.label_masks(ctx.grid, ctx.frame(ctx.aois.slice(0, 40)))
    return labels.class_stats(
        masks.filter(F.col("status") == "ok"), base.select("chip_id", "band", "values")
    )


def _change_detect(ctx, base):
    from rasteret_spark.operators import band_math as bm

    return bm.change_detect(base, ctx.split_ts)


def _temporal_trend(ctx, base):
    from rasteret_spark.operators import band_math as bm

    return bm.temporal_trend(base)


def _temporal_composite(ctx, base):
    from rasteret_spark.operators import band_math as bm

    return bm.temporal_composite(base)


# (metric name, source kernel, builder); one row per (chip, band) unless noted
RASTER_OPS = [
    ("focal.focal_sobel_s", "mosaic", _focal_sobel),
    ("focal.terrain_s", "mosaic", _terrain),
    ("focal.spatial_stats_s", "mosaic", _spatial_stats),
    ("band_math.chip_stats_s", "mosaic", _chip_stats),
    ("labels.class_stats_s", "mosaic", _class_stats),
    ("band_math.change_detect_s", "stack", _change_detect),
    ("band_math.temporal_trend_s", "stack", _temporal_trend),
    ("band_math.temporal_composite_s", "stack", _temporal_composite),
]
PER_CLASS = {"labels.class_stats_s"}


def row_digest(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("digest"),
    )


class RasterOps:
    name = "raster_ops"

    def __init__(self, ctx: Ctx):
        # chips of the grid that overlap at least one image bbox, one band
        # each (the grid follows chips.chip_requests: the last position sits
        # flush with the far edge)
        x0, y0, x1, y1 = (ctx.meta.column(c).to_numpy() for c in ("xmin", "ymin", "xmax", "ymax"))
        bx0, by0, bx1, by1 = HOTSPOT_BBOX
        side, step = CHIP_SIZE * CHIP_RES, CHIP_STRIDE * CHIP_RES
        n_x = max(math.ceil(((bx1 - bx0) - side) / step) + 1, 1)
        n_y = max(math.ceil(((by1 - by0) - side) / step) + 1, 1)
        self.want_rows = 0
        for i in range(n_x):
            for j in range(n_y):
                cx0 = min(bx0 + i * step, max(bx1 - side, bx0))
                cy1 = max(by1 - j * step, min(by0 + side, by1))
                self.want_rows += bool(np.any(
                    (x1 >= cx0) & (x0 <= cx0 + side) & (y1 >= cy1 - side) & (y0 <= cy1)
                ))
        ts = np.sort(ctx.meta.column("datetime").to_numpy())
        ctx.split_ts = str(ts[len(ts) // 2].astype("datetime64[s]")).replace("T", " ")

    def run(self, ctx: Ctx, images_path: str, check: bool = True):
        from rasteret_spark.operators import raster_mosaic as rmo

        ctx.grid = chip_grid(ctx)
        pairs = chip_pairs(ctx, images_path)
        # the eight operators read the mosaic or the stack, each built once
        # per rep and kept for the rep's operator actions
        bases = {}
        for kernel, build in (("mosaic", rmo.first_valid_mosaic_pixels), ("stack", rmo.chip_stack_pixels)):
            with ctx.tr.span(f"raster_mosaic.{kernel}"):
                bases[kernel] = build(pairs).persist()
                bases[kernel].count()
        digests, problems, plans = [], [], []
        try:
            for metric, kernel, build in RASTER_OPS:
                op = metric[: -len("_s")]
                with ctx.tr.span(f"{op}.build"):
                    q = row_digest(build(ctx, bases[kernel]))
                with ctx.tr.span(op):
                    r = q.collect()[0]  # collect keeps q's own final plan
                plans.append(q)
                digests.append((r["rows"], r["digest"]))
                if check and metric not in PER_CLASS and r["rows"] != self.want_rows:
                    problems.append(f"{op} rows {r['rows']} != chips x bands {self.want_rows}")
                if check and r["rows"] == 0:
                    problems.append(f"{op} returned no rows")
        finally:
            for b in bases.values():
                b.unpersist()
        return RepOut(units=len(RASTER_OPS), attempted=len(RASTER_OPS), bad=0,
                      digest=tuple(digests), problems=problems, plans=plans)


WORKLOADS = {w.name: w for w in (Zonal, Sample, Ingest, RasterOps)}
