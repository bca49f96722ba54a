"""End-to-end resumable zonal and sample pipelines."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lineage_log import read_log

from rasteret_spark.plans import lineage, pipelines


def _frames(spark, images_pdf, aois_pdf):
    images = spark.createDataFrame(
        images_pdf[["image_id", "bytes", "caption", "xmin", "ymin", "xmax", "ymax"]]
    )
    aois = spark.createDataFrame(
        aois_pdf.rename(
            columns={
                **{c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]},
                "geometry": "aoi_geometry",
            }
        )
    )
    return images, aois


def test_resumable_zonal_partial_then_complete(spark, images_pdf, aois_pdf, tmp_path):
    images, aois = _frames(spark, images_pdf, aois_pdf)
    out = str(tmp_path / "zonal_ckpt")

    # full single-shot reference result
    ref_out = str(tmp_path / "zonal_ref")
    full = pipelines.resumable_zonal(spark, images, aois, ref_out, n_parts=8).toPandas()

    # killed-job simulation: first run only sees half the buckets' images
    part = F.pmod(F.xxhash64(F.col("image_id")), F.lit(8))
    pipelines.resumable_zonal(
        spark, images.filter(part < 4), aois, out, n_parts=8
    )
    done = lineage.completed_parts(spark, out, "zonal")
    assert 0 < len(done) <= 4

    resumed = pipelines.resumable_zonal(spark, images, aois, out, n_parts=8).toPandas()
    assert len(lineage.completed_parts(spark, out, "zonal")) == 8

    key = ["image_id", "aoi_id"]
    a = full.sort_values(key).reset_index(drop=True)
    b = resumed.drop(columns=["part_id"]).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a.drop(columns=["part_id"]), b[a.columns.drop("part_id")], check_like=True
    )

    log = read_log(spark, out)
    assert log.agg(F.sum("rows_out")).first()[0] == len(full)


def test_resumable_sample_partial_then_complete(spark, images_pdf, points_pdf, tmp_path):
    """Sampler sibling of the resumable zonal: kill-after-half resumes to
    the exact single-shot result, and matches the direct operator."""
    images = spark.createDataFrame(
        images_pdf[["image_id", "bytes", "xmin", "ymin", "xmax", "ymax"]]
    )
    pts = spark.createDataFrame(points_pdf[["point_index", "x", "y"]])
    ref = pipelines.resumable_sample(
        spark, images, pts, str(tmp_path / "ref"), max_ring=2, n_parts=8
    ).toPandas()

    out = str(tmp_path / "ckpt")
    part = F.pmod(F.xxhash64(F.col("image_id")), F.lit(8))
    pipelines.resumable_sample(
        spark, images.filter(part < 4), pts, out, max_ring=2, n_parts=8
    )
    done = lineage.completed_parts(spark, out, "sample")
    assert 0 < len(done) <= 4

    resumed = pipelines.resumable_sample(
        spark, images, pts, out, max_ring=2, n_parts=8
    ).toPandas()
    key = ["point_index", "image_id", "band"]
    a = ref.sort_values(key).reset_index(drop=True)
    b = resumed.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns], check_like=True)
    assert read_log(spark, out).agg(F.sum("rows_out")).first()[0] == len(a)

    # direct operator parity on the value column
    from rasteret_spark.operators import sampling, spatial_join as sj

    img_r = spark.createDataFrame(
        images_pdf.rename(columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]})
    )
    cands = sj.point_in_bbox_join(
        pts, img_r.select("image_id", "img_xmin", "img_ymin", "img_xmax", "img_ymax"),
        res=8,
    ).select("point_index", "x", "y", "image_id")
    want = sampling.sample_points(
        cands, img_r.select("image_id", "bytes"), max_ring=2
    ).toPandas().sort_values(key).reset_index(drop=True)
    assert len(want) == len(a)
    np.testing.assert_array_equal(
        a["value"].to_numpy(float), want["value"].to_numpy(float)
    )
