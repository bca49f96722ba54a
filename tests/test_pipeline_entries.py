"""``decode.zonal_join`` and ``sampling.sample_join`` equal the explicit
primitive chains they own: cell join -> (refine ->) decode."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasteret_spark.operators import decode, sampling, spatial_join as sj


def _img_light(images):
    return images.select(
        "image_id",
        F.col("xmin").alias("img_xmin"), F.col("ymin").alias("img_ymin"),
        F.col("xmax").alias("img_xmax"), F.col("ymax").alias("img_ymax"),
    )


def _sorted(df, key):
    return df.toPandas().sort_values(key).reset_index(drop=True)


@pytest.mark.parametrize(
    "salts, bands", [(0, None), (4, None), (0, (0, 1, 2))], ids=["plain", "salted", "bands"]
)
def test_zonal_join_equals_primitive_chain(spark, images_df, aois_pdf, salts, bands):
    aois = spark.createDataFrame(aois_pdf).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )
    cands = sj.bbox_join(_img_light(images_df), aois, res=7, salts=salts)
    pairs = sj.refine_rect_polygon(cands).filter(F.col("intersects")).select(
        "image_id", "aoi_id", "aoi_geometry", "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax"
    )
    want = decode.zonal_stats(
        pairs, images_df.select("image_id", "bytes", "caption"), bands=bands
    )
    got = decode.zonal_join(images_df, aois, res=7, salts=salts, bands=bands)
    key = ["image_id", "aoi_id", "band"]
    g, w = _sorted(got, key), _sorted(want, key)
    assert len(w) > 0 and (w["status"] == "ok").all()
    if bands is not None:
        assert w["band"].nunique() == 3
    pd.testing.assert_frame_equal(g, w)


def test_sample_join_equals_primitive_chain(spark, images_df, points_pdf):
    pts = spark.createDataFrame(points_pdf)
    cands = sj.point_in_bbox_join(pts, _img_light(images_df), res=8).select(
        "point_index", "x", "y", "image_id"
    )
    want = sampling.sample_points(
        cands, images_df.select("image_id", "bytes"), max_ring=2, neighborhood=3
    )
    got = sampling.sample_join(images_df, pts, res=8, max_ring=2, neighborhood=3)
    key = ["point_index", "image_id", "band"]
    g, w = _sorted(got, key), _sorted(want, key)
    assert len(w) > 0 and w["neighborhood"].notna().any()
    pd.testing.assert_frame_equal(g, w)


def test_zonal_join_defaults_missing_caption(spark, images_df, aois_pdf):
    aois = spark.createDataFrame(aois_pdf.head(5)).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )
    got = decode.zonal_join(images_df.drop("caption"), aois).toPandas()
    assert len(got) > 0 and (got["caption"] == "").all()
