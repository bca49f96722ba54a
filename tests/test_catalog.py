"""Partitioned catalog contract: hive write/load with partition pruning,
GeoParquet export, and the mosaic grid's EPSG mode."""

import os

import pytest
from pyspark.sql import functions as F

from rasteret_spark.sources import catalog


def test_catalog_roundtrip_partition_pruning(spark, tmp_path, images_pdf):
    df = spark.createDataFrame(images_pdf)
    path = str(tmp_path / "img_catalog")
    catalog.write_images(df, path)
    # hive layout exists
    years = [d for d in os.listdir(path) if d.startswith("year=")]
    assert len(years) >= 1
    months = [d for d in os.listdir(os.path.join(path, years[0])) if d.startswith("month=")]
    assert len(months) >= 2

    back = catalog.load_images(spark, path)
    assert back.count() == len(images_pdf)

    # partition pruning is visible in the physical plan
    pruned = back.filter(F.col("year") == int(years[0].split("=")[1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.count() < len(images_pdf)

    # contract validation fires
    bad = df.drop("phash")
    catalog.write_images(bad, str(tmp_path / "bad"))
    with pytest.raises(ValueError, match="phash"):
        catalog.load_images(spark, str(tmp_path / "bad"))

    # column_map aliases a foreign schema onto the contract
    renamed = df.withColumnRenamed("image_id", "scene_id")
    catalog.write_images(renamed, str(tmp_path / "foreign"))
    ok = catalog.load_images(
        spark, str(tmp_path / "foreign"), column_map={"scene_id": "image_id"}
    )
    assert "image_id" in ok.columns


def test_geoparquet_export_stamps_geo_metadata(spark, images_pdf, tmp_path):
    import json

    import pyarrow.parquet as pq

    from rasteret_spark.sources import catalog as cat

    p = str(tmp_path / "geo_out")
    df = spark.createDataFrame(
        images_pdf[["image_id", "geometry", "xmin", "ymin", "xmax", "ymax"]]
    )
    cat.write_images_geoparquet(df, p)
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert files
    total = 0
    for f in files:
        meta = pq.read_schema(os.path.join(p, f)).metadata
        assert b"geo" in meta
        geo = json.loads(meta[b"geo"])
        assert geo["primary_column"] == "geometry"
        assert geo["columns"]["geometry"]["encoding"] == "WKB"
        assert geo["columns"]["geometry"]["bbox"][0] <= images_pdf["xmin"].min()
        total += pq.read_metadata(os.path.join(p, f)).num_rows
    assert total == len(images_pdf)
    # still loadable by Spark as a plain parquet dataset
    assert spark.read.parquet(p).count() == len(images_pdf)


def test_most_common_epsg_mode_with_tiebreak(spark):
    from rasteret_spark.operators.raster_mosaic import most_common_epsg

    df = spark.createDataFrame(
        [(4326,), (4326,), (32633,), (32633,), (32610,)], ["epsg"]
    )
    # tie 4326 vs 32633 -> deterministic smallest wins
    assert most_common_epsg(df) == 4326
