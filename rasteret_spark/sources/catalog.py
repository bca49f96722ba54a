"""Iceberg-style partitioned catalog: write/load the image table.

Mirrors the reference's export/load contract: zstd parquet partitioned by
``year``/``month`` with schema validation on load (rasteret
`src/rasteret/core/collection.py:1552-1688` export, `904-1011` from_parquet
contract checks).  Real Iceberg needs jars absent from this image, so the
layout is hive-partitioned parquet with the same pruning semantics — Spark
prunes partitions from the directory structure, row groups from parquet
stats, and columns from the projection (all visible in `.explain`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

REQUIRED_COLUMNS = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
GEO_COLUMNS = ("datetime", "epsg", "transform", "geometry", "xmin", "ymin", "xmax", "ymax")


def write_images(df: DataFrame, path: str) -> None:
    """Partitioned sink (S10): year/month hive layout, zstd compression;
    replaces whatever table is at ``path``."""
    if "year" not in df.columns:
        df = df.withColumn("year", F.year("datetime")).withColumn(
            "month", F.month("datetime")
        )
    (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("year", "month")
        .parquet(path)
    )


def write_images_geoparquet(df: DataFrame, path: str) -> None:
    """GeoParquet-convention export: parquet files whose schema carries the
    ``geo`` key-value metadata (primary column, encoding, bbox), mirroring
    the reference's geoparquet export (`src/rasteret/core/collection.py:
    1649-1672`).

    Spark's parquet writer cannot attach custom file metadata, so the files
    are written by pyarrow per partition via ``mapInArrow``-style batching:
    each Spark partition becomes one .parquet file stamped with the ``geo``
    metadata — still fully distributed, no driver collect."""
    import json

    bounds = df.agg(
        F.min("xmin"), F.min("ymin"), F.max("xmax"), F.max("ymax")
    ).first()
    geo_meta = json.dumps(
        {
            "version": "1.0.0",
            "primary_column": "geometry",
            "columns": {
                "geometry": {
                    "encoding": "WKB",
                    "geometry_types": ["Polygon", "MultiPolygon"],
                    "bbox": [bounds[0], bounds[1], bounds[2], bounds[3]],
                    "crs": None,  # OGC:CRS84 per the GeoParquet default
                }
            },
        }
    )

    def write_part(it):
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(it)
        if batches:
            table = pa.Table.from_batches(batches)
            table = table.replace_schema_metadata(
                {**(table.schema.metadata or {}), b"geo": geo_meta.encode()}
            )
            os.makedirs(path, exist_ok=True)
            pq.write_table(table, os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"))
        yield pa.RecordBatch.from_pydict({"files": [1 if batches else 0]})

    counts = df.mapInArrow(write_part, schema="files bigint")
    counts.collect()  # drive the distributed write


def load_images(
    spark: SparkSession, path: str, column_map: dict[str, str] | None = None
) -> DataFrame:
    """Contract-validated load (S2) with optional column aliasing
    (rasteret's ``column_map``, `src/rasteret/ingest/parquet_record_table.py:138-160`)."""
    df = spark.read.parquet(path)
    if column_map:
        for src, dst in column_map.items():
            df = df.withColumnRenamed(src, dst)
    missing = [c for c in REQUIRED_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"image table at {path} missing required columns {missing}; "
            f"present: {df.columns}"
        )
    return df
