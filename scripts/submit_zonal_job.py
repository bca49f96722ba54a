"""Cluster-mode entry point for the flagship zonal pipeline — the
``spark-submit --py-files`` runner the north rule requires.

Usage (the engine ships as a zip; no install on the cluster):

    python -m zipfile -c /tmp/rasteret_spark.zip rasteret_spark
    spark-submit --master <cluster|local[N]> \
        --py-files /tmp/rasteret_spark.zip \
        scripts/submit_zonal_job.py \
        --images 4000 --aois 200 --out /data/zonal_out [--resume]

The job generates the synthetic image+caption table DISTRIBUTED (executors
build their own partitions — the driver never materializes blobs; swap
``--images-path`` for a real partitioned-parquet/Iceberg-style table), runs
cell-cover spatial join -> refine -> decode -> zonal aggregation through the
checkpointed lineage runner (``plans.pipelines.resumable_zonal`` around
``decode.zonal_join``, fed the stored image table as is), and writes
partitioned parquet.  Re-running with --resume after a kill re-processes
only buckets missing from the log (partition-granular resume,
`plans/lineage.py`).

Mirrors the reference's CLI entry surface (rasteret's console entry points
drive collection create/query, `pyproject.toml` scripts table) re-expressed
as a Spark job.
"""

from __future__ import annotations

import argparse
import shutil
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--images", type=int, default=1000, help="synthetic image count")
    ap.add_argument("--aois", type=int, default=50, help="synthetic AOI count")
    ap.add_argument("--images-path", default=None,
                    help="read an existing partitioned-parquet image table instead")
    ap.add_argument("--out", required=True, help="output directory (parquet + _lineage)")
    ap.add_argument("--resume", action="store_true",
                    help="keep existing checkpoint log; process only missing buckets")
    ap.add_argument("--n-parts", type=int, default=32, help="resume-bucket count")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    # imports AFTER argparse so --help works without the --py-files zip
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F  # noqa: N812

    from rasteret_spark.plans import pipelines
    from rasteret_spark.sources import synthetic as syn

    # spark-submit owns master/deploy-mode; only job-level confs here
    spark = (
        SparkSession.builder.appName("rasteret-spark-zonal")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .getOrCreate()
    )
    if not args.resume:
        shutil.rmtree(args.out, ignore_errors=True)

    if args.images_path:
        images = spark.read.parquet(args.images_path)
    else:
        images = syn.images_df(spark, args.images, seed=args.seed)
    aois = spark.createDataFrame(syn.aois_table(args.aois, seed=args.seed).to_pandas()).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )

    out = pipelines.resumable_zonal(
        spark, images, aois, args.out, n_parts=args.n_parts
    )
    n = out.count()
    ok = out.filter(F.col("status") == "ok").count()
    print(f"ZONAL_ROWS={n} OK_ROWS={ok} OUT={args.out}")
    spark.stop()
    return 0 if n > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
