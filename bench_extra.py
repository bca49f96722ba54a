#!/usr/bin/env python
"""Extra benchmarks (guide §1.4): noop-sink isolation of query sub-stages.

NOT the official bench — bench.py stays frozen.  This harness times named
sub-plans of the expensive queries so OPTIMIZATION_r06.md can attribute
seconds to stages (mosaic front-end vs Catalyst postlude vs sink).

Usage: python bench_extra.py [stage ...]    (default: all)
Prints one JSON line per stage: {"stage": name, "secs": [reps...]}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, build, reps=REPS):
    df = build()
    secs = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        noop(df)
        secs.append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"stage": name, "secs": secs}), flush=True)
    return min(secs)


def main() -> None:
    from pyspark.sql import functions as F

    from rasteret_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(
        app="rasteret-spark-bench-extra", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    want = set(sys.argv[1:])

    def on(name):
        return not want or name in want or any(name.startswith(w) for w in want)

    from rasteret_spark.operators import focal
    from rasteret_spark.operators import raster_mosaic as rmo

    # --- q74 decomposition -------------------------------------------------
    if on("q74"):
        timed(spark, "q74_full", lambda: E.queries()["q74_terrain"](spark, SF_DIR))
        timed(
            spark, "q74_mosaic_only",
            lambda: rmo.first_valid_mosaic_pixels(E._chip_pairs(spark), bands=(0, 1)),
        )
        timed(
            spark, "q74_terrain_nosum",
            lambda: focal.terrain(
                rmo.first_valid_mosaic_pixels(E._chip_pairs(spark), bands=(0, 1)),
                outs=("dzdx", "dzdy", "slope", "aspect", "hillshade"),
            ).select("chip_id", "band", "dzdx"),
        )

    # --- chip-stack decomposition (q69/q72/q73 share it) -------------------
    if on("stack"):
        timed(
            spark, "stack_only",
            lambda: rmo.chip_stack_pixels(E._chip_pairs(spark), bands=(0, 1)),
        )

    # --- zonal pipeline decomposition --------------------------------------
    if on("zonal"):
        import bench as B

        images_path = None
        from rasteret_spark.sources.synthetic import generator_fingerprint

        images_path = f"/tmp/rsbench_images_4000_{generator_fingerprint()}"
        B.ensure_images(spark, 4000, images_path)
        timed(spark, "zonal_full", lambda: B.headline_pipeline(spark, images_path))

        def cands_only():
            from rasteret_spark.operators import spatial_join as sj
            from rasteret_spark.sources.synthetic import aois_table

            images = spark.read.parquet(images_path)
            aoi = spark.createDataFrame(aois_table(200).to_pandas()).select(
                "aoi_id", F.col("geometry").alias("aoi_geometry"),
                F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
                F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
            )
            cands = sj.bbox_join(sj.image_light(images), aoi, res=7, salts=4)
            return sj.refine_rect_polygon(cands).filter(F.col("intersects")).select(
                "image_id", "aoi_id", "aoi_geometry",
                "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax",
            )

        timed(spark, "zonal_cands_only", cands_only)

        def scan_only():
            images = spark.read.parquet(images_path)
            return images.select("image_id", "bytes")

        timed(spark, "zonal_scan_only", scan_only)
        timed(spark, "sample_full", lambda: B.sample_pipeline(spark, images_path))
        timed(spark, "enrich_full", lambda: B.enrich_pipeline(spark, images_path))


if __name__ == "__main__":
    main()
