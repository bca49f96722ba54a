#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Headline metric (BASELINE.json): images/sec end-to-end through the engine's
flagship path — header-cache enrichment -> cell-cover AOI join -> exact
refine -> tile-window decode + polygon mask + zonal reduce — over the
synthetic Iceberg-style image table.  Per-query timings for the SURVEY §2
operator battery at $SPARK_GRAFT_SF_DIR are reported in "queries".

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default: all cores)
  BENCH_N_IMAGES       image-table rows for the headline path (default 4000)
  BENCH_PIPELINE_ONLY  "1": run only the headline pipeline (scaling harness)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
N_IMAGES = int(os.environ.get("BENCH_N_IMAGES", "4000"))
PIPELINE_ONLY = os.environ.get("BENCH_PIPELINE_ONLY") == "1"
N_AOIS = 200
N_POINTS = int(os.environ.get("BENCH_N_POINTS", "16000"))


def ensure_images(spark, n: int, path: str) -> None:
    """Generate the image table distributed (mapInPandas over an id range)
    and persist as parquet — input prep, excluded from pipeline timing."""
    import glob

    if glob.glob(f"{path}/_SUCCESS"):
        return
    from rasteret_spark.sources.synthetic import images_df

    images_df(spark, n, partitions=CPUS * 4).write.mode("overwrite").parquet(path)


def headline_pipeline(spark, images_path: str):
    """The metric path: enrich -> cell join -> refine -> decode/mask/reduce."""
    from pyspark.sql import functions as F

    from rasteret_spark.operators import decode
    from rasteret_spark.sources.synthetic import aois_table

    # captions stay out of the metric path (zonal_join fills "")
    images = spark.read.parquet(images_path).drop("caption")
    aoi = spark.createDataFrame(aois_table(N_AOIS).to_pandas()).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )
    return decode.zonal_join(images, aoi, res=7, salts=4)


def enrich_pipeline(spark, images_path: str):
    """Ingest-time header-cache pass (R1): parse every header once, keep
    metadata only (the planning index) — blobs stay in the lake."""
    from pyspark.sql import functions as F

    from rasteret_spark.operators import enrich

    images = spark.read.parquet(images_path)
    return enrich.enrich_headers(images.select("image_id", "bytes")).select(
        "image_id", "meta.width", "meta.height", F.size("meta.tile_offsets").alias("n_tiles")
    )


def sample_pipeline(spark, images_path: str):
    from rasteret_spark.operators import sampling
    from rasteret_spark.sources.synthetic import points_table

    images = spark.read.parquet(images_path)
    pts = spark.createDataFrame(points_table(N_POINTS).to_pandas())
    return sampling.sample_join(images, pts, res=8, max_ring=3)


BENCH_QUERIES = [
    "q01_pricing_summary", "q04_latest_order_per_customer", "q11_cell_assign",
    "q12_pip_join", "q14_zonal_value_stats", "q17_token_stats",
    "q21_embed_knn", "q23_windowed_events", "q24_sessionize",
    "q43_image_dedup_phash", "q46_minhash_lsh_pairs", "q48_image_mosaic",
    "q49_image_latest_sample", "q50_image_zonal_bands", "q52_ivf_ann",
    "q53_chip_serve", "q54_image_mosaic_average", "q55_rollup_orders",
    "q57_running_total", "q60_image_mosaic_native_grid", "q61_chip_augment",
    "q62_tiff_enrich_zonal", "q63_overview_serve", "q64_band_index",
    "q65_temporal_median", "q66_pixel_series", "q67_overview_pixels",
    "q68_label_masks", "q69_gap_fill", "q70_class_stats",
    "q71_focal_filters", "q72_change_detect", "q73_temporal_trend",
    "q74_terrain", "q75_chip_stats", "q76_build_overviews",
    "q77_spatial_stats", "q78_qa_mask", "q79_stretch",
    "q80_chip_histogram", "q81_train_split", "q82_cog_export",
    "q83_shard_export", "q84_image_caption_shards", "q85_global_band_stats",
]


def main() -> None:
    from rasteret_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(
        app="rasteret-spark-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    # fingerprint the WHOLE encode path (generator + writers + codecs) into
    # the cache key: a format/codec change must regenerate, never silently
    # bench stale blobs
    from rasteret_spark.sources.synthetic import generator_fingerprint

    _fp = generator_fingerprint()
    images_path = f"/tmp/rsbench_images_{N_IMAGES}_{_fp}"
    t0 = time.time()
    ensure_images(spark, N_IMAGES, images_path)
    gen_s = time.time() - t0

    # build plans OUTSIDE the timed region (driver-side input construction is
    # not pipeline throughput), then warm the python workers with a small
    # slice so steady-state throughput is what gets measured
    zonal_df = headline_pipeline(spark, images_path)
    sample_df = sample_pipeline(spark, images_path)
    enrich_df = enrich_pipeline(spark, images_path)
    warm_path = f"/tmp/rsbench_images_{N_IMAGES}_{_fp}_warm"
    ensure_images(spark, 64, warm_path)
    headline_pipeline(spark, warm_path).count()
    sample_pipeline(spark, warm_path).count()

    # min-of-3 by default: this host sees ~10-min co-tenant load bursts (see
    # BENCH/scaling_runs.jsonl loadavg history); two reps can BOTH land in a
    # burst, three rarely do, and min-of-N reports steady-state throughput.
    # The contention guard (shared with scripts/bench_sf1.py, see
    # benchguard.py) measures EXTERNAL cpu per rep — a rep with more than
    # BENCH_EXT_CORES_MAX external cores busy is recorded but does not count
    # toward the quota, up to BENCH_MAX_REPEATS tries, so a burst
    # mid-battery earns extra quiet reps instead of poisoning the artifact
    # (the r3 headline record was exactly that failure mode).
    import benchguard

    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    # ext_max=2: the r4 official record showed reps at exactly 4.0 external
    # cores passing a ==4 threshold — tighten so the official artifact only
    # counts genuinely quiet reps, and allow more retries to find them
    ext_max = float(os.environ.get("BENCH_EXT_CORES_MAX", "2"))
    max_repeats = int(os.environ.get("BENCH_MAX_REPEATS", str(repeats + 5)))
    rep_log: dict[str, list] = {}
    n_contended = 0

    def timed_min(action, label: str) -> tuple[float, object]:
        nonlocal n_contended
        best, result, contended = benchguard.timed_min(
            action, label, rep_log,
            repeats=repeats, ext_max=ext_max, max_repeats=max_repeats,
        )
        n_contended += contended
        return best, result

    enrich_s, _ = timed_min(
        lambda: enrich_df.write.format("noop").mode("overwrite").save(),
        "image_enrich_pipeline",
    )

    # headline: images/sec through enrich+join+decode+zonal
    zonal_s, zonal_rows = timed_min(zonal_df.count, "image_zonal_pipeline")
    images_per_sec = N_IMAGES / zonal_s

    sample_s, sample_rows = timed_min(sample_df.count, "image_sample_pipeline")

    queries: dict[str, float] = {
        "image_zonal_pipeline": round(zonal_s, 3),
        "image_sample_pipeline": round(sample_s, 3),
        "image_enrich_pipeline": round(enrich_s, 3),
    }
    if not PIPELINE_ONLY:
        qmap = E.queries()
        for name in BENCH_QUERIES:
            df = qmap[name](spark, SF_DIR)
            sec, _ = timed_min(
                lambda d=df: d.write.format("noop").mode("overwrite").save(), name
            )
            queries[name] = round(sec, 3)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    out = {
        "metric": "images/sec end-to-end (decode + cell join + tile assignment)",
        "value": round(images_per_sec, 2),
        "unit": "images/sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_images": N_IMAGES,
        "n_aois": N_AOIS,
        "cpus": CPUS,
        "zonal_rows": zonal_rows,
        "sample_rows": sample_rows,
        "gen_s": round(gen_s, 3),
        "zonal_wall_s": round(zonal_s, 3),
        # contention evidence: [wall_s, external_cores_busy] per rep per
        # label — lets a reader audit whether any recorded min landed in a
        # co-tenant burst (ext_cores > ext_max reps don't count toward the
        # rep quota; external = machine busy cpu minus this process tree)
        "ext_cores_max": ext_max,
        "contended_reps": n_contended,
        "reps": rep_log,
    }
    # self-contained record: the FULL artifact goes to a file (the r4
    # official record lost its tail to stdout truncation — "parsed": null);
    # stdout carries the same JSON minus the bulky per-rep log, with a
    # compact per-label [n_reps, n_contended] summary and a pointer to the
    # full evidence, printed last and flushed
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    try:
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "last_bench.json"), "w") as f:
            json.dump(out, f)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line still carries the summary
    line = dict(out)
    line["reps"] = {
        k: [len(v), sum(1 for wall_ext in v if wall_ext[1] > ext_max)]
        for k, v in rep_log.items()
    }
    line["reps_file"] = "BENCH/last_bench.json"
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
