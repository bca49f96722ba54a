"""Checkpointed end-to-end pipelines: the flagship flows under the lineage
runner, resumable at partition granularity (north-rule requirement).

``resumable_zonal`` buckets the stored image table by image_id hash, runs
``decode.zonal_join`` (cell join -> refine -> decode -> zonal) per remaining
bucket, and commits per-partition outputs + log rows through
``lineage.checkpointed_run`` — a killed job re-processes only unlogged
buckets, and re-processing a bucket is idempotent (dynamic partition
overwrite).  ``resumable_sample`` does the same around
``sampling.sample_join``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rasteret_spark.operators import decode, sampling
from rasteret_spark.plans import lineage


def resumable_zonal(
    spark: SparkSession,
    images: DataFrame,
    aois: DataFrame,
    out_dir: str,
    res: int = 7,
    n_parts: int = 32,
) -> DataFrame:
    """images: the stored image table, as ``decode.zonal_join`` takes it;
    aois: (aoi_id, aoi_geometry, aoi_xmin..ymax).  Returns the full zonal
    output (band 0), computing only buckets missing from the checkpoint
    log."""

    return lineage.checkpointed_run(
        spark, images, lambda bucket: decode.zonal_join(bucket, aois, res=res),
        out_dir, key_col="image_id",
        stage="zonal", n_parts=n_parts, params={"res": res},
    )


def resumable_sample(
    spark: SparkSession,
    images: DataFrame,
    points: DataFrame,
    out_dir: str,
    max_ring: int = 0,
    neighborhood: int = 0,
    res: int = 8,
    n_parts: int = 32,
) -> DataFrame:
    """Checkpointed point-sampling: the zonal pipeline's sibling for the
    R7 sampler path.  images: the stored image table, as
    ``sampling.sample_join`` takes it; points: (point_index, x, y).
    Buckets by image_id — a bucket's images candidate-join against ALL
    points (points are the small broadcastable side), sample, and commit;
    a killed job re-runs only unlogged buckets.  (No persist on
    points/aois: ``checkpointed_run`` invokes the transform in exactly one
    write job, so a cache would be pure overhead and would leak executor
    storage on the caller's DataFrame.)"""

    def transform(bucketed_images: DataFrame) -> DataFrame:
        return sampling.sample_join(
            bucketed_images, points, res=res, max_ring=max_ring, neighborhood=neighborhood
        )

    return lineage.checkpointed_run(
        spark, images, transform, out_dir, key_col="image_id",
        stage="sample", n_parts=n_parts,
        params={"max_ring": max_ring, "neighborhood": neighborhood, "res": res},
    )
