"""Edge cases: cached-meta decode path, empty inputs, lossy-nodata behavior."""

import pandas as pd
from pyspark.sql import functions as F

from rasteret_spark.operators import decode, enrich, sampling, spatial_join as sj


def test_zonal_with_cached_meta_equals_reparse(spark, images_pdf, aois_pdf):
    """zonal_stats consuming the enrichment meta struct must produce exactly
    the same rows as the header-reparse path."""
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    images = spark.createDataFrame(images_pdf[["image_id", "bytes", "caption"]])
    enriched = enrich.enrich_headers(images)
    aoi = spark.createDataFrame(
        aois_pdf.rename(
            columns={
                **{c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]},
                "geometry": "aoi_geometry",
            }
        )
    )
    pairs = (
        sj.refine_rect_polygon(sj.bbox_join(img_light, aoi, res=7))
        .filter(F.col("intersects"))
        .select("image_id", "aoi_id", "aoi_geometry",
                "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax")
    )
    a = decode.zonal_stats(pairs, images).toPandas()
    b = decode.zonal_stats(pairs, enriched).toPandas()
    key = ["image_id", "aoi_id"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_empty_candidates_through_sampling_and_zonal(spark, images_pdf):
    images = spark.createDataFrame(images_pdf[["image_id", "bytes", "caption"]])
    empty_cands = spark.createDataFrame(
        [], "point_index bigint, x double, y double, image_id string"
    )
    assert sampling.sample_points(empty_cands, images, max_ring=2).count() == 0
    empty_pairs = spark.createDataFrame(
        [],
        "image_id string, aoi_id string, aoi_geometry binary, "
        "aoi_xmin double, aoi_ymin double, aoi_xmax double, aoi_ymax double",
    )
    assert decode.zonal_stats(empty_pairs, images).count() == 0


def test_long_header_enriches_to_null_meta_and_still_decodes(spark, images_pdf, aois_pdf):
    """A header longer than enrich's speculative prefix (here a raster
    re-encoded in 4x4 tiles: a 40+ KB tile table) gives a null ``meta``
    instead of failing the job, and the zonal join reads that row's header
    from the blob: enriched and raw tables give identical rows."""
    import numpy as np

    from rasteret_spark.format import container, miniraster as mr

    pdf = images_pdf.head(20).copy()
    # re-encode an image whose footprint meets an AOI's, so it decodes
    row = next(
        i for i, r in enumerate(pdf.itertuples())
        if ((aois_pdf.xmin <= r.xmax) & (aois_pdf.xmax >= r.xmin)
            & (aois_pdf.ymin <= r.ymax) & (aois_pdf.ymax >= r.ymin)).any()
    )
    long_id = pdf.iloc[row]["image_id"]
    blob = bytes(pdf.iloc[row]["bytes"])
    meta = mr.parse_header(blob[: mr.header_len_from_prefix(blob[:64])])
    pixels = np.stack([container.decode_full(blob, band=b) for b in range(meta.n_bands)])
    long_blob = mr.encode_image(
        pixels, tile_w=4, tile_h=4, transform=tuple(meta.transform),
        epsg=meta.epsg, nodata=meta.nodata,
    )
    assert mr.header_len_from_prefix(long_blob[:64]) > enrich.HEADER_PREFIX
    pdf.iat[row, pdf.columns.get_loc("bytes")] = long_blob
    raw = spark.createDataFrame(pdf)
    enriched = enrich.enrich_headers(raw)
    metas = {r.image_id: r.meta for r in enriched.select("image_id", "meta").collect()}
    assert metas[long_id] is None
    assert sum(m is not None for m in metas.values()) == len(pdf) - 1

    aois = spark.createDataFrame(
        aois_pdf.rename(
            columns={
                **{c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]},
                "geometry": "aoi_geometry",
            }
        )
    )
    key = ["image_id", "aoi_id", "band"]
    a = decode.zonal_join(raw, aois).toPandas().sort_values(key).reset_index(drop=True)
    b = decode.zonal_join(enriched, aois).toPandas().sort_values(key).reset_index(drop=True)
    assert (a[a["image_id"] == long_id]["status"] == "ok").any()
    pd.testing.assert_frame_equal(a, b)
