"""Stage-1 end-to-end: enrichment -> cell-cover join -> window decode -> zonal.

Every Spark result is pinned against an independent single-process numpy
oracle (full-image decode, brute-force pair enumeration) — the same
differential-oracle strategy the reference uses against rasterio
(`/root/reference/src/rasteret/tests/test_dataset_pixel_comparison.py`).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasteret_spark import geom
from rasteret_spark.format import miniraster as mr
from rasteret_spark.operators import decode, enrich, spatial_join as sj


def test_enrich_headers_matches_local_parse(images_df, images_pdf):
    got = (
        enrich.enrich_headers(images_df)
        .select("image_id", "meta.*")
        .toPandas()
        .set_index("image_id")
        .sort_index()
    )
    assert len(got) == len(images_pdf)
    for _, row in images_pdf.iterrows():
        blob = bytes(row["bytes"])
        want = mr.parse_header(blob[: mr.header_len_from_prefix(blob[:8])])
        g = got.loc[row["image_id"]]
        assert int(g["width"]) == want.width and int(g["height"]) == want.height
        assert list(g["transform"]) == list(want.transform)
        assert int(g["epsg"]) == want.epsg
        assert list(g["tile_offsets"]) == [int(v) for v in want.tile_offsets]
        assert (
            g["nodata"] is None or not pd.notna(g["nodata"])
            if want.nodata is None
            else float(g["nodata"]) == want.nodata
        )


def test_multiband_zonal_matches_per_band_oracle(spark, images_pdf, aois_pdf):
    """bands=(0,1,2): one stats row per (pair, available band), each pinned
    bit-exact against the full-decode oracle of THAT band."""
    multi = images_pdf[images_pdf["n_bands"] > 1]
    assert len(multi) > 0, "fixture must contain multi-band images"
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]]
        .rename(columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]})
    )
    images = spark.createDataFrame(images_pdf[["image_id", "bytes", "caption"]])
    aoi = spark.createDataFrame(
        aois_pdf.rename(
            columns={
                **{c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]},
                "geometry": "aoi_geometry",
            }
        )
    )
    refined = (
        sj.refine_rect_polygon(sj.bbox_join(img_light, aoi, res=7))
        .filter(F.col("intersects"))
        .select("image_id", "aoi_id", "aoi_geometry",
                "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax")
    )
    got = decode.zonal_stats(refined, images, bands=(0, 1, 2)).toPandas()
    n_bands_of = dict(zip(images_pdf["image_id"], images_pdf["n_bands"]))
    # row fan-out = number of AVAILABLE requested bands per image
    pair_rows = got.groupby(["image_id", "aoi_id"]).size()
    for (iid, _), cnt in pair_rows.items():
        assert cnt == min(3, n_bands_of[iid])
    by_img = {r["image_id"]: r for _, r in images_pdf.iterrows()}
    by_aoi = {r["aoi_id"]: r for _, r in aois_pdf.iterrows()}
    checked_multi = 0
    for row in got.itertuples(index=False):
        im, ao = by_img[row.image_id], by_aoi[row.aoi_id]
        want = decode.zonal_oracle_row(
            {"image_id": im["image_id"], "bytes": bytes(im["bytes"])},
            {"aoi_id": ao["aoi_id"], "geometry": bytes(ao["geometry"])},
            band=row.band,
        )
        assert int(row.px_count) == want["px_count"]
        assert int(row.valid_count) == want["valid_count"]
        if want["v_sum"] is not None:
            np.testing.assert_allclose(row.v_sum, want["v_sum"], rtol=1e-9)
        checked_multi += int(row.band > 0)
    assert checked_multi > 0, "must exercise bands beyond band 0"


def test_psnr_gate(images_df):
    got = decode.psnr_check(images_df).toPandas()
    lossless = got[got["lossless"]]
    assert lossless["exact"].all(), "lossless formats must decode bit-exact"
    lossy = got[~got["lossless"]]
    assert len(lossy) > 0
    assert (lossy["psnr_db"] >= 40.0).all(), "lossy decode must hold PSNR >= 40 dB"


def _bbox_pairs_bruteforce(images_pdf, aois_pdf):
    pairs = set()
    for _, im in images_pdf.iterrows():
        for _, ao in aois_pdf.iterrows():
            if (
                im["xmax"] >= ao["xmin"]
                and im["xmin"] <= ao["xmax"]
                and im["ymax"] >= ao["ymin"]
                and im["ymin"] <= ao["ymax"]
            ):
                pairs.add((im["image_id"], ao["aoi_id"]))
    return pairs


@pytest.mark.parametrize("res,salts", [(6, 0), (8, 0), (8, 4)])
def test_bbox_join_matches_bruteforce(spark, images_pdf, aois_pdf, res, salts):
    img = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]]
        .rename(columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]})
    )
    aoi = spark.createDataFrame(
        aois_pdf[["aoi_id", "xmin", "ymin", "xmax", "ymax"]]
        .rename(columns={c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]})
    )
    got = sj.bbox_join(img, aoi, res=res, salts=salts).select("image_id", "aoi_id").toPandas()
    got_pairs = set(map(tuple, got.itertuples(index=False)))
    assert len(got) == len(got_pairs), "canonical-cell rule must emit each pair once"
    assert got_pairs == _bbox_pairs_bruteforce(images_pdf, aois_pdf)


def test_point_in_bbox_join_matches_bruteforce(spark, images_pdf, points_pdf):
    img = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]]
        .rename(columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]})
    )
    pts = spark.createDataFrame(points_pdf)
    got = (
        sj.point_in_bbox_join(pts, img, res=8)
        .select("point_index", "image_id")
        .toPandas()
    )
    got_pairs = set(map(tuple, got.itertuples(index=False)))
    want = set()
    for _, p in points_pdf.iterrows():
        for _, im in images_pdf.iterrows():
            if im["xmin"] <= p["x"] <= im["xmax"] and im["ymin"] <= p["y"] <= im["ymax"]:
                want.add((p["point_index"], im["image_id"]))
    assert got_pairs == want
    assert len(got) == len(got_pairs)


def test_zonal_stats_matches_oracle(spark, images_pdf, aois_pdf):
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]]
        .rename(columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]})
    )
    images = spark.createDataFrame(images_pdf[["image_id", "bytes", "caption"]])
    aoi = spark.createDataFrame(
        aois_pdf.rename(
            columns={
                **{c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]},
                "geometry": "aoi_geometry",
            }
        )
    )
    cands = sj.bbox_join(img_light, aoi, res=7)
    refined = (
        sj.refine_rect_polygon(cands)
        .filter(F.col("intersects"))
        .select("image_id", "aoi_id", "aoi_geometry",
                "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax")
    )
    got = decode.zonal_stats(refined, images).toPandas()

    # oracle: brute-force pairs, exact rect-poly intersect, full decode + mask
    recs = []
    for _, im in images_pdf.iterrows():
        for _, ao in aois_pdf.iterrows():
            if not (
                im["xmax"] >= ao["xmin"]
                and im["xmin"] <= ao["xmax"]
                and im["ymax"] >= ao["ymin"]
                and im["ymin"] <= ao["ymax"]
            ):
                continue
            if not geom.rect_intersects_polygon(
                im["xmin"], im["ymin"], im["xmax"], im["ymax"], bytes(ao["geometry"])
            ):
                continue
            recs.append(
                decode.zonal_oracle_row(
                    {"image_id": im["image_id"], "bytes": bytes(im["bytes"])},
                    {"aoi_id": ao["aoi_id"], "geometry": bytes(ao["geometry"])},
                )
            )
    want = pd.DataFrame(recs)
    assert len(got) == len(want), (len(got), len(want))
    gk = got.set_index(["image_id", "aoi_id"]).sort_index()
    wk = want.set_index(["image_id", "aoi_id"]).sort_index()
    assert list(gk.index) == list(wk.index)
    for col in ["px_count", "valid_count"]:
        assert (gk[col].to_numpy() == wk[col].to_numpy()).all(), col
    for col in ["v_sum", "v_mean", "v_min", "v_max"]:
        a = gk[col].to_numpy(dtype=float)
        b = wk[col].to_numpy(dtype=float)
        mask = ~np.isnan(b)
        np.testing.assert_allclose(a[mask], b[mask], rtol=1e-9)
        assert np.isnan(a[~mask]).all()
