"""R12 per-row decode error containment: corrupt blobs must yield quarantine
rows with a status column — never task/stage failures.  Mirrors the
reference's per-record failure collection
(`/root/reference/src/rasteret/core/execution.py:274-297`,
`core/raster_accessor.py:1183-1313`)."""

import numpy as np
import pandas as pd
import pytest

from rasteret_spark.format import miniraster as mr
from rasteret_spark.operators import decode, raster_mosaic as rmo, sampling


def _corrupt_blob() -> bytes:
    """Valid magic + plausible header_len, garbage after — parse fails."""
    return b"MRST" + np.uint32(200).tobytes() + b"\x02" + b"\x99" * 300


@pytest.fixture(scope="module")
def mixed_images(images_pdf):
    """One healthy image + one corrupt blob under the same schema."""
    healthy = images_pdf.iloc[[0]].copy()
    bad = healthy.copy()
    bad["image_id"] = "img-corrupt"
    bad["bytes"] = [bytearray(_corrupt_blob())]
    # newest-first composite order must actually VISIT the corrupt blob
    # (else the healthy image fills the canvas and early-exit skips it)
    bad["datetime"] = bad["datetime"] + pd.Timedelta(days=1)
    return pd.concat([healthy, bad], ignore_index=True)


def _aoi_for(im) -> dict:
    from rasteret_spark import geom

    xmin, ymin = float(im["xmin"]), float(im["ymin"])
    xmax, ymax = float(im["xmax"]), float(im["ymax"])
    ring = np.array(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]]
    )
    return {
        "aoi_id": f"aoi-{im['image_id']}",
        "aoi_geometry": bytearray(geom.wkb_polygon([ring])),
        "aoi_xmin": xmin, "aoi_ymin": ymin, "aoi_xmax": xmax, "aoi_ymax": ymax,
    }


def test_zonal_quarantines_corrupt_blob(spark, mixed_images):
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [{"image_id": im["image_id"], **_aoi_for(im)} for _, im in mixed_images.iterrows()]
        )
    )
    images = spark.createDataFrame(mixed_images[["image_id", "bytes", "caption"]])
    got = decode.zonal_stats(pairs, images, bands=(0,)).toPandas()
    ok = got[got["image_id"] != "img-corrupt"]
    bad = got[got["image_id"] == "img-corrupt"]
    assert len(ok) == 1 and (ok["status"] == "ok").all()
    assert ok.iloc[0]["px_count"] > 0  # healthy output fully intact
    assert len(bad) == 1  # one status row per planned (aoi, band) unit
    assert bad.iloc[0]["status"] != "ok" and "Error" in bad.iloc[0]["status"]
    assert bad.iloc[0]["valid_count"] == 0 and pd.isna(bad.iloc[0]["v_mean"])


def test_zonal_partial_band_failure_one_row_per_band(spark):
    """Band 1's tiles are corrupt, band 0's decode: the AOI keeps band 0's
    ok row and gets one status row for band 1 — no band appears twice."""
    arr = np.arange(2 * 32 * 32, dtype=np.uint16).reshape(2, 32, 32)
    transform = (0.01, 0.0, 10.0, 0.0, -0.01, 50.0)
    blob = bytearray(
        mr.encode_image(arr, tile_w=16, tile_h=16, transform=transform, epsg=4326)
    )
    meta = mr.parse_header(bytes(blob))
    for t in range(meta.tiles_per_band, 2 * meta.tiles_per_band):  # band 1
        off, cnt = int(meta.tile_offsets[t]), int(meta.tile_byte_counts[t])
        blob[off : off + cnt] = b"\x99" * cnt
    im = {"image_id": "img-2band", "xmin": 10.05, "ymin": 49.75, "xmax": 10.25, "ymax": 49.95}
    pairs = spark.createDataFrame(pd.DataFrame([{"image_id": "img-2band", **_aoi_for(im)}]))
    images = spark.createDataFrame(
        pd.DataFrame({"image_id": ["img-2band"], "bytes": [blob], "caption": [""]})
    )
    got = decode.zonal_stats(pairs, images, bands=(0, 1)).toPandas().sort_values("band")
    assert list(got["band"]) == [0, 1]
    ok, bad = got.iloc[0], got.iloc[1]
    assert ok["status"] == "ok" and ok["px_count"] > 0 and ok["valid_count"] > 0
    assert bad["status"] != "ok" and "Error" in bad["status"]
    assert bad["valid_count"] == 0 and pd.isna(bad["v_mean"])


def test_sampling_quarantines_corrupt_blob(spark, mixed_images):
    cands = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_index": [0, 1],
                "x": [(float(im["xmin"]) + float(im["xmax"])) / 2 for _, im in mixed_images.iterrows()],
                "y": [(float(im["ymin"]) + float(im["ymax"])) / 2 for _, im in mixed_images.iterrows()],
                "image_id": list(mixed_images["image_id"]),
            }
        )
    )
    images = spark.createDataFrame(mixed_images[["image_id", "bytes"]])
    got = sampling.sample_points(cands, images, max_ring=2).toPandas()
    ok = got[got["image_id"] != "img-corrupt"]
    bad = got[got["image_id"] == "img-corrupt"]
    assert len(ok) == 1 and (ok["status"] == "ok").all() and ok.iloc[0]["in_bounds"]
    assert len(bad) == 1, "one quarantine row per candidate point"
    assert bad.iloc[0]["status"] != "ok"
    assert not bad.iloc[0]["valid"] and pd.isna(bad.iloc[0]["value"])


def test_sampling_quarantine_carries_neighborhood_null(spark, mixed_images):
    bad_only = mixed_images[mixed_images["image_id"] == "img-corrupt"]
    cands = spark.createDataFrame(
        pd.DataFrame(
            {"point_index": [0], "x": [float(bad_only.iloc[0]["xmin"])],
             "y": [float(bad_only.iloc[0]["ymin"])], "image_id": ["img-corrupt"]}
        )
    )
    images = spark.createDataFrame(bad_only[["image_id", "bytes"]])
    got = sampling.sample_points(cands, images, neighborhood=3).toPandas()
    assert len(got) == 1 and got.iloc[0]["status"] != "ok"
    assert got.iloc[0]["neighborhood"] is None


def _chip_pairs_pdf(mixed_images) -> pd.DataFrame:
    im = mixed_images.iloc[0]
    chip = {
        "chip_id": "chip-q",
        "chip_xmin": float(im["xmin"]),
        "chip_ymax": float(im["ymax"]),
        "chip_xres": (float(im["xmax"]) - float(im["xmin"])) / 16,
        "chip_yres": (float(im["ymax"]) - float(im["ymin"])) / 16,
        "chip_w": 16,
        "chip_h": 16,
    }
    rows = []
    for _, r in mixed_images.iterrows():
        rows.append(
            {**chip, "image_id": r["image_id"], "datetime": r["datetime"],
             "bytes": r["bytes"]}
        )
    return pd.DataFrame(rows)


def test_mosaic_skips_corrupt_image_and_reports(spark, mixed_images, images_pdf):
    pairs = spark.createDataFrame(_chip_pairs_pdf(mixed_images))
    got = rmo.first_valid_mosaic_pixels(pairs, bands=(0,)).toPandas()
    assert len(got) == 1
    row = got.iloc[0]
    assert row["n_failed"] == 1 and row["status"].startswith("partial:")
    assert row["n_contributing"] >= 1 and row["filled"] > 0  # healthy image composited
    # healthy-only run yields identical pixels (corrupt image contributes nothing)
    healthy_pairs = spark.createDataFrame(
        _chip_pairs_pdf(mixed_images[mixed_images["image_id"] != "img-corrupt"])
    )
    want = rmo.first_valid_mosaic_pixels(healthy_pairs, bands=(0,)).toPandas().iloc[0]
    assert want["status"] == "ok" and want["n_failed"] == 0
    assert list(row["values"]) == list(want["values"])


def test_chip_stack_quarantines_time_step_keeps_axis(spark, mixed_images):
    pairs = spark.createDataFrame(_chip_pairs_pdf(mixed_images))
    got = rmo.chip_stack_pixels(pairs, bands=(0,)).toPandas()
    assert set(got["image_id"]) == set(mixed_images["image_id"])
    bad = got[got["image_id"] == "img-corrupt"].iloc[0]
    ok = got[got["image_id"] != "img-corrupt"].iloc[0]
    assert bad["status"] != "ok" and bad["filled"] == 0 and bad["values"] is None
    assert ok["status"] == "ok" and ok["filled"] > 0
    # the corrupt step keeps its t slot: indices stay dense and time-ordered
    assert sorted(got["t_index"]) == list(range(len(got)))


def test_grid_georef_round_trips_pixel_coords(spark, mixed_images):
    """R10: mosaic rows are self-describing — pixel lon/lat reconstruct from
    the row's own grid columns and land inside the queried chip extent."""
    pairs = spark.createDataFrame(
        _chip_pairs_pdf(mixed_images[mixed_images["image_id"] != "img-corrupt"])
    )
    row = rmo.first_valid_mosaic_pixels(pairs, bands=(0,)).toPandas().iloc[0]
    assert row["grid_epsg"] == 4326
    w, h = int(row["chip_w"]), int(row["chip_h"])
    assert len(row["values"]) == w * h
    lon0 = row["chip_xmin"] + 0.5 * row["chip_xres"]
    lon_last = row["chip_xmin"] + (w - 0.5) * row["chip_xres"]
    lat0 = row["chip_ymax"] - 0.5 * row["chip_yres"]
    lat_last = row["chip_ymax"] - (h - 0.5) * row["chip_yres"]
    assert row["chip_xmin"] < lon0 < lon_last < row["chip_xmin"] + w * row["chip_xres"]
    assert row["chip_ymax"] > lat0 > lat_last > row["chip_ymax"] - h * row["chip_yres"]


def test_enrich_nulls_corrupt_meta_and_zonal_quarantines_it(spark, images_pdf, aois_pdf):
    """One corrupt blob in an enriched table gets a null ``meta`` instead of
    failing the job; the zonal join over the enriched table gives the raw
    table's healthy rows plus that image's status rows."""
    from rasteret_spark.operators import enrich

    pdf = images_pdf.head(20).copy()
    aois = aois_pdf.rename(
        columns={
            **{c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]},
            "geometry": "aoi_geometry",
        }
    )
    # corrupt an image whose footprint meets an AOI, so the join visits it
    row = next(
        i for i, r in enumerate(pdf.itertuples())
        if ((aois.aoi_xmin <= r.xmax) & (aois.aoi_xmax >= r.xmin)
            & (aois.aoi_ymin <= r.ymax) & (aois.aoi_ymax >= r.ymin)).any()
    )
    bad_id = pdf.iloc[row]["image_id"]
    pdf.iat[row, pdf.columns.get_loc("bytes")] = bytearray(b"not a raster " * 8)
    raw = spark.createDataFrame(pdf)
    enriched = enrich.enrich_headers(raw)
    metas = {r.image_id: r.meta for r in enriched.select("image_id", "meta").collect()}
    assert metas[bad_id] is None
    assert sum(m is not None for m in metas.values()) == len(pdf) - 1

    key = ["image_id", "aoi_id", "band"]
    aois_df = spark.createDataFrame(aois)
    a = decode.zonal_join(raw, aois_df).toPandas().sort_values(key).reset_index(drop=True)
    b = decode.zonal_join(enriched, aois_df).toPandas().sort_values(key).reset_index(drop=True)
    bad = b[b["image_id"] == bad_id]
    assert len(bad) > 0 and (bad["status"] != "ok").all()
    assert (b[b["image_id"] != bad_id]["status"] == "ok").any()
    pd.testing.assert_frame_equal(a, b)
