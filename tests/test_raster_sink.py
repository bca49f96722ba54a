"""COG export sink: mosaic pixel rows -> tiled+overviewed GeoTIFFs on disk,
round-tripped through the engine's OWN independent TIFF reader and the full
`ingest_rasters` pipeline (writer and reader share no layout logic — see
format/tiffwrite.py docstring — so a roundtrip match is two implementations
agreeing, not one cancelling its own bug)."""

import numpy as np
import pandas as pd
import pytest

from rasteret_spark.format import container
from rasteret_spark.format import tiff as tf
from rasteret_spark.operators import raster_mosaic as rmo
from rasteret_spark.operators import raster_sink as rsink


def _chips_pdf():
    rows = []
    for j in range(4):
        rows.append(
            {
                "chip_id": f"sink-{j:03d}",
                "chip_xmin": 13.36 + (j % 2) * 0.03,
                "chip_ymax": 52.54 - (j // 2) * 0.03,
                "chip_xres": 0.001,
                "chip_yres": 0.001,
                "chip_w": 40,
                "chip_h": 36,
            }
        )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def mosaic_pixels(spark, images_pdf):
    chips = spark.createDataFrame(_chips_pdf())
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    payload = spark.createDataFrame(images_pdf[["image_id", "datetime", "bytes"]])
    pairs = rmo.chip_candidates(chips, img_light, payload, res=7)
    px = rmo.first_valid_mosaic_pixels(pairs, bands=(0, 1))
    px.persist().count()
    return px


def test_write_cogs_roundtrip_bit_exact(spark, mosaic_pixels, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cogs"))
    man = rsink.write_cogs(mosaic_pixels, out).toPandas()
    truth = mosaic_pixels.toPandas()
    assert set(man["status"]) == {"ok"}
    assert len(man) == truth["chip_id"].nunique()
    for _, m in man.iterrows():
        blob = open(m["href"], "rb").read()
        assert len(blob) == m["n_bytes"]
        metas = tf.parse_tiff_chain(tf.blob_read(blob))
        assert len(metas) == 1 + m["n_overviews"]
        m0 = metas[0]
        # georeferencing survives: scale, tiepoint, CRS, nodata
        assert m0.pixel_scale[0] == pytest.approx(m["chip_xres"])
        assert m0.pixel_scale[1] == pytest.approx(m["chip_yres"])
        assert m0.tiepoint[3] == pytest.approx(m["chip_xmin"])
        assert m0.tiepoint[4] == pytest.approx(m["chip_ymax"])
        assert m0.epsg == m["epsg"] == 4326
        assert np.isnan(m0.nodata)
        assert m0.tile_w % 16 == 0 and m0.tile_h % 16 == 0
        chip_rows = truth[truth["chip_id"] == m["chip_id"]].sort_values("band")
        assert m["n_bands"] == len(chip_rows)
        for bi, (_, row) in enumerate(chip_rows.iterrows()):
            want = np.asarray(
                [np.nan if v is None else v for v in row["values"]], dtype="float64"
            ).reshape(row["chip_h"], row["chip_w"]).astype("float32")
            got = container.decode_full(blob, band=bi)
            assert got.dtype == np.float32
            assert np.array_equal(got, want, equal_nan=True)
        # overview levels are the writer-contract decimation of the full res
        full = container.decode_full(blob)
        for li in range(1, len(metas)):
            f = 2**li
            lvl = container.decode_full(blob, ifd=li)
            dec = full[::f, ::f] if full.ndim == 2 else full[:, ::f, ::f]
            assert np.array_equal(lvl, dec, equal_nan=True)


def test_write_cogs_is_idempotent_and_deterministic(spark, mosaic_pixels, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cogs_idem"))
    a = rsink.write_cogs(mosaic_pixels, out).toPandas().sort_values("chip_id")
    b = rsink.write_cogs(mosaic_pixels, out).toPandas().sort_values("chip_id")
    assert list(a["sha256"]) == list(b["sha256"])
    assert list(a["n_bytes"]) == list(b["n_bytes"])


def test_write_cogs_reingests_through_the_engine(spark, mosaic_pixels, tmp_path_factory):
    from rasteret_spark.sources.rasters import ingest_rasters

    out = str(tmp_path_factory.mktemp("cogs_ingest"))
    man = rsink.write_cogs(mosaic_pixels, out).toPandas()
    ing = ingest_rasters(spark, out + "/*.tif").toPandas()
    assert len(ing) == len(man)
    assert set(ing["ingest_status"]) == {"ok"}
    # lonlat footprints: grid is 4326 so corners are the chip bbox itself
    by_id = {m["chip_id"]: m for _, m in man.iterrows()}
    for _, r in ing.iterrows():
        chip_id = r["path"].rsplit("/", 1)[1].removesuffix(".tif")
        m = by_id[chip_id]
        assert r["xmin"] == pytest.approx(m["chip_xmin"], abs=1e-9)
        assert r["ymax"] == pytest.approx(m["chip_ymax"], abs=1e-9)
        assert r["xmax"] == pytest.approx(
            m["chip_xmin"] + m["width"] * m["chip_xres"], abs=1e-9
        )
        assert r["ymin"] == pytest.approx(
            m["chip_ymax"] - m["height"] * m["chip_yres"], abs=1e-9
        )


def test_write_cogs_quarantines_malformed_chip(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cogs_bad"))
    good_vals = [float(i % 7) for i in range(32 * 32)]
    pdf = pd.DataFrame(
        [
            {"chip_id": "ok-1", "band": 0, "values": good_vals,
             "chip_xmin": 0.0, "chip_ymax": 1.0, "chip_xres": 0.001,
             "chip_yres": 0.001, "chip_w": 32, "chip_h": 32, "grid_epsg": 4326},
            {"chip_id": "bad-1", "band": 0, "values": [1.0, 2.0],  # wrong size
             "chip_xmin": 0.0, "chip_ymax": 1.0, "chip_xres": 0.001,
             "chip_yres": 0.001, "chip_w": 32, "chip_h": 32, "grid_epsg": 4326},
        ]
    )
    man = rsink.write_cogs(spark.createDataFrame(pdf), out).toPandas()
    st = dict(zip(man["chip_id"], man["status"]))
    assert st["ok-1"] == "ok"
    assert st["bad-1"].startswith("error:")
    import os

    assert os.path.exists(out + "/ok-1.tif")
    assert not os.path.exists(out + "/bad-1.tif")


def test_write_cogs_snapshots_the_writer_registry(
    spark, mosaic_pixels, tmp_path_factory, monkeypatch
):
    """A writer registered AFTER the plan is built must not alter it —
    the sink captures dict(_WRITERS) at build time."""
    from rasteret_spark.sources import fetch as fx

    out = str(tmp_path_factory.mktemp("cogs_snap"))
    plan = rsink.write_cogs(mosaic_pixels, out)  # snapshot taken here

    def boom(url, data):
        raise RuntimeError("post-build registration must not be seen")

    monkeypatch.setitem(fx._WRITERS, "file", boom)
    man = plan.toPandas()
    assert set(man["status"]) == {"ok"}


def test_write_cogs_integer_dtype_fills_nodata(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cogs_u16"))
    vals = [None if i % 5 == 0 else float(i % 300) for i in range(32 * 32)]
    pdf = pd.DataFrame(
        [{"chip_id": "u16-1", "band": 0, "values": vals,
          "chip_xmin": 5.0, "chip_ymax": 6.0, "chip_xres": 0.01,
          "chip_yres": 0.01, "chip_w": 32, "chip_h": 32, "grid_epsg": 4326}]
    )
    man = rsink.write_cogs(
        spark.createDataFrame(pdf), out, dtype="uint16", nodata=0, compression="lzw"
    ).toPandas()
    assert man.iloc[0]["status"] == "ok"
    blob = open(man.iloc[0]["href"], "rb").read()
    got = container.decode_full(blob)
    assert got.dtype == np.uint16
    want = np.asarray([0 if v is None else int(v) for v in vals], dtype="uint16")
    assert np.array_equal(got.ravel(), want)
    assert tf.parse_tiff_bytes(blob).nodata == 0.0

    with pytest.raises(ValueError, match="finite nodata"):
        rsink.write_cogs(spark.createDataFrame(pdf), out, dtype="uint16")
