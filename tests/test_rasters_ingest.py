"""Raster-file ingestion (binaryFile -> contract table) and the remote
(href-only) Collection mode."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.collection import Collection
from rasteret_spark.format import container
from rasteret_spark.format import tiffwrite as tw
from rasteret_spark.sources import rasters, synthetic as syn


@pytest.fixture()
def scene_dir(tmp_path):
    """A directory of real raster files: 3 GeoTIFF variants, 1 mini-raster,
    1 junk file."""
    rng = np.random.default_rng(9)
    made = {}
    specs = [
        ("scene_a", dict(tile=(32, 32), compression="deflate", predictor=2),
         "uint16", "<", False),
        ("scene_b", dict(rows_per_strip=20, compression="lzw", predictor=1),
         "uint8", ">", False),
        ("scene_c", dict(tile=(32, 32), compression="packbits", predictor=1),
         "int16", "<", True),
    ]
    for name, kw, dt, order, big in specs:
        if dt == "uint16":
            a = rng.integers(0, 60000, size=(70, 90)).astype(dt)
        elif dt == "uint8":
            a = rng.integers(0, 255, size=(64, 80)).astype(dt)
        else:
            a = rng.integers(-3000, 3000, size=(50, 60)).astype(dt)
        blob = tw.write_tiff(
            a, byte_order=order, bigtiff=big,
            pixel_scale=(0.001, 0.001), tiepoint=(13.3, 52.6), epsg=4326,
            **kw,
        )
        (tmp_path / f"{name}.tif").write_bytes(blob)
        made[name] = a
    mr_row = syn.make_image_row(3)
    (tmp_path / "scene_mr.tif").write_bytes(mr_row["bytes"])
    made["scene_mr"] = None
    (tmp_path / "junk.tif").write_bytes(b"this is not a raster at all")
    return str(tmp_path), made


def test_ingest_rasters_builds_contract_table(spark, scene_dir):
    d, made = scene_dir
    ingested = rasters.ingest_rasters(spark, f"{d}/*.tif")
    assert ingested.count() == 5
    junk = ingested.filter(F.col("image_id") == "junk").first()
    assert junk["ingest_status"] != "ok" and junk["phash"] is None
    # NOTE: toPandas over the full frame would land phash in float64 (the
    # quarantined row's null) and round the int64 — pull the ok subset
    ok = ingested.filter(F.col("ingest_status") == "ok").toPandas().set_index(
        "image_id"
    )
    assert ok["phash"].dtype == np.int64
    df = ok
    assert sorted(ok.index) == ["scene_a", "scene_b", "scene_c", "scene_mr"]
    for name, arr in made.items():
        if name == "junk" or arr is None:
            continue
        row = ok.loc[name]
        assert (row["h"], row["w"]) == arr.shape
        em = container.parse_any(bytes(row["bytes"]))
        assert em.epsg == row["epsg"] == 4326
        # footprint bbox derives from the raster transform
        assert row["xmin"] == pytest.approx(13.3, abs=1e-9)
        assert row["ymax"] == pytest.approx(52.6, abs=1e-9)
        # phash is the band-0 perceptual hash of the DECODED pixels
        assert int(row["phash"]) == syn.phash64(
            np.asarray(container.decode_full(bytes(row["bytes"]), band=0),
                       dtype=np.float64)
        )
    # contract: every operator-required column present
    for c in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash"):
        assert c in ingested.columns


def test_cli_ingest_command(spark, scene_dir, tmp_path):
    import io
    import json

    from rasteret_spark import cli

    d, _ = scene_dir
    ws = str(tmp_path / "ws")
    out = io.StringIO()
    rc = cli.main(
        ["collections", "ingest", f"{d}/*.tif", "scenes",
         "--workspace", ws, "--json"],
        spark=spark, out=out,
    )
    assert rc == 0
    summary = json.loads(out.getvalue())
    assert summary["records"] == 4  # junk skipped
    assert summary["skipped_files"] == 1
    back = Collection.from_parquet(spark, f"{ws}/scenes")
    assert back.count() == 4


def test_remote_collection_zonal_matches_materialized(spark, scene_dir, tmp_path):
    """from_hrefs(materialize=False): an href-only collection runs enrich +
    zonal through ranged file reads, row-equal to the fully materialized
    collection — on the checkpointed (resume_dir) path too."""
    d, _ = scene_dir
    ingested = rasters.ingest_rasters(spark, f"{d}/scene_*.tif").filter(
        F.col("ingest_status") == "ok"
    )
    meta_cols = [c for c in ingested.columns if c not in ("bytes", "path",
                                                          "ingest_status")]
    refs_pdf = ingested.select(*meta_cols, "path").toPandas()
    refs_pdf["href"] = "file://" + refs_pdf["path"].str.replace("file:", "", regex=False)
    refs = spark.createDataFrame(refs_pdf.drop(columns=["path"]))

    aois = spark.createDataFrame(syn.aois_table(25).to_pandas()).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )
    local = Collection(spark, ingested.drop("path", "ingest_status"))
    remote = Collection.from_hrefs(spark, refs, materialize=False)

    key = ["image_id", "aoi_id", "band"]
    a = local.zonal(aois).toPandas().sort_values(key).reset_index(drop=True)
    b = remote.zonal(aois).toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    if len(a):
        for col in ("px_count", "valid_count", "v_sum", "status"):
            pd.testing.assert_series_equal(a[col], b[col], check_names=False)

    # checkpointed path: same rows as the direct remote path
    r = remote.zonal(aois, resume_dir=str(tmp_path / "zonal_ckpt")).toPandas()
    r = r.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(r, b[r.columns])

    # pre-enriched remote: meta travels, zonal skips header reads
    enriched = remote.enrich()
    assert "meta" in enriched.records.columns
    stats = enriched.records.select("enrich_status").toPandas()
    assert (stats["enrich_status"] == "ok").all()
    c = enriched.zonal(aois).toPandas().sort_values(key).reset_index(drop=True)
    assert len(c) == len(a)


def test_remote_collection_chips_match_materialized(spark, scene_dir):
    """Mosaic and chip stacks over an href-only collection
    (``from_hrefs(materialize=False)``) read through ranged fetches and
    equal the materialized collection's rows."""
    d, _ = scene_dir
    ingested = rasters.ingest_rasters(spark, f"{d}/scene_*.tif").filter(
        F.col("ingest_status") == "ok"
    )
    meta_cols = [c for c in ingested.columns if c not in ("bytes", "path",
                                                          "ingest_status")]
    refs_pdf = ingested.select(*meta_cols, "path").toPandas()
    refs_pdf["href"] = "file://" + refs_pdf["path"].str.replace("file:", "", regex=False)
    refs = spark.createDataFrame(refs_pdf.drop(columns=["path"]))
    local = Collection(spark, ingested.drop("path", "ingest_status"))
    remote = Collection.from_hrefs(spark, refs, materialize=False)
    assert "bytes" not in remote.records.columns

    bbox = (13.3, 52.54, 13.38, 52.6)
    for call, key in (
        (lambda c: c.mosaic(bbox, 16, 0.002), ["chip_id", "band"]),
        (lambda c: c.chips(bbox, 16, 0.002), ["chip_id", "t_index", "band"]),
    ):
        a = call(local).toPandas().sort_values(key).reset_index(drop=True)
        b = call(remote).toPandas().sort_values(key).reset_index(drop=True)
        assert len(a) > 0 and (a["filled"] > 0).any(), "no pixels — fixture drift"
        assert (a["status"] == "ok").all()
        pd.testing.assert_frame_equal(a, b)


def test_chunky_rgb_tiff_ingests(spark, tmp_path):
    """Interleaved RGB (PlanarConfiguration=1) — the most common real-world
    TIFF layout — must ingest, not quarantine (metadata at TIFF fidelity,
    phash from channel 0)."""
    rng = np.random.default_rng(4)
    arr = rng.integers(0, 255, size=(48, 56, 3)).astype(np.uint8)
    blob = tw.write_tiff(arr, interleaved=True, tile=(32, 32),
                         compression="lzw", predictor=2,
                         pixel_scale=(0.01, 0.01), tiepoint=(7.0, 46.0),
                         epsg=4326)
    (tmp_path / "rgb.tif").write_bytes(blob)
    row = rasters.ingest_rasters(spark, f"{tmp_path}/rgb.tif").first()
    assert row["ingest_status"] == "ok"
    assert (row["w"], row["h"], row["n_bands"]) == (56, 48, 3)
    assert row["epsg"] == 4326
    assert int(row["phash"]) == syn.phash64(arr[:, :, 0].astype(np.float64))
    # interleaved sources NORMALIZE to planar at ingest: the stored blob is
    # engine-decodable by every operator, channel-for-channel identical
    em = container.parse_any(bytes(row["bytes"]))
    assert em.n_bands == 3
    for b in range(3):
        got = container.decode_full(bytes(row["bytes"]), band=b)
        assert np.array_equal(np.asarray(got, dtype=np.uint8), arr[:, :, b])
    assert em.transform[0] == pytest.approx(0.01) and em.epsg == 4326


def test_ranged_reader_snapshot_travels_with_plan(spark, tmp_path, monkeypatch):
    """A custom ranged scheme registered on the driver must reach executors
    through the plan's snapshot — and deregistration after build must not
    break the already-built plan."""
    from rasteret_spark.operators.enrich import enrich_headers_remote
    from rasteret_spark.sources import fetch as fx

    row = syn.make_image_row(1)
    p = tmp_path / "img.bin"
    p.write_bytes(row["bytes"])

    def fake_factory(url):
        path = url.split("://", 1)[1]

        def read(offset, size):
            with open(path, "rb") as f:
                f.seek(offset)
                return f.read(size)

        return read

    with monkeypatch.context() as m:
        m.setitem(fx._RANGED_READERS, "fakefs", fake_factory)
        df = spark.createDataFrame([(f"fakefs://{p}",)], ["href"])
        plan = enrich_headers_remote(df)  # snapshot captured here
    assert "fakefs" not in fx._RANGED_READERS
    got = plan.collect()[0]
    assert got["enrich_status"] == "ok"
    assert got["meta"]["width"] == row["w"]


def test_ranged_blob_retries_transient_errors():
    from rasteret_spark.sources import fetch as fx

    calls = {"n": 0}

    def flaky_factory(url):
        def read(offset, size):
            calls["n"] += 1
            if calls["n"] <= 2:
                raise fx.TransientFetchError("burst")
            return b"x" * size

        return read

    blob = fx.RangedBlob("flaky://x", {"flaky": flaky_factory},
                         attempts=4, base_delay=0.0, sleep=lambda s: None)
    assert blob[0:5] == b"xxxxx"
    assert calls["n"] == 3  # two transient failures recovered

    def gone_factory(url):
        def read(offset, size):
            calls["n"] += 1
            raise FileNotFoundError("404")

        return read

    calls["n"] = 0
    blob = fx.RangedBlob("gone://x", {"gone": gone_factory},
                         attempts=4, base_delay=0.0, sleep=lambda s: None)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        blob[0:5]
    assert calls["n"] == 1  # permanent: no retry latency


def test_remote_point_sampling_matches_materialized(spark, scene_dir, tmp_path):
    """sample_points over an href-only collection (ranged window reads)
    equals the bytes path value-for-value — on the checkpointed
    (resume_dir) path too."""
    from rasteret_spark.sources import synthetic as syn2

    d, _ = scene_dir
    ingested = rasters.ingest_rasters(spark, f"{d}/scene_*.tif").filter(
        F.col("ingest_status") == "ok"
    )
    meta_cols = [c for c in ingested.columns if c not in ("bytes", "path",
                                                          "ingest_status")]
    refs_pdf = ingested.select(*meta_cols, "path").toPandas()
    refs_pdf["href"] = "file://" + refs_pdf["path"].str.replace(
        "file:", "", regex=False)
    refs = spark.createDataFrame(refs_pdf.drop(columns=["path"]))

    pts = spark.createDataFrame(syn2.points_table(600).to_pandas())
    local = Collection(spark, ingested.drop("path", "ingest_status"))
    remote = Collection.from_hrefs(spark, refs, materialize=False)
    key = ["point_index", "image_id", "band"]
    a = local.sample_points(pts, max_ring=2).toPandas().sort_values(key)
    b = remote.sample_points(pts, max_ring=2).toPandas().sort_values(key)
    a, b = a.reset_index(drop=True), b.reset_index(drop=True)
    assert len(a) == len(b) > 0, "no sampled points — fixture drift"
    for col in ("value", "status"):
        pd.testing.assert_series_equal(a[col], b[col], check_names=False)

    # checkpointed path: same rows as the direct remote path
    r = remote.sample_points(pts, max_ring=2, resume_dir=str(tmp_path / "sample_ckpt"))
    r = r.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(r, b[r.columns])

    # per-point temporal drill reads the same pixels through ranged fetches
    key = ["point_index", "band"]
    sa = local.pixel_series(pts).toPandas().sort_values(key).reset_index(drop=True)
    sb = remote.pixel_series(pts).toPandas().sort_values(key).reset_index(drop=True)
    assert len(sa) > 0
    pd.testing.assert_frame_equal(sa, sb)
