"""Real tiled/stripped (Geo)TIFF + BigTIFF container.

Three oracle layers, none sharing logic with the parser:
  1. the reference's OWN fixtures (`/root/reference/fixtures`), pinned to the
     structural facts the reference's tests assert (dims, tile grid, codec,
     predictor, dtype — `tests/test_cog_reader.py:580-880`) plus
     cross-fixture pixel identities (LE vs BE BigTIFF; fp16 predictor 2 vs 3
     hold the same array);
  2. a round-trip matrix against the engine's own INDEPENDENT writer
     (`format/tiffwrite.py` composes IFDs; the parser walks them);
  3. end-to-end Spark: the same enrichment/zonal pipeline that runs on
     mini-raster blobs runs unchanged on TIFF blobs, checked bit-exact
     against direct numpy decodes.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.format import codecs, container, miniraster as mr, tiff
from rasteret_spark.format import tiffwrite as tw
from rasteret_spark.sources import fetch as fx

FIX = "/root/reference/fixtures"
pytestmark_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIX), reason="reference fixtures not present"
)


# --- fixture layer -----------------------------------------------------------
@pytestmark_fixtures
class TestReferenceFixtures:
    def test_tiled_oversize_lzw_i8_pred2(self):
        """512x512 tile in a 499x374 image: oversized tile, LZW, predictor 2
        (structure pinned by the reference's own test)."""
        m = tiff.parse_tiff(fx.ranged_reader(f"{FIX}/tiled-oversize-gray-i8.tif"))
        assert (m.width, m.height) == (499, 374)
        assert (m.tile_w, m.tile_h) == (512, 512) and m.tiled
        assert m.compression == 5 and m.predictor == 2
        assert m.dtype_name == "int8"
        a = container.decode_full(fx.RangedBlob(f"{FIX}/tiled-oversize-gray-i8.tif"))
        assert a.shape == (374, 499) and a.dtype == np.int8
        assert a.min() == -128 and a.max() == 127  # full-range content

    def test_issue69_lzw_uint16_stripped(self):
        m = tiff.parse_tiff(fx.ranged_reader(f"{FIX}/issue_69_lzw.tiff"))
        assert m.compression == 5 and m.dtype_name == "uint16" and not m.tiled
        a = container.decode_full(fx.RangedBlob(f"{FIX}/issue_69_lzw.tiff"))
        assert a.shape == (45, 45)
        # plausible-raster regression pin (first decode audited by hand)
        assert (int(a.min()), int(a.max())) == (430, 598)
        assert abs(float(a.mean()) - 501.47) < 0.01

    def test_predictor3_float32_stripped(self):
        """Float predictor over LZW strips: the content is uniform noise, so
        any predictor/codec slip destroys the [0, 1] distribution."""
        m = tiff.parse_tiff(fx.ranged_reader(f"{FIX}/predictor-3-gray-f32.tif"))
        assert m.predictor == 3 and m.dtype_name == "float32" and not m.tiled
        a = container.decode_full(fx.RangedBlob(f"{FIX}/predictor-3-gray-f32.tif"))
        assert a.shape == (200, 200) and a.dtype == np.float32
        assert 0.0 <= a.min() and a.max() <= 1.0
        assert abs(float(a.mean()) - 0.5) < 0.01
        assert not np.isnan(a).any()

    def test_fp16_pred2_equals_pred3(self):
        """The two fp16 fixtures hold the SAME array under different
        predictors — decoding both to bit-identical pixels checks each
        predictor against the other with zero shared code paths.  (Also
        pins the real-world pred2-on-float semantics: integer differencing
        of the raw bit patterns.)"""
        a2 = container.decode_full(fx.RangedBlob(f"{FIX}/random-fp16-pred2.tiff"))
        a3 = container.decode_full(fx.RangedBlob(f"{FIX}/random-fp16-pred3.tiff"))
        assert a2.dtype == np.float16 and a2.shape == (16, 16)
        assert not np.isnan(a2).any()
        assert np.array_equal(a2, a3)

    def test_bigtiff_both_endiannesses_decode_identically(self):
        """BigTIFF.tif / BigTIFFLong.tif / BigTIFFMotorola.tif are the same
        64x64 interleaved RGB image in II and MM spellings — a byte-order
        oracle the files provide for free."""
        le = container.decode_full(fx.RangedBlob(f"{FIX}/bigtiff/BigTIFF.tif"))
        lg = container.decode_full(fx.RangedBlob(f"{FIX}/bigtiff/BigTIFFLong.tif"))
        be = container.decode_full(fx.RangedBlob(f"{FIX}/bigtiff/BigTIFFMotorola.tif"))
        mm = tiff.parse_tiff(fx.ranged_reader(f"{FIX}/bigtiff/BigTIFFMotorola.tif"))
        assert mm.container == "bigtiff" and mm.byte_order == ">"
        assert le.shape == (64, 64, 3) and le.dtype == np.uint8
        assert np.array_equal(le, lg) and np.array_equal(le, be)

    def test_chunky_rgb_lzw_pred2(self):
        m = tiff.parse_tiff(fx.ranged_reader(f"{FIX}/tiled-rgb-u8.tif"))
        assert m.samples_per_pixel == 3 and m.planar_config == 1
        assert m.compression == 5 and m.predictor == 2
        a = container.decode_full(fx.RangedBlob(f"{FIX}/tiled-rgb-u8.tif"))
        assert a.shape == (499, 374, 3) and a.dtype == np.uint8
        # chunky layouts cannot lower into the planar engine meta
        with pytest.raises(ValueError, match="chunky"):
            tiff.to_engine_meta(m)

    def test_zstd_fixture_decodes(self):
        """The libtiff+libzstd-produced strip decodes through the
        from-scratch RFC 8878 decoder (format/zstd.py); stats pinned from
        two independent decoders agreeing (pure Python vs libzstd)."""
        m = tiff.parse_tiff(fx.ranged_reader(f"{FIX}/int16_zstd.tif"))
        assert m.compression == 50000 and m.dtype_name == "int16"
        a = container.decode_full(fx.RangedBlob(f"{FIX}/int16_zstd.tif"))
        assert a.shape == (64, 64) and a.dtype == np.int16
        assert int(a.min()) == -5000 and int(a.max()) == 4998
        assert a[0, :6].tolist() == [1071, 2253, 3381, -2149, 867, -506]
        assert abs(float(a.mean()) - 86.5224609375) < 1e-9

    def test_header_parse_cost_is_bounded(self):
        """Header-cache economics: parsing metadata must cost KBs of ranged
        reads regardless of file size (the reference's whole point)."""
        for name in ["tiled-rgb-u8.tif", "tiled-oversize-gray-i8.tif",
                     "bigtiff/BigTIFFMotorola.tif"]:
            m = tiff.parse_tiff(fx.ranged_reader(f"{FIX}/{name}"))
            size = os.path.getsize(f"{FIX}/{name}")
            assert m.header_bytes_read < 4096, (name, m.header_bytes_read)
            assert m.header_bytes_read < size


# --- round-trip matrix vs the independent writer -----------------------------
@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int8", "int16",
                                   "uint32", "int32", "float16", "float32",
                                   "float64"])
@pytest.mark.parametrize("comp", ["none", "deflate", "packbits", "lzw",
                                  "zstd"])
def test_roundtrip_matrix(dtype, comp):
    rng = np.random.default_rng(hash((dtype, comp)) % 2**31)
    preds = [1, 2, 3] if dtype.startswith("float") else [1, 2]
    for pred in preds:
        for order in ["<", ">"]:
            for bigtiff in [False, True]:
                for layout in ["tiled", "strips"]:
                    if dtype.startswith("float"):
                        a = rng.normal(size=(37, 53)).astype(dtype)
                    else:
                        info = np.iinfo(dtype)
                        a = rng.integers(info.min, info.max,
                                         size=(37, 53)).astype(dtype)
                    kw = dict(compression=comp, predictor=pred,
                              byte_order=order, bigtiff=bigtiff,
                              pixel_scale=(10.0, 10.0),
                              tiepoint=(500000.0, 4600000.0), epsg=32633)
                    if layout == "tiled":
                        kw["tile"] = (16, 16)
                    else:
                        kw["rows_per_strip"] = 10  # final strip short (37%10)
                    blob = tw.write_tiff(a, **kw)
                    m = tiff.parse_tiff_bytes(blob)
                    out = container.decode_full(blob)
                    assert np.array_equal(np.asarray(out, dtype=a.dtype), a), (
                        dtype, comp, pred, order, bigtiff, layout)
                    assert m.epsg == 32633
                    assert m.transform6() == (10.0, 0.0, 500000.0,
                                              0.0, -10.0, 4600000.0)


def test_roundtrip_planar_multiband_and_chunky():
    rng = np.random.default_rng(3)
    planar = rng.integers(0, 255, size=(3, 40, 33)).astype(np.uint8)
    blob = tw.write_tiff(planar, tile=(16, 16), compression="deflate",
                         predictor=2)
    m = tiff.parse_tiff_bytes(blob)
    assert m.planar_config == 2 and m.samples_per_pixel == 3
    em = tiff.to_engine_meta(m)
    assert em.n_bands == 3
    out = container.decode_full(blob)
    assert out.shape == (3, 40, 33)
    assert np.array_equal(out, planar)
    # single band extraction goes through the shared engine window reader
    b1 = container.decode_full(blob, band=1)
    assert np.array_equal(b1, planar[1])

    chunky = rng.integers(0, 255, size=(40, 33, 3)).astype(np.uint8)
    for pred in (1, 2):
        blob = tw.write_tiff(chunky, interleaved=True, tile=(16, 16),
                             compression="lzw", predictor=pred)
        out = container.decode_full(blob)
        assert np.array_equal(out, chunky), f"chunky pred={pred}"


def test_pixel_is_point_origin_shift():
    """A pixel-CENTER tiepoint with GTRasterType=PixelIsPoint must land on
    the same area-convention transform as the corner tiepoint (GDAL RFC 33;
    reference parity `src/rasteret/fetch/header_parser.py:533-545`)."""
    a = np.zeros((8, 8), dtype=np.uint8)
    corner = tw.write_tiff(a, tiepoint=(1000.0, 2000.0), pixel_scale=(10.0, 10.0),
                           epsg=32633)
    center = tw.write_tiff(a, tiepoint=(1005.0, 1995.0), pixel_scale=(10.0, 10.0),
                           epsg=32633, raster_type=2)
    t_corner = tiff.parse_tiff_bytes(corner).transform6()
    t_center = tiff.parse_tiff_bytes(center).transform6()
    assert t_corner == t_center == (10.0, 0.0, 1000.0, 0.0, -10.0, 2000.0)


def test_nodata_and_geokeys_roundtrip():
    a = np.zeros((8, 8), dtype=np.int16)
    blob = tw.write_tiff(a, nodata=-9999, epsg=4326, pixel_scale=(0.1, 0.1),
                         tiepoint=(10.0, 50.0))
    m = tiff.parse_tiff_bytes(blob)
    assert m.nodata == -9999.0
    assert m.epsg == 4326
    em = tiff.to_engine_meta(m)
    assert em.nodata == -9999.0 and em.epsg == 4326


def test_model_transformation_tag_is_honored():
    """ModelTransformationTag (34264) populates the affine (the reference
    pins the same behavior, `tests/test_header_parser_local.py:109-160`)."""
    meta = tiff.TiffMeta(
        container="tiff", byte_order="<", width=8, height=8, tile_w=8,
        tile_h=8, tiled=True, compression=1, predictor=1, bits_per_sample=8,
        sample_format=1, samples_per_pixel=1, planar_config=1,
        photometric=1, extra_samples=None,
        tile_offsets=np.array([0], dtype=np.uint64),
        tile_byte_counts=np.array([64], dtype=np.uint64),
        pixel_scale=None, tiepoint=None,
        model_transform=(10.0, 0.0, 0.0, 500000.0,
                         0.0, 10.0, 0.0, 1000000.0,
                         0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0),
        raster_type=1, epsg=0, nodata=None, header_bytes_read=0,
        header_extent=0,
    )
    # south-up is representable: e = +10 (y grows with row)
    assert meta.transform6() == (10.0, 0.0, 500000.0, 0.0, 10.0, 1000000.0)


def test_prefix_parse_raises_needbytes_past_end():
    a = np.arange(64 * 64, dtype=np.uint16).reshape(64, 64) % 1000
    blob = tw.write_tiff(a, tile=(32, 32), compression="deflate")
    with pytest.raises(tiff.NeedBytes):
        tiff.parse_tiff(tiff.blob_read(blob[:16]))
    m = tiff.parse_tiff(tiff.blob_read(blob[:4096]))  # COG-style front IFD
    assert m.width == 64
    # the one header parse raises it for both containers
    raster = mr.encode_image(a, tile_w=8, tile_h=8)
    for short in (blob[:16], raster[:6], raster[:200]):
        with pytest.raises(tiff.NeedBytes):
            container.parse_any(short)


def test_short_read_is_loud():
    a = np.zeros((8, 8), dtype=np.uint8)
    blob = tw.write_tiff(a)
    with pytest.raises(ValueError, match="short read"):
        tiff.parse_tiff(tiff.blob_read(blob[: len(blob) // 4]))


def test_window_reads_match_full_decode():
    """Engine-meta window reads (the zonal/sampling hot path) against the
    full decode, every container variant."""
    rng = np.random.default_rng(11)
    a = rng.integers(0, 60000, size=(150, 210)).astype(np.uint16)
    for order in ["<", ">"]:
        for layout_kw in [{"tile": (64, 64)}, {"rows_per_strip": 37}]:
            blob = tw.write_tiff(a, compression="deflate", predictor=2,
                                 byte_order=order, **layout_kw)
            em = container.parse_any(blob)
            assert em.container == "tiff" and em.byte_order == order
            win = mr.CachedReader(blob, em).window(33, 41, 99, 77)
            assert np.array_equal(np.asarray(win, dtype=a.dtype),
                                  a[41:118, 33:132])
            reader = mr.CachedReader(blob)  # parse via container dispatch
            win2 = reader.window(33, 41, 99, 77)
            assert np.array_equal(win, win2)


# --- Spark integration -------------------------------------------------------
def test_enrich_headers_dispatches_mixed_containers(spark):
    """One table holding mini-raster AND TIFF blobs enriches through the one
    UDF; per-row metadata must match the per-blob direct parse."""
    from rasteret_spark.operators.enrich import enrich_headers
    from rasteret_spark.sources import synthetic as syn

    mrst = syn.spark_images_df(spark, 6)
    tif = syn.spark_tiff_images_df(spark, 6)
    both = mrst.unionByName(tif)
    got = {
        r["image_id"]: r
        for r in enrich_headers(both).select(
            "image_id", "meta.container", "meta.byte_order", "meta.width",
            "meta.height", "meta.epsg", "meta.nodata", "meta.transform",
        ).collect()
    }
    assert len(got) == 12
    for pdf in [syn.images_table(6).to_pandas(),
                syn.tiff_images_table(6).to_pandas()]:
        for _, row in pdf.iterrows():
            em = container.parse_any(row["bytes"])
            g = got[row["image_id"]]
            assert g["width"] == em.width and g["height"] == em.height
            assert g["epsg"] == em.epsg
            assert g["container"] == em.container
            assert g["byte_order"] == em.byte_order
            assert np.allclose(g["transform"], list(em.transform))


def test_zonal_stats_on_tiff_blobs_bit_exact(spark):
    """The distributed zonal pipeline over TIFF-backed images equals the
    driver-side numpy oracle row-for-row (the reference's
    test_local_tiff_support layer, re-expressed over the Spark path)."""
    from rasteret_spark.operators import decode
    from rasteret_spark.operators import spatial_join as sj
    from rasteret_spark.sources import synthetic as syn

    images = syn.spark_tiff_images_df(spark, 24)
    img_light = images.select(
        "image_id",
        F.col("xmin").alias("img_xmin"), F.col("ymin").alias("img_ymin"),
        F.col("xmax").alias("img_xmax"), F.col("ymax").alias("img_ymax"),
    )
    aoi = spark.createDataFrame(syn.aois_table(30).to_pandas()).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )
    cands = sj.bbox_join(img_light, aoi, res=7)
    refined = sj.refine_rect_polygon(cands).filter(F.col("intersects")).select(
        "image_id", "aoi_id", "aoi_geometry",
        "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax",
    )
    got = decode.zonal_stats(
        refined, images.select("image_id", "bytes", "caption")
    ).filter(F.col("status") == "ok").toPandas()
    assert len(got) > 0, "no overlapping (image, aoi) pairs — fixture drift"

    ipdf = syn.tiff_images_table(24).to_pandas().set_index("image_id")
    apdf = syn.aois_table(30).to_pandas().set_index("aoi_id")
    for _, r in got.iterrows():
        want = decode.zonal_oracle_row(
            ipdf.loc[r["image_id"]].to_dict() | {"image_id": r["image_id"]},
            apdf.loc[r["aoi_id"]].to_dict() | {"aoi_id": r["aoi_id"]},
            band=int(r["band"]),
        )
        assert r["px_count"] == want["px_count"]
        assert r["valid_count"] == want["valid_count"]
        if want["v_sum"] is None:
            assert r["v_sum"] is None or pd.isna(r["v_sum"])
        else:
            assert r["v_sum"] == pytest.approx(want["v_sum"], rel=0, abs=0)


# --- COG overview pyramids ---------------------------------------------------
def test_overview_chain_parses_with_derived_georef():
    rng = np.random.default_rng(21)
    a = rng.integers(0, 255, size=(256, 320)).astype(np.uint8)
    blob = tw.write_tiff(a, tile=(64, 64), compression="deflate", predictor=2,
                         pixel_scale=(10.0, 10.0),
                         tiepoint=(500000.0, 4000000.0), epsg=32633,
                         nodata=0, overviews=[2, 4])
    metas = tiff.parse_tiff_chain(tiff.blob_read(blob))
    assert [(m.width, m.height) for m in metas] == [(320, 256), (160, 128),
                                                    (80, 64)]
    assert [m.subfile_type for m in metas] == [0, 1, 1]
    # overview georef derives from level 0: same origin, scaled pixel size
    assert metas[0].transform6() == (10.0, 0.0, 500000.0, 0.0, -10.0, 4000000.0)
    assert metas[1].transform6() == (20.0, 0.0, 500000.0, 0.0, -20.0, 4000000.0)
    assert metas[2].transform6() == (40.0, 0.0, 500000.0, 0.0, -40.0, 4000000.0)
    assert all(m.epsg == 32633 and m.nodata == 0.0 for m in metas)
    # the full-res decode is untouched by the pyramid's presence
    assert np.array_equal(container.decode_full(blob), a)
    # each overview lowers into the engine meta and decodes to the exact
    # nearest-neighbour decimation
    for m, f in [(metas[1], 2), (metas[2], 4)]:
        em = tiff.to_engine_meta(m)
        win = mr.CachedReader(blob, em).window(0, 0, m.width, m.height)
        assert np.array_equal(win, a[::f, ::f])


def test_pick_overview_never_overshoots():
    rng = np.random.default_rng(22)
    a = rng.integers(0, 255, size=(128, 128)).astype(np.uint8)
    blob = tw.write_tiff(a, tile=(32, 32), overviews=[2, 4])
    metas = tiff.parse_tiff_chain(tiff.blob_read(blob))
    assert tiff.pick_overview(metas, 0.5) == 0   # never upsample
    assert tiff.pick_overview(metas, 1.0) == 0
    assert tiff.pick_overview(metas, 2.0) == 1
    assert tiff.pick_overview(metas, 3.9) == 1   # 4 would overshoot
    assert tiff.pick_overview(metas, 4.0) == 2
    assert tiff.pick_overview(metas, 100.0) == 2  # coarsest available


def test_read_window_at_res_serves_from_overview():
    """COG zoom economics: a window requested at 1/4 resolution is served
    from the factor-4 overview (bit-exact vs decimating full res) and reads
    a fraction of the bytes."""
    rng = np.random.default_rng(23)
    a = rng.integers(0, 60000, size=(512, 512)).astype(np.uint16)
    blob = tw.write_tiff(a, tile=(64, 64), compression="deflate", predictor=2,
                         overviews=[2, 4])

    class CountingBlob:
        def __init__(self, blob):
            self.blob, self.n = blob, 0

        def __getitem__(self, sl):
            self.n += sl.stop - sl.start
            return self.blob[sl]

    metas = tiff.parse_tiff_chain(tiff.blob_read(blob))
    r_full = CountingBlob(blob)
    w_full, li = tiff.read_window_at_res(r_full, 64, 64, 256, 256,
                                         factor=1.0, metas=metas)
    assert li == 0 and np.array_equal(w_full, a[64:320, 64:320])
    r_ov = CountingBlob(blob)
    w_ov, li = tiff.read_window_at_res(r_ov, 64, 64, 256, 256,
                                       factor=4.0, metas=metas)
    assert li == 2
    assert np.array_equal(np.asarray(w_ov, dtype=a.dtype), a[64:320:4, 64:320:4])
    # tile granularity bounds the win at this scale (the 64x64 overview
    # window still spans whole tiles): assert a strict byte reduction
    assert r_ov.n <= r_full.n / 4, (r_ov.n, r_full.n)


def test_overviews_on_bigtiff_be_and_planar():
    rng = np.random.default_rng(24)
    planar = rng.integers(0, 255, size=(2, 96, 96)).astype(np.uint8)
    blob = tw.write_tiff(planar, tile=(32, 32), compression="lzw",
                         byte_order=">", bigtiff=True, overviews=[2])
    metas = tiff.parse_tiff_chain(tiff.blob_read(blob))
    assert len(metas) == 2 and metas[0].container == "bigtiff"
    em1 = tiff.to_engine_meta(metas[1])
    assert em1.n_bands == 2
    for b in range(2):
        win = mr.CachedReader(blob, em1).window(0, 0, 48, 48, band=b)
        assert np.array_equal(np.asarray(win, dtype=np.uint8),
                              planar[b, ::2, ::2])


def test_q63_overview_serve_invariants(spark):
    """The q63 driver query: every pyramid-bearing image serves its coarse
    window from a real overview level at a fraction of the bytes; stripped
    (single-IFD) images fall back to full resolution."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    pdf = E.q63_overview_serve(spark, "unused").toPandas()
    assert (pdf["status"] == "ok").all()
    pyr = pdf[pdf["n_levels"] > 1]
    flat = pdf[pdf["n_levels"] == 1]
    assert len(pyr) > 0 and len(flat) > 0
    assert (pyr["level_ov"] > 0).all()
    assert (pyr["level_full"] == 0).all()
    assert (pyr["bytes_ov"] < pyr["bytes_full"] / 2).all()
    assert (pyr["win_px_ov"] * 4 <= pyr["win_px_full"]).all()
    assert (flat["level_ov"] == 0).all()


def test_nodata_propagates_to_overviews_without_georef():
    """nodata masking must be consistent across zoom levels even for plain
    (non-georeferenced) pyramids."""
    a = np.full((64, 64), 7, dtype=np.int16)
    a[:16, :16] = -9999
    blob = tw.write_tiff(a, tile=(32, 32), nodata=-9999, overviews=[2])
    metas = tiff.parse_tiff_chain(tiff.blob_read(blob))
    assert metas[0].nodata == -9999.0
    assert metas[1].nodata == -9999.0  # derived, no geo tags needed
    # chain parse is ONE walk: level 1 jumped straight to its known offset
    assert metas[1].header_bytes_read < metas[0].header_bytes_read * 2
