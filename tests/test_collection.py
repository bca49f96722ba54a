"""Collection facade: the reference's flagship API surface end-to-end —
each method must delegate to the distributed operators and agree with
calling them directly."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.collection import Collection


@pytest.fixture(scope="module")
def coll(spark, images_df):
    return Collection(spark, images_df)


def _aois_df(spark, aois_pdf):
    return spark.createDataFrame(aois_pdf).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )


def test_introspection_and_subset(coll, images_pdf):
    d = coll.describe()
    assert d["records"] == len(images_pdf)
    assert d["bands"] == int(images_pdf["n_bands"].max())
    xmin, ymin, xmax, ymax = d["bounds"]
    assert xmin == images_pdf["xmin"].min() and ymax == images_pdf["ymax"].max()
    assert set(d["epsg"]) == set(int(e) for e in images_pdf["epsg"].unique())
    # bbox subset keeps exactly the overlapping records
    im = images_pdf.iloc[0]
    bbox = (im["xmin"], im["ymin"], im["xmax"], im["ymax"])
    sub = coll.subset(bbox=bbox)
    want = images_pdf[
        (images_pdf["xmin"] <= bbox[2]) & (images_pdf["xmax"] >= bbox[0])
        & (images_pdf["ymin"] <= bbox[3]) & (images_pdf["ymax"] >= bbox[1])
    ]
    assert sub.count() == len(want)
    # date subset + where() compose
    t0 = images_pdf["datetime"].quantile(0.5)
    n_both = coll.subset(date_range=(None, t0)).where("n_bands >= 2").count()
    want2 = images_pdf[(images_pdf["datetime"] <= t0) & (images_pdf["n_bands"] >= 2)]
    assert n_both == len(want2)
    assert len(coll.head(3)) == 3


def test_zonal_matches_direct_operator(spark, coll, aois_pdf, images_df):
    from rasteret_spark.operators import decode, spatial_join as sj

    aois = _aois_df(spark, aois_pdf)
    got = coll.zonal(aois, bands=(0,)).toPandas()
    # direct composition (the facade must add nothing and lose nothing)
    img_light = images_df.select(
        "image_id",
        F.col("xmin").alias("img_xmin"), F.col("ymin").alias("img_ymin"),
        F.col("xmax").alias("img_xmax"), F.col("ymax").alias("img_ymax"),
    )
    pairs = (
        sj.refine_rect_polygon(sj.bbox_join(img_light, aois))
        .filter(F.col("intersects"))
        .select("image_id", "aoi_id", "aoi_geometry",
                "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax")
    )
    want = decode.zonal_stats(
        pairs, images_df.select("image_id", "bytes", "caption"), bands=(0,)
    ).toPandas()
    key = ["image_id", "aoi_id", "band"]
    got, want = got.sort_values(key).reset_index(drop=True), want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def test_sample_points_runs_and_flags_validity(spark, coll, points_pdf):
    pts = spark.createDataFrame(points_pdf)
    got = coll.sample_points(pts, bands=(0,), max_ring=2).toPandas()
    assert len(got) > 0
    assert (got["status"] == "ok").all()
    assert got["valid"].any()


def test_mosaic_and_chip_batches(spark, coll, images_pdf):
    im = images_pdf.iloc[0]
    bbox = (
        float(im["xmin"]), float(im["ymin"]),
        float(im["xmin"]) + 0.02, float(im["ymin"]) + 0.02,
    )
    mos = coll.mosaic(bbox, size=16, xres=0.00125, bands=(0,)).toPandas()
    assert len(mos) >= 1 and (mos["status"] == "ok").all()
    assert (mos["filled"] > 0).any()
    batches = list(
        coll.chip_batches(batch_size=4, bbox=bbox, size=16, xres=0.00125, bands=(0,))
    )
    tensors = [t for b in batches for (t, _) in b]
    assert tensors and all(t.ndim == 4 and t.shape[2:] == (16, 16) for t in tensors)
    assert any(np.isfinite(t).any() for t in tensors)


def test_export_roundtrip(tmp_path, spark, coll):
    out = str(tmp_path / "cat")
    coll.export(out)
    back = Collection.from_parquet(spark, out)
    assert back.count() == coll.count()
    assert back.bounds() == coll.bounds()


def test_zonal_resume_dir_kill_and_resume_identical(
    spark, coll, aois_pdf, images_pdf, tmp_path
):
    """Facade resume path: a job killed after some buckets resumes through
    Collection.zonal(resume_dir=...) to the exact single-shot result —
    the flagship API exposes the north-rule resume protocol."""
    from rasteret_spark.plans import lineage

    aois = _aois_df(spark, aois_pdf)
    ref = coll.zonal(aois, resume_dir=str(tmp_path / "ref")).toPandas()

    # killed-job simulation: first run sees only half the image buckets
    out = str(tmp_path / "ckpt")
    part = F.pmod(F.xxhash64(F.col("image_id")), F.lit(32))
    partial = Collection(spark, coll.records.filter(part < 16))
    partial.zonal(aois, resume_dir=out)
    n_done = len(lineage.completed_parts(spark, out, "zonal"))
    # completion is over buckets PRESENT in the input (empty hash buckets
    # never appear); 60 images over 32 buckets occupy most but not all
    occupied = coll.records.select(part.alias("p")).distinct().count()
    assert 0 < n_done < occupied

    resumed = coll.zonal(aois, resume_dir=out).toPandas()
    assert len(lineage.completed_parts(spark, out, "zonal")) == occupied
    key = ["image_id", "aoi_id"]
    a = ref.sort_values(key).reset_index(drop=True)
    b = resumed.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns], check_like=True)
    # and the resumable result agrees with the direct (non-checkpointed) path
    direct = coll.zonal(aois, bands=(0,)).toPandas().sort_values(key)
    assert len(direct) == len(a)
    np.testing.assert_allclose(
        a["v_mean"].to_numpy(float), direct["v_mean"].to_numpy(float)
    )

    with pytest.raises(ValueError, match="band 0"):
        coll.zonal(aois, bands=(0, 1), resume_dir=str(tmp_path / "x"))


def test_sample_points_resume_dir_facade(spark, coll, points_pdf, tmp_path):
    pts = spark.createDataFrame(points_pdf[["point_index", "x", "y"]])
    got = coll.sample_points(pts, resume_dir=str(tmp_path / "ck")).toPandas()
    direct = coll.sample_points(pts).toPandas()
    key = ["point_index", "image_id", "band"]
    a = got.sort_values(key).reset_index(drop=True)
    b = direct.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    np.testing.assert_array_equal(
        a["value"].to_numpy(float), b["value"].to_numpy(float)
    )
    with pytest.raises(ValueError, match="band 0"):
        coll.sample_points(pts, bands=(0, 1), resume_dir=str(tmp_path / "x"))


def test_describe_result_renders_and_maps(coll, images_pdf):
    """describe() is a Mapping (dict-compatible for the CLI's **d) AND a
    rich renderable (terminal table + notebook HTML), computed in one
    aggregation pass — the reference's display surface
    (`src/rasteret/core/display.py:153-246`), Spark-first."""
    d = coll.describe()
    # Mapping protocol: dict(d), **d, membership
    as_dict = dict(d)
    assert as_dict["records"] == len(images_pdf)
    assert {**d}["bands"] == int(images_pdf["n_bands"].max())
    assert "bounds" in d and len(d) >= 4
    assert d.data == as_dict
    # date range comes from the same single pass
    assert d["dates"][0] <= d["dates"][1]
    # terminal rendering: aligned table with every property present
    text = repr(d)
    assert "Property" in text and "records" in text and "EPSG:" in text
    # notebook rendering: valid-ish HTML with escaped content and both
    # mime types offered through the display protocol
    html = d._repr_html_()
    assert html.startswith("<div") and "<table" in html
    bundle = d._repr_mimebundle_()
    assert set(bundle) == {"text/plain", "text/html"}


def test_describe_empty_collection(spark, coll):
    from rasteret_spark.collection import Collection

    empty = Collection(spark, coll.records.filter("1=0"))
    d = empty.describe()
    assert d["records"] == 0 and d["bounds"] is None
    assert "dates" not in d
    assert "(empty)" not in repr(d)  # still renders the table scaffold


def test_band_index_matches_manual_composition(spark, coll, images_pdf):
    """Facade NDVI: Collection.band_index == mosaic + normalized_difference
    composed by hand, and the stats agree with numpy over the arrays."""
    from rasteret_spark.operators import band_math as bm

    # anchor on a 2-band image so band 1 has coverage inside the bbox
    im = images_pdf[images_pdf["n_bands"] >= 2].iloc[0]
    bbox = (
        float(im["xmin"]), float(im["ymin"]),
        float(im["xmin"]) + 0.02, float(im["ymin"]) + 0.02,
    )
    got = coll.band_index(bbox, size=16, xres=0.00125, band_a=1, band_b=0)
    gp = got.toPandas().sort_values("chip_id").reset_index(drop=True)
    manual = bm.normalized_difference(
        coll.mosaic(bbox, size=16, xres=0.00125, bands=(0, 1)), 1, 0
    ).toPandas().sort_values("chip_id").reset_index(drop=True)
    assert list(gp["chip_id"]) == list(manual["chip_id"]) and len(gp) >= 1

    def _nulls(arr):  # toPandas renders array nulls as None OR NaN
        return [x is None or x != x for x in arr]

    for g, m in zip(gp["nd"], manual["nd"]):
        assert _nulls(g) == _nulls(m)
    any_filled = False
    for _, row in gp.iterrows():
        vals = [v for v in row["nd"] if v is not None and v == v]
        if vals:
            any_filled = True
            assert abs(row["nd_mean"] - float(np.mean(vals))) < 1e-9
    assert any_filled
    ratio = coll.band_index(bbox, size=16, xres=0.00125, band_a=1, band_b=0,
                            kind="ratio")
    assert "ratio" in ratio.columns
    with pytest.raises(ValueError, match="unknown index kind"):
        coll.band_index(bbox, size=16, xres=0.00125, band_a=1, band_b=0,
                        kind="huh")


def test_composite_facade_matches_manual(spark, coll, images_pdf):
    """Collection.composite == chips + temporal_composite composed by hand,
    and the median row agrees with numpy over the stack rows."""
    from rasteret_spark.operators import band_math as bm

    im = images_pdf[images_pdf["n_bands"] >= 2].iloc[0]
    bbox = (
        float(im["xmin"]), float(im["ymin"]),
        float(im["xmin"]) + 0.02, float(im["ymin"]) + 0.02,
    )
    got = coll.composite(bbox, size=16, xres=0.00125, stat="median",
                         bands=(0,)).toPandas()
    manual = bm.temporal_composite(
        coll.chips(bbox, size=16, xres=0.00125, bands=(0,)), stat="median"
    ).toPandas()
    key = ["chip_id", "band"]
    got = got.sort_values(key).reset_index(drop=True)
    manual = manual.sort_values(key).reset_index(drop=True)
    assert list(got["chip_id"]) == list(manual["chip_id"]) and len(got) >= 1
    assert (got["n_t"] == manual["n_t"]).all()
    checked = False
    for g, m in zip(got["composite"], manual["composite"]):
        ga = np.asarray([np.nan if v is None else v for v in g], dtype=float)
        ma = np.asarray([np.nan if v is None else v for v in m], dtype=float)
        np.testing.assert_allclose(ga, ma, atol=0, equal_nan=True)
        checked = checked or np.isfinite(ga).any()
    assert checked


def test_focal_facade_matches_manual(spark, coll, images_pdf):
    """Collection.focal == mosaic + focal_stats composed by hand."""
    from rasteret_spark.operators import focal as fo

    im = images_pdf[images_pdf["n_bands"] >= 1].iloc[0]
    bbox = (
        float(im["xmin"]), float(im["ymin"]),
        float(im["xmin"]) + 0.02, float(im["ymin"]) + 0.02,
    )
    got = coll.focal(bbox, size=16, xres=0.00125, stat="mean",
                     radius=1).toPandas().sort_values(
                         ["chip_id", "band"]).reset_index(drop=True)
    manual = fo.focal_stats(
        coll.mosaic(bbox, size=16, xres=0.00125, bands=(0,)), "mean", 1
    ).toPandas().sort_values(["chip_id", "band"]).reset_index(drop=True)
    assert list(got["chip_id"]) == list(manual["chip_id"]) and len(got) >= 1
    checked = False
    for g, m in zip(got["focal_mean"], manual["focal_mean"]):
        ga = np.asarray([np.nan if v is None else v for v in g], dtype=float)
        ma = np.asarray([np.nan if v is None else v for v in m], dtype=float)
        np.testing.assert_allclose(ga, ma, atol=0, equal_nan=True)
        checked = checked or np.isfinite(ga).any()
    assert checked


def test_change_trend_terrain_facades_match_manual(spark, coll, images_pdf):
    """Collection.change / .trend / .terrain == the operator composed by
    hand over the same chips/mosaic rows."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import focal as fo

    im = images_pdf[images_pdf["n_bands"] >= 1].iloc[0]
    bbox = (
        float(im["xmin"]), float(im["ymin"]),
        float(im["xmin"]) + 0.02, float(im["ymin"]) + 0.02,
    )
    kw = dict(size=16, xres=0.00125, bands=(0,))
    split = str(images_pdf["datetime"].median())

    def _key(df):
        return df.toPandas().sort_values(
            ["chip_id", "band"]).reset_index(drop=True)

    got = _key(coll.change(bbox, split_ts=split, threshold=10.0, **kw))
    manual = _key(bm.change_detect(
        coll.chips(bbox, **kw), split, threshold=10.0))
    assert len(got) >= 1 and list(got["chip_id"]) == list(manual["chip_id"])
    assert (got["delta_valid"] == manual["delta_valid"]).all()
    assert (got["delta_changed"] == manual["delta_changed"]).all()

    got_t = _key(coll.trend(bbox, **kw))
    manual_t = _key(bm.temporal_trend(coll.chips(bbox, **kw)))
    assert list(got_t["n_t"]) == list(manual_t["n_t"])
    for g, m in zip(got_t["slope"], manual_t["slope"]):
        ga = np.asarray([np.nan if v is None else v for v in g], dtype=float)
        ma = np.asarray([np.nan if v is None else v for v in m], dtype=float)
        np.testing.assert_allclose(ga, ma, atol=0, equal_nan=True)

    got_r = _key(coll.terrain(bbox, outs=("dzdx", "slope"), **kw))
    manual_r = _key(fo.terrain(
        coll.mosaic(bbox, size=16, xres=0.00125, bands=(0,)),
        outs=("dzdx", "slope"),
    ))
    assert list(got_r.columns) == list(manual_r.columns)
    checked = False
    for g, m in zip(got_r["slope"], manual_r["slope"]):
        ga = np.asarray([np.nan if v is None else v for v in g], dtype=float)
        ma = np.asarray([np.nan if v is None else v for v in m], dtype=float)
        np.testing.assert_allclose(ga, ma, atol=0, equal_nan=True)
        checked = checked or np.isfinite(ga).any()
    assert checked


def test_training_prep_facades_match_manual(spark, coll, images_pdf):
    """Collection.qa_mask / .normalize / .histogram / .train_split == the
    operator composed by hand over the same mosaic rows."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import splits as sp

    im = images_pdf[images_pdf["n_bands"] >= 2].iloc[0]
    bbox = (
        float(im["xmin"]), float(im["ymin"]),
        float(im["xmin"]) + 0.02, float(im["ymin"]) + 0.02,
    )

    def _key(df):
        keys = [k for k in ("chip_id", "band") if k in df.columns]
        return df.toPandas().sort_values(keys).reset_index(drop=True)

    got = _key(coll.qa_mask(bbox, size=16, xres=0.00125, bit=1))
    manual = _key(bm.qa_mask(
        coll.mosaic(bbox, size=16, xres=0.00125, bands=(0, 1)), bit=1))
    assert len(got) >= 1 and list(got["chip_id"]) == list(manual["chip_id"])
    assert (got["qa_flagged"] == manual["qa_flagged"]).all()
    assert (got["kept_px"] == manual["kept_px"]).all()

    got_s = _key(coll.normalize(bbox, size=16, xres=0.00125, bands=(0,)))
    manual_s = _key(bm.stretch(
        coll.mosaic(bbox, size=16, xres=0.00125, bands=(0,))))
    assert (got_s["clip_lo_px"] == manual_s["clip_lo_px"]).all()
    checked = False
    for g, m in zip(got_s["stretched"], manual_s["stretched"]):
        ga = np.asarray([np.nan if v is None else v for v in g], dtype=float)
        ma = np.asarray([np.nan if v is None else v for v in m], dtype=float)
        np.testing.assert_allclose(ga, ma, atol=0, equal_nan=True)
        checked = checked or np.isfinite(ga).any()
    assert checked

    got_h = _key(coll.histogram(
        bbox, size=16, xres=0.00125, lo=0.0, hi=4000.0, n_bins=4))
    manual_h = _key(bm.chip_histogram(
        coll.mosaic(bbox, size=16, xres=0.00125, bands=(0,)),
        lo=0.0, hi=4000.0, n_bins=4))
    for k in range(4):
        assert (got_h[f"h{k}"] == manual_h[f"h{k}"]).all()

    base = coll.mosaic(bbox, size=16, xres=0.00125, bands=(0,))
    got_sp = _key(coll.train_split(base))
    manual_sp = _key(sp.assign_split(base))
    assert list(got_sp["split"]) == list(manual_sp["split"])


def test_pixel_series_matches_flat_samples(spark, coll, points_pdf, images_pdf):
    """pixel_series == the flat per-(point,image) samples folded by hand:
    same observation sets, chronological order, exact means."""
    pts = spark.createDataFrame(points_pdf[["point_index", "x", "y"]])
    got = coll.pixel_series(pts, bands=(0,)).toPandas()
    assert len(got) > 0

    # manual fold from the flat surface
    from rasteret_spark.operators import sampling, spatial_join as sj

    cands = sj.point_in_bbox_join(pts, sj.image_light(coll.records), res=8).select(
        "point_index", "x", "y", "image_id"
    )
    flat = sampling.sample_points(
        cands, coll.records.select("image_id", "bytes"), bands=(0,)
    ).toPandas()
    flat = flat[flat["valid"] & flat["in_bounds"]]
    times = images_pdf.set_index("image_id")["datetime"]

    for _, row in got.iterrows():
        mine = flat[(flat["point_index"] == row["point_index"])
                    & (flat["band"] == row["band"])]
        assert row["n_obs"] == len(mine) > 0
        want = sorted(
            (times[r["image_id"]], r["image_id"], r["value"])
            for _, r in mine.iterrows()
        )
        series = [(s["t"], s["image_id"], s["value"]) for s in row["series"]]
        assert [w[1] for w in want] == [s[1] for s in series]
        assert all(abs(w[2] - s[2]) < 1e-12 for w, s in zip(want, series))
        assert abs(row["v_mean"] - np.mean([w[2] for w in want])) < 1e-9
        assert row["t_first"] == want[0][0] and row["t_last"] == want[-1][0]
    # every (point, band) with a valid sample appears exactly once
    keys = set(zip(got["point_index"], got["band"]))
    want_keys = set(zip(flat["point_index"], flat["band"]))
    assert keys == want_keys


def test_to_cogs_facade_writes_ingestable_files(tmp_path, spark, coll, images_pdf):
    from rasteret_spark.format import container

    im = images_pdf.iloc[0]
    bbox = (
        float(im["xmin"]), float(im["ymin"]),
        float(im["xmin"]) + 0.02, float(im["ymin"]) + 0.02,
    )
    out = str(tmp_path / "cogs")
    man = coll.to_cogs(out, bbox, size=16, xres=0.00125, bands=(0,)).toPandas()
    assert len(man) >= 1 and (man["status"] == "ok").all()
    mos = coll.mosaic(bbox, size=16, xres=0.00125, bands=(0,)).toPandas()
    by_id = {r["chip_id"]: r for _, r in mos.iterrows()}
    for _, m in man.iterrows():
        blob = open(m["href"], "rb").read()
        got = container.decode_full(blob)
        want = np.asarray(
            [np.nan if v is None else v for v in by_id[m["chip_id"]]["values"]],
            dtype="float64",
        ).reshape(got.shape).astype("float32")
        assert np.array_equal(got, want, equal_nan=True)
