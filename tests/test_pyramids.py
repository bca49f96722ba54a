"""Distributed overview building (operators/pyramids.py): pyramid append
over the synthetic TIFF matrix — level counts and statuses per codec/layout,
bit-exact full-res roundtrip for lossless codecs, exact nearest-neighbour
decimation per level, georeferencing preservation, rebuild semantics and
per-row error containment.

Reference parity: the reference reads pyramids that upstream tooling built
(`src/rasteret/fetch/cog.py`); here the engine can author them distributed.
"""

import numpy as np
import pytest

from rasteret_spark.format import container, tiff
from rasteret_spark.operators import pyramids
from rasteret_spark.sources import synthetic as syn

N = 24


@pytest.fixture(scope="module")
def tiff_df(spark):
    return syn.spark_tiff_images_df(spark, N).cache()


@pytest.fixture(scope="module")
def built(spark, tiff_df):
    rows = pyramids.build_overviews(tiff_df, factors=(2, 4)).collect()
    assert len(rows) == N
    return {r.image_id: r for r in rows}


def _truths():
    """image_id -> generator truth dict (carries tiled/fmt, which the row
    table does not)."""
    return {f"tif-{i:08d}": syn.make_tiff_image_truth(i) for i in range(N)}


def test_statuses_and_level_counts(tiff_df, built):
    src = {r["image_id"]: r for r in tiff_df.collect()}
    truth = _truths()
    saw = set()
    for image_id, r in built.items():
        s, t = src[image_id], truth[image_id]
        if t["tiled"]:
            assert r.status == "has_overviews" and r.n_levels_in == 3
            assert bytes(r.bytes) == bytes(s["bytes"])  # untouched
        elif t["fmt"] == "jpeg":
            assert r.status == "skipped_lossy"
            assert bytes(r.bytes) == bytes(s["bytes"])
        else:
            assert r.status == "ok", (image_id, r.status)
            assert (r.n_levels_in, r.n_levels_out) == (1, 3)
            assert r.bytes_in == len(bytes(s["bytes"]))
            assert r.bytes_out == len(bytes(r.bytes))
        saw.add(r.status)
    assert "ok" in saw and "has_overviews" in saw


def test_lossless_rewrite_is_bit_exact_and_levels_decimate(tiff_df, built):
    src = {r["image_id"]: r for r in tiff_df.collect()}
    checked = 0
    for image_id, r in built.items():
        if r.status != "ok":
            continue
        full_src = container.decode_full(bytes(src[image_id]["bytes"]))
        metas = tiff.parse_tiff_chain(tiff.blob_read(bytes(r.bytes)))
        assert len(metas) == 3
        assert metas[1].subfile_type & 1 and metas[2].subfile_type & 1
        full_new = container.decode_full(bytes(r.bytes))
        np.testing.assert_array_equal(full_new, full_src)
        chunky = (metas[0].samples_per_pixel > 1
                  and metas[0].planar_config == 1)
        for level, f in [(1, 2), (2, 4)]:
            d = slice(None, None, f)
            if full_src.ndim == 2:
                want = full_src[d, d]
            elif chunky:  # (h, w, spp)
                want = full_src[d, d, :]
            else:  # planar (bands, h, w)
                want = full_src[:, d, d]
            got = container.decode_full(bytes(r.bytes), ifd=level)
            np.testing.assert_array_equal(got, want)
        checked += 1
    assert checked > 0


def test_georeferencing_preserved(tiff_df, built):
    src = {r["image_id"]: r for r in tiff_df.collect()}
    checked = 0
    for image_id, r in built.items():
        if r.status != "ok":
            continue
        m0 = tiff.parse_tiff_bytes(bytes(src[image_id]["bytes"]))
        m1 = tiff.parse_tiff_bytes(bytes(r.bytes))
        assert m1.transform6() == m0.transform6()
        assert (m1.epsg, m1.nodata, m1.raster_type) == (
            m0.epsg, m0.nodata, m0.raster_type
        )
        assert (m1.container, m1.byte_order, m1.compression,
                m1.predictor, m1.tiled) == (
            m0.container, m0.byte_order, m0.compression,
            m0.predictor, m0.tiled
        )
        checked += 1
    assert checked > 0


def test_rebuild_and_validation_and_quarantine(spark, tiff_df):
    # rebuild=True regenerates pyramids on already-pyramided lossless rows
    truth = _truths()
    ids = [i for i, t in truth.items()
           if t["tiled"] and t["fmt"] != "jpeg"][:2]
    assert ids
    tiled_lossless = tiff_df.filter(
        tiff_df.image_id.isin(ids)
    )
    rows = pyramids.build_overviews(
        tiled_lossless, factors=(2,), rebuild=True
    ).collect()
    assert rows and all(r.status == "ok" for r in rows)
    assert all((r.n_levels_in, r.n_levels_out) == (3, 2) for r in rows)

    with pytest.raises(ValueError, match="factors"):
        pyramids.build_overviews(tiff_df, factors=())
    with pytest.raises(ValueError, match="factors"):
        pyramids.build_overviews(tiff_df, factors=(4, 2))
    with pytest.raises(ValueError, match="needs column"):
        pyramids.build_overviews(tiff_df.drop("bytes"))

    bad = spark.createDataFrame(
        [{"image_id": "bad", "bytes": b"not a tiff"}],
        "image_id string, bytes binary",
    )
    r = pyramids.build_overviews(bad).collect()[0]
    assert r.status.startswith("error:") and bytes(r.bytes) == b"not a tiff"
