"""The sampling kernel's Arrow boundary keeps the output's types and nulls.

``sampling.sample_points`` builds its output batches from numpy against
``SAMPLES_ARROW``.  Whatever the payload (``bytes`` or ``href``), the rows
must be the kernel's own (``_sample_image`` per image, quarantine rows for a
corrupt blob) with these null rules:

* a non-finite ``value`` (NaN, +-inf) is null;
* a NaN inside a ``neighborhood`` window is null (an inf stays);
* an out-of-bounds or quarantined point's window is null.

The fixture mixes the synthetic nodata-bearing images, a float32 image with
NaN, inf and nodata pixels, and a corrupt blob.
"""

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from rasteret_spark.format import miniraster as mr
from rasteret_spark.operators import sampling
from rasteret_spark.operators.decode import _err_status

KW = dict(max_ring=4, neighborhood=3, bands=(0, 1, 2))
# (rows, bit_xor xxhash64) of sample_join(images_table(60), points_table(300),
# **KW) when the kernel's output crossed into Spark through pandas
PANDAS_BOUNDARY_DIGEST = (373, -4391671683604663456)
TRANSFORM = (0.01, 0.0, 10.0, 0.0, -0.01, 50.0)  # 40 x 40 px over lon 10..10.4


def _float_image() -> tuple[np.ndarray, bytes]:
    arr = np.arange(2 * 40 * 40, dtype=np.float32).reshape(2, 40, 40)
    arr[:, 5:8, 5:8] = np.nan
    arr[:, 20, 20] = np.inf
    arr[0, 30:36, 30:36] = -9999.0  # nodata block: ring fallback
    blob = mr.encode_image(arr, tile_w=16, tile_h=16, transform=TRANSFORM, epsg=4326,
                           nodata=-9999.0)
    return arr, blob


def _corrupt_blob() -> bytes:
    return b"MRST" + np.uint32(200).tobytes() + b"\x02" + b"\x99" * 300


@pytest.fixture(scope="module")
def fixture(images_pdf):
    from rasteret_spark.sources import synthetic as syn

    _, blob = _float_image()
    extra = pd.DataFrame({
        "image_id": ["img-float", "img-corrupt"],
        "bytes": [blob, _corrupt_blob()],
        "xmin": [10.0, 10.0], "ymin": [49.6, 49.6], "xmax": [10.4, 10.4], "ymax": [50.0, 50.0],
    })
    images = pd.concat(
        [images_pdf[["image_id", "bytes", "xmin", "ymin", "xmax", "ymax"]], extra],
        ignore_index=True,
    )
    # pixel centres of NaN, inf and nodata pixels, corner and edge pixels, and
    # the bbox's max corner (in the closed bbox, out of the raster)
    px = [(6, 6), (20, 20), (30, 30), (33, 33), (0, 0), (39, 39), (22, 7)]
    own = pd.DataFrame({
        "point_index": np.arange(len(px)) + 10_000,
        "x": [10.0 + (c + 0.5) * 0.01 for _, c in px],
        "y": [50.0 - (r + 0.5) * 0.01 for r, _ in px],
    })
    own = pd.concat([own, pd.DataFrame({"point_index": [10_100], "x": [10.4], "y": [49.6]})])
    points = pd.concat([syn.points_table(80).to_pandas(), own], ignore_index=True)
    return images, points


def _candidates(images: pd.DataFrame, points: pd.DataFrame):
    """(image row, its points) under the join's closed bbox test."""
    for _, im in images.iterrows():
        inside = (
            (points.x >= im.xmin) & (points.x <= im.xmax)
            & (points.y >= im.ymin) & (points.y <= im.ymax)
        )
        if inside.any():
            yield im, points[inside]


def _expected_rows(images, points) -> list[tuple]:
    """The kernel's rows per image, with the boundary's null rules applied
    in plain Python."""
    rows = []
    for im, pts in _candidates(images, points):
        args = (pts.point_index.to_numpy(), pts.x.to_numpy(), pts.y.to_numpy())
        try:
            reader = mr.CachedReader(bytes(im["bytes"]))
            out = sampling._sample_image(im.image_id, reader, *args, **KW)
        except Exception as e:
            out = sampling._quarantine_rows(
                im.image_id, args[0], _err_status(e), KW["neighborhood"]
            )
        pos = 0
        for j in range(len(out["point_index"])):
            n = int(out["nb_len"][j])
            win = None
            if n >= 0:
                win = [None if math.isnan(v) else float(v) for v in out["nb_vals"][pos:pos + n]]
                pos += n
            v = float(out["value"][j])
            rows.append((
                int(out["point_index"][j]), out["image_id"][j], int(out["band"][j]),
                int(out["px_col"][j]), int(out["px_row"][j]), bool(out["in_bounds"][j]),
                v if math.isfinite(v) else None, bool(out["valid"][j]),
                int(out["ring_steps"][j]), int(out["sample_col"][j]),
                int(out["sample_row"][j]), out["status"][j], win,
            ))
    return sorted(rows, key=lambda r: (r[0], r[1], r[2]))


def _collected(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=lambda r: (r[0], r[1], r[2]))


def test_sample_boundary_types_nulls_and_quarantine(spark, fixture, tmp_path):
    images, points = fixture
    pts = spark.createDataFrame(points)
    got = sampling.sample_join(spark.createDataFrame(images), pts, **KW)
    want_schema = spark.createDataFrame(
        [], sampling.SAMPLES_SCHEMA + sampling.NEIGHBORHOOD_COL
    ).schema
    assert got.schema.simpleString() == want_schema.simpleString()

    rows = _collected(got)
    assert rows == _expected_rows(images, points)

    own = [r for r in rows if r[1] == "img-float"]
    assert own, "the float image's points were sampled"
    by_pt = {(r[0], r[2]): r for r in own}
    assert by_pt[(10_000, 0)][6] is None  # NaN pixel
    assert by_pt[(10_001, 0)][6] is None  # inf pixel
    assert by_pt[(10_002, 0)][8] > 0  # nodata pixel resolved by the ring
    assert None in by_pt[(10_000, 0)][12]  # NaN inside the window
    assert math.inf in by_pt[(10_001, 0)][12]  # inf inside the window stays
    assert by_pt[(10_100, 0)][12] is None and not by_pt[(10_100, 0)][5]  # out of raster
    assert {r[2] for r in own} == {0, 1}  # band 2 is missing from this image

    bad = [r for r in rows if r[1] == "img-corrupt"]
    assert len(bad) == len(next(p for im, p in _candidates(images, points)
                                if im.image_id == "img-corrupt"))
    for r in bad:
        assert r[2] == -1 and r[6] is None and not r[7] and r[12] is None
        assert r[11] != "ok" and "Error" in r[11]

    # href-only table: the same rows through ranged file reads
    hrefs = []
    for _, im in images.iterrows():
        p = tmp_path / f"{im.image_id}.mrst"
        p.write_bytes(bytes(im["bytes"]))
        hrefs.append(f"file://{p}")
    remote = images.drop(columns=["bytes"]).assign(href=hrefs)
    got_href = sampling.sample_join(spark.createDataFrame(remote), pts, **KW)
    assert _collected(got_href) == rows


def test_sample_boundary_digest_matches_pandas_boundary(spark, images_pdf):
    from rasteret_spark.sources import synthetic as syn

    pts = spark.createDataFrame(syn.points_table(300).to_pandas())
    got = sampling.sample_join(spark.createDataFrame(images_pdf), pts, **KW)
    r = got.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in got.columns])).alias("d"),
    ).collect()[0]
    assert (r["n"], r["d"]) == PANDAS_BOUNDARY_DIGEST


def test_image_with_no_points_gives_a_typed_empty_batch():
    _, blob = _float_image()
    pts_type = pa.list_(pa.struct(
        [("point_index", pa.int64()), ("x", pa.float64()), ("y", pa.float64())]
    ))
    schema = sampling.SAMPLES_ARROW.append(sampling.NEIGHBORHOOD_FIELD)

    def batch(ids, lists):
        return pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array([blob] * len(ids), pa.binary()), pa.array(lists, pts_type)],
            names=["image_id", "bytes", "_pts"],
        )

    def run(rb):
        return list(sampling._sample_batches(iter([rb]), "bytes", bytes, 4, (0, 1, 2), 3))

    (empty,) = run(batch(["e"], [[]]))
    assert empty.num_rows == 0 and empty.schema == schema

    pt = {"point_index": 7, "x": 10.065, "y": 49.935}
    (mixed,) = run(batch(["e", "f"], [[], [pt]]))
    assert mixed.schema == schema
    assert mixed.column("image_id").to_pylist() == ["f", "f"]  # bands 0 and 1
    assert mixed.column("value").null_count == 2  # the NaN pixel (6, 6)
