"""End-to-end user story — the reference workflow on this engine, every
subsystem composed: STAC items -> record ingest -> pluggable-registry blob
fetch -> catalog export/reload -> Collection facade -> zonal + mosaic ->
driver-side georeferenced assembly.  One test, the whole path a switching
user would walk."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark import crs, geom
from rasteret_spark.collection import Collection
from rasteret_spark.format import miniraster as mr
from rasteret_spark.operators import assemble
from rasteret_spark.sources import fetch as fx

N_SCENES = 6
SIZE = 64
RES = 0.001  # degrees/pixel, 4326 scenes


def _scene(i: int) -> tuple[dict, bytes]:
    """One 4326 scene: STAC item + its mini-raster blob behind mem://."""
    x0 = 10.0 + (i % 3) * SIZE * RES * 0.75  # overlapping strips
    y1 = 50.0 - (i // 3) * SIZE * RES * 0.25
    arr = np.full((SIZE, SIZE), 100 + i, dtype=np.int32)
    arr[: SIZE // 4] = -1  # nodata strip: newer scenes leave holes to fill
    blob = mr.encode_image(
        arr, transform=(RES, 0.0, x0, 0.0, -RES, y1), epsg=4326, nodata=-1.0
    )
    ring = [[x0, y1 - SIZE * RES], [x0 + SIZE * RES, y1 - SIZE * RES],
            [x0 + SIZE * RES, y1], [x0, y1], [x0, y1 - SIZE * RES]]
    item = {
        "type": "Feature",
        "id": f"scene-{i:03d}",
        "collection": "story",
        "bbox": [x0, y1 - SIZE * RES, x0 + SIZE * RES, y1],
        "geometry": {"type": "Polygon", "coordinates": [ring]},
        "properties": {
            "datetime": f"2024-03-{10 + i:02d}T10:00:00Z",
            "proj:epsg": 4326,
            "proj:transform": [RES, 0.0, x0, 0.0, -RES, y1],
        },
        "assets": {"data": {"href": f"mem://story/{i}"}},
    }
    return item, blob


@pytest.fixture()
def mem_fetcher():
    """Register the in-memory scheme for this test only — the registry is
    module-global, so leak-free tests must unregister."""
    items, blobs = zip(*[_scene(i) for i in range(N_SCENES)])
    fx.register_fetcher(
        "mem",
        lambda url, _b={f"mem://story/{i}": b for i, b in enumerate(blobs)}: _b[url],
    )
    try:
        yield list(items)
    finally:
        fx._FETCHERS.pop("mem", None)


def test_full_reference_workflow(spark, tmp_path, mem_fetcher):
    items = mem_fetcher

    # 1. STAC ingest -> records; 2. resolve blobs through the fetch registry
    records = Collection.from_stac_items(spark, items).records.withColumn(
        "href", F.col("assets")["data"]
    )
    withblobs = fx.fetch_blobs(records)
    assert withblobs.filter(F.col("fetch_status") != "ok").count() == 0

    # 3. catalog export (hive-partitioned) -> reload through the facade
    cat_dir = str(tmp_path / "catalog")
    full = withblobs.select(
        "image_id", "bytes", "datetime", "epsg", "transform", "geometry",
        "xmin", "ymin", "xmax", "ymax",
        F.lit(SIZE).alias("w"), F.lit(SIZE).alias("h"),
        F.lit("deflate").alias("fmt"),
        F.concat(F.lit("scene "), F.col("image_id")).alias("caption"),
        F.xxhash64("image_id").alias("phash"),
    )
    from rasteret_spark.sources import catalog

    catalog.write_images(full, cat_dir)
    coll = Collection.from_parquet(spark, cat_dir)
    assert coll.count() == N_SCENES
    assert coll.epsg() == [4326]

    # 4. zonal over an AOI covering the first scene's valid area
    x0, y1 = 10.0, 50.0
    aoi_box = (x0 + 5 * RES, y1 - 60 * RES, x0 + 30 * RES, y1 - 20 * RES)
    ring = np.array([
        [aoi_box[0], aoi_box[1]], [aoi_box[2], aoi_box[1]],
        [aoi_box[2], aoi_box[3]], [aoi_box[0], aoi_box[3]],
        [aoi_box[0], aoi_box[1]],
    ])
    aois = spark.createDataFrame(pd.DataFrame([{
        "aoi_id": "field-1", "aoi_geometry": bytearray(geom.wkb_polygon([ring])),
        "aoi_xmin": aoi_box[0], "aoi_ymin": aoi_box[1],
        "aoi_xmax": aoi_box[2], "aoi_ymax": aoi_box[3],
    }]))
    z = coll.zonal(aois, bands=(0,)).toPandas()
    assert (z["status"] == "ok").all() and len(z) >= 1
    s0 = z[z["image_id"] == "scene-000"].iloc[0]
    assert s0["v_min"] == 100.0 and s0["v_max"] == 100.0  # flat scene value

    # 5. newest-first mosaic over the overlap zone + driver-side assembly
    mos_bbox = (x0, y1 - SIZE * RES, x0 + 40 * RES, y1)
    mos = coll.mosaic(mos_bbox, size=40, xres=RES, bands=(0,))
    rows = mos.toPandas()
    assert (rows["status"] == "ok").all()
    arr, attrs = assemble.chip_to_array(rows.iloc[0])
    assert arr.shape == (40, 40) and attrs["epsg"] == 4326
    # newest scene covering the bbox wins where valid; nodata strips fall
    # through to older scenes — the composite must contain >1 scene value
    vals = set(np.unique(arr[np.isfinite(arr)]).tolist())
    assert vals and vals <= {100.0 + i for i in range(N_SCENES)}
    assert len(vals) >= 2, "first-valid composite must fill holes from older scenes"
    # georeferencing round-trip: pixel-center coords land inside the bbox
    lon, lat = assemble.pixel_coords(attrs)
    assert mos_bbox[0] < lon[0] < mos_bbox[2] and lat[-1] > mos_bbox[1]

    # 6. the same collection serves training chips
    batches = list(coll.chip_batches(batch_size=4, bbox=mos_bbox, size=16,
                                     xres=RES, bands=(0,)))
    tensors = [t for b in batches for (t, _) in b]
    assert tensors and all(t.shape[2:] == (16, 16) for t in tensors)
