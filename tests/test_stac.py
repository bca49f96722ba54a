"""STAC ingest (S4/S5): item -> record contract, distributed ndjson crawl,
search filters through ``Collection.subset`` / ``where``.  Items are
spec-shaped static fixtures (no network in this environment — the
cassette-fixture role of the reference's STAC tests)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasteret_spark import geom
from rasteret_spark.collection import Collection
from rasteret_spark.sources import stac


def _items():
    sq = [[10.0, 50.0], [10.1, 50.0], [10.1, 50.1], [10.0, 50.1], [10.0, 50.0]]
    return [
        {
            "type": "Feature",
            "id": "S2A_0001",
            "collection": "sentinel-2-l2a",
            "bbox": [10.0, 50.0, 10.1, 50.1],
            "geometry": {"type": "Polygon", "coordinates": [sq]},
            "properties": {
                "datetime": "2023-06-01T10:30:00Z",
                "proj:epsg": 32632,
                "proj:transform": [10.0, 0.0, 600000.0, 0.0, -10.0, 5540000.0],
                "eo:cloud_cover": 12.5,
            },
            "assets": {
                "B02": {"href": "s3://bucket/scene1/B02.tif"},
                "B08": {"href": "s3://bucket/scene1/B08.tif"},
            },
        },
        {
            "type": "Feature",
            "id": "S2A_0002",
            "collection": "sentinel-2-l2a",
            # no bbox -> derived from the footprint; multipolygon footprint
            "geometry": {
                "type": "MultiPolygon",
                "coordinates": [[sq], [[[11.0, 51.0], [11.1, 51.0], [11.1, 51.1],
                                        [11.0, 51.1], [11.0, 51.0]]]],
            },
            "properties": {
                "datetime": "2024-01-15T09:00:00Z",
                "proj:epsg": 4326,
                # 9-element row-major 3x3 -> affine 6 kept
                "proj:transform": [0.001, 0.0, 10.0, 0.0, -0.001, 51.2, 0, 0, 1],
            },
            "assets": {"visual": {"href": "https://example.com/2/visual.tif"}},
        },
    ]


def test_item_to_record_contract():
    recs = [stac.item_to_record(i) for i in _items()]
    r = recs[0]
    assert r["image_id"] == "S2A_0001"
    assert (r["year"], r["month"]) == (2023, 6)
    assert r["epsg"] == 32632 and len(r["transform"]) == 6
    assert r["assets"] == {
        "B02": "s3://bucket/scene1/B02.tif",
        "B08": "s3://bucket/scene1/B08.tif",
    }
    assert r["cloud_cover"] == 12.5
    np.testing.assert_allclose(geom.wkb_bbox(r["geometry"]), [10.0, 50.0, 10.1, 50.1])
    r2 = recs[1]
    # bbox derived from the multipolygon footprint; 9-elem transform trimmed
    np.testing.assert_allclose((r2["xmin"], r2["ymin"], r2["xmax"], r2["ymax"]),
                               [10.0, 50.0, 11.1, 51.1])
    assert len(r2["transform"]) == 6


def test_records_df_and_filters(spark):
    coll = Collection.from_stac_items(spark, _items())
    assert coll.count() == 2
    got = coll.subset(
        bbox=(9.9, 49.9, 10.2, 50.2), date_range=("2023-01-01", "2023-12-31")
    ).where("cloud_cover IS NULL OR cloud_cover <= 20.0")
    assert [r.image_id for r in got.records.collect()] == ["S2A_0001"]
    # cloud filter keeps null-cover items
    assert coll.where("cloud_cover IS NULL OR cloud_cover <= 1.0").count() == 1


def test_ndjson_crawl_is_distributed_and_equal(spark, tmp_path):
    p = tmp_path / "catalog"
    p.mkdir()
    for j, item in enumerate(_items() * 5):
        # multiple files = multiple input splits
        with open(p / f"part-{j % 3}.ndjson", "a") as f:
            f.write(json.dumps({**item, "id": f'{item["id"]}_{j}'}) + "\n")
    df = stac.records_from_ndjson(spark, str(p))
    assert df.count() == 10
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan text" in plan  # reads as a distributed text source
    a = stac.records_df(
        spark, [{**_items()[0], "id": "S2A_0001_0"}]
    ).toPandas().iloc[0]
    b = df.filter(F.col("image_id") == "S2A_0001_0").toPandas().iloc[0]
    assert a["xmin"] == b["xmin"] and a["assets"] == b["assets"]
    assert bytes(a["geometry"]) == bytes(b["geometry"])
