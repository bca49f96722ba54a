"""STAC ingest (S4 API search / S5 static catalog crawl) -> record rows.

Re-expresses the reference's STAC indexing (`src/rasteret/ingest/
stac_indexer.py:169-300`: item -> record row with footprint WKB, bbox,
year/month partition values, per-band `assets` map and projection metadata)
as a pure transformation layer over the PUBLIC STAC Item spec (1.0 +
projection extension fields `proj:epsg` / `proj:transform`).

Network boundaries are injectable and OPTIONAL:

  * S4 (API search): the caller pages the API however they like (requests,
    aiohttp, a queue) and hands the item dicts to
    ``Collection.from_stac_items`` (``records_df``) — the
    driver-side page loop is I/O-bound and tiny next to the table it
    produces, exactly like the reference's search client.
  * S5 (static catalog crawl): ``records_from_ndjson`` reads
    newline-delimited STAC items AS A DISTRIBUTED TEXT SOURCE
    (``spark.read.text`` -> Arrow-batched parse), so a million-item static
    catalog ingests in parallel without touching the driver.  The CLI's
    ``collections build NAME --records PATH.ndjson`` (or ``.jsonl``) runs it.

This sandbox has no network, so tests feed static item dicts/files — the
same role the reference's cassette fixtures play.
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T  # noqa: N812

from rasteret_spark import geom

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("datetime", T.TimestampType()),
        T.StructField("epsg", T.IntegerType()),
        T.StructField("transform", T.ArrayType(T.DoubleType())),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
        T.StructField("assets", T.MapType(T.StringType(), T.StringType())),
        T.StructField("collection", T.StringType()),
        T.StructField("cloud_cover", T.DoubleType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("month", T.IntegerType()),
    ]
)


def _geojson_to_wkb(g: dict) -> bytes:
    t = g["type"]
    if t == "Polygon":
        return geom.wkb_polygon([np.asarray(r, dtype=np.float64) for r in g["coordinates"]])
    if t == "MultiPolygon":
        return geom.wkb_multipolygon(
            [[np.asarray(r, dtype=np.float64) for r in poly] for poly in g["coordinates"]]
        )
    raise ValueError(f"unsupported STAC geometry type {t}")


def item_to_record(item: dict) -> dict:
    """One STAC Item dict -> one engine record row (contract columns).

    Field mapping (public spec): `id`, `properties.datetime` (ISO 8601),
    `geometry` (GeoJSON -> WKB), `bbox` (or derived from the footprint),
    `properties['proj:epsg']`, `properties['proj:transform']` (6 or 9
    affine elements -> stored as the 6-element row-major affine),
    `assets[*].href` keyed by asset/band name, `collection`,
    `properties['eo:cloud_cover']`."""
    props = item.get("properties", {})
    ts = props.get("datetime")
    when = None
    if ts:
        # RFC 3339 permits any offset: normalize to UTC first, THEN drop
        # tzinfo — a bare .replace(tzinfo=None) would keep local wall-clock
        # time for non-Z offsets and shift as-of/mosaic ordering
        when = dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
        if when.tzinfo is not None:
            when = when.astimezone(dt.timezone.utc).replace(tzinfo=None)
    wkb = _geojson_to_wkb(item["geometry"])
    if item.get("bbox") and len(item["bbox"]) >= 4:
        xmin, ymin, xmax, ymax = (float(v) for v in item["bbox"][:4])
    else:
        xmin, ymin, xmax, ymax = geom.wkb_bbox(wkb)
    tr = props.get("proj:transform")
    if tr is not None:
        tr = [float(v) for v in tr]
        if len(tr) == 9:  # full 3x3 row-major; keep the affine 6
            tr = tr[:6]
        # STAC/rasterio order is (a, b, c, d, e, f) with x = a*col + b*row + c
        # — same convention as the engine's transform tuple
    assets = {
        name: str(a.get("href", "")) for name, a in item.get("assets", {}).items()
    }
    cc = props.get("eo:cloud_cover")
    return {
        "image_id": str(item["id"]),
        "datetime": when,
        "epsg": int(props["proj:epsg"]) if props.get("proj:epsg") is not None else None,
        "transform": tr,
        "geometry": wkb,
        "xmin": xmin,
        "ymin": ymin,
        "xmax": xmax,
        "ymax": ymax,
        "assets": assets,
        "collection": item.get("collection"),
        "cloud_cover": float(cc) if cc is not None else None,
        "year": when.year if when else None,
        "month": when.month if when else None,
    }


def records_df(spark: SparkSession, items: Iterable[dict]) -> DataFrame:
    """S4 path: already-fetched API items (one search page or many) ->
    record DataFrame.  Driver-side conversion is fine here: the item list
    is one API response, not the archive."""
    rows = [item_to_record(i) for i in items]
    return spark.createDataFrame(pd.DataFrame(rows), schema=RECORD_SCHEMA)


def records_from_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """S5 path: distributed crawl of a static catalog stored as
    newline-delimited STAC items.  ``spark.read.text`` splits the files
    across executors; parsing + WKB conversion run Arrow-batched — the
    driver never sees the items."""
    lines = spark.read.text(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RECORD_SCHEMA.fields]
        for pdf in batches:
            rows = [
                item_to_record(json.loads(ln))
                for ln in pdf["value"]
                if ln and ln.strip()
            ]
            out = pd.DataFrame(rows, columns=cols)
            yield out

    return lines.mapInPandas(parse, schema=RECORD_SCHEMA)
