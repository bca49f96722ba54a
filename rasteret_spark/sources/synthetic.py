"""Deterministic synthetic tables per FIXTURES.md: images, AOIs, points.

Everything is a pure function of ``(seed, row_index)`` so the same rows can be
generated driver-side (tests) or distributed through ``mapInPandas`` over an
id range (benchmarks at scale) with identical bytes — no collected state, no
shared RNG stream.

Image payloads are mini-raster blobs (tiled + compressed + parseable header,
see ``rasteret_spark.format.miniraster``).  Spatial skew is built in: image
centroids are drawn from a hot-spot mixture so a handful of grid cells hold a
large share of rows (drives the salted-repartition path).  Schema follows the
input hint ``(image_id, bytes, w, h, fmt, caption, phash)`` plus the geo
sidecar columns from the reference's record contract
(`/root/reference/docs/explanation/schema-contract.md:16-49`).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

from rasteret_spark import crs, geom
from rasteret_spark.format import codecs, miniraster as mr

# (fmt, predictor, dtype) matrix — valid combos only (predictor 2 ints,
# predictor 3 floats; qlossy ignores predictor)
_FMT_MATRIX = [
    ("raw", codecs.PRED_NONE, "uint8"),
    ("deflate", codecs.PRED_NONE, "uint16"),
    ("deflate", codecs.PRED_HORIZONTAL, "uint16"),
    ("deflate", codecs.PRED_FLOAT, "float32"),
    ("lzma", codecs.PRED_NONE, "int16"),
    ("bz2", codecs.PRED_HORIZONTAL, "int32"),
    ("packbits", codecs.PRED_NONE, "uint8"),
    ("qlossy", codecs.PRED_NONE, "uint8"),
    ("qlossy", codecs.PRED_NONE, "float32"),
]

# hot spots (lon, lat, weight): Zipf-ish — first cell cluster dominates
_HOTSPOTS = [
    (13.4, 52.5, 0.35),
    (-122.4, 37.7, 0.2),
    (77.2, 28.6, 0.12),
    (151.2, -33.9, 0.08),
]
_UNIFORM_W = 1.0 - sum(w for _, _, w in _HOTSPOTS)

_CAPTION_WORDS = [
    "field", "river", "rooftop", "desert", "forêt", "湖", "córdoba", "δέλτα",
    "harbor", "glacier", "橋", "mosaic", "vineyard", "outcrop", "причал",
]

EPSG_CHOICES = [4326, 4326, 4326, 32633, 32610]

IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("n_bands", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("datetime", pa.timestamp("us")),
        ("epsg", pa.int32()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
        ("geometry", pa.binary()),
        ("xmin", pa.float64()),
        ("ymin", pa.float64()),
        ("xmax", pa.float64()),
        ("ymax", pa.float64()),
        ("year", pa.int32()),
        ("month", pa.int32()),
    ]
)


def _rng(seed: int, i: int) -> np.random.Generator:
    return np.random.default_rng(np.random.PCG64(seed * 1_000_003 + i))


def _centroid(rng: np.random.Generator) -> tuple[float, float]:
    u = rng.random()
    acc = 0.0
    for lon, lat, wgt in _HOTSPOTS:
        acc += wgt
        if u < acc:
            return (
                lon + rng.normal(0, 0.05),
                lat + rng.normal(0, 0.05),
            )
    return rng.uniform(-170, 170), rng.uniform(-60, 70)


def _pixels(rng: np.random.Generator, h: int, w: int, dtype: str) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    base = (
        40.0 * np.sin(xx / 17.0 + rng.random() * 6)
        + 40.0 * np.cos(yy / 23.0 + rng.random() * 6)
        + 0.3 * xx
        + 0.2 * yy
        + rng.normal(0, 3.0, (h, w))
    )
    if np.dtype(dtype).kind in "ui":
        info = np.iinfo(dtype)
        lo = max(info.min, 0)
        span = min(info.max, 4000) - lo
        norm = (base - base.min()) / (np.ptp(base) + 1e-9)
        return (lo + norm * span).astype(dtype)
    return base.astype(dtype)


def phash64(arr: np.ndarray) -> int:
    """Deterministic 64-bit perceptual-ish hash: 8x8 mean-threshold signature."""
    h, w = arr.shape
    a = arr[: (h // 8) * 8, : (w // 8) * 8].astype(np.float64)
    blocks = a.reshape(8, (h // 8), 8, (w // 8)).mean(axis=(1, 3))
    bits = (blocks > np.median(blocks)).ravel()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 63) if v >= (1 << 63) else v


def make_image_truth(i: int, seed: int = 42, dup_every: int = 17) -> dict:
    """Everything row ``i`` is made OF, before any codec touches it: the
    drawn pixel array, the expected post-decode array (qlossy rows
    quantize; all other matrix formats are lossless), and the full geo
    sidecar.  Pure generator math — no encode, no container, no decode —
    so it can serve as the independent truth side of driver oracles for
    pixel-valued queries (the comparison then crosses the whole
    encode/parse/decode stack instead of reusing any of it)."""
    # duplicates: every dup_every-th row replays row i - (i % dup_every)
    src_i = i - (i % dup_every) if (i % dup_every) == dup_every - 1 and i >= dup_every else i
    rng = _rng(seed, src_i)
    fmt, predictor, dtype = _FMT_MATRIX[src_i % len(_FMT_MATRIX)]
    w = int(rng.integers(96, 288))
    h = int(rng.integers(96, 288))
    # planar multi-band (1..3 bands, like the reference's per-band asset
    # model): band 0 drawn first, extra bands from subsequent rng draws
    n_bands = 1 + (src_i % 3)
    arr = np.stack([_pixels(rng, h, w, dtype) for _ in range(n_bands)])

    nodata: float | None = None
    if src_i % 5 == 2:  # plant a nodata block (ring-fallback test surface)
        nodata = -9999.0 if np.dtype(dtype).kind != "u" else 0.0
        bh, bw = max(4, h // 6), max(4, w // 6)
        r0 = int(rng.integers(0, h - bh))
        c0 = int(rng.integers(0, w - bw))
        arr[:, r0 : r0 + bh, c0 : c0 + bw] = nodata

    epsg = EPSG_CHOICES[src_i % len(EPSG_CHOICES)]
    lon_c, lat_c = _centroid(rng)
    deg_per_px = float(rng.uniform(1.5e-4, 4e-4))
    south_up = src_i % 7 == 3
    if epsg == 4326:
        sx, sy = deg_per_px, -deg_per_px
        x0 = lon_c - w / 2 * deg_per_px
        y0 = lat_c + h / 2 * deg_per_px
    else:
        m_per_px = deg_per_px * crs.M_PER_DEG_X
        sx, sy = m_per_px, -m_per_px
        xc, yc = crs.from_lonlat(epsg, lon_c, lat_c)
        x0 = float(xc) - w / 2 * m_per_px
        y0 = float(yc) + h / 2 * m_per_px
    if south_up:  # y increases with row
        sy = -sy
        y0 = y0 - h * abs(sy) if epsg == 4326 else y0 - h * abs(sy)
    transform = (sx, 0.0, x0, 0.0, sy, y0)

    qstep = 2.0 if np.dtype(dtype).kind in "ui" else 0.05
    if fmt == "qlossy":
        # mirror of codecs.encode_tile/decode_tile quantization (value-level,
        # tile-independent): q = round(v/qstep); back = q*qstep, ints clipped
        vals = np.round(arr.astype(np.float64) / qstep) * qstep
        if np.dtype(dtype).kind in "ui":
            info = np.iinfo(dtype)
            vals = np.clip(np.round(vals), info.min, info.max)
        expected = vals.astype(dtype)
    else:
        expected = arr
    return {
        "src_i": src_i,
        "fmt": fmt,
        "predictor": predictor,
        "dtype": dtype,
        "w": w,
        "h": h,
        "n_bands": n_bands,
        "arr": arr,
        "expected": expected,
        "nodata": nodata,
        "epsg": epsg,
        "transform": transform,
        "qstep": qstep,
        **_row_sidecar(i, src_i, w, h, transform, epsg),
    }


def _row_sidecar(
    i: int, src_i: int, w: int, h: int, transform: tuple, epsg: int
) -> dict:
    """The pure pre-encode sidecar shared by BOTH row builders and the truth
    oracles (single definition — an edit here changes generator and oracle
    together): lon/lat footprint + bbox, caption, timestamp."""
    sx, _, x0, _, sy, y0 = transform
    cols = np.array([0.0, w, w, 0.0])
    rows = np.array([0.0, 0.0, h, h])
    lons, lats = crs.to_lonlat(epsg, sx * cols + x0, sy * rows + y0)
    footprint = geom.wkb_polygon([np.column_stack([lons, lats])])
    xmin, ymin, xmax, ymax = geom.wkb_bbox(footprint)
    if src_i % 23 == 11:
        caption = ""
    else:
        widx = [(src_i * 7 + k * 13) % len(_CAPTION_WORDS) for k in range(3)]
        caption = " ".join(_CAPTION_WORDS[j] for j in widx) + f" #{src_i}"
    epoch = dt.datetime(2023, 1, 1) + dt.timedelta(
        hours=float((src_i * 37) % (2 * 365 * 24)), minutes=float(i % 60)
    )
    return {
        "geometry": footprint,
        "xmin": xmin,
        "ymin": ymin,
        "xmax": xmax,
        "ymax": ymax,
        "caption": caption,
        "datetime": epoch,
    }


def make_image_row(i: int, seed: int = 42, dup_every: int = 17) -> dict:
    """One deterministic row of the images table."""
    t = make_image_truth(i, seed, dup_every)
    arr, w, h = t["arr"], t["w"], t["h"]
    fmt, predictor = t["fmt"], t["predictor"]
    nodata, epsg, transform = t["nodata"], t["epsg"], t["transform"]
    n_bands, qstep = t["n_bands"], t["qstep"]
    blob = mr.encode_image(
        arr,
        tile_w=64,
        tile_h=64,
        compression=codecs.COMP_NAMES[fmt],
        predictor=predictor,
        transform=transform,
        epsg=epsg,
        nodata=nodata,
        qstep=qstep,
    )

    epoch = t["datetime"]
    return {
        "image_id": f"img-{i:08d}",
        "bytes": blob,
        "w": w,
        "h": h,
        "n_bands": n_bands,
        "fmt": fmt,
        "caption": t["caption"],
        "phash": phash64(arr[0]),
        "datetime": epoch,
        "epsg": epsg,
        "transform": list(transform),
        "nodata": nodata,
        "geometry": t["geometry"],
        "xmin": t["xmin"],
        "ymin": t["ymin"],
        "xmax": t["xmax"],
        "ymax": t["ymax"],
        "year": epoch.year,
        "month": epoch.month,
    }


def images_table(n: int, seed: int = 42, start: int = 0) -> pa.Table:
    rows = [make_image_row(i, seed) for i in range(start, start + n)]
    cols = {name: [r[name] for r in rows] for name in IMAGES_SCHEMA.names}
    return pa.Table.from_pydict(cols, schema=IMAGES_SCHEMA)


# ---------------------------------------------------------------------------
AOIS_SCHEMA = pa.schema(
    [
        ("aoi_id", pa.string()),
        ("geometry", pa.binary()),
        ("xmin", pa.float64()),
        ("ymin", pa.float64()),
        ("xmax", pa.float64()),
        ("ymax", pa.float64()),
        ("crop", pa.string()),
        ("plot_id", pa.string()),
    ]
)


def make_aoi_row(j: int, seed: int = 42) -> dict:
    rng = _rng(seed + 500_000, j)
    kind = j % 6
    lon_c, lat_c = _centroid(rng)
    size = float(rng.uniform(0.01, 0.12))
    if kind == 5:  # disjoint-from-everything (mid-ocean south)
        lon_c, lat_c, size = -140.0 + j % 10, -75.0, 0.05
    if kind == 4:  # degenerate sliver
        ring = np.array(
            [
                [lon_c, lat_c],
                [lon_c + size, lat_c + 1e-6],
                [lon_c + size, lat_c + 2e-6],
            ]
        )
        g = geom.wkb_polygon([ring])
    elif kind == 3:  # multipolygon, two parts
        r1 = np.array(
            [[lon_c, lat_c], [lon_c + size, lat_c], [lon_c + size, lat_c + size], [lon_c, lat_c + size]]
        )
        r2 = r1 + np.array([2 * size, 2 * size])
        g = geom.wkb_multipolygon([[r1], [r2]])
    elif kind == 2:  # polygon with a hole
        outer = np.array(
            [[lon_c, lat_c], [lon_c + size, lat_c], [lon_c + size, lat_c + size], [lon_c, lat_c + size]]
        )
        inner = outer * 0.5 + np.mean(outer, axis=0) * 0.5
        g = geom.wkb_polygon([outer, inner])
    elif kind == 1:  # irregular pentagon
        ang = np.linspace(0, 2 * np.pi, 6)[:-1] + rng.random()
        rad = size * (0.6 + 0.4 * rng.random(5))
        ring = np.column_stack([lon_c + rad * np.cos(ang), lat_c + rad * np.sin(ang)])
        g = geom.wkb_polygon([ring])
    else:  # plain box
        g = geom.wkb_box(lon_c, lat_c, lon_c + size, lat_c + size)
    xmin, ymin, xmax, ymax = geom.wkb_bbox(g)
    return {
        "aoi_id": f"aoi-{j:06d}",
        "geometry": g,
        "xmin": xmin,
        "ymin": ymin,
        "xmax": xmax,
        "ymax": ymax,
        "crop": ["wheat", "maize", "rice", "none"][j % 4],
        "plot_id": f"plot-{j % 97:04d}",
    }


def aois_table(n: int, seed: int = 42) -> pa.Table:
    rows = [make_aoi_row(j, seed) for j in range(n)]
    cols = {name: [r[name] for r in rows] for name in AOIS_SCHEMA.names}
    return pa.Table.from_pydict(cols, schema=AOIS_SCHEMA)


POINTS_SCHEMA = pa.schema(
    [
        ("point_index", pa.int64()),
        ("x", pa.float64()),
        ("y", pa.float64()),
        ("station_id", pa.string()),
    ]
)


def make_point_row(k: int, seed: int = 42) -> dict:
    rng = _rng(seed + 900_000, k)
    if k % 5 == 4:  # far outside everything
        x, y = float(rng.uniform(-179, -150)), float(rng.uniform(-89, -70))
    else:
        lon_c, lat_c = _centroid(rng)
        x = float(lon_c + rng.normal(0, 0.03))
        y = float(lat_c + rng.normal(0, 0.03))
    return {
        "point_index": k,
        "x": x,
        "y": y,
        "station_id": f"stn-{k % 53:03d}",
    }


def points_table(n: int, seed: int = 42) -> pa.Table:
    rows = [make_point_row(k, seed) for k in range(n)]
    cols = {name: [r[name] for r in rows] for name in POINTS_SCHEMA.names}
    return pa.Table.from_pydict(cols, schema=POINTS_SCHEMA)


def spark_images_df(spark, n: int, seed: int = 42):
    """Driver-side images table as a Spark DataFrame — robust to sessions
    without Arrow enabled (explicit schema; enables Arrow conversion at
    runtime, which is a runtime-settable conf)."""
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    pdf = images_table(n, seed).to_pandas()
    pdf["transform"] = pdf["transform"].map(list)
    return spark.createDataFrame(pdf, schema=_spark_images_schema())


# --- Spark-side distributed generation (bench scale) -------------------------
def images_df(spark, n: int, seed: int = 42, partitions: int = 32):
    """Generate the images table distributed: id range -> mapInPandas."""
    from pyspark.sql import functions as F  # noqa: N812

    spark_schema = spark.createDataFrame([], schema=_spark_images_schema()).schema

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [make_image_row(int(i), seed) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            out["nodata"] = out["nodata"].astype("float64")
            yield out[[f.name for f in spark_schema.fields]]

    rng_df = spark.range(0, n, 1, partitions)
    return rng_df.mapInPandas(gen, schema=spark_schema)


def _spark_images_schema():
    from pyspark.sql import types as T  # noqa: N812

    return T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("n_bands", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("caption", T.StringType()),
            T.StructField("phash", T.LongType()),
            T.StructField("datetime", T.TimestampType()),
            T.StructField("epsg", T.IntegerType()),
            T.StructField("transform", T.ArrayType(T.DoubleType())),
            T.StructField("nodata", T.DoubleType()),
            T.StructField("geometry", T.BinaryType()),
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
            T.StructField("year", T.IntegerType()),
            T.StructField("month", T.IntegerType()),
        ]
    )


# --- GeoTIFF-backed images table ---------------------------------------------
# Same row contract as make_image_row, but the blob is a real (Geo)TIFF /
# BigTIFF written by format/tiffwrite.py — the matrix walks containers,
# endiannesses, layouts, codecs and predictors so the engine's TIFF read
# path is exercised end-to-end through the SAME enrichment/zonal pipeline
# as the mini-raster container.
_TIFF_MATRIX = [
    # (fmt, predictor, dtype, tiled, byte_order, bigtiff)
    ("raw", 1, "uint8", True, "<", False),
    ("deflate", 2, "uint16", True, "<", False),
    ("lzw", 2, "int16", False, "<", False),
    ("deflate", 3, "float32", False, "<", False),
    ("packbits", 1, "uint8", True, ">", False),
    ("deflate", 2, "uint16", True, ">", True),
    ("lzw", 1, "uint16", True, "<", True),
    ("deflate", 3, "float32", True, ">", False),
    # baseline JPEG (format/jpegcodec.py): tiled rows share tables via the
    # JPEGTables tag (GDAL's default layout), stripped rows self-contain
    ("jpeg", 1, "uint8", True, "<", False),
    ("jpeg", 1, "uint8", False, ">", True),
    # GDAL zstd (compression 50000, format/zstd.py): tiled w/ horizontal
    # predictor and stripped big-endian int16 (the reference fixture's shape)
    ("zstd", 2, "uint16", True, "<", False),
    ("zstd", 1, "int16", False, ">", False),
    # Esri LERC2 (compression 34887, format/lerc.py): tiled uint16 (the
    # common DEM/analytic shape) and stripped float32 (lossless byte-plane
    # path); LERC takes no TIFF predictor
    ("lerc", 1, "uint16", True, "<", False),
    ("lerc", 1, "float32", False, "<", False),
]

_TIFF_COMP_NAME = {"raw": "none", "deflate": "deflate", "lzw": "lzw",
                   "packbits": "packbits", "jpeg": "jpeg", "zstd": "zstd",
                   "lerc": "lerc"}


def make_tiff_image_truth(i: int, seed: int = 42, dup_every: int = 17) -> dict:
    """Everything TIFF row ``i`` is made OF, before the container/codec touch
    it (see ``make_image_truth``): the drawn array, the declared format-matrix
    facts (codec/predictor/container/byte order) and the full geo sidecar.
    ``expected`` equals the drawn array for every LOSSLESS matrix entry; for
    jpeg rows it is None (lossy — the independent-truth side must obtain
    post-decode pixels elsewhere, and says so)."""
    src_i = i - (i % dup_every) if (i % dup_every) == dup_every - 1 and i >= dup_every else i
    rng = _rng(seed + 9_000_000, src_i)
    fmt, predictor, dtype, tiled, order, bigtiff = _TIFF_MATRIX[
        src_i % len(_TIFF_MATRIX)
    ]
    w = int(rng.integers(96, 288))
    h = int(rng.integers(96, 288))
    n_bands = 1 + (src_i % 2)  # planar multi-band every other row
    arr = np.stack([_pixels(rng, h, w, dtype) for _ in range(n_bands)])

    nodata: float | None = None
    if src_i % 5 == 2:
        nodata = -9999.0 if np.dtype(dtype).kind != "u" else 0.0
        bh, bw = max(4, h // 6), max(4, w // 6)
        r0 = int(rng.integers(0, h - bh))
        c0 = int(rng.integers(0, w - bw))
        arr[:, r0 : r0 + bh, c0 : c0 + bw] = nodata

    epsg = EPSG_CHOICES[src_i % len(EPSG_CHOICES)]
    lon_c, lat_c = _centroid(rng)
    deg_per_px = float(rng.uniform(1.5e-4, 4e-4))
    if epsg == 4326:
        sx = deg_per_px
        x0 = lon_c - w / 2 * deg_per_px
        y0 = lat_c + h / 2 * deg_per_px
    else:
        m_per_px = deg_per_px * crs.M_PER_DEG_X
        sx = m_per_px
        xc, yc = crs.from_lonlat(epsg, lon_c, lat_c)
        x0 = float(xc) - w / 2 * m_per_px
        y0 = float(yc) + h / 2 * m_per_px
    sy = -sx
    transform = (sx, 0.0, x0, 0.0, sy, y0)
    pixel_is_point = src_i % 4 == 1
    return {
        "src_i": src_i,
        "fmt": fmt,
        "predictor": predictor,
        "dtype": dtype,
        "tiled": tiled,
        "byte_order": order,
        "bigtiff": bigtiff,
        "w": w,
        "h": h,
        "n_bands": n_bands,
        "arr": arr,
        "expected": None if fmt == "jpeg" else arr,
        "nodata": nodata,
        "epsg": epsg,
        "transform": transform,
        "pixel_is_point": pixel_is_point,
        **_row_sidecar(i, src_i, w, h, transform, epsg),
    }


def make_tiff_image_row(i: int, seed: int = 42, dup_every: int = 17) -> dict:
    """One deterministic GeoTIFF-backed row of the images table."""
    from rasteret_spark.format import tiffwrite

    t = make_tiff_image_truth(i, seed, dup_every)
    arr, w, h, n_bands = t["arr"], t["w"], t["h"], t["n_bands"]
    fmt, predictor = t["fmt"], t["predictor"]
    tiled, order, bigtiff = t["tiled"], t["byte_order"], t["bigtiff"]
    nodata, epsg, transform = t["nodata"], t["epsg"], t["transform"]
    sx, _, x0, _, sy, y0 = transform
    pixel_is_point = t["pixel_is_point"]

    # every 4th row georeferences via a pixel-CENTER tiepoint + PixelIsPoint
    # (the parser must shift back to the area convention: GDAL RFC 33)
    if pixel_is_point:
        tie = (x0 + sx / 2.0, y0 - sx / 2.0)
    else:
        tie = (x0, y0)

    blob = tiffwrite.write_tiff(
        arr[0] if n_bands == 1 else arr,
        tile=(64, 64) if tiled else None,
        rows_per_strip=None if tiled else 48,
        compression=_TIFF_COMP_NAME[fmt],
        predictor=predictor,
        byte_order=order,
        bigtiff=bigtiff,
        pixel_scale=(sx, sx),
        tiepoint=tie,
        epsg=epsg,
        raster_type=2 if pixel_is_point else 1,
        nodata=nodata,
        # tiled rows carry a COG overview pyramid (q63's serving surface)
        overviews=[2, 4] if tiled else None,
        jpeg_quality=92,
        jpeg_tables_mode=1 if (fmt == "jpeg" and tiled) else 0,
    )

    epoch = t["datetime"]
    return {
        "image_id": f"tif-{i:08d}",
        "bytes": blob,
        "w": w,
        "h": h,
        "n_bands": n_bands,
        "fmt": fmt,
        "caption": t["caption"],
        "phash": phash64(arr[0]),
        "datetime": epoch,
        "epsg": epsg,
        "transform": list(transform),
        "nodata": nodata,
        "geometry": t["geometry"],
        "xmin": t["xmin"],
        "ymin": t["ymin"],
        "xmax": t["xmax"],
        "ymax": t["ymax"],
        "year": epoch.year,
        "month": epoch.month,
    }


def tiff_images_table(n: int, seed: int = 42, start: int = 0) -> pa.Table:
    rows = [make_tiff_image_row(i, seed) for i in range(start, start + n)]
    cols = {name: [r[name] for r in rows] for name in IMAGES_SCHEMA.names}
    return pa.Table.from_pydict(cols, schema=IMAGES_SCHEMA)


def spark_tiff_images_df(spark, n: int, seed: int = 42):
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    pdf = tiff_images_table(n, seed).to_pandas()
    pdf["transform"] = pdf["transform"].map(list)
    return spark.createDataFrame(pdf, schema=_spark_images_schema())


def generator_fingerprint() -> str:
    """Content hash of EVERY module on the blob-encode path (this generator,
    the TIFF writer, the mini-raster writer, the codecs) — the cache key for
    encoded blob tables (bench, perfbench and driver-query inputs).  Hashing
    only the generator would leave the stale-cache hole open: an edit to a
    codec changes the bytes every generator emits without touching the
    generator's own source.  The oracles' truth parquets are keyed on the
    truth side instead (``oracles/__init__.py``): they never encode."""
    import hashlib
    import inspect

    import rasteret_spark.format.codecs as _codecs
    import rasteret_spark.format.jpegcodec as _jpeg
    import rasteret_spark.format.lerc as _lerc
    import rasteret_spark.format.miniraster as _mr
    import rasteret_spark.format.tiffwrite as _tw
    import rasteret_spark.format.zstd as _zstd
    import rasteret_spark.sources.synthetic as _self

    src = "".join(
        inspect.getsource(m) for m in (_self, _tw, _mr, _codecs, _jpeg, _zstd, _lerc)
    )
    return hashlib.md5(src.encode()).hexdigest()[:10]
