"""Raster-file ingestion: a directory of real GeoTIFF/mini-raster files ->
the engine's contract images table, fully distributed.

The Spark re-expression of the reference's local-file ingest
(`src/rasteret/ingest/local.py` + `test_local_tiff_support.py` layer): Spark's
``binaryFile`` source lists and reads the files executor-side (path,
modificationTime, length, content), then one ``mapInPandas`` stage parses
each header through the container dispatch, decodes band 0 for the
perceptual hash, and derives the lon/lat footprint from the raster's
transform + CRS.  No driver I/O, no per-row Python in later stages — the
output table is the same contract every operator already consumes
(``enrich_headers``, ``decode.zonal_join``, ``chips``, dedup, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def ingest_rasters(
    spark: SparkSession,
    pattern: str,
    caption: str = "",
) -> DataFrame:
    """Ingest raster files matching ``pattern`` (glob; e.g.
    ``/data/scenes/*.tif``) into the contract images table.

    Per file: header parse (any supported container), band-0 decode for
    ``phash``, footprint polygon from transform+CRS corners.  Files that
    fail to parse are quarantined (``ingest_status`` column) with their
    path preserved — never a task failure."""
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql import types as T  # noqa: N812

    from rasteret_spark.operators.decode import _decode_parallelism
    from rasteret_spark.sources.synthetic import _spark_images_schema

    schema = T.StructType(
        list(_spark_images_schema().fields)
        + [
            T.StructField("path", T.StringType()),
            T.StructField("ingest_status", T.StringType()),
        ]
    )

    raw = spark.read.format("binaryFile").load(pattern)
    raw = raw.repartition(_decode_parallelism(raw), "path")

    def run(batches):
        import os

        import numpy as np
        import pandas as pd

        from rasteret_spark import crs, geom
        from rasteret_spark.format import codecs, container
        from rasteret_spark.operators.decode import _err_status
        from rasteret_spark.sources.synthetic import phash64

        for pdf in batches:
            out = []
            for path, mtime, blob in zip(
                pdf["path"], pdf["modificationTime"], pdf["content"]
            ):
                rec = {f.name: None for f in schema.fields}
                rec["path"] = path
                rec["image_id"] = os.path.splitext(os.path.basename(path))[0]
                rec["caption"] = caption
                rec["datetime"] = mtime
                rec["year"] = int(pd.Timestamp(mtime).year)
                rec["month"] = int(pd.Timestamp(mtime).month)
                try:
                    from rasteret_spark.format import tiff, tiffwrite

                    blob = bytes(blob)
                    if tiff.sniff(blob[:4]) is not None:
                        # parse at TIFF fidelity so chunky (interleaved RGB —
                        # the most common real-world layout) ingests too;
                        # engine-meta lowering would reject it before decode
                        tm = tiff.parse_tiff_bytes(blob)
                        w, h, n_bands = tm.width, tm.height, tm.samples_per_pixel
                        fmt = codecs.COMP_CODES.get(
                            tiff.TIFF_COMP_TO_ENGINE.get(tm.compression, -1),
                            f"tiff-comp-{tm.compression}",
                        )
                        epsg, nodata = tm.epsg, tm.nodata
                        try:
                            transform = tm.transform6()
                        except ValueError:  # plain TIFF: pixel-space grid
                            transform = (1.0, 0.0, 0.0, 0.0, -1.0, 0.0)
                        if n_bands > 1 and tm.planar_config == 1:
                            # NORMALIZE interleaved sources to the planar
                            # layout the decode operators require — an "ok"
                            # ingest must yield rows every operator can read,
                            # not rows that quarantine at query time.  Pixels
                            # identical (transpose), geo carried over.
                            chunky = container.decode_full(blob)  # (h, w, spp)
                            planar = np.ascontiguousarray(
                                chunky.transpose(2, 0, 1)
                            )
                            a, _, c, _, e, f0 = transform
                            blob = tiffwrite.write_tiff(
                                planar,
                                tile=(min(256, w), min(256, h)),
                                compression="deflate",
                                pixel_scale=(a, -e),
                                tiepoint=(c, f0),
                                epsg=epsg if epsg else None,
                                nodata=nodata,
                            )
                            fmt = "deflate"
                    else:
                        em = container.parse_any(blob)
                        w, h, n_bands = em.width, em.height, em.n_bands
                        fmt = codecs.COMP_CODES.get(em.compression, "unknown")
                        epsg, nodata, transform = em.epsg, em.nodata, em.transform
                    arr0 = container.decode_full(blob, band=0)
                    a, _, c, _, e, f0 = transform
                    cols = np.array([0.0, w, w, 0.0])
                    rows = np.array([0.0, 0.0, h, h])
                    xs = a * cols + c
                    ys = e * rows + f0
                    try:
                        lons, lats = crs.to_lonlat(epsg, xs, ys)
                    except Exception:  # unregistered/absent CRS: pixel space
                        lons, lats = xs, ys
                    footprint = geom.wkb_polygon([np.column_stack([lons, lats])])
                    xmin, ymin, xmax, ymax = geom.wkb_bbox(footprint)
                    rec.update(
                        bytes=bytearray(blob),
                        w=int(w), h=int(h), n_bands=int(n_bands),
                        fmt=fmt,
                        phash=int(phash64(np.asarray(arr0, dtype=np.float64))),
                        epsg=int(epsg),
                        transform=[float(v) for v in transform],
                        nodata=None if nodata is None else float(nodata),
                        geometry=bytearray(footprint),
                        xmin=float(xmin), ymin=float(ymin),
                        xmax=float(xmax), ymax=float(ymax),
                        ingest_status="ok",
                    )
                except Exception as exc:  # quarantine the file, keep the row
                    rec["ingest_status"] = _err_status(exc)
                out.append(rec)
            pdf_out = pd.DataFrame(out, columns=[f.name for f in schema.fields])
            # a quarantined row's None makes pandas infer float64 for the
            # int columns AT CONSTRUCTION — float64 rounds int64 phashes
            # above 2^53 to multiples of 1024 (silently corrupting the
            # dedup key).  Rebuild those columns from the raw python values
            # as nullable Int64 (int -> Int64 is exact; casting the already
            # -rounded float would not recover the low bits)
            for c in ("phash", "w", "h", "n_bands", "epsg", "year", "month"):
                pdf_out[c] = pd.array([r[c] for r in out], dtype="Int64")
            yield pdf_out

    return raw.select("path", "modificationTime", "content").mapInPandas(
        run, schema=schema
    )
