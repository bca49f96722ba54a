"""Distributed overview (pyramid) building — the gdaladdo of the engine.

The read side already serves COG pyramids (`format/tiff.parse_tiff_chain`,
`pick_overview`, q63/q67); this is the WRITE side: given a table of TIFF
blobs, append reduced-resolution IFDs so downstream browse/chip workloads
get the zoom economics (a factor-4 read touches ~1/16th of the bytes).
The reference leans on upstream COGs already having pyramids
(`src/rasteret/fetch/cog.py` reads what exists); a 100 TB ingest pipeline
must be able to CREATE them, one executor task per image, no driver
involvement.

Semantics (gdaladdo-compatible):

* overview level k is the exact nearest-neighbour decimation
  ``full[::f, ::f]`` — the same convention the read-side truth oracles pin
  (`oracles/truth.overview_truth_pdf`), so rebuilt pyramids verify against
  pre-encode truth;
* the rewrite preserves the source's container (classic/BigTIFF), byte
  order, codec, predictor, tile/strip layout, georeferencing
  (pixel-scale + tiepoint, PixelIsPoint honoured) and nodata;
* LOSSLESS codecs only: a JPEG full-res plane cannot be re-encoded
  without generational loss, so jpeg rows pass through untouched with
  ``status = "skipped_lossy"`` (GDAL's COG driver faces the same choice);
* blobs that already carry a pyramid pass through with
  ``status = "has_overviews"`` unless ``rebuild=True``;
* per-row error containment: a corrupt blob emits its original bytes and
  the error in ``status`` — one bad scene never kills the job.

Plan shape: one ``mapInPandas`` over the blob rows (CPU-bound re-encode),
spread across executors with the engine's compute repartition; output is
the input row plus accounting (level counts, byte sizes) and the new blob.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# raw TIFF compression id -> tiffwrite name (lossless set + jpeg marker)
_COMP_NAMES = {
    1: "none", 5: "lzw", 8: "deflate", 32946: "deflate",
    32773: "packbits", 50000: "zstd", 34925: "lzma", 34887: "lerc",
    7: "jpeg",
}

PYRAMID_EXTRA = (
    ", status string, n_levels_in int, n_levels_out int"
    ", bytes_in bigint, bytes_out bigint"
)


def _rebuild_blob(blob: bytes, factors: tuple[int, ...], rebuild: bool):
    """(new_blob, status, n_levels_in, n_levels_out) for one TIFF blob."""
    from rasteret_spark.format import container, tiff, tiffwrite

    metas = tiff.parse_tiff_chain(tiff.blob_read(blob))
    n_in = len(metas)
    m = metas[0]
    if n_in > 1 and not rebuild:
        return blob, "has_overviews", n_in, n_in
    comp = _COMP_NAMES.get(m.compression)
    if comp is None:
        return blob, f"skipped_unknown_codec_{m.compression}", n_in, n_in
    if comp == "jpeg":
        return blob, "skipped_lossy", n_in, n_in
    if m.model_transform is not None:
        # the writer georeferences via scale+tiepoint only
        return blob, "skipped_model_transform", n_in, n_in
    arr = container.decode_full(blob)
    interleaved = m.samples_per_pixel > 1 and m.planar_config == 1
    new = tiffwrite.write_tiff(
        np.ascontiguousarray(arr),
        tile=(m.tile_w, m.tile_h) if m.tiled else None,
        rows_per_strip=None if m.tiled else m.tile_h,
        compression=comp,
        predictor=m.predictor,
        byte_order=m.byte_order,
        bigtiff=m.container == "bigtiff",
        interleaved=interleaved,
        pixel_scale=tuple(m.pixel_scale[:2]) if m.pixel_scale else None,
        tiepoint=(
            (float(m.tiepoint[3]), float(m.tiepoint[4]))
            if m.tiepoint else None
        ),
        epsg=m.epsg or None,
        raster_type=m.raster_type,
        nodata=m.nodata,
        overviews=list(factors),
    )
    return new, "ok", n_in, 1 + len(factors)


def build_overviews(
    images: DataFrame,
    factors: tuple[int, ...] = (2, 4),
    rebuild: bool = False,
) -> DataFrame:
    """Append a nearest-neighbour overview pyramid to every TIFF blob.

    Input: any DataFrame with ``image_id`` + ``bytes``.  Output: the same
    two columns (``bytes`` now pyramid-bearing where ``status = 'ok'``)
    plus ``status`` / ``n_levels_in`` / ``n_levels_out`` / ``bytes_in`` /
    ``bytes_out``.  See the module docstring for pass-through statuses."""
    from rasteret_spark.operators.util import spread_compute

    fs = tuple(int(f) for f in factors)
    if not fs or any(f < 2 for f in fs) or list(fs) != sorted(set(fs)):
        raise ValueError(
            f"factors must be ascending unique ints >= 2, got {factors!r}"
        )
    for c in ("image_id", "bytes"):
        if c not in images.columns:
            raise ValueError(f"build_overviews needs column {c!r}")

    src = images.select("image_id", "bytes")
    schema = "image_id string, bytes binary" + PYRAMID_EXTRA

    def run(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                blob = bytes(row["bytes"])
                try:
                    new, status, n_in, n_out = _rebuild_blob(
                        blob, fs, rebuild
                    )
                except Exception as e:  # noqa: BLE001 — quarantine, not crash
                    new, status = blob, f"error: {type(e).__name__}: {e}"
                    n_in = n_out = 0
                out.append({
                    "image_id": row["image_id"],
                    "bytes": new,
                    "status": status,
                    "n_levels_in": n_in,
                    "n_levels_out": n_out,
                    "bytes_in": len(blob),
                    "bytes_out": len(new),
                })
            yield pd.DataFrame(
                out, columns=[
                    "image_id", "bytes", "status", "n_levels_in",
                    "n_levels_out", "bytes_in", "bytes_out",
                ]
            )

    return spread_compute(src).mapInPandas(run, schema=schema)
