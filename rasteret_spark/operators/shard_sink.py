"""WebDataset-style tar-shard export for training samples.

At 100 TB, training data is served to DataLoader fleets as sequential tar
shards (the WebDataset/TFRecord pattern: big sequential reads, no per-file
metadata storms), not as millions of tiny files.  This sink turns per-chip
mosaic/composite rows into that layout, distributed:

- **ONE shuffle**: samples hash to shards with Catalyst ``xxhash64`` (the
  same deterministic assignment family as ``operators/splits`` — stable
  across runs, partitionings and appends), and the per-shard groupBy is the
  only data movement.  Shard files write executor-side through the
  pluggable writer registry (`sources/fetch._WRITERS`).
- **Byte-deterministic shards**: entries are sorted by sample key, the
  from-scratch ustar writer (`format/ustar.py`) pins every varying header
  field, ``.npy`` payloads use the fixed v1.0 format, and ``.json``
  metadata serializes with sorted keys — the same input always produces
  byte-identical shards (manifest carries sha256 so re-runs are provably
  idempotent).
- **Sample convention**: per chip ``<chip_id>.npy`` (float32,
  (n_bands, h, w)) + ``<chip_id>.json`` (bands present, grid
  georeferencing, filled count) sharing a basename — what WebDataset-style
  loaders expect.

``read_tar_shards`` closes the loop with the STDLIB ``tarfile`` parser (a
genuinely independent implementation from the writer), yielding sample
rows back as a DataFrame — so shard export is round-trip tested end to
end, never writer-verifies-writer.
"""

from __future__ import annotations

import hashlib
import io
import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

SHARD_MANIFEST_SCHEMA = (
    "shard_id int, href string, n_samples int, n_entries int, "
    "n_bytes bigint, sha256 string, status string"
)

SAMPLE_SCHEMA = (
    "chip_id string, shard_id int, n_bands int, height int, width int, "
    "filled bigint, v_sum double, "
    "chip_xmin double, chip_ymax double, chip_xres double, chip_yres double, "
    "grid_epsg int"
)

_REQUIRED = ("chip_id", "band", "values", "chip_xmin", "chip_ymax",
             "chip_xres", "chip_yres", "chip_w", "chip_h", "grid_epsg")


def _npy_bytes(arr: np.ndarray) -> bytes:
    buf = io.BytesIO()
    np.lib.format.write_array(buf, arr, version=(1, 0))
    return buf.getvalue()


def _assign_shards(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """``pmod(xxhash64(key), n_shards)`` shard assignment plus one skeleton
    row per shard id, so empty shards still materialize as trailer-only
    tars — loaders expect the contiguous shard-00000..N layout, and groupBy
    alone never yields sample-less groups.  pandas groupby(dropna=True)
    discards the null-key skeleton rows inside the export kernels.

    Rows whose key is NULL cannot name a tar member; they route to the
    sentinel shard ``-1`` whose manifest row the export kernels emit as a
    quarantine error (instead of int(NaN)-crashing the whole job on a
    null-keyed group)."""
    key = F.col(key_col)
    with_shard = df.withColumn(
        "shard_id",
        F.when(key.isNull(), F.lit(-1))
        .otherwise(F.pmod(F.xxhash64(key), F.lit(n_shards)))
        .cast("int"),
    )
    skeleton = with_shard.sparkSession.range(n_shards).select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in with_shard.schema.fields
            if f.name != "shard_id"
        ],
        F.col("id").cast("int").alias("shard_id"),
    )
    return with_shard.unionByName(skeleton)


def write_tar_shards(
    pixels: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    *,
    key_col: str = "chip_id",
    dtype: str = "float32",
    writers: dict | None = None,
) -> DataFrame:
    """Export per-chip pixel rows (MOSAIC_SCHEMA-shaped) as ``n_shards``
    WebDataset-style tar shards under ``out_dir`` (``shard-00000.tar`` ...),
    returning the manifest DataFrame (SHARD_MANIFEST_SCHEMA).

    Samples assign to shards by ``pmod(xxhash64(key), n_shards)`` —
    deterministic and append-stable, so an incremental re-export touches
    only the shards whose samples changed."""
    missing = [c for c in _REQUIRED if c not in pixels.columns]
    if missing:
        raise ValueError(f"write_tar_shards input missing columns {missing}")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from rasteret_spark.sources import fetch as fx

    wreg = dict(fx._WRITERS) if writers is None else dict(writers)
    out_dir = out_dir.rstrip("/")
    np_dtype = np.dtype(dtype)

    with_shard = _assign_shards(pixels, key_col, n_shards)

    def export(pdf: pd.DataFrame) -> pd.DataFrame:
        from rasteret_spark.format import ustar
        from rasteret_spark.sources.fetch import put

        shard_id = int(pdf.iloc[0]["shard_id"])
        if shard_id < 0:  # the null-key quarantine shard — no file to write
            return pd.DataFrame([{
                "shard_id": shard_id, "href": None, "n_samples": 0,
                "n_entries": 0, "n_bytes": None, "sha256": None,
                "status": f"error: {len(pdf)} rows with null {key_col}",
            }])
        href = f"{out_dir}/shard-{shard_id:05d}.tar"
        base = {
            "shard_id": shard_id, "href": href, "n_samples": 0,
            "n_entries": 0, "n_bytes": None, "sha256": None, "status": "ok",
        }
        try:
            entries: list[tuple[str, bytes]] = []
            n_samples = 0
            for chip_id, g in sorted(pdf.groupby(key_col, sort=False),
                                     key=lambda kv: str(kv[0])):
                g = g[g["values"].notna()].sort_values("band")
                if g.empty:
                    continue
                if g["band"].duplicated().any():
                    # same condition write_cogs quarantines: duplicate planes
                    # must not silently stack into the sample
                    dup = sorted(set(g["band"][g["band"].duplicated()]))
                    raise ValueError(
                        f"duplicate band rows for chip {chip_id}: bands {dup}"
                    )
                r0 = g.iloc[0]
                w, h = int(r0["chip_w"]), int(r0["chip_h"])
                planes = []
                for vals in g["values"]:
                    try:  # Arrow hands ndarrays (nulls already NaN)
                        a = np.asarray(vals, dtype=np.float64)
                    except (TypeError, ValueError):  # list-of-None inputs
                        a = np.asarray(
                            [np.nan if v is None else float(v) for v in vals],
                            dtype="float64",
                        )
                    if a.size != w * h:
                        raise ValueError(
                            f"chip {chip_id}: band array size {a.size} != {w}x{h}"
                        )
                    planes.append(a.reshape(h, w).astype(np_dtype))
                arr = np.stack(planes)
                meta = {
                    "bands": [int(b) for b in g["band"]],
                    "chip_xmin": float(r0["chip_xmin"]),
                    "chip_ymax": float(r0["chip_ymax"]),
                    "chip_xres": float(r0["chip_xres"]),
                    "chip_yres": float(r0["chip_yres"]),
                    "grid_epsg": int(r0["grid_epsg"]),
                    "filled": int(np.count_nonzero(~np.isnan(arr))),
                }
                entries.append(
                    (f"{chip_id}.json",
                     json.dumps(meta, sort_keys=True).encode())
                )
                entries.append((f"{chip_id}.npy", _npy_bytes(arr)))
                n_samples += 1
            blob = ustar.tar_bytes(entries)
            put(href, blob, writers=wreg)
            base.update(
                n_samples=n_samples, n_entries=len(entries),
                n_bytes=len(blob), sha256=hashlib.sha256(blob).hexdigest(),
            )
        except Exception as e:  # quarantine the shard, keep the export job
            base["status"] = f"error: {type(e).__name__}: {e}"[:200]
        return pd.DataFrame([base])

    return with_shard.groupBy("shard_id").applyInPandas(
        export, schema=SHARD_MANIFEST_SCHEMA
    )


def _read_shard_samples(spark, pattern: str, columns: list[str],
                        schema: str, build_row) -> DataFrame:
    """Shared tar-walk for the shard readers: ``binaryFile`` scan ->
    stdlib ``tarfile`` parse -> ``build_row(key, shard_id, members)`` per
    ``<key>.json`` member.  One place for the shard-id filename parse,
    member extraction and the empty-shard explicit-columns edge (a
    column-less pandas frame would fail the Arrow schema check)."""
    files = spark.read.format("binaryFile").load(pattern)

    def parse(batches):
        import sys
        import tarfile

        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                # read-side quarantine: one corrupt shard (unparseable tar,
                # duplicate member names, a .json without its .npy sibling)
                # skips with a logged count instead of killing the scan —
                # the read leg mirrors the write side's per-shard isolation
                try:
                    name = r["path"].rsplit("/", 1)[1]
                    shard_id = int(
                        name.removeprefix("shard-").removesuffix(".tar")
                    )
                    with tarfile.open(fileobj=io.BytesIO(bytes(r["content"]))) as t:
                        files_in = [m for m in t.getmembers() if m.isfile()]
                        members = {m.name: t.extractfile(m).read()
                                   for m in files_in}
                    if len(members) != len(files_in):
                        raise ValueError("duplicate member names in tar")
                except Exception as e:
                    print(f"shard quarantined on read: {r['path']}: "
                          f"{type(e).__name__}: {e}", file=sys.stderr)
                    continue
                for ename in members:
                    if not ename.endswith(".json"):
                        continue
                    key = ename.removesuffix(".json")
                    try:
                        out.append(build_row(key, shard_id, members))
                    except Exception as e:
                        print(f"sample quarantined on read: {r['path']} "
                              f"{key}: {type(e).__name__}: {e}",
                              file=sys.stderr)
            yield pd.DataFrame(out, columns=columns)

    return files.mapInPandas(parse, schema=schema)


def _npy_pixel_stats(members: dict, key: str) -> dict:
    arr = np.lib.format.read_array(io.BytesIO(members[f"{key}.npy"]))
    a64 = arr.astype(np.float64)
    filled = int(np.count_nonzero(~np.isnan(a64)))
    return {
        "n_bands": int(arr.shape[0]),
        "height": int(arr.shape[1]),
        "width": int(arr.shape[2]),
        "filled": filled,
        "v_sum": float(np.nansum(a64)) if filled else None,
    }


def read_tar_shards(spark, pattern: str) -> DataFrame:
    """Distributed shard reader: one row per chip sample with its grid
    metadata and pixel aggregates (SAMPLE_SCHEMA).  The independent read
    leg of the shard roundtrip (stdlib tarfile, nothing shared with the
    writer); also the shape a training-side Spark job would use to audit
    shards without touching the DataLoader path."""

    def build_row(key, shard_id, members):
        meta = json.loads(members[f"{key}.json"])
        return {
            "chip_id": key,
            "shard_id": shard_id,
            **_npy_pixel_stats(members, key),
            "chip_xmin": meta["chip_xmin"],
            "chip_ymax": meta["chip_ymax"],
            "chip_xres": meta["chip_xres"],
            "chip_yres": meta["chip_yres"],
            "grid_epsg": meta["grid_epsg"],
        }

    return _read_shard_samples(
        spark, pattern,
        ["chip_id", "shard_id", "n_bands", "height", "width", "filled",
         "v_sum", "chip_xmin", "chip_ymax", "chip_xres", "chip_yres",
         "grid_epsg"],
        SAMPLE_SCHEMA, build_row,
    )


IMAGE_SAMPLE_SCHEMA = (
    "image_id string, shard_id int, n_bands int, height int, width int, "
    "filled bigint, v_sum double, caption string"
)


def write_image_shards(
    images: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    *,
    key_col: str = "image_id",
    blob_col: str = "bytes",
    caption_col: str | None = "caption",
    dtype: str = "float32",
    writers: dict | None = None,
) -> DataFrame:
    """Export whole images (+ their captions) as WebDataset-style tar
    shards: per sample ``<image_id>.npy`` (float32 [C,H,W], decoded through
    the container dispatch, nodata masked to NaN), ``<image_id>.txt`` (the
    caption bytes EXACTLY as stored — byte-for-byte equality is part of the
    engine's contract; a NULL caption writes NO .txt member, so missing and
    empty round-trip distinctly) and ``<image_id>.json`` (dims, band count,
    nodata, filled).  Same guarantees as `write_tar_shards`: one shuffle,
    xxhash64 append-stable assignment, deterministic bytes, every shard id
    materialized, per-shard quarantine.  Returns the manifest DataFrame."""
    for c in (key_col, blob_col):
        if c not in images.columns:
            raise ValueError(f"write_image_shards input missing column {c!r}")
    if caption_col is not None and caption_col not in images.columns:
        raise ValueError(f"write_image_shards input missing column {caption_col!r}")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from rasteret_spark.sources import fetch as fx

    wreg = dict(fx._WRITERS) if writers is None else dict(writers)
    out_dir = out_dir.rstrip("/")
    np_dtype = np.dtype(dtype)
    cols = [key_col, blob_col] + ([caption_col] if caption_col else [])
    with_shard = _assign_shards(images.select(*cols), key_col, n_shards)

    def export(pdf: pd.DataFrame) -> pd.DataFrame:
        from rasteret_spark.format import container, ustar
        from rasteret_spark.sources.fetch import put

        shard_id = int(pdf.iloc[0]["shard_id"])
        if shard_id < 0:  # the null-key quarantine shard — no file to write
            return pd.DataFrame([{
                "shard_id": shard_id, "href": None, "n_samples": 0,
                "n_entries": 0, "n_bytes": None, "sha256": None,
                "status": f"error: {len(pdf)} rows with null {key_col}",
            }])
        href = f"{out_dir}/shard-{shard_id:05d}.tar"
        base = {
            "shard_id": shard_id, "href": href, "n_samples": 0,
            "n_entries": 0, "n_bytes": None, "sha256": None, "status": "ok",
        }
        try:
            entries: list[tuple[str, bytes]] = []
            n_samples = 0
            real = pdf[pdf[key_col].notna()].sort_values(key_col)
            for _, r in real.iterrows():
                key = str(r[key_col])
                blob = bytes(r[blob_col])
                meta = container.parse_any(blob)
                arr = container.decode_full(blob)
                # disambiguate layout by the PARSED dims, not shape
                # heuristics (a chunky image whose height equals its band
                # count would misclassify otherwise)
                planar = (meta.n_bands, meta.height, meta.width)
                chunky = (meta.height, meta.width, meta.n_bands)
                if arr.ndim == 2:
                    arr = arr[None]
                elif arr.shape != planar and arr.shape == chunky:
                    arr = np.ascontiguousarray(np.moveaxis(arr, -1, 0))
                elif arr.shape != planar:
                    raise ValueError(
                        f"{key}: decoded shape {arr.shape} matches neither "
                        f"planar {planar} nor chunky {chunky}"
                    )
                a = arr.astype(np_dtype)
                if meta.nodata is not None and not np.isnan(meta.nodata):
                    a = np.where(
                        arr == np.asarray(meta.nodata).astype(arr.dtype), np.nan, a
                    ).astype(np_dtype)
                jmeta = {
                    "n_bands": int(a.shape[0]),
                    "height": int(a.shape[1]),
                    "width": int(a.shape[2]),
                    "nodata": None if meta.nodata is None else float(meta.nodata),
                    "filled": int(np.count_nonzero(~np.isnan(a.astype("float64")))),
                }
                entries.append(
                    (f"{key}.json", json.dumps(jmeta, sort_keys=True).encode())
                )
                entries.append((f"{key}.npy", _npy_bytes(a)))
                if caption_col is not None and not pd.isna(r[caption_col]):
                    entries.append((f"{key}.txt", str(r[caption_col]).encode()))
                n_samples += 1
            blob = ustar.tar_bytes(entries)
            put(href, blob, writers=wreg)
            base.update(
                n_samples=n_samples, n_entries=len(entries),
                n_bytes=len(blob), sha256=hashlib.sha256(blob).hexdigest(),
            )
        except Exception as e:  # quarantine the shard, keep the export job
            base["status"] = f"error: {type(e).__name__}: {e}"[:200]
        return pd.DataFrame([base])

    return with_shard.groupBy("shard_id").applyInPandas(
        export, schema=SHARD_MANIFEST_SCHEMA
    )


def read_image_shards(spark, pattern: str) -> DataFrame:
    """Independent read leg for `write_image_shards`: one row per sample
    with pixel aggregates and the caption decoded from its ``.txt`` bytes
    (IMAGE_SAMPLE_SCHEMA; a sample without a .txt member reads back as a
    NULL caption, distinct from an empty one)."""

    def build_row(key, shard_id, members):
        cap = members.get(f"{key}.txt")
        return {
            "image_id": key,
            "shard_id": shard_id,
            **_npy_pixel_stats(members, key),
            "caption": None if cap is None else cap.decode(),
        }

    return _read_shard_samples(
        spark, pattern,
        ["image_id", "shard_id", "n_bands", "height", "width", "filled",
         "v_sum", "caption"],
        IMAGE_SAMPLE_SCHEMA, build_row,
    )
