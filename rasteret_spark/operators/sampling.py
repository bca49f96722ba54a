"""Point sampling: staged DataFrame plan with per-image tile-dedup decode.

Spark re-expression of rasteret's 4-phase point sampler
(`src/rasteret/core/raster_accessor.py:340-1046` + planning helpers
`src/rasteret/core/point_sample_helpers.py:59-249`):

  phase 1 (plan)   — the candidate join (points x images):
                     ``spatial_join.point_in_bbox_join`` over LIGHT columns
                     (no blobs in the cell-join shuffle);
  phase 2 (group)  — candidates collapse to one row per image
                     (``collect_list`` of point structs), then join the image
                     ``bytes`` so each blob moves through at most one shuffle;
  phase 3 (lookup) — inside ``mapInArrow``: inverse-affine all points at
                     once, decode each touched tile ONCE via a per-image
                     CachedReader (A9 tile dedup), gather values, flag nodata;
  phase 4 (ring)   — nodata points fall back to an expanding Chebyshev ring
                     search for the nearest valid pixel (exact center-distance
                     scoring, deterministic (d², row, col) tie-break), bounded
                     by ``max_ring`` — the J5 kNN-flavoured ring search.  The
                     ring scan is VECTORIZED across points: per radius k, ALL
                     still-unresolved points gather their ring pixels at once
                     through the shared tile cache (no per-point window loop).

``sample_join(images, points)`` is the way in: it takes the stored image
table and the probe points and runs all four phases; ``sample_points`` is
phases 2-4 over already-joined candidates.

Error containment (R12): a corrupt blob yields per-point quarantine rows with
a ``status`` column instead of failing the task — mirroring the reference's
per-record failure collection (`src/rasteret/core/execution.py:274-297`,
`core/raster_accessor.py:1183-1313`).  Healthy rows carry ``status='ok'``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark import crs
from rasteret_spark.format import miniraster as mr

SAMPLES_SCHEMA = (
    "point_index bigint, image_id string, band int, px_col int, px_row int, "
    "in_bounds boolean, value double, valid boolean, ring_steps int, "
    "sample_col int, sample_row int, status string"
)
NEIGHBORHOOD_COL = ", neighborhood array<double>"
# the same columns as Arrow types: the sampling kernel builds its output
# batches against these, straight from numpy
SAMPLES_ARROW = pa.schema([
    ("point_index", pa.int64()), ("image_id", pa.string()), ("band", pa.int32()),
    ("px_col", pa.int32()), ("px_row", pa.int32()), ("in_bounds", pa.bool_()),
    ("value", pa.float64()), ("valid", pa.bool_()), ("ring_steps", pa.int32()),
    ("sample_col", pa.int32()), ("sample_row", pa.int32()), ("status", pa.string()),
])
NEIGHBORHOOD_FIELD = pa.field("neighborhood", pa.list_(pa.float64()))


def _gather_pixels(
    reader: mr.CachedReader, band: int, rr: np.ndarray, cc: np.ndarray
) -> np.ndarray:
    """Vectorized pixel gather: read the touched tiles in one coalesced
    pass (decoded once, shared cache), fancy-index all requested (row, col)
    pairs.  Coords (1-D) must be in-raster.  One stable argsort groups the
    requests by tile id; each tile serves its contiguous run, tiles in
    ascending id order."""
    meta = reader.meta
    out = np.empty(rr.shape, dtype=np.float64)
    tids = (rr // meta.tile_h) * meta.tiles_x + (cc // meta.tile_w)
    order = np.argsort(tids, kind="stable")
    stids = tids[order]
    starts = np.flatnonzero(np.diff(stids, prepend=-1))
    tiles = reader.tiles(band * meta.tiles_per_band + stids[starts])
    for s, e, tile in zip(starts, np.append(starts[1:], len(order)), tiles):
        sel = order[s:e]
        out[sel] = tile[rr[sel] % meta.tile_h, cc[sel] % meta.tile_w]
    return out


def _ring_offsets(k: int) -> np.ndarray:
    """(m, 2) row/col offsets of the Chebyshev ring at radius k (8k pixels)."""
    side = np.arange(-k, k + 1)
    top = np.stack([np.full(2 * k + 1, -k), side], axis=1)
    bot = np.stack([np.full(2 * k + 1, k), side], axis=1)
    mid = side[1:-1]
    lef = np.stack([mid, np.full(2 * k - 1, -k)], axis=1)
    rig = np.stack([mid, np.full(2 * k - 1, k)], axis=1)
    return np.concatenate([top, bot, lef, rig]).astype(np.int64)


def _ring_fallback(
    reader: mr.CachedReader,
    band: int,
    max_ring: int,
    need: np.ndarray,  # bool mask over points: in-bounds AND nodata-invalid
    rows: np.ndarray,
    cols: np.ndarray,
    frows: np.ndarray,
    fcols: np.ndarray,
):
    """Vectorized expanding-ring nearest-valid-pixel search.

    Per radius k all active points gather their 8k ring pixels in ONE pass
    (tile-deduped), the per-point (d², row, col)-lexicographic best is kept
    as a running candidate, and a point retires once its best is certified
    (d² <= (k-0.5)² — a strictly closer pixel can still appear one ring out).
    Returns (best_r, best_c, best_v) arrays (-1 / NaN where unresolved) —
    bit-identical to the per-point scan it replaces.
    """
    meta = reader.meta
    n = len(rows)
    best_d2 = np.full(n, np.inf)
    best_r = np.full(n, -1, dtype=np.int64)
    best_c = np.full(n, -1, dtype=np.int64)
    best_v = np.full(n, np.nan)
    active = need.copy()
    nod = meta.nodata
    for k in range(1, max_ring + 1):
        idx = np.nonzero(active)[0]
        if not len(idx):
            break
        offs = _ring_offsets(k)
        rr = rows[idx][:, None] + offs[None, :, 0]  # (p, m)
        cc = cols[idx][:, None] + offs[None, :, 1]
        inside = (rr >= 0) & (rr < meta.height) & (cc >= 0) & (cc < meta.width)
        vals = np.full(rr.shape, np.nan)
        if inside.any():
            vals[inside] = _gather_pixels(reader, band, rr[inside], cc[inside])
        ok = inside & (
            ~np.isnan(vals) if np.isnan(nod) else (vals != nod)
        ) & ~np.isnan(vals)
        d2 = (rr + 0.5 - frows[idx][:, None]) ** 2 + (cc + 0.5 - fcols[idx][:, None]) ** 2
        d2 = np.where(ok, d2, np.inf)
        # per-point lexicographic min over the ring by (d2, row, col):
        # sort rows of each point by the tuple, take the first per point
        p, m = d2.shape
        pidx = np.repeat(np.arange(p), m)
        order = np.lexsort((cc.ravel(), rr.ravel(), d2.ravel(), pidx))
        first = order[np.searchsorted(pidx[order], np.arange(p))]
        cand_d2, cand_r, cand_c, cand_v = (
            d2.ravel()[first], rr.ravel()[first], cc.ravel()[first], vals.ravel()[first]
        )
        has = np.isfinite(cand_d2)
        better = has & (
            (cand_d2 < best_d2[idx])
            | ((cand_d2 == best_d2[idx]) & (cand_r < best_r[idx]))
            | ((cand_d2 == best_d2[idx]) & (cand_r == best_r[idx]) & (cand_c < best_c[idx]))
        )
        upd = idx[better]
        best_d2[upd] = cand_d2[better]
        best_r[upd] = cand_r[better]
        best_c[upd] = cand_c[better]
        best_v[upd] = cand_v[better]
        # certification: retire points whose best cannot be beaten further out
        active[idx[best_d2[idx] <= (k - 0.5) ** 2]] = False
    return best_r, best_c, best_v


def _neighborhood_windows(
    reader: mr.CachedReader,
    band: int,
    neighborhood: int,
    in_bounds: np.ndarray,
    rows: np.ndarray,
    cols: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Edge-clamped n x n windows for all in-bounds points, gathered in one
    vectorized pass (the reference's neighbourhood_values,
    `src/rasteret/types.py:36-40`; clamped offsets
    `core/point_sample_helpers.py:158-229`), row-major flattened.

    Returns ``(lens, vals)``: each point's window length (-1, a null
    window, for an out-of-bounds point) and the in-bounds points' windows
    back to back — the offsets and child values of an Arrow list column,
    with no per-point Python list."""
    meta = reader.meta
    half = neighborhood // 2
    wh = min(neighborhood, meta.height)
    ww = min(neighborhood, meta.width)
    lens = np.where(in_bounds, wh * ww, -1)
    idx = np.nonzero(in_bounds)[0]
    if not len(idx):
        return lens, np.empty(0)
    rr0 = np.clip(rows[idx] - half, 0, meta.height - 1)
    cc0 = np.clip(cols[idx] - half, 0, meta.width - 1)
    rr0 = np.minimum(rr0, max(meta.height - neighborhood, 0))
    cc0 = np.minimum(cc0, max(meta.width - neighborhood, 0))
    rr = (rr0[:, None] + np.arange(wh))[:, :, None]  # (p, wh, 1)
    cc = (cc0[:, None] + np.arange(ww))[:, None, :]  # (p, 1, ww)
    rr, cc = np.broadcast_arrays(rr, cc)
    return lens, _gather_pixels(reader, band, rr.reshape(-1), cc.reshape(-1))


def _sample_image(
    image_id, reader: mr.CachedReader, point_index, x, y, max_ring: int,
    bands: tuple[int, ...] = (0,), neighborhood: int = 0,
) -> dict:
    """Samples of one image's points (``point_index``, lon ``x``, lat ``y``
    arrays): one column array per output column, rows band-major.  With
    ``neighborhood`` the windows come as ``nb_len`` / ``nb_vals``
    (``_neighborhood_windows``)."""
    meta = reader.meta
    a, _, c, _, e, f = meta.transform
    xs, ys = crs.from_lonlat(
        meta.epsg, np.asarray(x, dtype=float), np.asarray(y, dtype=float)
    )
    fcols = (xs - c) / a
    frows = (ys - f) / e
    cols = np.floor(fcols).astype(np.int64)
    rows = np.floor(frows).astype(np.int64)
    in_bounds = (cols >= 0) & (cols < meta.width) & (rows >= 0) & (rows < meta.height)

    n = len(xs)
    img_bands = [b for b in bands if b < meta.n_bands]
    parts: dict[str, list] = {k: [] for k in (
        "point_index", "image_id", "band", "px_col", "px_row", "in_bounds",
        "value", "valid", "ring_steps", "sample_col", "sample_row", "status",
    )}
    if neighborhood > 0:
        parts["nb_len"], parts["nb_vals"] = [], []

    pidx = np.asarray(point_index, dtype=np.int64)
    for band in img_bands:
        value = np.full(n, np.nan)
        valid = np.zeros(n, dtype=bool)
        ring_steps = np.zeros(n, dtype=np.int32)
        s_col = np.where(in_bounds, cols, -1).astype(np.int64)
        s_row = np.where(in_bounds, rows, -1).astype(np.int64)

        # phase 3 vectorized: gather all in-bounds point values in one pass
        # (each touched tile decodes once — A9 tile dedup)
        if in_bounds.any():
            value[in_bounds] = _gather_pixels(
                reader, band, rows[in_bounds], cols[in_bounds]
            )
        if meta.nodata is None:
            valid[in_bounds] = True
        else:
            valid[in_bounds] = value[in_bounds] != meta.nodata

        if max_ring > 0 and meta.nodata is not None:
            need = in_bounds & ~valid
            if need.any():
                br, bc, bv = _ring_fallback(
                    reader, band, max_ring, need, rows, cols, frows, fcols
                )
                hit = need & (br >= 0)
                value[hit] = bv[hit]
                valid[hit] = True
                ring_steps[hit] = np.maximum(
                    np.abs(br[hit] - rows[hit]), np.abs(bc[hit] - cols[hit])
                ).astype(np.int32)
                s_row[hit], s_col[hit] = br[hit], bc[hit]

        parts["point_index"].append(pidx)
        parts["image_id"].append(np.full(n, image_id, dtype=object))
        parts["band"].append(np.full(n, band, dtype=np.int32))
        parts["px_col"].append(cols.astype(np.int32))
        parts["px_row"].append(rows.astype(np.int32))
        parts["in_bounds"].append(in_bounds)
        parts["value"].append(value)  # non-finite -> null in _samples_batch
        parts["valid"].append(valid)
        parts["ring_steps"].append(ring_steps)
        parts["sample_col"].append(s_col.astype(np.int32))
        parts["sample_row"].append(s_row.astype(np.int32))
        parts["status"].append(np.full(n, "ok", dtype=object))
        if neighborhood > 0:
            nb_len, nb_vals = _neighborhood_windows(
                reader, band, neighborhood, in_bounds, rows, cols
            )
            parts["nb_len"].append(nb_len)
            parts["nb_vals"].append(nb_vals)

    return {k: np.concatenate(v) if v else np.array([]) for k, v in parts.items()}


def _quarantine_rows(image_id, point_index, msg: str, neighborhood: int) -> dict:
    """Per-point status rows for an image whose blob failed to decode."""
    n = len(point_index)
    out = {
        "point_index": np.asarray(point_index, dtype=np.int64),
        "image_id": np.full(n, image_id, dtype=object),
        "band": np.full(n, -1, dtype=np.int32),
        "px_col": np.full(n, -1, dtype=np.int32),
        "px_row": np.full(n, -1, dtype=np.int32),
        "in_bounds": np.zeros(n, dtype=bool),
        "value": np.full(n, np.nan),
        "valid": np.zeros(n, dtype=bool),
        "ring_steps": np.zeros(n, dtype=np.int32),
        "sample_col": np.full(n, -1, dtype=np.int32),
        "sample_row": np.full(n, -1, dtype=np.int32),
        "status": np.full(n, msg, dtype=object),
    }
    if neighborhood > 0:
        out["nb_len"], out["nb_vals"] = np.full(n, -1), np.empty(0)
    return out


def _samples_batch(parts: list[dict], schema: pa.Schema) -> pa.RecordBatch:
    """One output batch from per-image column arrays, typed by ``schema``
    (``SAMPLES_ARROW``, plus ``NEIGHBORHOOD_FIELD`` when windows are on).
    Null semantics: a non-finite ``value`` is null, and so is a NaN inside
    a window; an out-of-bounds or quarantined point's window is null."""
    parts = [p for p in parts if len(p["point_index"])]
    if not parts:
        return pa.RecordBatch.from_pylist([], schema=schema)
    col = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    arrays = [
        pa.array(col["value"], mask=~np.isfinite(col["value"])) if f.name == "value"
        else pa.array(col[f.name], type=f.type)
        for f in SAMPLES_ARROW
    ]
    if "nb_len" in col:
        lens, vals = col["nb_len"], col["nb_vals"]
        offsets = np.concatenate([[0], np.cumsum(np.maximum(lens, 0))]).astype(np.int32)
        arrays.append(pa.ListArray.from_arrays(
            offsets, pa.array(vals, type=pa.float64(), mask=np.isnan(vals)),
            mask=pa.array(lens < 0),
        ))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _sample_batches(
    batches: Iterator[pa.RecordBatch], payload_col: str, open_blob, max_ring: int,
    bands: tuple[int, ...], neighborhood: int,
) -> Iterator[pa.RecordBatch]:
    """The sampling kernel: per grouped-side row (``image_id``, payload,
    ``_pts`` list of point structs) slice the image's points straight out
    of the list's offsets and child arrays, sample them, and emit one
    ``RecordBatch`` per input batch."""
    from rasteret_spark.operators.decode import _err_status

    schema = SAMPLES_ARROW
    if neighborhood > 0:
        schema = schema.append(NEIGHBORHOOD_FIELD)
    for rb in batches:
        pts = rb.column("_pts")
        offs = pts.offsets.to_numpy()
        offs = offs - offs[0]
        st = pts.flatten()
        fields = {f.name: a.to_numpy(zero_copy_only=False) for f, a in zip(st.type, st.flatten())}
        pidx, xs, ys = fields["point_index"], fields["x"], fields["y"]
        parts = []
        for i, (image_id, blob) in enumerate(
            zip(rb.column("image_id").to_pylist(), rb.column(payload_col).to_pylist())
        ):
            sl = slice(offs[i], offs[i + 1])
            try:
                reader = mr.CachedReader(open_blob(blob))
                parts.append(_sample_image(
                    image_id, reader, pidx[sl], xs[sl], ys[sl], max_ring, bands, neighborhood
                ))
            except Exception as e:  # quarantine rows, not a task failure
                parts.append(_quarantine_rows(image_id, pidx[sl], _err_status(e), neighborhood))
        yield _samples_batch(parts, schema)


def sample_join(
    images: DataFrame,
    points: DataFrame,
    *,
    res: int = 8,
    max_ring: int = 0,
    bands: tuple[int, ...] | list[int] | None = None,
    neighborhood: int = 0,
) -> DataFrame:
    """Pixel samples at points from the stored tables — the pipeline's one
    composition, owning candidate generation.

    ``images``: image_id, xmin/ymin/xmax/ymax and ``bytes`` or ``href``
    (remote: windows read through ranged fetches).  ``points``:
    point_index, x, y (lon/lat).  ``spatial_join.point_in_bbox_join`` pairs
    every point with each image whose bbox contains it, at cell level
    ``res``; ``sample_points`` then
    reads the pixels (``max_ring``, ``bands``, ``neighborhood`` as there).
    Returns SAMPLES_SCHEMA rows."""
    from rasteret_spark.operators import spatial_join as sj

    cands = sj.point_in_bbox_join(
        points.select("point_index", "x", "y"), sj.image_light(images), res=res
    ).select("point_index", "x", "y", "image_id")
    return sample_points(
        cands, images, max_ring=max_ring, bands=bands, neighborhood=neighborhood
    )


def sample_points(
    candidates: DataFrame,
    images: DataFrame,
    max_ring: int = 0,
    bands: tuple[int, ...] | list[int] | None = None,
    neighborhood: int = 0,
) -> DataFrame:
    """``candidates``: light output of ``point_in_bbox_join``
    (point_index, x, y, image_id — NO bytes; ``sample_join`` builds them,
    call that instead).  ``images``: image_id + ``bytes`` or ``href``.
    Returns SAMPLES_SCHEMA rows, one per candidate pair per requested band
    (bands missing from an image are skipped).  ``neighborhood=n`` (odd n)
    appends an n x n edge-clamped window per in-bounds sample as an
    ``array<double>`` column.  A corrupt blob yields one quarantine row per
    candidate point (status column) instead of failing the stage.

    Building the plan runs the candidate join once: the grouped point side
    is local-checkpointed, and its pair count, observed while the checkpoint
    is written, picks broadcast vs shuffle join
    (``decode.join_grouped_side``).  The kernel (``_sample_batches``) runs
    in ``mapInArrow``: no pandas conversion of the grouped points on the way
    in or of the samples on the way out."""
    from rasteret_spark.operators.decode import blob_source, join_grouped_side

    want_bands = tuple(bands) if bands is not None else (0,)
    payload_col, open_blob = blob_source(images)
    src = join_grouped_side(
        images.select("image_id", payload_col), candidates, ["point_index", "x", "y"], "_pts"
    )

    schema = SAMPLES_SCHEMA + (NEIGHBORHOOD_COL if neighborhood > 0 else "")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _sample_batches(batches, payload_col, open_blob, max_ring, want_bands, neighborhood)

    return src.mapInArrow(run, schema=schema)


def point_time_series(samples: DataFrame, image_times: DataFrame) -> DataFrame:
    """Per-point temporal drill: fold SAMPLES_SCHEMA rows into one row per
    (point, band) with the full observation series ordered by time — the
    time-series-analysis primitive (the reference's per-point sampling
    returns flat rows, `src/rasteret/core/point_sampling.py:350-514`;
    analysis over them happens client-side there).

    ``image_times``: (image_id, datetime) — the light columns of the
    records table; joined by image_id (auto-broadcast under AQE when
    small).  Only valid in-bounds samples enter the series.  Output:
    ``series array<struct<t, image_id, value>>`` (chronological,
    image_id tie-break) + n_obs / first / last / mean summary columns,
    all pure Catalyst."""
    valid = samples.filter(F.col("valid") & F.col("in_bounds")).select(
        "point_index", "band", "image_id", "value"
    )
    joined = valid.join(
        image_times.select("image_id", F.col("datetime").alias("_t")), "image_id"
    )
    series = F.array_sort(
        F.collect_list(F.struct(F.col("_t").alias("t"), "image_id", "value"))
    )
    return (
        joined.groupBy("point_index", "band")
        .agg(series.alias("series"))
        .select(
            "point_index",
            "band",
            F.size("series").alias("n_obs"),
            F.element_at("series", 1)["t"].alias("t_first"),
            F.element_at("series", -1)["t"].alias("t_last"),
            F.aggregate(
                "series", F.lit(0.0), lambda acc, s: acc + s["value"]
            ).alias("_sum"),
            "series",
        )
        .withColumn("v_mean", F.col("_sum") / F.col("n_obs"))
        .drop("_sum")
    )
