"""Vectorized (Arrow/numpy) per-chip kernels behind the focal operators,
plus the ``mapInPandas`` runner and sort helpers ``band_math`` shares.

Each kernel takes one chip as a whole 2-D array and evaluates the stencil
with numpy over the chip at once: whole batches go to vectorized native
code, where a per-element interpreted expression would cost ~37k lambda
calls per 4096-px chip for a 3x3 stencil.

Float contract — every kernel's output is a fixed function of its input
bits, so independent oracles (``oracles/truth.py``) can reproduce it
exactly:

* every float reduction is a strict left fold in a fixed order (tap
  row-major offset order, or pixel order) — ``cumsum``'s last element or
  an explicit loop, never ``np.sum`` (pairwise summation rounds
  differently);
* "skip the nulls" folds never add a spurious ``0.0`` (which would turn a
  ``-0.0`` partial into ``+0.0``): accumulation uses ``np.where(valid,
  acc + term, acc)`` chains;
* min/max keep the FIRST extreme in fold order (``-0.0`` and ``0.0`` tie,
  as in Spark's ``array_min``/``array_max``);
* sorts use an IEEE-754 total-order key so ``-0.0 < 0.0`` exactly like
  Java's ``Double.compare`` inside ``array_sort``.

Inputs arrive through ``mapInPandas``: Arrow hands ``array<double>`` cells
to pandas as float64 ndarrays with nulls already NaN, so null<->NaN is the
(lossless) interchange convention here, exactly as in ``timeseries.gap_fill``.
Rows whose ``values`` is null pass through with null outputs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rasteret_spark.operators.util import nanlist


def _row_array(cell) -> np.ndarray | None:
    """One DataFrame array cell -> float64 ndarray (nulls -> NaN), or None
    for a null cell."""
    if cell is None or (isinstance(cell, float) and np.isnan(cell)):
        return None
    return np.asarray(cell, dtype=np.float64)


def total_order_key(a: np.ndarray) -> np.ndarray:
    """IEEE-754 total-order sort key for float64 (no NaNs expected): maps
    doubles to uint64 so ascending int order == Java Double.compare order
    (``-0.0 < 0.0``)."""
    u = a.view(np.uint64)
    return np.where(u >> np.uint64(63) == 1, ~u, u | np.uint64(1 << 63))


def sort_doubles(a: np.ndarray) -> np.ndarray:
    """array_sort-equivalent ascending sort of a 1-D double array."""
    return a[np.argsort(total_order_key(a), kind="stable")]


def _clamped_taps(v2d: np.ndarray, radius: int):
    """Replicate-clamped window taps of a 2-D array in row-major offset
    order (dr outer, dc inner) — the order every fold below accumulates
    in.  Yields (dr, dc, tap) where ``tap`` has the input shape."""
    p = np.pad(v2d, radius, mode="edge")
    h, w = v2d.shape
    for dr in range(-radius, radius + 1):
        for dc in range(-radius, radius + 1):
            yield dr, dc, p[radius + dr : radius + dr + h, radius + dc : radius + dc + w]


def focal_stat_2d(v2d: np.ndarray, stat: str, radius: int) -> np.ndarray:
    """Focal statistic over one chip: ``stat`` over the VALID taps of the
    replicate-clamped window; a pixel with zero valid taps is NaN (null).
    Sums fold in tap order; min/max keep the first extreme tap."""
    taps = [t for _, _, t in _clamped_taps(v2d, radius)]
    valid = [~np.isnan(t) for t in taps]
    nv = np.zeros(v2d.shape)
    for m in valid:
        nv = nv + m
    if stat == "count":
        return nv + 0.0  # count of valid taps as double
    if stat in ("min", "max"):
        # replace only on a strict improvement: the first extreme tap wins,
        # so -0.0 and 0.0 tie and the earlier one is kept
        better = np.less if stat == "min" else np.greater
        acc = np.full(v2d.shape, np.nan)
        for t, m in zip(taps, valid):
            acc = np.where(m & (np.isnan(acc) | better(t, acc)), t, acc)
        return acc
    # sum / mean: left-fold over valid taps in tap order, no spurious 0.0
    s = np.zeros(v2d.shape)
    for t, m in zip(taps, valid):
        s = np.where(m, s + np.where(m, t, 0.0), s)
    if stat == "sum":
        return np.where(nv > 0, s, np.nan)
    return np.where(nv > 0, s / nv, np.nan)


SOBEL_X = ((-1.0, 0.0, 1.0), (-2.0, 0.0, 2.0), (-1.0, 0.0, 1.0))
SOBEL_Y = ((-1.0, -2.0, -1.0), (0.0, 0.0, 0.0), (1.0, 2.0, 1.0))


def sobel_2d(v2d: np.ndarray) -> np.ndarray:
    """Sobel magnitude ``sqrt(gx^2 + gy^2)``: gx/gy are weighted sums over
    ALL nine taps in tap order (zero weights included), strict null."""
    taps = list(_clamped_taps(v2d, 1))
    gx = None
    gy = None
    any_null = np.zeros(v2d.shape, dtype=bool)
    for dr, dc, t in taps:
        any_null |= np.isnan(t)
        tx = t * SOBEL_X[dr + 1][dc + 1]
        ty = t * SOBEL_Y[dr + 1][dc + 1]
        gx = tx if gx is None else gx + tx
        gy = ty if gy is None else gy + ty
    return np.where(any_null, np.nan, np.sqrt(gx * gx + gy * gy))


def terrain_2d(
    v2d: np.ndarray,
    outs: tuple[str, ...],
    xres: float,
    yres: float,
    z_factor: float,
    altitude: float,
    azimuth: float,
) -> dict[str, np.ndarray]:
    """Horn's-method terrain surfaces for one chip.  The gradient surfaces
    (dzdx/dzdy) are fixed-order float expressions, reproducible exactly;
    slope/aspect/hillshade go through libm atan/atan2/cos, whose last ulp
    may differ from another math library's (tests pin those by
    tolerance)."""
    import math

    t = {(dr, dc): tap for dr, dc, tap in _clamped_taps(v2d, 1)}
    a, b, cc = t[(-1, -1)], t[(-1, 0)], t[(-1, 1)]
    d, f_ = t[(0, -1)], t[(0, 1)]
    g, h, ii = t[(1, -1)], t[(1, 0)], t[(1, 1)]
    p = ((cc + 2.0 * f_ + ii) - (a + 2.0 * d + g)) / (8.0 * abs(float(xres)))
    q = ((a + 2.0 * b + cc) - (g + 2.0 * h + ii)) / (8.0 * abs(float(yres)))
    any_null = np.zeros(v2d.shape, dtype=bool)
    for tap in t.values():
        any_null |= np.isnan(tap)
    out = {"dzdx": p, "dzdy": q}
    if not {"slope", "aspect", "hillshade"}.isdisjoint(outs):
        deg = 180.0 / math.pi
        zen = math.radians(90.0 - float(altitude))
        azm = math.radians((360.0 - float(azimuth) + 90.0) % 360.0)
        srad = np.arctan(float(z_factor) * np.sqrt(p * p + q * q))
        out["slope"] = srad * deg
        arad = np.arctan2(-q, -p)
        if "aspect" in outs:
            flat = (p == 0.0) & (q == 0.0)
            out["aspect"] = np.where(flat, np.nan, (450.0 - arad * deg) % 360.0)
        if "hillshade" in outs:
            hs = 255.0 * (
                math.cos(zen) * np.cos(srad)
                + math.sin(zen) * np.sin(srad) * np.cos(azm - arad)
            )
            out["hillshade"] = np.maximum(0.0, hs)
    return {k: np.where(any_null, np.nan, v) for k, v in out.items()}


def _masked_fold(terms: np.ndarray) -> float:
    """Sequential sum of the non-null terms of a flat per-pixel term array
    (NaN = null) in pixel order, starting from 0.0, with no spurious 0.0
    additions."""
    kept = terms[~np.isnan(terms)]
    if kept.size == 0:
        return 0.0
    return float(np.cumsum(kept)[-1])


def spatial_stats_row(v2d: np.ndarray) -> dict:
    """Rook-contiguity Moran's I / Geary's C for one chip.  Per-pixel terms
    accumulate their neighbours in N/S/W/E order; the chip totals fold the
    per-pixel terms in pixel order."""
    h, w = v2d.shape
    valid = ~np.isnan(v2d)
    n_valid = int(valid.sum())
    flat_vals = v2d.ravel()
    mean = (
        _masked_fold(flat_vals) / float(n_valid) if n_valid > 0 else np.nan
    )
    pad = np.pad(v2d, 1, mode="constant", constant_values=np.nan)
    north = pad[0:h, 1 : w + 1]
    south = pad[2 : h + 2, 1 : w + 1]
    west = pad[1 : h + 1, 0:w]
    east = pad[1 : h + 1, 2 : w + 2]
    nbrs = (north, south, west, east)

    # links: count of valid neighbours, null where the center is null
    cnt = np.zeros(v2d.shape)
    for nb in nbrs:
        cnt = cnt + (~np.isnan(nb))
    links = np.where(valid, cnt, np.nan)

    dev = v2d - mean
    # cross: dev(v) * sum(coalesce(dev(nb), 0.0)) accumulated N/S/W/E
    s = np.zeros(v2d.shape)
    for nb in nbrs:
        dn = nb - mean
        s = s + np.where(np.isnan(dn), 0.0, dn)
    cross = np.where(valid, dev * s, np.nan)

    # sqdiff: sum(coalesce((v - nb)^2, 0.0)) accumulated N/S/W/E
    s2 = np.zeros(v2d.shape)
    for nb in nbrs:
        d = v2d - nb
        dd = d * d
        s2 = s2 + np.where(np.isnan(dd), 0.0, dd)
    sqdiff = np.where(valid, s2, np.nan)

    ssdev = np.where(valid, dev * dev, np.nan)

    w_pairs = _masked_fold(links.ravel())
    num_i = _masked_fold(cross.ravel())
    num_c = _masked_fold(sqdiff.ravel())
    den = _masked_fold(ssdev.ravel())
    nv = float(n_valid)
    ok = (w_pairs > 0) and (den != 0.0)
    morans = (nv / w_pairs) * (num_i / den) if ok else None
    gearys = (
        ((nv - 1.0) / (2.0 * w_pairs)) * (num_c / den)
        if ok and nv > 1.0
        else None
    )
    return {
        "n_valid": n_valid,
        "w_pairs": int(w_pairs),
        "morans_i": morans,
        "gearys_c": gearys,
    }


def _out_schema(df: DataFrame, extra: list[tuple[str, str]]) -> str:
    base = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    add = ", ".join(f"{n} {t}" for n, t in extra)
    return f"{base}, {add}" if add else base


def map_chip_rows(
    df: DataFrame,
    extra_cols: list[tuple[str, str]],
    row_fn,
    value_col: str = "values",
) -> DataFrame:
    """Shared mapInPandas runner: for each row, ``row_fn(row_dict, arr2d)``
    returns a dict of new-column values (arrays as float ndarrays, converted
    with ``nanlist``; scalars passed through).  ``arr2d`` is the row's
    ``value_col`` reshaped (chip_h, chip_w), or None for a null cell.  All
    input columns pass through unchanged."""
    schema = _out_schema(df, extra_cols)
    names = [n for n, _ in extra_cols]
    arr_outs = {n for n, t in extra_cols if t.startswith("array<double>")}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            adds: dict[str, list] = {n: [] for n in names}
            w_col = pdf["chip_w"].to_numpy() if "chip_w" in pdf else None
            h_col = pdf["chip_h"].to_numpy() if "chip_h" in pdf else None
            for i, cell in enumerate(pdf[value_col]):
                arr = _row_array(cell)
                if arr is not None and w_col is not None:
                    w, h = int(w_col[i]), int(h_col[i])
                    if w * h == arr.size and w > 0:
                        arr = arr.reshape(h, w)
                    else:
                        arr = None
                res = row_fn(pdf.iloc[i], arr)
                for n in names:
                    v = res.get(n)
                    if v is None:
                        adds[n].append(None)
                    elif n in arr_outs:
                        adds[n].append(nanlist(np.asarray(v, dtype=np.float64).ravel()))
                    else:
                        adds[n].append(v)
            out = pdf.copy()
            for n in names:
                out[n] = adds[n]
            yield out

    return df.mapInPandas(run, schema=schema)
