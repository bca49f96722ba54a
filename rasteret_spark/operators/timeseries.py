"""Temporal gap-filling over chip stacks (per-pixel interpolation across T).

The EO companion to ``band_math.temporal_composite``: instead of collapsing
the time axis, repair it — every null pixel (cloud/nodata gap) at timestep k
takes the time-weighted linear interpolation between its nearest valid
observation BEFORE and AFTER k; leading/trailing gaps take the nearest valid
value (no extrapolation slope).  A pixel with no valid observation anywhere
stays null.  The reference's users do this client-side on assembled xarrays
(``ds.interpolate_na(dim='time')``); at 100 TB it must run where the pixels
are.

Plan shape: one ``groupBy(chip_id, band)`` shuffle (the stack rows regroup by
their time axis), the fill itself a fully vectorized numpy kernel
(accumulate-based previous/next-valid indices — no per-pixel Python) inside
``applyInPandas``, rows re-emitted one per timestep so the output shape is
the input shape plus ``n_missing``/``n_filled`` accounting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

GAPFILL_EXTRA = ", n_missing bigint, n_filled bigint"


def fill_time_series(
    vals: np.ndarray, tsec: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized gap fill of a (T, P) float array with NaN gaps along axis 0.

    Returns (filled, was_filled_mask).  Interior gaps interpolate linearly in
    time between the nearest valid neighbours; edge gaps copy the nearest
    valid value; all-NaN pixels stay NaN.  Valid samples pass through
    BIT-UNCHANGED (the kernel only writes where the input was NaN)."""
    T, P = vals.shape
    valid = ~np.isnan(vals)
    kidx = np.arange(T)[:, None]
    prev = np.maximum.accumulate(np.where(valid, kidx, -1), axis=0)
    nxt = np.minimum.accumulate(np.where(valid, kidx, T)[::-1], axis=0)[::-1]
    out = vals.copy()
    gap = ~valid
    has_prev = prev >= 0
    has_next = nxt <= T - 1
    # interior: linear in time between (prev, next)
    both = gap & has_prev & has_next
    if both.any():
        p = prev[both]
        n = nxt[both]
        cols = np.broadcast_to(np.arange(P)[None, :], (T, P))[both]
        tp, tn = tsec[p], tsec[n]
        tk = np.broadcast_to(tsec[:, None], (T, P))[both]
        d = tn - tp
        with np.errstate(divide="ignore", invalid="ignore"):
            w = (tk - tp) / d
        vp = vals[p, cols]
        vn = vals[n, cols]
        # coincident timestamps (d == 0) fall back to the earlier sample
        out[both] = np.where(d == 0.0, vp, vp + w * (vn - vp))
    # leading edge: nearest valid after; trailing edge: nearest valid before
    lead = gap & ~has_prev & has_next
    if lead.any():
        cols = np.broadcast_to(np.arange(P)[None, :], (T, P))[lead]
        out[lead] = vals[nxt[lead], cols]
    trail = gap & has_prev & ~has_next
    if trail.any():
        cols = np.broadcast_to(np.arange(P)[None, :], (T, P))[trail]
        out[trail] = vals[prev[trail], cols]
    return out, gap & (has_prev | has_next)


def gap_fill(stack: DataFrame) -> DataFrame:
    """Fill per-pixel temporal gaps in CHIP_STACK-shaped rows (one row per
    chip x timestep x band).  Output carries the same columns with
    ``values`` filled plus ``n_missing`` (input nulls at that timestep)
    and ``n_filled`` (how many of them the interpolation repaired).

    Timesteps order by (datetime, image_id) inside each (chip_id, band)
    group — identical to the stack's t_index assignment — so results are
    invariant to row order and partitioning."""
    in_schema = dict(zip(stack.schema.names, (f.dataType.simpleString()
                                              for f in stack.schema.fields)))
    if "values" not in in_schema:
        raise ValueError("stack has no 'values' column")
    out_schema = ", ".join(f"{n} {t}" for n, t in in_schema.items()) + GAPFILL_EXTRA

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        order_cols = [c for c in ("datetime", "image_id") if c in pdf.columns]
        pdf = pdf.sort_values(order_cols).reset_index(drop=True)
        # quarantine rows (values = null, e.g. a corrupt-blob time slot) pass
        # through untouched — they carry no pixels to fill
        null_rows = pdf["values"].isna()
        live = pdf[~null_rows].reset_index(drop=True)
        # Arrow delivers array<double> as float ndarrays (nulls -> NaN);
        # asarray also coerces list-of-None inputs — no per-pixel Python
        arrs = [np.asarray(row, dtype=np.float64) for row in live["values"]]
        pdf = pdf.copy()
        pdf["n_missing"] = pd.array(
            [None if n else int(np.isnan(a).sum())
             for n, a in _aligned(null_rows, arrs)],
            dtype="Int64",
        )
        pdf["n_filled"] = 0
        if arrs and all(a.size == arrs[0].size for a in arrs):
            vals = np.stack(arrs)
            tsec = live["datetime"].astype("int64").to_numpy().astype(np.float64) / 1e9
            out, fixed = fill_time_series(vals, tsec)
            live_idx = np.flatnonzero(~null_rows.to_numpy())
            new_vals = pdf["values"].tolist()
            from rasteret_spark.operators.util import nanlist

            for j, i in enumerate(live_idx):
                new_vals[i] = nanlist(out[j])
            pdf["values"] = new_vals
            pdf.loc[~null_rows, "n_filled"] = fixed.sum(axis=1).astype(np.int64)
            if "filled" in pdf.columns:  # keep the CHIP_STACK invariant
                pdf.loc[~null_rows, "filled"] = (
                    (~np.isnan(out)).sum(axis=1).astype(np.int64)
                )
        # ragged group (mismatched array lengths): rows pass through unfilled
        return pdf

    def _aligned(null_rows, arrs):
        it = iter(arrs)
        for n in null_rows:
            yield (True, None) if n else (False, next(it))

    return stack.groupBy("chip_id", "band").applyInPandas(
        run, schema=out_schema
    )
