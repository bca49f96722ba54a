"""Distributed band math over per-band pixel rows (NDVI-family indices).

The reference's flagship user workflow is band arithmetic on assembled
arrays — ``ndvi = (ds["B5"] - ds["B4"]) / (ds["B5"] + ds["B4"])`` on the
driver after ``get_xarray()`` (`examples/landsat_xarray.py:58`,
`notebooks/01_quickstart.ipynb`).  At 100 TB the index must be computed
WHERE the pixels are: these operators take the engine's per-band rows
(MOSAIC_SCHEMA / CHIP_STACK_SCHEMA shape: one row per chip x band with
``values array<double>``) and evaluate the index JVM-side with
``zip_with`` / ``aggregate`` — no Python UDF, no driver collect, and
exactly ONE shuffle (the band pivot groupBy; pixel arrays are shuffled
once, already decoded and chip-sized).

Null semantics: unfilled mosaic pixels are SQL nulls and propagate
through the arithmetic (null in either band -> null index pixel), and a
zero denominator yields null rather than an IEEE Inf/NaN — the
distributed analogue of xarray's NaN propagation.  Per-chip summary
stats (filled/mean/min/max) come from the same expressions so downstream
filters (e.g. "chips with mean NDVI > 0.3") never touch the arrays.

The per-pixel reductions that fold many values per pixel
(``temporal_composite``, ``change_detect``, ``temporal_trend``) and the
per-chip ``chip_stats`` run as ONE ``mapInPandas`` each: a vectorized
numpy pass over whole rows (after the groupBy for the temporal ones), with
fixed fold orders so independent oracles reproduce the floats exactly.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.operators.arrow_kernels import (
    _out_schema,
    sort_doubles,
    total_order_key,
)
from rasteret_spark.operators.util import nanlist

GRID_COLS = ("chip_xmin", "chip_ymax", "chip_xres", "chip_yres",
             "chip_w", "chip_h", "grid_epsg")
# the per-pixel temporal reductions group CHIP_STACK rows by this key
STACK_KEY = ("chip_id", "band")


def _carry_firsts(df: DataFrame) -> list[Column]:
    """The grid columns ride a per-chip group via ``first`` (constant
    within a chip by construction)."""
    return [F.first(c).alias(c) for c in GRID_COLS if c in df.columns]


def pivot_bands(
    per_band: DataFrame, key_cols: tuple[str, ...] = ("chip_id",)
) -> DataFrame:
    """One row per chip with a ``bands map<int, array<double>>`` column.

    Single groupBy on the chip key — the only shuffle in any index
    computation; georeferencing columns ride along via ``first`` (they are
    constant within a chip by construction)."""
    bands = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct(F.col("band"), F.col("values"))))
    ).alias("bands")
    return per_band.groupBy(*key_cols).agg(bands, *_carry_firsts(per_band))


def _nd_expr(a: Column, b: Column) -> Column:
    # (a-b)/(a+b), null where the denominator is 0 (or either input null)
    return F.zip_with(
        a, b, lambda x, y: (x - y) / F.nullif(x + y, F.lit(0.0))
    )


def _ratio_expr(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x / F.nullif(y, F.lit(0.0)))


def _stats(col_name: str) -> list[Column]:
    vals = F.filter(F.col(col_name), lambda v: v.isNotNull())
    n = F.size(vals)
    mean = F.when(
        n > 0,
        F.aggregate(vals, F.lit(0.0), lambda acc, v: acc + v) / n,
    )
    return [
        n.alias(f"{col_name}_filled"),
        mean.alias(f"{col_name}_mean"),
        F.array_min(vals).alias(f"{col_name}_min"),
        F.array_max(vals).alias(f"{col_name}_max"),
    ]


def _apply_index(
    per_band: DataFrame,
    band_a: int,
    band_b: int,
    expr_fn,
    out_col: str,
    key_cols: tuple[str, ...],
    with_stats: bool,
) -> DataFrame:
    p = pivot_bands(per_band, key_cols=key_cols)
    idx = expr_fn(
        F.try_element_at("bands", F.lit(band_a)),
        F.try_element_at("bands", F.lit(band_b)),
    ).alias(out_col)
    carry = [c for c in p.columns if c != "bands"]
    out = p.select(*carry, idx)
    if with_stats:
        out = out.select("*", *_stats(out_col))
    return out


def normalized_difference(
    per_band: DataFrame,
    band_a: int,
    band_b: int,
    out_col: str = "nd",
    key_cols: tuple[str, ...] = ("chip_id",),
    with_stats: bool = True,
) -> DataFrame:
    """``(band_a - band_b) / (band_a + band_b)`` per pixel, per chip —
    NDVI/NDWI/NDSI-family.  Input: per-band rows (``chip_id, band,
    values`` + grid cols).  Output: one row per chip with the index array
    and (optionally) filled/mean/min/max summary columns."""
    return _apply_index(
        per_band, band_a, band_b, _nd_expr, out_col, key_cols, with_stats
    )


def band_ratio(
    per_band: DataFrame, band_a: int, band_b: int, out_col: str = "ratio"
) -> DataFrame:
    """``band_a / band_b`` per pixel (simple-ratio indices)."""
    return _apply_index(
        per_band, band_a, band_b, _ratio_expr, out_col, ("chip_id",), True
    )


def _stat_matrix(mat, stat: str):
    """Per-slot statistic across a (T, N) float64 matrix with NaN nulls.
    ``mean`` folds the valid observations in row (collected) order;
    ``min``/``max``/``median`` read an IEEE-754 total-order sort of the
    valid observations (``-0.0`` sorts before ``0.0``).  Returns a length-N
    float64 array with NaN where no valid observation exists."""
    T, N = mat.shape
    valid = ~np.isnan(mat)
    n = valid.sum(axis=0)
    if stat == "count":
        return n.astype(np.float64)
    if T == 0:
        return np.full(N, np.nan)
    if stat == "mean":
        acc = np.zeros(N)
        for t in range(T):  # sequential fold in collected order
            acc = np.where(valid[t], acc + np.where(valid[t], mat[t], 0.0), acc)
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.where(n > 0, acc / n, np.nan)
    # order statistics: total-order sort per slot, invalid keys after valid
    keys = np.where(valid, total_order_key(np.where(valid, mat, 0.0)),
                    np.uint64(0xFFFFFFFFFFFFFFFF))
    order = np.argsort(keys, axis=0, kind="stable")
    svals = np.take_along_axis(mat, order, axis=0)
    cols = np.arange(N)
    if stat == "min":
        return np.where(n > 0, svals[np.zeros(N, dtype=int), cols], np.nan)
    if stat == "max":
        return np.where(n > 0, svals[np.maximum(n - 1, 0), cols], np.nan)
    # median: mean of the sorted slots (n-1)//2 and n//2
    lo = svals[np.maximum((n - 1) // 2, 0), cols]
    hi = svals[np.maximum(n // 2, 0), cols]
    return np.where(n > 0, (lo + hi) / 2, np.nan)


def _group_matrix(arrs) -> "tuple":
    """List of per-timestep pixel arrays (None entries allowed) -> (T, N)
    float64 matrix in list order + N (0 when undeterminable)."""
    rows = [None if a is None else np.asarray(a, dtype=np.float64) for a in arrs]
    n_px = next((r.size for r in rows if r is not None), 0)
    mat = np.full((len(rows), n_px), np.nan)
    for t, r in enumerate(rows):
        if r is None:
            continue  # null array: every slot null
        if r.size >= n_px:
            mat[t] = r[:n_px]
        else:  # short array: slots past its end are null
            mat[t, : r.size] = r
    return mat, n_px


def temporal_composite(
    stack: DataFrame,
    stat: str = "median",
) -> DataFrame:
    """Per-pixel reduction ACROSS TIME over chip-stack rows — the
    cloud-free-composite primitive (monthly median NDVI, max-value
    composites).  Input: CHIP_STACK-shaped rows (one row per chip x
    timestep x band, ``values array<double>``); output: one row per
    (chip, band) with the composited array plus ``n_t`` (timesteps seen).

    ``stat``: ``median`` (lower-interpolated to the mean of the two middle
    values on even counts, numpy semantics), ``mean``, ``min``, ``max`` or
    ``count`` (valid observations per pixel — data-density maps).  Null
    pixels are skipped per pixel, NOT per timestep: a pixel cloudy at t0
    still composites from t1..tn.  One shuffle (the groupBy), then one
    vectorized numpy pass per group row (one ``mapInPandas``)."""
    if stat not in ("median", "mean", "min", "max", "count"):
        raise ValueError(f"unknown stat {stat!r}")
    g = stack.groupBy(*STACK_KEY).agg(
        F.collect_list("values").alias("_t"), *_carry_firsts(stack)
    )
    schema = _out_schema(
        g.drop("_t"), [("n_t", "int"), ("composite", "array<double>")]
    )

    def run(batches):
        for pdf in batches:
            n_t, comps = [], []
            for arrs in pdf["_t"]:
                n_t.append(len(arrs))
                mat, n_px = _group_matrix(arrs)
                if len(arrs) == 0:
                    comps.append(None)
                elif n_px == 0:
                    comps.append([])
                else:
                    comps.append(nanlist(_stat_matrix(mat, stat)))
            out = pdf.drop(columns=["_t"])
            out["n_t"] = pd.array(n_t, dtype="int32")
            out["composite"] = comps
            yield out

    return g.mapInPandas(run, schema=schema)


def change_detect(
    stack: DataFrame,
    split_ts,
    stat: str = "median",
    threshold: float | None = None,
) -> DataFrame:
    """Two-epoch per-pixel change detection over chip-stack rows: composite
    the timesteps BEFORE ``split_ts`` and the timesteps AT/AFTER it with the
    same statistic, and emit ``after - before`` per pixel — the
    deforestation/new-construction screen (median-vs-median deltas are
    robust to single cloudy scenes).

    Input: CHIP_STACK-shaped rows.  Output: one row per (chip, band) with
    ``n_before``/``n_after`` (timesteps per epoch), the ``delta`` array
    (null where either epoch has no valid observation for that pixel),
    ``delta_valid``, and — when ``threshold`` is given — ``delta_changed``
    (pixels with ``|delta| > threshold``).

    ONE shuffle: both epochs aggregate in the same groupBy via conditional
    collect_lists (no self-join of composites), and the per-pixel reduction
    is one vectorized numpy pass per group row (`_stat_matrix`, one
    ``mapInPandas``).
    ``stat="count"`` deltas observation DENSITY (data-coverage drift)."""
    if stat not in ("median", "mean", "min", "max", "count"):
        raise ValueError(f"unknown stat {stat!r}")
    for c in ("values", "datetime"):
        if c not in stack.columns:
            raise ValueError(f"change_detect needs column {c!r}")
    split = F.lit(split_ts).cast("timestamp")
    g = stack.groupBy(*STACK_KEY).agg(
        F.collect_list(F.when(F.col("datetime") < split, F.col("values"))).alias("_a"),
        F.collect_list(F.when(F.col("datetime") >= split, F.col("values"))).alias("_b"),
        *_carry_firsts(stack),
    )
    extra = [("n_before", "int"), ("n_after", "int"),
             ("delta", "array<double>"), ("delta_valid", "int")]
    if threshold is not None:
        extra.append(("delta_changed", "int"))
    schema = _out_schema(g.drop("_a", "_b"), extra)
    thr = None if threshold is None else float(threshold)

    def run(batches):
        for pdf in batches:
            cols: dict[str, list] = {n: [] for n, _ in extra}
            for arrs_a, arrs_b in zip(pdf["_a"], pdf["_b"]):
                cols["n_before"].append(len(arrs_a))
                cols["n_after"].append(len(arrs_b))
                first = next(
                    (np.asarray(a) for a in list(arrs_a) + list(arrs_b)
                     if a is not None),
                    None,
                )
                n_px = 0 if first is None else first.size
                if n_px <= 0:
                    cols["delta"].append([])
                    cols["delta_valid"].append(0)
                    if thr is not None:
                        cols["delta_changed"].append(0)
                    continue
                mat_a, _ = _group_matrix(arrs_a)
                mat_b, _ = _group_matrix(arrs_b)
                # both matrices sized by the SHARED n_px (first array of
                # either epoch); slots past a short array's end are null
                def sized(mat):
                    out = np.full((mat.shape[0], n_px), np.nan)
                    m = min(mat.shape[1], n_px)
                    out[:, :m] = mat[:, :m]
                    return out

                delta = _stat_matrix(sized(mat_b), stat) - _stat_matrix(
                    sized(mat_a), stat
                )
                cols["delta"].append(nanlist(delta))
                fin = ~np.isnan(delta)
                cols["delta_valid"].append(int(fin.sum()))
                if thr is not None:
                    with np.errstate(invalid="ignore"):
                        cols["delta_changed"].append(
                            int((np.abs(delta[fin]) > thr).sum())
                        )
            out = pdf.drop(columns=["_a", "_b"])
            for n, t in extra:
                out[n] = (
                    pd.array(cols[n], dtype="int32")
                    if t == "int"
                    else cols[n]
                )
            yield out

    return g.mapInPandas(run, schema=schema)


def temporal_trend(stack: DataFrame, per_seconds: float = 86400.0) -> DataFrame:
    """Per-pixel least-squares temporal trend over chip-stack rows: for
    every pixel, the OLS slope and intercept of ``value ~ time`` across the
    valid observations — the greening/browning/drift screen (NDVI trend,
    sensor drift detection).  Time is measured in units of ``per_seconds``
    (default days) from the group's FIRST timestep, so intercepts are the
    fitted value at the earliest observation.

    Output: one row per (chip, band) with ``n_t`` (collected timesteps),
    a ``slope`` array (null where fewer than two distinct-time valid
    observations exist) and an ``intercept`` array (null exactly where
    slope is).

    ONE shuffle (the groupBy); the per-pixel sums fold time-major in one
    vectorized numpy pass per group row (one ``mapInPandas``) over a
    DETERMINISTICALLY ordered observation array — ``array_sort`` on
    (time, image_id, values) structs — so float sums are reproducible and
    independent oracles can mirror them bit-exactly."""
    for c in ("values", "datetime"):
        if c not in stack.columns:
            raise ValueError(f"temporal_trend needs column {c!r}")
    tie = [F.col("image_id").alias("_k0")] if "image_id" in stack.columns else []
    obs = F.array_sort(
        F.collect_list(
            F.when(
                F.col("values").isNotNull(),
                F.struct(F.col("datetime").alias("t"), *tie, F.col("values").alias("v")),
            )
        )
    )
    g = stack.groupBy(*STACK_KEY).agg(obs.alias("_obs"), *_carry_firsts(stack))
    schema = _out_schema(
        g.drop("_obs"),
        [("n_t", "int"), ("slope", "array<double>"),
         ("intercept", "array<double>")],
    )
    per_s = float(per_seconds)

    def _ts_seconds(ts) -> float:
        # Spark's cast(timestamp as double): whole microseconds divided by
        # 1e6 as ONE double division
        return (pd.Timestamp(ts).value // 1000) / 1000000.0

    def run(batches):
        for pdf in batches:
            n_t, slopes, intercepts = [], [], []
            for obs in pdf["_obs"]:
                n_t.append(len(obs))
                if len(obs) == 0:
                    slopes.append(None)
                    intercepts.append(None)
                    continue
                first_v = obs[0]["v"]
                n_px = 0 if first_v is None else len(first_v)
                mat, _ = _group_matrix([e["v"] for e in obs])
                if mat.shape[1] != n_px:  # first v null: every get null
                    mat = np.full((len(obs), n_px), np.nan)
                t0 = _ts_seconds(obs[0]["t"])
                tdays = np.array(
                    [(_ts_seconds(e["t"]) - t0) / per_s for e in obs]
                )
                n = np.zeros(n_px); st = np.zeros(n_px)
                sv = np.zeros(n_px); stt = np.zeros(n_px)
                stv = np.zeros(n_px)
                for k in range(len(obs)):  # time-major fold, T order
                    v = mat[k]
                    ok = ~np.isnan(v)
                    t = tdays[k]
                    n = np.where(ok, n + 1.0, n)
                    st = np.where(ok, st + t, st)
                    sv = np.where(ok, sv + np.where(ok, v, 0.0), sv)
                    stt = np.where(ok, stt + t * t, stt)
                    stv = np.where(ok, stv + t * np.where(ok, v, 0.0), stv)
                den = n * stt - st * st
                with np.errstate(invalid="ignore", divide="ignore"):
                    slope = np.where(
                        den != 0.0, (n * stv - st * sv) / den, np.nan
                    )
                    intercept = (sv - slope * st) / n
                slopes.append(nanlist(slope))
                intercepts.append(nanlist(intercept))
            out = pdf.drop(columns=["_obs"])
            out["n_t"] = pd.array(n_t, dtype="int32")
            out["slope"] = slopes
            out["intercept"] = intercepts
            yield out

    return g.mapInPandas(run, schema=schema)


def chip_stats(
    per_band: DataFrame,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-chip radiometric QA: exact linear-interpolated quantiles, value
    range, null fraction and saturated-pixel count over one chip band's
    pixel array — the chip-quality screen (drop cloudy/flat/clipped chips
    before they reach a training set).

    ZERO shuffles: every statistic comes from the row's own array (one
    total-order sort + index math) in one ``mapInPandas``, so the pass
    pipelines into whatever produced the rows.  Quantiles use the
    linear-interpolation convention
    ``v[lo] + (v[hi] - v[lo]) * (p*(n-1) - lo)`` over the ascending valid
    pixels — numpy's default — emitted as ``q25`` for p=0.25 etc.;
    ``at_max_px`` counts pixels equal to the chip maximum (saturation /
    clipping indicator); ``null_frac`` is nodata coverage."""
    if "values" not in per_band.columns:
        raise ValueError("chip_stats needs column 'values'")
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"quantile prob {p} outside [0, 1]")
    qnames = [f"q{int(round(p * 100)):02d}" for p in probs]
    extra = (
        [("n_valid", "int"), ("null_frac", "double"), ("vmin", "double"),
         ("vmax", "double"), ("at_max_px", "int")]
        + [(qn, "double") for qn in qnames]
    )
    schema = _out_schema(per_band, extra)
    pvals = [float(p) for p in probs]

    def run(batches):
        for pdf in batches:
            cols: dict[str, list] = {n: [] for n, _ in extra}
            for cell in pdf["values"]:
                if cell is None or (
                    isinstance(cell, float) and np.isnan(cell)
                ):
                    for n_, _t in extra:
                        cols[n_].append(None)
                    continue
                arr = np.asarray(cell, dtype=np.float64)
                s = sort_doubles(arr[~np.isnan(arr)])
                n = int(s.size)
                n_px = int(arr.size)
                cols["n_valid"].append(n)
                cols["null_frac"].append(
                    float(n_px - n) / float(n_px) if n_px > 0 else None
                )
                cols["vmin"].append(float(s[0]) if n else None)
                vmax = float(s[-1]) if n else None
                cols["vmax"].append(vmax)
                if vmax is None:
                    cols["at_max_px"].append(0)
                else:
                    with np.errstate(invalid="ignore"):
                        cols["at_max_px"].append(int((arr == vmax).sum()))
                for p, qn in zip(pvals, qnames):
                    if n == 0:
                        cols[qn].append(None)
                        continue
                    idx = p * float(n - 1)
                    lo = int(math.floor(idx))
                    hi = int(math.ceil(idx))
                    vlo, vhi = float(s[lo]), float(s[hi])
                    cols[qn].append(vlo + (vhi - vlo) * (idx - float(lo)))
            out = pdf.copy()
            for n_, t in extra:
                out[n_] = (
                    pd.array(cols[n_], dtype="Int32")
                    if t == "int"
                    else cols[n_]
                )
            yield out

    return per_band.mapInPandas(run, schema=schema)


def qa_mask(
    per_band: DataFrame,
    data_band: int = 0,
    qa_band: int = 1,
    bit: int = 1,
) -> DataFrame:
    """Bitmask QA screening — the Landsat/Sentinel cloud-mask workflow
    (QA_PIXEL / SCL band interpreted bit-wise, flagged pixels nulled out of
    the data band before any statistic or training chip is cut).  The
    reference reads QA bands as ordinary assets and leaves masking to
    driver-side xarray (`examples/landsat_xarray.py`); at 100 TB the mask
    must be applied WHERE the pixels are.

    Takes per-band pixel rows (one row per chip x band), pivots once on the
    chip key (the ONLY shuffle), decodes ``bit`` of the integer-coded QA
    pixels (``floor`` -> int64 -> shift/AND, matching numpy's arithmetic
    shift for negatives) and nulls every data pixel whose QA pixel is
    flagged OR missing.  Adds:

    - ``qa_flag   array<boolean>`` — true where the bit is set (null where
      the QA pixel itself is nodata),
    - ``masked array<double>``   — the data band with flagged/unknown
      pixels nulled,
    - ``qa_valid`` / ``qa_flagged`` / ``kept_px`` counts.

    Pure Catalyst after the pivot: no Python nodes, no second shuffle."""
    if not 0 <= bit <= 62:
        raise ValueError(f"qa bit {bit} outside [0, 62]")
    p = pivot_bands(per_band)
    data = F.try_element_at("bands", F.lit(data_band))
    qa = F.try_element_at("bands", F.lit(qa_band))
    flag = F.transform(
        qa,
        lambda v: F.when(
            v.isNotNull(),
            F.shiftright(F.floor(v).cast("long"), bit).bitwiseAND(F.lit(1))
            == F.lit(1),
        ),
    )
    carry = [c for c in p.columns if c != "bands"]
    # keep a pixel only when its QA pixel is PRESENT and NOT flagged: an
    # unknown QA pixel is treated as flagged (conservative, the convention
    # cloud-optimized pipelines use).  m == False is null-safe here because
    # a null m makes the whole condition null -> when() yields null.
    staged = p.select(
        *carry,
        flag.alias("qa_flag"),
        F.zip_with(
            data,
            flag,
            lambda v, m: F.when(m == F.lit(False), v),
        ).alias("masked"),
    )
    # second projection so the qa_flag/masked lambdas evaluate once
    # (Catalyst does not CSE higher-order lambdas)
    return staged.select(
        "*",
        F.size(
            F.filter(F.col("qa_flag"), lambda b: b.isNotNull())
        ).alias("qa_valid"),
        F.size(F.filter(F.col("qa_flag"), lambda b: b)).alias("qa_flagged"),
        F.size(
            F.filter(F.col("masked"), lambda v: v.isNotNull())
        ).alias("kept_px"),
    )


def stretch(
    per_band: DataFrame,
    p_lo: float = 0.02,
    p_hi: float = 0.98,
) -> DataFrame:
    """Robust percentile contrast stretch — the training-chip normalization
    step (clip at the p2/p98 pixel quantiles, rescale to [0, 1]) that every
    EO ML pipeline applies before tensors leave the loader; the reference
    leaves it to torchvision transforms driver-side
    (`src/rasteret/integrations/torchgeo.py:292-299`).

    ZERO shuffles: the quantile cut points use the same linear-interpolation
    convention as :func:`chip_stats` over the row's own sorted valid
    pixels, and the rescale is ``clamp((v - lo) / (hi - lo), 0, 1)`` per
    pixel (``hi == lo`` -> flat chip -> 0.0).  Adds ``cut_lo`` / ``cut_hi``,
    the stretched array, and ``clip_lo_px`` / ``clip_hi_px`` counts so a
    QA filter can drop chips that clipped too much signal."""
    if not 0.0 <= p_lo <= p_hi <= 1.0:
        raise ValueError(f"need 0 <= p_lo <= p_hi <= 1, got {p_lo}, {p_hi}")

    def _quant(vals: Column, n: Column, p: float) -> Column:
        idx = F.lit(float(p)) * (n - 1).cast("double")
        lo = F.floor(idx).cast("int")
        vlo = F.get(vals, lo)
        vhi = F.get(vals, F.ceil(idx).cast("int"))
        return F.when(n > 0, vlo + (vhi - vlo) * (idx - lo.cast("double")))

    staged = per_band.select(
        "*",
        F.array_sort(
            F.filter(F.col("values"), lambda v: v.isNotNull())
        ).alias("_stretched_sorted"),
    )
    n = F.size(F.col("_stretched_sorted"))
    cut = staged.select(
        "*",
        _quant(F.col("_stretched_sorted"), n, p_lo).alias("cut_lo"),
        _quant(F.col("_stretched_sorted"), n, p_hi).alias("cut_hi"),
    ).drop("_stretched_sorted")
    lo_c, hi_c = F.col("cut_lo"), F.col("cut_hi")
    scaled = F.transform(
        F.col("values"),
        lambda v: F.when(
            v.isNotNull(),
            F.when(
                hi_c > lo_c,
                F.least(
                    F.greatest((v - lo_c) / (hi_c - lo_c), F.lit(0.0)),
                    F.lit(1.0),
                ),
            ).otherwise(F.lit(0.0)),
        ),
    )
    out = cut.select("*", scaled.alias("stretched"))
    return out.select(
        "*",
        F.size(
            F.filter(F.col("values"), lambda v: v < lo_c)
        ).alias("clip_lo_px"),
        F.size(
            F.filter(F.col("values"), lambda v: v > hi_c)
        ).alias("clip_hi_px"),
    )


def chip_histogram(
    per_band: DataFrame,
    lo: float,
    hi: float,
    n_bins: int = 8,
) -> DataFrame:
    """Per-chip fixed-bin histogram as a ZERO-shuffle Catalyst projection —
    the distribution fingerprint used for dataset balance reports, domain
    -shift detection between acquisition batches, and histogram-matching
    prep.  Bin k (columns ``h0 .. h{n_bins-1}``) counts valid
    pixels with ``clamp(floor((v - lo) / width), 0, n_bins - 1) == k`` —
    out-of-range pixels land in the edge bins so every valid pixel is
    counted exactly once (the numpy.histogram edge convention for clipped
    data)."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    if not 1 <= n_bins <= 64:
        raise ValueError(f"n_bins {n_bins} outside [1, 64]")
    width = (hi - lo) / float(n_bins)

    def _bin(v: Column) -> Column:
        raw = F.floor((v - F.lit(float(lo))) / F.lit(width))
        return F.least(
            F.greatest(raw, F.lit(0).cast("long")),
            F.lit(n_bins - 1).cast("long"),
        )

    def _count_bin(k: int) -> Column:
        # closure factory, NOT a default-arg lambda: pyspark dispatches the
        # (x, i) two-argument lambda form by arity, so `lambda v, k=k` would
        # silently receive the array INDEX as k
        return F.size(
            F.filter(
                F.col("values"),
                lambda v: v.isNotNull() & (_bin(v) == F.lit(k)),
            )
        )

    cols = [_count_bin(k).alias(f"h{k}") for k in range(n_bins)]
    return per_band.select("*", *cols)


def threshold_mask(
    indexed: DataFrame, index_col: str, lo: float | None = None
) -> DataFrame:
    """Boolean per-pixel mask ``v >= lo`` (null pixels -> null) plus a
    ``mask_count`` of true pixels — e.g. "vegetated pixels per chip"."""
    if lo is None:
        raise ValueError("need lo")

    def pred(v: Column) -> Column:
        return F.when(v.isNotNull(), v >= F.lit(lo))

    # two projections so the predicate transform evaluates ONCE (Catalyst
    # does not CSE higher-order lambdas); the count reads the mask column
    masked = indexed.select("*", F.transform(F.col(index_col), pred).alias("mask"))
    return masked.select(
        "*", F.size(F.filter(F.col("mask"), lambda b: b)).alias("mask_count")
    )


def global_band_stats(
    per_band: DataFrame,
    value_col: str = "values",
    group_cols: tuple[str, ...] = ("band",),
    deterministic: bool = False,
    order_col: str = "chip_id",
) -> DataFrame:
    """Dataset-wide per-band pixel statistics — the normalization constants
    (mean/std per channel) every training config bakes in, plus range and
    coverage, over ANY per-band pixel rows (mosaic/chip-stack/composite
    shaped: ``values array<double>``).

    Scale shape: each row folds to a handful of scalars JVM-side
    (``aggregate`` sum / sum-of-squares over the valid pixels — no Python,
    no explode), then ONE tiny shuffle of per-partition partials (Catalyst
    map-side combine on the groupBy) carries O(groups) rows to the final
    agg.  100 TB of pixels reduce to bytes before anything moves.

    ``std`` is the population standard deviation computed from
    sum/sum-of-squares in float64; null (not 0) when a band has no valid
    pixels.  Extra ``group_cols`` (e.g. ``("band", "split")``) give
    per-split constants from the same single pass.

    ``deterministic=True`` makes the float results BIT-exact across runs
    and partitionings: the per-group partials fold in ``order_col`` order
    (array_sort over collected structs) instead of Spark's
    partition-arrival order, at the cost of collecting O(rows-per-group)
    partial structs into one row — use for oracle comparisons and
    reproducibility audits; the default partial-sum path is the 100 TB
    shape (results then differ only in the last float bits)."""
    missing = [c for c in (*group_cols, value_col) if c not in per_band.columns]
    if deterministic and order_col not in per_band.columns:
        missing.append(order_col)
    if missing:
        raise ValueError(f"global_band_stats input missing columns {missing}")
    # a NULL values array (e.g. a quarantined decode in CHIP_STACK rows)
    # would poison the whole group's sums (NULL partials; NULL-propagating
    # deterministic fold) — such rows carry no pixels, so drop them here
    # rather than making every caller remember to
    per_band = per_band.filter(F.col(value_col).isNotNull())
    valid = F.filter(F.col(value_col), lambda v: v.isNotNull())
    staged = per_band.select(
        *group_cols,
        *([order_col] if deterministic else []),
        F.size(F.col(value_col)).cast("long").alias("_n_px"),
        F.size(valid).cast("long").alias("_n_valid"),
        F.aggregate(
            valid, F.lit(0.0), lambda acc, v: acc + v
        ).alias("_s"),
        F.aggregate(
            valid, F.lit(0.0), lambda acc, v: acc + v * v
        ).alias("_ss"),
        F.array_min(valid).alias("_vmin"),
        F.array_max(valid).alias("_vmax"),
    )
    n = F.sum("_n_valid")
    if deterministic:
        # fold partials in order_col order — integer/min/max aggs are
        # order-free already; only the float sums need the pinned order
        parts = F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("k"),
                    F.col("_s").alias("s"),
                    F.col("_ss").alias("ss"),
                )
            )
        )
        s = F.aggregate(parts, F.lit(0.0), lambda acc, x: acc + x["s"])
        ss = F.aggregate(parts, F.lit(0.0), lambda acc, x: acc + x["ss"])
    else:
        s = F.sum("_s")
        ss = F.sum("_ss")
    mean = s / n
    # clamp tiny negative float residue of SS/N - mean^2 before the sqrt
    var = F.greatest(ss / n - mean * mean, F.lit(0.0))
    return (
        staged.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_chips"),
            F.sum("_n_px").alias("n_px"),
            n.alias("n_valid"),
            F.when(n > 0, mean).alias("mean"),
            F.when(n > 0, F.sqrt(var)).alias("std"),
            F.min("_vmin").alias("vmin"),
            F.max("_vmax").alias("vmax"),
        )
        .orderBy(*group_cols)
    )
