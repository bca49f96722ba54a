"""Chip augmentation as PURE native array expressions — the training-data
fan-out stage (flip / rotate / per-chip normalize) that a DataLoader would
otherwise do in Python, executed JVM-side over the exploded chip rows.

The reference's training surface delegates augmentation to torchvision-style
transforms on the driver side of its TorchGeo adapter
(`/root/reference/src/rasteret/integrations/torchgeo.py:292-299`); here the
same geometric ops run INSIDE the plan, over the engine's row-major
``values array<double>`` chip layout (``chip_w`` x ``chip_h`` columns), so a
billion-chip corpus augments with whole-stage codegen and zero Python — and
the georeferencing columns stay consistent (flips/rotations are pixel-space
ops; the output marks itself augmented rather than pretending the grid
transform still applies).

Index math (row-major, 0-based pixel i -> row = i div w, col = i mod w):

    hflip : src = row * w + (w - 1 - col)
    vflip : src = (h - 1 - row) * w + col
    rot180: src = h * w - 1 - i
    rot90 : dst (row', col') in (w x h) pulls src (h - 1 - col', row')
            — clockwise; swaps chip_w/chip_h.

``element_at`` is 1-based, hence the ``+ 1``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812


def _gather(values: Column, n: Column, src_of: Column) -> Column:
    """new[i] = values[src_of(i)] for i in [0, n): a native permutation
    gather (sequence + transform + element_at — no UDF).

    Zero-area guard: ``sequence(0, n-1)`` with n=0 would yield ``[0, -1]``
    (and the w=0 index math would divide by zero under ANSI), so an empty
    chip maps to an empty array instead — conditional branches evaluate
    lazily, the degenerate math never runs."""
    return F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.element_at(values, src_of(i) + F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<double>"))


def hflip(values: Column, w: Column, h: Column) -> Column:
    """Horizontal flip (mirror columns) of a row-major (h, w) array."""
    return _gather(
        values, w * h,
        lambda i: (F.floor(i / w) * w + (w - F.lit(1) - i % w)).cast("int"),
    )


def vflip(values: Column, w: Column, h: Column) -> Column:
    """Vertical flip (mirror rows)."""
    return _gather(
        values, w * h,
        lambda i: ((h - F.lit(1) - F.floor(i / w)) * w + i % w).cast("int"),
    )


def rot180(values: Column, w: Column, h: Column) -> Column:
    return _gather(values, w * h, lambda i: (w * h - F.lit(1) - i).cast("int"))


def rot90(values: Column, w: Column, h: Column) -> Column:
    """Clockwise 90-degree rotation: output is (w, h) row-major — callers
    must swap their chip_w/chip_h columns alongside (``augment_chips``
    does)."""
    # output pixel i: row' = i div h, col' = i mod h (output width is h)
    # source pixel: row = h - 1 - col', col = row'
    return _gather(
        values, w * h,
        lambda i: ((h - F.lit(1) - i % h) * w + F.floor(i / h)).cast("int"),
    )


def normalize_chips(df: DataFrame) -> DataFrame:
    """Per-chip z-score over the VALID (non-null) pixels, nulls preserved —
    native aggregate expressions, no UDF.  A constant chip (std 0) maps to
    0.0 everywhere (the convention torch Normalize users expect from a
    degenerate input).

    DataFrame-level on purpose: the mean/std bind to intermediate COLUMNS,
    evaluated once per row — embedding the aggregates inside the per-pixel
    transform lambda would re-evaluate them per element (O(n^2) per chip)."""
    v = F.col("values")
    valid = F.filter(v, lambda x: x.isNotNull())
    n = F.size(valid)
    denom = F.when(n > 0, n.cast("double")).otherwise(F.lit(1.0))
    df = df.withColumn(
        "_nz_m", F.aggregate(valid, F.lit(0.0), lambda acc, x: acc + x) / denom
    )
    m = F.col("_nz_m")
    df = df.withColumn(
        "_nz_s",
        F.sqrt(
            F.aggregate(valid, F.lit(0.0), lambda acc, x: acc + (x - m) * (x - m))
            / denom
        ),
    )
    s = F.col("_nz_s")
    return df.withColumn(
        "values",
        F.transform(
            v,
            lambda x: F.when(x.isNull(), F.lit(None).cast("double"))
            .when(s > 0, (x - m) / s)
            .otherwise(F.lit(0.0)),
        ),
    ).drop("_nz_m", "_nz_s")


_GEOMETRIC = {
    "identity": None,
    "hflip": hflip,
    "vflip": vflip,
    "rot90": rot90,
    "rot180": rot180,
}

# north-up affine + CRS columns that stop describing the pixels once a
# non-identity geometric op permutes them (`augment_chips` nulls these on
# those branches; `assemble._attrs` refuses augmented rows outright)
GEOREF_COLS = ("chip_xmin", "chip_ymax", "chip_xres", "chip_yres", "grid_epsg")


def augment_chips(
    chips: DataFrame,
    ops: tuple[str, ...] | list[str] = ("identity", "hflip", "vflip"),
    normalize_values: bool = False,
) -> DataFrame:
    """Fan a chip-row table out into one row per (chip, op): the standard
    K-fold training augmentation, as a single narrow native stage (an
    inline explode over the op list — no shuffle, no Python).

    Adds ``aug_op`` (string); ``rot90`` swaps the ``chip_w``/``chip_h``
    columns so downstream reshapes stay correct.  Georeferencing columns
    (``chip_xmin/chip_ymax/chip_xres/chip_yres/grid_epsg``), when present,
    are NULLED on every non-identity branch: a flipped or rotated pixel
    array is no longer described by the north-up affine those columns
    encode, and passing them through unchanged would let ``assemble`` emit a
    transform that silently georeferences the wrong pixels (``assemble``
    additionally refuses rows whose ``aug_op`` is not identity).
    ``normalize_values``
    applies the per-chip z-score AFTER the geometric op (geometric ops
    permute pixels, so the stats are identical either way — normalizing
    once post-explode is the cheap order).  Unknown op names raise
    immediately.

    SELF-COMPOSABLE: augmenting an already-augmented table composes the
    provenance labels ("rot90+hflip") instead of duplicating the ``aug_op``
    column — chaining passes is how the full 8-element dihedral group is
    built from these generators."""
    unknown = [o for o in ops if o not in _GEOMETRIC]
    if unknown:
        raise ValueError(f"unknown augment ops {unknown}; have {sorted(_GEOMETRIC)}")
    v = F.col("values")
    w = F.col("chip_w").cast("long")
    h = F.col("chip_h").cast("long")
    has_prev = "aug_op" in chips.columns
    dtypes = dict(chips.dtypes)
    geo_cols = [c for c in GEOREF_COLS if c in chips.columns]
    branches = []
    for op in ops:
        fn = _GEOMETRIC[op]
        out_v = v if fn is None else fn(v, w, h)
        swap = op == "rot90"
        label = (
            F.concat(F.col("aug_op"), F.lit("+" + op)) if has_prev else F.lit(op)
        )
        geo_fields = [
            (F.col(c) if op == "identity" else F.lit(None).cast(dtypes[c])).alias(c)
            for c in geo_cols
        ]
        branches.append(
            F.struct(
                label.alias("aug_op"),
                out_v.alias("values"),
                (F.col("chip_h") if swap else F.col("chip_w")).alias("chip_w"),
                (F.col("chip_w") if swap else F.col("chip_h")).alias("chip_h"),
                *geo_fields,
            )
        )
    other = [
        c
        for c in chips.columns
        if c not in ("values", "chip_w", "chip_h", "aug_op", *geo_cols)
    ]
    out = (
        chips.withColumn("_aug", F.explode(F.array(*branches)))
        .select(
            *other,
            F.col("_aug.aug_op").alias("aug_op"),
            F.col("_aug.values").alias("values"),
            F.col("_aug.chip_w").alias("chip_w"),
            F.col("_aug.chip_h").alias("chip_h"),
            *[F.col(f"_aug.{c}").alias(c) for c in geo_cols],
        )
    )
    return normalize_chips(out) if normalize_values else out
