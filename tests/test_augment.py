"""Native chip augmentation: geometric permutation gathers and per-chip
normalization, pinned against numpy and by algebraic involutions — and
plan-asserted UDF-free (the point of doing augmentation JVM-side)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.operators import augment as ag


def _chips_df(spark, with_null=True):
    rng = np.random.default_rng(5)
    rows = []
    for i, (h, w) in enumerate([(3, 4), (5, 5), (2, 6)]):
        vals = rng.normal(size=h * w).round(3).tolist()
        if with_null and i == 0:
            vals[5] = None
        rows.append({"chip_id": f"c{i}", "values": vals, "chip_w": w, "chip_h": h})
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "chip_id string, values array<double>, chip_w int, chip_h int",
    ), rows


def _np_of(vals, h, w):
    return np.array(
        [np.nan if v is None else v for v in vals], dtype=float
    ).reshape(h, w)


def test_geometric_ops_match_numpy(spark):
    df, rows = _chips_df(spark)
    out = ag.augment_chips(
        df, ops=("identity", "hflip", "vflip", "rot90", "rot180")
    ).toPandas()
    for r in rows:
        h, w = r["chip_h"], r["chip_w"]
        src = _np_of(r["values"], h, w)
        want = {
            "identity": src,
            "hflip": src[:, ::-1],
            "vflip": src[::-1, :],
            "rot90": np.rot90(src, k=-1),  # numpy rot90 is CCW; ours is CW
            "rot180": src[::-1, ::-1],
        }
        g = out[out["chip_id"] == r["chip_id"]].set_index("aug_op")
        for op, exp in want.items():
            row = g.loc[op]
            eh, ew = exp.shape
            assert (row["chip_h"], row["chip_w"]) == (eh, ew), op
            got = _np_of(row["values"], eh, ew)
            np.testing.assert_array_equal(
                np.isnan(got), np.isnan(exp), err_msg=op
            )
            np.testing.assert_array_equal(
                got[~np.isnan(exp)], exp[~np.isnan(exp)], err_msg=op
            )


def test_involutions_and_rotation_group(spark):
    """flip twice = identity; rot90 four times = identity — applied through
    the engine itself, not numpy."""
    df, rows = _chips_df(spark)
    once = ag.augment_chips(df, ops=("hflip",)).drop("aug_op")
    twice = ag.augment_chips(once, ops=("hflip",)).drop("aug_op").toPandas()
    base = {r["chip_id"]: r["values"] for r in rows}
    for _, r in twice.iterrows():
        want = base[r["chip_id"]]
        assert list(r["values"]) == pytest.approx(
            [np.nan if v is None else v for v in want], nan_ok=True
        )
    r4 = df
    for _ in range(4):
        r4 = ag.augment_chips(r4, ops=("rot90",)).drop("aug_op")
    for _, r in r4.toPandas().iterrows():
        want = base[r["chip_id"]]
        assert list(r["values"]) == pytest.approx(
            [np.nan if v is None else v for v in want], nan_ok=True
        )


def test_normalize_matches_numpy_and_preserves_nulls(spark):
    df, rows = _chips_df(spark)
    got = ag.normalize_chips(df).toPandas().set_index("chip_id")
    for r in rows:
        vals = np.array([np.nan if v is None else v for v in r["values"]])
        valid = vals[~np.isnan(vals)]
        want = (vals - valid.mean()) / valid.std()
        g = np.array(
            [np.nan if v is None else v for v in got.loc[r["chip_id"], "values"]]
        )
        np.testing.assert_array_equal(np.isnan(g), np.isnan(want))
        np.testing.assert_allclose(g[~np.isnan(g)], want[~np.isnan(want)], rtol=1e-12)
    # constant chip -> zeros, not NaN
    const = spark.createDataFrame(
        pd.DataFrame([{"chip_id": "k", "values": [7.0] * 6, "chip_w": 3, "chip_h": 2}]),
        "chip_id string, values array<double>, chip_w int, chip_h int",
    )
    out = ag.normalize_chips(const).toPandas().iloc[0]
    assert list(out["values"]) == [0.0] * 6


def test_augment_plan_is_udf_free_and_shuffle_free(spark):
    df, _ = _chips_df(spark)
    out = ag.augment_chips(df, ops=("identity", "hflip", "rot90"),
                           normalize_values=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan, "augmentation must be a narrow stage"
    assert out.count() == 3 * 3  # 3 chips x 3 ops


def test_unknown_op_raises(spark):
    df, _ = _chips_df(spark)
    with pytest.raises(ValueError, match="unknown augment ops"):
        ag.augment_chips(df, ops=("hflip", "transpose"))


def test_augment_composes_with_chip_stack_rows(spark, images_pdf):
    """The op runs directly on chip_stack_pixels output rows (the real
    producer): augmented copies keep georeferencing + metadata columns."""
    from rasteret_spark.operators import raster_mosaic as rmo

    chips = spark.createDataFrame(pd.DataFrame([{
        "chip_id": "c", "chip_xmin": 13.36, "chip_ymax": 52.54,
        "chip_xres": 0.001, "chip_yres": 0.001, "chip_w": 16, "chip_h": 16,
    }]))
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    payload = spark.createDataFrame(images_pdf[["image_id", "datetime", "bytes"]])
    pairs = rmo.chip_candidates(chips, img_light, payload, res=7,
                                max_images_per_chip=3)
    stack = rmo.chip_stack_pixels(pairs, bands=(0,))
    aug = ag.augment_chips(
        stack.filter(F.col("status") == "ok"), ops=("identity", "hflip")
    ).toPandas()
    assert len(aug) > 0 and set(aug["aug_op"]) == {"identity", "hflip"}
    assert {"image_id", "t_index", "grid_epsg"} <= set(aug.columns)
    for _, r in aug.iterrows():
        assert len(r["values"]) == 16 * 16


def test_zero_area_chip_yields_empty_array_not_error(spark):
    """sequence(0, -1) would yield [0,-1] and w=0 math would divide by zero
    under ANSI — degenerate chips must come back as empty arrays."""
    df = spark.createDataFrame(
        pd.DataFrame([
            {"chip_id": "z", "values": [], "chip_w": 0, "chip_h": 0},
            {"chip_id": "ok", "values": [1.0, 2.0], "chip_w": 2, "chip_h": 1},
        ]),
        "chip_id string, values array<double>, chip_w int, chip_h int",
    )
    got = ag.augment_chips(df, ops=("hflip", "rot90")).toPandas()
    z = got[got["chip_id"] == "z"]
    assert len(z) == 2 and all(len(v) == 0 for v in z["values"])
    okr = got[(got["chip_id"] == "ok") & (got["aug_op"] == "hflip")].iloc[0]
    assert list(okr["values"]) == [2.0, 1.0]


def test_augment_is_self_composable_with_provenance(spark):
    """Chaining passes composes labels ('rot90+hflip') instead of
    duplicating the aug_op column — the dihedral group builds by chaining."""
    df, rows = _chips_df(spark, with_null=False)
    twice = ag.augment_chips(
        ag.augment_chips(df, ops=("rot90",)), ops=("identity", "hflip")
    )
    assert twice.columns.count("aug_op") == 1
    pdf = twice.toPandas()
    assert set(pdf["aug_op"]) == {"rot90+identity", "rot90+hflip"}
    # rot90 then hflip == transpose: verify against numpy on one chip
    r = rows[0]
    src = _np_of(r["values"], r["chip_h"], r["chip_w"])
    want = np.rot90(src, k=-1)[:, ::-1]
    row = pdf[(pdf["chip_id"] == r["chip_id"]) & (pdf["aug_op"] == "rot90+hflip")].iloc[0]
    got = _np_of(row["values"], row["chip_h"], row["chip_w"])
    np.testing.assert_array_equal(got, want)


def test_non_identity_ops_null_georef_and_assemble_refuses(spark):
    """Flipped/rotated pixels are no longer described by the north-up affine:
    the georef columns null out on non-identity branches (identity keeps
    them), and assemble refuses augmented rows outright."""
    from rasteret_spark.operators import assemble

    chips = spark.createDataFrame(
        pd.DataFrame([{
            "chip_id": "c", "values": [1.0, 2.0, 3.0, 4.0],
            "chip_w": 2, "chip_h": 2,
            "chip_xmin": 10.0, "chip_ymax": 50.0,
            "chip_xres": 0.5, "chip_yres": 0.5, "grid_epsg": 4326,
        }]),
        "chip_id string, values array<double>, chip_w int, chip_h int, "
        "chip_xmin double, chip_ymax double, chip_xres double, "
        "chip_yres double, grid_epsg int",
    )
    aug = ag.augment_chips(chips, ops=("identity", "hflip", "rot90")).toPandas()
    ident = aug[aug["aug_op"] == "identity"].iloc[0]
    assert ident["chip_xmin"] == 10.0 and ident["grid_epsg"] == 4326
    for op in ("hflip", "rot90"):
        r = aug[aug["aug_op"] == op].iloc[0]
        for c in ag.GEOREF_COLS:
            assert pd.isna(r[c]), f"{op} must null {c}"
        with pytest.raises(ValueError, match="aug_op"):
            assemble._attrs(r)
    # identity rows still assemble
    attrs = assemble._attrs(ident)
    assert attrs["transform"][2] == 10.0 and attrs["epsg"] == 4326
    # composition keeps the invalidation: identity-then-flip nulls too
    twice = ag.augment_chips(
        ag.augment_chips(chips, ops=("identity",)), ops=("hflip",)
    ).toPandas().iloc[0]
    assert twice["aug_op"] == "identity+hflip" and pd.isna(twice["chip_xmin"])
