"""Distributed band math (operators/band_math.py): numpy-oracle exactness,
null/zero-denominator semantics, end-to-end over real mosaic output, and
the plan contract (band indices pure Catalyst with exactly one shuffle; the
temporal reductions and chip_stats exactly one vectorized Python stage).

Reference parity: the reference computes NDVI driver-side on assembled
xarrays (`examples/landsat_xarray.py:58`); here the same arithmetic runs
where the pixels are.
"""

import numpy as np
import pandas as pd
import pytest

from rasteret_spark.operators import band_math as bm
from rasteret_spark.operators import raster_mosaic as rmo


def _assert_one_python_stage(df, exchanges):
    """Executed plan: exactly one MapInPandas, no other Python node, and
    ``exchanges`` Exchange nodes."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "EvalPython" not in plan, plan
    assert plan.count("Exchange") == exchanges, plan


GRID = {"chip_xmin": 1.0, "chip_ymax": 2.0, "chip_xres": 0.1,
        "chip_yres": -0.1, "chip_w": 4, "chip_h": 3, "grid_epsg": 4326}


def _per_band_rows():
    rng = np.random.default_rng(5)
    rows, truth = [], {}
    for chip in ["c1", "c2"]:
        vals = {}
        for band in (0, 1):
            v = rng.uniform(0.0, 100.0, 12).round(3)
            mask = rng.random(12) < 0.25
            arr = [None if m else float(x) for m, x in zip(mask, v)]
            vals[band] = arr
            rows.append({"chip_id": chip, "band": band, "values": arr, **GRID})
        truth[chip] = vals
    # c3 pins the edge semantics: (b1-b0)/(b1+b0) hits a zero denominator
    # at pixel 0 and a null input at pixel 2
    rows.append({"chip_id": "c3", "band": 0, "values": [1.0, 0.0, None], **GRID})
    rows.append({"chip_id": "c3", "band": 1, "values": [-1.0, 0.5, 2.0], **GRID})
    return rows, truth


@pytest.fixture(scope="module")
def per_band(spark):
    rows, truth = _per_band_rows()
    return spark.createDataFrame(rows), truth


def test_normalized_difference_matches_numpy(per_band):
    df, truth = per_band
    out = {r.chip_id: r for r in bm.normalized_difference(df, 1, 0).collect()}
    for chip, vals in truth.items():
        a, b = vals[1], vals[0]
        want = [
            None if (x is None or y is None or x + y == 0) else (x - y) / (x + y)
            for x, y in zip(a, b)
        ]
        got = list(out[chip].nd)
        assert [g is None for g in got] == [w is None for w in want]
        for g, w in zip(got, want):
            if g is not None:
                assert abs(g - w) < 1e-12
        wv = [w for w in want if w is not None]
        r = out[chip]
        assert r.nd_filled == len(wv)
        assert abs(r.nd_mean - float(np.mean(wv))) < 1e-12
        assert abs(r.nd_min - min(wv)) < 1e-12
        assert abs(r.nd_max - max(wv)) < 1e-12
        # georeferencing rides along
        assert r.chip_w == GRID["chip_w"] and r.grid_epsg == 4326


def test_zero_denominator_and_null_propagation(per_band):
    df, _ = per_band
    r = {x.chip_id: x for x in bm.normalized_difference(df, 1, 0).collect()}["c3"]
    assert r.nd[0] is None          # (-1-1)/(-1+1): zero denominator -> null
    assert abs(r.nd[1] - 1.0) < 1e-12
    assert r.nd[2] is None          # null input -> null
    assert r.nd_filled == 1 and abs(r.nd_mean - 1.0) < 1e-12


def test_band_ratio(per_band):
    df, truth = per_band
    r = {x.chip_id: x for x in bm.band_ratio(df, 1, 0).collect()}
    a, b = truth["c1"][1], truth["c1"][0]
    want = [
        None if (x is None or y is None or y == 0) else x / y for x, y in zip(a, b)
    ]
    got = list(r["c1"].ratio)
    assert [g is None for g in got] == [w is None for w in want]
    for g, w in zip(got, want):
        if g is not None:
            assert abs(g - w) < 1e-9
    assert abs(r["c3"].ratio[0] - (-1.0)) < 1e-12
    assert r["c3"].ratio[1] is None  # 0.5 / 0 -> null, not Inf
    assert r["c3"].ratio[2] is None  # 2.0 / null


def test_threshold_mask(per_band):
    df, _ = per_band
    nd = bm.normalized_difference(df, 1, 0)
    r = {x.chip_id: x for x in bm.threshold_mask(nd, "nd", lo=0.0).collect()}["c3"]
    assert r.mask[0] is None and r.mask[1] is True and r.mask[2] is None
    assert r.mask_count == 1
    with pytest.raises(ValueError, match="need lo"):
        bm.threshold_mask(nd, "nd")


def test_plan_is_pure_catalyst_single_shuffle(per_band):
    """The index evaluates JVM-side: no Python eval nodes anywhere, and the
    band pivot is the ONLY exchange."""
    df, _ = per_band
    plan = (
        bm.normalized_difference(df, 1, 0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert plan.count("Exchange") == 1


def test_ndvi_over_real_mosaic_matches_full_decode(spark, images_pdf):
    """End-to-end: mosaic two bands from real blobs, compute the normalized
    difference distributed, and compare against numpy over the SAME mosaic
    rows pulled to the driver — ties band_math to the decode pipeline."""
    chips = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "chip_id": f"nd-{j}",
                    "chip_xmin": 13.36 + j * 0.03,
                    "chip_ymax": 52.54,
                    "chip_xres": 0.001,
                    "chip_yres": 0.001,
                    "chip_w": 24,
                    "chip_h": 24,
                }
                for j in range(3)
            ]
        )
    )
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    payload = spark.createDataFrame(images_pdf[["image_id", "datetime", "bytes"]])
    pairs = rmo.chip_candidates(chips, img_light, payload, res=7)
    mosaic = rmo.first_valid_mosaic_pixels(pairs, bands=(0, 1)).persist()
    rows = mosaic.select("chip_id", "band", "values").collect()
    got = {r.chip_id: r for r in bm.normalized_difference(mosaic, 1, 0).collect()}
    by_chip = {}
    for r in rows:
        by_chip.setdefault(r.chip_id, {})[r.band] = [
            np.nan if v is None else v for v in r["values"]
        ]
    assert got, "no chips composited"
    for chip_id, bands in by_chip.items():
        a = np.asarray(bands[1])
        b = np.asarray(bands[0])
        with np.errstate(invalid="ignore", divide="ignore"):
            den = a + b
            want = np.where(den == 0, np.nan, (a - b) / den)
        gv = np.asarray(
            [np.nan if v is None else v for v in got[chip_id].nd]
        )
        np.testing.assert_allclose(gv, want, rtol=0, atol=1e-12, equal_nan=True)
    mosaic.unpersist()


def test_time_series_index_with_composite_key(spark):
    """CHIP_STACK-shaped input (chip_id, t_index, band, values): the pivot
    keys on (chip_id, t_index), yielding an index row per timestep — NDVI
    time series without reshaping."""
    rows = []
    for t in (0, 1):
        for band, vals in ((0, [2.0, 1.0]), (1, [6.0, None])):
            rows.append(
                {"chip_id": "c", "t_index": t, "band": band,
                 "values": [v if v is None else v * (t + 1) for v in vals]}
            )
    df = spark.createDataFrame(rows)
    out = bm.normalized_difference(
        df, 1, 0, key_cols=("chip_id", "t_index"), with_stats=False
    ).collect()
    assert len(out) == 2
    for r in out:
        # scaling both bands by (t+1) leaves the normalized difference fixed
        assert abs(r.nd[0] - (6.0 - 2.0) / (6.0 + 2.0)) < 1e-12
        assert r.nd[1] is None


class TestTemporalComposite:
    @pytest.fixture(scope="class")
    def stack(self, spark):
        # 3 timesteps, one band, 4 pixels; per-pixel null patterns differ
        rows = [
            {"chip_id": "c", "band": 0, "t_index": 0,
             "values": [1.0, None, 5.0, 2.0], **GRID},
            {"chip_id": "c", "band": 0, "t_index": 1,
             "values": [3.0, 7.0, None, 4.0], **GRID},
            {"chip_id": "c", "band": 0, "t_index": 2,
             "values": [2.0, 9.0, None, None], **GRID},
        ]
        return spark.createDataFrame(rows), [
            [1.0, np.nan, 5.0, 2.0],
            [3.0, 7.0, np.nan, 4.0],
            [2.0, 9.0, np.nan, np.nan],
        ]

    @pytest.mark.parametrize("stat,npfn", [
        ("median", np.nanmedian), ("mean", np.nanmean),
        ("min", np.nanmin), ("max", np.nanmax),
    ])
    def test_stats_match_numpy(self, stack, stat, npfn):
        df, arrs = stack
        r = bm.temporal_composite(df, stat=stat).collect()[0]
        a = np.asarray(arrs)
        with np.errstate(all="ignore"):
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                want = npfn(a, axis=0)
        got = np.asarray([np.nan if v is None else v for v in r.composite])
        np.testing.assert_allclose(got, want, atol=1e-12, equal_nan=True)
        assert r.n_t == 3 and r.grid_epsg == 4326

    def test_count_and_even_median(self, stack, spark):
        df, _ = stack
        r = bm.temporal_composite(df, stat="count").collect()[0]
        assert list(r.composite) == [3.0, 2.0, 1.0, 2.0]
        # even count: mean of the two middle values (numpy semantics)
        df2 = spark.createDataFrame([
            {"chip_id": "c", "band": 0, "t_index": t, "values": [float(v)]}
            for t, v in enumerate([4.0, 1.0, 3.0, 2.0])
        ])
        r2 = bm.temporal_composite(df2, stat="median").collect()[0]
        assert abs(r2.composite[0] - 2.5) < 1e-12

    def test_all_null_pixel_and_errors(self, spark, stack):
        df, _ = stack
        dfn = spark.createDataFrame([
            {"chip_id": "c", "band": 0, "t_index": 0, "values": [None, 1.0]},
            {"chip_id": "c", "band": 0, "t_index": 1, "values": [None, 2.0]},
        ])
        r = bm.temporal_composite(dfn, stat="median").collect()[0]
        assert r.composite[0] is None and abs(r.composite[1] - 1.5) < 1e-12
        with pytest.raises(ValueError, match="unknown stat"):
            bm.temporal_composite(df, stat="mode")

    def test_plan_pure_catalyst(self, stack):
        """One shuffle (the groupBy), then ONE vectorized Python stage."""
        df, _ = stack
        _assert_one_python_stage(
            bm.temporal_composite(df, stat="median"), exchanges=1)


class TestChangeDetect:
    @pytest.fixture(scope="class")
    def stack(self, spark):
        # 4 timesteps around the split; per-pixel null patterns differ so
        # every epoch-emptiness combination appears at some pixel
        import datetime as dt

        ts = [dt.datetime(2023, 1, 1), dt.datetime(2023, 6, 1),
              dt.datetime(2024, 2, 1), dt.datetime(2024, 7, 1)]
        arrs = [
            [1.0, None, 5.0, None],
            [3.0, 7.0, None, None],
            [2.0, 9.0, None, 40.0],
            [8.0, None, None, 44.0],
        ]
        rows = [
            {"chip_id": "c", "band": 0, "t_index": t, "datetime": ts[t],
             "values": arrs[t], **GRID}
            for t in range(4)
        ]
        return spark.createDataFrame(rows), arrs

    def test_matches_numpy_two_epoch_median(self, stack):
        df, arrs = stack
        r = bm.change_detect(df, "2024-01-01 00:00:00",
                             threshold=30.0).collect()[0]
        a = np.asarray([[np.nan if v is None else v for v in row]
                        for row in arrs], dtype=float)
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            want = np.nanmedian(a[2:], axis=0) - np.nanmedian(a[:2], axis=0)
        got = np.asarray([np.nan if v is None else v for v in r.delta])
        np.testing.assert_allclose(got, want, atol=1e-12, equal_nan=True)
        assert (r.n_before, r.n_after) == (2, 2)
        # pixels 0/1 valid in both epochs; 2 after-empty, 3 before-empty
        assert list(r.delta) == [3.0, 2.0, None, None]
        assert r.delta_valid == 2
        assert r.delta_changed == 0  # |3|, |2| not > 30
        r2 = bm.change_detect(df, "2024-01-01", threshold=2.5).collect()[0]
        assert r2.delta_changed == 1  # only |3| > 2.5

    def test_empty_epoch_and_count_stat(self, stack, spark):
        df, _ = stack
        # split before everything: before epoch empty -> all deltas null
        r = bm.change_detect(df, "2022-01-01").collect()[0]
        assert r.n_before == 0 and r.n_after == 4
        assert r.delta_valid == 0 and all(v is None for v in r.delta)
        # count stat deltas observation density (empty epoch counts 0)
        rc = bm.change_detect(df, "2024-01-01", stat="count").collect()[0]
        assert list(rc.delta) == [0.0, 0.0, -1.0, 2.0]
        with pytest.raises(ValueError, match="unknown stat"):
            bm.change_detect(df, "2024-01-01", stat="mode")
        with pytest.raises(ValueError, match="needs column"):
            bm.change_detect(df.drop("datetime"), "2024-01-01")

    def test_plan_pure_catalyst_single_shuffle(self, stack):
        """Both epochs in ONE groupBy shuffle, then ONE Python stage."""
        df, _ = stack
        _assert_one_python_stage(
            bm.change_detect(df, "2024-01-01", threshold=1.0), exchanges=1)

    def test_truth_mirror_agrees_on_real_chips(self, spark):
        """q72 closure: the engine path over real encoded chip stacks equals
        the independent numpy two-epoch truth mirror, row for row."""
        import duckdb

        import __spark_entry__ as entry

        got = (
            entry.q72_change_detect(spark, entry.ORACLE_SF_DIR)
            .toPandas()
            .sort_values(["chip_id", "band"])
            .reset_index(drop=True)
        )
        want = (
            duckdb.sql(entry.oracle_sql()["q72_change_detect"])
            .df()
            .sort_values(["chip_id", "band"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want) and len(got) > 0
        pd.testing.assert_frame_equal(
            got.astype({"band": "int64", "n_before": "int64",
                        "n_after": "int64", "delta_valid": "int64",
                        "delta_changed": "int64"}),
            want.astype({"band": "int64", "n_before": "int64",
                         "n_after": "int64", "delta_valid": "int64",
                         "delta_changed": "int64"}),
            check_exact=True,
        )
        # the threshold is not degenerate at either end
        assert got["delta_changed"].sum() > 0
        assert (got["delta_changed"] < got["delta_valid"]).any()


class TestTemporalTrend:
    @pytest.fixture(scope="class")
    def stack(self, spark):
        import datetime as dt

        # days 0, 10, 20, 40 from the first scene; pixel patterns:
        # 0 = clean linear (slope 0.5/day), 1 = two points, 2 = one point,
        # 3 = all null, 4 = noisy
        days = [0, 10, 20, 40]
        arrs = [
            [0.0, 1.0, None, None, 3.0],
            [5.0, None, 7.0, None, 1.0],
            [10.0, 2.0, None, None, 9.0],
            [20.0, None, None, None, 4.0],
        ]
        rows = [
            {"chip_id": "c", "band": 0, "t_index": t, "image_id": f"i{t}",
             "datetime": dt.datetime(2023, 1, 1) + dt.timedelta(days=d),
             "values": arrs[t], **GRID}
            for t, d in enumerate(days)
        ]
        return spark.createDataFrame(rows), days, arrs

    def test_matches_polyfit(self, stack):
        df, days, arrs = stack
        r = bm.temporal_trend(df).collect()[0]
        assert r.n_t == 4
        for i in range(5):
            pts = [(d, row[i]) for d, row in zip(days, arrs)
                   if row[i] is not None]
            if len(pts) < 2:
                assert r.slope[i] is None and r.intercept[i] is None
                continue
            t = np.array([p[0] for p in pts], dtype=float)
            v = np.array([p[1] for p in pts], dtype=float)
            m, b = np.polyfit(t, v, 1)
            assert abs(r.slope[i] - m) < 1e-9
            assert abs(r.intercept[i] - b) < 1e-9

    def test_duplicate_times_and_order_invariance(self, stack, spark):
        import datetime as dt

        df, _, _ = stack
        # all observations at ONE timestamp -> den == 0 -> null fit
        d0 = dt.datetime(2023, 1, 1)
        dup = spark.createDataFrame([
            {"chip_id": "c", "band": 0, "t_index": t, "image_id": f"i{t}",
             "datetime": d0, "values": [float(t)]}
            for t in range(3)
        ])
        r = bm.temporal_trend(dup).collect()[0]
        assert r.slope[0] is None and r.intercept[0] is None
        # a group whose every values array is null collects ZERO
        # observations -> n_t 0, null fit arrays (no crash)
        rn = bm.temporal_trend(spark.createDataFrame(
            [{"chip_id": "c", "band": 0, "t_index": t, "image_id": f"i{t}",
              "datetime": d0, "values": None} for t in range(2)],
            "chip_id string, band int, t_index int, image_id string, "
            "datetime timestamp, values array<double>",
        )).collect()[0]
        assert rn.n_t == 0 and rn.slope is None and rn.intercept is None
        # shuffled input rows produce BIT-identical folds (array_sort)
        from pyspark.sql import functions as sf

        a = bm.temporal_trend(df).collect()[0]
        b = bm.temporal_trend(
            df.repartition(7).sortWithinPartitions(sf.rand(3))
        ).collect()[0]
        assert list(a.slope) == list(b.slope)
        assert list(a.intercept) == list(b.intercept)
        with pytest.raises(ValueError, match="needs column"):
            bm.temporal_trend(df.drop("datetime"))

    def test_plan_pure_catalyst_single_shuffle(self, stack):
        """One shuffle (the groupBy), then ONE vectorized Python stage."""
        df, _, _ = stack
        _assert_one_python_stage(bm.temporal_trend(df), exchanges=1)

    def test_truth_mirror_agrees_on_real_chips(self, spark):
        """q73 closure: engine OLS over real encoded chip stacks equals the
        independent numpy sequential-fold truth mirror, bit for bit."""
        import duckdb

        import __spark_entry__ as entry

        got = (
            entry.q73_temporal_trend(spark, entry.ORACLE_SF_DIR)
            .toPandas()
            .sort_values(["chip_id", "band"])
            .reset_index(drop=True)
        )
        want = (
            duckdb.sql(entry.oracle_sql()["q73_temporal_trend"])
            .df()
            .sort_values(["chip_id", "band"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want) and len(got) > 0
        ints = {"band": "int64", "n_t": "int64", "slope_valid": "int64"}
        pd.testing.assert_frame_equal(
            got.astype(ints), want.astype(ints), check_exact=True
        )
        assert got["slope_valid"].sum() > 0


class TestChipStats:
    def test_matches_numpy(self, per_band):
        df, truth = per_band
        got = {(r.chip_id, r.band): r
               for r in bm.chip_stats(df).collect()}
        for chip, vals in truth.items():
            for band, arr in vals.items():
                r = got[(chip, band)]
                a = np.asarray([np.nan if v is None else v for v in arr])
                s = np.sort(a[~np.isnan(a)])
                assert r.n_valid == s.size
                assert abs(r.null_frac - (a.size - s.size) / a.size) < 1e-15
                assert r.vmin == s[0] and r.vmax == s[-1]
                assert r.at_max_px == int((a == s[-1]).sum())
                for p, col in [(0.25, r.q25), (0.5, r.q50), (0.75, r.q75)]:
                    want = np.percentile(s, p * 100)  # linear interp
                    assert abs(col - want) < 1e-12, (chip, band, p)

    def test_empty_and_constant_chips(self, spark):
        df = spark.createDataFrame([
            {"chip_id": "null", "band": 0, "values": [None, None]},
            {"chip_id": "const", "band": 0, "values": [5.0, 5.0, None]},
            {"chip_id": "one", "band": 0, "values": [3.0]},
        ])
        got = {r.chip_id: r for r in bm.chip_stats(df).collect()}
        r = got["null"]
        assert r.n_valid == 0 and r.null_frac == 1.0
        assert r.vmin is None and r.q50 is None and r.at_max_px == 0
        r = got["const"]
        assert r.at_max_px == 2 and r.q25 == 5.0 and r.q75 == 5.0
        assert abs(r.null_frac - 1.0 / 3.0) < 1e-15
        r = got["one"]
        assert r.q25 == r.q50 == r.q75 == 3.0 and r.null_frac == 0.0
        with pytest.raises(ValueError, match="outside"):
            bm.chip_stats(df, probs=(1.5,))
        with pytest.raises(ValueError, match="needs column"):
            bm.chip_stats(df.drop("values"))

    def test_plan_zero_shuffle(self, per_band):
        df, _ = per_band
        _assert_one_python_stage(bm.chip_stats(df), exchanges=0)

    def test_truth_mirror_agrees_on_real_chips(self, spark):
        """q75 closure: engine QA stats over real encoded mosaics equal the
        hand-coded numpy quantile mirror, bit for bit."""
        import duckdb

        import __spark_entry__ as entry

        got = (
            entry.q75_chip_stats(spark, entry.ORACLE_SF_DIR)
            .toPandas()
            .sort_values(["chip_id", "band"])
            .reset_index(drop=True)
        )
        want = (
            duckdb.sql(entry.oracle_sql()["q75_chip_stats"])
            .df()
            .sort_values(["chip_id", "band"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want) and len(got) > 0
        ints = {"band": "int64", "n_valid": "int64", "at_max_px": "int64"}
        pd.testing.assert_frame_equal(
            got.astype(ints), want.astype(ints), check_exact=True
        )
        assert (got["n_valid"] > 0).any()


def test_index_rows_assemble_to_georeferenced_arrays(spark):
    """R10 closure for derived arrays: band-math output rows assemble
    through the driver-side adapter with honest georeferencing."""
    from rasteret_spark.operators import assemble

    rows, _ = _per_band_rows()
    df = spark.createDataFrame(rows)
    nd_rows = bm.normalized_difference(df, 1, 0).collect()
    arr, attrs = assemble.chip_to_array(nd_rows[0], value_col="nd")
    assert arr.shape == (GRID["chip_h"], GRID["chip_w"])
    assert attrs["width"] == GRID["chip_w"] and attrs["height"] == GRID["chip_h"]
    assert attrs["transform"][0] == GRID["chip_xres"]
    # composite rows assemble identically
    stack = spark.createDataFrame([
        {"chip_id": "c", "band": 0, "t_index": t,
         "values": [float(t + 1)] * 12, **GRID}
        for t in range(3)
    ])
    comp_rows = bm.temporal_composite(stack, stat="mean").collect()
    arr2, attrs2 = assemble.chip_to_array(comp_rows[0], value_col="composite")
    assert arr2.shape == (GRID["chip_h"], GRID["chip_w"])
    np.testing.assert_allclose(arr2, 2.0)
    assert attrs2["transform"] == attrs["transform"]
