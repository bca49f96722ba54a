"""Training-prep operators (band_math.qa_mask / stretch / chip_histogram,
splits.assign_split): numpy-oracle exactness, edge semantics, plan contracts
(pure Catalyst, zero added shuffles past the pivot), and truth-mirror
closures for q78–q81.

Reference parity: the reference leaves QA masking, normalization and
splitting to driver-side xarray / torchvision / torchgeo
(`examples/landsat_xarray.py`, `src/rasteret/integrations/torchgeo.py`);
at 100 TB these run WHERE the pixels are.
"""

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from rasteret_spark.operators import band_math as bm
from rasteret_spark.operators import splits


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def per_band(spark):
    rng = np.random.default_rng(11)
    rows, truth = [], {}
    for chip in ["c1", "c2", "c3"]:
        vals = {}
        for band in (0, 1):
            v = rng.uniform(0.0, 300.0, 16).round(2)
            mask = rng.random(16) < 0.2
            arr = [None if m else float(x) for m, x in zip(mask, v)]
            vals[band] = arr
            rows.append({"chip_id": chip, "band": band, "values": arr})
        truth[chip] = vals
    return spark.createDataFrame(rows), truth


class TestQaMask:
    def test_matches_numpy(self, per_band):
        df, truth = per_band
        got = {r.chip_id: r for r in bm.qa_mask(df, bit=1).collect()}
        for chip, vals in truth.items():
            data, qa = vals[0], vals[1]
            want_masked, qa_valid, qa_flagged = [], 0, 0
            for v, q in zip(data, qa):
                if q is None:
                    want_masked.append(None)
                    continue
                qa_valid += 1
                if (int(math.floor(q)) >> 1) & 1:
                    qa_flagged += 1
                    want_masked.append(None)
                else:
                    want_masked.append(v)
            r = got[chip]
            assert r.qa_valid == qa_valid and r.qa_flagged == qa_flagged
            assert list(r.masked) == want_masked
            assert r.kept_px == sum(v is not None for v in want_masked)

    def test_unknown_qa_drops_pixel_and_bit_bounds(self, spark):
        df = spark.createDataFrame([
            {"chip_id": "c", "band": 0, "values": [1.0, 2.0, 3.0, None]},
            # qa: null -> drop; 2.0 has bit1 set -> drop; 0.9 floors to 0
            # (clear); 4.0 bit1 clear -> keep (but data null)
            {"chip_id": "c", "band": 1, "values": [None, 2.0, 0.9, 4.0]},
        ])
        r = bm.qa_mask(df, bit=1).collect()[0]
        assert list(r.masked) == [None, None, 3.0, None]
        assert r.qa_valid == 3 and r.qa_flagged == 1 and r.kept_px == 1
        with pytest.raises(ValueError, match="outside"):
            bm.qa_mask(df, bit=63)

    def test_negative_qa_uses_arithmetic_shift(self, spark):
        # floor(-0.5) = -1 -> all bits set -> flagged (numpy semantics)
        df = spark.createDataFrame([
            {"chip_id": "c", "band": 0, "values": [7.0]},
            {"chip_id": "c", "band": 1, "values": [-0.5]},
        ])
        r = bm.qa_mask(df, bit=1).collect()[0]
        assert r.qa_flagged == 1 and list(r.masked) == [None]

    def test_plan_single_shuffle_no_python(self, per_band):
        df, _ = per_band
        plan = _plan(bm.qa_mask(df))
        assert "EvalPython" not in plan and "InPandas" not in plan
        assert plan.count("Exchange") == 1  # the band pivot only


class TestStretch:
    def test_matches_numpy(self, per_band):
        df, truth = per_band
        got = {(r.chip_id, r.band): r
               for r in bm.stretch(df, p_lo=0.1, p_hi=0.9).collect()}
        for chip, vals in truth.items():
            for band, arr in vals.items():
                a = np.asarray([np.nan if v is None else v for v in arr])
                s = np.sort(a[~np.isnan(a)])
                n = s.size
                lo = np.percentile(s, 10)
                hi = np.percentile(s, 90)
                r = got[(chip, band)]
                assert abs(r.cut_lo - lo) < 1e-9 and abs(r.cut_hi - hi) < 1e-9
                assert r.clip_lo_px == int((s < r.cut_lo).sum())
                assert r.clip_hi_px == int((s > r.cut_hi).sum())
                for g, v in zip(r.stretched, a):
                    if np.isnan(v):
                        assert g is None
                    else:
                        want = min(max((v - r.cut_lo) / (r.cut_hi - r.cut_lo),
                                       0.0), 1.0)
                        assert abs(g - want) < 1e-15
                assert n > 0

    def test_flat_and_empty_chips(self, spark):
        df = spark.createDataFrame([
            {"chip_id": "flat", "band": 0, "values": [5.0, 5.0, None]},
            {"chip_id": "empty", "band": 0, "values": [None, None]},
        ])
        got = {r.chip_id: r for r in bm.stretch(df).collect()}
        r = got["flat"]  # hi == lo -> every valid pixel maps to 0.0
        assert list(r.stretched) == [0.0, 0.0, None]
        assert r.clip_lo_px == 0 and r.clip_hi_px == 0
        r = got["empty"]
        assert r.cut_lo is None and list(r.stretched) == [None, None]
        with pytest.raises(ValueError, match="p_lo"):
            bm.stretch(df, p_lo=0.9, p_hi=0.1)

    def test_plan_zero_shuffle_no_python(self, per_band):
        df, _ = per_band
        plan = _plan(bm.stretch(df))
        assert "EvalPython" not in plan and "InPandas" not in plan
        assert plan.count("Exchange") == 0


class TestChipHistogram:
    def test_matches_numpy(self, per_band):
        df, truth = per_band
        got = {(r.chip_id, r.band): r
               for r in bm.chip_histogram(df, 0.0, 300.0, n_bins=6).collect()}
        width = 300.0 / 6
        for chip, vals in truth.items():
            for band, arr in vals.items():
                counts = [0] * 6
                for v in arr:
                    if v is None:
                        continue
                    counts[min(max(int(math.floor(v / width)), 0), 5)] += 1
                r = got[(chip, band)]
                assert [r[f"h{k}"] for k in range(6)] == counts
                assert sum(counts) == sum(v is not None for v in arr)

    def test_edge_bins_clamp_out_of_range(self, spark):
        df = spark.createDataFrame([
            {"chip_id": "c", "band": 0,
             "values": [-5.0, 0.0, 9.99, 10.0, 25.0, None]},
        ])
        r = bm.chip_histogram(df, 0.0, 20.0, n_bins=2).collect()[0]
        assert r.h0 == 3 and r.h1 == 2  # -5 clamps low, 25 clamps high
        with pytest.raises(ValueError, match="hi > lo"):
            bm.chip_histogram(df, 5.0, 5.0)
        with pytest.raises(ValueError, match="n_bins"):
            bm.chip_histogram(df, 0.0, 1.0, n_bins=0)

    def test_plan_zero_shuffle_no_python(self, per_band):
        df, _ = per_band
        plan = _plan(bm.chip_histogram(df, 0.0, 300.0))
        assert "EvalPython" not in plan and "InPandas" not in plan
        assert plan.count("Exchange") == 0


class TestAssignSplit:
    def test_deterministic_and_mirrors_xxh64(self, spark):
        from oracles.truth import _xxh64_str

        df = spark.createDataFrame(
            [{"chip_id": f"chip-{i}"} for i in range(500)]
        )
        got = {r.chip_id: r.split
               for r in splits.assign_split(df).collect()}
        again = {r.chip_id: r.split
                 for r in splits.assign_split(df.repartition(7)).collect()}
        assert got == again  # partitioning-invariant
        for cid, split in got.items():
            u = _xxh64_str(cid) % splits.SPLIT_BUCKETS
            want = ("train" if u < 800_000
                    else "val" if u < 900_000 else "test")
            assert split == want, cid
        # fractions roughly honored on 500 keys
        n_train = sum(s == "train" for s in got.values())
        assert 0.7 * 500 < n_train < 0.9 * 500

    def test_salt_redeals_and_validation(self, spark):
        df = spark.createDataFrame(
            [{"chip_id": f"chip-{i}"} for i in range(200)]
        )
        base = {r.chip_id: r.split
                for r in splits.assign_split(df).collect()}
        salted = {r.chip_id: r.split
                  for r in splits.assign_split(df, salt="exp2").collect()}
        assert base != salted  # a salt re-deals SOME assignments
        with pytest.raises(ValueError, match="fractions"):
            splits.assign_split(df, fractions=(0.5, 0.2))
        with pytest.raises(ValueError, match="sum"):
            splits.assign_split(df, fractions=(0.5, 0.2, 0.1))
        with pytest.raises(ValueError, match="needs column"):
            splits.assign_split(df.withColumnRenamed("chip_id", "x"))

    def test_append_stability(self, spark):
        """New keys never move old keys between splits (the property
        randomSplit lacks)."""
        small = spark.createDataFrame(
            [{"chip_id": f"chip-{i}"} for i in range(100)]
        )
        big = spark.createDataFrame(
            [{"chip_id": f"chip-{i}"} for i in range(300)]
        )
        a = {r.chip_id: r.split for r in splits.assign_split(small).collect()}
        b = {r.chip_id: r.split for r in splits.assign_split(big).collect()}
        assert all(b[k] == v for k, v in a.items())

    def test_split_summary_and_plan(self, spark):
        df = splits.assign_split(
            spark.createDataFrame([{"chip_id": f"c{i}"} for i in range(50)])
        )
        summ = {r.split: r["count"]
                for r in df.groupBy("split").count().collect()}
        assert sum(summ.values()) == 50
        plan = _plan(splits.assign_split(
            spark.createDataFrame([{"chip_id": "c"}])
        ))
        assert "EvalPython" not in plan and plan.count("Exchange") == 0


@pytest.mark.parametrize(
    "qname,keys",
    [
        ("q78_qa_mask", ["chip_id"]),
        ("q79_stretch", ["chip_id", "band"]),
        ("q80_chip_histogram", ["chip_id", "band"]),
        ("q81_train_split", ["chip_id", "band"]),
        ("q65_temporal_median", ["chip_id", "band"]),
        ("q70_class_stats", ["chip_id", "band", "class_id"]),
        ("q71_focal_filters", ["chip_id", "band"]),
    ],
)
def test_truth_mirror_closure(spark, qname, keys):
    """q65/q70/q71 and q78–q81 closure: the engine over real encoded
    mosaics equals the independent numpy mirror from pre-encode truth, bit
    for bit."""
    import duckdb

    import __spark_entry__ as entry

    got = (
        entry.queries()[qname](spark, entry.ORACLE_SF_DIR)
        .toPandas().sort_values(keys).reset_index(drop=True)
    )
    want = (
        duckdb.sql(entry.oracle_sql()[qname])
        .df().sort_values(keys).reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    for c in got.columns:
        if pd.api.types.is_integer_dtype(want[c].dtype):
            got[c] = got[c].astype("int64")
            want[c] = want[c].astype("int64")
    pd.testing.assert_frame_equal(got, want, check_exact=True)
