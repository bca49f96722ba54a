"""Pixel-level first-valid mosaic + chip stack: bit-exact single-process
oracle, order invariance, cross-CRS compositing.

The oracle reprojects with plain per-pixel numpy over FULL decodes (no
windowed reads, no CachedReader) — an independent path from the operator's
windowed kernel, the same differential strategy the reference uses against
rasterio.merge (`/root/reference/src/rasteret/core/rio_semantics.py:51-313`).
"""

import re
import uuid

import numpy as np
import pandas as pd
import pytest

from rasteret_spark import crs
from rasteret_spark.format import container, miniraster as mr
from rasteret_spark.operators import raster_mosaic as rmo, spatial_join as sj


def _chips_pdf():
    # chips over the densest hotspot (13.4, 52.5) — overlapping images with
    # mixed EPSG (4326 + 32633) exercise the cross-CRS resample path
    rows = []
    for j in range(6):
        rows.append(
            {
                "chip_id": f"chip-{j:03d}",
                "chip_xmin": 13.36 + (j % 3) * 0.03,
                "chip_ymax": 52.54 - (j // 3) * 0.03,
                "chip_xres": 0.001,
                "chip_yres": 0.001,
                "chip_w": 32,
                "chip_h": 32,
            }
        )
    return pd.DataFrame(rows)


def _oracle_reproject(blob: bytes, band: int, chip: dict) -> np.ndarray:
    """Independent reproject: full decode + per-pixel loop (no windows)."""
    meta = mr.parse_header(blob[: mr.header_len_from_prefix(blob[:8])])
    if band >= meta.n_bands:
        return np.full((chip["chip_h"], chip["chip_w"]), np.nan)
    arr = container.decode_full(blob, band=band).astype(np.float64)
    a, _, c, _, e, f = meta.transform
    out = np.full((chip["chip_h"], chip["chip_w"]), np.nan)
    for r in range(chip["chip_h"]):
        for cc in range(chip["chip_w"]):
            lon = chip["chip_xmin"] + (cc + 0.5) * chip["chip_xres"]
            lat = chip["chip_ymax"] - (r + 0.5) * chip["chip_yres"]
            xs, ys = crs.from_lonlat(meta.epsg, np.array([lon]), np.array([lat]))
            col = int(np.floor((xs[0] - c) / a))
            row = int(np.floor((ys[0] - f) / e))
            if 0 <= col < meta.width and 0 <= row < meta.height:
                v = arr[row, col]
                if meta.nodata is None or (
                    not np.isnan(v) if np.isnan(meta.nodata) else v != meta.nodata
                ):
                    out[r, cc] = v
    return out


def _oracle_mosaic(images_pdf, chip: dict, band: int) -> np.ndarray:
    order = images_pdf.sort_values(
        ["datetime", "image_id"], ascending=[False, True]
    )
    canvas = np.full((chip["chip_h"], chip["chip_w"]), np.nan)
    for _, im in order.iterrows():
        if not (
            im["xmax"] >= chip["chip_xmin"]
            and im["xmin"] <= chip["chip_xmin"] + chip["chip_w"] * chip["chip_xres"]
            and im["ymax"] >= chip["chip_ymax"] - chip["chip_h"] * chip["chip_yres"]
            and im["ymin"] <= chip["chip_ymax"]
        ):
            continue
        rep = _oracle_reproject(bytes(im["bytes"]), band, chip)
        need = np.isnan(canvas) & ~np.isnan(rep)
        canvas[need] = rep[need]
    return canvas


def _subtrees(plan: str, op: str) -> list[str]:
    """Text of each ``op`` node's OWN subtree in a physical plan string
    (indent-based walk — a flat [:N]-char window would bleed into sibling
    nodes)."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if not ln.lstrip(" :+-").startswith(op):
            continue
        sub = [ln]
        for j in range(i + 1, len(lines)):
            if depth[j] <= depth[i]:
                break
            sub.append(lines[j])
        out.append("\n".join(sub))
    return out


def _executed_plans(spark, fn) -> list[str]:
    """Final physical plan of every SQL query ``fn`` executes — the plan
    build's checkpoint and the action alike — read back from Spark's SQL
    status store under a job description unique to this call."""
    sc = spark.sparkContext
    mark = f"executed-plans-{uuid.uuid4().hex}"
    mode = spark.conf.get("spark.sql.ui.explainMode")
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    sc.setJobDescription(mark)
    try:
        fn()
    finally:
        sc.setJobDescription(None)
        spark.conf.set("spark.sql.ui.explainMode", mode)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    tail = store.executionsList(max(n - 50, 0), 50)
    execs = [tail.apply(i) for i in range(tail.size())]
    return [
        e.physicalPlanDescription().split("== Initial Plan ==")[0]
        for e in execs
        if e.description() == mark
    ]


@pytest.fixture(scope="module")
def chip_tables(spark, images_pdf):
    """(chips, light image side, payload) for ``chip_candidates``."""
    chips = spark.createDataFrame(_chips_pdf())
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    payload = spark.createDataFrame(images_pdf[["image_id", "datetime", "bytes"]])
    return chips, img_light, payload


@pytest.fixture(scope="module")
def mosaic_inputs(chip_tables):
    pairs = rmo.chip_candidates(*chip_tables, res=7)
    pairs.persist().count()
    return pairs


def test_mosaic_matches_oracle_bit_exact(mosaic_inputs, images_pdf):
    got = rmo.first_valid_mosaic_pixels(mosaic_inputs, bands=(0, 1)).toPandas()
    assert set(got["chip_id"]) == set(_chips_pdf()["chip_id"]), (
        "every chip over the hotspot must find candidate images"
    )
    assert got["n_images"].max() > 1, "fixture must have overlapping images"
    for _, chip in _chips_pdf().iterrows():
        for band in (0, 1):
            want = _oracle_mosaic(images_pdf, chip, band)
            row = got[(got["chip_id"] == chip["chip_id"]) & (got["band"] == band)]
            assert len(row) == 1
            vals = np.array(
                [np.nan if v is None else v for v in row.iloc[0]["values"]]
            ).reshape(chip["chip_h"], chip["chip_w"])
            assert int(row.iloc[0]["filled"]) == int((~np.isnan(want)).sum())
            np.testing.assert_array_equal(
                np.isnan(vals), np.isnan(want)
            )
            np.testing.assert_array_equal(vals[~np.isnan(want)], want[~np.isnan(want)])


def test_mosaic_is_input_order_invariant(mosaic_inputs):
    a = rmo.first_valid_mosaic_pixels(mosaic_inputs, bands=(0,)).toPandas()
    shuffled = mosaic_inputs.orderBy("image_id", ascending=False)
    b = rmo.first_valid_mosaic_pixels(shuffled, bands=(0,)).toPandas()
    a = a.sort_values(["chip_id", "band"]).reset_index(drop=True)
    b = b.sort_values(["chip_id", "band"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_chip_stack_is_time_ordered_and_complete(mosaic_inputs, images_pdf):
    got = rmo.chip_stack_pixels(mosaic_inputs, bands=(0,)).toPandas()
    dt_of = dict(zip(images_pdf["image_id"], images_pdf["datetime"]))
    for chip_id, g in got.groupby("chip_id"):
        g = g.sort_values("t_index")
        dts = [dt_of[i] for i in g["image_id"]]
        assert dts == sorted(dts), "t_index must follow datetime ascending"
        assert list(g["t_index"]) == list(range(len(g)))
        assert all(len(v) == 32 * 32 for v in g["values"])


def test_reproject_bilinear_matches_pointwise_oracle():
    """Pure-kernel test (no Spark): bilinear resample vs an independent
    per-pixel interpolation from the full decode."""
    rng = np.random.default_rng(9)
    arr = (rng.random((80, 100)) * 500).astype("float32")
    tr = (0.001, 0.0, 10.0, 0.0, -0.001, 50.0)  # EPSG 4326, north-up
    blob = mr.encode_image(arr, tile_w=32, tile_h=32, transform=tr, epsg=4326)
    reader = mr.CachedReader(blob)
    grid = dict(xmin=10.005, ymax=49.995, xres=0.00037, yres=0.00041, w=40, h=30)
    got = rmo.reproject_bilinear(
        reader, 0, grid["xmin"], grid["ymax"], grid["xres"], grid["yres"],
        grid["w"], grid["h"],
    )
    full = container.decode_full(blob).astype(np.float64)
    for r in range(grid["h"]):
        for c in range(grid["w"]):
            lon = grid["xmin"] + (c + 0.5) * grid["xres"]
            lat = grid["ymax"] - (r + 0.5) * grid["yres"]
            fc = (lon - tr[2]) / tr[0]
            fr = (lat - tr[5]) / tr[4]
            if not (0 <= fc < 100 and 0 <= fr < 80):
                assert np.isnan(got[r, c])
                continue
            gx, gy = fc - 0.5, fr - 0.5
            c0 = min(max(int(np.floor(gx)), 0), 99)
            r0 = min(max(int(np.floor(gy)), 0), 79)
            c1, r1 = min(c0 + 1, 99), min(r0 + 1, 79)
            wx = min(max(gx - np.floor(gx), 0.0), 1.0)
            wy = min(max(gy - np.floor(gy), 0.0), 1.0)
            want = (1 - wy) * ((1 - wx) * full[r0, c0] + wx * full[r0, c1]) + wy * (
                (1 - wx) * full[r1, c0] + wx * full[r1, c1]
            )
            np.testing.assert_allclose(got[r, c], want, rtol=1e-12)


def test_reproject_bilinear_nodata_poisons_strictly():
    arr = np.full((40, 40), 7.0, dtype="float32")
    arr[10:20, 10:20] = -9999.0
    tr = (0.001, 0.0, 0.0, 0.0, -0.001, 0.0)
    blob = mr.encode_image(arr, transform=tr, epsg=4326, nodata=-9999.0)
    reader = mr.CachedReader(blob)
    out = rmo.reproject_bilinear(reader, 0, 0.0, 0.0, 0.001, 0.001, 40, 40)
    # pixels whose 4-corner stencil touches the nodata block are NaN,
    # everything else keeps the constant value
    assert np.isnan(out[15, 15])
    assert out[5, 5] == 7.0
    assert np.isnan(out).sum() >= 100


def test_mosaic_fixture_exercises_south_up_and_cross_crs(images_pdf):
    """The chips sit over the hotspot, whose candidate images include
    south-up transforms (row-increasing y) and UTM CRSes — the composite
    parity test above therefore covers warp normalization for real."""
    hot = images_pdf[
        (images_pdf["xmax"] >= 13.35) & (images_pdf["xmin"] <= 13.47)
        & (images_pdf["ymax"] >= 52.44) & (images_pdf["ymin"] <= 52.55)
    ]
    transforms = [tuple(t) for t in hot["transform"]]
    assert any(t[4] > 0 for t in transforms), "need a south-up image in range"
    assert hot["epsg"].nunique() > 1, "need mixed CRSes in range"


def test_chip_stack_cap_keeps_newest_in_time_order(chip_tables, images_pdf):
    """T-depth bound on the stack: the NEWEST N scenes are kept, t_index
    still runs oldest-first over the kept set."""
    full = rmo.chip_stack_pixels(
        rmo.chip_candidates(*chip_tables, max_images_per_chip=None), bands=(0,)
    ).toPandas()
    capped = rmo.chip_stack_pixels(
        rmo.chip_candidates(*chip_tables, max_images_per_chip=2), bands=(0,)
    ).toPandas()
    assert not full["capped"].any(), "uncapped run must not flag truncation"
    dt_of = dict(zip(images_pdf["image_id"], images_pdf["datetime"]))
    for chip_id, g in capped.groupby("chip_id"):
        assert len(g) <= 2
        n_cands = len(full[full["chip_id"] == chip_id])
        assert g["capped"].eq(n_cands > 2).all(), "capped flag reflects truncation"
        cands = full[full["chip_id"] == chip_id]["image_id"].tolist()
        # newest-2 selection order: datetime desc, image_id asc (stable sort)
        ordered = sorted(sorted(cands), key=lambda i: dt_of[i], reverse=True)
        assert set(g["image_id"]) == set(ordered[:2])
        g = g.sort_values("t_index")
        dts = [dt_of[i] for i in g["image_id"]]
        assert dts == sorted(dts)
        assert list(g["t_index"]) == list(range(len(g)))


def test_mosaic_max_images_cap_bounds_group_depth(chip_tables, images_pdf):
    """cap=1: only the newest candidate contributes per chip — equals the
    oracle run over just that image; n_images reflects the cap."""
    capped = rmo.first_valid_mosaic_pixels(
        rmo.chip_candidates(*chip_tables, max_images_per_chip=1), bands=(0,)
    ).toPandas()
    assert (capped["n_images"] == 1).all()
    # chips with >1 candidate must SAY they were truncated (no silent drop)
    full_counts = rmo.first_valid_mosaic_pixels(
        rmo.chip_candidates(*chip_tables, max_images_per_chip=None), bands=(0,)
    ).toPandas().set_index("chip_id")["n_images"]
    for _, row in capped.iterrows():
        assert bool(row["capped"]) == (int(full_counts[row["chip_id"]]) > 1)
    for _, chip in _chips_pdf().iterrows():
        row = capped[capped["chip_id"] == chip["chip_id"]]
        if not len(row):
            continue
        # newest candidate for this chip per the composite order
        cands = []
        for _, im in images_pdf.iterrows():
            if (
                im["xmax"] >= chip["chip_xmin"]
                and im["xmin"] <= chip["chip_xmin"] + chip["chip_w"] * chip["chip_xres"]
                and im["ymax"] >= chip["chip_ymax"] - chip["chip_h"] * chip["chip_yres"]
                and im["ymin"] <= chip["chip_ymax"]
            ):
                cands.append(im)
        # deterministic tie-break: max datetime, then min image_id
        best_dt = max(r["datetime"] for r in cands)
        ties = [r for r in cands if r["datetime"] == best_dt]
        newest = min(ties, key=lambda r: r["image_id"])
        want = _oracle_reproject(bytes(newest["bytes"]), 0, chip)
        vals = np.array(
            [np.nan if v is None else v for v in row.iloc[0]["values"]]
        ).reshape(chip["chip_h"], chip["chip_w"])
        np.testing.assert_array_equal(np.isnan(vals), np.isnan(want))
        np.testing.assert_array_equal(vals[~np.isnan(want)], want[~np.isnan(want)])


def test_payload_join_grouped_broadcast_vs_shuffle_parity(
    chip_tables, monkeypatch, blob_exchanges
):
    """The size-guarded grouped payload join: broadcast mode keeps blobs out
    of the join shuffle entirely (no sort-merge join; the broadcast side is
    the per-image chip LIST), the above-bound shuffle mode produces
    identical rows — same guarantee the zonal path has."""
    from rasteret_spark.operators import decode

    chips, img_light, payload = chip_tables

    bc = rmo.chip_candidates(chips, img_light, payload, res=7)
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, "broadcast path must not shuffle blobs"
    assert "BroadcastExchange" in plan

    subs = _subtrees(plan, "BroadcastExchange")
    # SOME broadcast side must be the grouped chip list (other broadcasts —
    # e.g. an auto-broadcast cell-cover side — may legitimately exist)...
    assert any("_chips" in s for s in subs), (
        "the broadcast side must be the grouped chip list"
    )
    # ...and NO broadcast side may carry the blob payload (the regression
    # this plan test exists to catch: duplicating bytes across executors)
    assert not any("bytes#" in s for s in subs), (
        "the payload must never be broadcast"
    )

    with monkeypatch.context() as m:
        m.setattr(decode, "BROADCAST_PAIRS_LIMIT", 0)  # force above-bound
        sh = rmo.chip_candidates(chips, img_light, payload, res=7)
    # the shuffle path moves each blob through one exchange (image_id); the
    # broadcast path through none before the per-chip group
    assert blob_exchanges(sh) == 1
    assert blob_exchanges(bc) == 0
    a = bc.drop("bytes").toPandas().sort_values(["chip_id", "image_id"]).reset_index(drop=True)
    b = sh.drop("bytes").toPandas().sort_values(["chip_id", "image_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])
    assert len(a) > 0
    # and the mosaic on top is unchanged either way
    ma = rmo.first_valid_mosaic_pixels(bc, bands=(0,)).toPandas()
    mb = rmo.first_valid_mosaic_pixels(sh, bands=(0,)).toPandas()
    key = ["chip_id", "band"]
    pd.testing.assert_frame_equal(
        ma.sort_values(key).reset_index(drop=True),
        mb.sort_values(key).reset_index(drop=True),
    )


def test_default_chip_plan_caps_light_candidates_once(spark, images_pdf, tmp_path):
    """Default call shape on a stored table: across everything the build
    and the action execute there is exactly one Window over ``chip_id`` —
    the depth cap, row number and pre-cap count in one node — and no
    payload column reaches it: the cap sorts light candidates, never blob
    rows."""
    path = str(tmp_path / "images")
    spark.createDataFrame(images_pdf).write.parquet(path)
    images = spark.read.parquet(path)
    chips = spark.createDataFrame(_chips_pdf())
    plans = _executed_plans(
        spark,
        lambda: rmo.first_valid_mosaic_pixels(
            rmo.chip_candidates(chips, sj.image_light(images), images)
        ).collect(),
    )
    assert len(plans) >= 2, "expected the build's checkpoint and the action"
    windows = [
        sub
        for plan in plans
        for sub in _subtrees(plan, "Window [")
        if re.search(r"\], \[chip_id#\d+\], \[", sub.splitlines()[0])
    ]
    assert len(windows) == 1, windows
    assert not re.search(r"\b(bytes|href)#", windows[0]), (
        "the depth-cap window must not carry the payload"
    )
