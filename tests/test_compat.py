"""Compat layer: the torch map-style dataset.

Parity target: the reference hands results to users as a TorchGeo dataset
(`src/rasteret/integrations/torchgeo.py:292-299`).  torch is not in this
container, so ChipDataset implements torch's duck-typed map-style protocol
over a staged cache.
"""

import numpy as np
import pandas as pd
import pytest

from rasteret_spark.compat.torchdata import ChipDataset
from rasteret_spark.operators import assemble


# --- torch map-style dataset ------------------------------------------------------
def _stack_rows():
    rows = []
    for t, (img, dt) in enumerate([("i1", "2024-01-01"), ("i2", "2024-02-01"),
                                   ("i3", "2024-03-01")]):
        for band in (0, 1):
            rows.append({
                "chip_id": "c-x", "t_index": t, "band": band,
                "image_id": img, "datetime": dt, "status": "ok",
                "chip_w": 4, "chip_h": 4,
                "chip_xmin": 0.0, "chip_ymax": 1.0,
                "chip_xres": 0.25, "chip_yres": 0.25,
                "grid_epsg": 4326,
                "values": [float(t * 100 + band * 10 + k) for k in range(16)],
                "capped": False,
            })
    return rows


def test_chip_dataset_stage_and_random_access(spark, tmp_path):
    rows = []
    for chip in ("c-a", "c-b", "c-c"):
        for r in _stack_rows():
            rows.append({**r, "chip_id": chip, "image_id": f"{chip}/{r['image_id']}"})
    df = spark.createDataFrame(pd.DataFrame(rows))
    ds = ChipDataset.stage(df, str(tmp_path / "chips"))
    assert len(ds) == 3
    assert ds.chip_ids == ["c-a", "c-b", "c-c"]  # deterministic order
    # random access out of order, like a shuffling DataLoader sampler
    for i in (2, 0, 1):
        sample = ds[i]
        assert sample["chip_id"] == ds.chip_ids[i]
        assert sample["image"].shape == (3, 2, 4, 4)
        assert sample["image"].dtype == np.float32
    # values match the streaming surface exactly
    (batch,) = list(assemble.chip_batches(df, batch_size=8))
    for i, (tensor, attrs) in enumerate(batch):
        assert np.allclose(ds[i]["image"], tensor.astype(np.float32))
        meta = ds.attrs(i)
        assert meta["chip_id"] == attrs["chip_id"]
        assert meta["epsg"] == attrs["epsg"]
        assert meta["times"] == [str(t) for t in attrs["times"]]
    with pytest.raises(IndexError):
        ds[3]


def test_chip_dataset_from_cache_reopens(spark, tmp_path):
    df = spark.createDataFrame(pd.DataFrame(_stack_rows()))
    staged = ChipDataset.stage(df, str(tmp_path / "c2"))
    reopened = ChipDataset.from_cache(str(tmp_path / "c2"))
    assert reopened.chip_ids == staged.chip_ids
    assert np.array_equal(reopened[0]["image"], staged[0]["image"])


def test_collection_to_torch_dataset_end_to_end(spark, tmp_path):
    """Facade drive: synthetic images -> Collection -> staged dataset ->
    random access -> pixel-center axes of a staged chip plane."""
    import rasteret_spark.sources.synthetic as syn
    from rasteret_spark.collection import Collection

    tbl = syn.images_table(12)
    coll = Collection(spark, spark.createDataFrame(tbl.to_pandas()))
    im = tbl.to_pandas().iloc[0]
    bbox = (float(im.xmin), float(im.ymin), float(im.xmax), float(im.ymax))
    ds = coll.to_torch_dataset(str(tmp_path / "tds"), bbox=bbox, size=16,
                               xres=(bbox[2] - bbox[0]) / 16, bands=(0,))
    assert len(ds) >= 1
    s0 = ds[0]
    assert s0["image"].ndim == 4 and s0["image"].shape[2:] == (16, 16)
    meta = ds.attrs(0)
    lon, lat = assemble.pixel_coords({**meta, "width": 16, "height": 16})
    assert lon.shape == (16,) and lat.shape == (16,)
    assert bbox[0] < lon[0] < lon[-1] < bbox[2]
    assert bbox[3] > lat[0] > lat[-1] > bbox[1]
    assert np.isfinite(np.nanmean(s0["image"][0, 0]))


def test_chip_dataset_works_with_a_dataloader_style_consumer(spark, tmp_path):
    """Emulate exactly what torch's map-style DataLoader does: len(), a
    shuffled sampler over range(len), __getitem__ per index, default-
    collate-style stacking of same-shaped arrays."""
    rows = []
    for chip in ("c-a", "c-b", "c-c", "c-d"):
        for r in _stack_rows():
            rows.append({**r, "chip_id": chip})
    df = spark.createDataFrame(pd.DataFrame(rows))
    ds = ChipDataset.stage(df, str(tmp_path / "c3"))
    rng = np.random.RandomState(0)
    order = rng.permutation(len(ds))
    batches = [order[i:i + 2] for i in range(0, len(order), 2)]
    seen = set()
    for idxs in batches:
        samples = [ds[int(i)] for i in idxs]
        stacked = np.stack([s["image"] for s in samples])  # default_collate
        assert stacked.shape == (len(idxs), 3, 2, 4, 4)
        seen.update(s["chip_id"] for s in samples)
    assert seen == {"c-a", "c-b", "c-c", "c-d"}