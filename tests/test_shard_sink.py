"""Tar-shard export: from-scratch ustar shards round-tripped through the
stdlib tarfile parser (independent implementation), deterministic bytes,
stable shard assignment, per-shard quarantine."""

import io
import tarfile

import numpy as np
import pandas as pd
import pytest

from rasteret_spark.format import ustar
from rasteret_spark.operators import raster_mosaic as rmo
from rasteret_spark.operators import shard_sink as ss


# --- ustar unit layer ---------------------------------------------------------
def test_ustar_roundtrips_through_stdlib_tarfile():
    entries = [
        ("a.json", b'{"k": 1}'),
        ("a.npy", bytes(range(256)) * 3 + b"xy"),  # non-block-aligned size
        ("empty.bin", b""),
    ]
    blob = ustar.tar_bytes(entries)
    assert len(blob) % 512 == 0
    with tarfile.open(fileobj=io.BytesIO(blob)) as t:
        members = t.getmembers()
        assert [m.name for m in members] == [n for n, _ in entries]
        for m, (_, data) in zip(members, entries):
            assert m.isfile() and m.size == len(data)
            assert m.mtime == 0 and m.uid == 0 and m.gid == 0
            assert t.extractfile(m).read() == data


def test_ustar_is_deterministic_and_bounds_names():
    e = [("x.npy", b"abc")]
    assert ustar.tar_bytes(e) == ustar.tar_bytes(e)
    with pytest.raises(ValueError, match="100 bytes"):
        ustar.tar_bytes([("n" * 101, b"")])


# --- distributed sink ---------------------------------------------------------
def _chips_pdf():
    return pd.DataFrame(
        [
            {
                "chip_id": f"shard-chip-{j:03d}",
                "chip_xmin": 13.36 + (j % 3) * 0.02,
                "chip_ymax": 52.54 - (j // 3) * 0.02,
                "chip_xres": 0.001,
                "chip_yres": 0.001,
                "chip_w": 24,
                "chip_h": 24,
            }
            for j in range(9)
        ]
    )


@pytest.fixture(scope="module")
def shard_pixels(spark, images_pdf):
    chips = spark.createDataFrame(_chips_pdf())
    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    payload = spark.createDataFrame(images_pdf[["image_id", "datetime", "bytes"]])
    pairs = rmo.chip_candidates(chips, img_light, payload, res=7)
    px = rmo.first_valid_mosaic_pixels(pairs, bands=(0, 1))
    px.persist().count()
    return px


def test_shard_roundtrip_bit_exact(spark, shard_pixels, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("shards"))
    man = ss.write_tar_shards(shard_pixels, out, n_shards=4).toPandas()
    assert set(man["status"]) == {"ok"}
    truth = shard_pixels.toPandas()
    assert man["n_samples"].sum() == truth["chip_id"].nunique()
    assert (man["n_entries"] == 2 * man["n_samples"]).all()

    back = ss.read_tar_shards(spark, out + "/*.tar").toPandas()
    assert len(back) == truth["chip_id"].nunique()
    by_chip = dict(tuple(truth.groupby("chip_id")))
    for _, s in back.iterrows():
        g = by_chip[s["chip_id"]].sort_values("band")
        assert s["n_bands"] == len(g)
        assert (s["height"], s["width"]) == (g.iloc[0]["chip_h"], g.iloc[0]["chip_w"])
        # v_sum mirrors the float32 storage cast exactly
        want = np.stack(
            [
                np.asarray(
                    [np.nan if v is None else v for v in vals], dtype="float64"
                ).astype("float32")
                for vals in g["values"]
            ]
        ).astype("float64")
        filled = int(np.count_nonzero(~np.isnan(want)))
        assert s["filled"] == filled
        assert s["v_sum"] == pytest.approx(float(np.nansum(want)), abs=0)
        assert s["chip_xmin"] == g.iloc[0]["chip_xmin"]
        assert s["grid_epsg"] == 4326


def test_shard_assignment_matches_xxhash_and_survives_repartition(
    spark, shard_pixels, tmp_path_factory
):
    from pyspark.sql import functions as F

    out_a = str(tmp_path_factory.mktemp("shards_a"))
    out_b = str(tmp_path_factory.mktemp("shards_b"))
    man_a = ss.write_tar_shards(shard_pixels, out_a, n_shards=4).toPandas()
    man_b = ss.write_tar_shards(
        shard_pixels.repartition(7), out_b, n_shards=4
    ).toPandas()
    a = man_a.sort_values("shard_id").reset_index(drop=True)
    b = man_b.sort_values("shard_id").reset_index(drop=True)
    assert list(a["shard_id"]) == list(b["shard_id"])
    assert list(a["sha256"]) == list(b["sha256"])  # byte-identical shards

    want = {
        r["chip_id"]: r["shard"]
        for r in shard_pixels.select("chip_id")
        .distinct()
        .withColumn("shard", F.pmod(F.xxhash64("chip_id"), F.lit(4)).cast("int"))
        .collect()
    }
    back = ss.read_tar_shards(spark, out_a + "/*.tar").toPandas()
    got = dict(zip(back["chip_id"], back["shard_id"]))
    assert got == want


def test_shard_quarantine_isolates_bad_samples(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("shards_bad"))
    base = {
        "chip_xmin": 0.0, "chip_ymax": 1.0, "chip_xres": 0.001,
        "chip_yres": 0.001, "chip_w": 8, "chip_h": 8, "grid_epsg": 4326,
    }
    from pyspark.sql import functions as F

    def shard_of(cid: str) -> int:
        return (
            spark.range(1)
            .select(F.pmod(F.xxhash64(F.lit(cid)), F.lit(8)).cast("int"))
            .collect()[0][0]
        )

    good_shard = shard_of("good-a")
    bad_id = next(
        f"bad-{i}" for i in range(32) if shard_of(f"bad-{i}") != good_shard
    )
    rows = [
        {"chip_id": "good-a", "band": 0,
         "values": [float(i) for i in range(64)], **base},
        {"chip_id": bad_id, "band": 0, "values": [1.0], **base},
    ]
    pdf = pd.DataFrame(rows)
    man = ss.write_tar_shards(spark.createDataFrame(pdf), out, n_shards=8).toPandas()
    assert len(man) == 8  # every shard id materializes, empty ones included
    ok = [s for s in man.itertuples() if s.status == "ok"]
    bad = [s for s in man.itertuples() if s.status.startswith("error:")]
    assert len(ok) == 7 and len(bad) == 1
    assert bad[0].shard_id != good_shard
    assert sorted(s.n_samples for s in ok) == [0] * 6 + [1]
    assert next(s for s in ok if s.shard_id == good_shard).n_samples == 1


def test_empty_shards_write_and_read_back(spark, shard_pixels, tmp_path_factory):
    """n_shards far above the sample count: empty shards serialize as
    trailer-only tars and the reader's explicit-column frames survive the
    Arrow schema check (no column-less pandas edge)."""
    out = str(tmp_path_factory.mktemp("shards_sparse"))
    n_chips = shard_pixels.select("chip_id").distinct().count()
    man = ss.write_tar_shards(shard_pixels, out, n_shards=64).toPandas()
    assert set(man["status"]) == {"ok"}
    assert man["n_samples"].sum() == n_chips
    empty = man[man["n_samples"] == 0]
    assert not empty.empty  # 9 chips cannot fill 64 shards
    assert (empty["n_bytes"] == 1024).all()  # two-zero-block trailer only
    back = ss.read_tar_shards(spark, out + "/*.tar").toPandas()
    assert len(back) == n_chips


def test_image_caption_shards_byte_exact(spark, images_pdf, tmp_path_factory):
    """Image+caption export: captions survive BYTE-FOR-BYTE (asserted on
    the raw tar payloads, not through any reader), pixels round-trip as
    float32 with nodata masked to NaN, shards are deterministic."""
    import tarfile

    from rasteret_spark.format import container

    sub = images_pdf[["image_id", "bytes", "caption"]].head(12)
    images = spark.createDataFrame(sub)
    out = str(tmp_path_factory.mktemp("imgshards"))
    man = ss.write_image_shards(images, out, n_shards=3).toPandas()
    assert set(man["status"]) == {"ok"}
    assert man["n_samples"].sum() == len(sub)
    assert (man["n_entries"] == 3 * man["n_samples"]).all()  # json+npy+txt

    # caption bytes straight off the tar members
    caps = {}
    arrays = {}
    for href in man["href"]:
        with tarfile.open(href) as t:
            for m in t.getmembers():
                if m.name.endswith(".txt"):
                    caps[m.name.removesuffix(".txt")] = t.extractfile(m).read()
                elif m.name.endswith(".npy"):
                    arrays[m.name.removesuffix(".npy")] = np.lib.format.read_array(
                        io.BytesIO(t.extractfile(m).read())
                    )
    for _, r in sub.iterrows():
        assert caps[r["image_id"]] == r["caption"].encode()
        meta = container.parse_any(bytes(r["bytes"]))
        dec = container.decode_full(bytes(r["bytes"]))
        if dec.ndim == 2:
            dec = dec[None]
        want = dec.astype(np.float32)
        if meta.nodata is not None and not np.isnan(meta.nodata):
            want = np.where(
                dec == np.asarray(meta.nodata).astype(dec.dtype), np.nan, want
            )
        got = arrays[r["image_id"]]
        assert got.dtype == np.float32 and got.shape == want.shape
        np.testing.assert_array_equal(got, want)

    # determinism: identical bytes on re-export, regardless of partitioning
    out2 = str(tmp_path_factory.mktemp("imgshards2"))
    man2 = ss.write_image_shards(images.repartition(5), out2, n_shards=3).toPandas()
    assert sorted(man["sha256"]) == sorted(man2["sha256"])

    back = ss.read_image_shards(spark, out + "/*.tar").toPandas()
    assert len(back) == len(sub)
    assert dict(zip(back["image_id"], back["caption"])) == dict(
        zip(sub["image_id"], sub["caption"])
    )


def test_null_keys_quarantine_and_null_captions_roundtrip(
    spark, images_pdf, tmp_path_factory
):
    """A null sample key routes to the sentinel shard -1 as a manifest
    error row (never an int(NaN) task crash); a NULL caption writes no
    .txt member and reads back as NULL — distinct from an empty one."""
    import tarfile

    sub = images_pdf[["image_id", "bytes", "caption"]].head(6).copy()
    sub.loc[sub.index[1], "caption"] = None
    sub.loc[sub.index[2], "image_id"] = None
    out = str(tmp_path_factory.mktemp("imgshards_null"))
    man = ss.write_image_shards(
        spark.createDataFrame(sub), out, n_shards=2
    ).toPandas()
    bad = man[man["shard_id"] == -1]
    assert len(bad) == 1
    assert bad.iloc[0]["status"].startswith("error: 1 rows with null")
    assert bad.iloc[0]["href"] is None
    good = man[man["shard_id"] >= 0]
    assert set(good["status"]) == {"ok"} and good["n_samples"].sum() == 5

    nulled = sub.iloc[1]["image_id"]
    names = set()
    for href in good["href"]:
        with tarfile.open(href) as t:
            names |= {m.name for m in t.getmembers()}
    assert f"{nulled}.json" in names and f"{nulled}.txt" not in names

    back = ss.read_image_shards(spark, out + "/*.tar").toPandas()
    caps = dict(zip(back["image_id"], back["caption"]))
    assert caps[nulled] is None
    # the generator's empty-string captions stay "" (not conflated w/ null)
    for _, r in sub.iloc[[0] + list(range(3, 6))].iterrows():
        assert caps[r["image_id"]] == r["caption"]


def test_shard_sink_plan_single_exchange(spark, shard_pixels, images_pdf):
    """Scale shape pinned: both sinks move data exactly once — one
    hash-partitioning Exchange (the per-shard groupBy) feeding the export
    kernel; no extra repartition, no second pass over the payloads."""
    man = ss.write_tar_shards(shard_pixels, "/tmp/_plan_probe", n_shards=4)
    plan = man._jdf.queryExecution().executedPlan().toString()
    # upstream (mosaic) exchanges show in the lineage; the SINK adds one
    assert plan.count("Exchange hashpartitioning(shard_id") == 1, plan

    images = spark.createDataFrame(images_pdf[["image_id", "bytes", "caption"]])
    man2 = ss.write_image_shards(images, "/tmp/_plan_probe2", n_shards=4)
    plan2 = man2._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange hashpartitioning(shard_id") == 1, plan2
    assert plan2.count("Exchange hashpartitioning") == 1, plan2  # blobs move once


def test_duplicate_band_rows_quarantine_the_shard(spark, tmp_path_factory):
    """ADVICE r5: duplicate (chip_id, band) rows must not silently stack
    into the sample — the shard quarantines like write_cogs does."""
    out = str(tmp_path_factory.mktemp("shards_dupband"))
    base = {
        "chip_xmin": 0.0, "chip_ymax": 1.0, "chip_xres": 0.001,
        "chip_yres": 0.001, "chip_w": 8, "chip_h": 8, "grid_epsg": 4326,
    }
    vals = [float(i) for i in range(64)]
    rows = [
        {"chip_id": "dup-chip", "band": 0, "values": vals, **base},
        {"chip_id": "dup-chip", "band": 0, "values": vals, **base},
    ]
    man = ss.write_tar_shards(
        spark.createDataFrame(pd.DataFrame(rows)), out, n_shards=2
    ).toPandas()
    bad = [s for s in man.itertuples() if s.status.startswith("error:")]
    assert len(bad) == 1 and "duplicate band" in bad[0].status


def test_read_side_quarantine_skips_corrupt_shards(spark, shard_pixels,
                                                   tmp_path_factory):
    """ADVICE r5: a shard whose .json lacks its .npy sibling (or whose tar
    is garbage) must not kill the read job — its samples skip, every other
    shard still reads."""
    import os

    out = str(tmp_path_factory.mktemp("shards_corrupt"))
    man = ss.write_tar_shards(shard_pixels, out, n_shards=4).toPandas()
    assert set(man["status"]) == {"ok"}
    clean = ss.read_tar_shards(spark, out + "/*.tar").toPandas()
    victim = sorted(
        s.href for s in man.itertuples() if s.n_samples > 0
    )[0]
    lost = int(next(s.n_samples for s in man.itertuples() if s.href == victim))
    # corrupt ONE shard: keep the .json members, drop every .npy
    with tarfile.open(victim) as t:
        members = [(m.name, t.extractfile(m).read())
                   for m in t.getmembers() if m.isfile()]
    kept = [(n, b) for n, b in members if n.endswith(".json")]
    with open(victim, "wb") as f:
        f.write(ustar.tar_bytes(kept))
    back = ss.read_tar_shards(spark, out + "/*.tar").toPandas()
    assert len(back) == len(clean) - lost
    # and a fully garbage tar skips whole
    with open(victim, "wb") as f:
        f.write(b"not a tar at all")
    back2 = ss.read_tar_shards(spark, out + "/*.tar").toPandas()
    assert len(back2) == len(clean) - lost
