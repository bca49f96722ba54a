"""Round-3 additions: TIFF-LZW codec, driver-side chip assembly (R10),
pluggable fetch backends (S10)."""

import numpy as np
import pandas as pd
import pytest

from rasteret_spark.format import codecs, container, miniraster as mr


# --- LZW ----------------------------------------------------------------------
@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"A",
        b"TOBEORNOTTOBEORTOBEORNOT",  # classic LZW exercise string
        bytes(range(256)) * 8,
        b"\x00" * 10000,  # long single-symbol run (KwKwK chains)
        np.random.default_rng(5).integers(0, 256, 20000, dtype=np.uint8).tobytes(),
    ],
)
def test_lzw_roundtrip(data):
    enc = codecs.lzw_encode(data)
    assert codecs.lzw_decode(enc, len(data)) == data


def test_lzw_tail_early_change_boundary():
    """Regression: when the FINAL data code leaves the table at exactly
    2^w - 1 entries, the decoder's speculative last append triggers its
    early change and EOI is read one bit wider — the encoder must widen
    with it.  Before the fix the stream over-decoded past its own length
    (caught by an overview strip in pyramid building); `lzw_decode(enc,
    len(data))` masks it by truncating, so assert UNBOUNDED decode too."""
    rng = np.random.default_rng(86)
    hits = 0
    for trial in range(300):
        n = int(rng.integers(200, 4000))
        data = bytes(
            rng.integers(0, int(rng.integers(2, 20)), n).astype(np.uint8)
        )
        enc = codecs.lzw_encode(data)
        dec = codecs.lzw_decode(enc, 1 << 30)  # run to EOI, no truncation
        assert dec == data, f"tail desync at trial {trial} (n={n})"
        hits += 1
    assert hits == 300
    # deterministic direct hit: single-symbol run sized so the last code
    # lands on a width boundary for every boundary 2^9..2^11
    for target in (511, 1023, 2047):
        # runs of one symbol assign one entry per emitted code; length
        # k*(k+1)/2 leaves next_code = 258 + k - 1 after the last assign
        k = target - 258 + 1
        data = b"z" * (k * (k + 1) // 2 + k + 1)
        enc = codecs.lzw_encode(data)
        assert codecs.lzw_decode(enc, 1 << 30) == data


def test_lzw_table_reset_on_large_input():
    """> 4094 dictionary entries forces a mid-stream CLEAR + table reset."""
    rng = np.random.default_rng(6)
    data = rng.integers(0, 256, 120_000, dtype=np.uint8).tobytes()
    enc = codecs.lzw_encode(data)
    assert codecs.lzw_decode(enc, len(data)) == data
    assert len(enc) < len(data) * 1.6  # random data grows, but boundedly


@pytest.mark.parametrize("pred", [codecs.PRED_NONE, codecs.PRED_HORIZONTAL])
@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int32"])
def test_lzw_tile_roundtrip(pred, dtype):
    rng = np.random.default_rng(7)
    tile = rng.integers(0, 200, size=(64, 64)).astype(dtype)
    enc = codecs.encode_tile(tile, codecs.COMP_LZW, pred)
    dec = codecs.decode_tile(enc, codecs.COMP_LZW, pred, np.dtype(dtype), 64, 64)
    np.testing.assert_array_equal(dec, tile)
    # smooth tiles + horizontal predictor must actually compress
    smooth = np.cumsum(np.ones((64, 64), dtype="uint16"), axis=1)
    enc2 = codecs.encode_tile(smooth, codecs.COMP_LZW, codecs.PRED_HORIZONTAL)
    assert len(enc2) < smooth.nbytes / 4


def test_lzw_image_through_format():
    rng = np.random.default_rng(8)
    arr = (rng.random((100, 90)) * 900).astype("uint16")
    blob = mr.encode_image(arr, tile_w=64, tile_h=64, compression=codecs.COMP_LZW,
                           predictor=codecs.PRED_HORIZONTAL)
    np.testing.assert_array_equal(container.decode_full(blob), arr)
    np.testing.assert_array_equal(
        mr.CachedReader(blob).window(10, 20, 33, 41),
        arr[20:61, 10:43],
    )


def test_zstd_codec_roundtrips():
    """zstd is no longer gated: format/zstd.py implements RFC 8878 from
    scratch (pure Python) with an optional libzstd fast path."""
    rng = np.random.default_rng(11)
    tile = rng.integers(-1000, 1000, size=(32, 48), dtype=np.int16)
    enc = codecs.encode_tile(tile, codecs.COMP_ZSTD)
    dec = codecs.decode_tile(enc, codecs.COMP_ZSTD, codecs.PRED_NONE,
                             np.dtype("int16"), 32, 48)
    np.testing.assert_array_equal(dec, tile)


# --- driver-side assembly (R10) ------------------------------------------------
def _stack_rows():
    vals_a = [float(v) for v in range(16)]
    vals_b = [None] + [float(v) for v in range(15)]
    base = {
        "chip_id": "c1", "chip_xmin": 10.0, "chip_ymax": 50.0,
        "chip_xres": 0.001, "chip_yres": 0.002, "chip_w": 4, "chip_h": 4,
        "grid_epsg": 4326,
    }
    return [
        {**base, "t_index": 0, "image_id": "i0", "datetime": "2024-01-01",
         "band": 0, "filled": 16, "values": vals_a, "status": "ok"},
        {**base, "t_index": 0, "image_id": "i0", "datetime": "2024-01-01",
         "band": 1, "filled": 15, "values": vals_b, "status": "ok"},
        {**base, "t_index": 1, "image_id": "i1", "datetime": "2024-01-05",
         "band": -1, "filled": 0, "values": None, "status": "ValueError: boom"},
        {**base, "t_index": 2, "image_id": "i2", "datetime": "2024-01-09",
         "band": 0, "filled": 16, "values": vals_a, "status": "ok"},
    ]


def test_stack_to_tensor_shape_order_and_quarantine():
    from rasteret_spark.operators import assemble

    tensor, attrs = assemble.stack_to_tensor(_stack_rows())
    assert tensor.shape == (3, 2, 4, 4)  # T=3, C={0,1}, H=4, W=4
    assert attrs["bands"] == [0, 1]
    assert attrs["times"] == ["2024-01-01", "2024-01-05", "2024-01-09"]
    assert attrs["status"] == ["ok", "ValueError: boom", "ok"]
    np.testing.assert_array_equal(tensor[0, 0].ravel(), np.arange(16.0))
    assert np.isnan(tensor[0, 1, 0, 0]) and tensor[0, 1, 0, 1] == 0.0
    assert np.isnan(tensor[1]).all()  # quarantined step: NaN planes
    assert np.isnan(tensor[2, 1]).all()  # band 1 missing from i2
    # georeferencing round-trip
    lon, lat = assemble.pixel_coords(attrs)
    assert lon[0] == 10.0 + 0.5 * 0.001 and lat[0] == 50.0 - 0.5 * 0.002
    assert attrs["transform"] == (0.001, 0.0, 10.0, 0.0, -0.002, 50.0)


def test_stack_to_tensor_rejects_mixed_chips():
    from rasteret_spark.operators import assemble

    rows = _stack_rows()
    rows[0] = {**rows[0], "chip_id": "other"}
    with pytest.raises(ValueError, match="multiple chips"):
        assemble.stack_to_tensor(rows)


def test_chip_to_array_from_real_mosaic(spark, images_pdf):
    from rasteret_spark.operators import assemble, raster_mosaic as rmo

    im = images_pdf.iloc[0]
    chip = {
        "chip_id": "c-asm", "chip_xmin": float(im["xmin"]),
        "chip_ymax": float(im["ymax"]),
        "chip_xres": (float(im["xmax"]) - float(im["xmin"])) / 8,
        "chip_yres": (float(im["ymax"]) - float(im["ymin"])) / 8,
        "chip_w": 8, "chip_h": 8,
    }
    pairs = spark.createDataFrame(
        pd.DataFrame([{**chip, "image_id": im["image_id"],
                       "datetime": im["datetime"], "bytes": im["bytes"]}])
    )
    row = rmo.first_valid_mosaic_pixels(pairs, bands=(0,)).toPandas().iloc[0]
    arr, attrs = assemble.chip_to_array(row)
    assert arr.shape == (8, 8)
    assert attrs["epsg"] == 4326 and attrs["chip_id"] == "c-asm"
    assert np.nansum(arr) == pytest.approx(row["v_sum"])


def test_chip_batches_streams_assembled_chips(spark):
    from rasteret_spark.operators import assemble

    rows = []
    for chip in ("c-a", "c-b", "c-c"):
        for r in _stack_rows():
            rows.append({**r, "chip_id": chip, "image_id": f"{chip}/{r['image_id']}"})
    df = spark.createDataFrame(pd.DataFrame(rows))
    batches = list(assemble.chip_batches(df, batch_size=2))
    assert [len(b) for b in batches] == [2, 1]  # 3 chips in batches of 2
    seen = []
    for batch in batches:
        for tensor, attrs in batch:
            seen.append(attrs["chip_id"])
            assert tensor.shape == (3, 2, 4, 4)
            assert attrs["status"][1] == "ValueError: boom"
    assert seen == ["c-a", "c-b", "c-c"]  # chip_id order, each chip once


# --- pluggable fetch (S10) ------------------------------------------------------
def test_fetch_blobs_file_and_custom_scheme(spark, tmp_path):
    from rasteret_spark.sources import fetch as fx

    blobs = {f"mem://obj/{i}": bytes([i]) * 10 for i in range(5)}
    fx.register_fetcher("mem", lambda url: blobs[url])
    p = tmp_path / "x.bin"
    p.write_bytes(b"ondisk")
    rows = [{"rid": u, "href": u} for u in blobs] + [
        {"rid": "f", "href": f"file://{p}"},
        {"rid": "missing", "href": f"file://{tmp_path}/nope.bin"},
        {"rid": "bad-scheme", "href": "teapot://x"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = fx.fetch_blobs(df).toPandas().set_index("rid")
    for u, b in blobs.items():
        assert bytes(got.loc[u, "bytes"]) == b
        assert got.loc[u, "fetch_status"] == "ok"
    assert bytes(got.loc["f", "bytes"]) == b"ondisk"
    assert got.loc["missing", "bytes"] is None
    assert "Error" in got.loc["missing", "fetch_status"]
    assert "no fetcher registered" in got.loc["bad-scheme", "fetch_status"]


def test_fetch_feeds_decode_pipeline(spark, tmp_path, images_pdf):
    """hrefs -> fetch_blobs -> full decode: the injected backend slots into
    the real pipeline (blobs written to disk by the test, read by file://)."""
    from rasteret_spark.format import container
    from rasteret_spark.sources import fetch as fx

    sub = images_pdf.iloc[:4]
    hrefs = []
    for _, r in sub.iterrows():
        p = tmp_path / f"{r['image_id']}.mrst"
        p.write_bytes(bytes(r["bytes"]))
        hrefs.append({"image_id": r["image_id"], "href": f"file://{p}",
                      "fmt": r["fmt"], "caption": r["caption"]})
    df = fx.fetch_blobs(spark.createDataFrame(pd.DataFrame(hrefs)))
    got = df.toPandas()
    assert len(got) == 4 and (got["fetch_status"] == "ok").all()
    want = dict(zip(sub["image_id"], sub["bytes"]))
    for image_id, blob in zip(got["image_id"], got["bytes"]):
        arr = container.decode_full(bytes(blob))
        assert arr.size > 0
        assert np.array_equal(arr, container.decode_full(bytes(want[image_id])))
