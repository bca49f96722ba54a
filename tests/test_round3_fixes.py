"""Round-3 hygiene fixes: v1 format compat, as-of NULL semantics, binary-safe
media sniffing, grouped-side lifetime, retry-exact lineage rows_out."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasteret_spark.format import container, miniraster as mr
from rasteret_spark.operators import asof, multimodal


# --- miniraster v1 read branch --------------------------------------------------
def _repack_as_v1(blob: bytes) -> bytes:
    """Rebuild a single-band v2 blob in the legacy v1 layout (no n_bands
    field, fixed header 97 bytes) — the layout earlier builds persisted."""
    meta = mr.parse_header(blob[: mr.header_len_from_prefix(blob[:8])])
    assert meta.n_bands == 1
    n_tiles = len(meta.tile_offsets)
    header_len = mr.HEADER_FIXED_V1 + 16 * n_tiles
    payloads = [
        blob[int(o) : int(o) + int(c)]
        for o, c in zip(meta.tile_offsets, meta.tile_byte_counts)
    ]
    offsets, pos = [], header_len
    for p in payloads:
        offsets.append(pos)
        pos += len(p)
    head = bytearray()
    head += mr.MAGIC + np.uint32(header_len).tobytes()
    head += bytes([1, meta.dtype_code, meta.compression, meta.predictor])
    head += np.uint32(meta.width).tobytes() + np.uint32(meta.height).tobytes()
    head += np.uint16(meta.tile_w).tobytes() + np.uint16(meta.tile_h).tobytes()
    head += bytes([0 if meta.nodata is None else 1])
    head += np.float64(0.0 if meta.nodata is None else meta.nodata).tobytes()
    head += np.float64(meta.qstep).tobytes()
    head += np.asarray(meta.transform, dtype=np.float64).tobytes()
    head += np.uint32(meta.epsg).tobytes() + np.uint32(n_tiles).tobytes()
    head += np.asarray(offsets, dtype=np.uint64).tobytes()
    head += np.asarray([len(p) for p in payloads], dtype=np.uint64).tobytes()
    assert len(head) == header_len
    return bytes(head) + b"".join(payloads)


def test_parse_header_reads_legacy_v1_blobs():
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 4000, size=(90, 130), dtype=np.int64).astype(np.uint16)
    v2 = mr.encode_image(arr, tile_w=64, tile_h=64, nodata=7.0, epsg=32633,
                         transform=(10.0, 0.0, 500.0, 0.0, -10.0, 9000.0))
    v1 = _repack_as_v1(v2)
    m1 = mr.parse_header(v1[: mr.header_len_from_prefix(v1[:8])])
    assert (m1.width, m1.height, m1.n_bands) == (130, 90, 1)
    assert m1.epsg == 32633 and m1.nodata == 7.0
    assert m1.transform == (10.0, 0.0, 500.0, 0.0, -10.0, 9000.0)
    np.testing.assert_array_equal(container.decode_full(v1), arr)
    np.testing.assert_array_equal(
        mr.CachedReader(v1).window(30, 20, 55, 41),
        arr[20:61, 30:85],
    )


def test_parse_header_rejects_unknown_version():
    arr = np.zeros((8, 8), dtype=np.uint16)
    blob = bytearray(mr.encode_image(arr))
    blob[8] = 9
    with pytest.raises(ValueError, match="unsupported version"):
        mr.parse_header(bytes(blob))


# --- as-of NULL-timestamp semantics ----------------------------------------------
def test_asof_null_timestamps_never_match(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1], "lid": [0, 1, 2], "ts": [100, 5, None]}).astype(
            {"ts": "Int64"}
        ),
        schema="k int, lid int, ts long",
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "rts": [50, None], "v": ["a", "z"]}).astype(
            {"rts": "Int64"}
        ),
        schema="k int, rts long, v string",
    )
    back = (
        asof.asof_join(left, right, key="k", left_ts="ts", right_ts="rts")
        .toPandas()
        .set_index("lid")
    )
    # ts=100 matches rts=50; ts=5 has no earlier right; NULL ts never matches
    assert back.loc[0, "v"] == "a"
    assert pd.isna(back.loc[1, "v"])
    assert pd.isna(back.loc[2, "v"]), "NULL left_ts must stay unmatched (backward)"

    fwd = (
        asof.asof_join(
            left, right, key="k", left_ts="ts", right_ts="rts", direction="forward"
        )
        .toPandas()
        .set_index("lid")
    )
    # ts=5 matches rts=50 forward; ts=100 has no later right; NULLs unmatched
    assert fwd.loc[1, "v"] == "a"
    assert pd.isna(fwd.loc[0, "v"])
    assert pd.isna(fwd.loc[2, "v"]), "NULL left_ts must stay unmatched (forward)"


# --- grouped-side lifetime ----------------------------------------------------------
def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_grouped_side_outlives_later_plan_builds(spark, images_pdf, aois_pdf, points_pdf):
    """Building a sample plan after a zonal plan must not free the zonal
    plan's grouped side: it stays materialized until the zonal plan is
    collected, and the zonal rows equal a fresh build."""
    from rasteret_spark.operators import decode, sampling, spatial_join as sj

    img_light = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    blobs = spark.createDataFrame(images_pdf[["image_id", "bytes", "caption"]])
    aoi = spark.createDataFrame(
        aois_pdf.rename(
            columns={
                **{c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]},
                "geometry": "aoi_geometry",
            }
        )
    )
    pairs = (
        sj.refine_rect_polygon(sj.bbox_join(img_light, aoi, res=7))
        .filter(F.col("intersects"))
        .select("image_id", "aoi_id", "aoi_geometry",
                "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax")
    )
    cands = sj.point_in_bbox_join(spark.createDataFrame(points_pdf), img_light, res=8).select(
        "point_index", "x", "y", "image_id"
    )

    before = _persistent_rdd_ids(spark)
    plan_a = decode.zonal_stats(pairs, blobs)
    grouped_a = _persistent_rdd_ids(spark) - before
    assert grouped_a, "building the zonal plan materializes its grouped side"
    sampling.sample_points(cands, blobs.select("image_id", "bytes"))  # plan B
    assert grouped_a <= _persistent_rdd_ids(spark), "plan B freed plan A's grouped side"
    got = plan_a.toPandas()
    assert grouped_a <= _persistent_rdd_ids(spark)
    want = decode.zonal_stats(pairs, blobs).toPandas()
    assert len(got) > 0
    key = ["image_id", "aoi_id", "band"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )


# --- retry-exact lineage rows_out --------------------------------------------------
def test_lineage_rows_out_matches_written_partition_counts(spark, tmp_path):
    from lineage_log import read_log

    from rasteret_spark.plans.lineage import checkpointed_run

    df = spark.range(0, 1000).withColumn("k", (F.col("id") % 37).cast("string"))
    out_dir = str(tmp_path / "ckpt")
    checkpointed_run(spark, df, lambda d: d, out_dir, key_col="k", stage="s", n_parts=8)
    log = read_log(spark, out_dir).toPandas()
    actual = (
        spark.read.parquet(f"{out_dir}/data-s")
        .groupBy("part_id")
        .count()
        .toPandas()
        .set_index("part_id")["count"]
    )
    assert len(log) == 8 and int(log["rows_out"].sum()) == 1000
    for _, r in log.iterrows():
        assert int(r["rows_out"]) == int(actual.get(r["part_id"], 0))


def test_asof_unparseable_right_ts_excluded(spark):
    """A right_ts that is non-NULL but CASTS to NULL (bad string ->
    timestamp) must not leak its payload via NULLS-FIRST ordering."""
    import pandas as pd

    left = spark.createDataFrame(
        pd.DataFrame([{"k": 1, "ts": pd.Timestamp("2024-01-05")}])
    )
    right = spark.createDataFrame(
        [(1, "not-a-date", "poison"), (1, "2024-01-01 00:00:00", "good")],
        "k int, rts string, tag string",
    )
    out = asof.asof_join(
        left, right, key="k", left_ts="ts", right_ts="rts", right_cols=["tag"]
    ).toPandas()
    assert list(out["tag"]) == ["good"]
    # and when the ONLY right row is unparseable, the left row is unmatched
    right2 = spark.createDataFrame([(1, "junk", "poison")], "k int, rts string, tag string")
    out2 = asof.asof_join(
        left, right2, key="k", left_ts="ts", right_ts="rts", right_cols=["tag"]
    ).toPandas()
    assert out2["tag"].isna().all()


def test_fetch_blobs_does_not_mutate_caller_schema(spark):
    import pandas as pd

    from rasteret_spark.sources import fetch as fx

    df = spark.createDataFrame(pd.DataFrame([{"rid": "a", "href": "mem://missing"}]))
    cols_before = list(df.columns)
    out = fx.fetch_blobs(df)
    assert list(df.columns) == cols_before, "caller schema must not grow"
    df.select(*df.columns).collect()  # would raise on phantom columns
    assert set(out.columns) == set(cols_before) | {
        "bytes", "fetch_status", "fetch_attempts"
    }


def test_feature_extract_tiny_image_no_nan(spark):
    """Images thinner than the 4x4 grid must not emit NaN components with
    status 'ok' (empty-slice means)."""
    import numpy as np
    import pandas as pd

    from rasteret_spark.format import miniraster as mr

    blob = mr.encode_image(np.arange(6, dtype=np.int32).reshape(2, 3))
    df = spark.createDataFrame(
        pd.DataFrame([{"image_id": "tiny", "bytes": bytearray(blob)}])
    )
    got = multimodal.extract_features(df).toPandas().iloc[0]
    assert got["status"] == "ok"
    feats = np.asarray(got["features"], dtype=float)
    assert len(feats) == multimodal.FEATURE_DIM
    assert np.isfinite(feats).all(), "degenerate grid cells must not be NaN"
