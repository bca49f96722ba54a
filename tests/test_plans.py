"""Physical-plan quality gates: pushdown, pruning, broadcast, no blob shuffle.

These assertions pin the *plan shape*, not just results — the properties that
keep the engine viable at 10^12 rows (SURVEY.md §4).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def images_path(spark, images_pdf, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "images")
    spark.createDataFrame(images_pdf).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark, images_path):
    df = (
        spark.read.parquet(images_path)
        .filter(F.col("fmt") == "deflate")
        .select("image_id", "w", "h")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "fmt" in plan.split("PushedFilters")[1][:200]
    rs = plan.split("ReadSchema")[1][:250]
    assert "bytes" not in rs, "projection must prune the blob column from the scan"


def test_small_dim_join_is_broadcast(spark):
    n = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    big = spark.range(0, 10000).withColumnRenamed("id", "k")
    plan = _plan(big.join(F.broadcast(n), "k"))
    assert "BroadcastHashJoin" in plan


def test_zonal_plan_broadcasts_pairs_and_keeps_blobs_unshuffled(spark, images_path):
    from rasteret_spark.operators import decode

    images = spark.read.parquet(images_path)
    pairs = spark.createDataFrame(
        [("img-00000000", "a", bytearray(b"\x01"), 0.0, 0.0, 1.0, 1.0)],
        "image_id string, aoi_id string, aoi_geometry binary, "
        "aoi_xmin double, aoi_ymin double, aoi_xmax double, aoi_ymax double",
    )
    z = decode.zonal_stats(pairs, images.select("image_id", "bytes", "caption"))
    plan = _plan(z)
    assert "BroadcastHashJoin" in plan, "pairs side must broadcast"
    # hash exchanges may only appear inside the broadcast (pairs) subtree —
    # the blob scan side must flow into the python stage with no shuffle
    first_exchange = plan.find("Exchange hashpartitioning")
    bcast = plan.find("BroadcastExchange")
    assert first_exchange == -1 or (bcast != -1 and first_exchange > bcast), (
        "blobs must not shuffle (hash exchange outside the broadcast subtree)"
    )


def test_broadcast_guard_switches_at_bound_with_identical_output(
    spark, images_pdf, points_pdf, monkeypatch, blob_exchanges
):
    """The sample_points broadcast guard: the default path broadcasts below
    the pair bound and switches to the shuffle join above it; both plans
    produce identical rows."""
    from rasteret_spark.operators import decode, sampling, spatial_join as sj

    images = spark.createDataFrame(images_pdf)
    img_light = images.select(
        "image_id",
        F.col("xmin").alias("img_xmin"), F.col("ymin").alias("img_ymin"),
        F.col("xmax").alias("img_xmax"), F.col("ymax").alias("img_ymax"),
    )
    pts = spark.createDataFrame(points_pdf)
    cands = sj.point_in_bbox_join(pts, img_light, res=8).select(
        "point_index", "x", "y", "image_id"
    )
    blobs = images.select("image_id", "bytes")
    with monkeypatch.context() as m:
        m.setattr(decode, "BROADCAST_PAIRS_LIMIT", 0)  # force above-bound
        shuffled = sampling.sample_points(cands, blobs, max_ring=2)
    # above the bound: no broadcast HINT — AQE may still pick broadcast
    # for a genuinely tiny side, but the plan must carry the explicit
    # image_id repartition of the shuffle path
    opt = _optimized(shuffled)
    assert "strategy=broadcast" not in opt, opt
    assert "REPARTITION_BY_NUM" in _plan(shuffled)
    # both sides partition by image_id before the join: each blob crosses
    # one exchange, not a join shuffle plus a repartition above it
    assert blob_exchanges(shuffled) == 1, _plan(shuffled)
    got_shuffle = shuffled.toPandas()
    bcast = sampling.sample_points(cands, blobs, max_ring=2)
    assert "strategy=broadcast" in _optimized(bcast)
    assert blob_exchanges(bcast) == 0, _plan(bcast)
    got_bcast = bcast.toPandas()
    key = ["point_index", "image_id"]
    a = got_bcast.sort_values(key).reset_index(drop=True)
    b = got_shuffle.sort_values(key).reset_index(drop=True)
    assert a.equals(b)


def test_zonal_shuffle_fallback_moves_each_blob_once(
    spark, images_pdf, aois_pdf, monkeypatch, blob_exchanges
):
    """Above the pair bound the zonal plan joins on image_id with each blob
    crossing exactly one exchange, and yields the broadcast path's rows."""
    from rasteret_spark.operators import decode

    images = spark.createDataFrame(images_pdf)
    aois = spark.createDataFrame(
        aois_pdf.rename(columns={"geometry": "aoi_geometry"}).rename(
            columns={c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    with monkeypatch.context() as m:
        m.setattr(decode, "BROADCAST_PAIRS_LIMIT", 0)  # force above-bound
        shuffled = decode.zonal_join(images, aois)
    assert blob_exchanges(shuffled) == 1, _plan(shuffled)
    bcast = decode.zonal_join(images, aois)
    assert blob_exchanges(bcast) == 0, _plan(bcast)
    key = ["image_id", "aoi_id", "band"]
    a = bcast.toPandas().sort_values(key).reset_index(drop=True)
    b = shuffled.toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) > 0 and (a["status"] == "ok").any()
    pd.testing.assert_frame_equal(a, b)


def test_cell_join_is_native_no_python_in_candidates(spark, images_pdf, aois_pdf):
    from rasteret_spark.operators import spatial_join as sj

    img = spark.createDataFrame(
        images_pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    aoi = spark.createDataFrame(
        aois_pdf[["aoi_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"aoi_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    cands = sj.bbox_join(img, aoi, res=7)
    plan = _optimized(cands)
    assert "pythonUDF" not in plan and "PythonUDF" not in plan, (
        "candidate generation must stay JVM-native"
    )


def test_partition_pruning_on_catalog(spark, images_pdf, tmp_path_factory):
    from rasteret_spark.sources import catalog

    p = str(tmp_path_factory.mktemp("cat") / "t")
    catalog.write_images(spark.createDataFrame(images_pdf), p)
    df = catalog.load_images(spark, p).filter(F.col("month") == 2)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "month" in seg


def test_minhash_signature_plan_single_agg_shuffle(spark, tmp_path_factory):
    """The signature stage must not explode shingles x permutations through a
    shuffle: exactly one hash-aggregate exchange (the groupBy(id)), with all
    num_perm mins computed as partial aggregates map-side, plus at most the
    compute-spread round-robin exchange before it."""
    from rasteret_spark.operators import dedup

    p = str(tmp_path_factory.mktemp("mh") / "docs")
    spark.createDataFrame(
        [(f"d{i}", "alpha beta gamma delta " * 10) for i in range(50)],
        "doc_id string, text string",
    ).coalesce(1).write.parquet(p)
    sig = dedup.minhash_signatures(spark.read.parquet(p), "text", "doc_id", num_perm=16)
    plan = _plan(sig)
    assert plan.count("Exchange hashpartitioning") == 1, (
        "exactly ONE hash shuffle (the id groupBy) — no (id, perm) re-shuffle"
    )
    assert "partial_min" in plan, "mins must partial-aggregate map-side"
    # only the shingle explode appears — one Generate node, not a second
    # permutation explode
    assert plan.count("Generate ") == 1


def test_spread_compute_is_conditional(spark, tmp_path_factory):
    from rasteret_spark.operators.util import spread_compute

    p = str(tmp_path_factory.mktemp("sp") / "t")
    spark.range(0, 1000).coalesce(1).write.parquet(p)
    one = spark.read.parquet(p)
    assert "RoundRobinPartitioning" in _plan(spread_compute(one)), (
        "a single-split scan must spread"
    )
    many = spark.range(0, 1000, 1, 64)  # already >= cores partitions
    assert "RoundRobinPartitioning" not in _plan(spread_compute(many)), (
        "an already-parallel input must pass through with NO added shuffle"
    )
