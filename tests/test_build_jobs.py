"""Building a plan runs no hidden Spark job.

* ``util.spread_compute`` and ``spatial_join.refine_rect_polygon`` decide
  without executing anything: building ``dedup.minhash_lsh_pairs`` (whose
  verify step semi-joins the corpus) and the refine over a cell join runs 0
  jobs.  ``df.rdd`` on a join executes the join's stages under AQE, so a
  partition-count peek there is a job.
* Building ``zonal_stats`` / ``sample_points`` from candidates runs only the
  grouped side's checkpoint query: the pair count that picks broadcast vs
  shuffle is observed while the checkpoint is written, not read back by a
  second query (``first at decode.py``).  An empty candidate set observes a
  null sum, which counts as 0 pairs, and the build returns.

Jobs are counted per job group with ``statusTracker`` after the listener bus
has drained.
"""

import itertools
import threading

import pytest
from pyspark.sql import functions as F

from rasteret_spark.operators import decode, dedup, sampling, spatial_join as sj

_group_ids = itertools.count()


def _jobs(spark, fn):
    """(fn's result, job ids, stage names) of the Spark jobs ``fn`` runs."""
    sc = spark.sparkContext
    group = f"build-jobs-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    ids = sorted(st.getJobIdsForGroup(group))
    stages = [st.getStageInfo(s) for j in ids for s in st.getJobInfo(j).stageIds]
    return out, ids, [s.name for s in stages if s is not None]


@pytest.fixture(scope="module")
def aois(spark, aois_pdf):
    return spark.createDataFrame(aois_pdf).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        *(F.col(c).alias(f"aoi_{c}") for c in ("xmin", "ymin", "xmax", "ymax")),
    )


def _zonal_pairs(images_df, aois):
    cands = sj.bbox_join(sj.image_light(images_df), aois, res=7, salts=4)
    return sj.refine_rect_polygon(cands).filter("intersects").select(
        "image_id", "aoi_id", "aoi_geometry", "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax"
    )


def test_refine_and_minhash_build_run_no_job(spark, images_df, aois):
    cands = sj.bbox_join(sj.image_light(images_df), aois, res=7, salts=4)
    _, ids, _ = _jobs(spark, lambda: sj.refine_rect_polygon(cands))
    assert ids == [], "refine_rect_polygon ran a job at plan build"

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    pairs, ids, _ = _jobs(
        spark,
        lambda: dedup.minhash_lsh_pairs(docs, "text", "doc_id", bands=4, jaccard_threshold=0.3),
    )
    assert ids == [], "minhash_lsh_pairs ran a job at plan build"
    assert pairs.count() > 0


def test_spread_compute_on_a_join_runs_no_job(spark):
    from rasteret_spark.operators.util import spread_compute

    left = spark.range(0, 200, 1, 1)
    right = spark.range(0, 200, 2, 1)
    _, ids, _ = _jobs(spark, lambda: spread_compute(left.join(right, "id", "left_semi")))
    assert ids == []


def _checkpoint_jobs(spark, agg):
    return _jobs(spark, lambda: agg.localCheckpoint(eager=True))[1]


def test_zonal_build_runs_only_the_checkpoint_query(spark, images_df, aois):
    pairs = _zonal_pairs(images_df, aois)
    images = images_df.select("image_id", "bytes", "caption")
    z, ids, stages = _jobs(spark, lambda: decode.zonal_stats(
        _zonal_pairs(images_df, aois), images
    ))
    assert not any("decode.py" in name for name in stages), stages
    agg = pairs.groupBy("image_id").agg(
        F.collect_list(
            F.struct("aoi_id", "aoi_geometry", "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax")
        ).alias("_aois")
    )
    assert len(ids) == len(_checkpoint_jobs(spark, agg)), stages
    assert z.count() > 0


def test_sample_build_runs_only_the_checkpoint_query(spark, images_df, points_pdf):
    cands = sj.point_in_bbox_join(
        spark.createDataFrame(points_pdf).select("point_index", "x", "y"),
        sj.image_light(images_df), res=8,
    ).select("point_index", "x", "y", "image_id")
    images = images_df.select("image_id", "bytes")
    s, ids, stages = _jobs(spark, lambda: sampling.sample_points(cands, images, max_ring=2))
    assert not any("decode.py" in name for name in stages), stages
    agg = cands.groupBy("image_id").agg(
        F.collect_list(F.struct("point_index", "x", "y")).alias("_pts")
    )
    assert len(ids) == len(_checkpoint_jobs(spark, agg)), stages
    assert s.count() > 0


def test_pair_count_is_observed_exactly(spark, monkeypatch):
    """The observed count is the sum of list sizes (3 here): at a limit of 3
    the grouped side broadcasts, at 2 it shuffles."""
    agg = spark.createDataFrame([("a", [1, 2]), ("b", [3])], "image_id string, _pts array<int>")
    monkeypatch.setattr(decode, "BROADCAST_PAIRS_LIMIT", 3)
    assert decode.grouped_side_choice(agg, "_pts")[1] is True
    monkeypatch.setattr(decode, "BROADCAST_PAIRS_LIMIT", 2)
    assert decode.grouped_side_choice(agg, "_pts")[1] is False


def test_empty_candidates_count_zero_pairs_and_build_returns(spark, images_df, monkeypatch):
    """An empty grouped side observes a null sum: 0 pairs, so it broadcasts
    at a limit of 0 and shuffles below it — and the build does not wait for
    a metric that never comes."""
    empty = spark.createDataFrame([], "point_index long, x double, y double, image_id string")
    agg = empty.groupBy("image_id").agg(
        F.collect_list(F.struct("point_index", "x", "y")).alias("_pts")
    )
    built = []
    t = threading.Thread(target=lambda: built.append(
        sampling.sample_points(empty, images_df.select("image_id", "bytes"), max_ring=2)
    ), daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive() and built, "building sample_points over no candidates did not return"
    assert built[0].count() == 0

    monkeypatch.setattr(decode, "BROADCAST_PAIRS_LIMIT", 0)
    assert decode.grouped_side_choice(agg, "_pts")[1] is True
    monkeypatch.setattr(decode, "BROADCAST_PAIRS_LIMIT", -1)
    assert decode.grouped_side_choice(agg, "_pts")[1] is False
