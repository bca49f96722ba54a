"""Checkpointed-stage resume protocol: partition-granular, idempotent."""

import os

import pytest
from pyspark.sql import functions as F

from lineage_log import read_log

from rasteret_spark.plans import lineage


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "ckpt")


def _transform(df):
    return df.withColumn("doubled", F.col("value") * 2)


def test_full_run_then_noop_resume(spark, workdir):
    df = spark.range(0, 1000).select(
        F.col("id").alias("key"), (F.col("id") % 7).alias("value")
    )
    out1 = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=8
    )
    assert out1.count() == 1000
    log = read_log(spark, workdir)
    assert log.count() == 8
    assert log.agg(F.sum("rows_out")).first()[0] == 1000

    # resume over completed state: no partition re-runs, same output
    out2 = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=8
    )
    assert out2.count() == 1000
    assert read_log(spark, workdir).count() == 8  # no new log rows


def test_partial_then_resume_completes(spark, workdir):
    df = spark.range(0, 1000).select(
        F.col("id").alias("key"), (F.col("id") % 7).alias("value")
    )
    # simulate a killed job: only half the key space was processed
    first_half = df.filter(
        F.pmod(F.xxhash64(F.col("key")), F.lit(8)) < 4
    )
    lineage.checkpointed_run(
        spark, first_half, _transform, workdir, key_col="key", stage="s1", n_parts=8
    )
    done_before = lineage.completed_parts(spark, workdir, "s1")
    assert 0 < len(done_before) <= 4

    out = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=8
    )
    assert out.count() == 1000
    assert sorted(r.doubled for r in out.collect()) == sorted(
        (i % 7) * 2 for i in range(1000)
    )
    assert len(lineage.completed_parts(spark, workdir, "s1")) == 8


def test_empty_output_bucket_still_completes(spark, workdir):
    """A bucket whose transform legitimately yields zero rows must get a
    rows_out=0 log row (otherwise resume re-processes it forever)."""
    df = spark.range(0, 400).select(
        F.col("id").alias("key"), (F.col("id") % 7).alias("value")
    )

    def drop_some(d):
        # empties whole buckets deterministically (part_id-dependent filter)
        return d.filter(F.col("part_id") % 2 == 0).withColumn(
            "doubled", F.col("value") * 2
        )

    lineage.checkpointed_run(
        spark, df, drop_some, workdir, key_col="key", stage="s1", n_parts=8
    )
    log = read_log(spark, workdir).toPandas()
    assert len(log) == 8, "every input bucket must log, including empty ones"
    assert (log["rows_out"] == 0).any() and (log["rows_out"] > 0).any()
    # resume is a no-op: no new log rows, empty buckets not re-processed
    lineage.checkpointed_run(
        spark, df, drop_some, workdir, key_col="key", stage="s1", n_parts=8
    )
    assert read_log(spark, workdir).count() == 8


def test_log_carries_per_partition_wall(spark, workdir):
    df = spark.range(0, 500).select(
        F.col("id").alias("key"), (F.col("id") % 5).alias("value")
    )
    lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=4
    )
    log = read_log(spark, workdir).toPandas()
    assert len(log) == 4
    assert (log["wall_s"] >= 0).all()
    # per-partition, not one stage-level number: rows_out varies per bucket
    assert log["rows_out"].sum() == 500


def test_orphaned_data_without_log_is_rerun(spark, workdir):
    """Data written but no log row (kill between data and marker) -> re-run."""
    df = spark.range(0, 100).select(F.col("id").alias("key"), F.lit(1).alias("value"))
    out = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=4
    )
    assert out.count() == 100
    # wipe the log (as if the marker write never happened), keep the data
    logdir = os.path.join(workdir, "_lineage")
    for f in os.listdir(logdir):
        os.remove(os.path.join(logdir, f))
    out2 = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=4
    )
    # dynamic partition overwrite keeps it idempotent: still exactly 100 rows
    assert out2.count() == 100
    assert len(lineage.completed_parts(spark, workdir, "s1")) == 4


def test_partition_row_counts_non_local_fallback(spark, workdir):
    """rows_out stays exact when the checkpoint dir is not a driver-local
    path: a file:// URI fails the os.path.isdir fast path but the
    spark-side fallback counts through the Hadoop-aware reader."""
    df = spark.range(0, 200).select(
        F.col("id").alias("key"), (F.col("id") % 7).alias("value")
    )
    lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=4
    )
    data_dir = os.path.join(workdir, "data-s1")
    local = lineage.partition_row_counts(data_dir, range(4))
    assert sum(local.values()) == 200
    via_spark = lineage.partition_row_counts(
        "file://" + data_dir, range(4), spark=spark
    )
    assert via_spark == local
    # and without a session, the non-local path is a loud error, never 0s
    with pytest.raises(ValueError, match="not a local directory"):
        lineage.partition_row_counts("file://" + data_dir, range(4))


def test_two_stages_share_resume_dir_without_clobber(spark, workdir):
    """Stage-scoped data dirs: a second pipeline writing into the SAME
    resume dir must not overwrite the first stage's rows (the zonal+sample
    shared-dir scenario)."""
    df = spark.range(0, 300).select(
        F.col("id").alias("key"), (F.col("id") % 5).alias("value")
    )
    a = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="zonal", n_parts=4
    ).toPandas()
    lineage.checkpointed_run(
        spark, df, lambda d: d.withColumn("tripled", F.col("value") * 3),
        workdir, key_col="key", stage="sample", n_parts=4,
    )
    # stage A's data survives stage B byte-for-byte, and both logs coexist
    a2 = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="zonal", n_parts=4
    ).toPandas()
    assert sorted(a["key"]) == sorted(a2["key"])
    assert "doubled" in a2.columns and "tripled" not in a2.columns
    assert len(lineage.completed_parts(spark, workdir, "zonal")) == 4
    assert len(lineage.completed_parts(spark, workdir, "sample")) == 4


def test_param_fingerprint_mismatch_is_loud(spark, workdir):
    """Resuming a stage with different parameters must raise, never return
    rows silently computed under the old knobs."""
    df = spark.range(0, 100).select(
        F.col("id").alias("key"), (F.col("id") % 5).alias("value")
    )
    lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s",
        n_parts=4, params={"ring": 0},
    )
    with pytest.raises(ValueError, match="different\\s+parameters"):
        lineage.checkpointed_run(
            spark, df, _transform, workdir, key_col="key", stage="s",
            n_parts=4, params={"ring": 2},
        )
    # same params resume cleanly (no re-run, same output)
    out = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s",
        n_parts=4, params={"ring": 0},
    )
    assert out.count() == 100


def test_legacy_flat_data_dir_is_adopted_on_resume(spark, workdir):
    """Pre-stage-scoping checkpoints stored rows at out_dir/data.  Resuming
    one must ADOPT that dir into data-<stage> (when the log names exactly
    the one stage) instead of silently resuming against an empty new dir —
    which would skip the logged buckets while their rows sit unread."""
    df = spark.range(0, 400).select(
        F.col("id").alias("key"), (F.col("id") % 5).alias("value")
    )
    lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=8
    )
    os.rename(os.path.join(workdir, "data-s1"), os.path.join(workdir, "data"))
    out = lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=8
    )
    assert out.count() == 400  # all rows visible, nothing re-run
    assert read_log(spark, workdir).count() == 8  # no new log rows
    assert os.path.isdir(os.path.join(workdir, "data-s1"))
    assert not os.path.exists(os.path.join(workdir, "data"))


def test_legacy_data_dir_with_ambiguous_stage_raises(spark, workdir):
    """A legacy data dir whose log rows belong to a DIFFERENT stage (or to
    several) cannot be adopted safely — loud error, not silent data loss."""
    df = spark.range(0, 100).select(
        F.col("id").alias("key"), (F.col("id") % 5).alias("value")
    )
    lineage.checkpointed_run(
        spark, df, _transform, workdir, key_col="key", stage="s1", n_parts=4
    )
    os.rename(os.path.join(workdir, "data-s1"), os.path.join(workdir, "data"))
    with pytest.raises(ValueError, match="legacy 'data' directory"):
        lineage.checkpointed_run(
            spark, df, _transform, workdir, key_col="key", stage="s2", n_parts=4
        )
