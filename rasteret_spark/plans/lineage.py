"""Per-partition lineage + checkpointed, resumable stage execution.

The north rule requires every stage to write per-partition lineage/metrics to
a checkpoint log so a killed job resumes at partition granularity.  The
reference gets resumability from workspace caches (`src/rasteret/__init__.py:162`,
`core/collection.py:860-902`) — a single-process design this module replaces
with a Spark-native protocol:

  * rows are bucketed by a deterministic ``part_id`` (hash of a stable key);
  * stage output is written as parquet partitioned by ``part_id``, dynamic
    partition overwrite ON, so re-processing a partition is idempotent;
  * per-partition metrics: ``rows_out`` is read from the WRITTEN parquet
    footers (metadata-only, no data re-read) — exact under task retries /
    speculative execution, where a transformation-side accumulator would
    double-count; ``wall_s`` comes from a pass-through instrumentation
    stage's accumulator and is best-effort timing (may over-count on retry);
  * the checkpoint LOG (one row per completed partition: stage, part_id,
    rows_out, wall_s, completed_at) is itself a small json table; a
    partition counts as done only when its log row exists — the log row is
    written AFTER the data, so a kill between the two re-runs that partition;
  * completion is logged for every part_id PRESENT IN THE TODO INPUT
    (collected before the write), so a bucket whose transform legitimately
    produces zero rows gets a rows_out=0 log row and resume converges
    instead of re-processing it forever;
  * resume = anti-join the input's part ids against the log.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator

from pyspark import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

LOG_SCHEMA = "stage string, part_id int, rows_out bigint, wall_s double, completed_at string"


def partition_row_counts(
    data_dir: str, part_ids, spark: SparkSession | None = None
) -> dict[int, int]:
    """Exact per-partition output row counts, retry-safe (reflects what is
    durably on disk, however many task attempts wrote it).

    Fast path: local parquet FOOTER reads (metadata only, bounded by
    n_parts).  When ``data_dir`` is not a driver-local directory (HDFS/S3A
    under cluster-mode spark-submit) and ``spark`` is provided, falls back
    to a distributed ``count()`` through the Hadoop-aware reader — slower
    but correct anywhere, instead of silently logging 0 rows."""
    counts: dict[int, int] = {}
    if os.path.isdir(data_dir):
        import pyarrow.parquet as pq

        for pid in part_ids:
            pdir = os.path.join(data_dir, f"part_id={pid}")
            n = 0
            if os.path.isdir(pdir):
                for fn in os.listdir(pdir):
                    if fn.endswith(".parquet"):
                        n += pq.ParquetFile(os.path.join(pdir, fn)).metadata.num_rows
            counts[int(pid)] = n
        return counts
    if spark is None:
        raise ValueError(
            f"{data_dir!r} is not a local directory; pass spark for the "
            "distributed row-count fallback"
        )
    want = [int(p) for p in part_ids]
    got = {
        int(r["part_id"]): int(r["n"])
        for r in (
            spark.read.parquet(data_dir)
            .filter(F.col("part_id").isin(want))
            .groupBy("part_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    return {pid: got.get(pid, 0) for pid in want}


class _PartMetricsParam(AccumulatorParam):
    """dict[part_id -> (rows, wall_s)]: rows add up across tasks; wall is the
    max over the tasks that touched the bucket (the bucket is only complete
    when its slowest contributing task is)."""

    def zero(self, value):  # noqa: ANN001
        return {}

    def addInPlace(self, a, b):  # noqa: ANN001
        for k, (rows, wall) in b.items():
            r0, w0 = a.get(k, (0, 0.0))
            a[k] = (r0 + rows, max(w0, wall))
        return a


def _log_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _adopt_legacy_data_dir(
    spark: SparkSession, out_dir: str, data_dir: str, stage: str
) -> None:
    """Pre-stage-scoping layout guard.  Checkpoint data used to live at
    ``out_dir/data``; resuming a partially-complete legacy dir against the
    new ``data-<stage>`` path would SKIP the log-complete buckets while
    their rows sit unread in the old location — silently missing data.

    If the legacy dir exists with log rows: adopt it (rename into the
    stage-scoped path) when unambiguous — the log names exactly this one
    stage and no stage-scoped dir exists yet — otherwise raise loudly."""
    legacy = os.path.join(out_dir, "data")
    if not os.path.isdir(legacy):
        return
    log_path = _log_dir(out_dir)
    stages: set[str] = set()
    if os.path.isdir(log_path) and os.listdir(log_path):
        log = spark.read.schema(LOG_SCHEMA).json(log_path)
        stages = {r.stage for r in log.select("stage").distinct().collect()}
    if not stages:  # data without any log rows: nothing resumable to lose
        return
    if stages == {stage} and not os.path.exists(data_dir):
        os.rename(legacy, data_dir)
        return
    raise ValueError(
        f"resume dir {out_dir!r} holds a legacy 'data' directory with "
        f"completed log rows for stages {sorted(stages)}; rename it to "
        f"'data-<stage>' (requested stage: {stage!r}) or use a fresh "
        "directory — resuming against it silently drops completed buckets"
    )


def completed_parts(spark: SparkSession, out_dir: str, stage: str) -> set[int]:
    path = _log_dir(out_dir)
    if not os.path.exists(path) or not os.listdir(path):
        return set()
    log = spark.read.schema(LOG_SCHEMA).json(path)
    return {
        r.part_id for r in log.filter(F.col("stage") == stage).select("part_id").collect()
    }


def checkpointed_run(
    spark: SparkSession,
    df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    key_col: str,
    stage: str = "stage",
    n_parts: int = 32,
    params: dict | None = None,
) -> DataFrame:
    """Run ``transform`` over ``df`` resumably.

    ``df`` is bucketed into ``n_parts`` by ``xxhash64(key_col)``; only
    buckets without a checkpoint-log row are processed.  The transform sees
    the ``part_id`` column and must keep ``key_col``: its output's
    ``part_id`` is derived from that key again.  Output parquet is
    partitioned by ``part_id`` with dynamic overwrite (idempotent re-runs).
    Returns the full stage output (read back from the checkpoint dir).

    Data lives under ``out_dir/data-<stage>`` — STAGE-SCOPED, so two
    pipelines sharing one resume dir (zonal + sample) cannot clobber each
    other's rows while their logs both read as complete.  ``params`` is the
    stage's parameter fingerprint: persisted on first run and VALIDATED on
    resume, so resuming with different knobs (a different ring radius, grid
    res, bucket count) is a loud error instead of silently returning rows
    computed under the old parameters."""
    data_dir = os.path.join(out_dir, f"data-{stage}")
    _adopt_legacy_data_dir(spark, out_dir, data_dir, stage)
    os.makedirs(_log_dir(out_dir), exist_ok=True)
    if params is not None:
        fingerprint = json.dumps(
            {**params, "key_col": key_col, "n_parts": n_parts}, sort_keys=True
        )
        pfile = os.path.join(out_dir, f"_params-{stage}.json")
        if os.path.exists(pfile):
            with open(pfile) as f:
                prev = f.read()
            if prev != fingerprint:
                raise ValueError(
                    f"resume_dir holds a {stage!r} run with different "
                    f"parameters ({prev}) than requested ({fingerprint}); "
                    "use a fresh directory or matching parameters"
                )
        else:
            tmp = pfile + ".tmp"
            with open(tmp, "w") as f:
                f.write(fingerprint)
            os.replace(tmp, pfile)
    # a pure function of the key: the transform's output re-derives it
    part_id = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_parts)).cast("int")
    bucketed = df.withColumn("part_id", part_id)
    done = completed_parts(spark, out_dir, stage)
    todo = bucketed.filter(~F.col("part_id").isin(list(done))) if done else bucketed

    # the completion contract is over the INPUT's buckets (collected before
    # the write): a bucket with zero output rows still completes
    todo_ids = sorted(
        int(r.part_id) for r in todo.select("part_id").distinct().collect()
    )
    if todo_ids:
        result = transform(todo).withColumn("part_id", part_id)

        acc = spark.sparkContext.accumulator({}, _PartMetricsParam())

        def _instrument(batches: Iterator) -> Iterator:
            t0 = time.time()
            local: dict[int, int] = {}
            for pdf in batches:
                for pid, cnt in pdf["part_id"].value_counts().items():
                    local[int(pid)] = local.get(int(pid), 0) + int(cnt)
                yield pdf
            wall = time.time() - t0
            acc.add({k: (v, wall) for k, v in local.items()})

        instrumented = result.mapInPandas(_instrument, schema=result.schema)
        with_dyn = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            instrumented.write.partitionBy("part_id").mode("overwrite").parquet(data_dir)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", with_dyn)
        # log rows AFTER data is durably written (kill-safe ordering);
        # rows_out comes from the written files' footers (retry-exact) —
        # the accumulator keeps only the best-effort wall timings
        metrics = dict(acc.value)
        exact_rows = partition_row_counts(data_dir, todo_ids, spark=spark)
        now = time.strftime("%Y-%m-%dT%H:%M:%S")
        rows = []
        for pid in todo_ids:
            _, wall = metrics.get(pid, (0, 0.0))
            rows.append(
                {
                    "stage": stage,
                    "part_id": pid,
                    "rows_out": exact_rows.get(pid, 0),
                    "wall_s": round(float(wall), 3),
                    "completed_at": now,
                }
            )
        fname = os.path.join(_log_dir(out_dir), f"{stage}-{int(time.time() * 1000)}.json")
        tmp = os.path.join(out_dir, f".{stage}.log.tmp")  # outside the log dir
        with open(tmp, "w") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")
        os.replace(tmp, fname)  # atomic marker commit
    return spark.read.parquet(data_dir)
