"""SparkSession factory with the engine's default tuning.

Defaults chosen for correctness-vs-oracle (UTC timestamps) and for scale
(AQE + skew-join handling on, Arrow execution for pandas UDFs, shuffle
partition count tied to parallelism instead of the 200 default).
Python workers start through ``worker_daemon`` so tasks import pyspark from
its installed directory instead of re-reading Spark's archives.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def with_worker_daemon(extra: dict[str, str]) -> dict[str, str]:
    """``extra`` plus ``rasteret_spark.worker_daemon`` as the worker daemon
    (a caller value wins) and the directory holding the ``rasteret_spark``
    package appended to the workers' PYTHONPATH.  ``extra`` unchanged when
    the package was imported from an archive (``--py-files``): the daemon
    starts before those reach the workers' path."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg):
        return extra
    root = os.path.dirname(pkg)
    parts = [p for p in extra.get(PYTHONPATH, "").split(os.pathsep) if p]
    return {
        "spark.python.daemon.module": "rasteret_spark.worker_daemon",
        **extra,
        PYTHONPATH: os.pathsep.join(parts if root in parts else [*parts, root]),
    }


def get_spark(
    app: str = "rasteret-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(int(n), 1)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # blob tables are tiny in bytes but heavy in decode CPU: scan splits
        # sized for compute, not IO
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # many-small-files packing: the default 4m open-cost charge makes a
        # 3 MB blob file occupy ~7 MB of a split, over-splitting compact
        # blob tables into 2x the tasks (each python decode task pays a
        # fixed dispatch cost).  Local/NVMe opens are far cheaper than 4 MB
        # of scan; big single-file tables are unaffected by this knob.
        .config("spark.sql.files.openCostInBytes", "524288")
        # wide binary columns: the default 4096-row columnar batch tries to
        # reserve ~rowsize*4096 contiguous bytes PER TASK (multi-band blobs
        # ~300KB -> >1GB/task at 32 tasks = guaranteed heap OOM); size the
        # batch for blob rows — tiny-row tables lose nothing measurable
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in with_worker_daemon(extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
