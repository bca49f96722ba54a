"""The checkpoint log of a ``plans.lineage`` run, read back for the tests
that check what a run logged (one row per completed partition)."""

from pyspark.sql import DataFrame, SparkSession

from rasteret_spark.plans.lineage import LOG_SCHEMA, _log_dir


def read_log(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(LOG_SCHEMA).json(_log_dir(out_dir))
