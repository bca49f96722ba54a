"""Streaming image ingest: decode newly-arrived image blobs continuously.

Extends the engine beyond the reference (which has no streaming): a file
stream of image rows flows through the same vectorized decode kernels via
``foreachBatch`` — each micro-batch is a normal DataFrame, so the batch
operators (enrichment, point sampling against a static probe table) are
reused verbatim, and the sink gets exactly-once per-batch semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql import types as T  # noqa: N812

IMAGE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


def _overwrite_epoch_partition(df: DataFrame, path: str) -> None:
    """Dynamic-partition OVERWRITE of the ``epoch=`` partition the frame
    carries — the idempotency half of exactly-once for foreachBatch sinks
    (a replayed epoch overwrites its own output instead of appending
    duplicates).  The overwrite mode is set PER WRITE via the writer
    option, never by toggling the session conf — two concurrent streams
    on one session raced on the set/restore of the global setting."""
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .mode("overwrite")
        .parquet(path)
    )


def read_image_stream(spark: SparkSession, path: str, files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(IMAGE_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def stream_sample_points(
    image_stream: DataFrame,
    points: DataFrame,
    out_path: str,
    checkpoint: str,
    max_ring: int = 2,
):
    """Continuously sample a static probe-point table against arriving
    images; parquet sink.

    Exactly-once: ``foreachBatch`` alone is at-least-once (a crash between the
    data append and the checkpoint commit replays the batch), so each batch
    writes to an epoch-keyed partition directory with dynamic-partition
    OVERWRITE — a replayed epoch overwrites its own output instead of
    appending duplicates, making the sink idempotent and therefore
    effectively exactly-once."""
    from rasteret_spark.operators import sampling

    points = points.persist()

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        out = sampling.sample_join(batch_df, points, res=8, max_ring=max_ring)
        _overwrite_epoch_partition(
            out.withColumn("epoch", F.lit(int(epoch_id))), out_path
        )

    return (
        image_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_image_shards(
    image_stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    n_shards: int = 4,
    caption_col: str | None = "caption",
    manifest_dir: str | None = None,
):
    """Continuous training-data production: every arriving micro-batch of
    images exports as WebDataset-style tar shards under
    ``<out_dir>/epoch=<id>/shard-*.tar`` (`operators/shard_sink.
    write_image_shards` — captions byte-for-byte, xxhash64 assignment,
    executor-side writes).

    Exactly-once: the sink inherits idempotency from the shard writer's
    determinism — a replayed epoch regenerates byte-identical tars over
    its own epoch directory (same samples -> same sha256), and the
    optional manifest parquet writes with epoch-partition dynamic
    OVERWRITE, so crash-replay never duplicates samples.  DataLoaders
    consume epochs as they appear; shard ids stay contiguous per epoch."""
    from rasteret_spark.operators import shard_sink

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # only the IMPLICIT default degrades to caption-less shards when the
        # stream carries no caption column; an explicitly named column that
        # is absent is a caller bug and must fail the batch (mirrors
        # write_image_shards / Collection.to_image_shards)
        cap = caption_col
        if caption_col is not None and caption_col not in batch_df.columns:
            if caption_col != "caption":
                raise ValueError(
                    f"caption_col {caption_col!r} not in stream columns "
                    f"{batch_df.columns}"
                )
            cap = None
        man = shard_sink.write_image_shards(
            batch_df,
            f"{out_dir.rstrip('/')}/epoch={int(epoch_id)}",
            n_shards=n_shards,
            caption_col=cap,
        )
        if manifest_dir is None:
            # no durable failure record -> a swallowed error would silently
            # lose training samples forever (the epoch still commits);
            # raising instead fails the batch so the stream retries it
            bad = man.filter(F.col("status") != "ok").count()
            if bad:
                raise RuntimeError(
                    f"epoch {epoch_id}: {bad} shards failed export"
                )
            return
        # with a manifest dir, failures ARE the durable record: quarantined
        # shard rows land in the epoch partition for an auditor to replay
        _overwrite_epoch_partition(
            man.withColumn("epoch", F.lit(int(epoch_id))), manifest_dir
        )

    return (
        image_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
