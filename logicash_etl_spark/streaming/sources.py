"""Streaming sources — the `_READY` lot pattern, Spark-native.

The reference's ingestion is event-driven *batch*: a producer drops
files then a `_READY` flag; EventBridge matches the flag and triggers
the pipeline (data_gen/generator.py:177-192, main.tf:821-842). The
Spark-native equivalent is a file-source ``readStream`` with
``Trigger.AvailableNow``: process everything present, checkpoint, and
stop — re-invocations pick up only new files (the checkpoint replaces
both the EventBridge dedup and the delete-trigger-first idempotency
dance, main.tf:350-361).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory (schema required: streaming
    reads never infer). ``max_files_per_trigger`` bounds each
    micro-batch — under AvailableNow the drain still processes every
    file, but in several epochs instead of one (the shape that
    exercises cross-batch state: upserts, watermark advances)."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def run_available_now_to_parquet(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    state_partitions: int | None = None,
) -> None:
    """Drain to a parquet sink with exactly-once checkpointing — the
    durable variant: re-invocations with the same checkpoint append
    only files that arrived since the previous drain (memory sinks
    cannot recover a checkpoint; file sinks can). Also the SCALE
    variant for row-granular drains: a memory sink collects every
    emitted row into the driver, a file sink keeps them on executors.

    ``state_partitions`` sizes the stateful shuffle for THIS query:
    Structured Streaming locks ``spark.sql.shuffle.partitions`` into
    the checkpoint at first start, and every partition carries its own
    state-store instance(s) per operator (a stream-stream join runs
    FOUR per partition) — so a small drain under a cluster-sized
    default pays 100+ state stores of per-batch overhead for kilobytes
    of state (measured 4x on the interval join). Size it to expected
    state volume: small lots low, production horizons high. The conf
    is set only around query start and restored after the drain;
    batch queries in the session are unaffected (AQE is disabled
    inside streaming anyway, so the setting is purely the state
    partition count)."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now_foreach_batch(
    stream_df: DataFrame,
    checkpoint_dir: str,
    batch_fn,
    state_partitions: int | None = None,
    output_mode: str | None = None,
) -> None:
    """Drain via foreachBatch: each micro-batch arrives as a normal
    batch DataFrame with an epoch id — the exactly-once custom-sink
    hook (idempotent upserts, multi-table writes, JDBC). The
    checkpoint records committed epochs, so a re-run after a crash
    re-delivers only uncommitted batches; batch_fn must be idempotent
    per (epoch_id, data).

    ``state_partitions`` sizes shuffles PLANNED INSIDE batch_fn (each
    epoch plans its batch jobs under the session conf): a per-epoch
    merge window over kilobytes of state pays 32 shuffle files per
    epoch under the batch default — same sizing rationale as
    :func:`run_available_now_to_parquet`."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        writer = stream_df.writeStream.foreachBatch(batch_fn)
        if output_mode is not None:
            # stateful operators (applyInPandasWithState) require the
            # query's mode to match the operator's declared one
            writer = writer.outputMode(output_mode)
        q = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
