"""Append-only fingerprint history of the continuous-ingest dedup.

The dedup stream (queries/streaming.py: streaming_incremental_dedup)
appends one ``gen_epoch{N}`` parquet dir of fresh fingerprints per
micro-batch — O(lot) per write, no O(corpus) rewrite. A batch reads
the store below its epoch: the ``base`` dir (the pre-existing corpus)
plus every generation dir below the epoch.

Every write is epoch-keyed and overwrites, so a retried batch
(foreachBatch is at-least-once) reads exactly the generations below
it, never its own half-written output, and rewrites the identical
verdicts and generation in place: a replay is a no-op.

The one entry point streams two lots, so a drain writes two
generations; no compaction of the store is needed at that size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BASE0 = "base"
_GEN = "gen_epoch"

# the fingerprint store's layout (write_history_base and the
# per-epoch generation writes both emit exactly this): pinned so the
# dedup read never footer-sniffs a multi-generation directory set
_HIST_SCHEMA = "fp string, origin string"


def history_dirs(hist_dir: str, epoch_id: int) -> list[str]:
    """The dirs whose union IS the fingerprint store below
    ``epoch_id``: the ``base`` dir, then generations below the epoch in
    epoch order."""
    gens = sorted(
        (int(d[len(_GEN):]), os.path.join(hist_dir, d))
        for d in os.listdir(hist_dir)
        if d.startswith(_GEN) and int(d[len(_GEN):]) < epoch_id
    )
    return [os.path.join(hist_dir, _BASE0)] + [p for _, p in gens]


def write_history_base(fps: DataFrame, hist_dir: str) -> None:
    """Generation 0: the pre-existing corpus's distinct fingerprints."""
    fps.write.mode("overwrite").parquet(os.path.join(hist_dir, _BASE0))


def incremental_dedup_batch_fn(
    spark: SparkSession,
    hist_dir: str,
    verdicts_dir: str,
):
    """The foreachBatch body of the continuous-ingest dedup: join the
    lot against the fingerprint store below this epoch, write
    epoch-keyed verdicts and append the lot's fresh fingerprints as a
    new generation. Every write is epoch-keyed + overwrite, so
    at-least-once retries are no-ops.

    The per-epoch verdict/generation writes coalesce to 4 partitions
    (partitions-follow-volume rule: a kilobyte lot under the
    32-partition shuffle default otherwise writes 32 near-empty files
    per epoch, pure filesystem bookkeeping)."""
    from pyspark.sql.window import Window

    def _sized(df: DataFrame) -> DataFrame:
        return df.coalesce(4)

    def apply_batch(bdf: DataFrame, epoch_id: int) -> None:
        cur = spark.read.schema(_HIST_SCHEMA).parquet(
            *history_dirs(hist_dir, epoch_id)
        )
        first = F.min("doc_id").over(Window.partitionBy("fp"))
        out = (
            bdf.join(cur, "fp", "left")
            .withColumn("__first", first)
            .select(
                "doc_id",
                "source",
                "fp",
                F.when(F.col("origin") == "base", "dup_of_history")
                .when(F.col("origin") == "stream", "dup_of_earlier_lot")
                .when(F.col("doc_id") > F.col("__first"), "dup_in_lot")
                .otherwise("new_unique")
                .alias("status"),
            )
        )
        _sized(out.select("doc_id", "source", "status")).write.mode(
            "overwrite"
        ).parquet(f"{verdicts_dir}/epoch={epoch_id}")
        (
            _sized(
                out.filter(F.col("status") == "new_unique")
                .select("fp")
                .distinct()
                .withColumn("origin", F.lit("stream"))
            )
            .write.mode("overwrite")
            .parquet(os.path.join(hist_dir, f"{_GEN}{epoch_id}"))
        )

    return apply_batch
