"""Append-only fingerprint history with epoch-keyed compaction.

The continuous-ingest dedup stream (queries/streaming.py:
streaming_incremental_dedup) appends one ``gen_epoch{N}`` parquet dir
of fresh fingerprints per micro-batch — O(lot) per write, no O(corpus)
rewrite. On an always-on stream that layout grows one directory per
epoch forever: O(epochs) file listings and scan fan-in per batch.

This module bounds it. When more than ``keep_gens`` generation dirs
exist, the batch folds every generation below the current epoch (plus
the previous base) into a single ``base_epoch{N}`` snapshot:

- **epoch-keyed + overwrite**: the snapshot path embeds the epoch and
  the write overwrites, so a retried batch (foreachBatch is
  at-least-once) rewrites the identical snapshot — the same
  idempotency trick the verdict/generation writes use;
- **readers pick the newest COMPLETE base at-or-below their epoch**
  (complete = the committer's ``_SUCCESS`` marker exists — written
  last, so a crash mid-fold leaves a marker-less partial dir that
  readers skip and the replayed epoch's compaction re-folds and
  overwrites) **and ignore any generation dir below that fold
  boundary** — so a crash between snapshot write and old-dir cleanup
  leaves leftovers that are simply invisible (never double-read) and
  get re-deleted by the next compaction;
- the fingerprint set visible below any epoch is INVARIANT across
  compactions, so a checkpoint replay of epoch N reads exactly the
  state the committed run read, compacted or not (pinned by
  tests/test_streaming.py::test_history_compaction_*).

At 100 TB the compaction pass is O(fingerprint store) — kilobyte rows,
not documents — every ``keep_gens`` epochs, and steady-state reads
touch at most ``keep_gens + 1`` dirs instead of one per epoch of
uptime.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BASE0 = "base"
_GEN = "gen_epoch"
_BASE_E = "base_epoch"

# the fingerprint store's layout (write_history_base and the
# per-epoch generation writes both emit exactly this): pinned so the
# fold/dedup reads never footer-sniff a multi-generation directory set
_HIST_SCHEMA = "fp string, origin string"


def _complete(path: str) -> bool:
    """A snapshot dir counts only once its committer marker exists:
    the v1 committer writes ``_SUCCESS`` LAST, so a crash mid-fold
    leaves a marker-less partial dir that readers must ignore (and
    that the replayed epoch's compaction re-folds + overwrites)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _latest_base(hist_dir: str, epoch_id: int) -> tuple[str, int]:
    """(path, fold_epoch) of the newest COMPLETE base snapshot at or
    below ``epoch_id``; the initial ``base`` dir has fold epoch -1."""
    best, best_e = os.path.join(hist_dir, _BASE0), -1
    for d in os.listdir(hist_dir):
        if d.startswith(_BASE_E):
            e = int(d[len(_BASE_E):])
            if best_e < e <= epoch_id and _complete(os.path.join(hist_dir, d)):
                best, best_e = os.path.join(hist_dir, d), e
    return best, best_e


def history_dirs(hist_dir: str, epoch_id: int) -> list[str]:
    """The dirs whose union IS the fingerprint store below
    ``epoch_id``: newest base ≤ epoch, then generations in
    [fold_epoch, epoch). Generations below the fold boundary are
    leftovers of a best-effort cleanup — already folded, ignored."""
    base, c = _latest_base(hist_dir, epoch_id)
    gens = sorted(
        (int(d[len(_GEN):]), os.path.join(hist_dir, d))
        for d in os.listdir(hist_dir)
        if d.startswith(_GEN) and c <= int(d[len(_GEN):]) < epoch_id
    )
    return [base] + [p for _, p in gens]


def compact_history(
    spark: SparkSession, hist_dir: str, epoch_id: int, keep_gens: int
) -> bool:
    """Fold the store below ``epoch_id`` into ``base_epoch{epoch_id}``
    iff more than ``keep_gens`` generation dirs are live. Cleanup of
    folded dirs is best-effort (readers ignore leftovers). Returns
    whether a fold ran."""
    dirs = history_dirs(hist_dir, epoch_id)
    if len(dirs) - 1 <= keep_gens:
        return False
    spark.read.schema(_HIST_SCHEMA).parquet(*dirs).write.mode("overwrite").parquet(
        os.path.join(hist_dir, f"{_BASE_E}{epoch_id}")
    )
    for d in os.listdir(hist_dir):
        if (
            (d.startswith(_GEN) and int(d[len(_GEN):]) < epoch_id)
            or (d.startswith(_BASE_E) and int(d[len(_BASE_E):]) < epoch_id)
            or d == _BASE0
        ):
            shutil.rmtree(os.path.join(hist_dir, d), ignore_errors=True)
    return True


def write_history_base(fps: DataFrame, hist_dir: str) -> None:
    """Generation 0: the pre-existing corpus's distinct fingerprints."""
    fps.write.mode("overwrite").parquet(os.path.join(hist_dir, _BASE0))


def incremental_dedup_batch_fn(
    spark: SparkSession,
    hist_dir: str,
    verdicts_dir: str,
    keep_gens: int = 8,
):
    """The foreachBatch body of the continuous-ingest dedup: join the
    lot against the fingerprint store below this epoch, write
    epoch-keyed verdicts, append the lot's fresh fingerprints as a new
    generation, then compact if the store has sprawled. Every write is
    epoch-keyed + overwrite, so at-least-once retries are no-ops.

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
        compact_history(spark, hist_dir, epoch_id, keep_gens)

    return apply_batch
