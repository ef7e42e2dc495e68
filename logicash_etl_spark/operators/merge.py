"""Merge / upsert / SCD2 — CDC-style table maintenance without Delta.

The reference's only change handling is SCD1-by-DISTINCT
(sql/ddl_gold.sql:20-32). A complete engine needs the rest of the
lifecycle story; with plain parquet (no Delta/Iceberg in this image)
MERGE is emulated the classic way:

  upsert_if_newer = target UNION updates -> latest-wins per key
  scd2_apply      = close changed rows (set valid_to) + append new versions

Both are full-file rewrites — correct for parquet; on Delta/Iceberg the
same call shape maps to a real MERGE INTO (noted per function).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logicash_etl_spark.operators.aggregates import scd1_latest
from logicash_etl_spark.operators.caching import scoped_persist

# valid_to of every open (current) SCD2 version
END_OF_TIME = "9999-12-31 00:00:00"


def upsert_if_newer(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_by: str,
    tiebreak: list[str],
) -> DataFrame:
    """Conditional upsert: an update replaces the target row only when
    it is NEWER (``MERGE ... WHEN MATCHED AND s.ts > t.ts``). A plain
    last-writer-wins upsert regresses state when batches arrive out of
    event-time order (a replayed Kafka topic, a
    file stream whose listing order is not time order). Emulated as
    union + latest-wins window — one shuffle on the key, same plan
    Delta generates for the conditional MERGE."""
    return scd1_latest(
        target.unionByName(updates), pk=keys, order_by=order_by, tiebreak=tiebreak
    )


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: list[str],
    effective_ts: str,
    tracked_cols: list[str],
) -> DataFrame:
    """SCD Type 2: keep full history with [valid_from, valid_to)
    ranges and an is_current flag.

    ``dim`` must carry valid_from/valid_to/is_current (bootstrap with
    ``scd2_init``). For each update whose ``tracked_cols`` differ
    from the key's current row: close the current row
    (valid_to = update ts) and append the update as the new current
    version. Unchanged updates are no-ops; brand-new keys insert.
    """
    if not tracked_cols:
        # a None changed-predicate would null out BOTH the keep-current
        # and closed filters below and silently drop matched rows
        raise ValueError("scd2_apply: no tracked columns — nothing to version")
    cur = dim.filter(F.col("is_current"))
    hist = dim.filter(~F.col("is_current"))
    dim_cols = dim.columns

    # latest update per key this batch, columns prefixed to kill any
    # cross-frame attribute ambiguity in the full outer join
    latest = scd1_latest(updates, pk=keys, order_by=effective_ts)
    upd = latest.select([F.col(c).alias(f"__u_{c}") for c in latest.columns])

    cond = [F.col(k) == F.col(f"__u_{k}") for k in keys]
    # three consumers below (keep_cur / closed / new_rows): without a
    # persist, Catalyst re-derives the full-outer join — and the whole
    # upstream dim/update lineage, including their table scans — once
    # per consumer (no common-subexpression materialization)
    joined = scoped_persist(cur.join(upd, on=cond, how="full"))

    changed_pred = None
    for c in tracked_cols:
        neq = F.coalesce(F.col(c).cast("string"), F.lit("\0")) != F.coalesce(
            F.col(f"__u_{c}").cast("string"), F.lit("\0")
        )
        changed_pred = neq if changed_pred is None else (changed_pred | neq)

    upd_ts = F.col(f"__u_{effective_ts}")
    is_new_key = F.col("valid_from").isNull()
    is_changed = ~is_new_key & upd_ts.isNotNull() & changed_pred

    # 1) current rows kept as-is (no update, or unchanged update)
    keep_cur = joined.filter(~is_changed & ~is_new_key).select(*dim_cols)
    # 2) current rows being closed by a changed update
    closed = (
        joined.filter(is_changed)
        .withColumn("valid_to", upd_ts)
        .withColumn("is_current", F.lit(False))
        .select(*dim_cols)
    )
    # 3) new versions (changed keys + brand-new keys)
    new_rows = (
        joined.filter(is_changed | (is_new_key & upd_ts.isNotNull()))
        .select(*[F.col(f"__u_{c}").alias(c) for c in latest.columns])
        .withColumn("valid_from", F.col(effective_ts))
        .withColumn("valid_to", F.to_timestamp(F.lit(END_OF_TIME)))
        .withColumn("is_current", F.lit(True))
    )
    return hist.unionByName(keep_cur).unionByName(closed).unionByName(new_rows)


def scd2_init(snapshot: DataFrame, effective_ts: str) -> DataFrame:
    """Bootstrap an SCD2 dimension from an initial snapshot."""
    return (
        snapshot.withColumn("valid_from", F.col(effective_ts))
        .withColumn("valid_to", F.to_timestamp(F.lit(END_OF_TIME)))
        .withColumn("is_current", F.lit(True))
    )
