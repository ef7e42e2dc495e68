"""Streaming operators: watermarked windows, session windows, stream
dedup, and a custom stateful operator via applyInPandasWithState.

The reference has no true streaming (SURVEY.md section 2.9) — late data is a
*quality rule* there. Here late data gets the real treatment: event-time
watermarks bound state; tumbling/sliding windows aggregate; session
windows gap-merge; dropDuplicates(withWatermark) dedups exactly-once
within the watermark horizon. All of these run identically under
``Trigger.AvailableNow`` (lot batch) or a continuous trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logicash_etl_spark.functions.money import dsum


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling windowed count+sum over ``ts`` with an
    event-time watermark bounding state: windows older than
    max(event_time) - watermark are finalized and their state dropped —
    that bound is what makes this runnable forever at 100 TB/day.
    """
    grouped = events.withWatermark("ts", watermark).groupBy(
        F.window("ts", window).alias("w"), *(keys or [])
    )
    return grouped.agg(F.count("*").alias("n"), dsum("value", "total_value")).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *(keys or []),
        "n",
        "total_value",
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    key: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native streaming sessionization: ``session_window`` over ``ts`` merges
    events within ``gap`` into one growing window per key (the
    streaming analog of operators/windows.py:sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), key)
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            key,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once event dedup on ``(*keys, ts)`` within the watermark horizon — state
    holds one entry per key and is GC'd past the watermark (without it
    the state grows unboundedly; with it, memory is bounded by
    arrival-rate x horizon)."""
    return events.withWatermark("ts", watermark).dropDuplicates([*keys, "ts"])



def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: rows match when ``on`` keys are equal
    and the right event lands in ``[left_ts, left_ts + within]`` — the
    click-to-conversion attribution shape. BOTH sides carry event-time
    watermarks and the join condition bounds the time range in both
    directions; together they let the engine evict join state older
    than the horizon — the difference between a join that runs forever
    at 100 TB/day and one whose state grows without bound.

    ``left_ts`` / ``right_ts`` (and every other column) must already
    be distinctly named across the two sides — rename before calling.

    ``how``: "inner" (default) or "left_outer" — outer emits unmatched
    left rows null-extended once the join watermark proves no match
    can arrive (note the one-batch emission delay the
    streaming_outer_interval_join query pins).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = F.expr(
        f"{on} = __r_{on} AND {right_ts} >= {left_ts} "
        f"AND {right_ts} <= {left_ts} + INTERVAL {within}"
    )
    return lw.join(rw.withColumnRenamed(on, f"__r_{on}"), cond, how).drop(
        f"__r_{on}"
    )
