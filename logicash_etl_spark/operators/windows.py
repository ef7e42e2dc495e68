"""Window-function operators (SURVEY.md section 2.5).

The reference has one window use: ROW_NUMBER() OVER (ORDER BY total
DESC) as a ranking label (qa/validate_data_fast.py:144). That global
(unpartitioned) window serializes onto a single task — fine for a
50-row report, catastrophic at scale — so ``ranked`` is only ever
applied to a post-aggregation report of bounded size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def ranked(df: DataFrame, order_by: list[Column]) -> DataFrame:
    """Attach a ``ranking`` column: row_number over one global window.

    A global window funnels ALL rows through one task, so callers pass
    only bounded post-aggregation reports (one row per ATM or supplier),
    matching the reference's top-ATMs usage.
    """
    return df.withColumn("ranking", F.row_number().over(W.orderBy(*order_by)))


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
) -> DataFrame:
    """Batch sessionization: new ``session_id`` when gap > threshold.

    lag(ts) within key -> boolean new-session flag -> running sum =
    session ordinal. Single shuffle on the key. (The streaming analog
    is ``session_window`` — streaming/ops.py.)
    """
    w = W.partitionBy(key).orderBy(ts)
    gap = F.col(ts).cast("long") - F.lag(F.col(ts).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    cum = W.partitionBy(key).orderBy(ts).rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(cum)
    ).drop("__new")
