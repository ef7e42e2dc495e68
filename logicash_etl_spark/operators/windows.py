"""Window-function operators (SURVEY.md section 2.5).

The reference has one window use: ROW_NUMBER() OVER (ORDER BY total
DESC) as a ranking label (qa/validate_data_fast.py:144). That global
(unpartitioned) window serializes onto a single task — fine for a
50-row report, catastrophic at scale — so ``ranked`` requires either a
partition key or an explicit acknowledgment that the input is small
(e.g. post-aggregation report of bounded size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def ranked(
    df: DataFrame,
    order_by: list[Column],
    partition_by: list[str] | None = None,
    method: str = "row_number",
    alias: str = "ranking",
    small_input_ok: bool = False,
) -> DataFrame:
    """Attach a rank column. method: row_number | rank | dense_rank | ntile:N.

    An unpartitioned window funnels ALL rows through one task; it is
    only allowed when the caller asserts the input is already a
    bounded report (``small_input_ok=True``), matching the reference's
    top-ATMs usage.
    """
    if not partition_by and not small_input_ok:
        raise ValueError(
            "global window = single task; pass partition_by or set "
            "small_input_ok=True for bounded post-aggregation input"
        )
    w = (W.partitionBy(*partition_by) if partition_by else W.partitionBy()).orderBy(*order_by)
    if method == "row_number":
        c = F.row_number().over(w)
    elif method == "rank":
        c = F.rank().over(w)
    elif method == "dense_rank":
        c = F.dense_rank().over(w)
    elif method.startswith("ntile:"):
        c = F.ntile(int(method.split(":")[1])).over(w)
    else:
        raise ValueError(f"unknown method {method}")
    return df.withColumn(alias, c)


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    session_alias: str = "session_id",
) -> DataFrame:
    """Batch sessionization: new session when gap > threshold.

    lag(ts) within key -> boolean new-session flag -> running sum =
    session ordinal. Single shuffle on the key. (The streaming analog
    is ``session_window`` — streaming/ops.py.)
    """
    w = W.partitionBy(key).orderBy(ts)
    gap = F.col(ts).cast("long") - F.lag(F.col(ts).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    cum = W.partitionBy(key).orderBy(ts).rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("__new", is_new).withColumn(
        session_alias, F.sum("__new").over(cum)
    ).drop("__new")
