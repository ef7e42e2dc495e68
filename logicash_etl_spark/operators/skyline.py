"""Pareto-frontier (skyline) operator — 2-D, exact, no global window.

Beyond-reference scope (SURVEY.md section 7): the classic OLAP
"skyline" query — rows not dominated by any other row, where *a
dominates b* iff a is >= b in every dimension and > in at least one.

The naive plans both fail at 100 TB: the NOT-EXISTS dominance
anti-join is O(n^2), and the textbook sort-based scan (sort by x
desc, keep rows whose y beats the running max) needs a global
single-partition window. This operator keeps the sort-based idea but
distributes the scan the same way ``global_prefix_sum``
(operators/partitioning.py:35) distributes a cumulative sum:

  1. collapse to one row per distinct x with the group's max y
     (an ordinary hash aggregation — the only full-data shuffle);
  2. range-bucket the group frame on x with a FIXED arithmetic split
     of [min, max] (deterministic, unlike RangePartitioner's sampled
     bounds), compute each bucket's exclusive running max of y in
     x-descending order with a per-bucket window (bounded, parallel);
  3. the per-bucket maxima (``buckets`` numbers) come to the driver
     and re-enter as broadcast offsets; the frontier test is then a
     per-row comparison, and survivors join back to the input rows.

A row survives iff its y equals its x-group's max (nothing with
equal x strictly beats it) AND strictly exceeds the running max over
all strictly-greater x (nothing with better x ties-or-beats it).
Duplicate (x, y) points tie and all survive — neither dominates.

Rows with a NULL in either dimension are excluded from both sides of
the dominance relation (incomparable), mirroring what NOT EXISTS
does with NULL comparisons in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _exclusive_prefix_max_desc(
    g: DataFrame, x_col: str, y_col: str, out_col: str, buckets: int = 32
) -> DataFrame:
    """Exclusive running max of ``y_col`` in ``x_col``-DESCENDING
    order, two-phase (per-bucket window + broadcast bucket offsets).
    ``x_col`` must be unique per row (callers pass a grouped frame).
    The first row in the global order gets NULL (no predecessor)."""
    lo, hi, n = g.agg(
        F.min(x_col).cast("double"), F.max(x_col).cast("double"), F.count(F.lit(1))
    ).first()
    if n == 0:
        return g.withColumn(out_col, F.lit(None).cast(g.schema[y_col].dataType))
    span = max((hi - lo) / buckets, 1e-9)
    # bucket 0 holds the LARGEST x so bucket order == scan order
    b = F.least(
        F.lit(buckets - 1),
        F.floor((F.lit(hi) - F.col(x_col).cast("double")) / F.lit(span)),
    ).cast("int")
    bucketed = g.withColumn("__b", b)
    w = (
        Window.partitionBy("__b")
        .orderBy(F.col(x_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = bucketed.withColumn("__local", F.max(y_col).over(w))
    totals = (
        bucketed.groupBy("__b").agg(F.max(y_col).alias("__t")).orderBy("__b").collect()
    )
    offsets, run = {}, None
    for r in totals:
        offsets[r["__b"]] = run
        if r["__t"] is not None and (run is None or r["__t"] > run):
            run = r["__t"]
    spark = g.sparkSession
    y_type = g.schema[y_col].dataType
    off = F.broadcast(
        spark.createDataFrame(
            [(k, v) for k, v in offsets.items()], f"__b int, __off {y_type.simpleString()}"
        )
    )
    return (
        local.join(off, on="__b")
        .withColumn(out_col, F.greatest("__local", "__off"))
        .drop("__b", "__local", "__off")
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    buckets: int = 32,
) -> DataFrame:
    """Exact 2-D Pareto frontier of ``df`` maximizing ``x_col`` and
    minimizing ``y_col``: rows not dominated in the (x, y) plane. The
    minimized dimension is negated internally; output columns are
    untouched. Returns the surviving input rows."""
    pts = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).withColumn(
        "__x", F.col(x_col)
    ).withColumn("__y", -F.col(y_col))
    g = pts.groupBy("__x").agg(F.max("__y").alias("__gmax"))
    gh = _exclusive_prefix_max_desc(g, "__x", "__gmax", "__H", buckets=buckets)
    survivors = (
        pts.join(gh, on="__x")
        .filter(
            (F.col("__y") == F.col("__gmax"))
            & (F.col("__H").isNull() | (F.col("__y") > F.col("__H")))
        )
        .drop("__x", "__y", "__gmax", "__H")
    )
    return survivors
