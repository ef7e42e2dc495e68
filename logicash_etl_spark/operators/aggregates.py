"""Aggregation operators (SURVEY.md section 2.4).

Everything here is hash aggregation over groupBy — Catalyst splits
partial/final automatically (map-side combine), so a 100 TB groupBy
shuffles only the partially-aggregated state, not raw rows. The
helpers standardize the reference's aggregate shapes:

- A2/A3 grouped summaries (``daily_summary``) — etl_job.py:147-174
- A8 conditional-aggregation pivot — ddl_gold.sql:36-47
- A9 SELECT DISTINCT as SCD1 (bug-compatible) + correct latest-wins
- O1 top-k — TakeOrderedAndProject, never a full sort
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from logicash_etl_spark.functions.money import davg, dsum, money


def daily_summary(
    df: DataFrame, date_col: str, amount: str
) -> DataFrame:
    """GROUP BY day -> count/sum/min/max/avg (A3, etl_job.py:163-174)."""
    return df.groupBy(date_col).agg(
        F.count("*").alias("total_transacciones"),
        dsum(amount, "monto_total"),
        F.min(money(amount)).cast("double").alias("monto_minimo"),
        F.max(money(amount)).cast("double").alias("monto_maximo"),
        davg(amount, "monto_promedio"),
    )


def conditional_pivot(
    df: DataFrame,
    keys: list[str],
    pivot_col: str,
    pivot_values: list[str],
    amount: str,
    net_pair: tuple[str, str],
) -> DataFrame:
    """A8: SUM(CASE WHEN pivot=v THEN amount ELSE 0 END) per value.

    Implemented as conditional aggregation rather than ``.pivot()`` —
    identical single-shuffle plan, but with explicit column names and
    ELSE 0 (not null) semantics matching ddl_gold.sql:42-45. With
    ``net_pair=(a, b)``, adds ``flujo_neto = sum_a - sum_b``
    (ddl_gold.sql:44-45).
    """
    aggs = [F.count("*").alias("total_transacciones")]
    for v in pivot_values:
        aggs.append(
            F.sum(F.when(F.col(pivot_col) == v, money(amount)).otherwise(F.lit(0).cast("decimal(18,2)")))
            .cast("double")
            .alias(f"total_{v.lower()}")
        )
    a, b = net_pair
    return df.groupBy(*keys).agg(*aggs).withColumn(
        "flujo_neto", F.col(f"total_{a.lower()}") - F.col(f"total_{b.lower()}")
    )


def distinct_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """A9 bug-compatible: SELECT DISTINCT cols (ddl_gold.sql:20-32).

    Note the reference uses this as "SCD Type 1 última versión", which
    duplicates PKs when attributes change; ``scd1_latest`` is the
    correct default.
    """
    return df.select(*cols).distinct()


def scd1_latest(
    df: DataFrame, pk: list[str], order_by: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """Correct SCD1 latest-wins: one row per PK, newest ``order_by``.

    row_number over (partition by pk order by ts desc) == 1. One
    shuffle on the PK; at scale prefer this over dropDuplicates(pk)
    because dropDuplicates keeps an *arbitrary* row.
    """
    order = [F.col(order_by).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = W.partitionBy(*pk).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_k(df: DataFrame, order_col: Column | str, k: int, tiebreak: list[str] | None = None) -> DataFrame:
    """O1: ORDER BY x DESC LIMIT k -> TakeOrderedAndProject (per-
    partition heaps + driver merge; no global sort even at 100 TB).

    ``tiebreak`` makes results deterministic under ties — required for
    oracle-comparable output (SURVEY section 7.5).
    """
    col = F.col(order_col) if isinstance(order_col, str) else order_col
    order = [col.desc()] + [F.col(c).asc() for c in (tiebreak or [])]
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, keys: list[str], order_col: str, k: int, tiebreak: list[str]
) -> DataFrame:
    """Top-k within each group: window row_number <= k (one shuffle),
    ties on ``order_col`` broken by ``tiebreak`` ascending."""
    order = [F.col(order_col).desc()] + [F.col(c).asc() for c in tiebreak]
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
