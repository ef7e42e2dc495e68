"""Writers — idempotent, partition-aware sinks.

Reference parity:
- S4 day-partitioned parquet overwrite (etl_job.py:130-132).
- S6 warehouse export == plain parquet overwrite (ddl_gold.sql:71-89).
- L5 idempotency contract: every write overwrites, so it is re-runnable.

Output file count: the partitioned writer repartitions by the partition
columns, so each partition directory gets one file; unpartitioned
exports leave file sizing to AQE partition coalescing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Partitioned parquet overwrite (Silver sink).

    Partition columns must be low-cardinality (the reference uses the
    derived day column precisely for this). Consumers get partition
    pruning for free.

    Repartitioning by the partition columns first gives each output
    directory ONE file instead of one per task — without it, T tasks x
    P partition values emit up to T*P small files (at 10k rows/730
    days that cost 30s of file churn).
    """
    df.repartition(*[F.col(c) for c in partition_cols]).write.mode("overwrite").partitionBy(
        *partition_cols
    ).parquet(path)


def write_parquet(df: DataFrame, path: str) -> None:
    """Unpartitioned idempotent parquet export (Gold UNLOAD analog)."""
    df.write.mode("overwrite").parquet(path)
