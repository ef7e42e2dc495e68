"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The actual catalog lives in ``logicash_etl_spark.queries`` — one
registered (query, oracle) pair per implemented operator from
SURVEY.md section 2; tests/test_oracle_parity.py runs the identical
comparison locally.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from logicash_etl_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's headline report — "top ATMs by money moved"
    (glue_jobs/etl_job.py:147-158) — transposed onto the fixture star
    schema: scan -> filter -> broadcast join -> hash agg -> top-k.
    """
    return QUERIES["flagship_top_customers"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2, in
    registration order."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return dict(ORACLES)
