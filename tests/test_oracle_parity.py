"""Differential tests: every registered query with an oracle must match
DuckDB exactly at sf0.01 — the same check the driver runs."""

from __future__ import annotations

import pytest

from logicash_etl_spark.queries import ORACLES, QUERIES
from tests.oracle_utils import compare


@pytest.fixture(autouse=True)
def _clear_spark_cache(spark):
    """Query functions persist() small internal frames and document a
    caller-owns-cleanup contract (queries package docstring); perfbench
    and scan_audit.py clearCache between queries — this harness must
    too, or 240 parametrized runs accumulate hundreds of cached frames
    for the session lifetime (LRU pressure, not wrong results)."""
    yield
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    compare(df, ORACLES[name], sf_dir)


def test_harness_rejects_int_float_widening(spark, sf_dir):
    """The round-4 failure class: Spark emits int64, the oracle's
    DuckDB SUM widens to HUGEINT which pandas materializes as float64.
    Values compare equal in Python (99 == 99.0) but the driver's
    type-sensitive hash differs. The hardened harness must fail it."""
    sdf = spark.createDataFrame([(1, 99)], "k int, v bigint")
    with pytest.raises(AssertionError, match="dtype-kind mismatch"):
        compare(sdf, "SELECT 1 AS k, CAST(99.0 AS DOUBLE) AS v", sf_dir)
