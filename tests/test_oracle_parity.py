"""Differential tests: every registered query with an oracle must match
DuckDB exactly at sf0.01 — the same check the driver runs."""

from __future__ import annotations

import pytest

from logicash_etl_spark.queries import ORACLES, QUERIES
from tests.oracle_utils import compare


@pytest.fixture(autouse=True)
def _clear_spark_cache(spark):
    """Query functions persist() internal frames and leave cleanup to
    the caller (queries package docstring). perfbench, scan_audit.py,
    head_determinism_check.py and corpus_robustness_check.py call
    clearCache() after each query; this harness must too, or its one
    run per catalog query accumulates cached frames for the session
    lifetime (LRU pressure, not wrong results)."""
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


def test_integer_div_mod_primitives_match_duckdb(spark):
    """Negative money, pinned at the PRIMITIVE level: Spark `div`/`%`
    and DuckDB `//`/`%` agree on BIGINT for ALL signs (both truncate
    toward zero; remainder takes the dividend's sign), so they do not
    diverge on negative integer operands. CAVEAT
    that keeps this test load-bearing: DuckDB 1.0.0 `//` on DOUBLE
    is NOT integer division at all (-7.0 // 2 = -3.5), so oracle
    `//` must only ever ride on integer operands — which every
    oracle does via explicit BIGINT cents/counts. Grid: signed
    dividends x signed divisors, plus int64-scale magnitudes."""
    import duckdb

    pairs = [
        (a, b)
        for a in [-9, -7, -4, -1, 0, 1, 4, 7, 9, 10**17, -(10**17)]
        for b in [-9, -3, -2, -1, 1, 2, 3, 9, 10**9]
    ]
    con = duckdb.connect()
    duck = [
        con.execute(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT), "
            f"CAST({a} AS BIGINT) % CAST({b} AS BIGINT)"
        ).fetchone()
        for a, b in pairs
    ]
    con.close()
    rows = spark.createDataFrame(pairs, "a long, b long").selectExpr(
        "a div b AS d", "a % b AS m"
    ).collect()
    got = [(r.d, r.m) for r in rows]
    assert got == [tuple(x) for x in duck]
