"""Driver-contract invariants for __spark_entry__.py — pure-Python
(no SparkSession)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def test_every_query_has_an_oracle():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(osql), (
        "queries() and oracle_sql() must cover the same names; "
        f"diff={set(qs) ^ set(osql)}"
    )
