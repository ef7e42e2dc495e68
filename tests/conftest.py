from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logicash_etl_spark import get_spark  # noqa: E402
from tests.oracle_utils import copy_fixture_tables  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="logicash-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def dup_parent_dir(tmp_path_factory):
    """A corpus where one customer PK is duplicated — the join-fanout
    pathology key_uniqueness_audit exists to detect."""
    d = str(tmp_path_factory.mktemp("dirty_dup_parent"))
    copy_fixture_tables(
        d,
        {
            # parenthesized arm: appends exactly one duplicate of the
            # lowest custkey (without parens ORDER/LIMIT would apply
            # to the whole union)
            "customer": (
                "SELECT * FROM t UNION ALL "
                "(SELECT * FROM t ORDER BY c_custkey LIMIT 1)"
            )
        },
    )
    return d


@pytest.fixture(scope="session")
def refund_dir(tmp_path_factory):
    """A corpus with refunds: every 7th purchase event's value is
    negated — exercises the GREATEST(cents, 0) refund contract on
    conversions with negative value."""
    d = str(tmp_path_factory.mktemp("dirty_refunds"))
    copy_fixture_tables(
        d,
        {
            "events": (
                "SELECT event_id, ts, user_id, event_type, "
                "CASE WHEN event_type = 'purchase' AND event_id % 7 = 0 "
                "THEN -value ELSE value END AS value, props FROM t"
            )
        },
    )
    return d


@pytest.fixture(scope="session")
def null_corpus(tmp_path_factory):
    """A tiny corpus with NULL text / NULL value rows, written as the
    same parquet layout the queries read."""
    import duckdb

    d = tmp_path_factory.mktemp("null_corpus")
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT doc_id, text, 'en' AS lang, source,
                 COALESCE(len(text), 0) AS n_chars
          FROM (VALUES
            (1, 'web',  'alpha beta gamma'),
            (2, 'web',  CAST(NULL AS VARCHAR)),
            (3, 'web',  'delta'),
            (4, 'book', 'one two three four five'),
            (5, 'book', CAST(NULL AS VARCHAR))
          ) AS t(doc_id, source, text)
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT * FROM (VALUES
            (1, 101, 'purchase', TIMESTAMP '2024-01-01 00:00:00', 10.0,
             NULL),
            (2, 101, 'purchase', TIMESTAMP '2024-01-01 00:01:00', NULL,
             NULL),
            (3, 102, 'purchase', TIMESTAMP '2024-01-01 00:02:00', 30.0,
             NULL),
            (4, 102, 'refund',   TIMESTAMP '2024-01-01 00:03:00', NULL,
             NULL)
          ) AS t(event_id, user_id, event_type, ts, value, props)
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
    """)
    con.close()
    return str(d)
