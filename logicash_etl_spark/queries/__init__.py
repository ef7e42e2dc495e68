"""Query catalog: every implemented operator exposed as a named query
with (where SQL-expressible) a DuckDB oracle for differential testing.

`__spark_entry__.py` re-exports this registry, in registration order
(the module import order below); tests run each pair at
sf0.001/sf0.01 and compare row-count + schema + order-insensitive
values, mirroring the driver's correctness gate.

Caching contract — CALLER OWNS CLEANUP: query functions persist()
small internal frames (multi-consumer lineage would otherwise re-scan
the fact per consumer; see scan_audit.py) and deliberately do NOT
unpersist before returning — the returned DataFrame's lineage still
references the cached frame, and eager cleanup would re-trigger the
scans the persist exists to avoid. A caller that executes many catalog
queries in one session must either wrap each execute+collect in
`operators.caching.cache_scope()` or call
`spark.catalog.clearCache()` between queries, as perfbench,
scan_audit.py, and tests/test_oracle_parity.py do. Without cleanup the
only cost is executor-memory pressure (Spark's cache LRU-evicts);
results are never wrong.
"""

from logicash_etl_spark.queries.registry import QUERIES, ORACLES, query

# import for side effect: each module registers its queries
from logicash_etl_spark.queries import relational  # noqa: F401
from logicash_etl_spark.queries import text  # noqa: F401
from logicash_etl_spark.queries import dedup  # noqa: F401
from logicash_etl_spark.queries import similarity  # noqa: F401
from logicash_etl_spark.queries import advanced  # noqa: F401
from logicash_etl_spark.queries import streaming  # noqa: F401
from logicash_etl_spark.queries import subqueries  # noqa: F401
from logicash_etl_spark.queries import analytics  # noqa: F401
from logicash_etl_spark.queries import pipeline_ops  # noqa: F401
from logicash_etl_spark.queries import windows_plus  # noqa: F401
from logicash_etl_spark.queries import curation  # noqa: F401
from logicash_etl_spark.queries import tpch_shapes  # noqa: F401
from logicash_etl_spark.queries import curation_ext  # noqa: F401
from logicash_etl_spark.queries import mergeable  # noqa: F401

__all__ = ["QUERIES", "ORACLES", "query"]
