"""Query catalog: every implemented operator exposed as a named query
with (where SQL-expressible) a DuckDB oracle for differential testing.

`__spark_entry__.py` re-exports this registry, in registration order
(the module import order below); tests run each pair at
sf0.001/sf0.01 and compare row-count + schema + order-insensitive
values, mirroring the driver's correctness gate.

Caching contract: a query persists an internal frame only where paired,
materialised timing of that query (call + toPandas + clearCache, as
perfbench times it), or a plan contract in the tests, shows that the
persist pays; CHANGES.md keeps the audit of every site. A persisted
frame is not unpersisted before the query returns, because the returned
DataFrame's lineage still reads it. CALLERS OWN CLEANUP: a caller that
runs many catalog queries in one session wraps each run in
`operators.caching.cache_scope()` or calls `spark.catalog.clearCache()`
between queries, as perfbench, scan_audit.py, head_determinism_check.py,
corpus_robustness_check.py and tests/test_oracle_parity.py do. Without
cleanup the only cost is executor-memory pressure (Spark's cache
LRU-evicts); results are never wrong.
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
