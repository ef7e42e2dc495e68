"""Cache-scope management for operators that persist intermediates.

Catalyst does no common-subexpression materialisation: a frame that
feeds several consumers re-runs its lineage once per consumer unless
it is persisted. A persist stays in the engine only where paired,
materialised timing of the queries that reach it, or a plan contract
in the tests, shows that it pays. The handle must outlive the operator
call (the returned DataFrame is lazy), so the operator cannot unpersist
it itself: callers own cleanup, through ``spark.catalog.clearCache()``
or ``cache_scope()``::

    with cache_scope():
        pairs = minhash_dedup_pairs(docs, "doc_id").collect()
    # every intermediate persisted by the operators above is now freed

``scoped_persist`` is ``DataFrame.persist()`` plus registration with
the innermost active scope (no scope active: a plain persist). Scopes
nest; each unpersists only its own handles, in reverse creation order.
The scope stack is one per process: the engine builds each job graph
from a single driver thread.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_SCOPES: list[list[DataFrame]] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` whose handle is released by the innermost
    active ``cache_scope`` (plain persist when no scope is active)."""
    df = df.persist()
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


@contextmanager
def cache_scope() -> Iterator[list[DataFrame]]:
    """Unpersist every ``scoped_persist`` made inside the block on
    exit (eagerly, including on error). Yields the live handle list —
    callers may append their own persisted frames to it."""
    handles: list[DataFrame] = []
    _SCOPES.append(handles)
    try:
        yield handles
    finally:
        _SCOPES.pop()
        for df in reversed(handles):
            try:
                df.unpersist()
            except Exception:  # session already stopped: nothing to free
                pass
