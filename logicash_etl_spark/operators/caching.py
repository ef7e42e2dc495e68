"""Cache-scope management for operators that persist intermediates.

Several operators (MinHash banding, exact-Jaccard inverted index,
SimHash signatures) ``persist()`` an intermediate frame because the
downstream plan consumes it 2-4x. Those handles must outlive the
operator call (the returned DataFrame is lazy), so the operator cannot
unpersist them itself — historically "callers own cleanup" via
``spark.catalog.clearCache()``, which is a sledgehammer: it also drops
caches the caller DID want.

``cache_scope()`` makes the lifecycle explicit and composable::

    with cache_scope():
        pairs = minhash_dedup_pairs(docs, "doc_id").collect()
    # every intermediate persisted by the operators above is now freed

Operators register their persists via ``scoped_persist`` — a drop-in
for ``DataFrame.persist()`` that attaches the handle to the innermost
active scope (no scope active -> plain persist, the historical
behavior). Scopes nest; each unpersists only its own handles, in
reverse creation order. Thread-local on purpose NOT: a Spark driver
program is single-threaded per job graph in this engine; one process
wide stack keeps the contract obvious.
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
