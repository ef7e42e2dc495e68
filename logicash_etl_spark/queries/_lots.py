"""Shared build-once lot cache.

Query modules materialize expensive shared inputs ("lots") once per
process and reuse them across queries. This is the one implementation
of the build-once pattern those modules share; each module keeps its
own cache dict.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, MutableMapping


def build_once(cache: MutableMapping, key: Hashable, build: Callable[[], object]):
    """``build()`` on the first request for ``key``; later requests
    cost a dict lookup."""
    if key not in cache:
        cache[key] = build()
    return cache[key]
