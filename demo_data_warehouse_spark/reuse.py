"""Query-scoped reuse of intermediate frames.

An operator whose frame feeds several consumers in one plan calls
`share(frame)`: the frame is cached lazily (the first action that reads
it materializes it) and recorded in the current query's scope. The
`@query` wrapper (queries/__init__.py) calls `release()` on entry, so
every query starts with nothing cached by an earlier one.

Why a scope and not per-operator flags: Spark's CacheManager keys
cached data by LOGICAL PLAN. A cache that outlives its query lets a
later query with an equal subplan silently read it (and re-caching it
logs "Asked to cache already cached data"). Reuse across queries must
be an explicit decision, never an accident of that keying.

Why release on entry and not on return: a query returns a lazy frame
that its caller executes afterwards. A frame whose scope has been
released still executes correctly; it recomputes the shared subplan
from its sources.

The scope is module state on purpose: it mirrors the CacheManager,
which is shared by every session of the process, and operators reach
it without a scope argument. Queries are built one at a time; a query
built concurrently with another would release the other's frames.

Lifecycle pinned by tests/unit/test_reuse.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_scope: list[DataFrame] = []


def share(df: DataFrame) -> DataFrame:
    """Cache `df` for the rest of the current query; return the cached frame."""
    df = df.cache()
    _scope.append(df)
    return df


def release() -> None:
    """Unpersist every frame shared since the last release."""
    while _scope:
        _scope.pop().unpersist()
