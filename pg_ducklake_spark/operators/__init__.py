"""Custom operators that sit above the DataFrame API."""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

# Query name -> (sf_dir it was built against, frames persisted by it).
_PERSIST_SCOPES: dict[str, tuple[str, list[DataFrame]]] = {}
# The plan-library query being built, if any (set by ``persist_scope``).
_BUILDING: ContextVar[str | None] = ContextVar("building_query", default=None)


def scoped_persist(df: DataFrame) -> DataFrame:
    """``persist()`` with a bounded lifetime (ADVICE r7: plan-internal
    persists accumulated executor cache across repeated plan builds).

    Inside a plan-library build the cache registers under the query
    being built. Rebuilding the same query against the SAME sf_dir
    keeps the registration: the rebuilt plan is canonically identical,
    so Spark's CacheManager dedups it to the one existing
    InMemoryRelation — zero growth, and warm reruns (the bench's
    iteration loop) keep their cache hits. Rebuilding against a
    DIFFERENT sf_dir — the case that really accumulates, because the
    scan path makes the plan distinct — releases the old directory's
    caches first (see ``persist_scope``), so one session holds at most
    one live cache set per query. Unpersisting a frame an old plan
    still references is safe — Spark recomputes it lazily. Outside any
    build this is a plain ``persist()``."""
    df.persist()
    scope = _BUILDING.get()
    if scope is not None:
        _PERSIST_SCOPES.setdefault(scope, ("", []))[1].append(df)
    return df


def release_persist_scope(scope: str) -> None:
    _sf, frames = _PERSIST_SCOPES.pop(scope, ("", []))
    for old in frames:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped


@contextmanager
def persist_scope(name: str, sf_dir: str) -> Iterator[None]:
    """Build query ``name`` against ``sf_dir``: ``scoped_persist`` calls
    made meanwhile (by the plan or by any operator it calls) register
    under ``name``. An enclosing build's name is restored on exit."""
    prev = _PERSIST_SCOPES.get(name)
    if prev is not None and prev[0] != sf_dir:
        release_persist_scope(name)
    elif prev is not None:
        # Same-sf_dir rebuild (ADVICE r8): drop the stale driver-side
        # handles WITHOUT unpersisting — the rebuilt plans are
        # canonically identical, so CacheManager dedups them onto the
        # live entries (warm reruns keep their hits) while the handle
        # list stays one-build deep.
        _PERSIST_SCOPES[name] = (sf_dir, [])
    token = _BUILDING.set(name)
    try:
        yield
    finally:
        _BUILDING.reset(token)
        if name in _PERSIST_SCOPES:
            _PERSIST_SCOPES[name] = (sf_dir, _PERSIST_SCOPES[name][1])
