"""Cache lifecycle for the *lazy* plan builders (VERDICT r4 #2).

The lazy builders (:func:`frogocr_spark.operators.ranking.global_rank_lazy`
and friends, ``ngram_jaccard_pairs(lazy=True)``) ``cache()`` a shared
subtree so two consumers don't recompute it — deliberately advisory, so
plan construction launches zero Spark jobs.  But ``cache()`` pins
executor storage until an explicit ``unpersist``, and a long-lived
session that keeps constructing lazy plans accumulates pinned partitions
until LRU eviction makes performance (and, for nondeterministic inputs,
results) unpredictable.

This module gives those caches a lifecycle without changing the
builders' return type:

``cache_scope()``
    Context manager.  Every cache a lazy builder creates while the scope
    is active is registered with it; on exit the scope unpersists them
    all (blocking by default, so a test can assert storage is actually
    gone)::

        with cache_scope() as cs:
            ranked = global_rank_lazy(df, ["k"])   # cache registered
            ranked.count()                          # consuming action
        # scope exit → every registered cache unpersisted

    Scopes nest: a cache registers with the INNERMOST active scope.
    Exiting unpersists only that scope's caches.  Without an active
    scope the builders behave exactly as before (cache pinned until
    session end) — existing callers, including the driver-contract
    queries, are unaffected.

``CacheScope.relations``
    The registered DataFrames, for callers that want to unpersist one
    early or inspect what got pinned.

Single-session, driver-side bookkeeping only (a Python list of
DataFrame handles — nothing distributed).  The scope stack is
per-thread: a cache built on one thread registers only with that
thread's innermost scope, never with a scope another thread opened.
"""

from __future__ import annotations

import threading


class _ScopeStack(threading.local):
    def __init__(self) -> None:
        self.stack: list[CacheScope] = []


_SCOPES = _ScopeStack()


class CacheScope:
    """Collects the DataFrames lazy builders ``cache()`` while active;
    :meth:`unpersist` (or context exit) releases them all."""

    def __init__(self, blocking: bool = True):
        self.blocking = blocking
        self._dfs: list = []

    def __enter__(self) -> "CacheScope":
        _SCOPES.stack.append(self)
        return self

    def __exit__(self, *exc) -> bool:
        _SCOPES.stack.remove(self)
        self.unpersist()
        return False

    def add(self, df):
        self._dfs.append(df)
        return df

    @property
    def relations(self) -> tuple:
        """DataFrames currently registered (not yet unpersisted)."""
        return tuple(self._dfs)

    def unpersist(self) -> int:
        """Unpersist every registered cache; returns how many."""
        n = 0
        while self._dfs:
            self._dfs.pop().unpersist(self.blocking)
            n += 1
        return n


def cache_scope(blocking: bool = True) -> CacheScope:
    """``with cache_scope(): ...`` — see module docstring."""
    return CacheScope(blocking)


def register_cache(df):
    """``df.cache()`` + register with the innermost active
    :class:`CacheScope` (plain ``cache()`` when none is active).  The
    single entry point the lazy builders call, so every advisory cache
    they create is reachable by a lifecycle owner."""
    out = df.cache()
    if _SCOPES.stack:
        _SCOPES.stack[-1].add(out)
    return out
