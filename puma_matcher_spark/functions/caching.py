"""Session-scoped caching of derived frames: one policy, one owner.

Two kinds of cache entry, both owned by this module and its one lock:

* **Memo entries** (:func:`memoized`): a derived frame shared by many
  queries (the scored candidates, the purchase edge list) is built once
  per key and pinned until :func:`drain` — the reference caches every
  stage output once (Pipeline.scala:203) and memoizes its sources
  (SqlDataSource.scala:48).  Every frame the build persists, its
  intermediates included, is recorded with the entry.
* **Ring entries** (:func:`persist_rotating`): a plan builder that fans
  one intermediate into several branches persists it, but has no
  lifecycle hook to unpersist it.  The ring bounds that to ``_CAPACITY``
  entries, FIFO: enrolling past capacity unpersists the oldest.  Frames
  with identical plans share one CacheManager entry, so they share one
  ring slot, and a repeat refreshes that slot's FIFO position.  A frame
  cached by an outside owner (no ring entry matches its plan) is never
  enrolled: the ring only unpersists caches it owns.

:func:`drain` (which ``sources.testdata.reset_table_cache`` calls)
releases both kinds, intermediates included, so a cache-cold run rides
no frame an earlier run built.  Every entry is plain-persisted (lineage
intact), so a consumer of a drained frame recomputes rather than fails.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_CAPACITY = 8
_RING: list[DataFrame] = []
#: one record per memo entry: (its table, its key, every frame it pinned)
_MEMO: list[tuple[dict, Hashable, list[DataFrame]]] = []
#: reentrant: a memo build may itself call persist_rotating
_LOCK = threading.RLock()


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:
        return False  # foreign session / torn-down plan — no match


def is_cached(df: DataFrame) -> bool:
    """True when the CacheManager holds ``df``'s plan at any level."""
    try:
        lvl = df.storageLevel
    except Exception:
        return False  # storage-level probe failed — treat as uncached
    return lvl.useMemory or lvl.useDisk or lvl.useOffHeap


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass  # session torn down — nothing to free


def drain() -> None:
    """Unpersist every memo entry (intermediates included) and every
    ring entry, and empty the memo tables."""
    with _LOCK:
        while _MEMO:
            table, key, frames = _MEMO.pop()
            table.pop(key, None)
            for df in frames:
                _unpersist(df)
        while _RING:
            _unpersist(_RING.pop())


def memoized(
    table: dict,
    key: Hashable,
    build: Callable[[Callable[[DataFrame], DataFrame]], DataFrame],
) -> DataFrame:
    """``table[key]``, building it on first use as ``build(pin)``.

    ``pin`` persists a frame at ``MEMORY_AND_DISK`` and records it with
    the entry; the builder pins any intermediate it wants cached, and
    its result is pinned too.  The lock is held across the build:
    concurrent first callers would otherwise each run the chain and leak
    duplicate caches.  :func:`drain` drops the entry and unpersists
    everything pinned for it."""
    with _LOCK:
        if key in table:
            return table[key]
        frames: list[DataFrame] = []

        def pin(df: DataFrame) -> DataFrame:
            frames.append(df.persist(StorageLevel.MEMORY_AND_DISK))
            return df

        try:
            out = pin(build(pin))
        except BaseException:
            for df in frames:
                _unpersist(df)
            raise
        table[key] = out
        _MEMO.append((table, key, frames))
        return out


def persist_rotating(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and enroll it in the bounded ring; evicts (and
    unpersists) the oldest enrolled frame beyond capacity.  A frame
    whose plan is already cached is returned without a second
    enrollment; if a ring entry owns that plan, the entry moves to the
    ring tail.  The storage-level probe runs first, so a never-seen plan
    pays no ``sameSemantics`` scan."""
    with _LOCK:
        if is_cached(df):
            for i, entry in enumerate(_RING):
                if _same_plan(df, entry):
                    _RING.append(_RING.pop(i))  # refresh FIFO position
                    break
            return df
        df.persist(level)
        _RING.append(df)
        while len(_RING) > _CAPACITY:
            _unpersist(_RING.pop(0))
    return df
