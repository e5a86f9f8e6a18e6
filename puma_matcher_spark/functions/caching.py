"""Bounded persist management for plan-builder functions.

Operators that fan one intermediate frame into several plan branches
(the TF-IDF weight frame, the shingle frame) persist it so the branches
don't each re-derive the chain from the scan.  But a builder function
has no lifecycle hook to unpersist — returning the frame hands the plan
to the caller, and the cached RDD would outlive every use (one leaked
cache entry per call for the life of the session).

``persist_rotating`` bounds that: each persisted frame is enrolled in a
small FIFO ring; enrolling past the capacity unpersists the oldest.
Long-lived sessions converge to at most ``_CAPACITY`` cached
intermediates instead of growing without limit, while the frames most
recently built (the ones whose plans are still live) stay cached.

Identical-plan calls share ONE ring slot (r11): Spark's CacheManager
dedupes ``persist`` by canonicalized plan, so when the same query
builder runs repeatedly (a bench loop, a retried job) every call's
frame shares one cache entry — enrolling each call separately meant the
ring filled with aliases of the SAME entry and evicting an old alias
unpersisted the data the newest alias was about to reuse (measured: a
5-run picture_lsh_pairs loop recomputed its 60 s chain on the rollover
run).  A frame whose plan is already cached is therefore NOT
re-enrolled; the original enrollment keeps owning the entry.

r12 (two r11-advice hardenings): the plan-match probe, the persist and
the enrollment all happen under ``_LOCK`` (two threads persisting
identical plans concurrently could otherwise both observe "not cached"
and double-enroll — the alias-eviction bug again), and a plan match
REFRESHES the owning entry's FIFO position (``DataFrame.sameSemantics``
identifies the canonical ring entry), so a hot identical-plan frame can
no longer be evicted mid-loop once ``_CAPACITY`` other persists
interleave.  A frame persisted by an OUTSIDE owner (storage level set
but no ring entry matches — e.g. the session-memoized candidate frames)
is still returned without enrollment: the ring must never unpersist a
cache it does not own.

The storage-level probe runs FIRST: a ring entry is always a cached
plan, so a plan the CacheManager does not hold cannot match one, and the
common never-seen-plan path persists and enrolls without any
``sameSemantics`` canonicalisation under the lock.  Only an
already-cached plan pays the ring scan.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_CAPACITY = 8
_RING: list[DataFrame] = []
_LOCK = threading.Lock()


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:
        return False  # foreign session / torn-down plan — no match


def drain() -> None:
    """Unpersist and drop every ring entry.  The bench calls this (with
    ``sources.testdata.reset_table_cache``) before each query's
    designated CACHE-COLD sample, so persist-wave rows cannot silently
    ride caches built by an earlier invocation (r11 verdict #2); safe
    because every enrolled frame is plain-persisted (lineage intact —
    consumers recompute, never fail)."""
    with _LOCK:
        while _RING:
            df = _RING.pop()
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass  # session torn down — nothing to free


def persist_rotating(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and enroll it in the bounded ring; evicts (and
    unpersists) the oldest enrolled frame beyond capacity.  A frame
    whose plan is already cached (CacheManager plan-match — e.g. the
    same builder re-invoked) is returned without a second enrollment,
    and the OWNING ring entry is moved to the ring tail so rollover
    cannot unpersist an entry that is still the live cache for
    identical in-flight plans."""
    with _LOCK:
        try:
            lvl = df.storageLevel
            cached = lvl.useMemory or lvl.useDisk or lvl.useOffHeap
        except Exception:
            cached = False  # storage-level probe failed — enroll normally
        if cached:
            for i, entry in enumerate(_RING):
                if _same_plan(df, entry):
                    _RING.append(_RING.pop(i))  # refresh FIFO position
                    break
            # a match shares the owner's CacheManager entry; no match
            # means an outside owner (caller persist / memo) — not ours
            return df
        df.persist(level)
        _RING.append(df)
        while len(_RING) > _CAPACITY:
            oldest = _RING.pop(0)
            try:
                oldest.unpersist(blocking=False)
            except Exception:
                pass  # session torn down — nothing to free
    return df
