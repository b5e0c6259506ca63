"""Tracked persistence for multi-reference query plans.

Several operators (MinHash signatures, shingle sets, IVF assignments)
persist an intermediate relation that is referenced by 3-4 downstream
plan branches — without materialization Spark would recompute the whole
tokenize/shingle/aggregate subtree per reference. The query builders are
lazy, so they cannot unpersist before their caller materializes the
result; in a long-lived session (the driver runs every registered query
in one SparkSession) untracked persists would accumulate.

``persist_tracked`` registers every such cache under the CALLING
THREAD; ``release_caches()`` unpersists the calling thread's caches
(plus any whose owner thread has exited, so thread-per-query drivers
cannot leak). Scoping by thread means a sequential loop still bounds
outstanding cache to one query's worth — the next build releases the
previous build's caches — while two drivers interleaving builds on
separate threads cannot unpersist each other's in-use caches (the
threaded-driver hazard documented in registry.register). ``bench.py``
and the test harness call
``release_caches()`` after each query's action completes.
MEMORY_AND_DISK + Spark's LRU eviction bound the damage even if a
caller forgets.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
# (weakref to owner Thread, df) — a plain list so tests can assert on
# len(_TRACKED); entries are scoped to their registering thread. A
# WEAKREF to the Thread OBJECT, not its ident: CPython reuses idents
# after a thread exits, so an ident-keyed entry could be re-attributed
# to an unrelated new thread and escape scavenging forever.
# Identity of the Thread object cannot be reused while we can still
# dereference it.
_TRACKED: list[tuple[weakref.ref, DataFrame]] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) that registers the frame for later
    release_caches(), scoped to the calling thread."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _TRACKED.append((weakref.ref(threading.current_thread()), out))
    return out


def _unpersist_all(frames: list[DataFrame]) -> int:
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def release_caches() -> int:
    """Unpersist every cache tracked by the CALLING thread, plus any
    whose owner thread has exited (scavenge — a driver that spawns a
    fresh thread per query would otherwise never release anything).
    Returns the release count. Caches owned by other LIVE threads are
    left alone: releasing them mid-action was the threaded-driver
    hazard this scoping removes."""
    me = threading.current_thread()

    def releasable(ref: weakref.ref) -> bool:
        owner = ref()
        # owner collected, or exited (is_alive() is ident-reuse-proof
        # because we hold the actual Thread object), or it's us
        return owner is None or owner is me or not owner.is_alive()

    with _LOCK:
        mine = [df for ref, df in _TRACKED if releasable(ref)]
        _TRACKED[:] = [(ref, df) for ref, df in _TRACKED if not releasable(ref)]
    # unpersist outside the lock: it round-trips to the JVM
    return _unpersist_all(mine)


def release_all_caches() -> int:
    """Unpersist EVERY tracked cache regardless of owner — session
    teardown only; never call this between interleaved builds."""
    with _LOCK:
        frames = [df for _, df in _TRACKED]
        _TRACKED.clear()
    return _unpersist_all(frames)
