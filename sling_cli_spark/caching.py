"""Operator-internal cache lifecycle.

Several operators persist an intermediate frame because the RETURNED
plan consumes it more than once (Catalyst does not canonicalize
identical explode/window subtrees to a ReusedExchange — the r6 jaccard
plan executed its shingle pipeline 3x). Those persists cannot be
released inside the operator: the caller's action has not run yet, and
unpersisting first would force the very recomputation the cache
prevents.

The contract (this module): every such persist registers here via
:func:`persist_tracked`. A long-lived session — the 100 TB deployment
is exactly that — calls :func:`release_operator_caches` between
pipeline stages (or after consuming each operator's result) so repeated
operator calls never accrete cached partitions until LRU eviction
churns. Releasing early is always SAFE: an unpersisted frame silently
recomputes; results never change.

Operators whose persist IS scoped in-function (runner.py merge paths,
``dsir_select``) release their own caches and do not appear here.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# strong refs on purpose: unpersist() needs the object. Bounded two
# ways: the release contract, plus a hard cap — when a caller never
# releases, the OLDEST tracked cache (its consumer has long since run)
# unpersists to make room, so even a release-free session can never
# accrete more than _MAX_TRACKED operator caches. Each entry is an
# operator-internal SLIM frame (ids + hashes/counts), never the corpus
# text. _LOCK guards the check-then-pop on _TRACKED: operators run on
# several threads at once (concurrent replication streams, pipeline
# groups), and an unguarded pop raced an emptied list.
_TRACKED: list[DataFrame] = []
_MAX_TRACKED = 64
_LOCK = threading.Lock()


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist an operator-internal frame and register it for
    :func:`release_operator_caches`. Use ONLY for frames referenced by
    the operator's returned plan (no in-function release point)."""
    with _LOCK:
        while len(_TRACKED) >= _MAX_TRACKED:
            old = _TRACKED.pop(0)
            try:
                old.unpersist()
            except Exception:
                pass
        out = df.persist(level)
        _TRACKED.append(out)
    return out


def release_operator_caches() -> int:
    """Unpersist every tracked operator-internal cache; returns how
    many were released. Safe at any time — plans over a released cache
    recompute instead of failing."""
    n = 0
    with _LOCK:
        while _TRACKED:
            df = _TRACKED.pop()
            try:
                df.unpersist()
                n += 1
            except Exception:
                pass  # session already stopped
    return n


def tracked_cache_count() -> int:
    return len(_TRACKED)
