"""Session-level registry for opt-in persisted intermediates and
broadcast variables.

Builders across the package (dedup's ``materialize`` regimes,
``sampling.prefix_sum``'s boundary pin, bloom's broadcast bitsets,
workload scratch frames) compose LAZY DataFrames, so they cannot
release their own resources before the caller's action — the caller
owns the lifetime. Long-lived sessions (bench loops, the compare gate,
a REPL, the driver's correctness sweep) call ``release_caches()``
after consuming each query's result; without it, corpus-sized cached
blocks and broadcast payloads accumulate until LRU eviction or session
death.

This module is the NEUTRAL home of that registry: dedup re-exports
``release_caches``/``_persist_tracked`` for backward compatibility,
but sampling/workloads/bloom register here directly rather than
reaching into another operator module's privates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE_CACHES: list[DataFrame] = []
_LIVE_BROADCASTS: list = []
_LIVE_CHECKPOINTS: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for ``release_caches``."""
    df = df.persist()
    _LIVE_CACHES.append(df)
    return df


def checkpoint_tracked(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` a DataFrame and register its checkpoint
    blocks for ``release_caches`` (VERDICT r15 #3: checkpointed RDD
    blocks otherwise free only when the ContextCleaner GCs the
    DataFrame — a long-lived session issuing many checkpointing
    statements accumulates executor storage between GCs).

    Lifetime contract — STRICTER than ``persist_tracked``: a released
    persist recomputes on the next action, but a checkpoint TRUNCATED
    its lineage, so a released checkpoint frame cannot be recomputed
    (later actions raise CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, loudly).
    Register only frames whose results are fully consumed before the
    owner's release point — the same contract every current caller
    (bench run loop, engine statement scope, compare loop) already
    honors. localCheckpoint is also non-recoverable across executor
    loss (SCALE.md §9)."""
    cdf = df.localCheckpoint(eager=eager)
    _LIVE_CHECKPOINTS.append(cdf)
    return cdf


def _unpersist_checkpoint(cdf: DataFrame) -> None:
    """Free a localCheckpoint's RDD blocks. The checkpointed RDD hangs
    off the LogicalRDD the checkpoint returned; DataFrame.unpersist()
    only talks to the CacheManager and never touches it."""
    cdf._jdf.queryExecution().analyzed().rdd().unpersist(False)


def track_broadcast(bc):
    """Register a Broadcast for ``release_caches`` — without this a
    loop probing a large bloom bitset (~120 MB at 1e9 bits) leaks one
    immortal executor+driver copy per call."""
    _LIVE_BROADCASTS.append(bc)
    return bc


def release_caches() -> int:
    """Unpersist every registered cache, destroy every registered
    broadcast, and free every registered checkpoint since the last
    release. Returns the number of handles released. Idempotent."""
    return release_caches_since((0, 0, 0))


def cache_mark() -> tuple[int, int, int]:
    """Registry high-water mark, for scoped release: callers that own a
    bounded unit of work (one engine statement, one REPL loop turn)
    snapshot the mark on entry and release only what the unit itself
    registered — a global ``release_caches()`` there would yank frames
    a LONGER-lived caller (a streaming sink's pinned batch state, an
    outer operator composition) is still counting on."""
    return (len(_LIVE_CACHES), len(_LIVE_BROADCASTS), len(_LIVE_CHECKPOINTS))


def release_caches_since(mark: tuple[int, int, int]) -> int:
    """Release registry entries added after ``mark`` (see
    ``cache_mark``). Nest-safe: inner scopes release their own suffix,
    leaving outer scopes' entries in place. Returns handles released.
    Idempotent."""
    nc, nb, nk = mark
    n = 0
    for df in _LIVE_CACHES[nc:]:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    del _LIVE_CACHES[nc:]
    for bc in _LIVE_BROADCASTS[nb:]:
        try:
            bc.destroy()
            n += 1
        except Exception:
            pass
    del _LIVE_BROADCASTS[nb:]
    for cdf in _LIVE_CHECKPOINTS[nk:]:
        try:
            _unpersist_checkpoint(cdf)
            n += 1
        except Exception:
            pass
    del _LIVE_CHECKPOINTS[nk:]
    return n
