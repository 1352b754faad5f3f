"""Session-scoped cache lifecycle for lazy catalog plans.

Catalog functions return LAZY DataFrames, so a ``.persist()`` placed
inside one (to stop a multi-consumer sub-pipeline re-executing per
consumer) cannot be paired with an ``unpersist()`` at the call site —
the action happens later, in the caller. Before r13 those persists
lived for the whole session (catalog/_registry.py documented the LRU-
eviction reliance): in a bench or oracle loop a leaked cache silently
warms LATER queries (and in-process re-runs of the SAME query), and at
100 TB it is executor-memory pressure for the rest of the session
(guide §5: unpersist when done).

``tracked_persist`` is ``persist()`` plus registration in a per-session
registry; ``release_tracked_persists`` unpersists and clears the
registry. Long-lived callers (bench.py after every timed run, so each
run of a query starts honest-cold; scripts/check_oracle.py after each
oracle check) call the release after each query's action completes,
giving every catalog-created cache a query-scoped lifetime. The registry
is guarded by a module lock: catalog functions may build branches on
worker threads (curation_decisions), and a release must free every
frame registered before it. Within one query nothing changes: the persist
is live for exactly the action(s) that consume it. Unpersisting is
correctness-free for the DETERMINISTIC frames catalog functions persist
(the registry value-determinism contract) — a released frame simply
recomputes to the same values if ever re-referenced.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

_REG_ATTR = "_ofrp_tracked_persists"
_REG_LOCK = threading.Lock()


def tracked_persist(df: DataFrame, level: str | None = None) -> DataFrame:
    """``df.persist()`` registered for later session-wide release.

    ``level`` is an optional ``pyspark.StorageLevel`` attribute name
    (default: Spark's default MEMORY_AND_DESERIALIZED level).
    """
    if level is not None:
        from pyspark.storagelevel import StorageLevel

        df.persist(getattr(StorageLevel, level))
    else:
        df.persist()
    spark = df.sparkSession
    with _REG_LOCK:
        reg = getattr(spark, _REG_ATTR, None)
        if reg is None:
            reg = []
            setattr(spark, _REG_ATTR, reg)
        reg.append(df)
    return df


def release_tracked_persists(spark: SparkSession) -> int:
    """Unpersist every tracked frame; returns how many were released.

    blocking=False: block deletion proceeds asynchronously — the caller
    only needs the CacheManager entries gone so the next plan/measurement
    cannot read through a stale cache. Safe to call at any point between
    queries; a no-op when nothing is registered.
    """
    with _REG_LOCK:
        reg = getattr(spark, _REG_ATTR, [])
        frames = reg[:]
        reg.clear()
    for df in frames:
        try:
            df.unpersist(False)
        except Exception:  # pragma: no cover — session teardown races
            pass
    return len(frames)
