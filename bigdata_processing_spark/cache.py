"""One session cache for every DataFrame the engine keeps persisted past
the call that built it.

- **keyed** (:func:`cached`): a frame several queries share — MinHash
  candidates, pairs and labels, the embedding assignment, a report's few
  output rows. Keyed by (applicationId, kind, key), built once per
  session and materialized EAGERLY by one ``count()``, so the branches
  of a later action read a filled cache instead of racing to fill a
  lazy one (each racer recomputes the subtree).
- **held** (:func:`hold`): a per-call persist that the returned lazy
  frame still reads. :func:`release_held` drops them once the caller has
  materialized its result.

:func:`clear` drops both — long-lived sessions call it instead of
accumulating executor storage, and the bench's cold pass calls it so
each shared-cache query pays its own full cost. ``stats`` counts keyed
hits and misses.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_ENTRIES: dict[tuple, Any] = {}
_HELD: list[DataFrame] = []
stats = {"hits": 0, "misses": 0}
# held across a build, so two threads (a streaming sink and the driver)
# never build one entry twice; re-entrant because builds nest
_LOCK = threading.RLock()


def _frame(entry) -> DataFrame:
    return entry[0] if isinstance(entry, tuple) else entry


def cached(spark: SparkSession, kind: str, key: tuple,
           build: Callable[[], Any] | None = None):
    """The session's entry for ``(kind, key)``, built on a miss.

    ``build()`` returns a DataFrame or a ``(DataFrame, extra)`` tuple
    (the extra, e.g. a centroid list, is stored alongside). The frame is
    persisted and counted before it is stored, unless the build already
    persisted it — a build that frees its own inputs once the result
    exists materializes the result itself first. With no ``build`` this
    is a lookup: the entry, or None."""
    k = (spark.sparkContext.applicationId, kind, key)
    with _LOCK:
        entry = _ENTRIES.get(k)
        stats["hits" if entry is not None else "misses"] += 1
        if entry is None and build is not None:
            entry = build()
            df = _frame(entry)
            if not df.is_cached:
                df.persist()
                df.count()
            _ENTRIES[k] = entry
        return entry


def _checkpoint_rdd(df: DataFrame):
    """The stored JVM RDD a ``localCheckpoint()`` frame reads, else None."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    rdd = plan.rdd()
    return rdd if rdd.getStorageLevel().isValid() else None


def hold(df: DataFrame) -> DataFrame:
    """Persist ``df`` until :func:`release_held` or :func:`clear`. A
    local checkpoint is held as it is; once released it cannot be
    recomputed, so release only after every frame that reads it has
    been materialized."""
    if not df.is_cached and _checkpoint_rdd(df) is None:
        df.persist()
    with _LOCK:
        _HELD.append(df)
    return df


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
        rdd = _checkpoint_rdd(df)
        if rdd is not None:
            rdd.unpersist(False)
    except Exception:
        pass  # a stopped session's cache is already gone


def release_held() -> None:
    """Unpersist every held frame."""
    with _LOCK:
        for df in _HELD:
            _unpersist(df)
        _HELD.clear()


def clear() -> None:
    """Unpersist and drop every keyed entry and every held frame."""
    with _LOCK:
        release_held()
        for entry in _ENTRIES.values():
            _unpersist(_frame(entry))
        _ENTRIES.clear()
