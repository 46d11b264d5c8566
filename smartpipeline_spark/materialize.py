"""The one materialization rule: no other package module persists,
checkpoints, releases or names a storage level (``tests/test_materialize.py``).

:func:`persist` stores a frame at the level :func:`_level` picks,
:func:`checkpoint` runs an eager ``localCheckpoint``, :func:`release`
frees either. A frame a call returns keeps reading what the call
stored, so only its consumer can release it: :func:`scope` releases,
newest first, all stored since it was entered. Consume results inside
the scope; a frame built on a released checkpoint cannot be recomputed.
Outside any scope nothing is registered, and a frame lives as a plain
Spark persist does: a later call persisting the same plan reuses it.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# open scopes, innermost last; shared by all threads, since a call may
# store frames from driver threads of its own (the hybrid search legs)
_SCOPES: list[list[DataFrame]] = []
_LOCK = threading.Lock()


def _level(df: DataFrame) -> StorageLevel:
    """DISK_ONLY for a frame whose plan-estimated size passes ~80% of
    the unified memory pool, else MEMORY_AND_DISK. A cached frame that
    crowds the pool evicts itself and every execution page over and
    over: minhash-1024x ran 341 s on an 8 GB heap vs 196.5 s on 16 GB
    (``git show d3e6f62:SMOKE_r11.json``), and a local-disk re-read is
    far cheaper. Unknown sizes (connect mode, no stats) fit."""
    from smartpipeline_spark.operators.scale import plan_size_bytes

    size = plan_size_bytes(df)
    if size is not None:
        heap = int(df.sparkSession.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
        frac = float(df.sparkSession.conf.get("spark.memory.fraction", "0.6"))
        if size > 0.8 * (heap - 300 * 1024 * 1024) * frac:
            return StorageLevel.DISK_ONLY
    return StorageLevel.MEMORY_AND_DISK


def _register(df: DataFrame) -> DataFrame:
    with _LOCK:
        if _SCOPES:
            _SCOPES[-1].append(df)
    return df


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` at :func:`_level`. An already cached plan was
    stored by an earlier call: it is reused and not registered, so a
    scope never frees what it did not build."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    return _register(df.persist(_level(df)))


def checkpoint(df: DataFrame) -> DataFrame:
    """Run ``df`` now and return a frame that reads the stored blocks."""
    return _register(df.localCheckpoint(eager=True))


def release(df: DataFrame) -> None:
    """Free what :func:`persist` or :func:`checkpoint` stored for
    ``df``. ``unpersist()`` alone keeps a checkpoint's blocks: they
    belong to the RDD under the frame's ``LogicalRDD``."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


@contextlib.contextmanager
def scope():
    """Release, on exit and newest first, every frame that
    :func:`persist` and :func:`checkpoint` registered since entry."""
    frames: list[DataFrame] = []
    with _LOCK:
        _SCOPES.append(frames)
    try:
        yield
    finally:
        with _LOCK:
            _SCOPES[:] = [s for s in _SCOPES if s is not frames]
        for df in reversed(frames):
            release(df)
