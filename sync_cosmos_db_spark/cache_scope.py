"""Session-cache lifetime management.

Several operators persist (or ``localCheckpoint``) intermediates that
the RETURNED lazy plan still reads — the posting tables of the
set-similarity join, the token-count table TF-IDF scores three ways,
the state of the iteration driver.  Those caches cannot be
released before the caller's consuming action, but leaving them cached
for the life of the session pins executor storage memory indefinitely —
exactly the failure shape of a long-lived multi-query session at
100 TB, and the leak a full-suite cache census once exposed (12
persisted RDDs surviving 65 test modules).

Every such site now registers its cached frame here instead of calling
``persist()``/``localCheckpoint()`` bare; the harness (the test suite
after each module, a long-lived service between queries) calls
:func:`release_persisted` once the consumed results are no longer
needed; caches one call consumes itself use :func:`cached`.  The same
release removes :func:`scoped_tempdir` directories, which returned
frames may still read.

Release safety:

* **Persisted** frames are safe to release at ANY point — the lineage
  is intact, so a later re-consumption just recomputes.
* **localCheckpoint-ed** frames are NOT — the blocks are the only copy
  (lineage is truncated), and Spark raises
  ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` on any action over a released
  checkpoint.  Call :func:`release_persisted` only after the results
  derived from them are fully consumed (collected / written out).

``DataFrame.unpersist()`` only evicts CacheManager entries, so
checkpoint blocks are tracked here by the JVM RDD handles that appear
in ``getPersistentRDDs`` during the checkpoint call and released with
``rdd.unpersist()`` directly.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_PERSISTED: list[DataFrame] = []
# (checkpointed frame, its py4j JVM RDD handles)
_CHECKPOINTED: list[tuple[DataFrame, list]] = []
_TEMPDIRS: list[str] = []


def scoped_persist(df: DataFrame, level=None, eager: bool = False
                   ) -> DataFrame:
    """``df.persist(level)`` + register for a later
    :func:`release_persisted`.  ``eager`` pins materialization to one
    job up front (``count()``), the pattern operators use when the
    frame feeds several downstream branches of one returned plan."""
    out = df.persist(level) if level is not None else df.persist()
    with _LOCK:
        _PERSISTED.append(out)
    if eager:
        out.count()
    return out


def _local_checkpoint(df: DataFrame) -> tuple[DataFrame, list]:
    """Eager ``df.localCheckpoint()`` plus the JVM handles of the RDDs
    it persisted, found by diffing ``getPersistentRDDs`` around the call
    (``DataFrame.unpersist`` cannot reach them).  Only locally
    checkpointed RDDs count: a lazily persisted input the checkpoint
    job happens to fill also appears in the diff, but it is its
    owner's cache.  The diff runs under the lock, so concurrent
    checkpoints cannot mis-attribute each other's RDD ids.  A lazy
    checkpoint would have no blocks yet to diff, hence eager only."""
    jsc = df.sparkSession.sparkContext._jsc
    with _LOCK:
        before = {int(k) for k in
                  jsc.getPersistentRDDs().keySet().toArray()}
        out = df.localCheckpoint(eager=True)
        after = jsc.getPersistentRDDs()
        handles = [h for h in (after.get(k) for k in
                               after.keySet().toArray()
                               if int(k) not in before)
                   if h.rdd().isLocallyCheckpointed()]
    return out, handles


def scoped_local_checkpoint(df: DataFrame,
                            replacing: DataFrame | None = None
                            ) -> DataFrame:
    """Eager ``df.localCheckpoint()`` + register the checkpoint's
    storage blocks for a later :func:`release_persisted`.  The blocks
    of ``replacing``, a frame this returned earlier that nothing reads
    any more, are freed once the new checkpoint has landed."""
    out, handles = _local_checkpoint(df)
    stale: list = []
    with _LOCK:
        for i, (frame, _) in enumerate(_CHECKPOINTED):
            if frame is replacing:
                stale = _CHECKPOINTED.pop(i)[1]
                break
        _CHECKPOINTED.append((out, handles))
    _free(stale)
    return out


def _free(handles: list, blocking: bool = False) -> int:
    n = 0
    for h in handles:
        try:
            h.unpersist(blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


@contextmanager
def cached(df: DataFrame):
    """Yield ``df`` persisted and filled for the ``with`` block, and
    unpersist it on exit — an input one call reads several times (an
    iteration's edge list).  Filling it up front means no plan races
    to fill it.  A plan the caller already cached, under any handle
    (``storageLevel`` asks the CacheManager by plan; ``is_cached`` only
    knows this handle), is yielded untouched: unpersisting it would
    drop the caller's cache."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk or lvl.useOffHeap:
        yield df
        return
    out = df.persist()
    try:
        out.count()
        yield out
    finally:
        out.unpersist()


def scoped_tempdir(prefix: str) -> str:
    """``tempfile.mkdtemp(prefix=prefix)``, removed by the next
    :func:`release_persisted` — the staging directory of a query whose
    returned frame reads it lazily, so no ``finally`` in the query can
    own it."""
    path = tempfile.mkdtemp(prefix=prefix)
    with _LOCK:
        _TEMPDIRS.append(path)
    return path


@contextmanager
def local_checkpoint_released(df: DataFrame):
    """Scoped form for checkpoints consumed INSIDE one function: yields
    the eagerly checkpointed frame and frees its storage blocks on
    exit (after the caller's write/collect), without touching any
    other registered cache."""
    out, handles = _local_checkpoint(df)
    try:
        yield out
    finally:
        _free(handles)


def release_persisted(blocking: bool = False) -> int:
    """Unpersist every scope-registered cache and remove every scoped
    temp directory; returns how many frames, checkpoint handles and
    directories were released.  Safe to call repeatedly (``unpersist``
    is idempotent; the registry drains)."""
    n = 0
    with _LOCK:
        while _PERSISTED:
            df = _PERSISTED.pop()
            try:
                df.unpersist(blocking)
                n += 1
            except Exception:  # session already stopped — nothing to free
                pass
        while _CHECKPOINTED:
            n += _free(_CHECKPOINTED.pop()[1], blocking)
        while _TEMPDIRS:
            shutil.rmtree(_TEMPDIRS.pop(), ignore_errors=True)
            n += 1
    return n
