"""Session-cache lifetime management.

Several operators persist (or ``localCheckpoint``) intermediates that
the RETURNED lazy plan still reads — the posting tables of the
set-similarity join, the token-count table TF-IDF scores three ways,
the per-hop frontiers of the graph loops.  Those caches cannot be
released before the caller's consuming action, but leaving them cached
for the life of the session pins executor storage memory indefinitely —
exactly the failure shape of a long-lived multi-query session at
100 TB, and the leak a full-suite cache census once exposed (12
persisted RDDs surviving 65 test modules).

Every such site now registers its cached frame here instead of calling
``persist()``/``localCheckpoint()`` bare; the harness (the test suite
after each module, a long-lived service between queries) calls
:func:`release_persisted` once the consumed results are no longer
needed.  Operators whose caches are consumed entirely inside the
operator keep their paired in-function ``unpersist()`` — this scope is
only for caches that must outlive the operator call.

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

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_PERSISTED: list[DataFrame] = []
_CHECKPOINTED: list[object] = []  # py4j JVM RDD handles


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


def register_persisted(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame (e.g. the live output of an
    iterative loop that manages its own in-loop persists)."""
    with _LOCK:
        _PERSISTED.append(df)
    return df


def _local_checkpoint(df: DataFrame) -> tuple[DataFrame, list]:
    """Eager ``df.localCheckpoint()`` plus the JVM handles of the RDDs
    it persisted, found by diffing ``getPersistentRDDs`` around the call
    (``DataFrame.unpersist`` cannot reach them).  The diff runs under
    the lock, so concurrent checkpoints cannot mis-attribute each
    other's RDD ids.  A lazy checkpoint would have no blocks yet to
    diff, hence eager only."""
    jsc = df.sparkSession.sparkContext._jsc
    with _LOCK:
        before = {int(k) for k in
                  jsc.getPersistentRDDs().keySet().toArray()}
        out = df.localCheckpoint(eager=True)
        after = jsc.getPersistentRDDs()
        handles = [after.get(k) for k in after.keySet().toArray()
                   if int(k) not in before]
    return out, handles


def scoped_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``df.localCheckpoint()`` + register the checkpoint's
    storage blocks for a later :func:`release_persisted`."""
    out, handles = _local_checkpoint(df)
    with _LOCK:
        _CHECKPOINTED.extend(handles)
    return out


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
        for h in handles:
            try:
                h.unpersist(False)
            except Exception:
                pass


def release_persisted(blocking: bool = False) -> int:
    """Unpersist every scope-registered cache; returns how many frames
    / checkpoint handles were released.  Safe to call repeatedly
    (``unpersist`` is idempotent; the registry drains)."""
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
            handle = _CHECKPOINTED.pop()
            try:
                handle.unpersist(blocking)
                n += 1
            except Exception:
                pass
    return n
