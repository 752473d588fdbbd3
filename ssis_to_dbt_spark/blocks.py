"""Registry-owned lifecycle for ``localCheckpoint`` blocks.

``localCheckpoint`` pins its materialized RDD blocks in the session's
storage memory until someone unpersists them; in a long-lived session the
blocks of finished queries would accumulate without bound (measured as
end-of-session re-runs at 3-8x their in-loop time).  The query registry
wraps every entry, once, in :func:`scoped`, so the checkpoint call sites
need no registration:

- :func:`query_scope` records which persistent RDD ids appeared while a
  top-level registry query was being built.  Every ``df.localCheckpoint``,
  eager or lazy, registers its RDD as persistent when it is called.
- Those blocks are released when the NEXT top-level registry call enters,
  never earlier: a lazy checkpoint is first computed by the query's
  consumer, which runs after the builder returns, and unpersisting it
  before then fails the query (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).
- Nested registry calls (suites composing other entries) share the
  outermost scope; so do calls that overlap from several threads, but the
  contract below assumes one thread makes registry calls at a time.
- :func:`release` unpersists one fully consumed checkpoint at once; it
  bounds memory within one query (superseded iteration state).

Contract: a DataFrame returned by a registry query stays valid until the
next registry call.  There is no escape hatch.  Persistent RDDs created
outside a registry call are never touched.
"""

from __future__ import annotations

import functools
import threading
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame

__all__ = ["query_scope", "scoped", "release", "release_pending"]

_lock = threading.Lock()
_depth = 0  # open registry calls, across threads
_entry_ids: set[int] = set()  # persistent before the outermost call began
_pending: set[int] = set()  # left by finished scopes; released at next entry
_pending_sc: SparkContext | None = None  # the context _pending belongs to


def _persistent_ids(sc: SparkContext) -> set[int]:
    # the ids as one string: converting the map through py4j costs ~100x more
    keys = sc._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(k) for k in keys.split(",")} if keys else set()


def _unpersist(sc: SparkContext, ids) -> None:
    for rdd_id in ids:
        sc._jsc.sc().unpersistRDD(rdd_id, False)


def _take_pending(sc: SparkContext | None) -> set[int]:
    """Empty the pending set; ids of a stopped context are dropped."""
    global _pending
    stale, _pending = _pending, set()
    return stale if sc is not None and sc is _pending_sc else set()


def release_pending() -> None:
    """Release every block left by already-finished query scopes."""
    sc = SparkContext._active_spark_context
    with _lock:
        stale = _take_pending(sc)
        if stale:
            _unpersist(sc, stale)


@contextmanager
def query_scope():
    """Scope one top-level registry call's checkpoint blocks.

    Entering the outermost scope releases the blocks of earlier scopes;
    leaving it queues the ids that appeared inside for the next entry.
    Without an active SparkContext the scope does nothing.
    """
    global _depth, _entry_ids, _pending_sc
    sc = SparkContext._active_spark_context
    with _lock:
        if _depth == 0 and sc is not None:
            now = _persistent_ids(sc)
            stale = _take_pending(sc) & now
            _unpersist(sc, stale)
            _entry_ids = now - stale
        _depth += 1
    try:
        yield
    finally:
        with _lock:
            _depth -= 1
            if _depth == 0 and sc is not None:
                _pending.update(_persistent_ids(sc) - _entry_ids)
                _pending_sc = sc


def scoped(builder):
    """Wrap a registry builder so each call runs inside :func:`query_scope`."""

    @functools.wraps(builder)
    def run(*args, **kwargs):
        with query_scope():
            return builder(*args, **kwargs)

    return run


def _ckpt_jrdd(df: DataFrame):
    """The JVM RDD a localCheckpointed DataFrame pins, or None.

    ``Dataset.localCheckpoint`` (eager or lazy) returns a Dataset over a
    ``LogicalRDD`` wrapping the RDD it marked persistent.  Any other plan
    shape yields None.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()
    except Exception:
        return None


def release(df: DataFrame | None) -> None:
    """Immediately unpersist a checkpointed frame's blocks (async).

    For intermediates fully consumed inside a builder: the caller asserts
    nothing will evaluate ``df`` again.  No-op on None and on frames that
    are not checkpoints.
    """
    jrdd = None if df is None else _ckpt_jrdd(df)
    if jrdd is not None:
        jrdd.unpersist(False)
