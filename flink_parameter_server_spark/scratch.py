"""Storage lifecycle of persisted intermediates and checkpoint blocks.

Cached frames: :func:`scratch` replaces a bare ``persist()`` where a
query's plan consumes an intermediate more than once, and tracks it
for :func:`release`. A released cached frame is safe under any
consumption order: a stale result that still references it recomputes.

Checkpoint blocks: ``localCheckpoint`` truncates lineage, so its blocks
cannot be recomputed and only a caller that knows every consumer has
run may free them. :func:`scoped_checkpoint` is the one entry point,
and one rule decides who owns the blocks it pins:

1. **Scope.** Inside ``with pinned(spark):`` the innermost scope open
   on the calling thread owns them and frees exactly those ids on
   exit. A function opens a scope when its own barrier (a write, a
   collect) consumes everything it pinned: a foreachBatch sink around
   process + decisions write, an index build around its writes.
2. **Tracker.** With no scope open, they go to the session tracker
   that :func:`release` empties. Every registry query fn
   (plans/registry.py wraps them) calls ``release()`` on entry — the
   previous query's result has been consumed by then — so live scratch
   stays bounded to one query's intermediates, and results of
   checkpoint-backed queries must be consumed before the next query
   starts.
3. **Round loops.** A loop whose every round supersedes the last (the
   star-CC and BPE loops) passes its own id set, frees each superseded
   round itself, and hands what survives to the current owner
   (:func:`hand_off`) or frees it.

A scope lives in a ContextVar, so it belongs to the thread that opened
it: a new thread starts in an empty context and hands its pins to the
tracker, even when it was started inside a scope. Attribution is exact
— the checkpoint's RDD id is read off the checkpointed Dataset's plan,
never diffed against the session's persisted set — so concurrent
foreachBatch sinks and driver-thread overlaps
(:func:`operators._util.overlap`) never free each other's blocks.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_CACHED: list[DataFrame] = []
_CHECKPOINT_HANDLES: list[Any] = []  # py4j JavaRDD handles
_SCOPE: ContextVar[set[int] | None] = ContextVar("scratch_scope", default=None)


def scratch(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Persist an intra-query intermediate and track it for release."""
    df = df.persist(level) if level is not None else df.persist()
    _CACHED.append(df)
    return df


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of currently persisted RDDs (includes localCheckpoint blocks)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Free blocks of specific persisted RDDs (non-blocking)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        handle = jmap.get(int(i))
        if handle is not None:
            handle.unpersist(False)


@contextmanager
def pinned(spark: SparkSession):
    """Own every checkpoint :func:`scoped_checkpoint` pins on this
    thread until exit, then free exactly those ids. Yields the owned
    id set."""
    ids: set[int] = set()
    token = _SCOPE.set(ids)
    try:
        yield ids
    finally:
        _SCOPE.reset(token)
        unpersist_rdd_ids(spark, ids)


def hand_off(spark: SparkSession, ids: set[int]) -> None:
    """Give checkpoint ids to the current owner: the innermost scope
    open on this thread, else the tracker."""
    scope = _SCOPE.get()
    if scope is not None:
        scope |= ids
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        handle = jmap.get(int(i))
        if handle is not None:
            _CHECKPOINT_HANDLES.append(handle)


def _direct_checkpoint_rdd_id(df: DataFrame) -> int | None:
    """Exact block attribution for a just-localCheckpoint'ed frame: the
    Dataset analyzes to ``LogicalRDD`` over the materialized (and
    persisted) RDD, whose id owns the checkpoint blocks. Returns None
    if the plan shape is ever not LogicalRDD (a Spark behavior change)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return int(plan.rdd().id())
    except Exception:  # py4j surface moved — treat as not-attributable
        pass
    return None


def scoped_checkpoint(df: DataFrame, ids: set[int] | None = None) -> DataFrame:
    """``localCheckpoint()`` whose blocks go to the current owner (see
    the module rule), or to ``ids`` in a round loop. A call whose id
    cannot be read off the plan leaves its blocks pinned until session
    end: leaking one RDD is safe, freeing a guessed one is not."""
    out = df.localCheckpoint()
    rid = _direct_checkpoint_rdd_id(out)
    if rid is not None:
        if ids is not None:
            ids.add(rid)
        else:
            hand_off(out.sparkSession, {rid})
    return out


def free_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a frame :func:`scoped_checkpoint` returned,
    ahead of their owner. Only for a caller that knows no consumer
    reads ``df`` any more; the owner's later free is a no-op."""
    rid = _direct_checkpoint_rdd_id(df)
    if rid is not None:
        unpersist_rdd_ids(df.sparkSession, {rid})


def release() -> int:
    """Unpersist everything tracked; returns the number of handles freed."""
    n = 0
    while _CACHED:
        df = _CACHED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    while _CHECKPOINT_HANDLES:
        handle = _CHECKPOINT_HANDLES.pop()
        try:
            handle.unpersist(False)
            n += 1
        except Exception:
            pass
    return n
