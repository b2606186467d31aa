"""Storage-lifecycle tracking for intra-query persisted intermediates.

Several queries persist an intermediate that the rest of their (lazy)
plan consumes more than once — the basket pair-join, the shared (doc,
term) build, the sketch frequency tables. `DataFrame.persist` alone
leaks: the blocks stay in storage memory after the query's consumer has
finished, and a long-lived session running the whole 50-entry registry
accumulates every query's scratch (VERDICT r4 task #3).

Discipline implemented here:

- :func:`scratch` replaces bare ``persist()`` at those sites and tracks
  the handle.
- Every registry query fn (plans/registry.py wraps them) calls
  :func:`release` ON ENTRY — by then the previous query's result has
  been consumed (the driver, bench.py and selfcheck.py all consume each
  query before building the next), so its scratch is dead weight. This
  bounds live scratch to ONE query's intermediates instead of all 50.
- A final explicit :func:`release` (tests, long-lived sessions) empties
  storage completely.

Released *cached* DataFrames are safe under any consumption order: a
stale result that still references one simply recomputes. Released
*localCheckpoint* blocks (tracked via :func:`track_checkpoint_ids`) are
NOT recomputable — lineage was truncated — so results of
checkpoint-backed queries (star-CC clustering, long kernel trainings)
must be consumed before the next registry query starts; that is the
documented contract of the driver harness and of every runner in this
repo.

Checkpoint block attribution is per-call and lock-free (r15: the id is
read directly off the checkpointed Dataset's LogicalRDD plan), so
queries may materialize checkpoints from several driver threads at once
— which concurrent foreachBatch sinks do, and so do the §2.6 intra-query
overlaps: independent branches built on driver threads through the one
helper :func:`operators._util.overlap`, at the sites where the overlap
measured faster at 4 cores.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_CACHED: list[DataFrame] = []
_CHECKPOINT_HANDLES: list[Any] = []  # py4j JavaRDD handles


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


def track_checkpoint_ids(spark: SparkSession, ids: set[int]) -> None:
    """Track specific checkpoint RDD ids (e.g. a loop's surviving final
    round) for release at the next registry-query entry."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        handle = jmap.get(int(i))
        if handle is not None:
            _CHECKPOINT_HANDLES.append(handle)


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` with scratch discipline: the checkpoint's
    persisted RDD blocks are tracked for :func:`release` instead of
    lingering until driver GC (ADVICE r8: ivf_search's untracked probe
    checkpoint accumulated blocks across serving calls). Same
    non-recomputability contract as any tracked checkpoint — consume
    the result before releasing."""
    spark = df.sparkSession
    ids: set[int] = set()
    out = scoped_checkpoint(df, ids)
    track_checkpoint_ids(spark, ids)
    return out


def _direct_checkpoint_rdd_id(df: DataFrame) -> int | None:
    """Exact block attribution for a just-localCheckpoint'ed frame: the
    Dataset analyzes to ``LogicalRDD`` over the materialized (and
    persisted) RDD, whose id owns the checkpoint blocks — read it off
    the plan instead of diffing the session-global persisted-RDD set.
    Returns None if the plan shape is ever not LogicalRDD (a Spark
    behavior change), so the caller can fall back."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return int(plan.rdd().id())
    except Exception:  # py4j surface moved — treat as not-attributable
        pass
    return None


def scoped_checkpoint(df: DataFrame, ids: set[int]) -> DataFrame:
    """``localCheckpoint()`` whose persisted RDD ids are attributed to
    THIS call and added to ``ids`` — the caller frees exactly those at
    its own consumption barrier (``unpersist_rdd_ids``) or hands them to
    :func:`track_checkpoint_ids`.

    Attribution must be EXACT under driver concurrency: two foreachBatch
    sinks sharing one SparkSession (dedup + semantic streams — a normal
    serving deployment) interleave on driver threads, and a global
    before/after diff in sink A claims and frees sink B's
    concurrently-pinned checkpoint blocks; localCheckpoint lineage is
    truncated, so B's decisions write then fails on missing blocks (r9
    review). r15: exactness comes from reading the checkpointed RDD's id
    directly off the returned Dataset's LogicalRDD plan
    (:func:`_direct_checkpoint_rdd_id`) — no global diff, so concurrent
    checkpoint MATERIALIZATIONS don't serialize on a module lock. r16
    (ADVICE r15): a probe failure no longer flips a process-global into
    a locked diff-mode fallback — mixed-mode attribution could claim a
    concurrent direct-mode thread's blocks, the exact r9 bug class.
    Instead, THAT call's blocks simply stay pinned until session end
    (leaking one RDD is safe; freeing a guessed one is not), and the
    next call probes again."""
    out = df.localCheckpoint()
    rid = _direct_checkpoint_rdd_id(out)
    if rid is not None:
        ids.add(rid)
    return out


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
