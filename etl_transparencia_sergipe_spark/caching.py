"""Persist-lifetime policy for multi-branch plan intermediates.

Several operators persist an intermediate frame because it feeds two or
more branches of the same plan (both sides of an LSH band self-join, a
centroid frame probed per query row, ...). Those frames CANNOT be
unpersisted inside the query builder: builders return a lazy DataFrame,
and the persisted subtree must stay cached until the *caller*
materializes the result.

Policy (single place, referenced by every call site):

- Query builders persist via :func:`persist_scoped` only — never call
  ``DataFrame.persist`` directly in plan code.
- Lifetime is bounded by the HARNESS, not the builder: every long-lived
  runner (``tools/check_correctness.py:81``, ``bench.py``) calls
  ``spark.catalog.clearCache()`` after materializing each query, so
  cached intermediates never accumulate across queries.
- Ad-hoc callers holding a session open across many registry runs should
  do the same, or call :func:`release_all`.

The default level is MEMORY_AND_DISK: at 100 TB an intermediate that
outgrows executor memory must spill, not OOM — and production pipelines
would write these frames (e.g. the q81 signature store) rather than
cache them at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def persist_scoped(df: DataFrame,
                   level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                   ) -> DataFrame:
    """Persist a multi-branch plan intermediate under the module policy.

    See the module docstring: the frame stays cached until the harness
    materializes the query and clears the session cache.
    """
    return df.persist(level)


# the settle loop's cap: past it the next query runs on whatever is free
_RECLAIM_MAX_WAIT_S = 60.0


def reclaim_disk(spark: SparkSession, floor_free_gib: float) -> None:
    """Drive dead shuffle files to actual DELETION before the next query
    writes (round-11, diagnosed by the sf10 ENOSPC sweep; bench.py runs
    it between queries since round 12, when it hit the same ENOSPC on
    the sf10 heavy tier): shuffle cleanup is a four-stage relay — Python
    refs dropped (cycles need an explicit gc.collect(); py4j detach only
    runs from __del__) -> JVM GC collects the detached Datasets, making
    their AQE-materialized ShuffleDependencies weakly reachable ->
    ContextCleaner's reference queue drains -> ASYNC file deletion. A
    single System.gc() hint with no settle time loses the race against
    the next query's writes, and the backlog compounds across a long
    tier (measured: 42 GiB of shuffle ids 29-492 still on disk
    mid-sweep, flat across boundaries).

    One GC hint and an immediate disk check: identical to a single
    System.gc() when disk is healthy. While free disk stays under
    ``floor_free_gib`` it keeps nudging, 3 s apart, for at most 8 hints
    or ``_RECLAIM_MAX_WAIT_S``. Boundary time is not query time.
    """
    import gc
    import shutil
    import time as _t

    gc.collect()
    deadline = _t.time() + _RECLAIM_MAX_WAIT_S
    for _ in range(8):
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — py4j teardown races
            return
        try:
            free_gib = shutil.disk_usage("/tmp").free / 2**30
        except OSError:
            return
        if free_gib >= floor_free_gib or _t.time() > deadline:
            return
        _t.sleep(3.0)


def release_all(spark: SparkSession) -> None:
    """Drop every cached frame in the session (harness-level bound)."""
    spark.catalog.clearCache()
    release_persistent_rdds(spark)


def release_persistent_rdds(spark: SparkSession) -> None:
    """Drop ALL block-manager RDD state — including localCheckpoint data.

    ``catalog.clearCache()`` only covers plan-level caches; the blocks
    behind ``localCheckpoint`` (lineage truncation in the iterative
    operators) are plain persisted RDDs that the ContextCleaner reclaims
    only after a DRIVER GC drops their handles — minutes on a 24g heap.
    Measured on the bench protocol at sf0.1: q39 in a session that had
    just run q31+q38 took 17.4 s cold / 11 s warm vs
    6.0 / 4.7 s in a fresh session, and an explicit System.gc() between
    runs made warm runs SLOWER (the async cleanup storm lands inside the
    timed window). Deterministic release between queries is both the
    honest bench posture (each query measured against an empty block
    manager, same as the fresh-session number) and the production one
    (a multi-tenant driver should not let one query's truncation blocks
    evict another's working set).
    """
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark))


def checkpoint_rdd_id(df: DataFrame) -> int:
    """The block-manager RDD id persisted by a ``checkpoint()`` /
    ``localCheckpoint()`` result — read DIRECTLY off the returned
    Dataset, never inferred from session-global state.

    A checkpointed Dataset's analyzed plan is exactly one ``LogicalRDD``
    node wrapping the internal RDD the checkpoint persisted (lazy
    checkpoints register that persist at BUILD time, before any action),
    so its case-class accessor gives the precise id. This replaces the
    round-8..10 before/after ``getPersistentRDDs`` snapshot diffing in
    the iterative operators (components.py, bpe.py), which read
    SESSION-GLOBAL state: a concurrent query's cache or checkpoint
    registering inside a snapshot window landed in the caller's
    ``created`` set and was unpersisted a round later while still live —
    and a localCheckpoint has no lineage to recompute from, so the
    concurrent job FAILED, not slowed (round-9 ADVICE; the round-10
    edge-cache eviction bug was the same window-pollution class).
    Tracking the exact id makes eviction immune to anything else the
    session does concurrently (tests/test_caching_concurrent.py).

    Raises ``ValueError`` if ``df`` is not a checkpoint result — eviction
    must never guess.
    """
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError(
            f"checkpoint_rdd_id expects a checkpoint()/localCheckpoint() "
            f"result (LogicalRDD plan), got {plan.getClass().getName()}")
    return int(plan.rdd().id())


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently registered with the block manager —
    plan-level caches AND localCheckpoint data. Session-global: used only
    for whole-session release (:func:`release_persistent_rdds`); per-
    checkpoint eviction tracks exact ids via :func:`checkpoint_rdd_id`
    instead."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Drop block-manager state for the given RDD ids (non-blocking).

    Used by the iterative operators (components.py, bpe.py) to free a
    superseded round's localCheckpoint the moment its successor
    materializes — bounding an iteration's executor-storage footprint
    at ~2x one working frame for ANY round count. On a 1000-executor
    cluster the same mechanism keeps a 50-round job from pinning 50
    copies of a corpus-sized intermediate.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)
