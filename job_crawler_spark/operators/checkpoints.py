"""localCheckpoint lifecycle helpers that ACTUALLY free block storage.

``Dataset.unpersist()`` does NOT release localCheckpoint blocks: the
checkpoint RDD is persisted directly (outside the CacheManager that
Dataset.unpersist consults), so the call silently no-ops and the blocks
survive until the ContextCleaner eventually GCs the RDD — verified
empirically on PySpark 4.1.2 (getRDDStorageInfo unchanged after
``df.localCheckpoint(eager=True); df.unpersist(True)``). Iterative
operators that checkpoint per round would therefore accumulate one block
set per iteration no matter how diligently they "unpersist".

The working mechanism: diff SparkContext.getPersistentRDDs around the
checkpoint call to learn which RDD ids the checkpoint persisted, remember
them on the returned DataFrame, and release by unpersisting those
UNDERLYING RDDs. Single-threaded drivers only (the id diff would swallow a
concurrent persist from another thread) — true of every caller in this
repo.

Builders whose RESULT still depends on checkpoint blocks at return time
(the blocks must outlive the lazy result) attach the tracked frames as
``result._graft_checkpoints``; consumers call :func:`release_checkpoints`
AFTER consuming the result. localCheckpoint truncates lineage, so released
blocks are unrecoverable — never release before the last action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _persistent_ids(spark) -> set[int]:
    ids: set[int] = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(int(it.next()._1()))
    return ids


def tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``df.localCheckpoint()`` that records the persisted RDD ids on
    the returned frame (``._graft_ckpt_rdds``) so :func:`release` can free
    them. Eager because a lazy checkpoint only persists at first action,
    which would leave the diff empty and release a no-op."""
    spark = df.sparkSession
    before = _persistent_ids(spark)
    ck = df.localCheckpoint(eager=True)
    ck._graft_ckpt_rdds = _persistent_ids(spark) - before
    return ck


def tracked_persist(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cache ``df`` (Dataset default MEMORY_AND_DISK) under the same
    release contract as :func:`tracked_local_checkpoint`.

    Why a second mechanism: PySpark's ``localCheckpoint`` yields a
    ``LogicalRDD`` with ``UnknownPartitioning`` — a downstream join on the
    checkpointed frame's repartition key re-exchanges it every time. A
    cached ``InMemoryRelation`` instead PRESERVES the child plan's output
    partitioning and ordering (verified on 4.1.2: joining a persisted
    ``repartition(k).sortWithinPartitions(k)`` frame on ``k`` plans no
    Exchange and no Sort above the InMemoryTableScan). Iterative
    operators that need a frame to stay co-partitioned across iterations
    (PageRank's edge frame) want THIS; use ``tracked_local_checkpoint``
    when the goal is lineage truncation.

    With ``eager`` the cache is materialized immediately (one count), so
    iteration timing is not polluted by a lazy first-build."""
    ck = df.persist()
    if eager:
        ck.count()
    ck._graft_cached = True
    return ck


def release(*frames: DataFrame) -> None:
    """Free the storage of frames built by :func:`tracked_local_checkpoint`
    (underlying-RDD unpersist, non-blocking — Dataset.unpersist is a
    placebo there) or :func:`tracked_persist` (Dataset.unpersist, blocking
    so storage-accounting tests observe the release synchronously). Frames
    without tracking info (or whose blocks are already gone) are skipped."""
    for frame in frames:
        if getattr(frame, "_graft_cached", False):
            frame.unpersist(True)
            frame._graft_cached = False
            continue
        ids = getattr(frame, "_graft_ckpt_rdds", None)
        if not ids:
            continue
        jmap = frame.sparkSession.sparkContext._jsc.sc().getPersistentRDDs()
        it = jmap.iterator()
        while it.hasNext():
            kv = it.next()
            if int(kv._1()) in ids:
                kv._2().unpersist(False)
        frame._graft_ckpt_rdds = set()


def release_checkpoints(df: DataFrame) -> None:
    """Release every tracked checkpoint a query builder attached to its
    result (``_graft_checkpoints``). Call AFTER the result is consumed —
    the blocks back the result's lineage until then."""
    release(*getattr(df, "_graft_checkpoints", []))
