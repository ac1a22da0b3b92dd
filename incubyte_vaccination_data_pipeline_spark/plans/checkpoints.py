"""Durable lineage truncation: localCheckpoint locally, reliable
checkpoint on clusters.

Iterative operators (label propagation, Lloyd steps, prefix offsets)
and per-corpus index frames truncate lineage with ``localCheckpoint``
— correct and fast on ``local[*]``, but executor-loss-UNSAFE on a real
cluster: a localCheckpointed RDD stores its only copy in executor
memory/disk, so losing one executor kills every job that reads the
frame (and a shared-cache entry would keep handing out the broken
frame for the rest of the session).  Spark's reliable
``DataFrame.checkpoint`` writes to the fault-tolerant checkpoint dir
instead — same semantics, same analyzed-plan shape (LogicalRDD), no
recompute-on-loss problem.

:func:`durable_checkpoint` picks automatically: if the session has a
checkpoint directory configured (``spark.sparkContext.
setCheckpointDir(...)`` — HDFS/S3/DBFS on a cluster), it uses reliable
``checkpoint``; otherwise ``localCheckpoint``.  A 100 TB deployment
sets the dir once at session build; tests and the single-JVM driver
keep the local path with zero behavior change.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def durable_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint`` when the
    session has a checkpoint dir configured, ``localCheckpoint``
    otherwise.  Identical analyzed-plan shape either way.

    On the reliable path the checkpoint write runs as a SEPARATE job
    from the computation that defined ``df``; without a persist it
    recomputes the full lineage (~2x compute plus the distributed-FS
    write).  An eager checkpoint therefore persists the input for the
    duration of the materialization and unpersists it right after.  A
    lazy checkpoint (``eager=False``) materializes at the caller's
    first action, outside this function's scope, so it persists the
    checkpoint's OWN RDD instead: the first action fills it and the
    write job reads those blocks (one lineage evaluation, measured
    with an accumulator UDF; two without the persist).  An RDD-level
    persist adds no CacheManager entry, so no other plan can have it
    substituted in.  It lives as long as the frame:
    ``shared_cache.release`` frees it (with the checkpoint files), and
    so does the ContextCleaner once the frame is garbage-collected.

    Retention: reliable checkpoint files are NOT removed by
    ``unpersist()``.  ``shared_cache.release`` deletes them at once;
    the session factory (``session.get_spark``) also sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so the
    ContextCleaner deletes the files of any other checkpoint once its
    RDD is garbage-collected (per-iteration loop checkpoints).
    Long-lived deployments that disable the cleaner must sweep the
    checkpoint dir themselves.
    """
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if not has_dir:
        return df.localCheckpoint(eager=eager)
    if not eager:
        out = df.checkpoint(eager=False)
        level = sc._getJavaStorageLevel(StorageLevel.MEMORY_AND_DISK)
        out._jdf.queryExecution().analyzed().rdd().persist(level)
        return out
    already_persisted = df.storageLevel != StorageLevel.NONE
    if not already_persisted:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return df.checkpoint(eager=True)
    finally:
        if not already_persisted:
            df.unpersist()
