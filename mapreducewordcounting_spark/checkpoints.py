"""Executor-storage hygiene for eager localCheckpoints (VERDICT r5
item 5).

``df.localCheckpoint(eager=True)`` pins the materialized blocks in
executor storage until the RDD is unpersisted — and because a local
checkpoint TRUNCATES lineage, those blocks are unrecoverable once
dropped, so an operator must never unpersist a checkpoint its returned
DataFrame still reads.

One rule: **an operator returns with nothing pinned that its result
does not read.** :func:`release` frees what a DataFrame's plan reads,
so a loop calls ``release(prev)`` once the next step's checkpoint
exists, and a one-shot table is released once its successor is
materialized. What the returned plan does read stays pinned until
Spark's ContextCleaner frees it once the DataFrame is GC'd, or until
:func:`release_all_pinned`, the harness sweep between queries, frees
the rest (safe there because every query call builds its DataFrames
fresh).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_LOGICAL_RDD = "org.apache.spark.sql.execution.LogicalRDD"


def pinned(spark: SparkSession) -> dict[int, object]:
    """Currently persisted RDDs: {rdd_id: JavaRDD}.
    ``getPersistentRDDs`` returns an immutable copy, so iterating it
    while unpersisting is safe."""
    out: dict[int, object] = {}
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        out[e.getKey()] = e.getValue()
    return out


def n_pinned(spark: SparkSession) -> int:
    """Number of RDDs currently pinned in executor storage."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def checkpoints_read(*dfs: DataFrame) -> dict[int, object]:
    """The pinned local checkpoints the given DataFrames' logical plans
    read: {rdd_id: RDD}. Each is a ``LogicalRDD`` leaf whose ``rdd()``
    is the RDD ``localCheckpoint`` pinned (self-join aliases share it);
    unpinned ``LogicalRDD`` leaves (``createDataFrame`` over driver
    rows, a released checkpoint) are skipped."""
    out: dict[int, object] = {}
    for df in dfs:
        it = df._jdf.logicalPlan().collectLeaves().iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getName() == _LOGICAL_RDD:
                rdd = leaf.rdd()
                if rdd.getStorageLevel().isValid():
                    out[rdd.id()] = rdd
    return out


def release(*dfs: DataFrame) -> int:
    """Unpersist (non-blocking) every local checkpoint the given
    DataFrames read and return how many. Call it only once nothing
    still needed reads them: a DataFrame that does becomes unreadable."""
    rdds = checkpoints_read(*dfs)
    for rdd in rdds.values():
        rdd.unpersist(False)
    return len(rdds)


def release_all_pinned(spark: SparkSession) -> int:
    """Unpersist EVERY pinned RDD (non-blocking) and return how many
    were dropped. Harness-level sweep between queries — never call
    while a DataFrame you still need reads a local checkpoint."""
    rdds = pinned(spark)
    for rdd in rdds.values():
        rdd.unpersist(False)
    return len(rdds)
