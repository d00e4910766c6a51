"""Executor-storage hygiene for eager localCheckpoints (VERDICT r5
item 5): iteration loops must not accumulate superseded checkpoint
RDDs, and the harness sweep must return storage to baseline.

The "done" criterion from the verdict — executor storage returns to
baseline after each headline query in a single-session sweep — is
asserted directly on pinned-RDD counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordcounting_spark.checkpoints import (
    n_pinned,
    release,
    release_all_pinned,
)


def test_release_frees_superseded_loop_steps(spark):
    release_all_pinned(spark)
    base = n_pinned(spark)
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    for _ in range(6):
        step = df.select("id", (F.col("v") + 1).alias("v")) \
            .localCheckpoint(eager=True)
        release(df)  # the seed reads no checkpoint: a no-op the 1st time
        df = step
    # only the LATEST step may be pinned, never the 6-step history
    assert n_pinned(spark) - base <= 1
    assert df.agg(F.sum("v")).collect()[0][0] == 100 * 6 + 99 * 100
    assert release(df) == 1
    assert n_pinned(spark) == base


def test_release_frees_exactly_what_a_derived_plan_reads(spark):
    release_all_pinned(spark)
    a = spark.range(10).localCheckpoint(eager=True)
    b = spark.range(5).localCheckpoint(eager=True)
    c = spark.range(3).localCheckpoint(eager=True)
    derived = (a.join(b, "id").alias("x")
               .join(a.alias("y"), "id"))  # a self-join alias shares a's RDD
    assert n_pinned(spark) == 3
    assert release(derived) == 2
    assert n_pinned(spark) == 1
    assert c.count() == 3  # the checkpoint the plan does not read survives
    assert release(derived) == 0  # released RDDs are no longer pinned
    release_all_pinned(spark)


def test_pagerank_loop_pins_only_final_snapshot(spark, sf_dir):
    from mapreducewordcounting_spark.operators.iterative import (
        pagerank_nation_trade,
    )

    release_all_pinned(spark)
    base = n_pinned(spark)
    df = pagerank_nation_trade(spark, sf_dir)
    # 10 iterations ran; at most the final rank snapshot stays pinned
    # (the e_norm scratch and the 9 superseded snapshots are gone)
    assert n_pinned(spark) - base <= 1
    rows = df.collect()  # the surviving snapshot must still be readable
    assert len(rows) > 0
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-6
    release_all_pinned(spark)
    assert n_pinned(spark) == base


def test_dedup_clusters_loop_pins_only_final_snapshot(spark, sf_dir):
    from mapreducewordcounting_spark.operators.dedup import dedup_clusters

    release_all_pinned(spark)
    base = n_pinned(spark)
    df = dedup_clusters(spark, sf_dir)
    assert n_pinned(spark) - base <= 1
    assert df.count() >= 0  # surviving snapshot readable end-to-end
    release_all_pinned(spark)
    assert n_pinned(spark) == base


def test_harness_sweep_returns_storage_to_baseline(spark, sf_dir):
    """The bench/verify_full between-query sweep: run checkpoint-heavy
    operators back to back, sweep after each, and storage is at
    baseline every time. Each operator must pin something before the
    sweep, or the sweep is not exercised."""
    from mapreducewordcounting_spark.operators.dedup import dedup_clusters
    from mapreducewordcounting_spark.operators.text_analysis import text_tfidf

    release_all_pinned(spark)
    for fn in (dedup_clusters, text_tfidf):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        assert n_pinned(spark) >= 1, fn.__name__
        release_all_pinned(spark)
        assert n_pinned(spark) == 0
