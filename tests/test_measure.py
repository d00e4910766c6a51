"""tools/measure.py: the one timing protocol bench.py and the tools
share — warm once at WARM_SF_DIR, then time each run at the measured
dir, releasing every pinned checkpoint on the way out."""

from __future__ import annotations

import statistics

from mapreducewordcounting_spark.checkpoints import n_pinned
from tools.measure import WARM_SF_DIR, measure


def test_measure_warms_then_times_and_releases(spark):
    calls: list[str] = []

    def query_fn(spark, sf_dir):
        calls.append(sf_dir)
        # pins a local checkpoint, as the eager-checkpoint queries do
        return spark.range(10).localCheckpoint(eager=True)

    med, samples = measure(spark, query_fn, "/measured/sf", runs=3,
                           tag="test_measure")
    assert calls == [WARM_SF_DIR] + ["/measured/sf"] * 3
    assert len(samples) == 3
    assert med == round(statistics.median(samples), 3)
    assert n_pinned(spark) == 0
    assert spark.sparkContext.getLocalProperty("spark.job.description") \
        is None
