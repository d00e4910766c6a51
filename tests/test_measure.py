"""tools/measure.py: the one timing protocol bench.py and the tools
share — warm once at WARM_SF_DIR, then time each run at the measured
dir, releasing every pinned checkpoint on the way out — and the one
cost reader; bench_scale's decade ratios."""

from __future__ import annotations

import statistics

from mapreducewordcounting_spark.checkpoints import (
    n_pinned,
    release_all_pinned,
)
from tools.bench_scale import decade_ratios
from tools.measure import WARM_SF_DIR, measure, row_delta


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


def test_cost_counts_jobs_executions_and_plan_nodes(spark):
    """One collect of a one-exchange aggregate: one SQL execution, its
    exchange and its hash call counted, and the caller's job group
    restored."""
    from pyspark.sql import functions as F

    from tools.measure import EXPRESSIONS, OPERATORS, cost

    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller's group")
    try:
        with cost(spark) as row:
            (spark.range(100, numPartitions=2)
             .groupBy((F.col("id") % 3).alias("k"))
             .agg(F.max(F.md5(F.col("id").cast("string"))))
             .collect())
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert set(row) == {"jobs", "sql_executions", "scans",
                        "python_udf_calls", "array_shuffle_inputs",
                        *OPERATORS.values(), *EXPRESSIONS}
    assert row["jobs"] >= 1
    assert row["sql_executions"] == 1
    assert row["exchanges"] == 1
    assert row["hash_calls"] >= 1
    assert row["sort_merge_joins"] == row["python_udf_calls"] == 0



def test_cost_reads_checkpoint_builds(spark, tmp_path):
    """A checkpoint build that scans a parquet file and shuffles an
    array column: the row counts both, though the returned plan reads
    the checkpoint's blocks and shuffles no array."""
    from pyspark.sql import functions as F

    from mapreducewordcounting_spark.plans import exchange_array_columns
    from tools.measure import cost

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    with cost(spark) as row:
        cut = (spark.read.parquet(path)
               .select((F.col("id") % 3).alias("k"),
                       F.array("id").alias("arr"))
               .repartition("k").localCheckpoint(eager=True))
        out = cut.groupBy("k").count()
        out.collect()
    release_all_pinned(spark)
    assert row["sql_executions"] == 2
    assert row["scans"] == 1
    assert row["array_shuffle_inputs"] == 1
    assert exchange_array_columns(out) == [[]]


#: an adaptive self-join's formatted description, cut to its skeleton:
#: the final plan reads the second side as a reused exchange, and the
#: initial plan lists the md5 pipeline once per side
_ADAPTIVE_SELF_JOIN = """== Physical Plan ==
AdaptiveSparkPlan (8)
+- == Final Plan ==
   SortMergeJoin Inner (5)
   :- ShuffleQueryStage (3)
   :  +- Exchange (2)
   :     +- Project (1)
   +- ShuffleQueryStage (4)
      +- ReusedExchange (9)
+- == Initial Plan ==
   SortMergeJoin Inner (7)
   :- Exchange (2)
   :  +- Project (1)
   +- Exchange (6)
      +- Project (10)


(1) Project
Output [2]: [k#1, md5(cast(t#0 as binary)) AS h#2, pythonUDF0#3]

(2) Exchange
Arguments: hashpartitioning(k#1, 4)

(3) ShuffleQueryStage
Output [2]: [k#1, h#2]

(4) ShuffleQueryStage
Output [2]: [k#4, h#5]

(5) SortMergeJoin
Join condition: None

(6) Exchange
Arguments: hashpartitioning(k#4, 4)

(7) SortMergeJoin
Join condition: None

(8) AdaptiveSparkPlan
Arguments: isFinalPlan=true

(9) ReusedExchange [Reuses operator id: 2]
Output [2]: [k#4, h#5]

(10) Project
Output [2]: [k#4, md5(cast(t#6 as binary)) AS h#5, pythonUDF0#7]

"""


def test_expression_counts_read_the_final_plan_only():
    """The initial plan's second md5 pipeline (10) never ran: the final
    plan reuses the first side's exchange. A description with no final
    section (a plan AQE did not wrap) is counted whole."""
    from tools.measure import expression_counts

    assert expression_counts(_ADAPTIVE_SELF_JOIN) == {
        "hof_aggregate": 0, "hash_calls": 1, "raise_error": 0,
        "python_udf_calls": 1}
    plain = (_ADAPTIVE_SELF_JOIN.replace("== Final Plan ==", "")
             .replace("== Initial Plan ==", ""))
    assert expression_counts(plain)["hash_calls"] == 2
    assert expression_counts(plain)["python_udf_calls"] == 2


def test_row_delta_names_changed_fields_in_row_order():
    old = {"jobs": 5, "sql_executions": 1, "exchanges": 2}
    assert row_delta(old, {"jobs": 3, "sql_executions": 1,
                           "exchanges": 1}) == "jobs 5→3, exchanges 2→1"
    assert row_delta(old, dict(old)) == "unchanged"
    assert row_delta(None, old) == "new row, 5 jobs"


def test_decade_ratio_reported_without_sf01():
    results = {"/x/scale_scratch/sf1": {"q": 2.0},
               "/x/scale_scratch/sf10": {"q": 7.0}}
    assert decade_ratios(["q"], results) == {
        "q": {"sf1": 2.0, "sf10": 7.0, "ratio_sf10_vs_sf1": 3.5}}


def test_decade_ratios_per_adjacent_tier_pair():
    results = {"/t/sf0.1": {"q": 1.0, "r": 1.0},
               "/x/sf1": {"q": 3.0},
               "/x/sf10": {"q": 6.0, "r": 5.0}}
    ratios = decade_ratios(["q", "r"], results)
    assert ratios["q"]["ratio_sf1"] == 3.0
    assert ratios["q"]["ratio_sf10_vs_sf1"] == 2.0
    # r has no sf1 sample: neither ratio spans the missing tier
    assert ratios["r"] == {"sf0.1": 1.0, "sf1": None, "sf10": 5.0}


def test_bench_control_adjudication_thresholds():
    """A control above 1.5x its pin tags the run host_contended, one at
    or below it does not, and a missing control timing never raises."""
    import bench

    pin = bench.CONTROL_PINS[bench.CONTROL_QUERY]
    hot = bench.control_adjudication({bench.CONTROL_QUERY: pin * 2.0})
    assert hot["host_contended"] is True
    assert hot["control"]["ratio"] == 2.0
    cool = bench.control_adjudication({bench.CONTROL_QUERY: pin * 1.4})
    assert cool["host_contended"] is False
    absent = bench.control_adjudication({})
    assert absent["host_contended"] is None
    assert absent["control"]["ratio"] is None


def test_control_adjudication_adjudicated_cases():
    import bench

    pin = bench.CONTROL_PINS[bench.CONTROL_QUERY]
    hot = bench.control_adjudication({bench.CONTROL_QUERY: pin * 2.0})
    assert hot["host_contended"] is True
    assert hot["control"]["status"] == "adjudicated"
    assert hot["drift_kind"] == "unclassified"
    cool = bench.control_adjudication({bench.CONTROL_QUERY: pin * 1.0})
    assert cool["host_contended"] is False
    assert cool["control"]["status"] == "adjudicated"


def test_control_adjudication_missing_timing_is_unadjudicated():
    """Without a control timing the run is not adjudicated: it fails
    closed (null), never open (False)."""
    import bench

    out = bench.control_adjudication({})
    assert out["host_contended"] is None
    assert out["control"]["status"] == "unadjudicated"
