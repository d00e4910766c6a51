"""The one timing protocol and the one cost reader for bench.py, the
tools and the tests.

    python tools/measure.py ledger [NAME ...]
    python tools/measure.py probe

``measure`` is the protocol: one untimed warmup of the query at
``WARM_SF_DIR`` (sf0.001: absorbs its codegen compilation, UDF-worker
start and any family-specific first-use cost), then ``runs`` timed
materializations at the measured dir through the noop sink (forces
every operator to execute; nothing short-circuits the way count()
can). The query's local checkpoints are released after the warmup and
after every run, so executor storage returns to baseline between
samples, and every job carries a description naming its run. The
recorded number is the median: a single run occasionally absorbs a
transient (GC pause, OS scheduling) that the median discards.
``warm_session`` is the one-time JVM + Python-worker warmup a
multi-query sweep runs first.

``cost`` is the reader: ``with cost(spark) as row:`` runs its body
under a fresh job group and fills ``row`` with exact counts that host
load cannot move — Spark jobs (the dataflow's rounds), SQL executions,
plan-graph operators (exchanges, joins, Python-eval nodes) and plan
expressions (HOF folds, hash calls, raise_error, Python UDF calls) in
the executed (final) plan.
Stages, tasks and shuffle bytes are left out: they vary with core
count and run order, and the status store evicts skipped stages.

Subcommands:

* ``ledger``: the per-query cost ledger, ``tools/ledger.json``
  (``{query: row}``). Loads every table once at ``LEDGER_SF_DIR``
  (first loads infer schemas, a job the queries then never run), then
  per query: build, ``collect()``, record the row, release its pinned
  checkpoints, and print the fields that changed against the committed
  row (``dedup_simhash_det: jobs 5→3, exchanges 2→1``). With names,
  only those rows are re-recorded.
  ``tests/test_registry_oracle.py`` asserts every row exactly, so a
  ledger update is a reviewed diff, like a plan change.
* ``probe``: is the host clean right now? Times only the two bench
  controls plus a 5 s /proc/stat CPU-steal sample, in under a minute,
  and exits 0 only when both controls read <= CLEAN_RATIO x their
  pins. Writes no artifact.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
import uuid
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mapreducewordcounting_spark.checkpoints import (  # noqa: E402
    release_all_pinned,
)
from tools.plan_audit import _MARKS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: tiny fixture for per-query untimed warmups (codegen/JIT, not data)
WARM_SF_DIR = os.environ.get("SPARK_GRAFT_WARM_SF_DIR",
                             "/root/testdata/sf0.001")
#: the probe's clean-window bar, stricter than bench.CONTROL_SLACK
CLEAN_RATIO = 1.3
#: where the ledger's rows are recorded and asserted
LEDGER_SF_DIR = "/root/testdata/sf0.001"
LEDGER_PATH = os.path.join(REPO, "tools", "ledger.json")

#: plan-graph node name -> row field: tools/plan_audit.py's names, plus
#: the broadcast exchanges that its "Exchange" substring count folds in
OPERATORS = {"BroadcastExchange": "broadcast_exchanges", **{
    _MARKS[field].rstrip("("): field for field in (
        "exchanges", "broadcast_hash_joins", "sort_merge_joins",
        "shuffled_hash_joins", "bnl_joins", "cartesian_products",
        "arrow_python", "row_python_udf", "pandas_map",
        "pandas_group_map", "pandas_cogroup")}}
#: row field -> expression counted in each physical plan description
EXPRESSIONS = {
    "hof_aggregate": re.compile(r"\baggregate\("),
    "hash_calls": re.compile(r"\b(?:md5|sha1|sha2|xxhash64)\("),
    "raise_error": re.compile(r"\braise_error\("),
}
#: a Python UDF's result attribute; counted once per distinct call
_PYTHON_UDF = re.compile(r"\bpythonUDF\d+#\d+")
#: an adaptive plan's final or initial operator tree, up to the next
#: section header or the blank line that ends the tree
_PLAN_TREE = re.compile(
    r"== (Final|Initial) Plan ==\n(.*?)(?=\n\+- == |\n\n|\Z)", re.S)
_NODE_ID = re.compile(r"\((\d+)\)")
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_session(spark) -> None:
    """One-time JVM + Python-worker warmup: the first query of a sweep
    would otherwise absorb JVM class loading and, for the first
    pandas-UDF query, the fork + ``import pandas`` of every Python
    daemon worker (seconds on a contended host) — startup cost, not
    query cost."""
    from mapreducewordcounting_spark import registry

    materialize(registry.queries()["wordcount_canonical"](spark, WARM_SF_DIR))

    def _warm(it):
        for pdf in it:
            yield pdf

    materialize(
        spark.range(32, numPartitions=32).mapInPandas(_warm, "id long"))


def measure(spark, query_fn, sf_dir: str, runs: int = 3,
            tag: str = "measure") -> tuple[float, list[float]]:
    """Time ``query_fn(spark, sf_dir)`` under the module's protocol;
    return ``(median, samples)`` in seconds, rounded to milliseconds."""
    sc = spark.sparkContext
    samples: list[float] = []
    try:
        sc.setJobDescription(f"{tag} warmup")
        materialize(query_fn(spark, WARM_SF_DIR))
        for i in range(runs):
            release_all_pinned(spark)
            sc.setJobDescription(
                f"{tag} @ {os.path.basename(sf_dir)} run {i}")
            t0 = time.perf_counter()
            materialize(query_fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
    finally:
        release_all_pinned(spark)
        sc.setJobDescription(None)
    return round(statistics.median(samples), 3), samples


def final_plan(description: str) -> str:
    """A formatted physical plan description without the node details
    that only its ``== Initial Plan ==`` lists. An adaptive plan lists
    a pipeline's details in both plans, and in the initial plan once
    per side of a join that the final plan reads as a reused exchange,
    so counting the whole text counts one pipeline up to three times.
    A plan with no final section is returned whole."""
    trees = {"Final": set(), "Initial": set()}
    for kind, tree in _PLAN_TREE.findall(description):
        trees[kind].update(_NODE_ID.findall(tree))
    initial_only = trees["Initial"] - trees["Final"]
    blocks = re.split(r"\n(?=\(\d+\) )", description)
    return "\n".join(b for b in blocks
                     if not (m := _NODE_ID.match(b))
                     or m.group(1) not in initial_only)


def expression_counts(description: str) -> dict[str, int]:
    """The row's expression fields, read from the final plan only."""
    plan = final_plan(description)
    counts = {field: len(pattern.findall(plan))
              for field, pattern in EXPRESSIONS.items()}
    counts["python_udf_calls"] = len(set(_PYTHON_UDF.findall(plan)))
    return counts


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


@contextmanager
def cost(spark, label: str = "cost"):
    """Run the body under a fresh job group; on a clean exit fill the
    yielded dict with the exact cost of everything it ran (see the
    module docstring). The caller's job group and description are
    restored."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    group = f"cost-{uuid.uuid4().hex}"
    saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    bus.waitUntilEmpty()
    first = _last_execution_id(store) + 1
    row: dict[str, int] = {}
    sc.setJobGroup(group, label)
    try:
        yield row
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    # the status store is fed asynchronously by the listener bus
    bus.waitUntilEmpty()
    executions = range(first, _last_execution_id(store) + 1)
    row.update(jobs=len(sc.statusTracker().getJobIdsForGroup(group)),
               sql_executions=len(executions))
    row.update(dict.fromkeys(sorted(OPERATORS.values()), 0))
    row.update(dict.fromkeys(EXPRESSIONS, 0), python_udf_calls=0)
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    for eid in executions:
        for node in as_java(store.planGraph(eid).allNodes()):
            field = OPERATORS.get(node.name())
            if field:
                row[field] += 1
        counts = expression_counts(
            store.execution(eid).get().physicalPlanDescription())
        for field, n in counts.items():
            row[field] += n


def warm_tables(spark, sf_dir: str) -> None:
    """Load every catalog table once: a table's first load in a session
    infers its schema with a Spark job, which later loads skip."""
    from mapreducewordcounting_spark.catalog import TABLES, load_table

    for table in TABLES:
        load_table(spark, sf_dir, table)


def row_delta(old: dict | None, new: dict) -> str:
    """The fields of ``new`` that differ from the committed ``old`` row,
    as ``jobs 5→3, exchanges 2→1``."""
    if old is None:
        return f"new row, {new['jobs']} jobs"
    fields = [*new, *(k for k in old if k not in new)]
    return ", ".join(f"{k} {old.get(k)}→{new.get(k)}" for k in fields
                     if old.get(k) != new.get(k)) or "unchanged"


def ledger(spark, names: list[str]) -> int:
    from mapreducewordcounting_spark.registry import all_queries

    specs = all_queries()
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    with open(LEDGER_PATH) as f:
        committed: dict[str, dict] = json.load(f)
    rows = dict(committed) if names else {}
    warm_tables(spark, LEDGER_SF_DIR)
    for name in names or specs:
        with cost(spark, f"ledger {name}") as row:
            specs[name].fn(spark, LEDGER_SF_DIR).collect()
        release_all_pinned(spark)
        rows[name] = row
        print(f"{name}: {row_delta(committed.get(name), row)}",
              file=sys.stderr, flush=True)
    with open(LEDGER_PATH, "w") as f:  # one line per query: diffs by query
        f.write("{\n" + ",\n".join(
            f" {json.dumps(name)}: {json.dumps(row)}"
            for name, row in sorted(rows.items())) + "\n}\n")
    print(json.dumps({"ledger": len(names or specs),
                      "jobs": sum(r["jobs"] for r in rows.values()),
                      "file": LEDGER_PATH}))
    return 0


def cpu_steal_pct(seconds: float = 5.0) -> float | None:
    """Percent of CPU time stolen by the hypervisor over a sample."""
    def snap() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    try:
        a = snap()
        time.sleep(seconds)
        b = snap()
    except (OSError, ValueError):
        return None
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return round(100.0 * d[7] / tot, 1) if tot and len(d) > 7 else None


def probe(spark) -> int:
    import bench
    from mapreducewordcounting_spark import registry

    qs = registry.queries()
    timings = {name: measure(spark, qs[name], SF_DIR, tag=f"probe {name}")[0]
               for name in (bench.CONTROL_QUERY, bench.CONTROL2_QUERY)}
    adj = bench.control_adjudication(timings)
    controls = {b["query"]: {"median": b["seconds"], "pin": b["pin"],
                             "ratio": b["ratio"]}
                for b in (adj["control"], adj["control2"])}
    clean = all(c["ratio"] is not None and c["ratio"] <= CLEAN_RATIO
                for c in controls.values())
    print(json.dumps({"ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
                      "controls": controls,
                      "cpu_steal_pct": cpu_steal_pct(),
                      "clean_window": clean}))
    return 0 if clean else 1


def main(argv: list[str]) -> int:
    cmd, names = (argv[0] if argv else None), argv[1:]
    if not ((cmd == "probe" and not names) or cmd == "ledger"):
        print("usage: python tools/measure.py ledger [NAME ...]\n"
              "       python tools/measure.py probe")
        return 2
    from mapreducewordcounting_spark.session import get_spark

    spark = get_spark(app_name=f"mrwc-measure-{cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return probe(spark) if cmd == "probe" else ledger(spark, names)
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
