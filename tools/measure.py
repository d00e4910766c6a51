"""The one timing protocol for bench.py and the tools.

    python tools/measure.py repin NAME [NAME ...]
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

Subcommands:

* ``repin``: median-of-3 re-pin of rows of the single-sample sweep
  (tools/bench_full.py). The family-peer outlier guard
  (tools/bench_outliers.py) over-reacts to single-sample noise, so a
  flagged row is re-timed and patched in BENCH_FULL_sf01.json in
  place. Re-pinned rows are listed in the artifact's "repinned" map
  (name -> samples), so every number is either the sweep's single
  sample or a recorded median-of-3.
* ``probe``: is the host clean right now? Times only the two bench
  controls plus a 5 s /proc/stat CPU-steal sample, in under a minute,
  and exits 0 only when both controls read <= CLEAN_RATIO x their
  pins. Writes no artifact.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mapreducewordcounting_spark.checkpoints import (  # noqa: E402
    release_all_pinned,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: tiny fixture for per-query untimed warmups (codegen/JIT, not data)
WARM_SF_DIR = os.environ.get("SPARK_GRAFT_WARM_SF_DIR",
                             "/root/testdata/sf0.001")
#: the probe's clean-window bar, stricter than bench.CONTROL_SLACK
CLEAN_RATIO = 1.3


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


def repin(spark, names: list[str]) -> int:
    from mapreducewordcounting_spark import registry

    qs = registry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    path = os.path.join(REPO, "BENCH_FULL_sf01.json")
    with open(path) as f:
        bench = json.load(f)
    warm_session(spark)

    repinned = bench.setdefault("repinned", {})
    failed: dict[str, str] = {}
    for name in names:
        # per-query isolation + write-after-each: one failing query
        # must not discard the completed medians before it
        try:
            med, samples = measure(spark, qs[name], SF_DIR,
                                   tag=f"repin {name}")
        except Exception as exc:
            failed[name] = str(exc)[:300]
            print(f"{name}: ERROR {failed[name]}", flush=True)
            continue
        old = bench["queries"].get(name)
        bench["queries"][name] = med
        repinned[name] = samples
        bench.get("errors", {}).pop(name, None)  # row is now measured
        bench["queries"] = dict(
            sorted(bench["queries"].items(), key=lambda kv: -kv[1]))
        bench["total_sec"] = round(sum(bench["queries"].values()), 1)
        with open(path, "w") as f:
            json.dump(bench, f, indent=1)
        print(f"{name}: {old} -> median {med} of {samples}", flush=True)

    print(json.dumps({"repinned": len(names) - len(failed),
                      "failed": sorted(failed),
                      "total_sec": bench["total_sec"], "file": path}))
    return 1 if failed else 0


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
    if not ((cmd == "probe" and not names) or (cmd == "repin" and names)):
        print("usage: python tools/measure.py repin NAME [NAME ...]\n"
              "       python tools/measure.py probe")
        return 2
    from mapreducewordcounting_spark.session import get_spark

    spark = get_spark(app_name=f"mrwc-measure-{cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return probe(spark) if cmd == "probe" else repin(spark, names)
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
