"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload wordcount_corpus --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root. It generates (or reuses) the seeded
inputs, starts Spark on ``local[<cores>]`` and checks every query
against its DuckDB oracle once. Then a traced run runs passes over
the workload's queries for ``--seconds``; an untraced run stops Spark
and times cold set-ups in fresh processes for ``--seconds``. Lines
starting with ``#`` report the environment, the inputs, host state
and samples; the last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones, and the spans are written to
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(tag: str, obj) -> None:
    print(f"# {tag} {json.dumps(obj, sort_keys=True, default=str)}", flush=True)


def result_line(spec: dict, trace: bool, metrics: dict, attempted: int,
                failures: list[str]) -> dict:
    """The contract's last line: every metric of the chosen kind, by
    name, with its unit."""
    kind = spec["per_layer"] if trace else spec["end_to_end"]
    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures),
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in kind}}


def run(workload: str, seed: int, seconds: float, trace: bool,
        tiny: bool = False, oracles: dict | None = None) -> dict:
    """One benchmark process body; returns the result line."""
    import harness
    import sysmetrics
    from workloads import WORKLOADS, prepare_inputs

    spec = load_spec()
    wl = WORKLOADS[workload]
    input_dir, stats = prepare_inputs(ROOT, wl, seed, tiny)
    report("inputs", {"workload": workload, "seed": seed, "dir": input_dir,
                      **{k: stats[k] for k in ("docs", "tokens", "distinct_words",
                                               "neardup_rate", "bytes", "gen_s")}})
    conf = harness.pin_environment(ROOT)
    host = sysmetrics.HostState()
    sess = harness.Session(conf)
    try:
        report("env", sess.env())
        check = harness.checked_pass(sess, wl, input_dir, stats, oracles)
        failures = check["failures"]
        for msg in failures:
            report("mismatch", msg)
        attempted = len(wl.queries)
        if trace:
            passes = harness.Passes(sess, wl, input_dir, stats)
            harness.measure(passes, seconds)
            metrics = {**passes.layer_metrics(),
                       "retained_heap_mb": check["retained_heap_mb"]}
            failures += passes.failures
            attempted += passes.attempted
    finally:
        sess.stop()
    if trace:
        samples = {"passes": len(passes.wall), "run_s": passes.wall,
                   "cpu_s": passes.cpu}
    else:
        # setup_s is an end-to-end metric: an untraced run measures
        # cold set-ups in fresh processes for --seconds, once this
        # process's JVM is gone, so its samples lie apart in time
        setups = [sess.setup_s] + harness.cold_setups(seconds)
        metrics = {"setup_s": statistics.median(setups),
                   "jobs": check["jobs"], "shuffle_mb": check["shuffle_mb"]}
        samples = {"setup_s": setups, "check_s": check["run_s"],
                   "check_cpu_s": check["cpu_s"],
                   "retained_heap_mb": check["retained_heap_mb"]}
    report("host", host.report())
    report("samples", {**samples, "fail_frac": len(failures) / attempted})
    if trace:
        report("layers", _shares(passes, metrics["run_s"]))
        out = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out, exist_ok=True)
        passes.tracer.write(os.path.join(out, f"trace-{workload}-s{seed}.json"))
    return result_line(spec, trace, metrics, attempted, failures)


def _shares(passes, run_s: float) -> dict:
    """Self time per span name over the traced passes, as a share of
    the plain pass time, and the name of the largest."""
    n = len(passes.traced)
    shares = {k: round(v / n / run_s, 4)
              for k, v in sorted(passes.tracer.self_times().items())}
    return {**shares, "dominant": max(shares, key=shares.get)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mapreducewordcounting_spark",
                                       "registry.py")):
        print("perfbench: run from a checkout of the repository; the "
              "mapreducewordcounting_spark package is missing", file=sys.stderr)
        return 2
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tests")]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    line = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
