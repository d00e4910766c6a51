"""Steadiness report: repeat the benchmark and measure its spread.

    python3 perfbench/steadiness.py --first-seed 1 > report.md

Runs the BENCHMARK.json command on every workload, once for each of
:data:`SEEDS` seeds, in two sets (workloads interleaved inside a set,
so host drift hits them alike). For each end-to-end metric, and for
the ungated wall time, CPU time and live heap of the checked pass, it
reports the median of each set, the spread (quartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), the ratio
of the second set's median to the first's, and whether both stay
within the metric's bound. Exits 1 if one does not. Raw results go to
``.perfbench/steadiness/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = 10
SETS = 2


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def value(run: dict, name: str) -> float:
    """A metric of the result line, or a sample of the ``# samples``
    line."""
    metrics = run["result"]["metrics"]
    if name in metrics:
        return metrics[name]["value"]
    return run["notes"]["samples"][name]


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    notes = {ln.split()[1]: json.loads(ln.split(" ", 2)[2])
             for ln in lines[:-1] if ln.startswith("# ")}
    return {"workload": workload, "seed": seed, "wall_s": wall,
            "result": json.loads(lines[-1]), "notes": notes}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    runs = []
    for s in range(SETS):
        for seed in range(args.first_seed, args.first_seed + SEEDS):
            for w in names:
                r = run_once(spec, w, seed, 0)
                r["set"] = s
                runs.append(r)
                print(f"<!-- set {s} {w} seed {seed}: {r['wall_s']:.1f} s, "
                      f"correct={r['result']['correct']} -->", file=sys.stderr,
                      flush=True)
    out = os.path.join(ROOT, ".perfbench", "steadiness")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"runs-{int(time.time())}.json"), "w") as f:
        json.dump(runs, f, indent=1)

    print("| workload | metric | bound | " + " | ".join(
        f"set {s} median | set {s} spread" for s in range(SETS))
        + " | last/first | ok |")
    print("|---|---|---|" + "---|---|" * SETS + "---|---|")
    # the gated metrics, then the ungated samples of the checked pass:
    # its wall and CPU time follow host drift, and its live heap
    # reading is bimodal (see README.md)
    ungated = [{"name": k, "better": "lower", "bound": None}
               for k in ("check_s", "check_cpu_s", "retained_heap_mb")]
    ok_all = True
    for w in names:
        for m in spec["end_to_end"] + ungated:
            sets = [[value(r, m["name"]) for r in runs
                     if r["workload"] == w and r["set"] == s]
                    for s in range(SETS)]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            ratio = meds[-1] / meds[0]
            worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
            ok = m["bound"] is None or max(worse, *spreads) <= m["bound"]
            ok_all &= ok
            cells = " | ".join(f"{a:.4g} | {b:.3f}" for a, b in zip(meds, spreads))
            print(f"| {w} | {m['name']} | {m['bound'] or 'none'} | {cells} | "
                  f"{ratio:.3f} | {'yes' if ok else 'NO'} |")
    walls = [r["wall_s"] for r in runs]
    print(f"\n{len(runs)} runs; wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s; all correct: "
          f"{all(r['result']['correct'] for r in runs)}")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
