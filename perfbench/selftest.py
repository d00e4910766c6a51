"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

For every workload, a plain and a traced run must pass their
correctness check and print every metric BENCHMARK.json names for that
kind of run, by name, with its unit and a number. Then a run whose
expected answer is deliberately wrong must count that query as failed.
Exits 0 when all checks hold.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def check_line(spec: dict, line: dict, trace: bool) -> list[str]:
    kind = spec["per_layer"] if trace else spec["end_to_end"]
    errors = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(line)}")
    if not line["correct"] or line["failed"] or line["attempted"] < 1:
        errors.append(f"correct={line['correct']} failed={line['failed']} "
                      f"attempted={line['attempted']}")
    if set(line["metrics"]) != {m["name"] for m in kind}:
        errors.append(f"metric names {sorted(line['metrics'])}")
    for m in kind:
        got = line["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"] or not isinstance(
                got.get("value"), (int, float)):
            errors.append(f"{m['name']}: {got}")
    return errors


def main() -> int:
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tests")]
    import run
    from workloads import WORKLOADS

    spec = run.load_spec()
    errors = []
    for name in WORKLOADS:
        for trace in (False, True):
            line = run.run(name, SEED, 0.1, trace, tiny=True)
            errors += [f"{name} trace={int(trace)}: {e}"
                       for e in check_line(spec, line, trace)]

    # imported only now: the session module reads the pinned core
    # count when it is first imported, inside run.run
    from mapreducewordcounting_spark import registry
    wrong = dict(registry.oracle_sql())
    q = "wordcount_canonical"
    wrong[q] = wrong[q].replace("count(*) AS cnt", "count(*) + 1 AS cnt")
    assert wrong[q] != registry.oracle_sql()[q]
    line = run.run("wordcount_corpus", SEED, 0.1, False, tiny=True, oracles=wrong)
    if line["correct"] or line["failed"] != 1:
        errors.append(f"a wrong expected answer was not counted: {line}")

    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
