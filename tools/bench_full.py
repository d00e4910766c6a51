"""Registry-wide sf0.1 timing sweep (VERDICT r5 item 3: "every query
in the registry has at least one recorded sf0.1 wall time").

    python tools/bench_full.py  ->  BENCH_FULL_sf01.json

Protocol: tools/measure.py with ONE timed sf0.1 run per query. This
is a COVERAGE sweep, not the headline benchmark: bench.py's 65-query
headline set (median-of-3) remains the number compared against
BASELINE.md; the single-sample times here are a coverage record, not
a gate (the per-query regression gate is the exact cost ledger,
tools/ledger.json).

Streaming queries run their real micro-batch round trips; their times
include sink/trigger plumbing by design (the reason bench.py excludes
them from the headline set — recorded here regardless so the coverage
claim is total).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from mapreducewordcounting_spark import registry
    from mapreducewordcounting_spark.session import get_spark
    from tools.measure import SF_DIR, measure, warm_session

    spark = get_spark(app_name="mrwc-bench-full")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    warm_session(spark)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_all = time.time()
    for name in qs:
        try:
            timings[name] = measure(spark, qs[name], SF_DIR, runs=1,
                                    tag=f"bench_full {name}")[0]
        except Exception as exc:  # record, keep sweeping
            errors[name] = str(exc)[:300]
        print(f"{name}: {timings.get(name, 'ERROR')}", file=sys.stderr,
              flush=True)

    out = {
        "sf": SF_DIR,
        "protocol": "untimed sf0.001 warmup + ONE timed sf0.1 run "
                    "(coverage sweep; headline numbers are bench.py's "
                    "median-of-3)",
        "n_queries": len(timings),
        "total_sec": round(sum(timings.values()), 1),
        "wall_sec": round(time.time() - t_all, 1),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "errors": errors,
    }
    # Host-contention self-adjudication (VERDICT r10 item 8): same
    # control-vs-pin rule as bench.py; the flag applies to every row.
    import bench as _bench
    out.update(_bench.control_adjudication(timings))
    path = os.path.join(REPO, "BENCH_FULL_sf01.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"n": len(timings), "errors": len(errors),
                      "total_sec": out["total_sec"], "file": path}))
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
