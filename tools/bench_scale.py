"""Derived-scale scaling bench (VERDICT r12 item 5): time named
queries at sf0.1 and the DERIVED sf1/sf10 under scale_scratch/, with
bench.py's protocol (tools/measure.py: median of 3), and print one
JSON line per dir plus a final ratios line.

    python tools/make_sf1.py && python tools/make_sf10.py
    python tools/bench_scale.py [query ...]       # default: the six

Default query set = the scale-critical six named by VERDICT r12
item 5. BENCH ONLY: the derived dirs hold documents+embeddings only
and are never used for correctness (tools/make_sf10.py docstring).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mapreducewordcounting_spark import registry  # noqa: E402
from mapreducewordcounting_spark.session import get_spark  # noqa: E402
from tools.measure import SF_DIR, measure, warm_session  # noqa: E402

#: the scale-critical six (VERDICT r12 item 5)
DEFAULT = [
    "dedup_minhash_det",
    "dedup_ngram_jaccard",
    "dedup_clusters_sharded",
    "similarity_ann_ivf_pruned",
    "similarity_binary_quant",
    "dedup_repeated_spans",
]

#: comma-separated tier filter, e.g. SPARK_GRAFT_SCALE_DIRS=sf0.1,sf1
#: — lets a quadratic-at-sf10 form (dedup_ngram_jaccard on the
#: replica-clique derived corpus) be swept at the tiers it completes
_TIERS = os.environ.get("SPARK_GRAFT_SCALE_DIRS", "sf0.1,sf1,sf10")
DIRS = [d for d in [
    SF_DIR,
    os.path.join(REPO, "scale_scratch", "sf1"),
    os.path.join(REPO, "scale_scratch", "sf10"),
] if os.path.basename(d) in _TIERS.split(",")]


def decade_ratios(names: list[str],
                  results: dict[str, dict[str, float]]) -> dict[str, dict]:
    """Per query: its seconds at each measured tier (keyed by dir
    basename) plus each decade ratio whose two adjacent tiers were
    both measured — a run without sf0.1 still reports sf10/sf1."""
    keyed = {os.path.basename(k): v for k, v in results.items()}
    ratios = {}
    for name in names:
        row = {sf: t.get(name) for sf, t in keyed.items()}
        if row.get("sf0.1") and row.get("sf1"):
            row["ratio_sf1"] = round(row["sf1"] / row["sf0.1"], 2)
        if row.get("sf1") and row.get("sf10"):
            row["ratio_sf10_vs_sf1"] = round(row["sf10"] / row["sf1"], 2)
        ratios[name] = row
    return ratios


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    if not DIRS:
        # ADVICE r13: a tier filter matching nothing used to fall
        # through to DIRS[0] and crash with IndexError.
        print(f"no scale dirs selected by "
              f"SPARK_GRAFT_SCALE_DIRS={_TIERS!r}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="mrwc-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    warm_session(spark)

    results: dict[str, dict[str, float]] = {}
    for sf_dir in DIRS:
        if not os.path.isdir(sf_dir):
            print(f"skip {sf_dir}: absent", file=sys.stderr)
            continue
        timings: dict[str, float] = {}
        for name in names:
            timings[name] = measure(spark, qs[name], sf_dir,
                                    tag=f"bench_scale {name}")[0]
            print(f"{os.path.basename(sf_dir)} {name}: {timings[name]}s",
                  file=sys.stderr, flush=True)
        results[sf_dir] = timings
        print(json.dumps({"sf_dir": sf_dir, "queries": timings}))

    print(json.dumps({"scaling": decade_ratios(names, results)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
