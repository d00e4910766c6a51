"""Dump `.explain("formatted")` for named registry queries to files.

    python tools/dump_plans.py OUT_DIR SUFFIX name [name ...]

Writes OUT_DIR/<name>_<SUFFIX>.txt per query. Run from any checkout:
the registry is imported from THIS file's repo root, so pointing a
git worktree's copy at a pre-change commit dumps the "before" plans
(the r13 deliverable: plans/r13/<query>_{before,after}.txt).

Plans are built at the audit SF (sf0.001 by default, same as
tools/plan_audit.py) — plan SHAPE is what the files evidence; bench
seconds live in BENCH_*.json.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR",
                        "/root/testdata/sf0.001")

#: extra session confs, "k=v,k=v" — e.g. disable auto-broadcast
#: (spark.sql.autoBroadcastJoinThreshold=-1) to show whether a
#: BroadcastHashJoin in the default plan is planner-chosen (goes
#: away) or force-hinted (stays)
EXTRA_CONF = os.environ.get("SPARK_GRAFT_DUMP_CONF", "")


def main() -> int:
    out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC"))
    for kv in filter(None, EXTRA_CONF.split(",")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from mapreducewordcounting_spark.checkpoints import release_all_pinned
    from mapreducewordcounting_spark.plans import formatted_plan
    from mapreducewordcounting_spark.registry import all_queries

    qs = all_queries()
    for name in names:
        df = qs[name].fn(spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {path}")
        release_all_pinned(spark)  # storage hygiene between queries
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
