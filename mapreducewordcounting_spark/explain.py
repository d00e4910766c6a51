"""Plan inspection utility: print the formatted physical plan of any
registered query.

    python -m mapreducewordcounting_spark.explain <query> [sf_dir]
    python -m mapreducewordcounting_spark.explain <query> [sf_dir] --profile
    python -m mapreducewordcounting_spark.explain --list

The development loop behind every operator here (SURVEY.md §7.0's
"100 TB posture"): after correctness, read the plan — is the filter in
``PushedFilters``/``PartitionFilters``? Did the dim broadcast? Is the
aggregate partial+final? How many ``Exchange``s, and are they the ones
budgeted in SCALING.md? PLANS.md archives the annotated plans this tool
prints.

``--profile`` runs the query once (``collect``) and prints, for each
Exchange of the final adaptive plan, its partitioning, the columns it
moves with their types, and its SQL metrics for records and bytes
written: where the query's shuffle bytes go. Exchanges inside an eager
checkpoint's build job are not in the returned plan and not listed.
"""

from __future__ import annotations

import sys


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    profile = "--profile" in argv
    argv = [a for a in argv if a != "--profile"]
    from mapreducewordcounting_spark.registry import all_queries

    specs = all_queries()
    if not argv or argv[0] in ("--list", "-l"):
        for name, spec in specs.items():
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name:36s} [{kind}] {'/'.join(spec.tags)}")
        return 0
    name = argv[0]
    if name not in specs:
        print(f"unknown query {name!r}; --list shows all", file=sys.stderr)
        return 2
    import os
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from mapreducewordcounting_spark.session import get_spark

    spark = get_spark(app_name=f"explain-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = specs[name].fn(spark, sf_dir)
    if profile:
        print_profile(df)
    else:
        df.explain("formatted")
    spark.stop()
    return 0


def print_profile(df) -> None:
    """Run ``df`` once and print its final plan's exchanges (see the
    module docstring)."""
    from mapreducewordcounting_spark.plans import final_exchanges

    df.collect()
    exchanges = final_exchanges(df)
    print(f"exchanges in the final plan: {len(exchanges)}")
    for ex in exchanges:
        print(ex["node"])
        print(f"  input: {', '.join(ex['input'])}")
        print(f"  records written: {ex['records']}, "
              f"bytes written: {ex['bytes']}")


if __name__ == "__main__":
    raise SystemExit(main())
