"""In-process driver-environment forensics (VERDICT r4 item 1).

Round 4 left 18 queries failing the driver's value hash while
reproducing bit-exact locally; the divergence lives in the driver's
environment (library versions / fetch path), which this container
cannot reproduce. bench.py runs IN that environment — so this module
is executed from bench.py to measure the divergence where it happens:

* records the versions of duckdb / pyarrow / pandas / numpy, TZ,
  locale, and the Spark session timezone AS SEEN BY THE HARNESS RUN;
* for each target query (default: the 18 re-landed r4 failures, all
  fixed this round), runs the Spark query AND its DuckDB oracle
  in-process at sf0.01 and emits a PER-COLUMN md5 of the
  type-tagged canonical values of each side (tests/oracle_util
  canonicalization: ``-1`` vs ``-1.0`` and ``-0.0`` vs ``0.0``
  digest differently, exactly as a string-hashing driver sees them).

The result is written to FORENSICS.json at the repo root (the file
survives into the next round's working tree even if the driver does
not commit it) and a compact digest goes onto bench.py's stdout tail
for the artifact record. If any column still diverges in the driver's
world, next round reads exactly which query, which column, which side.
"""

from __future__ import annotations

import hashlib
import json
import locale
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

#: the 18 r4 driver-hash failures (VERDICT r4 "What's wrong" item 1),
#: every one fixed this round by the output-type-class sweep.
R4_FAILERS = (
    "sink_partitioned_prune", "stream_partitioned_sink",
    "mm_metadata_stats", "agg_filter_clause", "source_csv_roundtrip",
    "fn_trig", "validate_table_fingerprint", "join_runtime_bloom_smj",
    "fn_xml_roundtrip", "json_variant_extract", "web_url_host_stats",
    "scd2_event_intervals", "mm_decode_features", "skew_key_histogram",
    "layout_compact_files", "sample_split_3way", "pyds_stream_ledger",
    "source_json_roundtrip",
)

#: additional r5 check set: the never-sampled queries whose oracles
#: carried the same latent type hazards (fixed in the same sweep) and
#: the float aggregates rewritten onto exact sums — the per-column
#: digests put driver-side evidence behind every fix, not just the 18.
R5_SWEPT = (
    "join_bucketed", "source_csv_permissive", "source_schema_evolution",
    "join_dpp_partitioned", "agg_grouping_id", "fn_struct",
    "dedup_incremental_batch", "growth_accounting_daily",
    "text_lang_stats", "pipeline_training_data", "text_token_ids",
    "text_token_entropy", "mm_decode_arrow", "tpch_q12_late_lines_by_flag",
    "agg_winsorized_mean", "agg_stats_moments", "agg_regression",
    "agg_higher_moments", "text_bm25", "text_vocab_coverage",
    "dedup_embedding_cosine",
)

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _ver(modname: str) -> str:
    try:
        mod = __import__(modname)
        return str(getattr(mod, "__version__", "?"))
    except Exception as exc:  # pragma: no cover - env-dependent
        return f"unimportable: {exc!r}"[:60]


def environment() -> dict:
    import pyspark
    return {
        "python": sys.version.split()[0],
        "duckdb": _ver("duckdb"),
        "pyarrow": _ver("pyarrow"),
        "pandas": _ver("pandas"),
        "numpy": _ver("numpy"),
        "pyspark": pyspark.__version__,
        "TZ": os.environ.get("TZ", "<unset>"),
        "locale": ".".join(str(x) for x in locale.getlocale()),
    }


def _col_digests(rows: list[dict], float_digits=None) -> dict:
    """Per-column md5 over the SORTED type-tagged canonical values —
    identifies the divergent column without shipping the data — plus a
    ``__rows__`` digest over whole sorted canonical ROW tuples:
    per-column multisets alone are blind to cross-row permutations
    (a wrong join/group mapping swaps values BETWEEN rows while every
    column's value set stays identical — r5 self-review), and
    ``__rows__`` is exactly the driver's row-hash granularity, so
    "__rows__ mismatched but all columns green" reads as
    'row-association bug', not 'value bug'."""
    from oracle_util import canonical_rows, _canon_cell  # type: ignore
    cols: dict[str, list[str]] = {}
    for r in rows:
        for k, v in r.items():
            cols.setdefault(k, []).append(_canon_cell(v, float_digits))
    out = {
        k: hashlib.md5("\n".join(sorted(v)).encode()).hexdigest()[:10]
        for k, v in cols.items()
    }
    out["__rows__"] = hashlib.md5(
        repr(canonical_rows(rows, float_digits)).encode()).hexdigest()[:10]
    return out


def run(spark, sf_dir: str, names=R4_FAILERS + R5_SWEPT) -> dict:
    import duckdb

    from mapreducewordcounting_spark import registry
    from mapreducewordcounting_spark.checkpoints import release_all_pinned

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    specs = registry.all_queries()
    out: dict = {"env": environment(), "sf_dir": sf_dir, "queries": {}}
    for name in names:
        spec = specs.get(name)
        rec: dict = {}
        try:
            s_rows = [r.asDict(recursive=True)
                      for r in spec.fn(spark, sf_dir).collect()]
            cur = con.execute(spec.oracle)
            cols = [c[0] for c in cur.description]
            d_rows = [dict(zip(cols, row)) for row in cur.fetchall()]
            s_dig, d_dig = _col_digests(s_rows), _col_digests(d_rows)
            rec = {
                "spark_rows": len(s_rows),
                "oracle_rows": len(d_rows),
                "cols": {
                    c: {"spark": s_dig.get(c), "duck": d_dig.get(c),
                        "match": s_dig.get(c) == d_dig.get(c)}
                    for c in sorted(set(s_dig) | set(d_dig))
                },
            }
            rec["mismatched"] = [c for c, v in rec["cols"].items()
                                 if not v["match"]]
        except Exception as exc:  # pragma: no cover - env-dependent
            rec = {"error": repr(exc)[:300]}
        out["queries"][name] = rec
        release_all_pinned(spark)  # storage hygiene between queries
    con.close()
    return out


def compact_digest(report: dict) -> dict:
    """≤ ~500-byte summary for the driver's 2000-char stdout tail."""
    mism = {}
    errs = []
    for name, rec in report["queries"].items():
        if rec.get("error"):
            errs.append(name)
        elif rec.get("mismatched"):
            mism[name] = rec["mismatched"][:4]
    env = report["env"]
    return {
        "duckdb": env["duckdb"], "pyarrow": env["pyarrow"],
        "pandas": env["pandas"], "numpy": env["numpy"], "TZ": env["TZ"],
        "n_checked": len(report["queries"]),
        "mismatch": mism, "probe_errors": errs[:6],
        "file": "FORENSICS.json",
    }


def main() -> int:
    from pyspark.sql import SparkSession
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    report = run(spark, sf_dir)
    out = os.path.join(REPO, "FORENSICS.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(compact_digest(report)))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
