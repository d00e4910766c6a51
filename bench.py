#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing protocol: tools/measure.py (one untimed sf0.001 warmup per
query, then the median of 3 noop-sink materializations at sf0.1, after
a one-time JVM + Python-worker warmup). Numbers must be stable to ±20%
across suite runs.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreducewordcounting_spark import registry
from mapreducewordcounting_spark.session import get_spark
from tools.measure import SF_DIR, measure, warm_session

#: Host-contention control (VERDICT r10 item 8, automating the r8/r10
#: drift adjudications): wordcount_canonical has been byte-identical
#: since r1, so its timed median moves ONLY with host state. If it
#: reads > CONTROL_SLACK x its accepted pin (tools/bench_pins.json),
#: the whole artifact is tagged host_contended=true — the flag applies
#: to EVERY row of "queries"/"extended" (uniform drift hits all rows),
#: so judges and tools/bench_outliers.py read the signal directly
#: instead of re-deriving it from BASELINE.md prose. 1.5x is the
#: uniform-drift band both adjudications measured (r10: control 0.855s
#: vs 0.306s pin while per-query medians drifted 1.3-1.5x).
CONTROL_QUERY = "wordcount_canonical"
#: Second control (VERDICT r12 item 4): a multi-exchange throughput
#: shape. wordcount_canonical is a 2-job query whose median moves with
#: PER-JOB scheduling overhead (the documented contended-host
#: signature inflates sub-second many-job rows most); join_star_schema
#: is a 5-way star with several exchanges whose runtime tracks actual
#: shuffle/CPU THROUGHPUT. The pair separates the two drift modes:
#: control hot + control2 at pin -> per-job scheduling drift (plans
#: unchanged, sub-second rows inflated, long rows trustworthy);
#: both hot -> genuine throughput contention (every row suspect).
CONTROL2_QUERY = "join_star_schema"
CONTROL_SLACK = 1.5
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "tools", "bench_pins.json")


def control_adjudication(timings: dict[str, float]) -> dict:
    """Compare each control query's timed median to its accepted pin;
    return the self-adjudication block for the bench artifact.

    Fail CLOSED, not open (ADVICE r11): a missing/corrupt pins file,
    an absent control pin, or a missing control timing means the run
    COULD NOT be adjudicated — that must read as
    host_contended=null + control.status='unadjudicated', never as an
    affirmative 'not contended' (the opposite of the flag's purpose).

    ``host_contended`` stays driven by the PRIMARY control alone
    (unchanged semantics since r11, regression-tested); the secondary
    control only classifies the drift into ``drift_kind``.
    """
    try:
        with open(PINS_PATH) as f:
            pins = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        pins = {}

    def _block(query: str) -> dict:
        pin = pins.get(query)
        sec = timings.get(query)
        ratio = (round(sec / pin, 3) if pin and sec is not None else None)
        return {"query": query, "seconds": sec, "pin": pin,
                "ratio": ratio, "slack": CONTROL_SLACK,
                "status": ("adjudicated" if ratio is not None
                           else "unadjudicated")}

    control = _block(CONTROL_QUERY)
    control2 = _block(CONTROL2_QUERY)
    # tri-state: true / false only when adjudicated; null when the
    # control pin or timing was unavailable
    contended = (None if control["ratio"] is None
                 else control["ratio"] > CONTROL_SLACK)
    if contended:
        if control2["ratio"] is None:
            drift_kind = "unclassified"
        elif control2["ratio"] > CONTROL_SLACK:
            drift_kind = "throughput"
        else:
            drift_kind = "per_job_scheduling"
    elif contended is False and control2["ratio"] is not None \
            and control2["ratio"] > CONTROL_SLACK:
        # per-job control clean but throughput control hot: rare, but
        # it means long multi-exchange rows are the suspect ones.
        drift_kind = "throughput_only"
    else:
        drift_kind = None
    return {
        "control": control,
        "control2": control2,
        "drift_kind": drift_kind,
        "host_contended": contended,
    }

#: headline set: the flagship + one representative per operator family.
#: (streaming + spark.ml LSH excluded: their setup cost measures model
#: fitting / sink plumbing, not query execution.)
HEADLINE = [
    "wordcount_canonical",      # the reference's entire program
    "filter_project",           # scan + pushdown
    "join_broadcast_dim",       # broadcast hash join
    "join_fact_fact",           # shuffle (sort-merge) join
    "join_star_schema",         # 5-way star
    "agg_suite",                # multi-aggregate hash agg
    "agg_rollup",               # grouping sets
    "topk_global",              # TakeOrderedAndProject
    "window_topk_per_group",    # ranking window
    "window_running_total",     # frame window
    "text_tfidf",               # two-pass text pipeline
    "text_doc_stats",           # array HOFs, zero shuffle
    "dedup_exact",              # content-hash dedup
    "dedup_ngram_jaccard",      # inverted-index near-dup
    "similarity_topk_bruteforce",  # vector top-k
    "mm_metadata_stats",        # multimodal metadata agg
    "mm_decode_features",       # Arrow/mapInPandas decode stage
    "stream_tumbling_batch_twin",  # event-time windows (batch engine)
    "join_asof",                # union-window as-of join
    "join_range",               # bucketed range join
    "time_rollup_multires",     # hypertable-style rollup
    "join_salted",              # skew-mitigated join
    "sketch_bloom_semijoin",    # membership-filter semi-join
    "agg_percentiles",          # exact percentile agg
    "udaf_median_per_brand",    # applyInPandas UDAF
    "udf_pandas_cosine",        # vectorized pandas UDF
    "tpch_q1_pricing_summary",  # wide map-side-combine agg
    "tpch_q5_local_supplier_volume",  # 6-table star join
    "tpch_q21_waiting_suppliers",  # double-correlated exists/anti
    "contamination_5gram",      # broadcast n-gram semi-join
    "pack_sequences_offset",    # windowed cumulative packing
    "text_bm25",                # BM25 retrieval scoring
    "cogroup_asof_pandas",      # bucketed cogroup applyInPandas
    "layout_zorder",            # Morton-key layout stats
    "text_token_ids",           # broadcast-vocab tokenize-to-ids
    "sink_partitioned_prune",   # partitioned parquet sink + pruned read
    "source_csv_roundtrip",     # CSV sink + explicit-schema source
    "dedup_minhash_det",        # map-stage MinHash signatures + band join
    "similarity_tfidf_pairs",   # inverted-index sparse cosine
    "join_dpp_partitioned",     # runtime dynamic partition pruning
    "mv_incremental_refresh",   # algebraic-state incremental MV merge
    "dedup_simhash_det",        # md5 simhash: 64-sum fingerprint + band join
    "sketch_count_min_det",     # relational CMS: counter-relation build+probe
    "sketch_bloom_det",         # relational bloom: bit relation + fp accounting
    "sketch_hll_det",           # relational HLL: register relation + union
    "agg_quantile_hist_est",    # histogram-interpolated percentiles
    "similarity_ann_rp_det",    # md5-hyperplane LSH ANN + exact re-rank
    "validate_table_fingerprint",  # order-independent replica checksum
    "sink_tombstone_purge",     # partition-pruned RTBF rewrite
    "dedup_fuzzy_edit_distance",  # distinct-domain banded Levenshtein join
    "funnel_3step",             # strict-ordering funnel conversion
    "retention_cohort_weekly",  # cohort retention matrix
    "basket_pair_affinity",     # map-side basket pair generation + lift
    "text_unigram_logprob",     # LM (perplexity-style) quality scoring
    "join_runtime_bloom_smj",   # runtime bloom-filter join pruning
    "growth_accounting_daily",  # DAU / new / cumulative-unique rollup
    "drift_psi_value",          # PSI drift monitor (bucket-grid math)
    "shard_mix_entropy",        # shard source-mix entropy
    "text_bpe_pair_counts",     # BPE merge-step pair count
    "lang_temperature_sampling",  # language-balance sampling rates
    "dedup_embedding_cosine",   # distributed block-matrix cosine
    "join_interval_overlap",    # equi-key + residual interval join
    "interval_max_concurrency",  # +1/-1 boundary sweep
    "quality_filter_report",    # corpus-cleaning waterfall report
    "join_spatial_neighbors",   # grid-bucketed radius join
]

#: extended timed tier (VERDICT r5 item 3): the iterative / ML-fit
#: family, timed under the SAME protocol (untimed sf0.001 warmup,
#: median of 3 at sf0.1) but kept OUT of the headline total so
#: `headline_suite_seconds` stays comparable across rounds and with
#: BASELINE.md. Their numbers land in BENCH_DETAIL.json under
#: "extended"; a >2×-of-peer outlier here gets the same treatment a
#: headline outlier would.
EXTENDED = [
    "dedup_clusters",           # iterative min-label components
    "kmeans_embeddings",        # Lloyd iterations (driver-side k centroids)
    "pagerank_nation_trade",    # iterative rank propagation
    "graph_triangle_count",     # oriented-edge 2-path closure
    # The two spark.ml LSH rows are CONFORMANCE twins, not performance
    # subjects (decision recorded r14, VERDICT r13 item 7): their
    # plans are library-owned (approxSimilarityJoin internals — the
    # plan audit allowlists their fat exchanges for exactly that
    # reason), so their seconds measure spark.ml's fit+join, never
    # this engine. They stay TIMED here so the conformance surface
    # keeps a recorded cost and a regression in spark.ml usage is
    # visible, but their rows must not be read as engine performance;
    # the engine-native forms (dedup_minhash_det, similarity_ann_*)
    # are the performance rows.
    "dedup_minhash_lsh",        # spark.ml MinHashLSH fit + self-join
    "similarity_ann_lsh",       # spark.ml BRP-LSH fit + approx top-k
    "similarity_ann_ivf",       # IVF coarse-quantizer ANN
    "similarity_ann_ivf_pruned",  # same probe over the partitioned
                                  # at-rest index (DPP-pruned scan, r12)
    "dedup_semantic_clusters",  # components over the cosine pair graph (r8)
    "text_bpe_learn_merges",    # iterative BPE merge learning (r8)
]


def time_queries(spark, names: list[str], label: str) -> dict[str, float]:
    """Median-of-3 seconds per query (tools/measure.py protocol)."""
    qs = registry.queries()
    out: dict[str, float] = {}
    for name in names:
        out[name] = measure(spark, qs[name], SF_DIR, tag=f"bench {name}")[0]
        print(f"{label}{name}: {out[name]}s", file=sys.stderr, flush=True)
    return out


def main() -> None:
    spark = get_spark(app_name="mrwc-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark)
    timings = time_queries(spark, HEADLINE, "")
    extended = time_queries(spark, EXTENDED, "[ext] ")

    total = round(sum(timings.values()), 3)
    config = {
        "spark": spark.version,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    full = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extended": extended,
        "extended_note": "iterative/ML-fit tier, same median-of-3 "
                         "protocol, excluded from the headline total",
        "sf": SF_DIR,
        "config": config,
    }
    # host_contended=true applies to every row above (uniform drift)
    full.update(control_adjudication(timings))

    # Driver-environment forensics (VERDICT r4 item 1): bench runs in
    # the DRIVER's environment, so measure the oracle divergence where
    # it happens — full report to FORENSICS.json, compact digest onto
    # the stdout tail.
    repo = os.path.dirname(os.path.abspath(__file__))
    probe_line = None
    try:
        from tools import forensics
        fsf = os.environ.get("SPARK_GRAFT_FORENSICS_SF_DIR",
                             "/root/testdata/sf0.01")
        if not os.path.isdir(fsf):
            # ADVICE r5: if the driver host lacks the default probe
            # fixture, fall back to the bench SF dir so the forensic
            # digest still measures the real environment instead of
            # recording an error for every probe.
            fsf = SF_DIR
        report = forensics.run(spark, fsf)
        with open(os.path.join(repo, "FORENSICS.json"), "w") as f:
            json.dump(report, f, indent=1)
        probe_line = {"probe": forensics.compact_digest(report)}
    except Exception as exc:  # forensic failure must not sink bench
        probe_line = {"probe": {"error": repr(exc)[:200]}}

    # full per-query detail as a FILE — the single contract line
    # overflowed the driver's 2000-char stdout tail in r4
    # (BENCH_r04.json parsed: null; VERDICT r4 item 6)
    full["env"] = probe_line.get("probe", {})
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as f:
        json.dump(full, f, indent=1)

    # stdout layout for a 2000-char tail capture: the full contract
    # line FIRST (complete in the log, may run off the tail's start),
    # then the compact forensic digest, then — LAST, always fully
    # inside the tail — a compact summary whose "queries" holds the
    # slowest entries that fit (full set in BENCH_DETAIL.json).
    print(json.dumps(full, separators=(",", ":")))
    print(json.dumps(probe_line, separators=(",", ":")))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": SF_DIR,
        "n_queries": len(timings),
        "queries": slowest,
        "queries_note": "slowest 8 of {}; full set in BENCH_DETAIL.json"
                        .format(len(timings)),
        "ext_sum": round(sum(extended.values()), 2),
        "ext_n": len(extended),
        "control": full["control"],
        "control2": full["control2"],
        "drift_kind": full["drift_kind"],
        "host_contended": full["host_contended"],
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
