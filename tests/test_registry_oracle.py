"""The sqllogictest-style gate the reference never had (SURVEY.md §5.1):
every registered query with an oracle runs on Spark AND DuckDB at
sf0.001 and must match on count/schema/values. This mirrors the
driver's sf0.01 check, so anything green here should be green there.

Every query's build and collect run inside ``tools.measure.cost``, and
the row must equal the query's entry in ``tools/ledger.json``: its
jobs, SQL executions and plan operator and expression counts are
exact, so a change that adds a round, an exchange or a fold fails
here until the ledger is re-recorded
(``python tools/measure.py ledger NAME``) and the diff reviewed.

The same run checks four plan invariants at any sf: no row-at-a-time
Python UDF (``BatchEvalPython``) anywhere; a ``CartesianProduct`` only
in ``CARTESIAN_ALLOWED``; a ``BroadcastNestedLoopJoin`` only in
``BNL_ALLOWED``; and no array- or map-typed shuffle input outside
``FAT_EXCHANGE_ALLOWED``. The first three read the cost row, so they
count every plan that executed, eager checkpoint builds included; the
fourth reads the returned plan's exchanges
(``plans.exchange_array_columns``).
"""

from __future__ import annotations

import json
import os

import pytest

from mapreducewordcounting_spark.checkpoints import checkpoints_read, pinned
from mapreducewordcounting_spark.plans import exchange_array_columns
from mapreducewordcounting_spark.registry import all_queries
from tests.oracle_util import assert_matches_oracle
from tools.measure import LEDGER_PATH, LEDGER_SF_DIR, cost

_SPECS = all_queries()
_ORACLED = [n for n, s in _SPECS.items() if s.oracle is not None]
_ROWS_ONLY = [n for n, s in _SPECS.items() if s.oracle is None]

#: queries allowed a CartesianProduct: the explicit cross-join demo.
#: Its 5-row side plans as a BroadcastNestedLoopJoin while it fits the
#: broadcast threshold, so the ledger reads 0 here.
CARTESIAN_ALLOWED = {"join_cross"}

#: queries allowed a BroadcastNestedLoopJoin, each with the bound that
#: keeps the nested loop linear in the data (PLANS.md §15). Three
#: shapes qualify; anything else must ride an equi key:
#:   1-row:   cross-join of ONE global-aggregate row onto data — the
#:            standard "attach global bounds/totals" plan; the NLJ
#:            side is a single broadcast row.
#:   K-row:   data × a control-sized broadcast set (centroids, query
#:            vectors, benchmark embeddings, length-banded distinct
#:            domains) — the pair space is n·K with K fixed by config.
#:   demo:    the explicit non-equi join surface (cross/theta) whose
#:            POINT is the unrestricted predicate.
BNL_ALLOWED = {
    "quality_filter_report": "1-row (rule thresholds)",
    "dedup_embedding_cosine": "K-row (B×(B+1)/2 block-pair key table)",
    "dedup_semantic_clusters": "K-row (dedup_embedding_cosine's "
                               "B×(B+1)/2 block-pair key table, in the "
                               "component_labels edge-list checkpoint "
                               "build)",
    "drift_psi_value": "1-row x2 (the time-midpoint split attached to "
                       "the events twice, for the reference-window "
                       "stats and the bucket counts, in the grid "
                       "checkpoint build)",
    "pagerank_nation_trade": "1-row (the dangling mass dm attached to "
                             "the nodes once per iteration, in each "
                             "rank checkpoint build)",
    "text_bm25": "1-row (N, avgdl corpus stats)",
    "agg_quantile_hist_est": "1-row (global histogram bounds)",
    "basket_pair_affinity": "1-row (basket-count total)",
    "contamination_embedding": "K-row (benchmark embedding set)",
    "dedup_fuzzy_edit_distance": "K-row (length-banded distinct domains)",
    "fn_na_clean": "1-row (global fill statistics)",
    "join_cross": "demo (explicit cross join)",
    "join_theta": "demo (explicit theta/non-equi join)",
    "layout_zorder": "1-row (global coordinate bounds)",
    "rfm_segmentation": "1-row (global quantile edges)",
    "sample_token_budget_mix": "1-row (corpus totals + weight sum; the "
                               "NLJ left side is the |sources| table, "
                               "not data)",
    "stream_outer_join_batch_twin": "1-row (joint-watermark cutoff)",
    "stream_session_gap_batch_twin": "1-row (final-watermark cutoff)",
    "stream_full_outer_join_batch_twin": "1-row (joint-watermark "
                                         "cutoff)",
    "similarity_ann_ivf": "K-row (IVF centroid table, fixed "
                          "ANN_NLIST=40) + 1-row (floor(n/nlist) "
                          "seed-stride count)",
    "similarity_ann_ivf_pruned": "K-row + 1-row (same centroid/stride "
                                 "shapes over the partitioned at-rest "
                                 "index; probe scan is DPP-pruned)",
    "similarity_ann_anchor_graph": "K-row (anchor table, twice: "
                                   "anchors x anchors adjacency and "
                                   "scan x broadcast anchors "
                                   "assignment — the IVF centroid "
                                   "shape) + 1-row (seed-stride "
                                   "count)",
    "similarity_ann_greedy_route": "K-row (anchor table: anchors x "
                                   "anchors probe adjacency + the "
                                   "3-row entry set x query batch — "
                                   "the routing/assignment scans are "
                                   "checkpoint-materialized out of "
                                   "the probe plan; 1-row seed-"
                                   "stride count inside the index "
                                   "build)",
    "embedding_pq_codes": "K-row (PQ codebook table — pair space is "
                          "n·|codebook| with the codebook config-"
                          "sized, the IVF centroid shape)",
    "graph_degree_assortativity": "1-row (node-count global aggregate "
                                  "attached to the 1-row stats fold)",
    "text_ngram_novelty_curve": "1-row (max-doc-id bucket scale "
                                "attached to the per-doc rollup)",
    "dq_ks_two_sample": "1-row (time-midpoint split point — the "
                        "drift_psi_value split, un-checkpointed here "
                        "so the NLJ stays visible in the plan)",
    "graph_modularity_score": "1-row x3 (intra-edge count, 2m, "
                              "degree-square sum — three global "
                              "aggregates folded into the 1-row "
                              "result)",
    "similarity_topk_bruteforce": "K-row (query vector set)",
    "similarity_tfidf_pairs": "1-row (n_docs corpus count attached to "
                              "the capped posting lists, whose weights "
                              "it scales)",
    "similarity_ann_recall_report": "K-row (composes the two forms "
                                    "above: brute-force query-vector "
                                    "NL + IVF centroid/stride shapes; "
                                    "both sub-outputs are |queries| x "
                                    "K rows)",
    "similarity_binary_quant": "K-row (query signature set — the "
                               "bruteforce join shape moving 16-byte "
                               "signatures instead of float vectors; "
                               "no array column below the Hamming "
                               "window, pinned by test_plans.py::"
                               "test_binary_quant_exchanges_carry_no_"
                               "vectors)",
    "similarity_hybrid_rrf": "K-row (query vector set, semantic scan "
                             "side; the lexical side is an equi-join "
                             "on shingle)",
    "text_heavy_hitters": "1-row (corpus token total)",
    "text_tfidf": "1-row (corpus doc count)",
    "text_unigram_logprob": "1-row (unigram grand total)",
    "text_bigram_logprob": "1-row (unigram grand total back-off)",
    "quality_lm_buckets": "1-row (composes text_bigram_logprob; same "
                          "unigram grand-total broadcast)",
    "profile_mutual_information": "1-row (contingency grand total)",
    "time_resample_ffill": "1-row (global time-range bounds)",
    "time_interpolate_linear": "1-row (global time-range bounds — the "
                               "shared _daily_grid_closes calendar "
                               "broadcast)",
    "tpch_q11_important_stock": "1-row (global value threshold; at "
                                "sf0.001 no supplier is in NATION_1, "
                                "so AQE empties the join away)",
    "tpch_q22_dormant_customers": "1-row (avg balance subquery)",
}

#: queries allowed a shuffle Exchange whose INPUT carries an array/map
#: column, each with the reason the fat shuffle is bounded or the
#: point. Anything else that shuffles an array is a scale bug by
#: policy: project to scalars before the exchange, re-attach arrays
#: after (the ANN-family rewrite). A collect_list aggregation buffer
#: above the exchange is fine; only what crosses the network counts.
FAT_EXCHANGE_ALLOWED = {
    "dedup_embedding_cosine": "block-matrix form: the embedding arrays "
    "ARE the matrix being multiplied — the block shuffle replicates "
    "each row into <= B blocks (bounded, by the block-pair key "
    "table), which is the bandwidth contract of any distributed "
    "matmul; projecting vectors out of this exchange would leave "
    "nothing to multiply.",
    "dedup_minhash_lsh": "spark.ml MinHashLSH approxSimilarityJoin "
    "internals (datasetA/B structs incl. hash arrays through the "
    "explode-join) — library-owned plan kept as the spark.ml "
    "conformance twin beside the engine-native dedup_minhash_det, "
    "whose band exchange moves md5 scalars only.",
    "similarity_ann_lsh": "spark.ml BucketedRandomProjectionLSH "
    "approxSimilarityJoin internals — same library-owned shape; the "
    "engine-native ANN family (ivf/anchor/greedy/rp_det) shuffles no "
    "vector bytes (test_ann_family_exchanges_carry_no_vectors).",
}


def plan_invariant_problems(name, row, fat_columns):
    """The plan invariants ``name`` breaks, given its cost ``row`` and
    the array/map-typed columns its plan feeds to shuffle exchanges;
    ``[]`` when it keeps them all."""
    problems = []
    if row["row_python_udf"]:
        problems.append(f"{row['row_python_udf']} BatchEvalPython")
    if row["cartesian_products"] and name not in CARTESIAN_ALLOWED:
        problems.append(f"{row['cartesian_products']} CartesianProduct")
    if row["bnl_joins"] and name not in BNL_ALLOWED:
        problems.append(f"{row['bnl_joins']} BroadcastNestedLoopJoin")
    if fat_columns and name not in FAT_EXCHANGE_ALLOWED:
        problems.append(f"array/map shuffle input {sorted(fat_columns)}")
    return problems


@pytest.fixture(scope="module")
def ledger(spark, sf_dir):
    """The committed rows, or None off the sf they were recorded at."""
    if sf_dir != LEDGER_SF_DIR:
        return None
    with open(LEDGER_PATH) as f:
        return json.load(f)


def _collect_at_ledger_cost(name, spark, sf_dir, ledger):
    """Build and collect the query; assert it left pinned no checkpoint
    its returned plan does not read (checkpoints.py's one rule), that
    it keeps the plan invariants and that it cost exactly its ledger
    row. Returns ``(df, rows)``."""
    with cost(spark, f"ledger {name}") as row:
        before = set(pinned(spark))
        df = _SPECS[name].fn(spark, sf_dir)
        stray = set(pinned(spark)) - before - set(checkpoints_read(df))
        rows = df.collect()
    assert not stray, f"{len(stray)} pinned RDD(s) the result never reads"
    fat = {c for cols in exchange_array_columns(df) for c in cols}
    assert plan_invariant_problems(name, row, fat) == []
    if ledger is not None:
        assert row == ledger.get(name)
    return df, rows


@pytest.mark.parametrize("name", _ORACLED)
def test_oracle_match(name, spark, duck, sf_dir, ledger):
    df, rows = _collect_at_ledger_cost(name, spark, sf_dir, ledger)
    assert_matches_oracle(df, duck, _SPECS[name].oracle, rows=rows)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir, ledger):
    df, _ = _collect_at_ledger_cost(name, spark, sf_dir, ledger)
    assert len(df.columns) > 0  # runs, stable schema


def test_tpch_q11_matches_oracle_at_sf0_01(spark, sf_dir):
    """At sf0.001 no supplier is in NATION_1, so tpch_q11_important_stock
    plans as an empty relation and test_oracle_match compares two empty
    sets. At sf0.01 its threshold crossJoin runs: the rows must be
    non-empty and equal DuckDB's."""
    import duckdb

    from mapreducewordcounting_spark.catalog import TABLES

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    spec = _SPECS["tpch_q11_important_stock"]
    df = spec.fn(spark, sf)
    rows = df.collect()
    assert rows
    with duckdb.connect() as duck:
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        assert_matches_oracle(df, duck, spec.oracle, rows=rows)


def test_plan_invariant_problems():
    allowed = set(CARTESIAN_ALLOWED) | set(BNL_ALLOWED) | set(
        FAT_EXCHANGE_ALLOWED)
    assert allowed <= set(_SPECS), sorted(allowed - set(_SPECS))
    clean = {"row_python_udf": 0, "cartesian_products": 0, "bnl_joins": 0}
    assert plan_invariant_problems("wordcount_canonical", clean, set()) == []
    # a row-at-a-time UDF fails everywhere, allowlisted or not
    for name in ("wordcount_canonical", "join_cross",
                 "dedup_embedding_cosine"):
        assert plan_invariant_problems(
            name, {**clean, "row_python_udf": 1}, set()) == [
                "1 BatchEvalPython"]
    cross = {**clean, "cartesian_products": 1}
    assert plan_invariant_problems("wordcount_canonical", cross, set()) == [
        "1 CartesianProduct"]
    assert plan_invariant_problems("join_cross", cross, set()) == []
    bnl = {**clean, "bnl_joins": 2}
    assert plan_invariant_problems("wordcount_canonical", bnl, set()) == [
        "2 BroadcastNestedLoopJoin"]
    assert plan_invariant_problems("drift_psi_value", bnl, set()) == []
    fat = {"vec:array<float>"}
    assert plan_invariant_problems("wordcount_canonical", clean, fat) == [
        "array/map shuffle input ['vec:array<float>']"]
    assert plan_invariant_problems("similarity_ann_lsh", clean, fat) == []
    # an allowlist admits only its own operator
    assert plan_invariant_problems("similarity_ann_lsh", bnl, set()) == [
        "2 BroadcastNestedLoopJoin"]
    assert plan_invariant_problems("drift_psi_value", clean, fat) == [
        "array/map shuffle input ['vec:array<float>']"]
