"""Plan-quality assertions (SURVEY.md §4, the 100 TB posture):
broadcasts are broadcast, filters are pushed, columns are pruned,
partial aggregation happens, and shuffle counts stay minimal.
These are the properties that decide whether a plan survives a
1000-executor scale-up — asserted, not assumed.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from mapreducewordcounting_spark.operators.relational import (
    agg_suite,
    filter_project,
    join_broadcast_dim,
    join_star_schema,
    topk_global,
)
from mapreducewordcounting_spark.operators.wordcount import word_count
from mapreducewordcounting_spark.plans import (
    exchange_array_columns,
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregation,
    n_exchanges,
    pushed_filters,
    read_schema_columns,
    simple_plan,
)


def test_broadcast_dim_join_is_broadcast(spark, sf_dir):
    assert has_broadcast_join(join_broadcast_dim(spark, sf_dir))


def test_star_schema_broadcasts_dims(spark, sf_dir):
    plan = simple_plan(join_star_schema(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    pf = pushed_filters(filter_project(spark, sf_dir))
    assert "l_quantity" in pf and "l_returnflag" in pf


def test_column_pruning(spark, sf_dir):
    """filter_project must read ~6 of 11 lineitem columns, never all."""
    cols = read_schema_columns(filter_project(spark, sf_dir))
    assert 0 < len(cols) <= 6, cols
    assert "l_comment" not in cols and "l_partkey" not in cols


def test_wordcount_single_shuffle_with_partial_agg(spark, sf_dir):
    """The whole reference pipeline = ONE exchange between partial and
    final hash aggregation (vs the reference's 2-level hand shuffle)."""
    wc = word_count(spark, sf_dir)
    assert n_exchanges(wc) == 1
    assert has_partial_aggregation(wc)


def test_agg_suite_partial_final(spark, sf_dir):
    df = agg_suite(spark, sf_dir)
    assert has_partial_aggregation(df)
    assert n_exchanges(df) == 1


def test_topk_never_global_sorts(spark, sf_dir):
    """orderBy+limit must compile to TakeOrderedAndProject — a global
    Sort node would materialize the whole table at scale."""
    plan = simple_plan(topk_global(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_tpch_q1_single_exchange_partial_agg(spark, sf_dir):
    """The wide pricing-summary agg must map-side combine: one
    exchange between partial and final HashAggregate."""
    from mapreducewordcounting_spark.operators.tpch_full import (
        tpch_q1_pricing_summary,
    )
    df = tpch_q1_pricing_summary(spark, sf_dir)
    assert has_partial_aggregation(df)
    assert n_exchanges(df) == 1


def test_tpch_q6_filters_reach_scan(spark, sf_dir):
    """Q6's whole WHERE clause must appear in PushedFilters — this is
    the query where row-group statistics skip most of a 100 TB table."""
    from mapreducewordcounting_spark.operators.tpch import (
        tpch_q6_forecast_revenue,
    )
    pf = pushed_filters(tpch_q6_forecast_revenue(spark, sf_dir))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, (col, pf)


def test_tpch_q5_dimensions_broadcast(spark, sf_dir):
    """supplier/nation/region must broadcast in the 6-table star —
    a shuffle join on a dimension is a scale bug."""
    from mapreducewordcounting_spark.operators.tpch_full import (
        tpch_q5_local_supplier_volume,
    )
    plan = simple_plan(tpch_q5_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_q21_no_nested_loop(spark, sf_dir):
    """The decorrelated double-EXISTS must stay hash-join-shaped:
    a BroadcastNestedLoopJoin / CartesianProduct here would be the
    O(n²) plan the rewrite exists to avoid."""
    from mapreducewordcounting_spark.operators.tpch_full import (
        tpch_q21_waiting_suppliers,
    )
    plan = simple_plan(tpch_q21_waiting_suppliers(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_bench_grams(spark, sf_dir):
    """The benchmark gram set must broadcast — shuffling the training
    side on gram hash would move the whole corpus."""
    from mapreducewordcounting_spark.operators.training_ops import (
        contamination_5gram,
    )
    assert has_broadcast_join(contamination_5gram(spark, sf_dir))


def test_scan_is_vectorized_parquet(spark, sf_dir):
    """Vectorized (batched) parquet scan present. (Codegen spans only
    appear in the executed AQE plan, so the batched-reader flag is the
    plan-time proxy.)"""
    plan = formatted_plan(agg_suite(spark, sf_dir))
    assert "Scan parquet" in plan
    assert "Batched: true" in plan  # vectorized columnar reader


def test_join_hints_are_respected(spark, sf_dir):
    """The engine exposes Spark's join-strategy hints as the manual
    override lane: a MERGE hint must defeat the auto-broadcast of a
    tiny dimension, and a BROADCAST hint must force the broadcast even
    when the optimizer would shuffle — the knobs an operator author
    reaches for when AQE's estimate is wrong at 100 TB."""
    from mapreducewordcounting_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "supplier")

    forced_merge = li.join(n.hint("merge"), li.l_suppkey == n.s_suppkey)
    p = simple_plan(forced_merge)
    assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p, p

    forced_bc = li.join(n.hint("broadcast"), li.l_suppkey == n.s_suppkey)
    assert has_broadcast_join(forced_bc)


def test_profile_is_single_scan(spark, sf_dir):
    """The column profile must read the table once (one FileScan):
    metrics fan out of a single wide aggregate, not per-column jobs."""
    from mapreducewordcounting_spark.operators.profiling import (
        profile_lineitem,
    )

    p = simple_plan(profile_lineitem(spark, sf_dir))
    assert p.count("Scan parquet") == 1, p


def test_zorder_quantization_is_broadcast_not_shuffle(spark, sf_dir):
    """layout_zorder's bounds join must be a broadcast nested-loop of a
    1-row aggregate — fact rows are quantized in place; the only
    fact-sized exchange is the 256-bucket groupBy."""
    from mapreducewordcounting_spark.operators.layout import layout_zorder

    df = layout_zorder(spark, sf_dir)
    plan = simple_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert has_partial_aggregation(df)


def test_token_ids_vocab_is_broadcast(spark, sf_dir):
    """text_token_ids: the vocabulary side of the id-assignment join
    must be broadcast (control-sized by construction), never a
    sort-merge over the exploded corpus."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_token_ids,
    )

    plan = simple_plan(text_token_ids(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skew_histogram_partial_aggregates(spark, sf_dir):
    from mapreducewordcounting_spark.operators.skew import skew_key_histogram

    df = skew_key_histogram(spark, sf_dir)
    assert has_partial_aggregation(df)


def test_keep_latest_uses_window_group_limit(spark, sf_dir):
    """compact_keep_latest must compile to partial+final WindowGroupLimit
    (per-key top-1 pushed below the exchange — the window analogue of
    map-side combine), never a full per-key sort of history."""
    from mapreducewordcounting_spark.operators.cdc import compact_keep_latest

    plan = simple_plan(compact_keep_latest(spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final


def test_ann_rp_det_plan_shape(spark, sf_dir):
    """The deterministic ANN's scale contract: candidates come from a
    BROADCAST bucket hash-join (never a cartesian/nested-loop pair
    space), and the per-query top-k compiles to partial+final
    WindowGroupLimit (map-side k-pruning before the exchange)."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_rp_det,
    )

    df = similarity_ann_rp_det(spark, sf_dir)
    plan = simple_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_fingerprint_single_exchange_partial_agg(spark, sf_dir):
    """The fingerprint must be one scan + map-side hash + partial/final
    aggregate: exactly one exchange, carrying |groups| partial sums."""
    from mapreducewordcounting_spark.operators.profiling import (
        validate_table_fingerprint,
    )

    df = validate_table_fingerprint(spark, sf_dir)
    assert has_partial_aggregation(df)
    assert n_exchanges(df) == 1


def test_funnel_broadcasts_stage_tables(spark, sf_dir):
    """The funnel's contract: user-sized stage tables broadcast onto
    the type-filtered fact scans — the event fact itself is never the
    build side and never exchanges at event grain."""
    from mapreducewordcounting_spark.operators.product_analytics import (
        funnel_3step,
    )

    plan = simple_plan(funnel_3step(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_anti_join_on_hashes(spark, sf_dir):
    """Incremental dedup must anti-join on content hashes with the
    corpus hash set as the build side — document text never joins."""
    from mapreducewordcounting_spark.operators.dedup import (
        dedup_incremental_batch,
    )

    plan = simple_plan(dedup_incremental_batch(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """The runtime-filter contract: a bloom_filter_agg builds from the
    dim's join keys and a might_contain probe lands on the fact side
    BEFORE its exchange — pre-shuffle row pruning on a non-partition
    key (the DPP sibling for shuffle joins)."""
    from mapreducewordcounting_spark.operators.relational import (
        join_runtime_bloom_smj,
    )

    df = join_runtime_bloom_smj(spark, sf_dir)
    plan = simple_plan(df)
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan


def test_drift_psi_grid_checkpoint_truncates_fact_lineage(spark, sf_dir):
    """The PSI monitor's 100 TB contract: the (type × 10) count grid
    is materialized ONCE (eager localCheckpoint — without it each of
    the grid's three consumers re-derived the subtree, 8 fact scans at
    plan level), so the final plan contains NO parquet scan at all and
    at most one tiny grid shuffle; all divergence math runs on
    checkpointed |types|·10 rows."""
    from mapreducewordcounting_spark.operators.drift import drift_psi_value

    df = drift_psi_value(spark, sf_dir)
    plan = simple_plan(df)
    assert "FileScan parquet" not in plan  # fact lineage truncated
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "CartesianProduct" not in plan


def test_bpe_pair_counts_takeordered(spark, sf_dir):
    """Top-k over the alphabet²-bounded pair counts must be
    TakeOrderedAndProject — never a global sort of the pair stream."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_bpe_pair_counts,
    )

    df = text_bpe_pair_counts(spark, sf_dir)
    plan = simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert has_partial_aggregation(df)


def test_shard_entropy_single_data_shuffle(spark, sf_dir):
    """Entropy math runs on the (shard, source) count grid: one data
    exchange to that grain, then shard-local window + rollup (the
    grid exchanges are |shards|·|sources|-sized, not data-sized)."""
    from mapreducewordcounting_spark.operators.drift import shard_mix_entropy

    df = shard_mix_entropy(spark, sf_dir)
    assert has_partial_aggregation(df)
    assert n_exchanges(df) <= 3  # count grain, window grain, final rollup


def test_lang_temperature_sampling_single_scan(spark, sf_dir):
    """Grand totals ride a whole-relation window over the |langs|-row
    aggregate, so the corpus is scanned + tokenized exactly once (the
    r1-r5 broadcast-total form scanned it twice, one per BNLJ side;
    r6 isolated A/B: 0.64 s -> 0.52 s at sf0.1)."""
    from mapreducewordcounting_spark.operators.training_ops import (
        lang_temperature_sampling,
    )

    df = lang_temperature_sampling(spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert has_partial_aggregation(df)


def test_embedding_cosine_block_plan(spark, sf_dir):
    """The distributed block-matmul shape: executor-side pack
    (FlatMapGroupsInPandas), tiny block-pair broadcast NLJ, Arrow
    tile stage (MapInPandas) — and NO CartesianProduct anywhere (the
    n² pair space must never appear as a join of row streams)."""
    from mapreducewordcounting_spark.operators.dedup import (
        dedup_embedding_cosine,
    )

    plan = simple_plan(dedup_embedding_cosine(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_is_equi_join_not_cartesian(spark, sf_dir):
    """The interval join must ride the equality key (partkey) with the
    overlap test as a residual — a CartesianProduct or non-equi NLJ
    over the fact table would be the O(n·m) plan that dies at scale.
    (At fixture size the planner picks broadcast-hash; at scale the
    same equi-key degrades gracefully to sort-merge.)"""
    from mapreducewordcounting_spark.operators.temporal import (
        join_interval_overlap,
    )

    plan = simple_plan(join_interval_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_max_concurrency_single_fact_shuffle(spark, sf_dir):
    """The boundary sweep shuffles the 2-rows-per-interval event table
    once on the key; rollup and count table reuse supplier grain."""
    from mapreducewordcounting_spark.operators.temporal import (
        interval_max_concurrency,
    )

    df = interval_max_concurrency(spark, sf_dir)
    assert has_partial_aggregation(df)
    assert n_exchanges(df) <= 4


def test_spatial_neighbors_equi_cell_join(spark, sf_dir):
    """The radius join must ride the 9-cell EQUI key with distance as
    a residual — never a distance theta-join (BroadcastNestedLoopJoin
    / CartesianProduct over the point set)."""
    from mapreducewordcounting_spark.operators.relational import (
        join_spatial_neighbors,
    )

    plan = simple_plan(join_spatial_neighbors(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_domain_cap_plan_shape(spark, sf_dir):
    """sample_domain_cap's scale contract: the per-source cap compiles
    to partial+final WindowGroupLimit (each map task keeps its local
    top-N per source BEFORE the exchange — the reason the totals are a
    separate aggregate instead of a count-over-source in the same
    window stage), and the |sources|-row totals attach by broadcast."""
    from mapreducewordcounting_spark.operators.training_ops import (
        sample_domain_cap,
    )

    plan = simple_plan(sample_domain_cap(spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final
    assert "BroadcastHashJoin" in plan


def test_interpolate_linear_single_window_stage(spark, sf_dir):
    """time_interpolate_linear's scale contract: all four anchor
    expressions (prev/next value and day) evaluate in ONE Window node
    over one (user_id) sort — Spark batches same-partition/same-order
    frames — so the fill costs a single exchange past the grid build,
    and the daily closes keep-latest prunes map-side
    (WindowGroupLimit, the time_resample_ffill shape)."""
    from mapreducewordcounting_spark.operators.temporal import (
        time_interpolate_linear,
    )

    plan = simple_plan(time_interpolate_linear(spark, sf_dir))
    fill_windows = [ln for ln in plan.splitlines()
                    if "Window [" in ln and "row_number" not in ln]
    assert len(fill_windows) == 1, fill_windows
    assert "WindowGroupLimit" in plan


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """sql_lateral_topk's scale contract: the correlated LATERAL
    LIMIT decorrelates into rank-over-partition + an equi-join on the
    correlation key — never a per-outer-row nested loop."""
    from mapreducewordcounting_spark.operators.sql_surface import (
        sql_lateral_topk,
    )

    plan = simple_plan(sql_lateral_topk(spark, sf_dir))
    assert "Window" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_set_broadcasts_back(spark, sf_dir):
    """text_boilerplate_lines' scale contract: the df aggregate finds
    the boilerplate set, which is tiny BY CONSTRUCTION (lines in >half
    a source's docs) and must broadcast back onto the instance stream
    — the corpus-scale line stream is never shuffled a second time."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_boilerplate_lines,
    )

    plan = simple_plan(text_boilerplate_lines(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_attribution_single_window_pass(spark, sf_dir):
    """attribution_last_touch's scale contract: both touch carries
    (time + type) evaluate in ONE Window node over one (user_id,
    (t, event_id)) sort — no self-join, no per-purchase rescan."""
    from mapreducewordcounting_spark.operators.product_analytics import (
        attribution_last_touch,
    )

    plan = simple_plan(attribution_last_touch(spark, sf_dir))
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert len(windows) == 1, windows
    assert "Join" not in plan  # window carry, never a join


def test_paragraph_dedup_single_para_exchange(spark, sf_dir):
    """dedup_paragraph_exact's scale contract: exactly two exchanges —
    the paragraph-keyed window rank and the doc-grain rollup; the
    paragraph stream itself is a pure map off the scan (no join)."""
    from mapreducewordcounting_spark.operators.dedup import (
        dedup_paragraph_exact,
    )

    plan = simple_plan(dedup_paragraph_exact(spark, sf_dir))
    assert plan.count("Exchange") == 2, plan.count("Exchange")
    assert "Join" not in plan


def test_luhn_and_matryoshka_ride_the_scan(spark, sf_dir):
    """pii_luhn_validate / embedding_matryoshka_error scale contract:
    the checksum fold and the energy folds are pure codegen'd map
    stages — Luhn's only exchange is the priority rollup, the
    Matryoshka audit has none at all (per-vector map)."""
    from mapreducewordcounting_spark.operators.similarity import (
        embedding_matryoshka_error,
    )
    from mapreducewordcounting_spark.operators.training_ops import (
        pii_luhn_validate,
    )

    luhn = simple_plan(pii_luhn_validate(spark, sf_dir))
    assert luhn.count("Exchange") == 1
    assert "pythonUDF" not in luhn and "BatchEvalPython" not in luhn
    mrl = simple_plan(embedding_matryoshka_error(spark, sf_dir))
    assert "Exchange" not in mrl
    assert "pythonUDF" not in mrl and "BatchEvalPython" not in mrl


# --- round-9 continuation batch: docstring plan claims, asserted ---


def test_skyline_no_pairwise_join(spark, sf_dir):
    """part_skyline_dominance promises the O(n log n) price-grain
    window rewrite — the plan must contain NO join of part against
    itself other than the final broadcast probe (no SMJ, no NLJ, no
    cartesian), and exactly one aggregation layer below the window."""
    from mapreducewordcounting_spark.operators.relational import (
        part_skyline_dominance,
    )
    df = part_skyline_dominance(spark, sf_dir)
    plan = simple_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)  # the frontier probe


def test_m4_single_aggregate(spark, sf_dir):
    """time_downsample_m4 is ONE map-side-combinable aggregate: a
    single exchange, partial+final HashAggregate, no window, no join."""
    from mapreducewordcounting_spark.operators.temporal import (
        time_downsample_m4,
    )
    df = time_downsample_m4(spark, sf_dir)
    plan = simple_plan(df)
    assert n_exchanges(df) == 1
    # struct min/max compiles to SortAggregate, not HashAggregate —
    # still map-side combined: partial_* below the exchange
    assert "partial_min" in plan and "partial_max" in plan
    assert "Window" not in plan and "Join" not in plan


def test_cusum_windows_share_one_exchange(spark, sf_dir):
    """time_cusum_changepoint: one fact aggregate + all grid windows
    inside a single event_type exchange — 2 exchanges total."""
    from mapreducewordcounting_spark.operators.drift import (
        time_cusum_changepoint,
    )
    df = time_cusum_changepoint(spark, sf_dir)
    assert n_exchanges(df) == 2
    assert has_partial_aggregation(df)


def test_poisson_bootstrap_is_map_plus_one_exchange(spark, sf_dir):
    """sample_poisson_det: pure map (hash + CASE) then one
    source-grain aggregate; no join, no window."""
    from mapreducewordcounting_spark.operators.training_ops import (
        sample_poisson_det,
    )
    df = sample_poisson_det(spark, sf_dir)
    plan = simple_plan(df)
    assert n_exchanges(df) == 1
    assert "Join" not in plan and "Window" not in plan


def test_attribution_linear_joins_on_user_key(spark, sf_dir):
    """attribution_linear_multi_touch: the pair stage must ride the
    user equi-key (SMJ/SHJ with the band as residual), never a
    nested-loop over events x events."""
    from mapreducewordcounting_spark.operators.product_analytics import (
        attribution_linear_multi_touch,
    )
    plan = simple_plan(attribution_linear_multi_touch(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_codes_payload_never_shuffles(spark, sf_dir):
    """embedding_pq_codes: the crossJoin rides a broadcast codebook
    and the only exchange is the vec_id-grain aggregate — embeddings
    themselves must not hash-partition."""
    from mapreducewordcounting_spark.operators.similarity import (
        embedding_pq_codes,
    )
    df = embedding_pq_codes(spark, sf_dir)
    plan = simple_plan(df)
    assert n_exchanges(df) == 1
    assert "partial_min" in plan  # SortAggregate map-side combine


def test_vwap_single_keyed_window(spark, sf_dir):
    """window_anchored_vwap: one (type, day) exchange feeding one
    Window node; no join anywhere."""
    from mapreducewordcounting_spark.operators.windows import (
        window_anchored_vwap,
    )
    df = window_anchored_vwap(spark, sf_dir)
    plan = simple_plan(df)
    assert n_exchanges(df) == 1
    assert plan.count("Window") >= 1 and "Join" not in plan


def test_variant_extraction_single_exchange_pruned_scan(spark, sf_dir):
    """variant_nested_typed: parse-once VARIANT extraction must stay a
    single partial/final aggregate over a pruned 3-column scan — no
    join, no second pass over the JSON."""
    from mapreducewordcounting_spark.operators.sql_surface import (
        variant_nested_typed,
    )
    df = variant_nested_typed(spark, sf_dir)
    assert n_exchanges(df) == 1
    assert has_partial_aggregation(df)
    assert set(read_schema_columns(df)) == {"user_id", "event_type",
                                            "props"}


def test_incremental_bloom_single_batch_scan(spark, sf_dir):
    """dedup_incremental_bloom: the hash-grain probe is checkpointed,
    so the final plan reads the materialized probe (twice — suspects
    and cleared branches) plus ONE parquet scan (the corpus side of
    the suspects join); the first rendition re-ran the batch
    scan+probe per branch (11 exchanges, two scans)."""
    from mapreducewordcounting_spark.operators.dedup import (
        dedup_incremental_bloom,
    )
    df = dedup_incremental_bloom(spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("Scan parquet") == 1  # corpus join side only
    assert plan.count("Scan ExistingRDD") == 2  # both branches
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert n_exchanges(df) <= 3


def test_anchor_graph_index_materialized_once(spark, sf_dir):
    """similarity_ann_anchor_graph: anchors + assignment are the INDEX
    and are checkpointed, so the final probe plan contains ZERO
    parquet scans (the pre-checkpoint rendition re-scanned embeddings
    EIGHT times across branches); the only nested-loop pair space
    left is the dimension-sized anchors x anchors adjacency."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_anchor_graph,
    )
    df = similarity_ann_anchor_graph(spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 3  # anchors x2 + assigned
    assert plan.count("BroadcastNestedLoopJoin") == 1  # anchors^2 only
    assert "CartesianProduct" not in plan


def test_audio_vad_decode_materialized_once(spark, sf_dir):
    """mm_audio_vad_segments: the decode output is checkpointed, so
    the segment branch and the totals branch read the materialized
    energies instead of re-running the payload scan + mapInPandas;
    the join of the two |assets|-grain rollups broadcasts."""
    from mapreducewordcounting_spark.operators.multimodal import (
        mm_audio_vad_segments,
    )
    df = mm_audio_vad_segments(spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 2  # both branches
    assert "CartesianProduct" not in plan
    assert n_exchanges(df) <= 3


def test_bpe_loop_job_count(spark, sf_dir):
    """text_bpe_learn_merges (VERDICT r10 item 1): the merge loop's
    Spark-job count is a committed contract, stated with ONE
    accounting here and at text_analysis.BPE_CHECKPOINT_EVERY (ADVICE
    r11): 12 logical materializations (1 pre-loop checkpoint + 8
    argmax collects + 3 intra-loop checkpoints at every 2nd merge, dead
    final rewrite skipped) == <= 22 Spark jobs once AQE's
    ~2-jobs-per-shuffle-query split is counted — the assertion below
    uses tools.measure.cost's job count. The old rotate-every-merge shape
    cost 17 materializations (~6 more jobs), and each job's fixed
    scheduling overhead is what made this query the suite's most
    host-contention-sensitive row."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_bpe_learn_merges,
    )
    from tools.measure import cost

    with cost(spark, "bpe job count contract") as row:
        df = text_bpe_learn_merges(spark, sf_dir)
    assert row["jobs"] <= 22, f"BPE merge loop regressed to {row['jobs']} jobs"
    assert df.count() == 8  # all merges learned on the fixture


def test_greedy_route_index_materialized_once(spark, sf_dir):
    """similarity_ann_greedy_route: the index (anchors, routing
    candidate table, query batch, per-hop frontiers, assignment) is
    checkpoint-materialized, so the returned probe plan reads ZERO
    parquet scans (the anchor-graph 8-scan lesson applied to the
    loop) and its only nested-loop joins are the K-row anchor-side
    builds."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_greedy_route,
    )

    df = similarity_ann_greedy_route(spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("Scan parquet") == 0
    assert "CartesianProduct" not in plan
    # every NL join is a 3-row side (the entry set x query batch,
    # duplicated across the lazy hop branches) or the anchors^2 probe
    # adjacency — all K-row; the walk itself is broadcast hash joins
    assert plan.count("BroadcastNestedLoopJoin") <= 9


def test_exchange_array_columns_flags_shuffled_arrays(spark):
    """The typed exchange check: shuffling an array column is
    reported; a scalar-only shuffle reports clean."""
    base = spark.range(50).select(
        (F.col("id") % 5).alias("k"),
        F.array(F.col("id"), F.col("id") + 1).alias("vec"))
    fat = base.repartition(4, "k")
    assert any("vec:array<bigint>" in cols
               for cols in exchange_array_columns(fat)), (
        exchange_array_columns(fat))
    thin = base.select("k").repartition(4, "k")
    assert all(cols == [] for cols in exchange_array_columns(thin))


def test_binary_quant_exchanges_carry_no_vectors(spark, sf_dir):
    """similarity_binary_quant (VERDICT r11 item 1): the prefilter's
    whole point is that candidate generation moves 16-byte signatures,
    not 256-byte float vectors — so NO exchange in the plan may carry
    an array column. The Hamming top-20 window shuffles
    (query_id, neighbor_id, hamming); the exact re-rank fetches
    vectors for the <= |queries| x 20 survivors via broadcast joins
    (no shuffle), and the final top-K window shuffles scalars only."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_binary_quant,
    )
    from mapreducewordcounting_spark.plans import (
        exchange_input_names,
        is_vector_named,
    )

    df = similarity_binary_quant(spark, sf_dir)
    exchanges = exchange_input_names(df)
    assert exchanges, "expected at least the two window exchanges"
    # name check on PARSED names (ADVICE r12: no raw-substring match
    # that would false-positive on e.g. 'members')
    for names in exchanges:
        assert not [n for n in names if is_vector_named(n)], (
            f"exchange moves a vector column: {names}")
    # and the typed check, which catches a RENAMED vector column too
    for fat in exchange_array_columns(df):
        assert fat == [], f"exchange moves an array column: {fat}"


def test_ann_family_exchanges_carry_no_vectors(spark, sf_dir):
    """r12 — VERDICT r11 item 1's lesson applied family-wide: in
    similarity_ann_ivf / _anchor_graph / _greedy_route, NO shuffle
    exchange carries a float-vector column. Assignment is the
    map-side HOF argmax (_anchor_argmax_assign — zero exchanges, the
    embedding never leaves its scan); routing/probe tables broadcast;
    every window input is projected to scalars first. The only array
    movement anywhere is the single-row ANN_NLIST-sized anchor fold
    that builds the broadcast struct list (config-sized by the item-2
    fix) — a BroadcastExchange/aggregation buffer, not a data-scale
    shuffle."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_anchor_graph,
        similarity_ann_greedy_route,
        similarity_ann_ivf,
    )
    from mapreducewordcounting_spark.plans import (
        exchange_input_names,
        is_vector_named,
    )

    # exchange-count bounds double as regression guards against the
    # crossJoin+window assignment sneaking back (it added n x nlist
    # shuffled rows AND extra exchanges): ivf = 2 skinny windows + the
    # anchor fold's 3 agg/broadcast-feed exchanges; anchor_graph = the
    # adjacency window + the top-K window (index checkpointed);
    # greedy = hop dedups + beam windows, per-hop checkpointed as of
    # r14 (the lazy walk's duplicated branches put 24 shuffle
    # exchanges in the plan; the eager-hop form has 8 — the cap
    # guards against the duplication sneaking back).
    bounds = {similarity_ann_ivf: 6,
              similarity_ann_anchor_graph: 3,
              similarity_ann_greedy_route: 10}
    for fn, cap in bounds.items():
        df = fn(spark, sf_dir)
        exchanges = exchange_input_names(df)
        assert len(exchanges) <= cap, (
            f"{fn.__name__}: {len(exchanges)} exchanges > {cap}")
        for names in exchanges:
            assert not [n for n in names if is_vector_named(n)], (
                f"{fn.__name__}: exchange moves a vector column: "
                f"{names}")
        for fat in exchange_array_columns(df):
            assert fat == [], (
                f"{fn.__name__}: exchange moves an array column: {fat}")


def test_ivf_pruned_probe_is_partition_pruned(spark, sf_dir):
    """similarity_ann_ivf_pruned (r12): the at-rest IVF index is
    partitioned by cell and the probe's scan must carry a
    dynamic-partition-pruning subquery on cent_id — only the nprobe
    cells' files are read (the docstring claim of similarity_ann_ivf,
    checked). Exchange discipline holds here too: no shuffle moves a
    vector column."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_ivf_pruned,
    )
    from mapreducewordcounting_spark.plans import (
        exchange_input_names,
        formatted_plan,
        is_vector_named,
    )

    df = similarity_ann_ivf_pruned(spark, sf_dir)
    plan = formatted_plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("dynamicpruning" in ln for ln in pf), pf
    for names in exchange_input_names(df):
        assert not [n for n in names if is_vector_named(n)], names
    for fat in exchange_array_columns(df):
        assert fat == [], fat


def test_neardup_pair_core_has_no_forced_broadcast(spark, sf_dir):
    """VERDICT r12 item 1: the shared near-dup pair core used to
    FORCE-broadcast the distinct-shingle frequency relation — a
    corpus-grain table (8-gram/3-gram shingle cardinality grows
    ~linearly with corpus tokens) that dies at Spark's 8 GB broadcast
    cap long before 100 TB. The frequency is now a plain
    ``groupBy([shard,] shingle).count()`` joined back UN-hinted (the
    window form — ``count() OVER (PARTITION BY shingle)`` — was A/B'd
    and REJECTED: it buffers every row of a hot shingle in one group
    with no map-side partial aggregation and GC-thrashed at derived
    sf1; commit eac01d1's "windowed count" title is superseded by the
    groupBy form). Contract: with auto-broadcast disabled, the
    plans of every query riding the core contain ZERO broadcast
    joins — i.e. every broadcast seen in the default plan is a
    size-based optimizer choice (legitimate: it only fires when the
    relation measures small), never a hint that would force a
    corpus-grain collect at scale."""
    from mapreducewordcounting_spark.operators.dedup import (
        dedup_containment_pairs,
        dedup_ngram_jaccard,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn in (dedup_ngram_jaccard, dedup_containment_pairs):
            plan = simple_plan(fn(spark, sf_dir))
            assert "BroadcastHashJoin" not in plan, fn.__name__
            assert "BroadcastExchange" not in plan, fn.__name__
            assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_neardup_pair_core_exchanges_are_thin(spark, sf_dir):
    """Companion to the no-forced-broadcast contract: in the default
    config, no shuffle Exchange in the near-dup pair core carries an
    array column — the shingle-frequency groupBy shuffles
    (doc_id, n_sh, shingle[, shard]) scalars and the verify arrays
    ride size-chosen broadcasts, not the network shuffle."""
    from mapreducewordcounting_spark.operators.dedup import (
        dedup_containment_pairs,
        dedup_ngram_jaccard,
    )

    for fn in (dedup_ngram_jaccard, dedup_containment_pairs):
        for fat in exchange_array_columns(fn(spark, sf_dir)):
            assert fat == [], (fn.__name__, fat)


def test_band_self_joins_scan_corpus_once(spark, sf_dir):
    """dedup_minhash_det / dedup_simhash_det: both sides of the band
    self-join sit above one shared exchange, so the final adaptive plan
    scans the corpus once and reads the other side as a ReusedExchange,
    with no eager checkpoint (Scan ExistingRDD) in between. simhash
    shares its doc_id vote exchange; minhash's band rows are map-only
    and share only because the join is merge-hinted. An unhinted
    minhash join plans a broadcast and scans (and tokenizes) twice; the
    checkpointed forms read 0 scans and 2 ExistingRDD each."""
    from mapreducewordcounting_spark.operators.dedup import (
        dedup_minhash_det,
        dedup_simhash_det,
    )

    for fn in (dedup_minhash_det, dedup_simhash_det):
        df = fn(spark, sf_dir)
        df.collect()
        plan = simple_plan(df)
        assert "isFinalPlan=true" in plan, fn.__name__
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("FileScan parquet") == 1, (fn.__name__, final)
        assert final.count("ReusedExchange") == 1, (fn.__name__, final)
        assert "Scan ExistingRDD" not in final, (fn.__name__, final)


def test_jaccard_consumers_share_one_doc_id_exchange(spark, sf_dir):
    """ngram_jaccard_pairs: the shingle frequency, the prefix window and
    both verify sides read one doc_id aggregate of the shingle rows, so
    the final adaptive plan scans the corpus once, reuses the doc_id
    exchange, and holds no eager checkpoint (Scan ExistingRDD), with
    and without shard keys. Without the aggregate, or without the
    explicit not-null filter, consumers get exchanges of their own and
    re-scan the corpus."""
    from mapreducewordcounting_spark.catalog import load_table
    from mapreducewordcounting_spark.operators.dedup import (
        DEDUP_SHARD_SPAN,
        dedup_ngram_jaccard,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source",
        (F.col("doc_id") / DEDUP_SHARD_SPAN).cast("bigint").alias("shard"))
    for label, df in (
            ("dedup_ngram_jaccard", dedup_ngram_jaccard(spark, sf_dir)),
            ("sharded", ngram_jaccard_pairs(
                docs, shard_cols=("source", "shard")))):
        df.collect()
        plan = simple_plan(df)
        assert "isFinalPlan=true" in plan, label
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("FileScan parquet") == 1, (label, final)
        assert "Scan ExistingRDD" not in final, (label, final)
        assert re.search(r"ReusedExchange \[[^\]]*\], Exchange "
                         r"hashpartitioning\(doc_id#\d+L?, \d+\), "
                         r"REPARTITION_BY_COL", final), (label, final)


def test_tfidf_consumers_share_one_word_exchange(spark, sf_dir):
    """similarity_tfidf_pairs: tf, the posting lists, the pairs and the
    doc count all read one ``word`` exchange, so the final adaptive plan
    scans the corpus once, reuses the exchange, and holds no eager
    checkpoint (Scan ExistingRDD). Each posting list is bounded at
    TFIDF_DF_CAP + 1 rows by a WindowGroupLimit before it is collected.
    A df aggregate joined back to tf gets its own exchange (column
    pruning) and re-scans the corpus. The norms are the pair
    aggregate's diagonal: the pair exchange is reused, one broadcast
    serves both norms joins, and the only shuffle on one doc key is the
    doc count's distinct (a norms aggregate of its own adds another)."""
    from mapreducewordcounting_spark.operators.similarity import (
        TFIDF_DF_CAP,
        similarity_tfidf_pairs,
    )

    df = similarity_tfidf_pairs(spark, sf_dir)
    df.collect()
    plan = simple_plan(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, final
    assert "Scan ExistingRDD" not in final, final
    assert re.search(r"ReusedExchange \[[^\]]*\], Exchange "
                     r"hashpartitioning\(word#\d+, \d+\), REPARTITION_BY_COL",
                     final), final
    limits = re.findall(r"WindowGroupLimit \[word#\d+\], .*?, (\d+), ", final)
    assert limits and set(limits) == {str(TFIDF_DF_CAP + 1)}, final
    pair = r"Exchange hashpartitioning\(\w+#\d+L?, \w+#\d+L?, \d+\)"
    assert len(re.findall(r"\+- " + pair, final)) == 1, final
    assert len(re.findall(r"ReusedExchange \[[^\]]*\], " + pair,
                          final)) == 1, final
    assert final.count(
        "+- BroadcastExchange HashedRelationBroadcastMode") == 1, final
    one_key = re.findall(
        r"\+- Exchange hashpartitioning\((\w+)#\d+L?, \d+\)", final)
    assert sorted(one_key) == ["doc_id", "word"], final
