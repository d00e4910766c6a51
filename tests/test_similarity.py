"""Recall tests for the approximate similarity paths vs brute force
(the fixture embeddings are near-random — max pairwise cosine ≈ 0.51 —
so bars are structural, not quality claims), and the df-cap boundary
of the sparse tf-idf index on a hand-built corpus, the anchor
assignment's zero-norm guard and the IVF index's session-scoped path."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreducewordcounting_spark.operators.io_roundtrip import _io_path
from mapreducewordcounting_spark.operators.similarity import (
    K,
    N_QUERIES,
    TFIDF_COS_MIN,
    TFIDF_DF_CAP,
    _anchor_argmax_assign,
    similarity_ann_ivf,
    similarity_ann_ivf_pruned,
    similarity_ann_lsh,
    similarity_tfidf_pairs,
    similarity_topk_bruteforce,
)
from tests.bruteforce_util import (
    doc_tokens,
    rows_as_tuples,
    tfidf_pair_cosines,
)


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_bruteforce_shape(spark, sf_dir):
    got = _topk_sets(similarity_topk_bruteforce(spark, sf_dir))
    assert len(got) == N_QUERIES
    assert all(len(v) == K for v in got.values())


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """8 hash tables + generous radius ⇒ decent recall even on random
    vectors; the bar is deliberately loose (ANN on noise)."""
    exact = _topk_sets(similarity_topk_bruteforce(spark, sf_dir))
    approx = _topk_sets(similarity_ann_lsh(spark, sf_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / (len(exact) * K)
    assert recall >= 0.5, f"LSH recall {recall:.2f}"


def test_ivf_recall_positive(spark, sf_dir):
    """nprobe=2 of 10 random cells on random data: structural sanity
    (non-empty, some overlap with the exact answer), not quality."""
    exact = _topk_sets(similarity_topk_bruteforce(spark, sf_dir))
    approx = _topk_sets(similarity_ann_ivf(spark, sf_dir))
    assert len(approx) == N_QUERIES
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / (len(exact) * K)
    assert recall >= 0.05, f"IVF recall {recall:.2f}"


def test_anchor_graph_recall_and_ivf_comparison(spark, sf_dir):
    """Graph-routed ANN: probing 1+3 graph-linked cells must (a) cover
    every query, (b) beat-or-match the plain IVF nprobe=2 probe's
    recall floor (it probes strictly more cells, chosen by the anchor
    adjacency), and (c) be rerun-deterministic — no seed, no RNG."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_anchor_graph,
    )

    exact = _topk_sets(similarity_topk_bruteforce(spark, sf_dir))
    approx = _topk_sets(similarity_ann_anchor_graph(spark, sf_dir))
    assert len(approx) == N_QUERIES
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / (len(exact) * K)
    assert recall >= 0.05, f"anchor-graph recall {recall:.2f}"

    ivf = _topk_sets(similarity_ann_ivf(spark, sf_dir))
    ivf_hits = sum(len(exact[q] & ivf.get(q, set())) for q in exact)
    assert hits >= ivf_hits * 0.8, (
        f"graph routing {hits} hits vs IVF {ivf_hits}")

    r1 = sorted(map(tuple,
                    similarity_ann_anchor_graph(spark, sf_dir).collect()))
    r2 = sorted(map(tuple,
                    similarity_ann_anchor_graph(spark, sf_dir).collect()))
    assert r1 == r2


def test_rp_det_recall_and_determinism(spark, sf_dir):
    """The md5-hyperplane ANN: (a) bucket collisions give usable recall
    even on near-random vectors (25% expected pair rate at 4x4-bit
    bands); (b) two runs are bit-identical — no seed, no RNG, the whole
    point of the deterministic family."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_rp_det,
    )

    exact = _topk_sets(similarity_topk_bruteforce(spark, sf_dir))
    approx = _topk_sets(similarity_ann_rp_det(spark, sf_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / (len(exact) * K)
    assert recall >= 0.3, f"rp-det recall {recall:.2f}"

    r1 = sorted(map(tuple, similarity_ann_rp_det(spark, sf_dir).collect()))
    r2 = sorted(map(tuple, similarity_ann_rp_det(spark, sf_dir).collect()))
    assert r1 == r2


def test_greedy_route_recall_matches_single_hop(spark, sf_dir):
    """similarity_ann_greedy_route (VERDICT r10 item 3): at the SAME
    <= 4-probed-cell budget, the multi-hop greedy walk must recall at
    least what the single-hop form does — on the fixture the walk
    routes every query to its true nearest anchor (verified in the
    prototype at sf0.01 AND sf0.1), so the probed cell sets are
    identical and recall is equal. The walk's 100 TB win is the
    routing COST: <= 81 anchor comparisons per query vs the
    single-hop form's full |anchors| assignment scan per query."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_anchor_graph,
        similarity_ann_greedy_route,
    )

    exact = _topk_sets(similarity_topk_bruteforce(spark, sf_dir))
    greedy = _topk_sets(similarity_ann_greedy_route(spark, sf_dir))
    single = _topk_sets(similarity_ann_anchor_graph(spark, sf_dir))
    assert len(greedy) == N_QUERIES
    g_hits = sum(len(exact[q] & greedy.get(q, set())) for q in exact)
    s_hits = sum(len(exact[q] & single.get(q, set())) for q in exact)
    assert g_hits >= s_hits, (
        f"greedy routing {g_hits} hits < single-hop {s_hits} at equal "
        f"probe budget")

    # rerun-deterministic — no seed, no RNG anywhere in the walk
    r1 = sorted(map(tuple,
                    similarity_ann_greedy_route(spark, sf_dir).collect()))
    r2 = sorted(map(tuple,
                    similarity_ann_greedy_route(spark, sf_dir).collect()))
    assert r1 == r2


def test_binary_quant_recall_and_determinism(spark, sf_dir):
    """similarity_binary_quant: the 1-bit Hamming prefilter (20 of n
    candidates) must surface usable overlap with the exact answer
    even on near-random vectors, and be rerun-deterministic (sign
    threshold + integer tie-breaks, no RNG)."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_binary_quant,
    )

    exact = _topk_sets(similarity_topk_bruteforce(spark, sf_dir))
    approx = _topk_sets(similarity_binary_quant(spark, sf_dir))
    assert len(approx) == N_QUERIES
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / (len(exact) * K)
    assert recall >= 0.1, f"binary-quant recall {recall:.2f}"

    r1 = sorted(map(tuple, similarity_binary_quant(spark, sf_dir)
                    .collect()))
    r2 = sorted(map(tuple, similarity_binary_quant(spark, sf_dir)
                    .collect()))
    assert r1 == r2


def test_sf1_recall_floors(spark, tmp_path):
    """VERDICT r12 item 3 — quality at scale, the unverified half of
    the r12 nlist decouple: at the derived sf1 (20k vectors, fixed
    ANN_NLIST=40 so nprobe=2 covers 5% of the corpus vs 50% at
    sf0.1), every engine-native ANN form must hold a recall floor vs
    the exact brute force. Measured r13 (BASELINE.md "ANN recall at
    derived sf1"): ivf and ivf_pruned 0.92, anchor-graph 0.96,
    greedy-route 0.56, binary-quant 1.00, rp-det 1.00 — the derived
    corpus's per-replica perturbed twins are near-identical true
    neighbors, which is exactly the locality a cell probe exploits
    (and real embedding corpora cluster far more than this near-random
    fixture). Floors
    sit well under the measured points so host-independent noise
    can't flake, but far above collapse (the pre-decouple failure
    mode this guards: a probe whose coverage shrinks with corpus
    growth until recall hits zero). The sf1 embeddings are derived
    here from the sf0.1 ones by tools/make_sf1.py's own rule, so the
    test does not depend on a prebuilt scale_scratch/."""
    from tools.make_sf1 import SRC, derive_embeddings

    sf1 = str(tmp_path)
    (derive_embeddings(spark.read.parquet(f"{SRC}/embeddings.parquet"))
     .repartition(8).write.parquet(f"{sf1}/embeddings.parquet"))

    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_anchor_graph,
        similarity_ann_greedy_route,
        similarity_ann_ivf,
        similarity_ann_ivf_pruned,
        similarity_ann_rp_det,
        similarity_binary_quant,
    )

    exact = _topk_sets(similarity_topk_bruteforce(spark, sf1))
    denom = len(exact) * K
    floors = {
        similarity_ann_ivf: 0.6,
        similarity_ann_ivf_pruned: 0.6,
        similarity_ann_anchor_graph: 0.6,
        similarity_ann_greedy_route: 0.35,
        similarity_binary_quant: 0.6,
        similarity_ann_rp_det: 0.6,
    }
    for fn, floor in floors.items():
        approx = _topk_sets(fn(spark, sf1))
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        recall = hits / denom
        assert recall >= floor, (
            f"{fn.__name__} sf1 recall {recall:.2f} < floor {floor}")


def test_tfidf_df_cap_boundary(spark, tmp_path):
    """The per-term group limit keeps TFIDF_DF_CAP + 1 postings, which
    must never change df: a trigram in exactly TFIDF_DF_CAP docs is
    weighted, one in TFIDF_DF_CAP + 1 docs is dropped, and a trigram
    repeated inside one doc weighs tf = 2. Checked against the Python
    formula on a hand-built corpus."""
    cap = TFIDF_DF_CAP
    texts = {d: "aa bb cc dd ee ff" + (" gg" if d % 2 else "")
             for d in range(1, cap + 1)}      # 'aa bb cc': df == cap
    texts[cap + 1] = "dd ee ff"               # 'dd ee ff': df == cap + 1
    texts[100] = "gg hh ii gg hh ii"          # 'gg hh ii': tf == 2
    texts[101] = "gg hh ii jj"
    texts[102] = "zz"                         # no trigram: not a doc
    ids = sorted(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [texts[d] for d in ids],
        "lang": ["en"] * len(ids),
        "source": ["web"] * len(ids),
        "n_chars": pa.array([len(texts[d]) for d in ids], pa.int64()),
    }), tmp_path / "documents.parquet")

    expected = tfidf_pair_cosines(doc_tokens(str(tmp_path)), cap,
                                  TFIDF_COS_MIN)
    pairs = [r[:2] for r in expected]
    assert (1, 3) in pairs and (2, 4) in pairs and (100, 101) in pairs
    assert not any(cap + 1 in p for p in pairs)
    got = rows_as_tuples(similarity_tfidf_pairs(spark, str(tmp_path)),
                         ["id_a", "id_b", "cos_sim"])
    assert [r[:2] for r in got] == pairs
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < 1e-6


def test_anchor_argmax_zero_norm_vector_raises(spark):
    """A zero-norm vector has a NULL cosine to every anchor, so the
    strict fold would leave it on the seed sentinel a_id=-1: a phantom
    cell. The a_id expression raises at execution time instead."""
    anchors = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "a_id long, a_emb array<double>")
    emb = spark.createDataFrame(
        [(7, [0.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="unassignable|vec_id=7"):
        _anchor_argmax_assign(emb, anchors).collect()


def test_anchor_argmax_normal_vectors_still_assign(spark):
    anchors = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "a_id long, a_emb array<double>")
    emb = spark.createDataFrame(
        [(7, [2.0, 0.1]), (8, [0.1, 3.0]), (9, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r.a_id
           for r in _anchor_argmax_assign(emb, anchors).collect()}
    # 9 ties on cosine -> smallest a_id wins (the strict-fold rule)
    assert got == {7: 0, 8: 1, 9: 0}


def test_ivf_pruned_store_path_is_session_scoped(spark, sf_dir):
    """The at-rest index path carries the session's applicationId, so
    two sessions on the same sf dir never race overwrite-against-read."""
    similarity_ann_ivf_pruned(spark, sf_dir)
    app_id = spark.sparkContext.applicationId
    store = _io_path(sf_dir, f"ivf_index_{app_id}")
    assert os.path.isdir(store), store
