"""Iterative-operator invariants: k-means inertia is non-increasing,
every vector is assigned, runs are deterministic, and no loop re-scans
a table per iteration."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.checkpoints import release, release_all_pinned
from mapreducewordcounting_spark.operators import iterative
from mapreducewordcounting_spark.operators.dedup import component_labels
from mapreducewordcounting_spark.operators.iterative import (
    KM_DET_K,
    kmeans_embeddings,
    lloyd,
)
from tools.measure import cost


def test_inertia_monotone_nonincreasing(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    hist = [lloyd(emb, iters=i).agg(F.sum("sq_dist")).collect()[0][0]
            for i in range(4)]
    assert len(hist) == 4
    for a, b in zip(hist, hist[1:]):
        assert b <= a * (1 + 1e-9), f"inertia rose: {hist}"
    assert hist[-1] < hist[0]  # strictly improved over init


def test_pagerank_distribution_invariants(spark, sf_dir):
    """Ranks form a probability distribution (Σ=1 within float noise,
    all positive), are deterministic across runs, and weight flows to
    the supplier nations that actually receive trade edges."""
    from mapreducewordcounting_spark.operators.iterative import (
        pagerank_nation_trade,
    )
    r1 = {r.node: r.rank for r in pagerank_nation_trade(spark, sf_dir).collect()}
    r2 = {r.node: r.rank for r in pagerank_nation_trade(spark, sf_dir).collect()}
    assert r1 == r2
    assert abs(sum(r1.values()) - 1.0) < 1e-6, sum(r1.values())
    assert all(v > 0 for v in r1.values())
    n = load_table(spark, sf_dir, "nation").count()
    assert len(r1) == n
    # supplier nations (in-edges) must out-rank the uniform floor
    supp_nations = {r.s_nationkey for r in load_table(
        spark, sf_dir, "supplier").select("s_nationkey").distinct().collect()}
    floor = (1 - 0.85) / n
    assert all(r1[k] > floor * 1.01 for k in supp_nations if k in r1)


def test_full_coverage_and_determinism(spark, sf_dir):
    n = load_table(spark, sf_dir, "embeddings").count()
    prof1 = {r.cluster: r.n_members
             for r in kmeans_embeddings(spark, sf_dir).collect()}
    prof2 = {r.cluster: r.n_members
             for r in kmeans_embeddings(spark, sf_dir).collect()}
    assert prof1 == prof2
    assert sum(prof1.values()) == n
    assert len(prof1) <= KM_DET_K


def test_recursive_cte_bfs_equals_loop_form(spark, sf_dir):
    """The native WITH RECURSIVE formulation (sql_recursive_cte_bfs,
    VERDICT r8 item 7) and the keyed-min loop (graph_bfs_hops) are
    independent Spark executions of the same spec — equal row sets,
    and the CTE form's physical plan actually recurses (UnionLoop)
    rather than having been rewritten into something else."""
    from mapreducewordcounting_spark.operators.iterative import (
        graph_bfs_hops,
        sql_recursive_cte_bfs,
    )

    cte = sql_recursive_cte_bfs(spark, sf_dir)
    plan = cte._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan
    assert sorted(map(tuple, cte.collect())) == sorted(
        map(tuple, graph_bfs_hops(spark, sf_dir).collect()))


def _loop_cost(spark, run) -> tuple[int, int]:
    """``(jobs, file scans)`` of everything ``run()`` executes, as
    :func:`tools.measure.cost` counts them."""
    with cost(spark, "loop scans") as row:
        run()
    release_all_pinned(spark)
    return row["jobs"], row["scans"]


def test_loop_scans_do_not_grow_with_iterations(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """Each graph loop cuts its loop-invariant inputs once, before the
    loop, so its table scans are the same for any iteration count. The
    loops get their inputs as the registered queries pass them: uncut,
    except ``lpa_labels``' adjacency, which both LPA queries cut lazily
    because ``graph_modularity_score`` reads it again after the loop.
    k-means is exempt: each Lloyd step is one scan of the data it
    clusters by design (:func:`iterative.lloyd`)."""
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"))

    def pagerank(iters):
        edges = iterative.trade_edges(spark, sf_dir)
        return lambda: iterative.pagerank(edges, nodes, iters=iters).collect()

    pr = [_loop_cost(spark, pagerank(i)) for i in (1, 2, 3)]
    assert pr[0][1] == pr[1][1] == pr[2][1], pr
    per_iter = pr[1][0] - pr[0][0]
    assert pr[2][0] - pr[1][0] == per_iter < 15, pr

    sources = nodes.filter(F.col("node") == 0)

    def bfs(hops):
        lanes = iterative.major_lanes(spark, sf_dir, iterative.BFS_EDGE_MULT)
        return lambda: iterative.bfs_min_hops(
            lanes, sources, max_hops=hops).collect()

    bf = [_loop_cost(spark, bfs(h)) for h in (2, 4)]
    assert bf[0][0] < bf[1][0] and bf[0][1] == bf[1][1], bf

    def lpa(sweeps):
        def run():
            monkeypatch.setattr(iterative, "LPA_ITERS", sweeps)
            adj = iterative.adjacency(iterative.undirected(
                iterative.major_lanes(spark, sf_dir,
                                      iterative.BFS_EDGE_MULT))
            ).localCheckpoint()
            iterative.lpa_labels(adj).collect()
            release(adj)
        return run

    lp = [_loop_cost(spark, lpa(n)) for n in (2, 4)]
    assert lp[0][0] < lp[1][0] and lp[0][1] == lp[1][1], lp

    def components(length):
        path = str(tmp_path / f"path{length}")
        spark.createDataFrame(
            [(i, i + 1) for i in range(length)], "id_a long, id_b long"
        ).write.parquet(path)

        def run():
            pairs = spark.read.parquet(path)
            component_labels(pairs.unionByName(pairs.select(
                F.col("id_b").alias("id_a"),
                F.col("id_a").alias("id_b")))).collect()
        return run

    # a longer path needs more min-label sweeps to converge
    cc = [_loop_cost(spark, components(n)) for n in (2, 6)]
    assert cc[0][0] < cc[1][0] and cc[0][1] == cc[1][1], cc
