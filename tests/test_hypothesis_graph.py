"""Property-based differentials for the shared-structure operators:
spatial grid join, gaps-and-islands, triangle counting.

Why these three: their DuckDB oracles MIRROR the Spark construction
(grid snap, lag+running-sum, oriented wedge join), so the oracle gate
is blind to a construction bug both sides share — exactly how the
interval-concurrency adjacency off-by-one survived four green rounds
until the r5 brute-force differential caught it. These tests compare
the LIBRARY forms against plain-Python oracles that share no
structure: O(n²) distance scan, linear island walk, O(n³) triangle
enumeration.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from mapreducewordcounting_spark.operators.cdc import scd2_islands
from mapreducewordcounting_spark.operators.iterative import triangle_counts
from mapreducewordcounting_spark.operators.relational import (
    spatial_neighbor_pairs,
)
import pytest

# Deep hardening tier (VERDICT r13 item 2): deselected by default
# so the driver's pytest run finishes in budget; `make test-deep`
# runs it. See pytest.ini.
pytestmark = pytest.mark.deep


# --- spatial ---------------------------------------------------------------
#: quantized coordinates (k/8, so points land ON cell boundaries for
#: radius 0.25 — floor-edge behavior is exactly what the fixture's
#: md5 coordinates never exercise), including negatives.
_pt = st.tuples(st.integers(min_value=-8, max_value=16),
                st.integers(min_value=-8, max_value=16))
_R = 0.25


@settings(max_examples=20, deadline=None)
@given(st.lists(_pt, min_size=0, max_size=12, unique=True))
def test_spatial_pairs_match_bruteforce(spark_h, pts):
    rows = [(i, x / 8.0, y / 8.0) for i, (x, y) in enumerate(pts)]
    df = spark_h.createDataFrame(rows, "pid INT, x DOUBLE, y DOUBLE") \
        if rows else spark_h.createDataFrame([], "pid INT, x DOUBLE, y DOUBLE")
    got = {(r.ua, r.ub) for r in
           spatial_neighbor_pairs(df, "pid", "x", "y", _R).collect()}
    want = set()
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            d2 = ((rows[a][1] - rows[b][1]) ** 2
                  + (rows[a][2] - rows[b][2]) ** 2)
            if d2 < _R * _R:  # strict, matching the operator
                want.add((a, b))
    assert got == want


# --- gaps and islands ------------------------------------------------------
_ev = st.tuples(st.integers(min_value=0, max_value=2),   # key
                st.integers(min_value=0, max_value=5),   # ts offset
                st.one_of(st.none(),                     # value (NULL too)
                          st.sampled_from(["a", "b"])))
_T0 = dt.datetime(2020, 1, 1)


@settings(max_examples=20, deadline=None)
@given(st.lists(_ev, min_size=0, max_size=12))
def test_scd2_islands_match_linear_walk(spark_h, evs):
    rows = [(k, i, _T0 + dt.timedelta(seconds=ts), v)
            for i, (k, ts, v) in enumerate(evs)]
    schema = "k INT, tb INT, ts TIMESTAMP, v STRING"
    df = (spark_h.createDataFrame(rows, schema) if rows
          else spark_h.createDataFrame([], schema))
    got = {(r.k, r.v, r.island, r.valid_from, r.valid_to, r.n_events)
           for r in scd2_islands(df, "k", "ts", "tb", "v").collect()}

    want = set()
    for k in {r[0] for r in rows}:
        seq = sorted(((ts, tb, v) for kk, tb, ts, v in rows if kk == k))
        prev = object()
        groups: list[list] = []
        for ts, tb, v in seq:
            if v != prev:
                groups.append([v, ts, ts, 0])
                prev = v
            groups[-1][2] = ts
            groups[-1][3] += 1
        run = 0
        for g in groups:
            # island id = running count of changes: the first group's
            # lag is NULL -> counts as a change unless value is NULL
            # too (null-safe equality: NULL==NULL is NOT a change)
            first_of_key = g is groups[0]
            changed = not (first_of_key and g[0] is None)
            run += 1 if changed else 0
            want.add((k, g[0], run, g[1], g[2], g[3]))
    assert got == want


# --- triangles --------------------------------------------------------------
_edge = st.tuples(st.integers(min_value=0, max_value=6),
                  st.integers(min_value=0, max_value=6))


@settings(max_examples=20, deadline=None)
@given(st.lists(_edge, min_size=0, max_size=15))
def test_triangle_counts_match_bruteforce(spark_h, edges):
    df = (spark_h.createDataFrame(edges, "src INT, dst INT") if edges
          else spark_h.createDataFrame([], "src INT, dst INT"))
    got = {(r.node, r.n_triangles) for r in triangle_counts(df).collect()}
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    want: dict[int, int] = {}
    for a in sorted(nodes):
        for b in sorted(nodes):
            if b <= a:
                continue
            for c in sorted(nodes):
                if c <= b:
                    continue
                if (frozenset((a, b)) in und
                        and frozenset((b, c)) in und
                        and frozenset((a, c)) in und):
                    for n in (a, b, c):
                        want[n] = want.get(n, 0) + 1
    assert got == set(want.items())


# --- hop-bounded BFS -------------------------------------------------------
#: small directed multigraph edges over ≤6 nodes (cycles, self-loops,
#: duplicates all allowed — the library must tolerate them)
_edge = st.tuples(st.integers(min_value=0, max_value=5),
                  st.integers(min_value=0, max_value=5))


@settings(max_examples=20, deadline=None)
@given(st.lists(_edge, min_size=0, max_size=15),
       st.integers(min_value=0, max_value=5),
       st.integers(min_value=0, max_value=4))
def test_bfs_min_hops_matches_queue_bfs(spark_h, edges, source, max_hops):
    from mapreducewordcounting_spark.operators.iterative import bfs_min_hops
    schema_e = "src INT, dst INT"
    df_e = (spark_h.createDataFrame(edges, schema_e) if edges
            else spark_h.createDataFrame([], schema_e))
    df_s = spark_h.createDataFrame([(source,)], "node INT")
    got = {(r.node, r.hops) for r in
           bfs_min_hops(df_e, df_s, max_hops=max_hops).collect()}

    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    want = {source: 0}
    frontier = [source]
    for depth in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in want:
                    want[v] = depth
                    nxt.append(v)
        frontier = nxt
    assert got == {(n, h) for n, h in want.items()}


# --- jaccard link prediction -------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                min_size=0, max_size=20))
def test_jaccard_link_pred_matches_bruteforce(spark_h, edges):
    from mapreducewordcounting_spark.operators.iterative import (
        jaccard_link_scores,
    )

    df = (spark_h.createDataFrame(edges, "src INT, dst INT") if edges
          else spark_h.createDataFrame([], "src INT, dst INT"))
    got = {(r.a, r.b): (r.n_common, r.deg_a, r.deg_b, r.jaccard)
           for r in jaccard_link_scores(df).collect()}

    # set-algebra brute force: neighbor dicts, all non-edge pairs
    nbrs: dict[int, set] = {}
    eset = set()
    for s, d in edges:
        if s == d:
            continue
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
        eset.add((min(s, d), max(s, d)))
    want = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) in eset:
                continue
            common = len(nbrs[a] & nbrs[b])
            if common:
                union = len(nbrs[a] | nbrs[b])
                want[(a, b)] = (common, len(nbrs[a]), len(nbrs[b]),
                                common / union)
    assert {k: v[:3] for k, v in got.items()} == \
        {k: v[:3] for k, v in want.items()}
    for k in want:
        assert abs(got[k][3] - want[k][3]) < 1e-12


# --- degree assortativity ----------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                min_size=0, max_size=20))
def test_degree_assortativity_matches_bruteforce(spark_h, edges):
    """The registered query shares the trade-edge build with BFS/WCC
    (already differentialed); this drives the assortativity SUMS on
    arbitrary graphs by rebuilding the same stats from neighbor sets."""
    import math as m

    from mapreducewordcounting_spark.operators.iterative import (
        adjacency,
        undirected,
    )
    from pyspark.sql import functions as F

    df = (spark_h.createDataFrame(edges, "src INT, dst INT") if edges
          else spark_h.createDataFrame([], "src INT, dst INT"))
    # inline the operator's post-edge pipeline on the raw edge list
    adj = adjacency(undirected(df))
    deg = adj.groupBy("u").agg(F.count("*").alias("deg"))
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("x"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("y"))
    ends = (adj.select(F.col("u").alias("a"), F.col("v").alias("b"))
            .join(da, "a").join(db, "b"))
    row = ends.agg(
        F.count("*").alias("mm"), F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy")).collect()[0]

    nbrs: dict[int, set] = {}
    for s, d in edges:
        if s == d:
            continue
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    pairs = [(len(nbrs[u]), len(nbrs[v]))
             for u in nbrs for v in nbrs[u]]
    if not pairs:
        assert row.mm == 0
        return
    mm = len(pairs)
    sx = sum(x for x, _ in pairs)
    sy = sum(y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    sxx = sum(x * x for x, _ in pairs)
    syy = sum(y * y for _, y in pairs)
    assert (row.mm, row.sx, row.sy, row.sxy, row.sxx, row.syy) == \
        (mm, sx, sy, sxy, sxx, syy)
    den = m.sqrt((mm * sxx - sx * sx) * (mm * syy - sy * sy))
    if den:
        want = (mm * sxy - sx * sy) / den
        assert abs(want) <= 1 + 1e-9


# --- label propagation -------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)),
                min_size=0, max_size=16))
def test_label_propagation_matches_bruteforce(spark_h, edges):
    """Drive the production synchronous min-tie LPA sweep
    (``iterative.lpa_labels``) on arbitrary graphs against a
    plain-Python sweep (the oracle mirrors the Spark construction, so
    this is the structure-free third opinion); the sweep leaves only
    its final snapshot pinned."""
    from collections import Counter

    from mapreducewordcounting_spark.checkpoints import n_pinned, release
    from mapreducewordcounting_spark.operators.iterative import (
        LPA_ITERS,
        adjacency,
        lpa_labels,
        undirected,
    )

    df = (spark_h.createDataFrame(edges, "src INT, dst INT") if edges
          else spark_h.createDataFrame([], "src INT, dst INT"))
    adj = adjacency(undirected(df))
    base = n_pinned(spark_h)
    labels = lpa_labels(adj)
    assert n_pinned(spark_h) - base <= 1  # only the final sweep
    got = {r.node: r.label for r in labels.collect()}
    assert release(labels) == 1

    nbrs: dict[int, set] = {}
    for s, d in edges:
        if s == d:
            continue
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    lab = {n: n for n in nbrs}
    for _ in range(LPA_ITERS):
        new = {}
        for n in nbrs:
            cnt = Counter(lab[m] for m in nbrs[n])
            best = max(cnt.values())
            new[n] = min(l for l, c in cnt.items() if c == best)
        lab = new
    assert got == lab
