"""Core relational operators (SURVEY.md §2.2 — M1).

The reference has projection (sendFileByFile.cpp:94-97), filter (:92),
and hash aggregation (:150-200, :353-374) but **no joins, no set ops,
no limit/top-k, one agg fn (sum)**. This module generalizes that to
the full relational surface over the star-schema fixtures, expressed
declaratively so Catalyst supplies pushdown/pruning/reordering
(SURVEY.md §4.1) and AQE handles skew/coalescing at 100 TB.

Scale notes per query are in each docstring; shared rules:
- dimension tables (region/nation/supplier/part/customer) are
  explicitly ``F.broadcast()`` so the fact-side join is shuffle-free;
- fact-fact joins (lineitem ⋈ orders) shuffle on the join key — the
  plan a 1000-executor sort-merge join wants;
- money aggregates use exact DECIMAL arithmetic cast to double
  (functions/numeric.py) so results are order-independent and the
  driver's value-hash is stable.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.numeric import (
    davg,
    dsum,
    money,
    net_price,
)
from mapreducewordcounting_spark.registry import register

_SQL_NET = ("(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))))")


# --------------------------------------------------------------------------
# Projection + filter (reference O6/O7 generalized)
# --------------------------------------------------------------------------

@register(
    "filter_project",
    oracle=f"""
        SELECT l_orderkey,
               l_linenumber,
               CAST({_SQL_NET} AS DOUBLE) AS net_price,
               l_returnflag
        FROM lineitem
        WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.08
              AND l_returnflag <> 'N'
    """,
    tags=("relational", "filter", "projection"),
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """σ + π with a computed column. The predicates reach the parquet
    scan as PushedFilters; only 6 of 11 lineitem columns are read."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") > 30)
            & F.col("l_discount").between(0.02, 0.08)
            & (F.col("l_returnflag") != "N")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            net_price().cast("double").alias("net_price"),
            "l_returnflag",
        )
    )


# --------------------------------------------------------------------------
# Joins — every kind (absent in reference; SURVEY.md §2.2 "Joins")
# --------------------------------------------------------------------------

@register(
    "join_broadcast_dim",
    oracle=f"""
        SELECT p.p_brand,
               CAST(sum({_SQL_NET}) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    """,
    tags=("relational", "join", "broadcast"),
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dim with an explicit broadcast: zero shuffle on the
    lineitem side (the dim ships to every executor once). At 100 TB the
    fact table never moves — this is the plan that survives scale-up."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            dsum(net_price()).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "join_fact_fact",
    oracle="""
        SELECT o.o_orderpriority,
               count(DISTINCT o.o_orderkey) AS n_orders,
               sum(l.l_quantity) AS total_qty
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY o.o_orderpriority
    """,
    tags=("relational", "join", "sort-merge"),
)
def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ fact: both sides shuffle on the key → sort-merge join.
    The o_orderstatus filter pushes below the join (Catalyst), cutting
    the shuffled volume before the exchange. (l_quantity is
    integer-valued, so a double sum is exact — no decimal cast.)"""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_orderkey").alias("n_orders"),
            F.sum("l_quantity").alias("total_qty"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
        SELECT c.c_mktsegment,
               count(*) AS n_customers,
               count(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
    """,
    tags=("relational", "join", "outer"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (the NULL
    side is counted by count(col) vs count(*))."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "join_semi",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_active
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
        GROUP BY c_mktsegment
    """,
    tags=("relational", "join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): emits each customer at most once; the
    probe side never materializes order columns."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "leftsemi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "join_anti",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_inactive
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 400000)
        GROUP BY c_mktsegment
    """,
    tags=("relational", "join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no high-value order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "leftanti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive"))
    )


@register(
    "join_star_schema",
    oracle=f"""
        SELECT n.n_name AS nation,
               r.r_name AS region,
               CAST(sum({_SQL_NET}) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderstatus <> 'P'
        GROUP BY n.n_name, r.r_name
    """,
    tags=("relational", "join", "star"),
)
def join_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way star join: one shuffle join on the two
    facts, then broadcast hops up the dimension chain. At 100 TB only
    lineitem⋈orders exchanges data; customer/nation/region ship whole."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(dsum(net_price()).alias("revenue"))
    )


@register(
    "join_theta",
    oracle="""
        SELECT n.n_name, count(*) AS n_bigger_regions
        FROM nation n JOIN region r ON n.n_regionkey < r.r_regionkey
        GROUP BY n.n_name
    """,
    tags=("relational", "join", "theta"),
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join — becomes BroadcastNestedLoopJoin. Only
    sane when one side broadcasts; both sides here are dims."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey < r.r_regionkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_bigger_regions"))
    )


# --------------------------------------------------------------------------
# Aggregations (reference O8+O11 generalized from sum-only)
# --------------------------------------------------------------------------

@register(
    "agg_suite",
    oracle=f"""
        SELECT l_returnflag,
               l_linestatus,
               sum(l_quantity) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_base_price,
               CAST(sum({_SQL_NET}) AS DOUBLE) AS sum_disc_price,
               sum(l_quantity) / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS avg_price,
               min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "agg"),
)
def agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: sum/avg/min/max/count in one
    partial+final HashAggregate pass (the reference's two map<string,int>
    phases, sendFileByFile.cpp:150/:353, generalized to 8 aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum(money("l_extendedprice")).alias("sum_base_price"),
            dsum(net_price()).alias("sum_disc_price"),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            davg(money("l_extendedprice")).alias("avg_price"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
        SELECT o_orderstatus,
               count(DISTINCT o_custkey) AS n_customers,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("relational", "agg", "distinct"),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation — expands to a two-phase plan
    (distinct keys first, then count). For 100 TB cardinality work use
    agg_approx_distinct instead."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL sketch values are engine-specific; the internal
    # test bounds relative error against the exact count instead.
    tags=("relational", "agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the constant-memory
    cardinality path required at 100 TB (SURVEY.md §2.2 sketches)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers")
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("relational", "agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total) in one
    Expand + HashAggregate — no second scan of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


@register(
    "agg_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price,
               count(*) AS n_orders
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("relational", "agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping sets in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        dsum(money("o_totalprice")).alias("sum_price"),
        F.count("*").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Sorts / limit / top-k (reference O12 + the limit it lacks)
# --------------------------------------------------------------------------

@register(
    "topk_global",
    oracle="""
        SELECT o_orderkey, o_totalprice AS total_price
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    tags=("relational", "sort", "topk"),
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    each partition keeps only k rows, the driver merges k·P rows. No
    global sort ever materializes (safe at any scale). o_orderkey
    tie-break keeps the result set deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("o_totalprice").alias("total_price"))
    )


# --------------------------------------------------------------------------
# Set operations (absent in reference)
# --------------------------------------------------------------------------

@register(
    "setop_union",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("relational", "setop"),
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): union + dedup in one hash aggregate."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "setop_intersect",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("relational", "setop"),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_except",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 8000
    """,
    tags=("relational", "setop"),
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no high-balance supplier."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = (load_table(spark, sf_dir, "supplier")
         .filter(F.col("s_acctbal") > 8000)
         .select(F.col("s_nationkey").alias("nationkey")))
    return c.subtract(s)  # EXCEPT (distinct); exceptAll = multiset variant


@register(
    "subquery_correlated",
    oracle="""
        SELECT p_brand, count(*) AS n_above_avg
        FROM part p
        WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2
                               WHERE p2.p_brand = p.p_brand)
        GROUP BY p_brand
    """,
    tags=("relational", "subquery"),
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (RewriteCorrelatedScalarSubquery, SURVEY.md §4.1),
    so it runs as one pass, not row-at-a-time."""
    part = load_table(spark, sf_dir, "part")
    part.createOrReplaceTempView("part_v")
    return spark.sql("""
        SELECT p_brand, count(*) AS n_above_avg
        FROM part_v p
        WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part_v p2
                               WHERE p2.p_brand = p.p_brand)
        GROUP BY p_brand
    """)


@register(
    "join_full_outer",
    oracle="""
        SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
               count(c.c_custkey) AS n_customers,
               count(s.s_suppkey) AS n_suppliers
        FROM (SELECT c_nationkey, c_custkey FROM customer
              WHERE c_acctbal > 9000) c
        FULL OUTER JOIN (SELECT s_nationkey, s_suppkey FROM supplier
                         WHERE s_acctbal > 9000) s
          ON c.c_nationkey = s.s_nationkey
        GROUP BY coalesce(c.c_nationkey, s.s_nationkey)
    """,
    tags=("relational", "join", "outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations present on either side survive with
    NULLs on the absent side (high-balance filters make both sides
    sparse so all three match cases occur)."""
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_acctbal") > 9000).select("c_nationkey", "c_custkey"))
    s = (load_table(spark, sf_dir, "supplier")
         .filter(F.col("s_acctbal") > 9000).select("s_nationkey", "s_suppkey"))
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .groupBy(F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"))
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.count("s_suppkey").alias("n_suppliers"),
        )
    )


@register(
    "join_cross",
    oracle="""
        SELECT r1.r_name AS region_a, r2.r_name AS region_b
        FROM region r1 CROSS JOIN region r2
        WHERE r1.r_regionkey <> r2.r_regionkey
    """,
    tags=("relational", "join", "cross"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (dims only — a cross join on facts is
    the one plan that never survives scale-up; the engine's only fact-
    side cross is the broadcast query set in similarity search)."""
    r1 = load_table(spark, sf_dir, "region").select(
        F.col("r_name").alias("region_a"), F.col("r_regionkey").alias("k1"))
    r2 = load_table(spark, sf_dir, "region").select(
        F.col("r_name").alias("region_b"), F.col("r_regionkey").alias("k2"))
    return (r1.crossJoin(r2).filter(F.col("k1") != F.col("k2"))
            .select("region_a", "region_b"))


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("relational", "agg", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-flag, per-status
    and grand total in one Expand pass."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@register(
    "sort_multi_key",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_totalprice > 450000
        ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey
    """,
    tags=("relational", "sort"),
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort (range partitioning + in-partition sort).
    Kept behind a selective filter: a full-table global sort is a
    deliberate anti-pattern at 100 TB (use sortWithinPartitions or
    top-k instead). Order-insensitive value check still applies; the
    sort exercises the range-exchange plan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 450000)
        .orderBy(F.asc("o_orderstatus"), F.desc("o_totalprice"),
                 F.asc("o_orderkey"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "agg_pivot",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("relational", "agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts by priority × status. The
    pivot values are declared explicitly — at scale an undeclared
    pivot triggers a distinct-scan of the pivot column first; declared
    values make it a single pass."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))  # count("*") is rejected inside pivot
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@register(
    "agg_unpivot",
    oracle="""
        SELECT l_orderkey, l_linenumber, rate_kind, rate
        FROM (
            SELECT l_orderkey, l_linenumber, 'discount' AS rate_kind,
                   l_discount AS rate
            FROM lineitem WHERE l_linenumber = 1
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'tax' AS rate_kind,
                   l_tax AS rate
            FROM lineitem WHERE l_linenumber = 1
        )
    """,
    tags=("relational", "agg", "unpivot"),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via the built-in melt/unpivot — the
    normalize-before-aggregate step of metric pipelines (one row per
    (row, metric) without a self-union of scans)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_linenumber") == 1)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        [F.col("l_discount").alias("discount"), F.col("l_tax").alias("tax")],
        "rate_kind",
        "rate",
    )


@register(
    "sample_seeded",
    oracle=None,  # sampling is engine-specific; determinism-with-seed
    # and rate bounds pinned in tests/test_sampling.py.
    tags=("relational", "sample", "approx"),
)
def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample (10%) + aggregate — the scan-rate
    estimator pattern: statistics on a fixed sample with
    reproducibility from the seed, long before a full pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.sample(fraction=0.1, seed=42)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("l_quantity").alias("qty_sampled"),
        )
    )


@register(
    "agg_boolean",
    oracle="""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
               bool_or(l_tax = 0) AS any_tax_free,
               bool_and(l_quantity >= 1) AS all_qty_positive
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("relational", "agg", "boolean"),
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: count_if / any / every."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_high_disc"),
        F.some(F.col("l_tax") == 0).alias("any_tax_free"),
        F.every(F.col("l_quantity") >= 1).alias("all_qty_positive"),
    )


@register(
    "agg_argminmax",
    oracle="""
        SELECT o_orderstatus,
               arg_max(o_orderkey, o_totalprice) AS biggest_order,
               arg_min(o_orderkey, o_totalprice) AS smallest_order,
               max(o_totalprice) AS max_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("relational", "agg", "argminmax"),
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (arg_max/arg_min): the key of the extreme row
    without a self-join back. (o_totalprice is unique enough in the
    fixture that ties don't arise; with ties these are
    engine-nondeterministic and belong in rows-only queries.)"""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "agg_collect",
    oracle="""
        SELECT n_regionkey,
               array_to_string(list_sort(list(n_name)), '|') AS nations,
               len(list_distinct(list(n_name))) AS n_distinct
        FROM nation
        GROUP BY n_regionkey
    """,
    tags=("relational", "agg", "collect"),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list into a sorted array (sorted for determinism —
    bare collect_list order is partitioning-dependent), surfaced as a
    '|'-joined string: the driver's canonicalizer sorts+hashes pandas
    values, and Python lists are unhashable, so array-typed *result*
    columns can't be oracle-compared (round-1 CORRECTNESS err).
    Dimension-sized groups only: collecting a fact table into one row
    is the unbounded-state anti-pattern."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), "|")
        .alias("nations"),
        F.size(F.array_distinct(F.collect_list("n_name"))).alias("n_distinct"),
    )


#: one conf-isolated session for the bloom-SMJ query (see
#: join_runtime_bloom_smj docstring), memoized per live SparkContext.
#: The memo holds (context, session) and hits only on OBJECT IDENTITY
#: of the context — a bare id() key could collide when CPython recycles
#: a stopped context's address and hand back a session bound to a dead
#: context (r5 self-review); keeping the context reference makes the
#: identity check sound, and the single-slot clear-on-miss drops the
#: previous (possibly stopped) context's session.
_BLOOM_SESSION: list = []  # [(SparkContext, SparkSession)] — ≤1 entry
_BLOOM_SESSION_LOCK = threading.Lock()


def _bloom_session(spark: SparkSession) -> SparkSession:
    # lock: concurrent registry callers (the very scenario the conf
    # isolation exists for) must not interleave clear()+append() and
    # leak a second session past the single-slot invariant
    with _BLOOM_SESSION_LOCK:
        if _BLOOM_SESSION and _BLOOM_SESSION[0][0] is spark.sparkContext:
            return _BLOOM_SESSION[0][1]
        s = spark.newSession()
        s.conf.set("spark.sql.optimizer.runtime.bloomFilter."
                   "applicationSideScanSizeThreshold", "0")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _BLOOM_SESSION.clear()
        _BLOOM_SESSION.append((spark.sparkContext, s))
        return s


@register(
    "join_runtime_bloom_smj",
    oracle="""
        SELECT l.l_returnflag,
               count(*) AS n_rows,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_totalprice > 150000
        GROUP BY l.l_returnflag
    """,
    tags=("join", "runtime-filter", "bloom", "smj"),
)
def join_runtime_bloom_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (``InjectRuntimeFilter``) —
    the non-partition-column sibling of dynamic partition pruning:
    when a selective dimension joins a fact on a NON-partition key in
    a shuffle join, Spark builds a Bloom filter from the dim's join
    keys at runtime (``bloom_filter_agg``) and pushes a
    ``might_contain`` probe into the fact side BEFORE the exchange —
    fact rows that cannot match are dropped pre-shuffle, cutting
    exchange volume by the dim's selectivity. Broadcast joins don't
    need this (the hash table itself filters); it is the SMJ path's
    rescue, which is exactly the 100 TB fact⋈fact case.

    The injection thresholds are sized for real clusters
    (application side ≥ 10 GB scan by default), so this query scopes
    them down for the fixture — the PLAN SHAPE (bloom build + probe
    before exchange, asserted in tests/test_plans.py) is the
    contract; the thresholds are the knob a deployment tunes.

    Conf isolation: the overrides live in a private session — same
    SparkContext, PRIVATE SQLConf — so a concurrently planned query in
    the caller's session can never lose its broadcast joins to this
    query's ``autoBroadcastJoinThreshold=-1`` window, and a later
    re-plan of the returned DataFrame (which belongs to the private
    session) still sees the bloom thresholds. This replaces the
    earlier set/finally-restore on the shared session, which was a
    cross-query leak under concurrency. The private session is MEMOIZED
    per SparkContext (ADVICE r4: bench calls each headline query 4×,
    and a fresh ``newSession()`` per call accumulated live sessions —
    each with its own SQLConf/listener state — on the shared context;
    one session per context is the steady state)."""
    s = _bloom_session(spark)
    li = load_table(s, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity")
    o = load_table(s, sf_dir, "orders").filter(
        F.col("o_totalprice") > 150000).select("o_orderkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"),
             F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
    )


#: spatial neighbor-join geometry: synthetic unit-square coordinates
#: (md5 of the user id — deterministic on any engine), neighbor radius
#: 0.1, grid cell = radius so 9 cells cover every possible neighbor.
SPATIAL_RADIUS = 0.1

_SQL_COORD = ("(CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) "
              "|| ':{axis}'), 1, 8)) AS BIGINT) % 10000) / 10000.0")


def spatial_neighbor_pairs(pts: DataFrame, id_col: str, x_col: str,
                           y_col: str, radius: float) -> DataFrame:
    """Library form of the grid-bucketed radius join (the registered
    query instantiates it on md5-synthesized coordinates; the
    hypothesis differential drives it with arbitrary point sets).
    ``pts`` carries one row per point (unique ``id_col``). Returns one
    row per unordered pair with squared distance < radius²:
    (ua, ub, ax, ay, d2), ua < ub.

    Plan: snap to an r-sized grid; the probe side explodes to its 3×3
    cell neighborhood, the build side keeps its unique home cell, and
    an EQUI join on the cell key bounds candidates at
    O(n · density · 9) — the id orientation kills mirrors, exact
    distance is a residual."""
    r = float(radius)
    cell = pts.select(
        F.col(id_col), F.col(x_col).alias("x"), F.col(y_col).alias("y"),
        F.floor(F.col(x_col) / r).cast("bigint").alias("cx"),
        F.floor(F.col(y_col) / r).cast("bigint").alias("cy"))
    probe = cell.select(
        F.col(id_col).alias("ua"), F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(F.expr(
            "flatten(transform(sequence(-1, 1), dx -> "
            "transform(sequence(-1, 1), dy -> "
            "struct(cx + dx AS cx, cy + dy AS cy))))")).alias("nb"))
    build = cell.select(
        F.col(id_col).alias("ub"), F.col("x").alias("bx"),
        F.col("y").alias("by"), "cx", "cy")
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    return (probe.join(
        build,
        (F.col("nb.cx") == F.col("cx")) & (F.col("nb.cy") == F.col("cy"))
        & (F.col("ua") < F.col("ub")))
        .select("ua", "ub", "ax", "ay", d2.alias("d2"))
        .filter(F.col("d2") < r * r))



@register(
    "join_spatial_neighbors",
    oracle=f"""
        WITH pts AS (
            SELECT DISTINCT user_id,
                   {_SQL_COORD.format(axis='x')} AS x,
                   {_SQL_COORD.format(axis='y')} AS y
            FROM events),
        pairs AS (
            SELECT a.user_id AS ua, a.x AS ax, a.y AS ay,
                   (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) AS d2
            FROM pts a JOIN pts b
              ON a.user_id < b.user_id
             AND (a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)
                 < {SPATIAL_RADIUS} * {SPATIAL_RADIUS})
        SELECT CAST(floor(ax / {SPATIAL_RADIUS}) AS BIGINT) AS cell_x,
               count(*) AS n_pairs,
               round(min(sqrt(d2)), 6) AS min_dist,
               round(avg(sqrt(d2)), 6) AS avg_dist
        FROM pairs
        GROUP BY 1
    """,
    tags=("join", "spatial", "grid"),
)
def join_spatial_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor join (all point pairs within radius r) — like
    as-of, range, and interval joins, a shape Spark has no native
    operator for, and the third member of this repo's bucket-join
    family. The naive form is the distance theta-join (the oracle):
    O(n²) comparisons. The scalable form snaps points to an r-sized
    grid; one side keeps its OWN cell, the other explodes to the 3×3
    neighborhood, and an EQUI join on the cell key produces only
    candidates that can possibly be within r — expected candidates
    O(n · density · 9 cells), never n². Each unordered pair surfaces
    exactly once: the probe's 9 cells meet the build's unique home
    cell, and the user_id < user_id orientation filter kills the
    mirror. Exact distance is a residual predicate.

    Coordinates are md5-synthesized into the unit square (the fixture
    has no geo columns) — deterministic, so the whole join is
    DuckDB-oracled. At real scale the same plan serves geohash
    proximity, embedding-grid blocking, and collision detection; cell
    size stays = r and only the hash becomes a real geohash."""
    ev = load_table(spark, sf_dir, "events")

    def coord(axis: str):
        return (F.conv(F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"),
                           F.lit(f":{axis}"))), 1, 8), 16, 10)
            .cast("bigint") % 10000) / 10000.0

    pts = ev.select("user_id").distinct().select(
        "user_id", coord("x").alias("x"), coord("y").alias("y"))
    r = SPATIAL_RADIUS
    pairs = spatial_neighbor_pairs(pts, "user_id", "x", "y", r)
    return (pairs.groupBy(
        F.floor(F.col("ax") / r).cast("bigint").alias("cell_x"))
        .agg(F.count("*").alias("n_pairs"),
             F.round(F.min(F.sqrt("d2")), 6).alias("min_dist"),
             F.round(F.avg(F.sqrt("d2")), 6).alias("avg_dist")))


@register(
    "join_null_safe",
    oracle="""
        WITH f AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'error' AND value > 150
                            THEN CAST(date_trunc('day', ts) AS DATE)
                       END) AS first_error_day
            FROM events GROUP BY user_id)
        SELECT a.first_error_day,
               count(*) AS n_pairs
        FROM f a JOIN f b
          ON a.first_error_day IS NOT DISTINCT FROM b.first_error_day
         AND a.user_id < b.user_id
        GROUP BY a.first_error_day
    """,
    tags=("join", "null-safe", "relational"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): pair
    users whose first SEVERE-error day (value > 150) is THE SAME —
    including the never-severely-errored cohort, whose key is NULL
    and which a plain equi-join silently drops (the classic
    silent-loss bug this surface exists to fix; the NULL cohort is
    half the users on this fixture and IS the interesting group —
    the n_pairs row with a NULL key). Emitted
    per key with the pair count, so the output is |days|-grain.

    Plan note: Spark hashes `<=>` keys like ordinary equi-keys
    (null-safe equality is a valid hash-join key, NULLs hashing to
    one partition), so this stays a hash/sort-merge join — no
    nested-loop penalty for the null-safe form; the skew hazard is
    the NULL key itself when most rows carry it (then: the standard
    salt/AQE-skew treatment, or pre-splitting the NULL cohort)."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when((F.col("event_type") == "error")
                     & (F.col("value") > 150),
                     F.date_trunc("day", "ts").cast("date")))
        .alias("first_error_day"))
    a = f.select(F.col("user_id").alias("u_a"),
                 F.col("first_error_day").alias("d_a"))
    b = f.select(F.col("user_id").alias("u_b"),
                 F.col("first_error_day").alias("d_b"))
    return (
        a.join(b, a["d_a"].eqNullSafe(b["d_b"])
               & (F.col("u_a") < F.col("u_b")))
        .groupBy(F.col("d_a").alias("first_error_day"))
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "part_abc_pareto",
    oracle=f"""
        WITH rev AS (
            SELECT l_partkey,
                   CAST(sum({_SQL_NET}) * 10000 AS BIGINT) AS rev_e4
            FROM lineitem GROUP BY l_partkey),
        ranked AS (
            SELECT l_partkey, rev_e4,
                   sum(rev_e4) OVER (
                       ORDER BY rev_e4 DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                   sum(rev_e4) OVER () AS total
            FROM rev),
        classed AS (
            SELECT CASE WHEN cum * 10 <= 7 * total THEN 'A'
                        WHEN cum * 10 <= 9 * total THEN 'B'
                        ELSE 'C' END AS abc_class,
                   rev_e4, total
            FROM ranked)
        SELECT abc_class,
               count(*) AS n_parts,
               CAST(sum(rev_e4) AS BIGINT) AS class_revenue_e4,
               round(CAST(sum(rev_e4) AS DOUBLE) / max(total), 6)
                   AS revenue_share
        FROM classed
        GROUP BY abc_class
    """,
    tags=("relational", "analytics", "pareto", "window"),
)
def part_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by net revenue — the
    inventory-management classic (A = the head SKUs carrying 70% of
    revenue, B the next 20, C the tail): exact decimal revenue per
    part scaled to an INTEGER (1e-4 units), ranked, cumulative-share
    bucketed with ALL-INTEGER threshold math (``cum·10 ≤ 7·total``
    instead of a float share comparison — a boundary part classifies
    identically on every engine by construction); the only double is
    the final reported share, rounded at 6.

    Scale shape: the revenue rollup is the fact-scale aggregate
    (map-side combined, one exchange on l_partkey); the ranking
    window is GLOBAL but runs over the CATALOG-grain revenue table —
    dimension-sized by definition of SKU analytics — with cum and
    total sharing one Window sort (single-partition, the documented
    exception to the no-unpartitioned-windows rule: |parts|, not
    |lineitem|). Class rollup is a 3-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        (F.sum(net_price()) * 10000).cast("bigint").alias("rev_e4"))
    w_cum = (Window.orderBy(F.desc("rev_e4"), "l_partkey")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = (Window.orderBy(F.desc("rev_e4"), "l_partkey")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    ranked = rev.select(
        "rev_e4",
        F.sum("rev_e4").over(w_cum).alias("cum"),
        F.sum("rev_e4").over(w_all).alias("total"))
    abc = (F.when(F.col("cum") * 10 <= 7 * F.col("total"), F.lit("A"))
           .when(F.col("cum") * 10 <= 9 * F.col("total"), F.lit("B"))
           .otherwise(F.lit("C")))
    return (
        ranked.select(abc.alias("abc_class"), "rev_e4", "total")
        .groupBy("abc_class")
        .agg(F.count("*").alias("n_parts"),
             F.sum("rev_e4").cast("bigint").alias("class_revenue_e4"),
             F.round(F.sum("rev_e4").cast("double") / F.max("total"), 6)
             .alias("revenue_share"))
    )


@register(
    "part_skyline_dominance",
    oracle="""
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size <= p.p_size
              AND (q.p_retailprice < p.p_retailprice
                   OR q.p_size < p.p_size))
    """,
    tags=("analytics", "skyline", "pareto-front", "window"),
)
def part_skyline_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query over parts minimizing
    (p_retailprice, p_size) — "show me the parts for which no other
    part is both cheaper and smaller" (Borzsony/Kossmann/Stocker,
    ICDE 2001). A part is dominated when some other part is <= on both
    dimensions and strictly < on at least one; equal-(price, size)
    twins never dominate each other, so both survive. The
    multi-objective sibling of part_abc_pareto's single-axis
    cumulative-share cut.

    Plan shape — the textbook O(n log n) 2-D rewrite, NOT the O(n^2)
    dominance self-join the oracle states: reduce to the distinct-
    price grain (min size per price, one map-side-combinable
    aggregate), take the running strict-prior minimum of that column
    in price order (one window over the PRICE GRAIN — bounded by
    |distinct prices|, not |parts|), and a part survives iff it holds
    its price group's minimum size AND beats every cheaper group's
    best. The price-grain relation re-joins the part table broadcast
    (at 100 TB the price grain is catalog-sized while parts are not).
    All comparisons are exact (double equality on untouched parquet
    values, integer sizes) — no FP expression is ever synthesized, so
    the oracle's independent NOT EXISTS formulation must agree row
    exactly."""
    part = load_table(spark, sf_dir, "part")
    by_price = (part.groupBy("p_retailprice")
                .agg(F.min("p_size").alias("min_size")))
    w_prior = (Window.orderBy("p_retailprice")
               .rowsBetween(Window.unboundedPreceding, -1))
    frontier = (
        by_price
        .withColumn("prior_best", F.min("min_size").over(w_prior))
        .filter(F.col("prior_best").isNull()
                | (F.col("min_size") < F.col("prior_best")))
        # rename: the probe below is lineage-wise a self-join
        .select(F.col("p_retailprice").alias("sky_price"),
                F.col("min_size").alias("sky_size"))
    )
    return (
        part.join(F.broadcast(frontier),
                  (F.col("p_retailprice") == F.col("sky_price"))
                  & (F.col("p_size") == F.col("sky_size")))
        .select("p_partkey", "p_retailprice", "p_size")
    )
