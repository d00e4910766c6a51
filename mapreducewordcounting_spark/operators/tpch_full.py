"""The remaining TPC-H query shapes (Q1, Q2, Q5, Q7, Q8, Q9, Q11, Q12,
Q13, Q17, Q20, Q21) — completing, with operators/tpch.py, all 22
decision-support patterns over the fixture star schema. The reference
implements none of these (it is one word-count query,
sendFileByFile.cpp:447-498); they are the composition workload a
general analytics engine must run, and each exercises a distinct plan
shape Catalyst must get right at 100 TB (multi-way broadcast chains,
nation-pair disjunctions, scalar-subquery thresholds, double-correlated
anti-joins).

Fixture adaptations (the synthetic schema lacks partsupp,
l_commitdate/l_receiptdate/l_shipmode, c_phone, s_comment/p_container —
FIXTURES.md): supply cost derives from lineitem min price (Q2) or a
retail-price fraction (Q9); stock value from shipped volume (Q11, Q20);
"late" means shipped >30 days after the order date (Q12, Q21);
substitutions are noted per query.

Determinism posture for oracle hashing: every money aggregate goes
through exact DECIMAL (functions/numeric.py) so sums are
order-independent and engine-identical; LIMIT appears only under a sort
with a unique tiebreaker; thresholds (Q11, Q17, Q20) are computed as
exact-decimal sums cast to double, so boundary membership cannot flip
between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.numeric import (
    davg,
    dsum,
    money,
    net_price,
    one,
)
from mapreducewordcounting_spark.registry import register

_SQL_NET = ("(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))))")
_SQL_CHARGE = (_SQL_NET[:-1]
               + " * (CAST('1.00' AS DECIMAL(3,2)) "
                 "+ CAST(l_tax AS DECIMAL(18,2))))")


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_base_price,
               CAST(sum({_SQL_NET}) AS DOUBLE) AS sum_disc_price,
               CAST(sum({_SQL_CHARGE}) AS DOUBLE) AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                   AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS avg_price,
               CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                   AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: the pricing summary report — one wide aggregate over the
    biggest table, grouped by two low-cardinality flags. The canonical
    map-side-combine query: partial HashAggregate reduces 6k (or 600B)
    rows to ≤6 groups per task before the one tiny shuffle; the date
    predicate pushes to the parquet scan. All eight money aggregates
    share one pass."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    charge = net_price() * (one() + money("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(money("l_quantity")).alias("sum_qty"),
             dsum(money("l_extendedprice")).alias("sum_base_price"),
             dsum(net_price()).alias("sum_disc_price"),
             dsum(charge).alias("sum_charge"),
             davg(money("l_quantity")).alias("avg_qty"),
             davg(money("l_extendedprice")).alias("avg_price"),
             davg(money("l_discount")).alias("avg_disc"),
             F.count("*").alias("count_order"))
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
            FROM lineitem GROUP BY l_partkey, l_suppkey),
        eur AS (
            SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'),
        pse AS (
            SELECT ps.l_partkey, ps.cost, e.s_name, e.s_acctbal, e.n_name
            FROM ps JOIN eur e ON ps.l_suppkey = e.s_suppkey)
        SELECT p.p_partkey, p.p_type, pse.s_name, pse.n_name, pse.s_acctbal,
               CAST(pse.cost AS DOUBLE) AS cost
        FROM pse
        JOIN part p ON p.p_partkey = pse.l_partkey
        WHERE p.p_size = 9 AND p.p_type = 'STANDARD'
          AND pse.cost = (SELECT min(p2.cost) FROM pse p2
                          WHERE p2.l_partkey = pse.l_partkey)
    """,
    tags=("tpch", "subquery", "correlated-min", "join"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: cheapest EUROPE supplier per qualifying part — the
    correlated-min-subquery pattern. No partsupp in the fixture, so
    supply cost is each (part, supplier)'s minimum observed line price
    (exact decimal, so the min-equality join cannot ulp-miss). The
    correlated min decorrelates to a groupBy(part).min + equi-join.

    The plan is fixed at build time, so AQE has nothing to re-plan:
    the selective part filter is broadcast into the lineitem scan
    (only qualifying parts reach the aggregate), supplier and the
    per-part minimum grow with the data and merge-join, and only
    nation and region, bounded by construction, broadcast after the
    supplier join. Every stage past the scans therefore waits on the
    part filter, and an empty filter ends the query the same way on
    every run."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 9) & (F.col("p_type") == "STANDARD")) \
        .select("p_partkey", "p_type")
    ps = (load_table(spark, sf_dir, "lineitem")
          .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .groupBy("p_partkey", "p_type", "l_suppkey")
          .agg(F.min(money("l_extendedprice")).alias("cost")))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    pse = (ps.join(s.hint("merge"), ps.l_suppkey == s.s_suppkey)
           .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    minc = pse.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("cost").alias("min_cost"))
    return (
        pse.join(minc.hint("merge"), (pse.p_partkey == F.col("mk"))
                 & (pse.cost == F.col("min_cost")))
        .select("p_partkey", "p_type", "s_name", "n_name", "s_acctbal",
                F.col("cost").cast("double").alias("cost"))
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
        SELECT n.n_name AS nation, CAST(sum({_SQL_NET}) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
    """,
    tags=("tpch", "join", "star"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: revenue from *local* supply chains (customer and supplier in
    the same ASIA nation) — the full six-table star join. The
    c_nationkey = s_nationkey condition rides on the supplier join
    rather than forcing an extra exchange; supplier/nation/region all
    broadcast, so lineitem shuffles only for the orders join and the
    final 5-row aggregate is map-side combined."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(net_price()).alias("revenue"))
    )


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
               CAST(sum({_SQL_NET}) AS DOUBLE) AS revenue
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "disjunction"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bilateral trade volume between two nations by ship year —
    the same dimension (nation) joins twice under different roles, and
    the nation-pair disjunction can only apply after both joins. Both
    nation sides broadcast; the two-year band prunes lineitem at the
    scan. At 100 TB the win is that the pair filter reduces each
    broadcast build side to one nation's keys before the fact shuffles."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("nk1"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"),
                  F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("nk1"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("nk2"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(dsum(net_price()).alias("revenue"))
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(sum(CASE WHEN n1.n_name = 'NATION_2'
                             THEN {_SQL_NET}
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(sum({_SQL_NET}) AS DOUBLE) AS mkt_share
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        JOIN region r   ON n2.n_regionkey = r.r_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        GROUP BY o_year
    """,
    tags=("tpch", "join", "conditional-agg"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: NATION_2's share of the ASIA PROMO-part market by order year
    — an eight-table join where nation again plays two roles (customer
    region membership vs supplier nationality) and the share is a
    conditional aggregate over the same exact-decimal volume that
    appears in the denominator. Every dimension broadcasts; the two
    fact shuffles (lineitem-orders, orders-customer) are all that
    moves."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO").select("p_partkey")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("nk1"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"),
                  F.col("n_regionkey").alias("rk2"))
    vol = net_price()
    nat_vol = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(
        F.lit("0").cast("decimal(18,2)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("nk2"))
        .join(F.broadcast(r), F.col("rk2") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("nk1"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg((dsum(nat_vol) / dsum(vol)).alias("mkt_share"))
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(sum({_SQL_NET}
                        - CAST(p.p_retailprice AS DECIMAL(18,2))
                          * CAST('0.10' AS DECIMAL(3,2))
                          * CAST(l.l_quantity AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_profit
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%bolt%'
        GROUP BY nation, o_year
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: profit on 'bolt' parts by supplier nation and year. No
    partsupp in the fixture, so unit supply cost is 10% of
    p_retailprice (exact decimal; substitution noted). The LIKE filter
    prunes part before it broadcasts; profit is a single decimal
    expression so the whole plan is scan → broadcast chain → one
    shuffle agg."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")).select("p_partkey", "p_retailprice")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation")
    cost = (money("p_retailprice") * F.lit("0.10").cast("decimal(3,2)")
            * money("l_quantity"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(dsum(net_price() - cost).alias("sum_profit"))
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
        WITH val AS (
            SELECT l.l_partkey,
                   sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_1'
            GROUP BY l.l_partkey)
        SELECT l_partkey, CAST(value AS DOUBLE) AS value
        FROM val
        WHERE CAST(value AS DOUBLE) >
              (SELECT CAST(sum(value) AS DOUBLE) * 0.001 FROM val)
    """,
    tags=("tpch", "subquery", "scalar", "having"),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: parts representing a significant (>0.1%) share of NATION_1's
    shipped value — the HAVING-against-a-global-scalar pattern. No
    partsupp, so 'stock value' is the summed line price shipped by
    that nation's suppliers. The per-part view aggregates once and is
    reused for both the rows and the threshold (one extra single-row
    aggregate, broadcast back as a crossJoin), not recomputed; sums
    are exact decimal so the > boundary is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_1")
    nat_supp = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
                .select("s_suppkey"))
    val = (li.join(F.broadcast(nat_supp), li.l_suppkey == nat_supp.s_suppkey)
           .groupBy("l_partkey")
           .agg(F.sum(money("l_extendedprice")).alias("dec_value")))
    thr = val.agg((F.sum("dec_value").cast("double") * 0.001).alias("thr"))
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("dec_value").cast("double") > F.col("thr"))
        .select("l_partkey", F.col("dec_value").cast("double").alias("value"))
    )


@register(
    "tpch_q12_late_lines_by_flag",
    oracle="""
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
        GROUP BY l.l_returnflag
    """,
    tags=("tpch", "join", "conditional-agg", "interval"),
)
def tpch_q12_late_lines_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12: late shipments by line category, split by order priority.
    The fixture has no l_shipmode/l_commitdate/l_receiptdate, so the
    grouping key is l_returnflag and 'late' is shipped >30 days after
    the order date (interval arithmetic on the join output — a
    cross-table predicate that cannot push below the join). The year
    band does push to the lineitem scan; priority classification is a
    CASE inside SUM, one pass."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c
              LEFT OUTER JOIN orders o
                ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey) cc
        GROUP BY c_count
    """,
    tags=("tpch", "outer-join", "agg-of-agg"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: distribution of non-urgent order counts per customer —
    the agg-of-agg histogram with a filtered LEFT OUTER join (the
    filter lives in the join condition, not WHERE, so zero-order
    customers survive with count 0). Two shuffles by construction:
    custkey, then the tiny count-valued key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
        WITH pavg AS (
            SELECT l_partkey,
                   0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                               AS DOUBLE) / count(*)) AS qty_thr
            FROM lineitem GROUP BY l_partkey)
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / 7.0 AS avg_yearly
        FROM lineitem l
        JOIN part p  ON p.p_partkey = l.l_partkey
        JOIN pavg a  ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.qty_thr
    """,
    tags=("tpch", "subquery", "correlated-avg"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: lost revenue from small-quantity Brand#1 orders — the
    correlated-average subquery, decorrelated to a per-part aggregate
    view joined back to the fact. The threshold is an exact-decimal
    mean scaled by 0.2 (deterministic double both engines). At scale
    the rewrite matters: the naive correlated form re-scans lineitem
    per part; this form is one aggregate plus one broadcast-able
    join of per-part thresholds."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1").select("p_partkey")
    pavg = (li.groupBy(F.col("l_partkey").alias("ak"))
            .agg((F.lit(0.2) * davg(money("l_quantity"))).alias("qty_thr")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pavg, li.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg((dsum(money("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )


@register(
    "tpch_q20_dominant_suppliers",
    oracle="""
        WITH shipped AS (
            SELECT l.l_partkey, l.l_suppkey,
                   sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS qty
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_name LIKE 'small%'
              AND l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l.l_partkey, l.l_suppkey),
        tot AS (
            SELECT l_partkey, sum(qty) AS total
            FROM shipped GROUP BY l_partkey)
        SELECT s.s_name, n.n_name AS nation
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_suppkey IN (
            SELECT sh.l_suppkey
            FROM shipped sh JOIN tot t ON sh.l_partkey = t.l_partkey
            WHERE CAST(sh.qty AS DOUBLE) > 0.5 * CAST(t.total AS DOUBLE))
    """,
    tags=("tpch", "subquery", "semi-join", "nested"),
)
def tpch_q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20: suppliers who dominated (>50% of shipped quantity) some
    'small%' part in 1997 — the nested-subquery semi-join. No partsupp
    availqty, so dominance is measured against total shipped volume
    per part. Two stacked aggregates over the same grouped view (the
    per-part total reuses the (part, supplier) rollup — no second
    lineitem scan), then a distinct supplier-key set semi-joins the
    10^2-row supplier table. Exact-decimal sums make the 0.5× boundary
    engine-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    shipped = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
               .groupBy("l_partkey", "l_suppkey")
               .agg(F.sum(money("l_quantity")).alias("qty")))
    tot = shipped.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("qty").alias("total"))
    dominant = (shipped.join(tot, shipped.l_partkey == F.col("tk"))
                .filter(F.col("qty").cast("double")
                        > 0.5 * F.col("total").cast("double"))
                .select("l_suppkey").distinct())
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "leftsemi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE r.r_name = 'EUROPE'
          AND o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY s.s_name
    """,
    tags=("tpch", "subquery", "exists", "not-exists"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: EUROPE suppliers who were the *sole* late supplier on a
    finished multi-supplier order ('late' = shipped >30 days after
    order date; fixture lacks commit/receipt dates). The double
    correlated EXISTS / NOT EXISTS decorrelates to per-order counts —
    distinct suppliers overall >= 2 and distinct late suppliers == 1 —
    computed as two aggregates and joined back, instead of two extra
    self-joins of lineitem per probe row. One wide shuffle on orderkey
    dominates; everything dimensional broadcasts."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    # Single pass over the F-order lineitem: collapse to one row per
    # (order, supplier) carrying its count of late rows, then read both
    # EXISTS predicates off a window over the collapsed table —
    # n_supp = suppliers on the order, n_late_supp = suppliers with a
    # late row. The decorrelated two-countDistinct formulation this
    # replaces aggregated the FULL lineitem twice and joined three
    # tables back on orderkey; here the fact shuffles once into the
    # (order, supplier) grain (~6× smaller) and the window runs over
    # that grain, not raw rows. Counting late ROWS (sum n_late_rows)
    # matches the oracle's count(*) over qualifying l1 rows.
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count_if(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ).alias("n_late_rows"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.select(
        "l_orderkey", "l_suppkey", "n_late_rows",
        F.count("*").over(w).alias("n_supp"),
        F.sum((F.col("n_late_rows") > 0).cast("long")).over(w)
        .alias("n_late_supp"),
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .select("s_suppkey", "s_name"))
    return (
        flagged.filter((F.col("n_late_rows") > 0)
                       & (F.col("n_supp") >= 2)
                       & (F.col("n_late_supp") == 1))
        .join(F.broadcast(eur), flagged.l_suppkey == eur.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").alias("numwait"))
    )
