"""Modern SQL surface (Spark 4): recursive CTEs, SQL-defined scalar and
table functions, VARIANT semi-structured extraction, URL parsing, and
sequence-generated calendar gap-fill.

The reference has no query language at all (its one query is compiled
in — sendFileByFile.cpp:447-498), so none of this has a counterpart;
it is part of the "complete engine" surface a user expects from an
analytics engine (SURVEY.md §2.2 extension rows) and each query here is
DuckDB-oracle-checked like the relational core.

Scale notes per operator are in the docstrings; the common theme is
that everything stays declarative (Catalyst sees through SQL UDFs and
inlines them — they are *macros*, not black boxes, so pushdown and
codegen still apply), and the recursive CTE is used only where its
iteration depth is structurally bounded (a ⌊k/2⌋ binary hierarchy:
depth ≤ log2(N), 5 levels for 25 nations — NOT an unbounded graph
walk; unbounded closure lives in iterative.py as a checkpointed loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.numeric import money
from mapreducewordcounting_spark.registry import register


def _view(spark: SparkSession, sf_dir: str, table: str, view: str) -> None:
    load_table(spark, sf_dir, table).createOrReplaceTempView(view)


@register(
    "sql_recursive_hierarchy",
    oracle="""
        WITH RECURSIVE tree(node, name, depth, path) AS (
            SELECT n_nationkey, n_name, 0,
                   CAST(n_nationkey AS VARCHAR)
            FROM nation WHERE n_nationkey = 0
            UNION ALL
            SELECT c.n_nationkey, c.n_name, t.depth + 1,
                   t.path || '/' || CAST(c.n_nationkey AS VARCHAR)
            FROM nation c
            JOIN tree t
              ON CAST(floor(c.n_nationkey / 2.0) AS INT) = t.node
            WHERE c.n_nationkey > 0
        )
        SELECT node, name, depth, path FROM tree
    """,
    tags=("sql", "recursive-cte", "hierarchy"),
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``) walking the derived
    nation hierarchy parent(k) = ⌊k/2⌋ — a binary tree rooted at
    nation 0 — emitting each node's depth and root path.

    Scale posture: each recursion level is one distributed join of the
    frontier against the (broadcastable) edge table, and the depth is
    structurally log2(N); Spark's recursion only supports UNION ALL,
    so this surface is reserved for acyclic, depth-bounded hierarchies
    (org charts, BOM trees). Cyclic/unbounded closure uses the
    checkpointed iterative loop in iterative.py instead."""
    _view(spark, sf_dir, "nation", "nation_rec_v")
    return spark.sql("""
        WITH RECURSIVE tree(node, name, depth, path) AS (
            SELECT n_nationkey, n_name, 0,
                   CAST(n_nationkey AS STRING)
            FROM nation_rec_v WHERE n_nationkey = 0
            UNION ALL
            SELECT c.n_nationkey, c.n_name, t.depth + 1,
                   CONCAT(t.path, '/', CAST(c.n_nationkey AS STRING))
            FROM nation_rec_v c
            JOIN tree t
              ON CAST(floor(c.n_nationkey / 2.0) AS INT) = t.node
            WHERE c.n_nationkey > 0
        )
        SELECT node, name, depth, path FROM tree
    """)


@register(
    "time_gapfill_weekly",
    oracle="""
        WITH weekly AS (
            SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM orders GROUP BY 1),
        b AS (SELECT min(wk) AS lo, max(wk) AS hi FROM weekly),
        cal AS (
            SELECT CAST(unnest(generate_series(b.lo, b.hi,
                                               INTERVAL 7 DAY)) AS DATE) AS wk
            FROM b)
        SELECT cal.wk,
               coalesce(w.n_orders, 0) AS n_orders,
               coalesce(w.revenue, CAST(0.0 AS DOUBLE)) AS revenue
        FROM cal LEFT JOIN weekly w USING (wk)
    """,
    tags=("temporal", "gapfill", "sequence"),
)
def time_gapfill_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled weekly order revenue: the calendar dimension is
    *generated* with ``explode(sequence(lo, hi, interval 7 days))``
    from the 1-row min/max aggregate — no driver-side loop, no
    hand-written date table. The left join runs against the already
    aggregated weekly table (|weeks| rows, not |orders|), so the only
    shuffle on fact data is the groupBy; the calendar side is trivially
    broadcast. The gap-fill shape every time-series dashboard needs."""
    o = load_table(spark, sf_dir, "orders")
    weekly = (
        o.groupBy(F.date_trunc("week", "o_orderdate").cast("date").alias("wk"))
        .agg(F.count("*").alias("n_orders"),
             F.sum(money("o_totalprice")).cast("double").alias("revenue"))
    )
    cal = (
        weekly.agg(F.min("wk").alias("lo"), F.max("wk").alias("hi"))
        .select(F.explode(F.sequence(
            "lo", "hi", F.expr("interval 7 days"))).alias("wk"))
    )
    return (
        cal.join(weekly, "wk", "left")
        .select("wk",
                F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                F.coalesce("revenue", F.lit(0.0)).alias("revenue"))
    )


@register(
    "sql_scalar_udf_charge",
    oracle="""
        SELECT l_returnflag,
               l_linestatus,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST('1.00' AS DECIMAL(3,2))
                           - CAST(l_discount AS DECIMAL(18,2)))
                        * (CAST('1.00' AS DECIMAL(3,2))
                           + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
                   AS total_charge,
               count(*) AS n_lines
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("sql", "sql-udf", "aggregation"),
)
def sql_scalar_udf_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4 ``CREATE FUNCTION …
    RETURNS … RETURN``): the TPC-H charge formula
    price·(1−disc)·(1+tax) declared once in SQL and reused by name.

    Unlike a Python UDF, a SQL UDF is inlined by the analyzer — the
    aggregate below compiles to the exact same codegen'd decimal
    expression as writing the formula inline (verified: plan shows no
    UDF call), so it costs nothing at 100 TB while giving the engine a
    user-extensible function surface. Decimal math end-to-end for an
    engine-portable double (functions/numeric.py rationale)."""
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION mrwc_charge(
            price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DECIMAL(30,6)
        RETURN CAST(price AS DECIMAL(18,2))
               * (CAST('1.00' AS DECIMAL(3,2)) - CAST(disc AS DECIMAL(18,2)))
               * (CAST('1.00' AS DECIMAL(3,2)) + CAST(tax AS DECIMAL(18,2)))
    """)
    _view(spark, sf_dir, "lineitem", "lineitem_udf_v")
    return spark.sql("""
        SELECT l_returnflag,
               l_linestatus,
               CAST(sum(mrwc_charge(l_extendedprice, l_discount, l_tax))
                    AS DOUBLE) AS total_charge,
               count(*) AS n_lines
        FROM lineitem_udf_v
        GROUP BY l_returnflag, l_linestatus
    """)


@register(
    "sql_table_udf_trigrams",
    oracle="""
        WITH words AS (
            SELECT DISTINCT u.w AS word
            FROM (SELECT list_filter(
                      list_transform(regexp_split_to_array(lower(text), '[\\s\\v]+'),
                                     t -> regexp_replace(t, '[^a-z'']', '', 'g')),
                      w -> length(w) > 0) AS toks
                  FROM documents WHERE doc_id < 30) d,
                 unnest(d.toks) AS u(w)),
        grams AS (
            SELECT substring(w.word, i.i, 3) AS g
            FROM words w,
                 LATERAL (SELECT unnest(generate_series(
                     1, greatest(length(w.word) - 2, 0))) AS i) i)
        SELECT g, count(*) AS n FROM grams GROUP BY g
    """,
    tags=("sql", "sql-udf", "udtf", "lateral"),
)
def sql_table_udf_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined *table* function applied per input row via LATERAL:
    character trigrams of each distinct word. Same extension point as
    the Python UDTF (udfs.py::udtf_python_tokenize) but declared in
    pure SQL — and therefore inlined: the LATERAL TVF compiles to a
    Generate(explode) over a codegen'd array expression, no Python
    workers, fully partition-parallel. This is the engine's preferred
    row-multiplying UDF form; Python UDTFs are the fallback for logic
    SQL can't state. The length guard matters: Spark's ``sequence(1,
    0)`` counts *backwards*, so short words must yield an empty array,
    not substring(w, 0, 3)."""
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION mrwc_trigrams(w STRING)
        RETURNS TABLE(g STRING)
        RETURN SELECT explode(
            CASE WHEN length(w) >= 3
                 THEN transform(sequence(1, length(w) - 2),
                                i -> substring(w, i, 3))
                 ELSE array() END) AS g
    """)
    _view(spark, sf_dir, "documents", "documents_tvf_v")
    return spark.sql("""
        WITH words AS (
            SELECT DISTINCT w.word
            FROM documents_tvf_v d,
                 LATERAL explode(filter(
                     transform(split(lower(d.text), '\\\\s+'),
                               t -> regexp_replace(t, "[^a-z']", '')),
                     w -> length(w) > 0)) AS w(word)
            WHERE d.doc_id < 30)
        SELECT g.g, count(*) AS n
        FROM words w, LATERAL mrwc_trigrams(w.word) g
        GROUP BY g.g
    """)


@register(
    "json_variant_extract",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type
    """,
    tags=("json", "variant", "semi-structured"),
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the VARIANT type (Spark 4):
    ``parse_json`` once into a binary variant, then typed
    ``variant_get`` paths — the open-schema path for event payloads
    whose keys evolve, complementing the fixed-schema ``from_json``
    queries in scalar_fns.py.

    Scale posture: VARIANT is a binary encoding parsed once at the
    scan boundary (vs. re-parsing the JSON string per extraction);
    at 100 TB with many extracted paths that single parse is the
    difference. Extraction + aggregate stay whole-stage-codegen."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    )


@register(
    "variant_nested_typed",
    oracle="""
        WITH built AS (
            SELECT '{"meta":{"type":"' || event_type
                   || '","uid":' || CAST(user_id AS VARCHAR)
                   || '},"ks":['
                   || json_extract_string(props, '$.k') || ','
                   || CAST(CAST(json_extract_string(props, '$.k')
                                AS BIGINT) * 2 AS VARCHAR)
                   || ']}' AS j
            FROM events)
        SELECT json_extract_string(j, '$.meta.type') AS etype,
               count(*) AS n_events,
               max(CAST(json_extract(j, '$.meta.uid') AS BIGINT))
                   AS max_uid,
               CAST(sum(CAST(json_extract(j, '$.ks[1]') AS BIGINT))
                   AS BIGINT) AS sum_k2,
               CAST(sum(CASE WHEN json_extract(j, '$.absent') IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_missing
        FROM built
        GROUP BY json_extract_string(j, '$.meta.type')
    """,
    tags=("json", "variant", "semi-structured", "spark4"),
)
def variant_nested_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep VARIANT surface (VERDICT r9 item 6): where
    json_variant_extract covers the flat one-key payload, this one
    exercises the full typed-path API on a NESTED document — object
    path (``$.meta.type`` as string, ``$.meta.uid`` as bigint), array
    index (``$.ks[1]``), and the lenient ``try_variant_get`` on an
    absent path (must be NULL for every row; ``n_missing`` counts it
    so the try-semantics are value-checked, not assumed).

    The nested document is BUILT from table columns by pure string
    concat — integers and strings only, no float serialization, so
    both engines construct byte-identical JSON and then extract
    through their own semi-structured machinery (Spark: one
    ``parse_json`` into the binary variant encoding, then typed
    ``variant_get`` paths; DuckDB: json_extract paths). What's
    verified is the parse→typed-extract round trip, per engine, on
    the same document.

    Scale posture: parse ONCE at the scan boundary, every extraction
    reads the binary variant without re-parsing (the entire point of
    VARIANT vs. get_json_object at 100 TB — N paths cost one parse);
    extraction and the groupBy aggregate stay whole-stage-codegen
    with a single exchange at |event_type| grain."""
    ev = load_table(spark, sf_dir, "events")
    k_str = F.expr("variant_get(parse_json(props), '$.k', 'string')")
    k_num = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    j = F.concat(
        F.lit('{"meta":{"type":"'), F.col("event_type"),
        F.lit('","uid":'), F.col("user_id").cast("string"),
        F.lit('},"ks":['), k_str, F.lit(","),
        (k_num * 2).cast("string"), F.lit("]}"))
    v = ev.select(F.parse_json(j).alias("vj"))
    return (
        v.select(
            F.expr("variant_get(vj, '$.meta.type', 'string')")
            .alias("etype"),
            F.expr("variant_get(vj, '$.meta.uid', 'bigint')")
            .alias("uid"),
            F.expr("variant_get(vj, '$.ks[1]', 'bigint')").alias("k2"),
            F.expr("try_variant_get(vj, '$.absent', 'bigint')")
            .alias("absent"))
        .groupBy("etype")
        .agg(F.count("*").alias("n_events"),
             F.max("uid").alias("max_uid"),
             F.sum("k2").cast("bigint").alias("sum_k2"),
             F.sum(F.when(F.col("absent").isNull(), 1).otherwise(0))
             .cast("bigint").alias("n_missing"))
    )


@register(
    "web_url_host_stats",
    oracle="""
        SELECT source || '.example.com' AS host,
               count(*) AS n_docs,
               count(DISTINCT lang) AS n_langs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY source || '.example.com'
    """,
    tags=("web", "url", "string-fns"),
)
def web_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL handling: documents get a deterministic URL
    (``https://<source>.example.com/d/<doc_id>?lang=<lang>``), and the
    per-host rollup is computed from ``parse_url(url, 'HOST')`` — the
    canonical first step of a CommonCrawl-style pipeline (host-level
    dedup, domain quality weighting, robots filtering). ``parse_url``
    runs JVM-side; the oracle pins its HOST extraction against direct
    construction, so the round-trip build→parse is what's verified.
    One shuffle (groupBy host); the count_distinct rides the same
    exchange."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/d/"), F.col("doc_id").cast("string"),
                   F.lit("?lang="), F.col("lang"))
    return (
        docs.withColumn("url", url)
        .select(F.parse_url("url", F.lit("HOST")).alias("host"),
                "lang", "n_chars")
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"),
             F.count_distinct("lang").alias("n_langs"),
             F.sum("n_chars").alias("total_chars"))
    )


@register(
    "sql_lateral_topk",
    oracle="""
        SELECT n.n_name, t.c_custkey, t.acctbal_cents
        FROM nation n,
        LATERAL (SELECT c_custkey,
                        CAST(round(c_acctbal * 100) AS BIGINT)
                            AS acctbal_cents
                 FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 3) t
    """,
    tags=("sql", "lateral", "topk", "correlated"),
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL
    surface for per-row top-k ("for each nation, its 3 richest
    customers") that arrives with Spark's lateral-join support; the
    same sentence every warehouse dialect writes with CROSS APPLY /
    LATERAL. Ties break on c_custkey so the k-set is deterministic;
    balances surface as integer cents (double ordering is on the raw
    parquet values, identical bits both engines).

    Scale posture: Catalyst DECORRELATES the lateral limit into a
    rank-over-partition on the inner table joined back to the outer —
    the executed plan (asserted in tests/test_plans.py) is one Window
    + rank filter + a BroadcastHashJoin on the correlation key, zero
    nested-loop/cartesian nodes — so the declarative LATERAL costs
    the same as the hand-written window_topk_per_group form; nations
    × 3 output rows."""
    _view(spark, sf_dir, "nation", "nation_lat_v")
    _view(spark, sf_dir, "customer", "customer_lat_v")
    return spark.sql("""
        SELECT n.n_name, t.c_custkey, t.acctbal_cents
        FROM nation_lat_v n,
        LATERAL (SELECT c_custkey,
                        CAST(round(c_acctbal * 100) AS BIGINT)
                            AS acctbal_cents
                 FROM customer_lat_v c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 3) t
    """)
