"""Source/sink round-trips: CSV, JSON-lines, text-dir, partitioned parquet.

The reference's only source is a directory of whitespace-delimited text
files (O1 dir scan at sendFileByFile.cpp:422-444, O3 token scan at
:82-88) and its only sink is per-partition ``word count\\n`` text files
(O13, :376-392). These queries make both ends first-class *oracle-checked*
operators — each one writes a real sink, reads it back through the
matching source, and aggregates, with the DuckDB oracle computing the
same aggregate straight from the original parquet. A round-trip bug
(quoting, schema drift, partition-column loss, newline splitting) shows
up as a value-hash mismatch, not just a unit-test failure.

Scale posture (100 TB):
- Every read supplies an EXPLICIT schema — ``inferSchema`` is a full
  extra pass over the data and is never acceptable at scale.
- The partitioned sink demonstrates partition pruning: the read-back
  filter lands in ``PartitionFilters`` (asserted in
  tests/test_io_roundtrip.py), so a 100 TB store scans only the
  selected partition's files.
- Round-trip aggregates stick to engine-exact values (counts, integer
  sums, min/max) so the check pins the IO path, not float-summation
  order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType, DoubleType, LongType, StringType, StructField, StructType,
)

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.checkpoints import release
from mapreducewordcounting_spark.functions.text import tokenize_canonical
from mapreducewordcounting_spark.operators.wordcount import _ORACLE_WORDCOUNT
from mapreducewordcounting_spark.registry import register

#: repo-local scratch root (gitignored). Keyed by sf-dir basename so
#: correctness (sf0.01) and bench (sf0.1) runs never share files.
_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch", "io",
)


def _io_path(sf_dir: str, name: str) -> str:
    sf_name = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(_SCRATCH, sf_name, name)


@register(
    "source_text_dir_wordcount",
    oracle=_ORACLE_WORDCOUNT,
    tags=("source", "sink", "text"),
)
def source_text_dir_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's literal IO shape: corpus as a DIRECTORY OF TEXT
    FILES (O1/O3), word-counted via ``spark.read.text``. The corpus is
    first materialized through the text sink (one file per partition —
    the reference's per-thread output layout, O13), then re-scanned.
    Embedded newlines split documents across lines, which is exactly
    why this shares the flagship oracle: whitespace tokenization is
    invariant to line boundaries, so the word multiset must survive the
    round-trip bit-for-bit."""
    path = _io_path(sf_dir, "textdir")
    docs = load_table(spark, sf_dir, "documents")
    # text sink: single non-null string column
    docs.select(F.coalesce("text", F.lit("")).alias("value")) \
        .write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    return (
        lines.select(F.explode(tokenize_canonical("value")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


_CSV_SCHEMA = StructType([
    StructField("l_orderkey", LongType()),
    StructField("l_quantity", DoubleType()),
    StructField("l_extendedprice", DoubleType()),
    StructField("l_returnflag", StringType()),
    StructField("l_linestatus", StringType()),
    StructField("l_shipdate", DateType()),
])


@register(
    "source_csv_roundtrip",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey,
               min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price,
               min(CAST(l_shipdate AS DATE)) AS first_ship,
               max(CAST(l_shipdate AS DATE)) AS last_ship
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("source", "sink", "csv"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → CSV sink (header) → CSV source (EXPLICIT schema, no
    inferSchema pass) → aggregate; oracle aggregates the original
    parquet, so any quoting/parsing/precision loss in the CSV path
    breaks the hash. Doubles round-trip exactly (Java Double.toString
    is shortest-exact); aggregates are min/max + exact integer sums so
    the comparison is order-insensitive."""
    path = _io_path(sf_dir, "csv")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus",
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
    )
    # write-side ignoreLeading/TrailingWhiteSpace default TRUE — they
    # silently trim string data; off for an exact round-trip contract
    # (cliff pinned in test_csv_quoting_edge_cases)
    (li.write.mode("overwrite").option("header", True)
     .option("ignoreLeadingWhiteSpace", False)
     .option("ignoreTrailingWhiteSpace", False)
     .csv(path))
    back = spark.read.schema(_CSV_SCHEMA).option("header", True).csv(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("l_orderkey").alias("sum_orderkey"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


_JSON_SCHEMA = StructType([
    StructField("o_orderkey", LongType()),
    StructField("o_custkey", LongType()),
    StructField("o_orderstatus", StringType()),
    StructField("o_totalprice", DoubleType()),
    StructField("o_orderpriority", StringType()),
])


@register(
    "source_json_roundtrip",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(o_custkey) AS BIGINT) AS sum_custkey,
               count(DISTINCT o_orderstatus) AS n_statuses,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("source", "sink", "json"),
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines sink → JSON source (explicit schema) →
    aggregate vs the original parquet. JSON-lines is the interchange
    format of LLM corpus pipelines; the explicit-schema read skips
    Spark's schema-inference pass (a full extra scan at 100 TB)."""
    path = _io_path(sf_dir, "json")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority",
    )
    o.write.mode("overwrite").json(path)
    back = spark.read.schema(_JSON_SCHEMA).json(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_custkey").alias("sum_custkey"),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "sink_partitioned_prune",
    oracle="""
        SELECT user_id % 8 AS user_bucket,
               count(*) AS n_events,
               CAST(sum(user_id) AS BIGINT) AS sum_user,
               min(value) AS min_value,
               max(value) AS max_value,
               CAST(extract(epoch FROM date_trunc('second', min(ts))) AS BIGINT)
                   AS first_ts_s,
               CAST(extract(epoch FROM date_trunc('second', max(ts))) AS BIGINT)
                   AS last_ts_s
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id % 8
    """,
    tags=("source", "sink", "partitioning"),
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink (``partitionBy(event_type)``)
    + pruned read-back: the ``event_type = 'purchase'`` filter resolves
    against DIRECTORY NAMES (``PartitionFilters`` in the scan — plan
    asserted in tests/test_io_roundtrip.py), so at 100 TB only the one
    partition's files are listed and scanned. The oracle filters the
    unpartitioned original, proving the sink dropped/duplicated
    nothing and the partition column survives the directory encoding."""
    path = _io_path(sf_dir, "part_events")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    # Explicit schema on the read-back (the SCALING.md source rule): a
    # zero-row write produces a partitionless store that schema
    # inference rejects; the engine knows the schema it just wrote.
    back = spark.read.schema(ev.schema).parquet(path) \
        .filter(F.col("event_type") == "purchase")
    return back.groupBy(
        (F.col("user_id") % 8).alias("user_bucket"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("user_id").alias("sum_user"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        # Second-truncated epoch integers, not raw-µs timestamps: the
        # SURVEY §7.3 convention. Sub-second encoding differs across
        # fixture generations and engines (ns fixtures floored ns→µs
        # here, rounded by some DuckDB builds), so a raw-µs comparison
        # is encoding-sensitive while second truncation is stable —
        # and the prune semantics under test don't live in the µs.
        F.unix_timestamp(F.date_trunc("second", F.min("ts")))
            .alias("first_ts_s"),
        F.unix_timestamp(F.date_trunc("second", F.max("ts")))
            .alias("last_ts_s"),
    )


@register(
    "join_bucketed",
    oracle="""
        SELECT o.o_orderstatus,
               count(*) AS n_lines,
               CAST(sum(l.l_orderkey) AS BIGINT) AS sum_key,
               min(l.l_extendedprice) AS min_price,
               max(l.l_extendedprice) AS max_price
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderstatus
    """,
    tags=("source", "sink", "bucketing", "join"),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over PRE-BUCKETED managed tables: both sides are
    stored hash-bucketed on the join key (``bucketBy`` + metastore), so
    the sort-merge join reads co-located buckets with NO exchange on
    either side — the layout a 100 TB star schema amortizes its shuffle
    into at write time, paying the network once instead of per query
    (exchange-free plan asserted in tests/test_bucketing.py; this
    registration makes the end-to-end result itself oracle-checked).
    Bucket count is stored policy: size so |fact| / n_buckets fits a
    task; both sides MUST agree on it or the exchange returns."""
    from mapreducewordcounting_spark.sources import write_bucketed

    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    ot, lt = f"orders_jb_{sf_tag}", f"lineitem_jb_{sf_tag}"
    write_bucketed(load_table(spark, sf_dir, "orders"), ot, "o_orderkey", 8)
    write_bucketed(load_table(spark, sf_dir, "lineitem"), lt, "l_orderkey", 8)
    o, li = spark.table(ot), spark.table(lt)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("l_orderkey").alias("sum_key"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


@register(
    "source_csv_permissive",
    oracle="""
        SELECT count(*) + 3 AS n_total,
               3 AS n_corrupt,
               count(*) AS n_valid,
               CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey
        FROM lineitem
    """,
    tags=("source", "csv", "robustness"),
)
def source_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row tolerance in the CSV source: three corrupt lines
    (wrong types / wrong arity) are planted beside the clean export and
    read back in PERMISSIVE mode with a ``columnNameOfCorruptRecord``
    sidecar — bad rows surface as (nulls, raw-line) instead of killing
    the job, the posture that lets a 100 TB ingest quarantine its bad
    feed lines for replay instead of dying at hour nine on row three
    (FAILFAST is for dev; DROPMALFORMED silently lies about counts).
    The oracle states the exact quarantine arithmetic: clean-row count
    and checksum survive, corrupt count is exactly the planted three.
    (Spark requires materializing the parse to query the corrupt
    column — hence the cache; at scale the quarantine split writes both
    streams out instead of holding them.)"""
    path = _io_path(sf_dir, "csv_permissive")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag")
    li.write.mode("overwrite").csv(path)  # no header: schema is explicit
    with open(os.path.join(path, "part-corrupt.csv"), "w") as f:
        f.write("not_a_number,1.0,N\n")          # bad long
        f.write("42,not_a_double,R\n")           # bad double
        f.write("1,2.0\n")                       # wrong arity
    schema = StructType([
        StructField("l_orderkey", LongType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("_corrupt", StringType()),
    ])
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .cache()  # Spark requires materializing the parse to query _corrupt
    )
    result = back.agg(
        F.count("*").alias("n_total"),
        F.count("_corrupt").alias("n_corrupt"),
        F.count_if(F.col("_corrupt").isNull()).alias("n_valid"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("l_orderkey")))
        .alias("sum_orderkey"),
    )
    rows = result.collect()   # materialize, then free the cache — repeated
    back.unpersist()          # invocations must not accumulate entries
    return spark.createDataFrame(rows, result.schema)


@register(
    "source_schema_evolution",
    oracle="""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_quality,
               CAST(sum(CASE WHEN doc_id % 2 = 1
                        THEN CAST(n_chars % 100 AS BIGINT) END) AS BIGINT)
                   AS sum_quality
        FROM documents
        GROUP BY source
    """,
    tags=("source", "schema-evolution", "parquet"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch written
    WITHOUT a column and a later batch WITH it (a deterministic
    ``quality`` score) are read together under ``mergeSchema`` — the
    unified schema backfills the missing column as NULL, so the table
    keeps growing columns without rewriting history. This is how a
    100 TB corpus actually evolves (new quality/provenance columns
    appear mid-life); the alternative — rewriting every old file — is
    a full-corpus pass per added column. mergeSchema costs a footer
    read per file at planning (fine per-batch; at very high file counts
    pin the schema in a catalog instead). The oracle recomputes both
    batches' aggregates from the original table, proving no rows were
    lost, duplicated, or mis-aligned across the two physical schemas."""
    docs = load_table(spark, sf_dir, "documents")
    v1_dir = _io_path(sf_dir, "evo/batch1")
    v2_dir = _io_path(sf_dir, "evo/batch2")
    docs.filter(F.col("doc_id") % 2 == 0) \
        .select("doc_id", "source", "n_chars") \
        .write.mode("overwrite").parquet(v1_dir)
    docs.filter(F.col("doc_id") % 2 == 1) \
        .select("doc_id", "source", "n_chars",
                (F.col("n_chars") % 100).cast("long").alias("quality")) \
        .write.mode("overwrite").parquet(v2_dir)
    back = spark.read.option("mergeSchema", True).parquet(v1_dir, v2_dir)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count("quality").alias("n_with_quality"),
        F.sum("quality").alias("sum_quality"),
    )


@register(
    "join_dpp_partitioned",
    oracle="""
        WITH dim(event_type, weight) AS (
            VALUES ('purchase', 1.5), ('click', 1.0), ('view', 0.5))
        SELECT e.event_type,
               count(*) AS n_events,
               CAST(sum(e.user_id) AS BIGINT) AS sum_user,
               CAST(max(d.weight) AS DOUBLE) AS weight
        FROM events e JOIN dim d USING (event_type)
        WHERE d.weight > 1.2
        GROUP BY e.event_type
    """,
    tags=("source", "partitioning", "dpp", "join"),
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact side is the Hive-partitioned
    store, the filter lives on the DIM side (weight > 1.2) — so which
    partitions survive is unknowable at plan time. Spark runs the dim
    filter first and injects its join keys into the fact scan's
    ``PartitionFilters`` as a runtime subquery
    (``SubqueryAdaptiveBroadcast dynamicpruning`` — asserted in
    tests/test_io_roundtrip.py). At 100 TB this is what makes
    star-schema queries over partitioned facts cheap when the
    restriction arrives through a dimension (date dim's "last quarter",
    a tenant allowlist) rather than as a literal: without DPP the scan
    reads every partition and the filter applies post-join."""
    store = _io_path(sf_dir, "dpp_events")
    # The store carries only the columns this fact table's consumers
    # read (user_id, value + the partition key): the events `props`
    # JSON string dominates raw bytes and never survives column
    # pruning downstream anyway — a partitioned analytical store is
    # projected at ingest, not a raw-log mirror.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(store)
    # explicit schema: survives a zero-row store (no partition dirs to
    # infer from) and skips the inference file-listing pass
    fact = spark.read.schema(ev.schema).parquet(store)
    dim = spark.createDataFrame(
        [("purchase", 1.5), ("click", 1.0), ("view", 0.5)],
        "event_type STRING, weight DOUBLE")
    return (
        fact.join(dim.filter(F.col("weight") > 1.2), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("user_id").alias("sum_user"),
            F.max("weight").alias("weight"),
        )
    )


@register(
    "sink_tombstone_purge",
    oracle="""
        SELECT user_id % 8 AS bucket,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_value
        FROM events
        WHERE user_id % 97 <> 0
        GROUP BY 1
    """,
    tags=("sink", "purge", "partition-overwrite", "anti-join"),
)
def sink_tombstone_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted row purge (right-to-be-forgotten) over a partitioned
    store, rewriting ONLY the partitions that contain tombstoned rows —
    at 100 TB the difference between re-shipping the table and
    re-shipping ~|tombstoned users| / |users| of it:

    1. the tombstone list (here: ``user_id % 97 = 0``, standing in for
       a DSAR export) is control state — driver-sized by nature, like
       k-means centroids; its distinct partition buckets prune the
       rewrite scan AT PLAN TIME (``PartitionFilters``, asserted in
       tests/test_io_roundtrip.py — untouched buckets are never
       listed, read, or written);
    2. the purge itself is a broadcast ANTI join on the pruned scan;
    3. the write-back uses ``partitionOverwriteMode=dynamic``: only
       partitions present in the written data are replaced — the
       rewrite's blast radius equals the tombstones' bucket footprint.

    Caveat a production purge must handle: a bucket whose rows are ALL
    tombstoned yields no output rows, so dynamic overwrite would leave
    its stale files in place — pair the purge with per-partition
    delete markers (or a table format's transactional replaceWhere)
    for that case. The oracle would catch any stale row here: the
    read-back aggregate must equal the purged source exactly.

    Atomicity: the rewrite reads the store and overwrites the same
    path in one job, so ``cleaned`` is materialized (localCheckpoint)
    BEFORE the overwrite touches any file — otherwise a mid-commit
    task retry could re-read a bucket the job already replaced. Even
    so, a driver/executor crash BETWEEN partition commits leaves some
    buckets rewritten and some not (dynamic overwrite commits per
    partition, not per table); crash-atomic in-place purge needs a
    transactional table format (Iceberg/Delta ``replaceWhere``) — the
    plan shape here (prune → anti-join → dynamic overwrite) carries
    over to those formats unchanged."""
    store = _io_path(sf_dir, "purge_events")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", (F.col("user_id") % 8).alias("bucket"))
    ev.write.mode("overwrite").partitionBy("bucket").parquet(store)

    tomb = ev.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    buckets = [r.bucket for r in
               tomb.select((F.col("user_id") % 8).alias("bucket"))
               .distinct().collect()]

    fact = spark.read.schema(ev.schema).parquet(store)
    cleaned = (fact.filter(F.col("bucket").isin(buckets))
               .join(F.broadcast(tomb), "user_id", "left_anti"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if buckets:  # no tombstones -> nothing to rewrite
            # Materialize before overwriting the path being read: a
            # task retry during the write must replay from checkpointed
            # blocks, never re-scan files the job already replaced.
            cleaned = cleaned.localCheckpoint(eager=True)
            cleaned.write.mode("overwrite").partitionBy("bucket") \
                .parquet(store)
            release(cleaned)  # the result re-reads the store instead
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.schema(ev.schema).parquet(store)
    return back.groupBy("bucket").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
        .alias("total_value"),
    )


#: columns whose parquet footer statistics the introspection op reads
FOOTER_STAT_COLS = ("l_orderkey", "l_quantity")


@register(
    "source_parquet_footer_stats",
    # Data-derived oracle: parquet writes EXACT min/max/value-count
    # statistics for numeric columns, so the footer path must agree
    # bit-for-bit with aggregating the data itself — which is the
    # whole data-skipping contract this op exists to surface.
    oracle="""
        SELECT 'l_orderkey' AS column_name,
               count(l_orderkey) AS n_values,
               CAST(min(l_orderkey) AS DOUBLE) AS vmin,
               CAST(max(l_orderkey) AS DOUBLE) AS vmax
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', count(l_quantity),
               min(l_quantity), max(l_quantity)
        FROM lineitem
    """,
    tags=("source", "parquet", "metadata", "data-skipping"),
)
def source_parquet_footer_stats(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Scan-layer introspection: read lineitem's parquet FOOTER
    statistics (per-row-group min/max/value counts, folded per
    column) without touching a single data page — the zone-map layer
    predicate pushdown prunes against, surfaced as a queryable table.
    The oracle aggregates the DATA instead, so the correctness gate
    is exactly the data-skipping contract: footer stats must equal
    the truth they promise (a writer that truncated or dropped stats
    would fail here, and would silently break row-group pruning).

    Shape at scale: file paths fan out through mapInPandas, so a
    100k-file table reads 100k footers in parallel executor-side —
    KBs per task, no data pages, no driver bottleneck beyond the
    listing every scan already performs; the per-column fold across
    files is a |files|x|cols|-row aggregate. The per-ROW-GROUP grain
    (what pruning actually tests) is asserted in
    tests/test_io_roundtrip.py: every row group's footer range must
    contain its rows and the value counts must sum."""
    import pandas as pd

    path = os.path.join(sf_dir, "lineitem.parquet")
    files = spark.createDataFrame([(path,)], "path string")

    def read_footers(batches):
        import pyarrow.parquet as pq
        for pdf in batches:
            out = {"column_name": [], "n_values": [],
                   "vmin": [], "vmax": []}
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                idx = {md.schema.column(i).name: i
                       for i in range(md.num_columns)}
                for col in FOOTER_STAT_COLS:
                    n, mn, mx = 0, None, None
                    for rg in range(md.num_row_groups):
                        cc = md.row_group(rg).column(idx[col])
                        n += cc.num_values
                        st = cc.statistics
                        # zero-row / stats-less chunks carry no
                        # min/max — the empty-partition case the
                        # zero-row gate exercises; the oracle's
                        # aggregate yields NULLs there too
                        if st is None or not st.has_min_max:
                            continue
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                    out["column_name"].append(col)
                    out["n_values"].append(n)
                    out["vmin"].append(None if mn is None else float(mn))
                    out["vmax"].append(None if mx is None else float(mx))
            yield pd.DataFrame(out)

    per_file = files.mapInPandas(
        read_footers,
        "column_name string, n_values long, vmin double, vmax double")
    return per_file.groupBy("column_name").agg(
        F.sum("n_values").alias("n_values"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


@register(
    "source_orc_roundtrip",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(user_id) AS BIGINT) AS sum_user,
               min(value) AS min_value,
               max(value) AS max_value,
               epoch_us(min(CAST(ts AS TIMESTAMP))) AS first_us,
               epoch_us(max(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events
        GROUP BY event_type
    """,
    tags=("source", "sink", "orc"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC sink → ORC source (EXPLICIT schema) → aggregate;
    the oracle aggregates the ORIGINAL parquet, so any type-mapping,
    timestamp-precision, or encoding loss in the ORC path breaks the
    hash. ORC is the third columnar at-rest format beside parquet and
    the row formats (csv/json/text) — built into Spark, no package.
    Timestamps round-trip at µs (ORC stores nanos; the fixture is µs)
    and surface as epoch µs (driver-hash precision discipline);
    doubles are stored binary so min/max are bit-exact. Columnar +
    striped: predicate pushdown and column pruning work like parquet,
    so the scan posture at 100 TB is identical."""
    path = _io_path(sf_dir, "orc")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    ev.write.mode("overwrite").orc(path)
    back = spark.read.schema(ev.schema).orc(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("user_id").alias("sum_user"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )


#: binary-source round-trip: how many documents materialize as files.
#: Driver-bounded by construction (the kmeans-centroid rule): the
#: OPERATOR under test is the binaryFile scan, not the writer — a real
#: multimodal store writes assets upstream of the pipeline.
_BINARY_N_DOCS = 40


@register(
    "source_binary_files",
    oracle=f"""
        SELECT doc_id,
               CAST(octet_length(CAST(coalesce(text, '') AS BLOB))
                    AS BIGINT) AS byte_len,
               md5(coalesce(text, '')) AS content_md5
        FROM documents
        WHERE doc_id < {_BINARY_N_DOCS}
    """,
    tags=("source", "binary", "multimodal"),
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal ingestion front door: a directory of opaque
    binary assets read through ``spark.read.format("binaryFile")`` —
    path, length and raw ``content`` bytes per file — which is how
    image/audio/video payloads enter every mm_* operator's decode
    stage. Here the assets are the utf-8 bytes of the first
    40 documents (multibyte langs included, so the
    byte-vs-char distinction is actually exercised), written out as
    one ``doc_<id>.bin`` each; the scan parses the id back out of the
    file path, and the oracle recomputes length + md5 straight from
    the documents table — any corruption, truncation or encoding slip
    in the binary path breaks the hash.

    Scale posture: binaryFile is a real FileFormat — file listing and
    scheduling are Spark's split planning (one task per file bundle,
    ``pathGlobFilter``/partition dirs available), and per-file bytes
    stay in ONE row each, so the pattern holds for millions of assets
    as long as single assets fit an executor (the mm_frame_sample
    docstring's chunking note covers the ones that don't). The writer
    below is driver-side and bounded at 40 files purely
    as test scaffolding."""
    path = _io_path(sf_dir, "binarydir")
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _BINARY_N_DOCS)
            .select("doc_id", "text").collect())
    import shutil
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    for r in docs:
        with open(os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb") as f:
            f.write((r["text"] or "").encode("utf-8"))
    if not docs:  # binaryFile errors on an empty dir: stable schema
        return spark.createDataFrame(
            [], "doc_id long, byte_len long, content_md5 string")
    back = spark.read.format("binaryFile").load(path)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("bigint").alias("doc_id"),
        F.col("length").cast("bigint").alias("byte_len"),
        F.md5("content").alias("content_md5"))
