"""Catalog / DDL / caching surface — the engine-management operations
a user of a complete analytics engine expects beyond queries: managed
tables (CTAS, INSERT INTO), views, schema introspection, in-memory
caching, and query-attached observability metrics.

The reference has no catalog at all (its only metadata is a directory
listing, sendFileByFile.cpp:422-444); everything here is Spark's
built-in catalog exercised through SQL, asserted on behavior (row
counts, plan shapes), not just absence-of-error.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _tbl(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def test_ctas_insert_describe_drop(spark, sf_dir):
    name = _tbl("mrwc_nation")
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation_ddl_src")
    try:
        spark.sql(f"CREATE TABLE {name} AS SELECT * FROM nation_ddl_src")
        n0 = spark.table(name).count()
        assert n0 == 25

        spark.sql(f"""
            INSERT INTO {name}
            SELECT n_nationkey + 100, concat('copy_', n_name), n_regionkey
            FROM nation_ddl_src WHERE n_nationkey < 5
        """)
        assert spark.table(name).count() == n0 + 5

        cols = {r.col_name for r in spark.sql(f"DESCRIBE TABLE {name}").collect()}
        assert {"n_nationkey", "n_name", "n_regionkey"} <= cols
    finally:
        loc = None
        try:
            desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            loc = next((r.data_type for r in desc if r.col_name == "Location"),
                       None)
        except Exception:
            pass
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if loc and loc.startswith("file:"):
            shutil.rmtree(loc[5:], ignore_errors=True)


def test_view_and_cache_plan(spark, sf_dir):
    view = _tbl("mrwc_v")
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "region_ddl_src")
    try:
        spark.sql(f"""
            CREATE OR REPLACE TEMPORARY VIEW {view} AS
            SELECT r_regionkey, upper(r_name) AS r_name_u FROM region_ddl_src
        """)
        assert spark.table(view).count() == 5

        spark.catalog.cacheTable(view)
        try:
            df = spark.table(view)
            df.count()  # materialize the cache
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" in plan, plan
        finally:
            spark.catalog.uncacheTable(view)
        plan = spark.table(view)._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan
    finally:
        spark.sql(f"DROP VIEW IF EXISTS {view}")


def test_observe_metrics(spark, sf_dir):
    """df.observe attaches named aggregates that ride the job for free
    (no second scan) — the engine's per-query observability hook."""
    from pyspark.sql import Observation

    obs = Observation("li_metrics")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("total_qty"),
    )
    n = observed.filter(F.col("l_quantity") > 0).count()
    got = obs.get
    assert got["n_rows"] >= n > 0
    assert got["total_qty"] > 0


def test_load_table_missing_file_raises_original(spark):
    """The nanosAsLong mapping is reserved for the ns-precision fixture;
    a missing file must surface Spark's own error, not mutate session
    config and fail again confusingly (round-2 advice)."""
    from mapreducewordcounting_spark.catalog import load_table
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception) as ei:
        load_table(spark, "/root/testdata/does_not_exist", "events")
    assert "PARQUET_TYPE_ILLEGAL" not in str(ei.value)
    assert spark.conf.get(
        "spark.sql.legacy.parquet.nanosAsLong", "false") == before


# --- footer schemas in catalog.load_table ------------------------------


def _jobs_run_by(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    from tools.measure import cost

    with cost(spark, "catalog footer schema") as row:
        out = fn()
    return out, row["jobs"]


def test_load_table_second_load_runs_no_job(spark, sf_dir):
    """A table's schema is read from its parquet footer on the driver:
    neither the first load in a fresh session nor a later one runs a
    Spark job, and both read the same schema and rows."""
    from mapreducewordcounting_spark.catalog import load_table

    s = spark.newSession()
    first, n_first = _jobs_run_by(
        s, lambda: load_table(s, sf_dir, "documents"))
    second, n_second = _jobs_run_by(
        s, lambda: load_table(s, sf_dir, "documents"))
    assert n_first == 0
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_fresh_session_loads_every_table_with_no_job(spark, sf_dir):
    """Every fixture table loads in a fresh session with no job, under
    the schema Spark's own inference gives the same path."""
    from mapreducewordcounting_spark.catalog import (
        TABLES,
        load_table,
        raw_table,
    )

    s = spark.newSession()
    for name in TABLES:
        _, n_jobs = _jobs_run_by(s, lambda: load_table(s, sf_dir, name))
        assert n_jobs == 0, name
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert raw_table(s, sf_dir, name).schema == inferred, name


def _load_as_spark_infers(spark, sf, ntz="true"):
    """Load ``documents`` under ``sf`` in a fresh session with
    ``inferTimestampNTZ`` at ``ntz``; assert Spark's inferred schema and
    rows, and return the number of jobs the load ran."""
    from mapreducewordcounting_spark.catalog import load_table

    s = spark.newSession()
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
    df, n_jobs = _jobs_run_by(s, lambda: load_table(s, sf, "documents"))
    inferred = s.read.parquet(f"{sf}/documents.parquet")
    assert df.schema == inferred.schema
    assert sorted(map(str, df.collect())) == \
        sorted(map(str, inferred.collect()))
    return n_jobs


def _mapped_types_table():
    """One column of every arrow type the footer mapping covers, with
    a non-null field and a non-null list element."""
    import datetime
    import decimal

    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678000)
    schema = pa.schema([
        pa.field("id", pa.int64(), nullable=False),
        ("b", pa.bool_()), ("i8", pa.int8()), ("i16", pa.int16()),
        ("i32", pa.int32()), ("f32", pa.float32()), ("f64", pa.float64()),
        ("dec", pa.decimal128(9, 2)), ("s", pa.string()),
        ("d", pa.date32()), ("ts_ms", pa.timestamp("ms")),
        ("ts_us", pa.timestamp("us")),
        ("ts_utc", pa.timestamp("us", tz="UTC")),
        ("xs", pa.list_(pa.field("element", pa.int64(), nullable=False))),
    ])
    return pa.table([
        [1, 2], [True, None], [1, None], [2, None], [3, None], [1.5, None],
        [2.5, None], [decimal.Decimal("1.25"), None], ["a", None],
        [datetime.date(2024, 1, 2), None], [ts, None], [ts, None],
        [ts, None], [[1, 2], None],
    ], schema=schema)


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_mapped_types_load_as_spark_infers_with_no_job(spark, tmp_path, ntz):
    """Every type the footer mapping covers reads as Spark infers it,
    nullability and both settings of inferTimestampNTZ included, from a
    file and from a directory of parts, with no job."""
    table = _mapped_types_table()
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    assert _load_as_spark_infers(spark, str(tmp_path), ntz) == 0

    parts = tmp_path / "dir" / "documents.parquet"
    parts.mkdir(parents=True)
    for i in range(2):
        pq.write_table(table.slice(i, 1), str(parts / f"part-{i}.parquet"))
    (parts / "_SUCCESS").write_bytes(b"")
    (parts / ".hidden").write_bytes(b"")
    assert _load_as_spark_infers(spark, str(tmp_path / "dir"), ntz) == 0


def test_spark_written_table_loads_its_stored_schema(spark, tmp_path):
    """A file Spark wrote carries its Spark schema in the footer; the
    load reads that schema (INT96 timestamps, structs, maps, non-null
    fields and field metadata included) and runs no job."""
    df = spark.sql("""
        SELECT CAST(id AS INT) AS id, timestamp'2024-01-02 03:04:05' AS ts,
               timestamp_ntz'2024-01-02 03:04:05' AS ts_ntz,
               array(id, 2L) AS xs, map('k', id) AS m,
               named_struct('x', id) AS st,
               CAST(1.5 AS DECIMAL(5, 2)) AS dec
        FROM range(3)""").withMetadata("id", {"comment": "key"})
    df.write.parquet(str(tmp_path / "documents.parquet"))
    assert _load_as_spark_infers(spark, str(tmp_path)) == 0


def _write_int96(path):
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}),
                   path, use_deprecated_int96_timestamps=True)


def _write_uint32(path):
    pq.write_table(pa.table({"n": pa.array([1, 2], pa.uint32())}), path)


def _write_partitioned(path):
    os.makedirs(os.path.join(path, "lang=en"))
    pq.write_table(pa.table({"n": [1, 2]}),
                   os.path.join(path, "lang=en", "part-0.parquet"))


def _write_summary(path):
    os.makedirs(path)
    table = pa.table({"n": [1, 2]})
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    pq.write_metadata(table.schema, os.path.join(path, "_common_metadata"))


@pytest.mark.parametrize("write", [
    _write_int96, _write_uint32, _write_partitioned, _write_summary])
def test_unmapped_layouts_load_through_spark(spark, tmp_path, write):
    """A type the footer mapping does not cover (a pyarrow-written
    INT96 timestamp, an unsigned int), a partitioned layout and a
    summary file keep Spark's own inference: a job, Spark's schema and
    Spark's rows."""
    write(str(tmp_path / "documents.parquet"))
    assert _load_as_spark_infers(spark, str(tmp_path)) >= 1


def test_load_table_rewritten_table_is_reinferred(spark, tmp_path):
    """A table rewritten in place with a different schema loads with
    its new schema, not the one its old version had."""
    from mapreducewordcounting_spark.catalog import load_table

    path = str(tmp_path / "documents.parquet")
    spark.range(3).selectExpr("id AS doc_id", "'a' AS text") \
        .write.parquet(path)
    v1 = load_table(spark, str(tmp_path), "documents")
    assert v1.columns == ["doc_id", "text"]
    assert v1.count() == 3

    spark.range(5).selectExpr("CAST(id AS INT) AS doc_id", "'b' AS text",
                              "id * 2 AS n_tokens") \
        .write.mode("overwrite").parquet(path)
    v2 = load_table(spark, str(tmp_path), "documents")
    assert v2.columns == ["doc_id", "text", "n_tokens"]
    assert v2.schema["doc_id"].dataType.typeName() == "integer"
    assert sorted(r.n_tokens for r in v2.collect()) == [0, 2, 4, 6, 8]


def test_events_loads_twice_to_timestamp(spark, sf_dir):
    """events keeps its ts normalization on the footer schema: both
    loads give TimestampType and the same rows, the second with no
    job; a stream over events after a batch load runs no job either."""
    from pyspark.sql.types import TimestampType

    from mapreducewordcounting_spark.catalog import load_table
    from mapreducewordcounting_spark.streaming import read_events_stream

    s = spark.newSession()
    first = load_table(s, sf_dir, "events")
    second, n_jobs = _jobs_run_by(s, lambda: load_table(s, sf_dir, "events"))
    assert n_jobs == 0
    assert isinstance(first.schema["ts"].dataType, TimestampType)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    stream, n_stream = _jobs_run_by(s, lambda: read_events_stream(s, sf_dir))
    assert n_stream == 0
    assert stream.isStreaming
    assert stream.schema == first.schema


def test_ns_events_retry_is_per_session(spark, tmp_path):
    """The ns-precision events encoding, decided from the footer with
    no job: each session that loads it gets nanosAsLong and the int64
    view, and every load normalizes ts to the same microsecond
    TimestampType values. The caller's session never sees the flag."""
    from pyspark.sql.types import TimestampType

    from mapreducewordcounting_spark.catalog import load_table

    flag = "spark.sql.legacy.parquet.nanosAsLong"
    ns = [1_700_000_000_123_456_789, 1_700_003_600_000_001_000]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()),
                  "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"), version="2.6")
    before = spark.conf.get(flag, "false")

    for s in (spark.newSession(), spark.newSession()):
        assert s.conf.get(flag, "false") == "false"
        first, n_first = _jobs_run_by(
            s, lambda: load_table(s, str(tmp_path), "events"))
        second, n_jobs = _jobs_run_by(
            s, lambda: load_table(s, str(tmp_path), "events"))
        assert s.conf.get(flag) == "true"
        assert n_first == 0
        assert n_jobs == 0
        for df in (first, second):
            assert isinstance(df.schema["ts"].dataType, TimestampType)
            got = sorted(r[0] for r in df.selectExpr(
                "unix_micros(ts)").collect())
            assert got == [v // 1000 for v in ns]
    assert spark.conf.get(flag, "false") == before
