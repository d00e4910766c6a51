"""Table catalog: loads the driver fixture tables.

The reference's only "catalog" is a directory listing of ``./RawText/``
(sendFileByFile.cpp:422-444), which costs no round. Here a table is a
parquet file or a flat directory of parts under a scale-factor
directory (TESTDATA.md), read with ``spark.read.schema(s).parquet`` so
Catalyst gets column pruning + predicate pushdown + split planning for
free (SURVEY.md §4.1). ``s`` is the schema Spark's own inference would
give, read from the parquet footer on the driver
(:func:`_footer_schema`), so no load, first or later, runs a Spark job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _mapped(t) -> bool:
    """Whether Spark infers arrow type ``t`` as ``from_arrow_type`` maps
    it, under any session conf: binary is left out (a string under
    ``binaryAsString``), and so is every type no test checks."""
    import pyarrow.types as pat

    if pat.is_list(t):
        return _mapped(t.value_type)
    return t.unit in ("ms", "us") if pat.is_timestamp(t) else any(
        is_(t) for is_ in (pat.is_boolean, pat.is_signed_integer,
                           pat.is_float32, pat.is_float64,
                           pat.is_decimal128, pat.is_string, pat.is_date32))


def _footer_schema(spark: SparkSession, path: str,
                   nanos_as_long: bool) -> StructType | None:
    """Spark's inferred schema of local table ``path``, from its footer:
    the schema a Spark writer stored there, or else the arrow schema if
    :func:`_mapped` covers every type (Spark's read makes every field
    nullable). A directory's footer is its first data file's by name;
    Spark also reads one file and assumes every part agrees. None, so
    Spark infers with a job, for an unmapped type, a summary file, a
    partitioned layout or a path that is not local. ``nanos_as_long``
    reads INT64 TIMESTAMP(NANOS) columns as longs, setting the session's
    ``nanosAsLong``, without which Spark's reader rejects them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        names = sorted(os.listdir(path))
        data = [n for n in names if not n.startswith((".", "_"))]
        summary = any(n.startswith(("_metadata", "_common_metadata"))
                      for n in names)
        if summary or not data or any(
                os.path.isdir(os.path.join(path, n)) for n in data):
            return None
        path = os.path.join(path, data[0])
    try:
        footer = pq.ParquetFile(path)
        fields = footer.schema_arrow
        stored = (footer.metadata.metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata")
        if stored is not None:
            return StructType.fromJson(json.loads(stored))
    except Exception:  # noqa: BLE001 - Spark's read raises its own error
        return None
    nanos = [f.name for f in fields if nanos_as_long
             and pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    arrow = pa.schema([pa.field(f.name, pa.int64()) if f.name in nanos
                       else f for f in fields])
    if any(c.physical_type == "INT96" for c in footer.schema) or \
            not all(_mapped(t) for t in arrow.types):
        return None
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    return from_arrow_schema(arrow, ntz == "true")


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table as Spark reads it, before :func:`load_table`'s
    ``events.ts`` normalization. ``name`` must be in :data:`TABLES`.

    Only ``events`` reads an ns-precision ``ts`` (which Spark's reader
    rejects as PARQUET_TYPE_ILLEGAL) as raw int64 under ``nanosAsLong``.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Pin the session timezone: fixture timestamps are tz-naive, and a
    # non-UTC driver session would shift every collected/derived value
    # relative to the DuckDB oracle (which is always tz-naive).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    s = _footer_schema(spark, path, nanos_as_long=name == "events")
    return (spark.read if s is None else spark.read.schema(s)).parquet(path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Map a raw ``events`` frame (batch or streaming) to one
    session-tz TimestampType ``ts``.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations: µs-precision TIMESTAMP (reads as TIMESTAMP_NTZ) and
    ns-precision TIMESTAMP(NANOS) (raw int64 under nanosAsLong). We
    branch on the *observed* type rather than assuming a generation, so
    all downstream operators (windows, watermarks, oracle hashing) see
    one stable schema.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # Raw epoch-nanos. `ts div 1000` (integer division) — a
        # double division would lose precision above 2^53 ns.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # NTZ → LTZ is value-identity under the UTC session tz pinned
        # by raw_table; keeps one TimestampType across fixtures.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. ``name`` must be in :data:`TABLES`;
    ``events`` comes back with its ``ts`` normalized
    (:func:`normalize_events_ts`)."""
    df = raw_table(spark, sf_dir, name)
    return normalize_events_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load several tables as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for ``spark.sql`` use."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
