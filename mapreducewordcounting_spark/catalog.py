"""Table catalog: loads the driver fixture tables.

The reference's only "catalog" is a hardcoded directory listing of
``./RawText/`` (sendFileByFile.cpp:422-444). Here, sources are parquet
tables under a scale-factor directory (TESTDATA.md); loading is a
``spark.read.parquet`` so Catalyst gets column pruning + predicate
pushdown + split planning for free (SURVEY.md §4.1).

Schema inference is a Spark job of its own (it reads a parquet
footer), so each table's schema is inferred once per Spark session:
the first load of a path runs Spark's own inference, and later loads
of the same path in that session read with the stored schema
(``spark.read.schema(s).parquet``) and run no job. The stored schema
is keyed on the session, the real path and the path's ``st_mtime_ns``,
so a rewritten table is re-inferred, a ``newSession()`` starts empty,
and no entry outlives its session (SCALING.md "Session defaults").
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: session -> {real path: (st_mtime_ns, inferred schema)}. Weak keys:
#: a session's entries go with the session.
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[int, StructType]]
] = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of ``path`` (at its current mtime) in this session."""
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        # Not a local path (or missing): Spark resolves it, and raises
        # its own error, exactly as an uncached read would.
        return spark.read.parquet(path)
    # No lock: concurrent first loads may both infer the same schema.
    # The mtime is taken before the inferring read, so a rewrite in
    # between stores an mtime that is already stale: the next load
    # re-infers rather than reusing the wrong schema.
    schemas = _SCHEMAS.setdefault(spark, {})
    real = os.path.realpath(path)
    hit = schemas.get(real)
    if hit is not None and hit[0] == mtime:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[real] = (mtime, df.schema)
    return df


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table as Spark reads it, before :func:`load_table`'s
    ``events.ts`` normalization. ``name`` must be in :data:`TABLES`.

    The ns-precision ``events`` fixture is unreadable by Spark's
    vectorized reader (PARQUET_TYPE_ILLEGAL) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` maps it to raw int64; only
    that error earns the retry under the flag.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Pin the session timezone: fixture timestamps are tz-naive, and a
    # non-UTC driver session would shift every collected/derived value
    # relative to the DuckDB oracle (which is always tz-naive).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _read_parquet(spark, path)
    try:
        return _read_parquet(spark, path)
    except Exception as exc:
        # Only the ns-precision fixture earns the nanosAsLong retry
        # (mutating session config); anything else — missing file,
        # corrupt footer, permissions — re-raises the original error
        # rather than masking it behind a confusing second failure.
        if "PARQUET_TYPE_ILLEGAL" not in str(exc) and \
                "Illegal Parquet type" not in str(exc):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _read_parquet(spark, path)


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
