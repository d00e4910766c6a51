"""SparkSession bootstrap with scale-aware defaults.

The reference hand-builds its execution topology (19 OpenMP threads per
MPI rank, fixed ring buffers — sendFileByFile.cpp:446-498); here the
equivalent knobs are a handful of Spark confs. Defaults are tuned for
the local[32] test harness but chosen to be the *same* settings we'd
ship on a 1000-executor cluster:

- AQE on (runtime partition coalescing + skew-join splitting — the
  reference's level-2 hash provably skews ~69% of uniform keys onto one
  reducer, SURVEY.md §4.2; AQE is the systematic fix).
- Arrow enabled for any pandas-UDF path.
- zstd for every shuffle, spill and broadcast block: the exchange
  bytes are the cost that carries over to a cluster (SCALING.md).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "mapreducewordcounting-spark",
              cpus: str | int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or get) a SparkSession with the engine's default tuning."""
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- scale posture (identical on cluster) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast threshold sized to the DRIVER HEAP, not the data
        # (guide §3.1; VERDICT r13 item 5's root cause): a relation's
        # compressed shuffle stats understate its in-memory hash-
        # relation size ~5-20x, and several AQE broadcast builds run
        # CONCURRENTLY in the driver JVM — the old 64MB threshold let
        # AQE convert corpus-grain joins (shingle frequency / prefix
        # index at derived sf10) into ~1 GB broadcast builds that GC-
        # thrashed and then OOM'd the 8g local driver
        # ("Not enough memory to build and broadcast"). 16m on an 8g
        # heap mirrors the ratio of Spark's 10m default to its 1-4g
        # default heaps; sf0.1 plans are unchanged (audited: the
        # registry-wide plan audit is field-identical under 64m vs
        # 16m at bench SFs) while sf10 survives and scales near-
        # linearly. Parameterized for cluster deployments where
        # executors have more headroom.
        .config("spark.sql.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_AUTOBROADCAST", "16m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Also the Python RDD shuffle's codec. Spark's default level 1
        # ships ~45% fewer word-count exchange bytes than lz4 for ~3%
        # more executor CPU; level 3 bought nothing more (BASELINE.md).
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.shuffle.partitions", cpus)
        # Scan split sizing (guide §6, VERDICT r13 item 6):
        # parameterized, never hardcoded — local default stays Spark's
        # 128m (bench comparability; at bench SFs the minPartitionNum
        # floor = defaultParallelism governs split count anyway, so
        # the knob is inert below ~GB inputs — measured, see
        # OPTIMIZATION_r14.md). A 100 TB deployment raises this to
        # 512m-1g: fewer, larger map tasks cut scheduling overhead
        # and the M×R shuffle-block count (guide §2.2).
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               "128m"))
        # Parquet scans: vectorized reader + predicate pushdown are on by
        # default; keep session tz fixed so timestamp semantics match the
        # DuckDB oracle regardless of host tz.
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode niceties (harmless on cluster)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
