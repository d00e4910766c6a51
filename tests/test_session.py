"""Session defaults that no query plan shows: checked on the blocks
the engine writes."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

#: the first four bytes of every zstd frame (lz4 blocks start "LZ4Block")
ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"


def _shuffle_data_files(spark) -> set[str]:
    disk = (spark._jvm.org.apache.spark.SparkEnv.get()
            .blockManager().diskBlockManager())
    return {path for d in disk.localDirs()
            for path in glob.glob(os.path.join(d.getAbsolutePath(), "**",
                                               "shuffle_*.data"),
                                  recursive=True)}


def test_shuffle_blocks_are_zstd_framed(spark):
    before = _shuffle_data_files(spark)
    df = (spark.range(0, 20_000, numPartitions=4)
          .groupBy((F.col("id") % 97).alias("k")).count())
    assert len(df.collect()) == 97
    written = [p for p in _shuffle_data_files(spark) - before
               if os.path.getsize(p) > 0]
    assert written
    for path in written:
        with open(path, "rb") as f:
            assert f.read(4) == ZSTD_MAGIC, path
