"""Derive an sf10 BENCH-ONLY dataset — documents + embeddings only —
from the driver's sf0.1 tables (VERDICT r12 item 5: "push the
derived-scale harness one more decade for the scale-critical six").

    python tools/make_sf10.py   ->  scale_scratch/sf10/{documents,embeddings}.parquet

Same derivation rules as tools/make_sf1.py (which see), at
REPLICAS=100: doc_id/vec_id shift by replica x span, replica > 0
texts get a deterministic per-replica suffix token (plausible
near-dups across replicas, exact-dup mix within each), replica > 0
vectors perturb dimension 0 by replica x 1e-3. Only the two tables
the scale-critical six read are derived — the TPC-H facts at sf10
would cost ~2 GB and no audited query needs them at this tier.

The shard posture this dataset exercises: DEDUP_SHARD_SPAN=5000 is
the sf0.1 doc span, so sf10 = 100 ingest batches per source — the
corpus grows by ADDING shards, and dedup_clusters_sharded's per-shard
state stays constant while total work scales with shard count.

BENCH ONLY: correctness stays on the driver's parquet (sf0.01);
nothing under scale_scratch/ is committed (.gitignore).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.measure import SF_DIR as SRC  # noqa: E402

OUT = os.path.join(REPO, "scale_scratch", "sf10")
REPLICAS = 100


def main() -> int:
    from pyspark.sql import functions as F

    from mapreducewordcounting_spark.session import get_spark

    spark = get_spark(app_name="mrwc-make-sf10")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)

    def src(name):
        return spark.read.parquet(f"{SRC}/{name}.parquet")

    def write(df, name, parts=32):
        (df.repartition(parts)
         .write.mode("overwrite").parquet(f"{OUT}/{name}.parquet"))
        print(f"{name}: {df.count()} rows", flush=True)

    # replicate via a per-row explode of the replica index — at 100
    # replicas a 100-way plan union (make_sf1's shape) would compile
    # slowly for no benefit
    def replicate(df):
        return df.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))))

    docs = src("documents")
    dkey_span = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    write(
        replicate(docs).select(
            (F.col("doc_id") + F.col("rep") * dkey_span).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" replica"),
                                F.col("rep").cast("string")))
            .alias("text"),
            "lang", "source",
            F.when(F.col("rep") == 0, F.col("n_chars"))
            .otherwise(F.col("n_chars") + 8
                       + F.length(F.col("rep").cast("string")))
            .alias("n_chars")),
        "documents")

    emb = src("embeddings")
    vkey_span = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    write(
        replicate(emb).select(
            (F.col("vec_id") + F.col("rep") * vkey_span).alias("vec_id"),
            F.when(F.col("rep") == 0, F.col("embedding"))
            .otherwise(F.expr(
                "transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 "
                "THEN x + rep * CAST(0.001 AS FLOAT) ELSE x END "
                "AS FLOAT))")).alias("embedding"),
            "label"),
        "embeddings", parts=16)

    spark.stop()
    print(f"sf10 derived dataset written to {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
