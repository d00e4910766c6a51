"""Derive an sf1 BENCH-ONLY dataset from the driver's sf0.1 tables
(VERDICT r10 item 4: "extend the r10 scaling curves one decade").

    python tools/make_sf1.py   ->  scale_scratch/sf1/*.parquet

The driver ships sf0.001/0.01/0.1 only, and the testdata tree is
read-only — so the decade point is DERIVED, not regenerated: each
fact table is 10 shifted replicas of the driver's sf0.1 data (seeded
by the replica index, fully deterministic), dimensions are copied
through. This preserves the driver distributions (every value
distribution at sf1 is exactly the sf0.1 distribution) while scaling
the join/shuffle/aggregate cardinalities 10x. BENCH ONLY: the
correctness gate stays on the driver's own parquet (sf0.01), and
nothing under scale_scratch/ is committed (.gitignore).

Replica rules — chosen so scale-critical operators see realistic
growth instead of degenerate 10x exact copies:

* orders/lineitem: o_orderkey/l_orderkey shift by replica x (max+1);
  o_custkey/l_partkey/l_suppkey keep referencing the UNCHANGED
  dimensions (10x orders per customer — a fatter fact side, the
  actual scale direction). Order dates shift by the replica index in
  DAYS so time rollups see a longer history, not 10 copies of one.
* events: event_id shift; ts shifts by replica days; user_id keeps
  its domain (10x events per user).
* documents: doc_id shift; replica > 0 texts get a deterministic
  per-replica suffix token so near-dup operators see plausible
  near-duplicates across replicas rather than 10-way exact dups
  (exact-dup behavior within each replica is already the sf0.1 mix).
* embeddings: vec_id shift; replica > 0 vectors perturb ONE dimension
  by replica x 1e-3 — distinct vectors, same geometry. The ANN query
  set (vec_id < 10) is unchanged; as of r12 the anchor budget is a
  FIXED ANN_NLIST=40 (floor(n/nlist) stride), so 10x vectors means a
  10x-coarser stride, not 10x anchors — the VERDICT r11 item 2 fix
  this dataset's ivf curve measures.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.measure import SF_DIR as SRC  # noqa: E402

OUT = os.path.join(REPO, "scale_scratch", "sf1")
REPLICAS = 10


def replicate(df, reps=REPLICAS):
    """UNION of `reps` copies, each tagged with rep index."""
    from pyspark.sql import functions as F

    out = None
    for rep in range(reps):
        d = df.withColumn("rep", F.lit(rep))
        out = d if out is None else out.unionByName(d)
    return out


def derive_embeddings(emb):
    """The sf1 embeddings from the sf0.1 ones (the replica rule in the
    module docstring). tests/test_similarity.py builds its sf1 corpus
    with this, so the recall floors run without the full derivation."""
    from pyspark.sql import functions as F

    vkey_span = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    return replicate(emb).select(
        (F.col("vec_id") + F.col("rep") * vkey_span).alias("vec_id"),
        F.when(F.col("rep") == 0, F.col("embedding"))
        .otherwise(F.expr(
            "transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 "
            "THEN x + rep * CAST(0.001 AS FLOAT) ELSE x END "
            "AS FLOAT))")).alias("embedding"),
        "label")


def main() -> int:
    from pyspark.sql import functions as F

    from mapreducewordcounting_spark.session import get_spark

    spark = get_spark(app_name="mrwc-make-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)

    def src(name):
        return spark.read.parquet(f"{SRC}/{name}.parquet")

    def write(df, name, parts=32):
        (df.repartition(parts)
         .write.mode("overwrite").parquet(f"{OUT}/{name}.parquet"))
        print(f"{name}: {df.count()} rows", flush=True)

    # dimensions: copy through unchanged
    for t in ["region", "nation", "customer", "supplier", "part"]:
        write(src(t), t, parts=1)

    orders = src("orders")
    okey_span = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    write(
        replicate(orders).select(
            (F.col("o_orderkey") + F.col("rep") * okey_span)
            .alias("o_orderkey"),
            "o_custkey", "o_orderstatus", "o_totalprice",
            (F.col("o_orderdate")
             + F.make_interval(days=F.col("rep"))).alias("o_orderdate"),
            "o_orderpriority"),
        "orders")

    write(
        replicate(src("lineitem")).select(
            (F.col("l_orderkey") + F.col("rep") * okey_span)
            .alias("l_orderkey"),
            "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus",
            (F.col("l_shipdate")
             + F.make_interval(days=F.col("rep"))).alias("l_shipdate")),
        "lineitem")

    events = src("events")
    ekey_span = events.agg(F.max("event_id")).collect()[0][0] + 1
    write(
        replicate(events).select(
            (F.col("event_id") + F.col("rep") * ekey_span)
            .alias("event_id"),
            (F.col("ts") + F.make_interval(days=F.col("rep")))
            .alias("ts"),
            "user_id", "event_type", "value", "props"),
        "events")

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

    write(derive_embeddings(src("embeddings")), "embeddings", parts=8)

    spark.stop()
    print(f"sf1 derived dataset written to {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
