"""UDF / UDAF / UDTF surface (SURVEY.md §2.2 last row — extension).

The reference compiles everything in; Spark's extension points are:

- **Scalar pandas UDF** (``@pandas_udf``): Arrow-batched, vectorized —
  10-100× over row-at-a-time Python. Shown here as a cosine scorer
  (``udf_pandas_cosine``) and proven equal to the pure-JVM expression.
- **Grouped UDAF** (``applyInPandas``): arbitrary per-group pandas
  logic — shown as an exact per-group median, oracle-checked against
  DuckDB's ``median``.
- **UDTF** (row-multiplying): in Spark the idiomatic form is an
  array-returning expression + ``explode`` (``udtf_explode_bigrams``),
  which stays fully in the JVM.

Rule of thumb encoded in these examples (SURVEY.md §7.0): built-ins
first; pandas UDFs only where built-ins can't express the semantics;
row-at-a-time ``F.udf`` never in a hot path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.text import tokenize_canonical
from mapreducewordcounting_spark.registry import register


def _cosine_to_centroid():
    """Vectorized cosine of each embedding against a fixed unit axis —
    numpy over Arrow batches; no per-row Python. (Built lazily: the
    pandas_udf decorator needs an active SparkSession, so it cannot run
    at import time.)"""

    @pandas_udf("double")
    def cos(emb: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.stack(emb.to_numpy())  # (batch, dim)
        axis = np.zeros(mat.shape[1]); axis[0] = 1.0
        norms = np.linalg.norm(mat, axis=1)
        return pd.Series((mat @ axis) / np.where(norms == 0, 1, norms))

    return cos


@register(
    "udf_pandas_cosine",
    oracle="""
        SELECT vec_id,
               round(CAST(embedding[1] AS DOUBLE) /
                     sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
                   AS axis_cosine
        FROM embeddings
    """,
    tags=("udf", "pandas", "similarity"),
)
def udf_pandas_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF surface — cosine(embedding, e₁). Oracle-checked
    against plain SQL, and tests assert equality with the pure-JVM
    cosine expression (same math, two execution engines).

    Note the float32→float64 boundary: numpy must widen BEFORE the
    norm/dot (np.stack keeps float32 — compute in float64 explicitly),
    else the 7th digit diverges from the SQL twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(_cosine_to_centroid()(F.col("embedding").cast("array<double>")), 6)
        .alias("axis_cosine"),
    )


def median_per_group(df: DataFrame, key: str, value: str,
                     out_value: str = "median_value") -> DataFrame:
    """Grouped UDAF via applyInPandas: exact median per group.

    Scale note: each group must fit one executor's memory (pandas
    materializes the group). Bounded-cardinality money columns per
    brand qualify; an unbounded fact table would use percentile_approx
    instead (see agg_percentiles)."""
    schema = f"{key} STRING, {out_value} DOUBLE"

    def med(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({key: [pdf[key].iloc[0]],
                             out_value: [float(pdf[value].median())]})

    return df.groupBy(key).applyInPandas(med, schema)


@register(
    "udaf_median_per_brand",
    oracle="""
        SELECT p_brand, median(p_retailprice) AS median_price
        FROM part
        GROUP BY p_brand
    """,
    tags=("udf", "udaf", "pandas"),
)
def udaf_median_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas UDAF oracle-checked against DuckDB median."""
    p = load_table(spark, sf_dir, "part")
    return median_per_group(p, "p_brand", "p_retailprice", "median_price")


@register(
    "udtf_explode_bigrams",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(regexp_split_to_array(lower(text), '[\\s\\v]+'),
                                      x -> regexp_replace(x, '[^a-z'']', '', 'g')),
                       w -> length(w) > 0) AS toks
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS bigram
        FROM t
    """,
    tags=("udf", "udtf"),
)
def udtf_explode_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-shaped operator: one doc row → N bigram rows, via an
    array-returning expression + explode (JVM-side; zip_with over
    shifted slices, the shingle idiom from operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks_df = docs.select(
        "doc_id",
        F.filter(tokenize_canonical("text"),
                 lambda w: F.length(w) > 0).alias("toks"),
    )
    m = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("toks", 1, m), F.slice("toks", 2, m),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    return toks_df.select("doc_id", F.explode(bigrams).alias("bigram"))


@register(
    "agg_percentiles",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
               round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
               round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). One array-valued ``percentile`` call, not three
    scalar ones: each scalar aggregate buffers + sorts the full value
    list per group independently (3× memory, 3× sort at 600k rows ≈
    2.9 s); the array form sorts once and reads all three quantiles
    (≈3× faster, same exact math). The 100 TB variant is
    percentile_approx (KLL/GK sketch — bounded memory), registered
    rows-only below."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
    )
    return li.groupBy("l_returnflag").agg(pcts.alias("pcts")).select(
        "l_returnflag",
        F.round(F.col("pcts")[0], 6).alias("p50"),
        F.round(F.col("pcts")[1], 6).alias("p95"),
        F.round(F.col("pcts")[2], 6).alias("p99"),
    )


@register(
    "agg_percentile_approx",
    oracle=None,  # sketch-based; internal test bounds error vs exact
    tags=("agg", "percentile", "approx"),
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx — the bounded-memory sketch for 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
    )


@register(
    "udtf_python_tokenize",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(regexp_split_to_array(lower(text), '[\\s\\v]+'),
                                      x -> regexp_replace(x, '[^a-z'']', '', 'g')),
                       w -> length(w) > 0) AS toks
            FROM documents WHERE doc_id < 50)
        SELECT t.doc_id,
               CAST(i.i - 1 AS INT) AS pos,
               t.toks[i.i] AS word
        FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) i
    """,
    tags=("udf", "udtf", "python-udtf"),
)
def udtf_python_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True class-based Python UDTF (Spark 4 ``@udtf``): one document
    row in, one (pos, word) row per kept token out, invoked via
    LATERAL in SQL — the row-multiplying extension point when the
    fan-out logic genuinely needs Python (here it mirrors the
    canonical tokenizer, so the DuckDB twin pins exact parity with
    the JVM expression path, ``udtf_explode_bigrams``).

    Scale note: a Python UDTF is the slow path (per-partition Python
    workers, pickled rows) — it exists for API completeness and for
    logic with no JVM equivalent; the engine's hot tokenize path stays
    the codegen'd expression in functions/text.py. Capped at doc_id <
    50 for the oracle tier accordingly."""
    import re
    from pyspark.sql.functions import udtf as sql_udtf

    @sql_udtf(returnType="doc_id: bigint, pos: int, word: string")
    class TokenizeUDTF:
        def eval(self, doc_id, text):
            if text is None:
                return
            pos = 0
            for raw in text.lower().split():
                w = re.sub(r"[^a-z']", "", raw)
                if w:
                    yield doc_id, pos, w
                    pos += 1

    spark.udtf.register("mrwc_tokenize_udtf", TokenizeUDTF)
    (load_table(spark, sf_dir, "documents")
     .filter(F.col("doc_id") < 50)
     .createOrReplaceTempView("docs_udtf_v"))
    return spark.sql("""
        SELECT t.doc_id, t.pos, t.word
        FROM docs_udtf_v d,
             LATERAL mrwc_tokenize_udtf(d.doc_id, d.text) t
    """)


@register(
    "cogroup_asof_pandas",
    oracle="""
        SELECT e.event_id,
               e.user_id,
               epoch_us(e.ts) AS purchase_us,
               (SELECT epoch_us(max(s.ts)) FROM events s
                WHERE s.user_id = e.user_id
                  AND s.event_type = 'signup'
                  AND s.ts <= e.ts) AS last_signup_us
        FROM events e
        WHERE e.event_type = 'purchase'
    """,
    tags=("udf", "cogroup", "applyInPandas", "asof"),
)
def cogroup_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas``: purchases and signups cogrouped,
    each pair of groups handed to pandas ``merge_asof`` — the
    two-input custom-operator extension point (the API the engine
    offers when per-key logic needs both inputs at once and SQL can't
    state it).

    Same semantics and same oracle as temporal.py::join_asof, which IS
    the engine's scale path (union-window, pure JVM); this variant
    exists to cover the cogroup surface and double-checks the two
    implementations against one oracle.

    Scale shape: the cogroup key is a *hash bucket* of user_id, not
    user_id itself — ``merge_asof(by="user_id")`` restores per-user
    semantics inside each Arrow batch. Cogrouping directly on the
    entity key invokes Python once per entity (per-call overhead ×
    |users| dominated the runtime: 11 s for 1 500 users at sf0.1);
    bucketing caps the number of Python round-trips at the bucket
    count while keeping every batch bounded (≈ |events|/buckets rows),
    which is precisely the contract cogroup needs at 100 TB — raise
    the bucket count with data volume so batches stay in memory.
    Bucketed form runs the same oracle in ~0.5 s."""
    ev = load_table(spark, sf_dir, "events")
    n_buckets = 32
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("b")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", bucket)
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", bucket)

    def asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                {"event_id": pd.array([], dtype="Int64"),
                 "user_id": pd.array([], dtype="Int64"),
                 "purchase_us": pd.array([], dtype="Int64"),
                 "last_signup_us": pd.array([], dtype="Int64")})
        if "ts" not in left.columns:  # left pruned to key (see below):
            n = len(left)             # only cardinality can matter
            null_i64 = pd.array([pd.NA] * n, dtype="Int64")
            return pd.DataFrame({"event_id": null_i64, "user_id": null_i64,
                                 "purchase_us": null_i64,
                                 "last_signup_us": null_i64})
        left = left.sort_values("ts")
        # "ts" missing ⇒ Catalyst pruned the cogroup input to its
        # grouping key: it does this when the plan consumes only the
        # UDF's CARDINALITY (count()-style), never its values. Safe to
        # treat as empty here because this operator's output row count
        # is len(left) regardless of the right side (merge_asof
        # backward keeps every left row) — under any plan where values
        # matter, the full columns arrive.
        if right.empty or "ts" not in right.columns:
            merged = left.assign(
                ts_match=pd.Series(pd.NaT, index=left.index)
                .astype(left["ts"].dtype))
        else:
            # merge_asof keeps only the left 'ts'; rename the right one
            # so the matched signup timestamp survives as its own column
            merged = pd.merge_asof(
                left, right.sort_values("ts")
                           .rename(columns={"ts": "ts_match"}),
                left_on="ts", right_on="ts_match", by="user_id",
                direction="backward", allow_exact_matches=True)
        us = merged["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        sig = merged["ts_match"].to_numpy().astype("datetime64[us]")
        sig_us = pd.array(sig.astype("int64"), dtype="Int64")
        sig_us[pd.isna(sig)] = pd.NA
        return pd.DataFrame({
            "event_id": merged["event_id"].astype("int64"),
            "user_id": merged["user_id"].astype("int64"),
            "purchase_us": us,
            "last_signup_us": sig_us,
        })

    return (
        purchases.groupBy("b")
        .cogroup(signups.groupBy("b"))
        .applyInPandas(asof, "event_id long, user_id long, "
                             "purchase_us long, last_signup_us long")
    )
