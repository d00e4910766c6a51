"""Text analysis operators (SURVEY.md §2.3 — M4, north-star extension).

The reference computes exactly one text statistic — global word count
(sendFileByFile.cpp:150-200, :353-374). This module generalizes the
same tokenize→normalize pipeline (functions/text.py, reference O3-O6)
into the text-analysis surface an LLM training-data pipeline needs:
per-document stats, per-group top-k, vocabulary cardinality, stopword
filtering, tf-idf, quality scoring, token-count estimation, and
document fingerprinting.

Everything is built-in column expressions (explode/split/regexp/agg) —
no Python UDFs, so the whole module rides whole-stage codegen and
scales with executors. Shuffles: one hash exchange per groupBy on
(word) or (doc_id); no global sorts except explicit small top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.text import (
    doc_marker,
    is_doc_marker,
    tokenize_canonical,
    words_canonical,
)
from mapreducewordcounting_spark.registry import register

#: tiny fixed stopword list matching the fixture vocabulary
STOPWORDS = ("the", "a", "of", "and", "to")

_SQL_TOKS = """
    SELECT doc_id, lang, source,
           list_filter(
               list_transform(regexp_split_to_array(lower(text), '[\\s\\v]+'),
                              t -> regexp_replace(t, '[^a-z'']', '', 'g')),
               w -> length(w) > 0) AS toks
    FROM documents
"""


@register(
    "text_doc_stats",
    oracle=f"""
        WITH t AS ({_SQL_TOKS})
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
                   / nullif(len(toks), 0) AS avg_token_len
        FROM t
    """,
    tags=("text", "stats"),
)
def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics computed entirely with array HOFs
    — no explode, no shuffle at all (a pure map stage at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (
            F.aggregate(toks, F.lit(0).cast("long"),
                        lambda acc, w: acc + F.length(w)).cast("double")
            # nullif guard: ANSI mode (Spark 4 default) turns /0 into a
            # query-killing error; zero-token docs must yield NULL
            / F.nullif(F.size(toks), F.lit(0))
        ).alias("avg_token_len"),
    )


@register(
    "text_topk_words_per_source",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        wc AS (
            SELECT source, unnest(toks) AS word FROM t
        ),
        counts AS (
            SELECT source, word, count(*) AS cnt FROM wc GROUP BY source, word
        )
        SELECT source, word, cnt, rn
        FROM (SELECT source, word, cnt,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY cnt DESC, word) AS rn
              FROM counts)
        WHERE rn <= 5
    """,
    tags=("text", "topk", "window"),
)
def text_topk_words_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 words per source: the flagship word count partitioned by
    source + a ranking window. Two shuffles total (word-count agg, then
    window on source) regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        docs.select("source", F.explode(tokenize_canonical("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


@register(
    "text_vocab_per_lang",
    oracle=f"""
        WITH t AS ({_SQL_TOKS})
        SELECT lang,
               count(DISTINCT word) AS vocab_size,
               count(*) AS total_tokens
        FROM (SELECT lang, unnest(toks) AS word FROM t)
        GROUP BY lang
    """,
    tags=("text", "vocab"),
)
def text_vocab_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vocabulary size per language. (The 100 TB variant swaps
    count_distinct for approx_count_distinct — see text_vocab_approx.)"""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(tokenize_canonical("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang")
        .agg(
            F.count_distinct("word").alias("vocab_size"),
            F.count("*").alias("total_tokens"),
        )
    )


@register(
    "text_vocab_approx",
    oracle=None,  # HLL sketch — engine-specific; internal test bounds
    # the error against text_vocab_per_lang's exact counts.
    tags=("text", "vocab", "approx"),
)
def text_vocab_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct vocabulary — constant memory per group at
    any corpus size (the 100 TB path)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(tokenize_canonical("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang")
        .agg(F.approx_count_distinct("word", rsd=0.01).alias("approx_vocab"))
    )


@register(
    "text_stopword_topk",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        counts AS (
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest(toks) AS word FROM t)
            WHERE word NOT IN ('the', 'a', 'of', 'and', 'to')
            GROUP BY word
        )
        SELECT word, cnt FROM counts
        ORDER BY cnt DESC, word
        LIMIT 20
    """,
    tags=("text", "stopwords", "topk"),
)
def text_stopword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count with stopword removal, global top-20 (deterministic
    word tie-break). The stopword filter sits before the aggregation,
    shrinking the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize_canonical("text")).alias("word"))
        .filter((F.length("word") > 0) & (~F.col("word").isin(*STOPWORDS)))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


@register(
    "text_tfidf",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        words AS (SELECT doc_id, unnest(toks) AS word FROM t),
        tf AS (SELECT doc_id, word, count(*) AS tf
               FROM words GROUP BY doc_id, word),
        df AS (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM words)
        SELECT tf.doc_id, tf.word, tf.tf,
               round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN n
        WHERE tf.doc_id < 20
    """,
    tags=("text", "tfidf"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf from first principles as two aggregations + a broadcast
    join (df table is |vocab| rows — tiny next to the corpus, so it
    broadcasts; the n_docs scalar folds in as a crossjoined literal).
    Smoothed idf = ln((N+1)/(df+1)); ln rounded to 6 (libm parity)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words_canonical("text").alias("toks"))
    # one marker term per document with a word (functions.text.doc_marker)
    terms = F.concat("toks", doc_marker("doc_id", F.size("toks") > 0))
    words = toks.select("doc_id", F.explode(terms).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    # df and N derive from tf, not the raw word stream: tf is already
    # one row per (doc, word), so df = non-NULL doc_ids per word and N =
    # its marker rows; neither needs a doc_id exchange. Markers stay out
    # of df, so the broadcast df table stays vocabulary-sized and the
    # inner join drops them from the output.
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut, the
    # consumers re-scan: scans 1 → 3.
    tf = tf.localCheckpoint(eager=True)
    df = (tf.filter(~is_doc_marker("word"))
          .groupBy("word").agg(F.count("doc_id").alias("df")))
    n_docs = tf.agg(F.count_if(is_doc_marker("word")).alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "text_quality_score",
    oracle=f"""
        WITH t AS ({_SQL_TOKS})
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(len(list_filter(toks,
                        w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                   / nullif(len(toks), 0) AS stopword_ratio,
               CAST(len(list_filter(toks, w -> length(w) >= 4)) AS DOUBLE)
                   / nullif(len(toks), 0) AS long_token_ratio,
               (len(toks) BETWEEN 20 AND 1000) AS len_ok
        FROM t
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (stopword ratio, long-token ratio,
    length gate) — the heuristics training-data pipelines filter on.
    Pure per-row array math: no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    n = F.size(toks)
    n_safe = F.nullif(n, F.lit(0))  # ANSI-safe ratios for empty docs
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        (
            F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))).cast("double")
            / n_safe
        ).alias("stopword_ratio"),
        (
            F.size(F.filter(toks, lambda w: F.length(w) >= 4)).cast("double")
            / n_safe
        ).alias("long_token_ratio"),
        n.between(20, 1000).alias("len_ok"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
        WITH t AS ({_SQL_TOKS})
        SELECT doc_id,
               sha256(array_to_string(toks, ' ')) AS fingerprint
        FROM t
    """,
    tags=("text", "fingerprint", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint: sha256 over the canonical token
    stream. Whitespace/punctuation-insensitive identity for exact-dedup
    at scale (hash is 32 bytes/doc regardless of doc size)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    return docs.select(
        "doc_id",
        F.sha2(F.array_join(toks, " "), 256).alias("fingerprint"),
    )


@register(
    "text_token_count_bpe",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s\\v]'))
                   AS n_bpe_tokens,
               length(text) AS n_chars
        FROM documents
    """,
    tags=("text", "tokens"),
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting via a single regex pass (letters runs,
    digit runs, lone symbols) — the cheap token-budget estimator used
    when a real tokenizer is too expensive for a first pass."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower("text"),
                                 F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


@register(
    "text_lang_stats",
    oracle=f"""
        WITH t AS ({_SQL_TOKS})
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
               CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avg_doc_tokens
        FROM t
        GROUP BY lang, source
    """,
    tags=("text", "stats"),
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by (lang, source) — the partition-planning
    stats a 100 TB ingest runs first."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    return (
        docs.select("lang", "source", F.size(toks).alias("n_toks"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            (F.sum("n_toks").cast("double") / F.count("*")).alias("avg_doc_tokens"),
        )
    )


#: character-marker profiles for the n-gram language-ID heuristic
#: (tiny on purpose — the operator is the scoring/argmax plumbing;
#: production swaps in real trigram profiles, same plan shape)
LANG_PROFILES = {
    "en": (" the ", " and ", " of "),
    "es": (" el ", " la ", " los "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " les ", " des "),
}


@register(
    "text_lang_id",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   (CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% and %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% of %' THEN 1 ELSE 0 END)
                       AS s_en,
                   (CASE WHEN ' ' || text || ' ' LIKE '% el %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% la %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% los %' THEN 1 ELSE 0 END)
                       AS s_es,
                   (CASE WHEN ' ' || text || ' ' LIKE '% der %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% und %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% die %' THEN 1 ELSE 0 END)
                       AS s_de,
                   (CASE WHEN ' ' || text || ' ' LIKE '% le %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% les %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% des %' THEN 1 ELSE 0 END)
                       AS s_fr
            FROM documents
        )
        SELECT doc_id, s_en, s_es, s_de, s_fr,
               CASE WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
                    WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
                    WHEN s_de >= s_fr THEN 'de'
                    ELSE 'fr' END AS lang_guess
        FROM scored
    """,
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: score each doc against per-language
    marker-n-gram profiles (codegen'd ``contains``, no UDF), argmax
    with a fixed precedence order (en > es > de > fr on ties — the
    deterministic tie-break the oracle mirrors). One map stage; at
    100 TB this is a scan-rate classifier."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scores = {
        lang: sum(
            (F.when(padded.contains(m), 1).otherwise(0) for m in marks),
            F.lit(0),
        ).alias(f"s_{lang}")
        for lang, marks in LANG_PROFILES.items()
    }
    scored = docs.select("doc_id", *scores.values())
    guess = (
        F.when(F.col("s_en") >= F.greatest("s_es", "s_de", "s_fr"), "en")
        .when(F.col("s_es") >= F.greatest("s_de", "s_fr"), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
    )
    return scored.withColumn("lang_guess", guess)


@register(
    "pipeline_training_data",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang, source,
                   list_filter(
                       list_transform(regexp_split_to_array(lower(text), '[\\s\\v]+'),
                                      t -> regexp_replace(t, '[^a-z'']', '', 'g')),
                       w -> length(w) > 0) AS toks,
                   md5(text) AS content_hash
            FROM documents
        ),
        quality AS (
            SELECT * FROM toks
            WHERE len(toks) BETWEEN 20 AND 1000
              AND CAST(len(list_filter(toks,
                      w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                  / len(toks) < 0.5
        ),
        deduped AS (
            SELECT * FROM quality
            WHERE doc_id IN (SELECT min(doc_id) FROM quality
                             GROUP BY content_hash)
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(len(toks)) AS BIGINT) AS total_tokens
        FROM deduped
        GROUP BY lang
    """,
    tags=("text", "pipeline", "dedup", "quality"),
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data prep pipeline in one plan:
    tokenize → quality gate (length + stopword ratio) → exact dedup
    (survivor = min doc_id per content hash) → per-language token
    budget. Composed from this module's operators; Catalyst fuses the
    scan/filter/project stages, and the only exchanges are the dedup
    group and the final aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    base = docs.select(
        "doc_id", "lang", "source", toks.alias("toks"),
        F.md5(F.col("text").cast("binary")).alias("content_hash"))
    n = F.size("toks")
    quality = base.filter(
        n.between(20, 1000)
        & ((F.size(F.filter("toks", lambda w: w.isin(*STOPWORDS)))
            .cast("double") / n) < 0.5))
    survivors = quality.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"))
    deduped = quality.join(survivors, ["content_hash", "doc_id"], "leftsemi")
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("toks")).alias("total_tokens"),
    )


@register(
    "text_tfidf_ml",
    oracle=None,  # HashingTF buckets terms by murmur3 — engine-side;
    # tests/test_text_ml.py checks rank agreement with exact tf-idf.
    tags=("text", "tfidf", "ml"),
)
def text_tfidf_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf via spark.ml HashingTF+IDF — the fixed-width-vector
    variant (2^18 features, no vocabulary build, one pass + one fit):
    at 100 TB there is no driver-side vocab to hold, which is why
    pipelines hash instead of building the exact df table
    (text_tfidf). Output: per-doc max tf-idf weight and the number of
    non-zero features."""
    from pyspark.ml.feature import IDF, HashingTF

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(tokenize_canonical("text"),
                 lambda w: F.length(w) > 0).alias("toks"))
    if toks.isEmpty():  # IDF fit is undefined on zero rows: empty
        return spark.createDataFrame(  # result, stable schema
            [], "doc_id long, max_weight double, n_terms int")
    tf = HashingTF(inputCol="toks", outputCol="tf",
                   numFeatures=1 << 18).transform(toks)
    model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = model.transform(tf)

    import pandas as pd

    # Arrow-batched pandas UDF over the VectorUDT struct — NOT
    # vector_to_array + array_max: that materializes a dense 2^18
    # doubles (2 MB) per document, while the Arrow transfer of the
    # sparse struct moves only the nnz values. The struct's `values`
    # field is the stored (nonzero-pattern) entries for sparse
    # vectors and the full array for dense, so max/size match the
    # vector's own .values semantics in both layouts.
    @F.pandas_udf("max_weight double, n_terms int")
    def vec_stats(v):  # struct input arrives as pd.DataFrame (SCALAR)
        vals = v["values"]
        return pd.DataFrame({
            "max_weight": vals.apply(
                lambda a: round(float(max(a)), 6) if len(a) else 0.0),
            "n_terms": vals.apply(len).astype("int32"),
        })

    return out.select("doc_id", vec_stats("tfidf").alias("s")) \
        .select("doc_id", "s.max_weight", "s.n_terms")


#: fixed query terms for the BM25 ranking demo (mid-frequency fixture words)
BM25_TERMS = ("scan", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "text_bm25",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        dl AS (SELECT doc_id, len(toks) AS dl FROM t),
        stats AS (SELECT count(*) AS n_docs,
                         CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
                             / count(*) AS avgdl FROM dl),
        tf AS (
            SELECT t.doc_id, u.w AS word, count(*) AS tf
            FROM t, unnest(t.toks) AS u(w)
            WHERE u.w IN ('scan', 'merge', 'window')
            GROUP BY t.doc_id, u.w),
        df AS (SELECT word, count(*) AS df FROM tf GROUP BY word)
        SELECT tf.doc_id,
               count(*) AS n_terms_matched,
               CAST(sum(CAST(
                   ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                        + {_BM25_B} * dl.dl / stats.avgdl))
                   AS DECIMAL(38,9))) AS DOUBLE) AS score
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN df ON df.word = tf.word
        CROSS JOIN stats
        GROUP BY tf.doc_id
    """,
    tags=("text", "ranking", "bm25"),
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking of the corpus against a fixed query-term set
    — the retrieval-side sibling of text_tfidf (same tf/df/dl building
    blocks, the scoring every search/RAG corpus pipeline needs).

    Dataflow at scale: the corpus is tokenized once; tf is the only
    fact-sized aggregate (one exchange on (doc_id, word), pre-filtered
    to the query terms so almost all tokens die at the map side); df,
    N, and avgdl are tiny aggregates broadcast back onto tf. Scoring
    is a pure codegen'd expression; no global sort — callers top-k
    with the window/limit operators."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut, dl and
    # tf each re-scan: scans 1 → 4, sf0.1 wall 0.74 → 0.96 s.
    base = docs.select("doc_id", toks.alias("toks")).localCheckpoint(eager=True)
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        base.select("doc_id", F.explode("toks").alias("word"))
        .filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    stats = dl.agg(F.count("*").alias("n_docs"),
                   (F.sum(F.col("dl").cast("long")).cast("double")
                    / F.count("*")).alias("avgdl"))
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0)
    per_term = (idf * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b
                    + b * F.col("dl") / F.col("avgdl"))))
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_terms_matched"),
             F.sum(per_term.cast("decimal(38,9)")).cast("double")
             .alias("score"))
    )


#: heavy-hitter support threshold (fraction of total tokens)
_HH_SUPPORT = 0.034


@register(
    "text_heavy_hitters",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        w AS (SELECT u.w AS word, count(*) AS cnt
              FROM t, unnest(t.toks) AS u(w) GROUP BY u.w),
        tot AS (SELECT sum(cnt) AS total FROM w)
        SELECT w.word, w.cnt,
               w.cnt / CAST(tot.total AS DOUBLE) AS freq
        FROM w CROSS JOIN tot
        WHERE w.cnt >= {_HH_SUPPORT} * tot.total
    """,
    tags=("text", "heavy-hitters", "aggregation"),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: words whose frequency is ≥ a support
    fraction of all tokens — the exact counterpart the Count-Min
    sketch (sketches.py::sketch_count_min) approximates, kept
    oracle-checked because it is plain SQL.

    At scale this is the word count (one exchange, partial agg) plus a
    1-row total broadcast back as the threshold — the second pass over
    the *aggregated* table (|vocab| rows), never over the corpus.
    The sketch variant exists for when even |vocab| is too big."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    counts = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
        # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut
        # reads 5 → 4 jobs, scans 1, but sf0.1 wall lost 2 of 5 pairs.
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(_HH_SUPPORT) * F.col("total"))
        .select("word", "cnt",
                (F.col("cnt") / F.col("total").cast("double")).alias("freq"))
    )


#: vocabulary size for the coverage/OOV operator
_VOCAB_K = 20


@register(
    "text_vocab_coverage",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        ex AS (SELECT doc_id, lang, u.w AS word
               FROM t, unnest(t.toks) AS u(w)),
        vocab AS (
            SELECT word FROM (
                SELECT word, count(*) AS cnt FROM ex GROUP BY word
                ORDER BY cnt DESC, word ASC LIMIT {_VOCAB_K})),
        per_doc AS (
            SELECT e.doc_id, e.lang,
                   count(*) AS n_toks,
                   count(*) FILTER (WHERE e.word IN (SELECT word FROM vocab))
                       AS n_in
            FROM ex e GROUP BY e.doc_id, e.lang)
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CAST(round(1.0 - CAST(n_in AS DOUBLE) / n_toks, 9)
                   AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS avg_oov_rate
        FROM per_doc
        GROUP BY lang
    """,
    tags=("text", "vocab", "oov", "training"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-K vocabulary from
    the corpus itself, then measure each document's out-of-vocabulary
    rate, rolled up per language — the coverage check run before
    committing to a tokenizer vocab in a training pipeline.

    Dataflow: word counts (one exchange), top-K of the *aggregated*
    table (tiny sort), broadcast the K-row vocab back as a semi-join —
    the corpus is scanned twice but shuffled once, and the second pass
    joins map-side. Deterministic top-K: ties broken by word."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    # ex is consumed by vocab AND per_doc (tokenize runs twice) but is
    # deliberately NOT checkpointed: materializing corpus-sized token
    # ROWS costs more than the second tokenize (A/B 1.3-1.8 s without
    # vs 1.7-2.3 s with at sf0.1) — cuts pay on aggregated or
    # array-compacted tables, not exploded fact-sized ones
    ex = docs.select("doc_id", "lang", F.explode(toks).alias("word"))
    vocab = (
        ex.groupBy("word").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word")).limit(_VOCAB_K)
        .select("word")
    )
    per_doc = (
        ex.join(F.broadcast(vocab).withColumn("in_vocab", F.lit(1)),
                "word", "left")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_toks"),
             F.count("in_vocab").alias("n_in"))
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.round(1.0 - F.col("n_in").cast("double")
                       / F.col("n_toks"), 9)
               .cast("decimal(38,9)")).cast("double") / F.count("*"))
        .alias("avg_oov_rate"),
    )


#: vocabulary size for the token-id mapping (control-sized by design)
TOKEN_ID_VOCAB_K = 40


@register(
    "text_token_ids",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        words AS (SELECT unnest(toks) AS word FROM t),
        counts AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
        vocab AS (
            SELECT word, rn - 1 AS token_id
            FROM (SELECT word, cnt,
                         row_number() OVER (ORDER BY cnt DESC, word) AS rn
                  FROM counts)
            WHERE rn <= {TOKEN_ID_VOCAB_K}
        ),
        pos_tok AS (
            SELECT doc_id, i.i AS pos, toks[i.i] AS word
            FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) i
        ),
        mapped AS (
            SELECT p.doc_id, p.pos,
                   coalesce(v.token_id, -1) AS tid
            FROM pos_tok p LEFT JOIN vocab v USING (word)
        )
        SELECT doc_id,
               array_to_string(list(tid ORDER BY pos), ' ') AS token_ids,
               count(*) AS n_tokens,
               CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM mapped GROUP BY doc_id
    """,
    tags=("text", "training", "tokenize", "vocab"),
)
def text_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids — the stage that turns a text corpus into model
    input: build a frequency-ranked vocabulary (id = dense rank, ties
    broken lexically so the mapping is engine- and run-deterministic),
    then map every document to its ``array<long>`` of token ids with
    OOV → -1.

    Scale shape: the vocabulary is *control state* — top-K by a
    map-side-combinable count + ``orderBy().limit(K)`` (TakeOrdered,
    no global sort), then broadcast into the id-assignment join, so
    the corpus-sized path is one explode + one broadcast join + one
    groupBy(doc_id) reassembly. The final window that numbers the K
    vocabulary rows runs on K rows only — the single-partition sort
    everyone warns about is fine when its input is bounded by
    construction. Positional order survives the shuffle via
    array_sort(collect_list(struct(pos, id)))."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    # tok (posexploded, corpus-sized) is consumed twice but NOT
    # checkpointed — same A/B verdict as text_vocab_coverage: exploded
    # token-row materialization loses to re-tokenizing
    tok = docs.select("doc_id", F.posexplode(toks).alias("pos", "word"))
    counts = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    topk = counts.orderBy(F.desc("cnt"), "word").limit(TOKEN_ID_VOCAB_K)
    vocab = topk.select(
        "word",
        (F.row_number().over(Window.orderBy(F.desc("cnt"), "word")) - 1)
        .cast("long").alias("token_id"))
    mapped = (
        tok.join(F.broadcast(vocab), "word", "left")
        .select("doc_id", "pos",
                F.coalesce("token_id", F.lit(-1).cast("long")).alias("tid"))
    )
    return (
        mapped.groupBy("doc_id")
        .agg(
            F.array_join(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s.tid.cast("string")), " ").alias("token_ids"),
            F.count("*").alias("n_tokens"),
            F.sum((F.col("tid") == -1).cast("long")).alias("n_oov"),
        )
    )


@register(
    "text_token_entropy",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        wc AS (SELECT source, unnest(toks) AS word FROM t),
        counts AS (SELECT source, word, count(*) AS cnt
                   FROM wc GROUP BY source, word),
        tot AS (SELECT source, sum(cnt) AS n_tokens FROM counts
                GROUP BY source)
        SELECT c.source,
               CAST(any_value(t.n_tokens) AS BIGINT) AS n_tokens,
               count(*) AS vocab_size,
               -CAST(sum(CAST((CAST(c.cnt AS DOUBLE) / t.n_tokens)
                    * log2(CAST(c.cnt AS DOUBLE) / t.n_tokens)
                    AS DECIMAL(38,9))) AS DOUBLE)
                   AS entropy_bits
        FROM counts c JOIN tot t USING (source)
        GROUP BY c.source
    """,
    tags=("text", "quality", "entropy"),
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution (bits) —
    the corpus-diversity quality signal: near-zero entropy flags
    template/boilerplate sources, high entropy flags natural text.
    Complements the per-document repetition signals
    (training_ops.py) with a per-slice aggregate view.

    Scale: two map-side-combinable aggregations — (source, word)
    counts, then a per-source fold; the totals side of the join is
    |sources| rows (broadcast). Entropy is algebraic over the count
    table: nothing in the plan holds more than the slice vocabulary,
    and the approx path past memory is sketched frequency (Count-Min)
    feeding the same formula."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)
    counts = (
        docs.select("source", F.explode(toks).alias("word"))
        .groupBy("source", "word").agg(F.count("*").alias("cnt"))
        # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut
        # reads 6 → 5 jobs, scans 1, but sf0.1 wall lost 3 of 5 pairs.
        .localCheckpoint(eager=True)
    )
    tot = counts.groupBy("source").agg(F.sum("cnt").alias("n_tokens"))
    p = F.col("cnt").cast("double") / F.col("n_tokens")
    return (
        counts.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(F.any_value("n_tokens").alias("n_tokens"),
             F.count("*").alias("vocab_size"),
             (-F.sum((p * F.log2(p)).cast("decimal(38,9)"))
              .cast("double")).alias("entropy_bits"))
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        words AS (SELECT doc_id, unnest(toks) AS word FROM t),
        uni AS (SELECT word, count(*) AS c FROM words GROUP BY 1),
        tot AS (SELECT count(*) AS n_total FROM words)
        SELECT w.doc_id,
               count(*) AS n_toks,
               round(avg(ln(CAST(u.c AS DOUBLE) / tot.n_total)), 6)
                   AS avg_logprob
        FROM words w JOIN uni u USING (word) CROSS JOIN tot
        GROUP BY w.doc_id
    """,
    tags=("text", "quality", "language-model"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring — the perplexity-style filter of
    CCNet-lineage pretraining pipelines: score each document by its
    mean token log-probability under a unigram model fit on the corpus
    itself (low score = improbable token stream = boilerplate, noise,
    or wrong-language text; threshold or quantile-bucket downstream).

    Scale structure: the unigram model IS a (word, count) relation —
    one map-side-combined aggregate over the exploded token stream —
    and it is vocabulary-sized, so it BROADCASTS back onto the same
    token stream (the tf-idf df-table lesson); the per-doc score is
    then one doc-keyed aggregate. Two shuffles total, nothing larger
    than the vocabulary is ever broadcast, and swapping the unigram
    for a real LM just replaces the broadcast model relation with a
    Pandas-UDF scoring stage. ln is ulp-stable across engines and the
    mean is rounded at 6 (the libm-parity contract of text_tfidf)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(tokenize_canonical("text")).alias("word")
    ).filter(F.length("word") > 0)
    # The corpus total is sum(c) over the unigram relation (an exact
    # integer identity with count(*) over words), so it needs no
    # corpus pass of its own: two scans, fit the model and score.
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut reads
    # 7 → 6 jobs and sf0.1 wall won 4 of 5 pairs, but derived-sf1
    # wall lost 3 of 5.
    uni = words.groupBy("word").agg(F.count("*").alias("c")) \
        .localCheckpoint(eager=True)
    tot = uni.select(F.sum("c").alias("n_total"))
    return (
        words.join(F.broadcast(uni), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.avg(F.log(F.col("c").cast("double")
                                / F.col("n_total"))), 6)
            .alias("avg_logprob"),
        )
    )


@register(
    "text_dup_ngram_coverage",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' '
                                      || toks[i+2])) AS shingles
            FROM t),
        inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh
                WHERE len(shingles) > 0),
        df AS (SELECT shingle, count(*) AS df FROM inv GROUP BY 1)
        SELECT i.doc_id,
               count(*) AS n_shingles,
               count(CASE WHEN d.df > 1 THEN 1 END) AS n_shared,
               round(CAST(count(CASE WHEN d.df > 1 THEN 1 END) AS DOUBLE)
                     / count(*), 6) AS dup_fraction
        FROM inv i JOIN df d USING (shingle)
        GROUP BY i.doc_id
    """,
    tags=("text", "dedup", "coverage", "memorization"),
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication rate: the fraction of a document's
    distinct 3-gram shingles that appear in ANY other document — the
    memorization-risk / dedup-prioritization metric (a doc at 0.9 is
    mostly boilerplate the corpus already has; a doc at 0.05 is fresh
    signal). Unlike the pairwise dedup operators this is a per-doc
    AGGREGATE: no pair space at all, so it runs on corpora where even
    candidate generation is too expensive, and its output ranks which
    docs deserve the pairwise treatment.

    Two shuffles, ONE scan: df per shingle is a window count over
    ``partitionBy(shingle)`` — not a df-table join-back. The join
    form scans + tokenizes the corpus twice (the df aggregate and the
    probe side are separate lineages; AQE's alias canonicalization
    defeats ReusedExchange here, same effect as similarity_tfidf_pairs'
    12-Generate blowup) and broadcasts a VOCABULARY-sized table, which
    is exactly the thing that stops fitting driver memory at 100 TB.
    The window form shuffles the shingle stream once, counts within
    each shingle partition with O(1) state (no ordering, whole-
    partition frame), and feeds the per-doc rollup directly. df > 1
    over DISTINCT per-doc shingles is exactly "appears in at least
    one other doc". A/B at sf0.1/local[32], identical 5000-row
    output: 1.43 s (window) vs 1.90 s (broadcast join-back) vs
    2.15 s (shuffle join-back)."""
    from mapreducewordcounting_spark.operators.dedup import _toks, shingles

    docs = load_table(spark, sf_dir, "documents")
    inv = (
        docs.select("doc_id", _toks().alias("toks"))
        .select("doc_id", F.explode(shingles(F.col("toks"))).alias("shingle"))
    )
    per = inv.select(
        "doc_id",
        F.count("*").over(Window.partitionBy("shingle")).alias("df"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count_if(F.col("df") > 1).alias("n_shared"),
            F.round(F.count_if(F.col("df") > 1).cast("double")
                    / F.count("*"), 6).alias("dup_fraction"),
        )
    )


#: how many top pairs the BPE-step query keeps
BPE_TOP_PAIRS = 20


@register(
    "text_bpe_pair_counts",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        w AS (SELECT unnest(toks) AS word FROM t),
        p AS (
            SELECT unnest(list_transform(range(1, length(word)),
                                         i -> substr(word, i, 2))) AS pair
            FROM w WHERE length(word) >= 2)
        SELECT pair, count(*) AS n
        FROM p
        GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT {BPE_TOP_PAIRS}
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("text", "bpe", "tokenizer-training"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One merge step of BPE tokenizer training at corpus scale: count
    every adjacent character pair inside every (canonical) token and
    return the top 20 (BPE_TOP_PAIRS) — the argmax of this count is
    exactly the pair BPE merges next. Training a tokenizer on a
    100 TB corpus runs THIS query (over the current symbol sequence)
    once per merge; everything else in BPE is bookkeeping.

    Shape at scale: pair generation is a map-side explode bounded by
    total corpus characters; the count shuffles on `pair`, whose
    domain is bounded by |alphabet|² (<1.5k for [a-z']) — so the
    aggregate output is tiny regardless of corpus size and the limit
    runs as TakeOrderedAndProject, never a global sort of data. Ties
    break on the pair string so the top-k set is deterministic and
    engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.filter(tokenize_canonical("text"),
                           lambda w: F.length(w) >= 2)).alias("word"))
    pairs = words.select(F.explode(F.expr(
        "transform(sequence(1, length(word) - 1),"
        " i -> substring(word, i, 2))")).alias("pair"))
    return (pairs.groupBy("pair").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "pair").limit(BPE_TOP_PAIRS))


#: posting lists are emitted only for terms rarer than this df bound —
#: the stop-term cut every real index applies (hot terms carry no
#: selectivity and dominate index bytes; cf. TFIDF_DF_CAP's rationale)
INDEX_DF_CAP = 390


@register(
    "text_inverted_index",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        pos AS (
            SELECT doc_id, u.p.term AS term, u.p.pos AS pos
            FROM t, unnest(list_transform(range(1, len(toks) + 1),
                           i -> struct_pack(pos := i, term := toks[i])))
                     AS u(p)),
        postings AS (
            SELECT term, doc_id,
                   count(*) AS tf,
                   min(pos) AS first_pos,
                   string_agg(pos, '|' ORDER BY pos) AS positions
            FROM pos GROUP BY term, doc_id),
        df AS (SELECT term, count(*) AS df FROM postings GROUP BY term)
        SELECT p.term, p.doc_id, p.tf, p.first_pos, p.positions, df.df
        FROM postings p JOIN df USING (term)
        WHERE df.df <= {INDEX_DF_CAP}
    """,
    tags=("text", "index", "postings"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL inverted index build — the IR structure under every
    phrase/proximity search engine, materialized as doc-grain posting
    rows: for each (term, doc) a term frequency, first position, and
    the full 1-based position list ('|'-joined string: array-typed
    result columns aren't driver-hashable, the agg_collect rule);
    per-term document frequency rides along for query planning.
    Terms with df > {INDEX_DF_CAP} are cut — the standard stop-term
    economy (they carry no selectivity and dominate index bytes). The
    fixture's 31-word vocabulary is nearly uniform (df 373-402 over
    500 docs, plus one planted df=25 rare term), so the bound sits at
    390 to exercise BOTH outcomes: the hottest handful of stop terms
    are cut, the rest index normally (~10k posting rows at sf0.01).

    Shape at scale: ONE corpus scan; posexplode emits (term, doc,
    pos) bounded by total token count; the posting aggregate shuffles
    once on (term, doc_id) — map-side combined since positions within
    a doc-partition collapse locally — and df is a second, |vocab|-
    sized aggregate of the already-aggregated postings (the tf→df
    reuse lesson from text_tfidf), broadcast back for the cap filter.
    Doc-grain rows (not one giant row per term) are the point: at
    100 TB a term's posting LIST is itself distributed, and the
    natural physical layout is these rows bucketed by term."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_canonical("text").alias("toks")) \
        .select("doc_id", F.filter("toks",
                                   lambda w: F.length(w) > 0).alias("toks"))
    pos = toks.select(
        "doc_id", F.posexplode("toks").alias("pos0", "term")) \
        .select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    postings = (
        pos.groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"),
             F.min("pos").alias("first_pos"),
             F.array_join(F.sort_array(F.collect_list("pos")), "|")
             .alias("positions"))
    )
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    return (
        postings
        .join(F.broadcast(dfreq.filter(F.col("df") <= INDEX_DF_CAP)),
              "term")
        .select("term", "doc_id", "tf", "first_pos", "positions", "df")
    )


#: number of BPE merges the learner performs (each = one pair-count
#: aggregate over the vocab-sized word table + one map-side rewrite)
BPE_N_MERGES = 8
#: checkpoint the rewritten word table every Nth merge (VERDICT r10
#: item 1): rotating EVERY iteration made the loop 2 jobs/merge — 17
#: jobs total — each carrying fixed scheduling overhead, which is why
#: the query was the suite's most host-contention-sensitive row. The
#: rewrites between checkpoints stack lazily as map-side HOF
#: expressions over the vocab-sized snapshot (never the corpus — the
#: pre-loop checkpoint cut that lineage), so an odd-rank argmax just
#: evaluates one extra array fold inline. ONE accounting, stated the
#: same way in tests/test_plans.py::test_bpe_loop_job_count (ADVICE
#: r11): 12 logical materializations (1 pre-loop checkpoint + 8
#: argmax collects + 3 intra-loop checkpoints; the old shape had 17 =
#: 8 checkpoints + no skip of the dead final rewrite) == <= 22
#: statusTracker jobs once AQE's ~2-jobs-per-shuffle-query split is
#: counted — the number the assertion actually uses.
BPE_CHECKPOINT_EVERY = 2


def _bpe_oracle_sql(n_merges: int = BPE_N_MERGES) -> str:
    """DuckDB twin of the BPE merge LOOP (r11 — upgrades the query
    from rows-only to exactly-oracled, the kmeans_det/pagerank/LPA
    unrolled-CTE playbook): each merge is one pair-count CTE, one
    (n DESC, l, r) argmax CTE, and one rewrite CTE whose greedy
    left-to-right fusion is a ``list_reduce`` fold with the consumed
    flag encoded in the accumulator's first character ('1' = the last
    emitted token was just fused, so it cannot fuse again this round
    — the exact lookbehind of the Spark ``F.aggregate`` fold).
    chr(31)/chr(2) are the joiner/sentinel; tokens are [a-z']+ so
    neither can collide."""
    delim, sent = "chr(31)", "chr(2)"
    fuse = (
        "list_filter(str_split(substr("
        f"list_reduce(list_prepend({sent}, toks), (acc, x) -> CASE "
        f"WHEN acc = {sent} THEN '0' || {delim} || x "
        f"WHEN left(acc, 1) = '0' "
        f"AND list_last(str_split(substr(acc, 2), {delim})) = b.l "
        f"AND x = b.r "
        f"THEN '1' || left(substr(acc, 2), "
        f"length(substr(acc, 2)) - length(b.l)) || b.l || b.r "
        f"ELSE '0' || substr(acc, 2) || {delim} || x END), "
        f"2), {delim}), t -> t <> '')"
    )
    ctes = [f"""
        t AS ({_SQL_TOKS}),
        words AS (
            SELECT word, count(*) AS weight FROM (
                SELECT unnest(toks) AS word FROM t)
            WHERE length(word) >= 2 GROUP BY word),
        w0 AS (
            SELECT list_transform(range(1, length(word) + 1),
                                  i -> substr(word, i, 1)) AS toks,
                   weight
            FROM words)"""]
    for i in range(1, n_merges + 1):
        ctes.append(f"""
        p{i} AS (
            SELECT pr.l AS l, pr.r AS r, sum(weight) AS n FROM (
                SELECT weight,
                       unnest(list_transform(range(1, len(toks)),
                              j -> struct_pack(l := toks[j],
                                               r := toks[j + 1]))) AS pr
                FROM w{i - 1})
            GROUP BY 1, 2),
        b{i} AS (SELECT l, r, n FROM p{i}
                 ORDER BY n DESC, l, r LIMIT 1),
        w{i} AS (SELECT {fuse} AS toks, weight FROM w{i - 1}, b{i} b)""")
    final = "\n        UNION ALL ".join(
        f'SELECT {i} AS rank, l AS "left", r AS "right", '
        f"l || r AS merged, CAST(n AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1))
    return "WITH " + ",".join(ctes) + "\n        " + final


@register(
    "text_bpe_learn_merges",
    oracle=_bpe_oracle_sql(),
    tags=("text", "bpe", "tokenizer", "iterative"),
)
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the iterative loop text_bpe_pair_counts
    is one step of: repeatedly find the highest-weight adjacent symbol
    pair across the corpus vocabulary and fuse it, emitting the learned
    merge table (rank, left, right, merged, pair_count) that a
    tokenizer ships as its merges.txt. Greedy left-to-right fusion
    within a word ('aaa' + merge(a,a) → [aa, a]); ties break on
    (left, right) so the table is deterministic and engine-portable.

    100 TB shape — the part that matters: the CORPUS-scale work is
    exactly one word-count aggregate (the reference query!); the merge
    loop then iterates over the |vocab|-sized (word, weight, symbols)
    table — millions of rows at web scale, never the corpus. Each
    iteration is one pair explode + weighted sum (shuffle on pair,
    map-side combined, domain ≤ |alphabet|²·growth), a 1-ROW argmax
    collect (driver-bounded control state, the kmeans-centroid
    precedent), and a pure map-side HOF rewrite of the symbol arrays
    — no corpus rescan, no growing state. The symbol table is
    checkpointed every BPE_CHECKPOINT_EVERY merges (releasing the
    snapshot it supersedes) so lineage stays bounded (at most one
    stacked rewrite) without paying a materialization job per merge;
    the final merge's rewrite (which nothing consumes) is skipped
    outright."""
    from mapreducewordcounting_spark.checkpoints import release

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.filter(tokenize_canonical("text"),
                                       lambda w: F.length(w) >= 2))
                    .alias("word"))
        .groupBy("word").agg(F.count("*").alias("weight"))
        .select(F.split("word", "").alias("symbols"), "weight")
    )
    words = words.localCheckpoint(eager=True)
    merges = []
    for rank in range(1, BPE_N_MERGES + 1):
        pairs = (
            words.select(
                "weight",
                F.explode(F.expr(
                    "transform(sequence(1, size(symbols) - 1), j -> "
                    "struct(element_at(symbols, j) as l, "
                    "element_at(symbols, j + 1) as r))")).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("weight").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        left, right, n = pairs[0]["l"], pairs[0]["r"], pairs[0]["n"]
        merges.append((rank, left, right, left + right, n))
        if rank == BPE_N_MERGES:
            # the last merge's rewrite has no consumer (the merge
            # table below is driver-side) — don't build, let alone
            # materialize, it
            break
        a, b, ab = F.lit(left), F.lit(right), F.lit(left + right)
        # greedy left-to-right fusion: a sequential scan with a
        # one-element "consumed" lookbehind, expressed as a pure
        # fold — map-side, no shuffle
        empty = F.expr("cast(array() as array<string>)")
        sym = F.col("symbols")
        rewritten = F.aggregate(
            F.sequence(F.lit(1), F.size(sym)),
            F.struct(empty.alias("out"), F.lit(False).alias("consumed")),
            lambda acc, i: F.when(
                acc.consumed,
                F.struct(acc.out.alias("out"),
                         F.lit(False).alias("consumed")),
            ).when(
                (i < F.size(sym))
                & (F.element_at(sym, i) == a)
                & (F.element_at(sym, i + F.lit(1)) == b),
                F.struct(F.concat(acc.out, F.array(ab)).alias("out"),
                         F.lit(True).alias("consumed")),
            ).otherwise(
                F.struct(
                    F.concat(acc.out,
                             F.array(F.element_at(sym, i))).alias("out"),
                    F.lit(False).alias("consumed"))),
            lambda acc: acc.out,
        )
        words = words.select(rewritten.alias("symbols"), "weight")
        if rank % BPE_CHECKPOINT_EVERY == 0:
            nxt = words.localCheckpoint(eager=True)
            release(words)
            words = nxt
    release(words)  # merge table below is built driver-side
    return spark.createDataFrame(
        merges,
        "rank INT, left STRING, right STRING, merged STRING, "
        "pair_count BIGINT")


#: interpolation weight on the bigram term of the smoothed LM;
#: the 1-λ remainder backs off to the unigram distribution
LM_LAMBDA = 0.8


@register(
    "text_bigram_logprob",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        words AS (SELECT doc_id, unnest(toks) AS word FROM t),
        uni AS (SELECT word, count(*) AS c2 FROM words GROUP BY word),
        tot AS (SELECT count(*) AS n_total FROM words),
        big AS (
            SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
            FROM t, unnest(list_transform(range(1, len(toks)),
                           j -> struct_pack(w1 := toks[j],
                                            w2 := toks[j+1]))) AS u(b)),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1)
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               round(avg(ln({LM_LAMBDA} * CAST(c12.c12 AS DOUBLE) / c1.c1
                            + (1.0 - {LM_LAMBDA}) * CAST(uni.c2 AS DOUBLE)
                              / tot.n_total)), 6) AS avg_logprob
        FROM big b
        JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        JOIN c1 ON b.w1 = c1.w1
        JOIN uni ON b.w2 = uni.word
        CROSS JOIN tot
        GROUP BY b.doc_id
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("text", "quality", "language-model", "bigram"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring with unigram back-off — the step up
    from text_unigram_logprob that actually catches scrambled or
    templated text (a shuffled document keeps its unigram score but
    its bigrams collapse to the back-off term): score = mean
    ln(LM_LAMBDA·c(w1,w2)/c(w1·) + (1-LM_LAMBDA)·c(w2)/N), i.e.
    0.8/0.2 interpolation, over the
    document's adjacent token pairs, so unseen corpus
    bigrams (impossible here — the model is fit on the same corpus —
    but not in train/apply splits) stay finite.

    Scale structure mirrors the unigram op: the bigram and context
    count relations come from ONE exploded pair stream (map-side
    combined); both are model-sized. Here they broadcast; at web
    scale the bigram relation outgrows broadcast and the score join
    becomes a (w1,w2)-keyed shuffle of the pair stream against the
    model — the documented fallback, same plan Spark picks when the
    broadcast hint is dropped. ln is ulp-stable and the mean rounds
    at 6 (the libm-parity contract)."""
    docs = load_table(spark, sf_dir, "documents")
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut, the
    # four consumers re-scan: scans 1 → 5, sf0.1 wall 1.44 → 1.73 s.
    toks = docs.select(
        "doc_id",
        F.filter(tokenize_canonical("text"),
                 lambda w: F.length(w) > 0).alias("toks")) \
        .localCheckpoint(eager=True)
    words = toks.select("doc_id", F.explode("toks").alias("word"))
    uni = words.groupBy("word").agg(F.count("*").alias("c2"))
    tot = words.select(F.count("*").alias("n_total"))
    pair_arr = F.when(
        F.size("toks") >= 2,
        F.expr("transform(sequence(1, size(toks) - 1), j -> "
               "struct(element_at(toks, j) as w1, "
               "element_at(toks, j + 1) as w2))"),
    ).otherwise(F.expr(
        "cast(array() as array<struct<w1:string, w2:string>>)"))
    big = (toks.select("doc_id", F.explode(pair_arr).alias("b"))
           .select("doc_id", F.col("b.w1").alias("w1"),
                   F.col("b.w2").alias("w2")))
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    lam = F.lit(LM_LAMBDA)
    p = (lam * F.col("c12").cast("double") / F.col("c1")
         + (F.lit(1.0) - lam) * F.col("c2").cast("double")
         / F.col("n_total"))
    return (
        big.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(uni), big.w2 == F.col("word"))
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"),
             F.round(F.avg(F.log(p)), 6).alias("avg_logprob"))
    )


#: top keyphrases the RAKE extractor returns
RAKE_TOP_K = 15


@register(
    "text_keyphrases_rake",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        pos AS (
            SELECT doc_id, u.p.pos AS pos, u.p.w AS word
            FROM t, unnest(list_transform(range(1, len(toks) + 1),
                           i -> struct_pack(pos := i, w := toks[i])))
                     AS u(p)
            WHERE u.p.w NOT IN ('the', 'a', 'of', 'and', 'to')),
        grp AS (
            SELECT doc_id, pos, word,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS anchor
            FROM pos),
        phrases AS (
            SELECT doc_id, anchor,
                   string_agg(word, ' ' ORDER BY pos) AS phrase,
                   count(*) AS plen
            FROM grp GROUP BY doc_id, anchor
            HAVING count(*) >= 2),
        words AS (
            SELECT p.phrase, p.plen, u.w AS word
            FROM phrases p, unnest(string_split(p.phrase, ' ')) AS u(w)),
        stats AS (
            SELECT word, count(*) AS freq,
                   CAST(sum(plen) AS BIGINT) AS degree
            FROM words GROUP BY word),
        scored AS (
            SELECT w.phrase,
                   count(*) AS n_occurrences_x_words,
                   round(sum(CAST(s.degree AS DOUBLE) / s.freq), 6)
                       AS raw_sum
            FROM words w JOIN stats s USING (word)
            GROUP BY w.phrase),
        per_phrase AS (
            SELECT p.phrase,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   max(p.plen) AS n_words
            FROM phrases p GROUP BY p.phrase)
        SELECT pp.phrase, pp.n_words, pp.n_occurrences,
               round(sc.raw_sum / pp.n_occurrences, 6) AS rake_score
        FROM per_phrase pp JOIN scored sc USING (phrase)
        ORDER BY round(sc.raw_sum / pp.n_occurrences, 6) DESC, pp.phrase
        LIMIT {RAKE_TOP_K}
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("text", "keyphrases", "rake"),
)
def text_keyphrases_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    keyword miner run over corpora for topic inventories and index
    terms: candidate phrases are maximal stopword-free token runs
    (segmented with the gaps-and-islands pos − row_number anchor, the
    fn_gaps_islands idiom applied to token positions), each word gets
    score degree/freq over the candidate corpus (degree = Σ lengths
    of phrases containing it), and a phrase scores the sum of its
    words' scores. Single-word runs are dropped (they duplicate the
    word-count surface); the top 15 (RAKE_TOP_K) multi-word phrases
    surface with occurrence counts. The phrase-score sum is
    deduplicated per distinct phrase by dividing the occurrence-
    summed join back by n_occurrences — identical arithmetic on both
    engines. (The synthetic fixture is stopword-poor, so its maximal
    runs are long — real corpora yield the familiar 2-4 word phrases;
    the semantics and dataflow are unchanged.)

    Scale shape: tokenize once; segmentation is one (doc_id) window
    pass; phrase assembly one (doc, anchor) aggregate; word stats
    re-aggregate the PHRASE table (vocab-bounded, the tf→df rule) and
    broadcast back; top-k is TakeOrderedAndProject. No stage touches
    anything bigger than the candidate-phrase stream."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(tokenize_canonical("text"),
                 lambda w: F.length(w) > 0).alias("toks"))
    pos = (toks.select("doc_id", F.posexplode("toks").alias("pos0", "word"))
           .filter(~F.col("word").isin(*STOPWORDS))
           .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    grp = pos.withColumn("anchor",
                         F.col("pos") - F.row_number().over(w))
    phrases = (
        grp.groupBy("doc_id", "anchor")
        .agg(F.array_join(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda x: x["word"]), " ").alias("phrase"),
             F.count("*").alias("plen"))
        .filter(F.col("plen") >= 2)
        # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut
        # reads 8 → 7 jobs, scans 1, but sf0.1 wall 1.81 → 2.40 s.
        .localCheckpoint(eager=True)
    )
    words = phrases.select(
        "phrase", "plen", F.explode(F.split("phrase", " ")).alias("word"))
    stats = words.groupBy("word").agg(
        F.count("*").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"))
    scored = (
        words.join(F.broadcast(stats), "word")
        .groupBy("phrase")
        .agg(F.round(F.sum(F.col("degree").cast("double")
                           / F.col("freq")), 6).alias("raw_sum"))
    )
    per_phrase = phrases.groupBy("phrase").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.max("plen").alias("n_words"))
    score = F.round(F.col("raw_sum") / F.col("n_occurrences"), 6)
    return (
        per_phrase.join(scored, "phrase")
        .select("phrase", "n_words", "n_occurrences",
                score.alias("rake_score"))
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(RAKE_TOP_K)
    )


#: boilerplate detection: line = this many consecutive tokens
BOILER_LINE_LEN = 8
#: a line is boilerplate iff it appears in >= MIN_DF distinct docs AND
#: in more than FRAC of its source's docs
BOILER_MIN_DF = 3
BOILER_FRAC = 0.5


@register(
    "text_boilerplate_lines",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        body AS (
            SELECT doc_id, source,
                   unnest(list_transform(
                       range(CAST(ceil(len(toks) / {BOILER_LINE_LEN}.0)
                                  AS INT)),
                       i -> array_to_string(
                           list_slice(toks, i * {BOILER_LINE_LEN} + 1,
                                      i * {BOILER_LINE_LEN}
                                      + {BOILER_LINE_LEN}), ' ')))
                       AS line
            FROM t),
        hf AS (
            SELECT doc_id, source,
                   unnest([concat('nav home about ', source),
                           concat('subscribe footer links ', source)])
                       AS line
            FROM t),
        inst AS (SELECT * FROM body UNION ALL SELECT * FROM hf),
        src AS (SELECT source, count(DISTINCT doc_id) AS n_docs
                FROM t GROUP BY source),
        dfr AS (SELECT source, line,
                       count(DISTINCT doc_id) AS df_docs
                FROM inst GROUP BY source, line),
        boiler AS (
            SELECT d.source, d.line
            FROM dfr d JOIN src s USING (source)
            WHERE d.df_docs >= {BOILER_MIN_DF}
              AND d.df_docs > {BOILER_FRAC} * s.n_docs)
        SELECT i.doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler,
               round(CAST(sum(CASE WHEN b.line IS NULL
                              THEN len(string_split(i.line, ' '))
                              ELSE 0 END) AS DOUBLE)
                     / sum(len(string_split(i.line, ' '))), 6)
                   AS kept_token_ratio
        FROM inst i
        LEFT JOIN boiler b ON i.source = b.source AND i.line = b.line
        GROUP BY i.doc_id
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("text", "boilerplate", "cleaning"),
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source line-level boilerplate detection
    (Wenzek et al. 2020 dedupe paragraphs/lines shared across a crawl
    snapshot; headers, nav bars, cookie banners dominate) — the
    cleaning step BEFORE document-level dedup: a line is boilerplate
    iff it occurs in >= 3 distinct documents (BOILER_MIN_DF) AND more
    than half of its source's documents (BOILER_FRAC). The fixture
    text has no newlines, so 'lines' are deterministic
    8-token (BOILER_LINE_LEN) slices plus a synthetic per-source
    header/footer pair (the dedup_url_canonical shared-construction
    precedent) — the header/footer MUST come out flagged, natural
    slices must not.

    Plan: ONE line-grain exchange finds the document frequencies
    (groupBy (source, line), count distinct doc); the boilerplate SET
    that survives the threshold is tiny BY CONSTRUCTION (lines in
    >50% of a source's docs), so it broadcasts back onto the
    re-generated instance stream — the corpus-scale line stream is
    never materialized or shuffled twice — and the per-doc rollup is
    the second (doc-grain) exchange. At 100 TB swap the raw line
    string for xxhash64(line) as the df key (collision = over-flag,
    bounded); the doc-grain token base is lineage-cut once for its
    two consumers. kept_token_ratio is a double division of two
    exact BIGINT sums — bit-stable in any partition order."""
    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_line_report(docs)


def boilerplate_line_report(docs: DataFrame) -> DataFrame:
    """Library form of the boilerplate detector over any ``(doc_id,
    source, text)`` frame — the hypothesis differential
    (tests/test_hypothesis_dedup.py) drives it on adversarial corpora
    (single-doc sources, all-identical sources where EVERY line is
    boilerplate, empty docs that still carry their header/footer)."""
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut, its
    # consumers re-scan: scans 1 → 5.
    base = docs.select(
        "doc_id", "source",
        F.filter(tokenize_canonical("text"),
                 lambda w: F.length(w) > 0).alias("toks")) \
        .localCheckpoint(eager=True)
    body_lines = F.when(
        F.size("toks") > 0,
        F.expr(f"transform(sequence(0, cast(ceil(size(toks) / "
               f"{BOILER_LINE_LEN}.0) as int) - 1), i -> array_join("
               f"slice(toks, i * {BOILER_LINE_LEN} + 1, "
               f"{BOILER_LINE_LEN}), ' '))"),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    body = base.select("doc_id", "source",
                       F.explode(body_lines).alias("line"))
    hf = base.select(
        "doc_id", "source",
        F.explode(F.array(
            F.concat(F.lit("nav home about "), F.col("source")),
            F.concat(F.lit("subscribe footer links "), F.col("source")),
        )).alias("line"))
    inst = body.unionByName(hf)
    src_sizes = base.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    boiler = (
        inst.groupBy("source", "line")
        .agg(F.countDistinct("doc_id").alias("df_docs"))
        .join(F.broadcast(src_sizes), "source")
        .filter((F.col("df_docs") >= BOILER_MIN_DF)
                & (F.col("df_docs") > BOILER_FRAC * F.col("n_docs")))
        .select("source", "line", F.lit(True).alias("is_boiler"))
    )
    line_toks = F.size(F.split("line", " "))
    return (
        inst.join(F.broadcast(boiler), ["source", "line"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
            .cast("bigint").alias("n_boiler"),
            F.round(
                F.sum(F.when(F.col("is_boiler"), 0).otherwise(line_toks))
                .cast("double") / F.sum(line_toks), 6)
            .alias("kept_token_ratio"),
        )
    )


#: CCNet perplexity-bucket cut points on the per-doc bigram-LM score
#: (round-6 avg ln p; measured stable across SFs: deciles -3.42..-3.35)
PPL_HEAD_LOGPROB = -3.38
PPL_MID_LOGPROB = -3.40

# The bucket op restates the scorer's oracle verbatim as a CTE — one
# oracle text, two consumers (the dedup_url_canonical shared-
# construction discipline applied to SQL).
from mapreducewordcounting_spark import registry as _registry_mod  # noqa: E402

_SQL_BIGRAM_SCORES = _registry_mod._REGISTRY["text_bigram_logprob"].oracle


@register(
    "quality_lm_buckets",
    oracle=f"""
        WITH scored AS ({_SQL_BIGRAM_SCORES})
        SELECT d.source,
               CASE WHEN s.avg_logprob > {PPL_HEAD_LOGPROB} THEN 'head'
                    WHEN s.avg_logprob > {PPL_MID_LOGPROB} THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket,
               count(*) AS n_docs,
               CAST(sum(s.n_bigrams) AS BIGINT) AS n_bigrams
        FROM scored s JOIN documents d USING (doc_id)
        GROUP BY 1, 2
    """,
    tags=("text", "quality", "language-model", "ccnet"),
)
def quality_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020: score
    every document under a small LM trained on trusted text, split
    the crawl into head/middle/tail thirds, train preferentially on
    the head) — the decision layer on top of text_bigram_logprob's
    scorer: per-doc round-6 avg ln p lands in a bucket at FIXED cut
    points (measured scale-stable across SFs), and the (source,
    bucket) rollup is what a data-mix planner consumes. Composes the
    registered scorer directly (the sample_split_leakage_safe
    composition precedent), so scorer and gate can never drift; the
    oracle embeds the scorer's oracle verbatim as a CTE. Bucketing a
    rounded double against literal constants is exact on both
    engines; the rollup counts are integers. Costs the scorer's plan
    + one doc-keyed join for the source column + one small exchange."""
    scored = text_bigram_logprob(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    bucket = (
        F.when(F.col("avg_logprob") > PPL_HEAD_LOGPROB, "head")
        .when(F.col("avg_logprob") > PPL_MID_LOGPROB, "middle")
        .otherwise("tail"))
    return (
        scored.join(docs, "doc_id")
        .groupBy("source", bucket.alias("ppl_bucket"))
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_bigrams").cast("bigint").alias("n_bigrams"))
    )


@register(
    "text_tokenizer_fertility",
    oracle=r"""
        WITH d AS (
            SELECT lang,
                   len(regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\s\v]')) AS n_bpe,
                   len(list_filter(regexp_split_to_array(text, '[\s\v]+'),
                                   w -> length(w) > 0)) AS n_words
            FROM documents)
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
               CAST(sum(n_words) AS BIGINT) AS n_words,
               round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 6)
                   AS fertility
        FROM d GROUP BY lang
    """,
    tags=("text", "tokens", "tokenizer-eval"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — tokens emitted per whitespace
    word, THE standard tokenizer-efficiency metric (a fertility of 2
    means every word costs two context slots; multilingual tokenizers
    are graded on exactly this table): the text_token_count_bpe
    estimator re-aggregated at (lang) grain against the whitespace
    word count. High-fertility languages get token-budget multipliers
    in the mix planner (sample_token_budget_mix).

    Plan: both token counts come from ONE map pass over the corpus
    (two regex counters per row, zero explode, zero extra shuffle);
    the lang rollup is the only exchange. Fertility is a double
    division of two exact BIGINT sums — bit-stable in any partition
    order."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all(
        F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
    n_words = F.size(F.filter(F.split("text", r"\s+"),
                              lambda w: F.length(w) > 0))
    return (
        docs.select("lang", n_bpe.alias("n_bpe"), n_words.alias("n_words"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
             F.sum("n_words").cast("bigint").alias("n_words"),
             F.round(F.sum("n_bpe").cast("double") / F.sum("n_words"), 6)
             .alias("fertility"))
    )


@register(
    "text_zipf_slope",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        wc AS (
            SELECT lang, unnest(toks) AS word FROM t),
        counts AS (
            SELECT lang, word, count(*) AS cnt
            FROM wc GROUP BY lang, word),
        ranked AS (
            SELECT lang,
                   ln(row_number() OVER (PARTITION BY lang
                                         ORDER BY cnt DESC, word)) AS x,
                   ln(cnt) AS y
            FROM counts),
        sums AS (
            SELECT lang, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM ranked GROUP BY lang)
        SELECT lang,
               CAST(n AS BIGINT) AS n_words,
               round((n * sxy - sx * sy)
                     / nullif(n * sxx - sx * sx, 0.0), 6) AS zipf_slope,
               round((sy - (n * sxy - sx * sy)
                           / nullif(n * sxx - sx * sx, 0.0) * sx)
                     / n, 6) AS zipf_intercept
        FROM sums
    """,
    tags=("text", "zipf", "corpus-stats", "regression"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS slope of ln(frequency) against
    ln(rank) over the word-frequency table. Natural text sits near
    slope -1 (Zipf 1949); a corpus whose slope collapses toward 0 is
    template/boilerplate-heavy and one that steepens past -1.5 has a
    degenerate head — the single-number corpus-health dial next to
    quality_filter_report's per-doc rules, and the distribution check
    a tokenizer-budget plan (text_tokenizer_fertility) assumes.

    Plan shape: the flagship word count grouped by (lang, word) — one
    fact-scale exchange, map-side combined — then ranking is one
    window per lang over the VOCABULARY grain (rank ties broken
    (cnt DESC, word), the repo's discipline) and the OLS fold is a
    per-lang aggregate of five sufficient statistics (n, Σx, Σy, Σxy,
    Σx²) — algebraic, order-independent in exact arithmetic, the
    agg_regression pattern; ln enters on engine-identical integer
    inputs (libm parity) and everything is rounded at 6 after the
    closed form."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang",
                    F.explode(tokenize_canonical("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang", "word").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("word"))
    ranked = counts.select(
        "lang",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"))
    sums = ranked.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    # nullif: a single-word vocabulary has zero rank variance — the
    # fit is undefined there, not a divide-by-zero
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / F.nullif(F.col("n") * F.col("sxx")
                        - F.col("sx") * F.col("sx"), F.lit(0.0)))
    return sums.select(
        "lang", F.col("n").alias("n_words"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("zipf_intercept"))


#: novelty curve: shingle width and number of corpus-position buckets
NOVELTY_NGRAM = 8
NOVELTY_BUCKETS = 10


@register(
    "text_ngram_novelty_curve",
    oracle=f"""
        WITH t AS ({{toks}}),
        mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   list_aggregate(toks[i:i+{NOVELTY_NGRAM - 1}],
                                  'string_agg', ' ') AS gram
            FROM (SELECT doc_id, toks,
                         unnest(range(1, len(toks) - {NOVELTY_NGRAM}
                                         + 2)) AS i
                  FROM t WHERE len(toks) >= {NOVELTY_NGRAM})),
        firsts AS (
            SELECT gram, min(doc_id) AS first_doc FROM sh GROUP BY gram),
        per_doc AS (
            SELECT sh.doc_id,
                   count(*) AS n_grams,
                   sum(CASE WHEN f.first_doc = sh.doc_id
                            THEN 1 ELSE 0 END) AS n_novel
            FROM sh JOIN firsts f ON sh.gram = f.gram
            GROUP BY sh.doc_id)
        SELECT CAST({NOVELTY_BUCKETS} * doc_id // m AS BIGINT) AS bucket,
               count(*) AS n_docs,
               CAST(sum(n_grams) AS BIGINT) AS total_grams,
               CAST(sum(n_novel) AS BIGINT) AS novel_grams,
               round(CAST(sum(n_novel) AS DOUBLE) / sum(n_grams), 6)
                   AS novelty_rate
        FROM per_doc CROSS JOIN mx
        GROUP BY 1
    """.format(toks=_SQL_TOKS),
    tags=("text", "novelty", "dedup-planning", "corpus-stats"),
)
def text_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve — the diminishing-returns measurement
    behind every 'is more crawl worth it' decision (and the
    scaling-law data-curation input): ingest documents in doc_id
    order and ask, per corpus decile, what fraction of each document's
    distinct 8-gram shingles has NEVER appeared in any earlier
    document. A healthy fresh corpus holds a high novel rate in late
    deciles; a saturated or duplicate-heavy one decays toward zero —
    the aggregate view of what dedup_incremental_batch decides
    per-document.

    Plan shape: shingles explode in the scan stage (distinct per doc
    — one exchange on the gram key), first occurrence is min(doc_id)
    per gram (the tf→df reuse rule: the gram table is re-aggregated,
    the corpus never re-scanned), one gram-keyed join back, then a
    |docs|-grain rollup into NOVELTY_BUCKETS (10) position buckets. The
    bucket index is all-integer (10·doc_id div (max+1)); max(doc_id) is the one-row broadcast the plan-audit
    allowlist's 1-row shape covers."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"),
                    lambda w: F.length(w) > 0)
    tcol = F.col("toks")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.size(tcol) - NOVELTY_NGRAM),
        lambda i: F.array_join(F.slice(tcol, i + 1, NOVELTY_NGRAM), " ")))
    sh = (docs.select("doc_id", toks.alias("toks"))
          .filter(F.size("toks") >= NOVELTY_NGRAM)
          .select("doc_id", F.explode(grams).alias("gram")))
    firsts = sh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (sh.join(firsts, "gram")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_grams"),
                    F.sum(F.when(F.col("first_doc") == F.col("doc_id"),
                                 1).otherwise(0)).alias("n_novel")))
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    bucket = F.expr(f"{NOVELTY_BUCKETS} * doc_id div m")
    return (per_doc.crossJoin(F.broadcast(mx))
            .groupBy(bucket.cast("bigint").alias("bucket"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_grams").cast("bigint").alias("total_grams"),
                 F.sum("n_novel").cast("bigint").alias("novel_grams"),
                 F.round(F.sum("n_novel").cast("double")
                         / F.sum("n_grams"), 6).alias("novelty_rate")))


@register(
    "text_lang_id_eval",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang,
                   (CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% and %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% of %' THEN 1 ELSE 0 END)
                       AS s_en,
                   (CASE WHEN ' ' || text || ' ' LIKE '% el %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% la %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% los %' THEN 1 ELSE 0 END)
                       AS s_es,
                   (CASE WHEN ' ' || text || ' ' LIKE '% der %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% und %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% die %' THEN 1 ELSE 0 END)
                       AS s_de,
                   (CASE WHEN ' ' || text || ' ' LIKE '% le %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% les %' THEN 1 ELSE 0 END +
                    CASE WHEN ' ' || text || ' ' LIKE '% des %' THEN 1 ELSE 0 END)
                       AS s_fr
            FROM documents),
        guessed AS (
            SELECT lang,
                   CASE WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
                        WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
                        WHEN s_de >= s_fr THEN 'de'
                        ELSE 'fr' END AS lang_guess
            FROM scored)
        SELECT lang, lang_guess,
               count(*) AS n,
               round(CAST(count(*) AS DOUBLE)
                     / sum(count(*)) OVER (PARTITION BY lang), 6)
                   AS row_share
        FROM guessed
        GROUP BY lang, lang_guess
    """,
    tags=("text", "langid", "evaluation", "confusion-matrix"),
)
def text_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the text_lang_id heuristic against the
    fixture's TRUE lang column — the evaluation harness every
    classifier-shaped pipeline stage needs beside the stage itself
    (the quality_lm_buckets composition rule: the eval REUSES the
    registered classifier's exact scoring construction, so classifier
    and scoreboard cannot drift apart). Each (true, guessed) cell
    carries its count and its share of the true language's row total
    — recall sits on the diagonal; zh (no marker profile) lands
    wherever the precedence tie-break sends zero-score docs, which is
    exactly the blind spot the matrix is FOR.

    Plan: one map stage (the classifier) + one |langs|²-bounded
    aggregate; the row shares ride a window over that tiny grid."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scores = {
        lang: sum(
            (F.when(padded.contains(m), 1).otherwise(0) for m in marks),
            F.lit(0),
        ).alias(f"s_{lang}")
        for lang, marks in LANG_PROFILES.items()
    }
    scored = docs.select("lang", *scores.values())
    guess = (
        F.when(F.col("s_en") >= F.greatest("s_es", "s_de", "s_fr"), "en")
        .when(F.col("s_es") >= F.greatest("s_de", "s_fr"), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr"))
    cells = (scored.select("lang", guess.alias("lang_guess"))
             .groupBy("lang", "lang_guess")
             .agg(F.count("*").alias("n")))
    tot = F.sum("n").over(W.partitionBy("lang"))
    return cells.select(
        "lang", "lang_guess", "n",
        F.round(F.col("n").cast("double") / tot, 6).alias("row_share"))


#: hashing-trick feature space (buckets) and the doc cap that keeps
#: the demo output grain bounded (the text_tfidf doc_id < 20 rule)
HASHTRICK_BUCKETS = 64
HASHTRICK_DOCS = 50


@register(
    "text_hashing_trick_det",
    oracle=f"""
        WITH t AS ({{toks}}),
        tok AS (
            SELECT doc_id, unnest(toks) AS word
            FROM t WHERE doc_id < {HASHTRICK_DOCS}),
        b AS (
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(md5(word), 1, 13))
                             AS UBIGINT) % {HASHTRICK_BUCKETS} AS BIGINT)
                       AS bucket
            FROM tok)
        SELECT doc_id, bucket, count(*) AS cnt
        FROM b GROUP BY doc_id, bucket
    """.format(toks=_SQL_TOKS),
    tags=("text", "features", "hashing-trick"),
)
def text_hashing_trick_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words features (Weinberger et al. 2009 —
    the fixed-width, vocabulary-free featurizer under spark.ml's
    HashingTF): token → md5 mod 64 bucket, count per (doc, bucket).
    This is the fully-ORACLED deterministic twin of the spark.ml
    HashingTF path (text_tfidf_ml, rows-only because its murmur seed
    is engine-private) — the similarity_ann_rp_det precedent: same
    operator semantics, portable hash family, exact value check.
    Capped at 50 docs for output-grain bounds; uncapped it is the
    standard map + (doc, bucket) aggregate at any corpus size, with
    collisions an accepted part of the estimator's contract (the
    whole point of the trick).

    One explode + one map-side-combinable aggregate; no joins, no
    windows, no vocabulary state anywhere."""
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < HASHTRICK_DOCS))
    tok = docs.select(
        "doc_id", F.explode(tokenize_canonical("text")).alias("word"))
    bucket = (F.conv(F.substring(F.md5("word"), 1, 13), 16, 10)
              .cast("bigint") % HASHTRICK_BUCKETS)
    return (tok.filter(F.length("word") > 0)
            .select("doc_id", bucket.alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").alias("cnt")))


#: standardized TTR chunk width (tokens); fixed-width chunks make the
#: type-token ratio comparable across document lengths (Johnson 1944)
STTR_CHUNK = 50


@register(
    "text_sttr_diversity",
    oracle=f"""
        WITH t AS ({{toks}}),
        c AS (
            SELECT doc_id,
                   len(toks) // {STTR_CHUNK} AS n_chunks,
                   list_transform(
                       range(0, CAST(len(toks) // {STTR_CHUNK} AS INTEGER)),
                       i -> CAST(len(list_distinct(
                                toks[i * {STTR_CHUNK} + 1
                                     : i * {STTR_CHUNK} + {STTR_CHUNK}]))
                            AS DOUBLE) / {STTR_CHUNK}) AS ttrs
            FROM t)
        SELECT doc_id,
               CAST(n_chunks AS BIGINT) AS n_chunks,
               round(list_sum(ttrs) / n_chunks, 6) AS sttr
        FROM c
        WHERE n_chunks >= 1
    """.format(toks=_SQL_TOKS),
    tags=("text", "lexical-diversity", "sttr"),
)
def text_sttr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized type-token ratio (STTR, Johnson 1944) — lexical
    diversity that plain TTR gets wrong (TTR falls with length by
    Heaps' law, so long docs look artificially repetitive): split
    each document into fixed 50-token chunks, take the distinct-ratio
    of each, average. Low STTR = templated/looping text — the
    vocabulary-grain sibling of text_repetition_signals' bigram
    duplication and quality_filter_report's distinct-ratio rule,
    robust to document length by construction.

    Zero shuffles: the whole operator is array HOFs on the document
    row (slice → array_distinct → size, folded left-to-right
    identically on both engines; each chunk TTR is an exact k/50
    rational) — a pure map stage at any corpus size, the
    text_doc_stats plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokenize_canonical("text"),
                    lambda w: F.length(w) > 0)
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        (F.size("toks") / STTR_CHUNK).cast("bigint").alias("n_chunks"),
        F.col("toks"))
    ttrs = F.transform(
        F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int")),
        lambda i: F.size(F.array_distinct(
            F.slice(F.col("toks"), i * STTR_CHUNK + 1, STTR_CHUNK)))
        .cast("double") / STTR_CHUNK)
    return (base.filter(F.col("n_chunks") >= 1)
            .select("doc_id", "n_chunks",
                    F.round(F.aggregate(ttrs, F.lit(0.0),
                                        lambda a, x: a + x)
                            / F.col("n_chunks"), 6).alias("sttr")))
