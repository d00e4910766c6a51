"""Training-data pipeline operators (north-star extension, no reference
counterpart — the reference is a single word-count query,
sendFileByFile.cpp:447-498; these are the surrounding operations a
100 TB LLM-corpus pipeline runs on the same tables).

All per-document transforms here are pure map stages (no shuffle):
chunking, PII redaction, and hash-bucket sampling parallelize linearly
with executors and are safe at any scale. The contamination check's
only shuffle is the n-gram semi-join, with the (small, distinct)
benchmark-side gram set broadcast; sequence packing shuffles once on
the partition key (lang) and then runs a per-group linear pass.

Determinism posture: sampling uses md5-bucket hashing, not RNG — the
same row always lands in the same bucket on any cluster size, so
pipeline reruns are reproducible and the op is oracle-checkable
(seeded RNG sampling, by contrast, is engine-specific; see
``sample_seeded``).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.checkpoints import release
from mapreducewordcounting_spark.functions.text import words_canonical
# dedup's shared 3-gram-Jaccard CTE block, reused verbatim by the
# leakage-safe split's oracle (the split IS a dedup composition; the
# similarity module imports dedup's tokenizer the same way).
from mapreducewordcounting_spark.operators.dedup import _SQL_JACCARD_CTES
from mapreducewordcounting_spark.registry import register

#: chunking geometry: 500-char windows every 400 chars (100 overlap) —
#: context-window-shaped splitting with boundary overlap so no phrase
#: is lost at a cut point.
CHUNK_LEN = 500
CHUNK_STRIDE = 400

#: PII patterns (email / NANP-style phone / long digit run), applied in
#: this order. One alternation, identical string in Spark and DuckDB —
#: both use RE2-compatible syntax for this subset.
PII_PATTERN = (
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    r"|\d{3}[-.]\d{3}[-.]\d{4}"
    r"|\d{9,}"
)

#: token budget per packed training sequence
PACK_BUDGET = 2048

#: per-language keep-rate (percent of md5 buckets) for stratified
#: downsampling; unlisted languages use the default.
STRATA_PCT = {"en": 80, "de": 50}
STRATA_DEFAULT_PCT = 20

_SQL_TOKS = """
    SELECT doc_id, lang, source,
           list_filter(
               list_transform(regexp_split_to_array(lower(text), '[\\s\\v]+'),
                              t -> regexp_replace(t, '[^a-z'']', '', 'g')),
               w -> length(w) > 0) AS toks
    FROM documents
"""


@register(
    "chunk_documents",
    oracle=f"""
        SELECT doc_id,
               CAST(unnest(generate_series(0, greatest(length(text)-1, 0),
                                           {CHUNK_STRIDE})) AS BIGINT)
                   AS chunk_start,
               substr(text,
                      CAST(unnest(generate_series(0, greatest(length(text)-1, 0),
                                                  {CHUNK_STRIDE})) AS INT) + 1,
                      {CHUNK_LEN}) AS chunk_text
        FROM documents
    """,
    tags=("training", "chunking", "text"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping fixed-width character
    chunks ({CHUNK_LEN} chars every {CHUNK_STRIDE}): the standard
    pre-tokenization step for context-window-bounded training. Pure
    map stage — sequence+explode+substring, no shuffle, no UDF; at
    100 TB it scales with input splits and the output stays
    partition-local for a direct parquet sink."""
    docs = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE))
    return (
        docs.select("doc_id", "text",
                    F.explode(starts).alias("start"))
        .select(
            "doc_id",
            F.col("start").cast("bigint").alias("chunk_start"),
            F.expr(f"substring(text, start + 1, {CHUNK_LEN})")
            .alias("chunk_text"),
        )
    )


@register(
    "pii_redact",
    oracle=f"""
        SELECT doc_id,
               regexp_replace(text, '{PII_PATTERN}', '[PII]', 'g') AS clean_text,
               CAST(len(regexp_extract_all(text, '{PII_PATTERN}')) AS BIGINT)
                   AS n_pii
        FROM documents
    """,
    tags=("training", "pii", "text"),
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact PII-shaped spans (emails, phone numbers, long digit
    runs) and count them per document. Built-in regexp_replace /
    regexp_extract_all — JVM-side, codegen'd, zero shuffle; the only
    scale knob is the regex cost per byte, which is why it is one
    alternation pass rather than three."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace("text", PII_PATTERN, "[PII]").alias("clean_text"),
        F.size(F.regexp_extract_all("text", F.lit(PII_PATTERN), F.lit(0)))
        .cast("bigint").alias("n_pii"),
    )


@register(
    "contamination_5gram",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        grams AS (
            SELECT doc_id, source,
                   unnest(list_distinct(
                       list_transform(range(greatest(len(toks)-4, 0)),
                                      i -> array_to_string(
                                          list_slice(toks, i+1, i+5), ' '))))
                       AS gram
            FROM t
        ),
        bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0')
        SELECT g.doc_id, count(*) AS n_shared_5grams
        FROM grams g JOIN bench b ON g.gram = b.gram
        WHERE g.source <> 'src0'
        GROUP BY g.doc_id
    """,
    tags=("training", "contamination", "ngram"),
)
def contamination_5gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which training documents share a
    5-gram with the held-out benchmark set (source 'src0')? The
    benchmark side reduces to its distinct grams and broadcasts, so
    the training side never shuffles — at 100 TB this is one map-side
    semi-join per doc-gram, then a groupBy(doc_id) count. This is the
    n-gram-overlap decontamination step of LLM corpus construction.

    Plan shape: each side filters on ``source`` *before* gram
    expansion (one tokenize pass per partition subset, never over the
    whole table), and the join key is ``xxhash64(gram)`` rather than
    the gram string — the broadcast set and every probe row carry 8
    bytes instead of a ~50-byte string. 64-bit hashing is the standard
    decontam trick; at a true 10^12-gram corpus, swap in a 128-bit
    digest (e.g. two xxhash64 seeds) to keep collisions negligible.

    The tokenization is projected to a concrete ``toks`` column before
    the gram lambda touches it: referencing the tokenizer *expression*
    inside ``transform``/``slice`` re-evaluates the regex per array
    element (no CSE across higher-order-function lambda boundaries —
    measured 8 s for 238k grams at sf0.1; materialized, the whole
    query runs ~2 s)."""
    docs = load_table(spark, sf_dir, "documents")
    tok_col = F.col("toks")
    grams = F.array_distinct(
        F.when(
            F.size(tok_col) >= 5,
            F.transform(
                F.sequence(F.lit(0), F.size(tok_col) - 5),
                lambda i: F.concat_ws(" ", F.slice(tok_col, i + 1, 5)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )

    def gram_hashes(df):
        return (
            df.select("doc_id", words_canonical("text").alias("toks"))
            .select("doc_id", F.explode(grams).alias("gram"))
            .select("doc_id", F.xxhash64("gram").alias("gh"))
        )

    bench = (gram_hashes(docs.filter(F.col("source") == "src0"))
             .select("gh").distinct())
    return (
        gram_hashes(docs.filter(F.col("source") != "src0"))
        .join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_5grams"))
    )


def _bucket_spark(key) -> F.Column:
    """Deterministic 0-99 bucket from md5 of the key (engine-portable:
    first 8 hex digits as an unsigned int, mod 100)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )


_SQL_BUCKET = ("CAST(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 8)) "
               "AS BIGINT) % 100")


@register(
    "sample_stratified_hash",
    oracle=f"""
        SELECT doc_id, lang,
               {_SQL_BUCKET.format(key='doc_id')} AS bucket
        FROM documents
        WHERE {_SQL_BUCKET.format(key='doc_id')} <
              CASE lang WHEN 'en' THEN {STRATA_PCT['en']}
                        WHEN 'de' THEN {STRATA_PCT['de']}
                        ELSE {STRATA_DEFAULT_PCT} END
    """,
    tags=("training", "sampling", "stratified"),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-language rates (domain mixing:
    keep 80% of en, 50% of de, 20% of the rest) via md5-bucket
    hashing instead of RNG. Deterministic: the same doc keeps or
    drops on every run, any partitioning, any cluster — which is what
    makes corpus mixes reproducible and this query oracle-checkable.
    Pure map stage, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _bucket_spark(F.col("doc_id"))
    rate = F.when(F.col("lang") == "en", STRATA_PCT["en"]) \
        .when(F.col("lang") == "de", STRATA_PCT["de"]) \
        .otherwise(STRATA_DEFAULT_PCT)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


@register(
    "pack_sequences_offset",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        n AS (SELECT doc_id, lang, len(toks) AS n_tokens FROM t),
        c AS (
            SELECT doc_id, lang, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM n)
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(floor((cum - n_tokens) / {PACK_BUDGET}.0) AS BIGINT)
                   AS pack_id
        FROM c
    """,
    tags=("training", "packing", "window"),
)
def pack_sequences_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, offset variant: assign each document (ordered
    by doc_id within its language) to the pack its starting token
    offset falls in ({PACK_BUDGET}-token bins over the running total).
    One window cumulative sum = one shuffle on (lang); deterministic
    and SQL-expressible, unlike true greedy packing (see
    ``pack_sequences_greedy`` for that). A pack may overflow by at
    most one document's tail — the standard cheap approximation when
    downstream tokenization truncates/pads anyway."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id", "lang",
        F.size(words_canonical("text")).cast("bigint").alias("n_tokens"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        n.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id", "lang", "n_tokens",
            F.floor((F.col("cum") - F.col("n_tokens")) / float(PACK_BUDGET))
            .cast("bigint").alias("pack_id"))
    )


@register(
    "text_repetition_signals",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        c AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        tc AS (SELECT doc_id, tok, count(*) AS cnt FROM c GROUP BY doc_id, tok),
        tt AS (SELECT doc_id,
                      CAST(sum(cnt) AS BIGINT) AS n_tokens,
                      CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_token_frac
               FROM tc GROUP BY doc_id),
        b AS (SELECT doc_id,
                     greatest(len(toks) - 1, 0) AS nb,
                     len(list_distinct(
                         list_transform(range(greatest(len(toks) - 1, 0)),
                                        i -> toks[i+1] || ' ' || toks[i+2])))
                         AS ndb
              FROM t)
        SELECT tt.doc_id, tt.n_tokens, tt.top_token_frac,
               CASE WHEN b.nb = 0 THEN 0.0
                    ELSE 1.0 - CAST(b.ndb AS DOUBLE) / b.nb END
                   AS dup_bigram_frac
        FROM tt JOIN b ON tt.doc_id = b.doc_id
    """,
    tags=("training", "quality", "repetition"),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals per document — the
    Gopher/RefinedWeb-style filters: most-frequent-token fraction and
    duplicate-bigram fraction (1 − distinct/total). High values mark
    boilerplate/spam for corpus filtering. The token-frequency side is
    explode → two co-partitioned aggregations on doc_id (one shuffle);
    the bigram side is pure per-row array arithmetic (zip_with over
    the materialized token column — no shuffle, no per-element
    tokenizer re-eval), joined back on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", words_canonical("text").alias("toks"))
    tok_counts = (
        toked.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_tokens"),
             (F.max("cnt").cast("double") / F.sum("cnt"))
             .alias("top_token_frac"))
    )
    m = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("toks", 1, m), F.expr("slice(toks, 2, size(toks) - 1)"),
        lambda a, b: F.concat_ws(" ", a, b))
    big = toked.select(
        "doc_id", m.alias("nb"),
        F.size(F.array_distinct(bigrams)).alias("ndb"))
    dup = F.when(F.col("nb") == 0, 0.0).otherwise(
        1.0 - F.col("ndb").cast("double") / F.col("nb"))
    return (
        tok_counts.join(big, "doc_id")
        .select("doc_id", "n_tokens", "top_token_frac",
                dup.alias("dup_bigram_frac"))
    )


def _pack_greedy_oracle_sql(budget: int = PACK_BUDGET) -> str:
    """DuckDB twin of the greedy packer (r11 — upgrades the query from
    rows-only to exactly-oracled, the text_bpe_learn_merges
    list_reduce playbook): the per-language sequential fold runs as a
    ``list_reduce`` over the doc_id-ordered item list, with the fold
    state ('<pack>|<used>|<doc:pack,...>' — current pack id, current
    fill, accumulated assignments) encoded in the accumulator string.
    ':'/','/'|' never collide: the payload is integers only."""
    st = "CAST(split_part(acc, '|', 2) AS BIGINT)"           # used
    tk = "CAST(split_part(x, ':', 2) AS BIGINT)"             # next size
    pid = "CAST(split_part(acc, '|', 1) AS BIGINT)"          # pack id
    new = f"{st} > 0 AND {st} + {tk} > {budget}"             # overflow?
    npid = f"{pid} + CASE WHEN {new} THEN 1 ELSE 0 END"
    lam = (
        f"(acc, x) -> CAST({npid} AS VARCHAR) || '|' || "
        f"CAST(CASE WHEN {new} THEN {tk} ELSE {st} + {tk} END "
        f"AS VARCHAR) || '|' || "
        f"CASE WHEN split_part(acc, '|', 3) = '' THEN '' "
        f"ELSE split_part(acc, '|', 3) || ',' END "
        f"|| split_part(x, ':', 1) || ':' || CAST({npid} AS VARCHAR)"
    )
    return f"""
        WITH t AS ({_SQL_TOKS}),
        n AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT)
                         AS n_tokens FROM t),
        g AS (SELECT lang,
                     list_transform(
                         list(struct_pack(d := doc_id, tk := n_tokens)
                              ORDER BY doc_id),
                         s -> CAST(s.d AS VARCHAR) || ':'
                              || CAST(s.tk AS VARCHAR)) AS items
              FROM n GROUP BY lang),
        f AS (SELECT lang,
                     list_reduce(list_prepend('0|0|', items), {lam})
                         AS packed
              FROM g),
        asg AS (SELECT lang,
                       CAST(split_part(kv, ':', 1) AS BIGINT) AS doc_id,
                       CAST(split_part(kv, ':', 2) AS BIGINT) AS pack_id
                FROM (SELECT lang,
                             unnest(str_split(
                                 split_part(packed, '|', 3), ',')) AS kv
                      FROM f))
        -- join on doc_id ALONE (unique key): adding a.lang = n.lang
        -- would drop NULL-lang documents that the Spark side's
        -- groupBy('lang') keeps as a NULL group (ADVICE r11)
        SELECT n.doc_id, n.lang, n.n_tokens, a.pack_id
        FROM n JOIN asg a ON a.doc_id = n.doc_id
    """


@register(
    "pack_sequences_greedy",
    oracle=_pack_greedy_oracle_sql(),
    tags=("training", "packing", "stateful"),
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, true greedy: per language (one shuffle), walk
    documents in doc_id order and start a new pack whenever adding the
    next document would exceed {PACK_BUDGET} tokens. The fold is
    inherently sequential per group, so it runs as an Arrow-batched
    ``applyInPandas`` — the documented escape hatch for per-partition
    imperative logic. State is O(1) per group; group size is the only
    scale limit (partition by (lang, day) or similar in a real corpus
    to bound it)."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id", "lang",
        F.size(words_canonical("text")).cast("bigint").alias("n_tokens"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, pid, used = [], 0, 0
        for t in pdf["n_tokens"]:
            if used > 0 and used + t > PACK_BUDGET:
                pid, used = pid + 1, 0
            pack_ids.append(pid)
            used += t
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf

    return n.groupBy("lang").applyInPandas(
        pack, schema="doc_id long, lang string, n_tokens long, pack_id long")


#: per-group sample size for the balanced subsample operator
_PER_GROUP_N = 5


@register(
    "sample_per_group",
    oracle=f"""
        SELECT source, doc_id, rk FROM (
            SELECT source, doc_id,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY md5(CAST(doc_id AS VARCHAR)))
                       AS rk
            FROM documents)
        WHERE rk <= {_PER_GROUP_N}
    """,
    tags=("sampling", "training", "window"),
)
def sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced subsample: exactly N documents per
    source, chosen by ranking on md5(doc_id) — a keyed pseudo-random
    order that is engine- and run-independent (the property seeded
    ``sample()`` lacks across engines, which is why sample_seeded is
    rows-only checked while this one is oracle-exact).

    This is the per-group companion of the md5-bucket stratified
    sampler: one window shuffle on the group key, no collect, and the
    hash ordering guarantees no tie-ambiguity (md5 of distinct ids is
    distinct)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")))
    return (
        docs.select("source", "doc_id",
                    F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _PER_GROUP_N)
    )


#: weighted-sample size (control-sized)
WEIGHTED_SAMPLE_K = 200


@register(
    "sample_weighted_priority",
    oracle=f"""
        WITH u AS (
            SELECT doc_id, source, n_chars,
                   (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                            1, 13)) AS BIGINT) + 1)
                       / 4503599627370496.0 AS unif
            FROM documents
        )
        SELECT doc_id, source, n_chars,
               CAST(n_chars AS DOUBLE) / unif AS priority
        FROM u
        ORDER BY priority DESC, doc_id
        LIMIT {WEIGHTED_SAMPLE_K}
    """,
    tags=("training", "sampling", "weighted"),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (priority sampling,
    Duffield/Lund/Thorup): inclusion probability ∝ weight (here
    n_chars — longer documents sampled more), via key = w/u with u a
    keyed pseudo-uniform from md5 — deterministic on any cluster, any
    partitioning, any engine. The training-data-mixing primitive:
    sample a corpus slice proportional to document length (≈ token
    contribution) without materializing per-token rows.

    Why this is oracle-EXACT while classic A-ES (u^(1/w)) could not
    be: IEEE-754 division is correctly rounded, so w/u is bit-identical
    in every engine, whereas pow() is only faithfully rounded and may
    differ in the last ulp across libm implementations — enough to
    flip a rank at the selection boundary. The uniform comes from 52
    md5 bits (13 hex chars), exactly representable in a double; +1
    keeps it in (0, 1].

    Scale: pure map stage + TakeOrdered top-K — no shuffle of the
    corpus, no RNG state. K per-partition heaps of size
    {WEIGHTED_SAMPLE_K} merge on the driver."""
    docs = load_table(spark, sf_dir, "documents")
    unif = (
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
                16, 10).cast("bigint") + 1)
        / F.lit(float(1 << 52))
    )
    return (
        docs.select(
            "doc_id", "source", "n_chars",
            (F.col("n_chars").cast("double") / unif).alias("priority"))
        .orderBy(F.desc("priority"), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
    )


@register(
    "sample_split_3way",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, n_chars,
                   {_SQL_BUCKET.format(key='doc_id')} AS bucket
            FROM documents)
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM b
        GROUP BY 1
    """,
    tags=("training", "sampling", "split"),
)
def sample_split_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split on the md5-bucket of
    doc_id — the split every training corpus needs, with the properties
    RNG-based splitting can't give at scale: (a) any worker on any
    cluster topology assigns the same doc to the same split (hash, not
    sample()); (b) splits are DISJOINT and exhaustive by construction
    (disjoint bucket ranges of one hash, not three independent
    samples); (c) membership is recomputable from the id alone — no
    split-assignment table to store or join at 100 TB. The id_checksum
    pins the exact membership of each split, not just its size."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _bucket_spark(F.col("doc_id"))
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(split.alias("split"), "n_chars", "doc_id").groupBy(
        "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


@register(
    "sample_split_leakage_safe",
    oracle=f"""
        WITH RECURSIVE {_SQL_JACCARD_CTES},
        edges AS (
            SELECT id_a, id_b FROM jacc
            UNION ALL
            SELECT id_b, id_a FROM jacc
        ),
        reach(node, label) AS (
            SELECT DISTINCT id_a, id_a FROM edges
            UNION
            SELECT e.id_a, r.label
            FROM edges e JOIN reach r ON e.id_b = r.node
        ),
        labels AS (
            SELECT node, min(label) AS label FROM reach GROUP BY node
        ),
        keyed AS (
            SELECT d.doc_id, d.n_chars,
                   coalesce(l.label, d.doc_id) AS split_key
            FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
        ),
        b AS (
            SELECT doc_id, n_chars, split_key,
                   {_SQL_BUCKET.format(key='split_key')} AS bucket
            FROM keyed
        )
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               count(DISTINCT split_key) AS n_clusters,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM b
        GROUP BY 1
    """,
    tags=("training", "sampling", "split", "dedup"),
)
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware 80/10/10 train/val/test split: the md5 bucket is
    taken over the near-dup COMPONENT label (component min doc_id;
    singletons label themselves), not the doc_id — so a whole cluster
    of near-duplicates moves to one split atomically and no document
    can leak an eval answer into train via a near-copy. This is the
    split discipline eval-contamination audits demand: with
    sample_split_3way's per-doc hashing, a pair of 0.9-Jaccard
    near-dups lands in different splits with probability ~2·p·(1-p);
    here that probability is 0 BY CONSTRUCTION — every member of a
    component shares one split_key, so one bucket, so one split.

    Composition: dedup_ngram_jaccard pairs → component_labels
    min-label propagation (both shared with dedup_clusters via
    neardup_component_labels) → left join docs to attach labels
    (singleton docs keep their own id) → hash-bucket the label →
    aggregate per split. The id_checksum pins exact membership.

    100 TB posture: the pair graph + label loop is dedup_clusters'
    cost (prefix-filtered SSJoin, then 7 jobs and 5 exchanges per
    label sweep, sweeps bounded by component diameter); the split
    itself adds one doc_id-keyed left join (sort-merge by plan —
    labels carry a row for every doc that appears in some near-dup
    pair, which at crawl-corpus dup rates is a constant fraction of
    the corpus, NOT broadcastable; the join key is the narrow 8-byte
    id either side) and a 3-row aggregate.
    Assignment stays recomputable from (doc_id → label) alone, so
    incremental corpora re-split without moving old docs unless their
    component grew — the property RNG splits can't give."""
    from mapreducewordcounting_spark.operators.dedup import (
        neardup_component_labels,
    )

    docs = load_table(spark, sf_dir, "documents")
    labels = neardup_component_labels(spark, sf_dir)
    keyed = (
        docs.select("doc_id", "n_chars")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", "n_chars",
                F.coalesce("label", "doc_id").alias("split_key"))
    )
    bucket = _bucket_spark(F.col("split_key"))
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        keyed.select(split.alias("split"), "doc_id", "n_chars", "split_key")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("split_key").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


#: temperature for language-balanced sampling (mT5/UNIMAX-style);
#: alpha=0.3 upweights tail languages without swamping the head.
LANG_SAMPLE_ALPHA = 0.3


@register(
    "lang_temperature_sampling",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        n AS (
            SELECT lang, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
            FROM t GROUP BY lang),
        tot AS (
            SELECT sum(n_tokens) AS total,
                   sum(pow(n_tokens, {LANG_SAMPLE_ALPHA})) AS total_a
            FROM n)
        SELECT n.lang, n.n_tokens,
               round(n.n_tokens / tot.total, 6) AS p_raw,
               round(pow(n.n_tokens, {LANG_SAMPLE_ALPHA}) / tot.total_a, 6)
                   AS p_sample,
               round((pow(n.n_tokens, {LANG_SAMPLE_ALPHA}) / tot.total_a)
                     / (n.n_tokens / tot.total), 6) AS oversample_factor
        FROM n CROSS JOIN tot
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("training", "sampling", "language-balance"),
)
def lang_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language sampling rates (the mT5 / XLM-R
    recipe): sampling probability p_l proportional to (token share)^a
    with a = 0.3, so low-resource languages are oversampled relative
    to their raw share and the head language can't monopolize the
    batch mix. Emits, per language: exact token count, raw corpus
    share, temperature-smoothed sampling probability, and the
    oversample factor the data loader applies.

    The whole computation is one |langs|-row aggregate (token counts
    ride the same map-side-combined sum every token-count query uses)
    plus grand totals taken as a whole-relation window over those
    |langs| rows — nothing here grows with corpus size, which is why
    this policy query runs per-epoch in practice. The window form
    (vs. the r1-r5 crossJoin of a separately-aggregated 1-row total)
    keeps the lineage to a SINGLE documents scan: the broadcast-total
    variant recomputed the scan + tokenization once per side of the
    BNLJ, which the r6 isolated A/B (median of 5, sf0.1, local[32])
    measured at 0.64 s (two scans) vs 0.52 s (this form).
    The single-partition WindowExec is safe: its input is the
    |langs|-row aggregate, never the corpus. pow() on doubles is
    IEEE-identical across engines for these magnitudes; outputs round
    at 6 per repo convention."""
    docs = load_table(spark, sf_dir, "documents")
    n = (docs.select("lang",
                     F.size(words_canonical("text")).alias("k"))
         .groupBy("lang")
         .agg(F.sum("k").cast("bigint").alias("n_tokens")))
    w = Window.partitionBy()  # |langs| rows total — tiny by construction
    total = F.sum("n_tokens").over(w)
    total_a = F.sum(F.pow("n_tokens", F.lit(LANG_SAMPLE_ALPHA))).over(w)
    p_raw = F.col("n_tokens") / total
    p_sample = F.pow("n_tokens", F.lit(LANG_SAMPLE_ALPHA)) / total_a
    return (n.select("lang", "n_tokens",
                     F.round(p_raw, 6).alias("p_raw"),
                     F.round(p_sample, 6).alias("p_sample"),
                     F.round(p_sample / p_raw, 6).alias("oversample_factor")))


#: quality-waterfall thresholds (data-driven against the fixture so
#: every rule is non-vacuous at sf0.01; see operator docstring)
QF_MIN_TOKENS = 20
QF_MAX_TOKENS = 90
QF_WL_LO, QF_WL_HI = 4.0, 5.0
QF_TOPF = 0.15
QF_MIN_DISTINCT_RATIO = 0.40


@register(
    "quality_filter_report",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        base AS (
            SELECT doc_id, len(toks) AS n,
                   list_sum(list_transform(toks, w -> length(w))) * 1.0
                       / nullif(len(toks), 0) AS wl,
                   len(list_distinct(toks)) * 1.0
                       / nullif(len(toks), 0) AS dr
            FROM t),
        tf AS (
            SELECT doc_id, max(c) * 1.0 / any_value(n) AS topf
            FROM (SELECT t.doc_id, u.w, count(*) AS c,
                         any_value(len(t.toks)) AS n
                  FROM t, unnest(t.toks) AS u(w)
                  GROUP BY t.doc_id, u.w)
            GROUP BY doc_id),
        lab AS (
            SELECT CASE
                WHEN b.n < {QF_MIN_TOKENS} THEN 'too_short'
                WHEN b.n > {QF_MAX_TOKENS} THEN 'too_long'
                WHEN b.wl < {QF_WL_LO} OR b.wl > {QF_WL_HI}
                    THEN 'word_len'
                WHEN tf.topf > {QF_TOPF} THEN 'repetition'
                WHEN b.dr < {QF_MIN_DISTINCT_RATIO} THEN 'low_diversity'
                ELSE 'pass' END AS rule
            FROM base b LEFT JOIN tf USING (doc_id)),
        tot AS (SELECT count(*) AS total FROM lab)
        SELECT rule, count(*) AS n_docs,
               round(count(*) * 1.0 / any_value(tot.total), 6) AS pct
        FROM lab CROSS JOIN tot
        GROUP BY rule
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("training", "quality", "filter-report"),
)
def quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style corpus-cleaning WATERFALL report: every document
    is claimed by the FIRST rule it fails (too short → too long →
    mean-word-length band → top-word repetition → low distinct ratio)
    or lands in 'pass'. The per-rule rejection counts are the
    filter-pipeline dashboard — the number a data engineer reads
    before and after every threshold change, and sequential (not
    marginal) attribution is what makes the counts sum to the corpus.

    Thresholds are fixture-calibrated so every rule fires at sf0.01
    (43 / 43 / ~13 / ~39 / rest of 500) — a report where rules never
    fire verifies nothing. Shape at scale: token metrics are array
    HOFs on the doc row (map-side); the only data-sized exchange is
    the (doc, word) tf aggregate feeding the repetition rule; the
    report itself is a |rules|-row rollup with a broadcast total."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words_canonical("text")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n"),
        (F.aggregate("toks", F.lit(0).cast("long"),
                     lambda a, w: a + F.length(w)).cast("double")
         / F.nullif(F.size("toks"), F.lit(0))).alias("wl"),
        (F.size(F.array_distinct("toks")).cast("double")
         / F.nullif(F.size("toks"), F.lit(0))).alias("dr"))
    tf = (docs.select("doc_id", F.explode(toks).alias("w"))
          .groupBy("doc_id", "w").agg(F.count("*").alias("c"))
          .groupBy("doc_id").agg(F.max("c").alias("mx"),
                                 F.sum("c").alias("nt")))
    lab = (base.join(tf, "doc_id", "left")
           .select(F.when(F.col("n") < QF_MIN_TOKENS, "too_short")
                   .when(F.col("n") > QF_MAX_TOKENS, "too_long")
                   .when((F.col("wl") < QF_WL_LO)
                         | (F.col("wl") > QF_WL_HI), "word_len")
                   .when(F.col("mx").cast("double") / F.col("nt")
                         > QF_TOPF, "repetition")
                   .when(F.col("dr") < QF_MIN_DISTINCT_RATIO,
                         "low_diversity")
                   .otherwise("pass").alias("rule")))
    tot = lab.agg(F.count("*").alias("total"))
    return (lab.crossJoin(F.broadcast(tot))
            .groupBy("rule")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.count("*") * F.lit(1.0) / F.any_value("total"), 6)
                 .alias("pct")))


#: output shard count for balanced shard assignment
N_SHARDS = 16


@register(
    "shard_assign_balanced",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        n AS (SELECT doc_id, len(toks) AS n_tokens FROM t),
        r AS (SELECT doc_id, n_tokens,
                     row_number() OVER (ORDER BY n_tokens DESC, doc_id)
                         AS rn
              FROM n)
        SELECT CAST((rn - 1) % {N_SHARDS} AS BIGINT) AS shard,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        FROM r GROUP BY 1
    """,
    tags=("training", "sharding", "balance", "global-rank"),
)
def shard_assign_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment — longest-processing-time-style
    round robin: rank documents by token count (desc, doc_id
    tiebreak), deal rank ``i`` to shard ``(i-1) % {N_SHARDS}``, report
    per-shard doc and token totals. Because consecutive ranks have
    near-equal sizes, each dealing round adds ~equal weight to every
    shard — the classic cheap approximation to balanced bin packing
    (``shard_mix_entropy`` MEASURES a mix; this op CONSTRUCTS one).

    The global rank is deliberately NOT ``row_number() OVER (ORDER BY
    ...)`` — on Spark a global-order window moves the whole corpus
    into ONE partition. It is the scalable two-phase form instead:
    ``repartitionByRange`` on the full sort key gives
    non-overlapping, ordered ranges (a parallel sort); per-partition
    ``row_number`` plus a broadcast of cumulative partition counts
    (one tiny aggregate — |partitions| rows) reconstructs the exact
    global rank with no single-partition stage. Range boundaries come
    from sampling and may vary run to run, but the rank is a function
    of the TOTAL order (doc_id tiebreak makes it total), so the
    result is deterministic anyway. The oracle states the spec
    declaratively with the plain window — independent of the
    two-phase construction under test."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        F.size(words_canonical("text")).cast("bigint").alias("n_tokens"))
    by_rank = [F.desc("n_tokens"), F.asc("doc_id")]
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut reads
    # 9 → 8 jobs, scans 1, but derived-sf1 wall lost 2 of 5 pairs.
    part = (n.repartitionByRange(*by_rank)
            .withColumn("pid", F.spark_partition_id())
            .localCheckpoint())
    offs = part.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_off = (Window.orderBy("pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = offs.select(
        "pid",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"))
    w_local = Window.partitionBy("pid").orderBy(*by_rank)
    ranked = (part.withColumn("lrn", F.row_number().over(w_local))
              .join(F.broadcast(offs), "pid")
              .withColumn("rn", F.col("off") + F.col("lrn")))
    return (
        ranked.groupBy(((F.col("rn") - 1) % N_SHARDS).alias("shard"))
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("sum_tokens"))
    )


#: per-domain document cap (FineWeb/C4-style domain dominance control)
DOMAIN_CAP = 8


@register(
    "sample_domain_cap",
    oracle=f"""
        WITH r AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents),
        k AS (SELECT source, count(*) AS n_kept,
                     CAST(sum(n_chars) AS BIGINT) AS kept_chars
              FROM r WHERE rn <= {DOMAIN_CAP} GROUP BY source),
        t AS (SELECT source, count(*) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS total_chars
              FROM documents GROUP BY source)
        SELECT t.source, t.n_docs, k.n_kept,
               t.n_docs - k.n_kept AS n_dropped,
               k.kept_chars,
               round(CAST(k.kept_chars AS DOUBLE) / t.total_chars, 6)
                   AS kept_char_share
        FROM t JOIN k USING (source)
    """,
    tags=("training", "sampling", "domain-cap"),
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the FineWeb/C4-style dominance
    control: keep at most DOMAIN_CAP documents per source (ranked by
    a quality proxy, here n_chars descending with doc_id tie-break),
    so no single crawl domain floods the training mix. Emits the
    per-source audit a pipeline operator needs: how many docs the
    domain had, how many survived the cap, and what character share
    the kept set retains.

    Scale shape — deliberately TWO scans, not one:
      1. The cap itself is ``row_number() <= DOMAIN_CAP`` over
         (source | n_chars DESC, doc_id), which Spark compiles to
         partial+final **WindowGroupLimit**: each map task keeps only
         its local top-DOMAIN_CAP per source BEFORE the exchange, so
         the shuffle carries O(sources x cap) rows per task, not the
         corpus (same mechanism as compact_keep_latest, asserted in
         tests/test_plans.py). Folding the per-source totals into the
         same window stage (count(*) over source) would DEFEAT that
         pruning — every row would have to survive to be counted.
      2. Per-source totals are a separate map-side-combined aggregate
         over a two-column scan — |sources| result rows, broadcast
         back onto the capped aggregate.
    The deterministic (n_chars, doc_id) order makes the kept set
    engine-exact — no RNG, no rank ties.

    Reference parity: no analog in the reference (564-LoC word count);
    SURVEY.md §2.3 training-pipeline tier."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    kept = (
        docs.select("source", "n_chars",
                    F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= DOMAIN_CAP)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"),
             F.sum("n_chars").alias("kept_chars"))
    )
    totals = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"))
    return (
        kept.join(F.broadcast(totals), "source")
        .select("source", "n_docs", "n_kept",
                (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
                "kept_chars",
                F.round(F.col("kept_chars").cast("double")
                        / F.col("total_chars"), 6)
                .alias("kept_char_share"))
    )


#: fraction of total corpus characters the mixed budget may spend
MIX_BUDGET_FRAC_NUM, MIX_BUDGET_FRAC_DEN = 1, 4


@register(
    "sample_token_budget_mix",
    oracle="""
        WITH s AS (
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE)))
                        AS BIGINT) AS w
            FROM documents GROUP BY source),
        g AS (SELECT CAST(sum(total_chars) AS BIGINT) AS corpus_chars,
                     CAST(sum(w) AS BIGINT) AS w_sum
              FROM s),
        q AS (
            SELECT s.source, s.n_docs, s.total_chars,
                   ((g.corpus_chars * 1 // 4) * s.w) // g.w_sum
                       AS quota_chars
            FROM s CROSS JOIN g),
        r AS (
            SELECT doc_id, source, n_chars,
                   sum(n_chars) OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS cum
            FROM documents),
        sel AS (
            SELECT r.source,
                   count(*) AS n_selected,
                   CAST(sum(r.n_chars) AS BIGINT) AS selected_chars
            FROM r JOIN q ON r.source = q.source
            WHERE r.cum <= q.quota_chars
            GROUP BY r.source)
        SELECT q.source, q.n_docs, q.total_chars, q.quota_chars,
               coalesce(sel.n_selected, 0) AS n_selected,
               coalesce(sel.selected_chars, 0) AS selected_chars,
               round(CAST(coalesce(sel.selected_chars, 0) AS DOUBLE)
                     / q.quota_chars, 6) AS fill_ratio
        FROM q LEFT JOIN sel ON q.source = sel.source
    """,
    tags=("training", "sampling", "mixing", "budget"),
)
def sample_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained data mixing — the step that materializes a
    mixing recipe: spend a corpus-wide character budget (1/4 of total
    chars) across sources with SUB-LINEAR weights (w_s = isqrt of the
    source's chars — the temperature-flattening that keeps big crawl
    sources from drowning small curated ones, the same idea as
    lang_temperature_sampling's tau), then fill each source's quota
    with its best documents (n_chars DESC, doc_id tie-break) by
    cumulative sum until the next doc would exceed the quota. Output
    per source: quota, docs selected, chars actually spent, fill
    ratio.

    Engine-exactness is designed in, not hoped for: weights, the
    weight sum, the budget, and every quota are ALL-INTEGER
    (floor(sqrt(bigint-valued double)) is deterministic because sqrt
    is IEEE-correctly-rounded; integer sums are order-independent;
    quota = (budget * w) DIV w_sum in bigint) — a float weight sum
    would be summation-order-dependent across engines and could flip
    the boundary document of a quota. The per-source cumsum is exact
    bigint.

    Scale shape: the quota table is |sources| rows (two map-side-
    combined aggregates + a 1-row grand total, broadcast); the
    selection is ONE window cumsum per source partition over the docs
    scan, filtered by the broadcast quota — no joins at doc grain, no
    global sort. At 100 TB the per-source full ordering is the cost
    center: the production form pre-filters with an approximate
    quality threshold (quantile sketch) and exact-ranks only the
    boundary region; the fixture form IS the exact reference those
    two-phase results are validated against.

    Distinct from sample_domain_cap: that is a COUNT cap per domain
    (WindowGroupLimit prunes map-side); this is a cumulative RESOURCE
    budget, which needs the running sum and therefore a real window —
    the two operators bracket the cost/precision trade."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.floor(F.sqrt(F.sum("n_chars").cast("double")))
        .cast("bigint").alias("w"))
    g = s.agg(F.sum("total_chars").alias("corpus_chars"),
              F.sum("w").alias("w_sum"))
    # integral `div` end-to-end: double division + cast would be
    # correctly-rounded-then-truncated (provably safe only by a
    # granularity argument); `div` IS DuckDB's `//` by construction
    quota = F.expr(
        f"((corpus_chars * {MIX_BUDGET_FRAC_NUM} "
        f"div {MIX_BUDGET_FRAC_DEN}) * w) div w_sum")
    q = (s.crossJoin(F.broadcast(g))
         .select("source", "n_docs", "total_chars",
                 quota.cast("bigint").alias("quota_chars")))
    w_cum = (Window.partitionBy("source")
             .orderBy(F.desc("n_chars"), "doc_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = docs.select("doc_id", "source", "n_chars",
                    F.sum("n_chars").over(w_cum).alias("cum"))
    sel = (r.join(F.broadcast(q.select("source", "quota_chars")), "source")
           .filter(F.col("cum") <= F.col("quota_chars"))
           .groupBy("source")
           .agg(F.count("*").alias("n_selected"),
                F.sum("n_chars").alias("selected_chars")))
    return (
        q.join(sel, "source", "left")
        .select("source", "n_docs", "total_chars", "quota_chars",
                F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
                F.coalesce("selected_chars", F.lit(0))
                .alias("selected_chars"),
                F.round(F.coalesce("selected_chars", F.lit(0))
                        .cast("double") / F.col("quota_chars"), 6)
                .alias("fill_ratio"))
    )


#: window width for span-level contamination (matches contamination_5gram)
CONTAM_SPAN_K = 5


@register(
    "contamination_span_coverage",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        w AS (
            SELECT doc_id, source, len(toks) AS n_toks,
                   list_transform(
                       range(1, greatest(len(toks) - {CONTAM_SPAN_K} + 2, 1)),
                       i -> struct_pack(
                           pos := i,
                           gram := array_to_string(
                               toks[i:i+{CONTAM_SPAN_K}-1], ' '))) AS wins
            FROM t),
        g AS (SELECT doc_id, source, n_toks, unnest(wins) AS u FROM w),
        g2 AS (SELECT doc_id, source, n_toks,
                      u.pos AS pos, u.gram AS gram FROM g),
        bench AS (SELECT DISTINCT gram FROM g2 WHERE source = 'src0'),
        d AS (SELECT g2.doc_id, g2.n_toks, g2.pos,
                     b.gram IS NOT NULL AS hit
              FROM g2 LEFT JOIN bench b ON g2.gram = b.gram
              WHERE g2.source <> 'src0'),
        p AS (SELECT doc_id, n_toks, pos, hit,
                     max(CASE WHEN hit THEN pos + {CONTAM_SPAN_K} END)
                         OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_end
              FROM d)
        SELECT doc_id,
               CAST(n_toks AS BIGINT) AS n_toks,
               count(*) AS n_windows,
               count(CASE WHEN hit THEN 1 END) AS n_contam_windows,
               CAST(coalesce(sum(CASE WHEN hit AND (prev_end IS NULL
                                                    OR pos > prev_end)
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_spans,
               CAST(coalesce(sum(CASE WHEN hit THEN greatest(
                                          pos + {CONTAM_SPAN_K}
                                          - greatest(pos,
                                                     coalesce(prev_end, 0)),
                                          0)
                                      ELSE 0 END), 0) AS BIGINT)
                   AS covered_tokens,
               round(CAST(coalesce(sum(CASE WHEN hit THEN greatest(
                                          pos + {CONTAM_SPAN_K}
                                          - greatest(pos,
                                                     coalesce(prev_end, 0)),
                                          0)
                                      ELSE 0 END), 0) AS DOUBLE)
                     / n_toks, 6) AS contam_coverage
        FROM p
        GROUP BY doc_id, n_toks
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("training", "contamination", "spans", "memorization"),
)
def contamination_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark contamination — contamination_5gram tells
    you WHICH training docs share a 5-gram with the benchmark
    ('src0'); this tells you HOW MUCH of each one is verbatim
    benchmark text: windows whose exact 5-token sequence occurs in
    the benchmark merge into maximal spans per doc (the
    dedup_repeated_spans sweep, different flag source), and the
    interval-union mass is what an eval-integrity report quotes —
    'doc X is 40% benchmark text' is actionable; 'doc X shares a
    gram' is not. Every training doc with at least CONTAM_SPAN_K (5)
    tokens emits a row (zero-contamination docs report 0.0); shorter
    docs produce no 5-token window on either engine (posexplode of an
    empty ngram array here, unnest of an empty list in the oracle)
    and are excluded — the output is the denominator over docs long
    enough to contaminate, not over all docs.

    Plan: benchmark grams reduce to a DISTINCT set and broadcast
    (control-sized — the contamination_5gram argument); the training
    side takes ONE tokenize→window pass, a map-side broadcast left
    join sets the hit flag, and the per-doc sweep + rollup share one
    doc_id exchange (span_union_per_doc). The join key here is the
    raw gram so the DuckDB oracle covers the key itself; at corpus
    scale swap xxhash64, measured a local wash with a bounded failure
    mode (BASELINE.md r7 gram-key A/B — hash collisions only
    over-flag)."""
    from mapreducewordcounting_spark.operators.dedup import (
        doc_windows,
        span_union_per_doc,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = (
        doc_windows(docs.filter(F.col("source") == "src0"), CONTAM_SPAN_K)
        .select("gram").distinct()
        .withColumn("hit", F.lit(True))
    )
    flagged = (
        doc_windows(docs.filter(F.col("source") != "src0"), CONTAM_SPAN_K)
        .join(F.broadcast(bench), "gram", "left")
        .select("doc_id", "n_toks", "pos",
                F.coalesce("hit", F.lit(False)).alias("hit"))
    )
    return (
        span_union_per_doc(flagged, CONTAM_SPAN_K, flag_alias="hit")
        .select("doc_id", "n_toks", "n_windows",
                F.col("n_flagged_windows").alias("n_contam_windows"),
                "n_spans", "covered_tokens",
                F.col("coverage").alias("contam_coverage"))
    )


#: k-anonymity threshold: a quasi-identifier class releasable only
#: when at least this many records share it
K_ANON = 5

#: account-balance band width for the level-0 quasi-identifier
K_ANON_BAND = 2000


@register(
    "privacy_k_anonymity",
    oracle=f"""
        WITH c AS (
            SELECT c_custkey,
                   c_nationkey AS nat, c_mktsegment AS seg,
                   CAST(floor(c_acctbal / {K_ANON_BAND}) AS BIGINT) AS band
            FROM customer),
        s3 AS (SELECT nat, seg, band, count(*) AS n
               FROM c GROUP BY nat, seg, band),
        ok3 AS (SELECT * FROM s3 WHERE n >= {K_ANON}),
        r3 AS (SELECT c.c_custkey, c.nat, c.seg FROM c
               LEFT JOIN ok3 ON c.nat = ok3.nat AND c.seg = ok3.seg
                            AND c.band = ok3.band
               WHERE ok3.n IS NULL),
        s2 AS (SELECT nat, seg, count(*) AS n FROM r3 GROUP BY nat, seg),
        ok2 AS (SELECT * FROM s2 WHERE n >= {K_ANON}),
        r2 AS (SELECT r3.c_custkey, r3.seg FROM r3
               LEFT JOIN ok2 ON r3.nat = ok2.nat AND r3.seg = ok2.seg
               WHERE ok2.n IS NULL),
        s1 AS (SELECT seg, count(*) AS n FROM r2 GROUP BY seg),
        ok1 AS (SELECT * FROM s1 WHERE n >= {K_ANON}),
        r1 AS (SELECT r2.c_custkey FROM r2
               LEFT JOIN ok1 ON r2.seg = ok1.seg WHERE ok1.n IS NULL)
        SELECT 0 AS level, count(*) AS n_classes,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS n_records,
               min(n) AS min_class_size
        FROM ok3
        UNION ALL
        SELECT 1, count(*), CAST(coalesce(sum(n), 0) AS BIGINT), min(n)
        FROM ok2
        UNION ALL
        SELECT 2, count(*), CAST(coalesce(sum(n), 0) AS BIGINT), min(n)
        FROM ok1
        UNION ALL
        SELECT 3, 0, count(*), NULL FROM r1
    """,
    tags=("training", "privacy", "k-anonymity", "governance"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity MINIMAL-GENERALIZATION cascade over the customer
    quasi-identifiers (nation, market segment, balance band) — the
    release-governance check a training pipeline runs before user-
    derived features ship: a QI class is releasable only when ≥
    {K_ANON} records share it. Classes that fail generalize one rung
    up the ladder (drop the balance band, then the nation) and retry;
    whatever still fails at the coarsest rung is SUPPRESSED. Emits one
    row per ladder level: classes released there, records they cover,
    and the level's min class size (the k actually achieved) —
    level 3 is the suppression row. Records counts sum to |customer|
    by construction (each record exits at exactly one level).

    Scale shape: each rung is one aggregate over the RESIDUAL records
    plus an anti-join of the residual against its released class keys
    (class-key tables are group-cardinality-sized — broadcastable;
    AQE picks broadcast here) — and the residual shrinks every rung,
    so the ladder costs ≤ L shrinking exchanges, data-grain rows
    never collect anywhere. Rung stats are 1-row aggregates unioned
    DataFrame-side."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / K_ANON_BAND).cast("bigint")
        .alias("band"),
    )
    ladders = (["nat", "seg", "band"], ["nat", "seg"], ["seg"])
    remaining = cust
    level_rows = []
    for level, keys in enumerate(ladders):
        sizes = remaining.groupBy(*keys).agg(F.count("*").alias("n"))
        # Each rung's released-class table is read TWICE (its stat row
        # + the residual anti-join) and the residual feeds the next
        # rung — without lineage cuts the 4-branch union re-derives
        # the whole cascade per branch (measured 29 exchanges vs 13).
        # Class tables are group-cardinality-sized, residuals shrink.
        # The result reads every class table and the last residual;
        # each earlier residual is released once the next one exists.
        ok = sizes.filter(F.col("n") >= K_ANON).localCheckpoint(eager=True)
        level_rows.append(ok.agg(
            F.lit(level).alias("level"),
            F.count("*").alias("n_classes"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint")
            .alias("n_records"),
            F.min("n").alias("min_class_size"),
        ))
        nxt = remaining.join(ok.select(*keys), keys, "left_anti") \
            .localCheckpoint(eager=True)
        if level:  # the seed is the caller-side customer scan
            release(remaining)
        remaining = nxt
    suppressed = remaining.agg(
        F.lit(3).alias("level"),
        F.lit(0).cast("bigint").alias("n_classes"),
        F.count("*").alias("n_records"),
        F.lit(None).cast("bigint").alias("min_class_size"),
    )
    out = level_rows[0]
    for df in level_rows[1:]:
        out = out.unionByName(df)
    return out.unionByName(suppressed)


#: shared synthetic card construction: 16 digits from order/customer
#: keys (small multipliers only — no int64 overflow on either engine)
_LUHN_CARD_SQL = ("lpad(CAST(o_orderkey % 100000000 AS VARCHAR), 8, '0')"
                  " || lpad(CAST(o_custkey % 10000 AS VARCHAR), 4, '0')"
                  " || lpad(CAST((o_orderkey * 7 + o_custkey * 3) % 10000"
                  " AS VARCHAR), 4, '0')")


@register(
    "pii_luhn_validate",
    oracle=f"""
        WITH c AS (
            SELECT o_orderpriority, {_LUHN_CARD_SQL} AS card
            FROM orders),
        s AS (
            SELECT o_orderpriority,
                   list_sum(list_transform(range(16), p ->
                       CASE WHEN p % 2 = 0
                            THEN ascii(substr(card, 16 - p, 1)) - 48
                            ELSE CASE WHEN (ascii(substr(card, 16 - p, 1))
                                            - 48) * 2 > 9
                                      THEN (ascii(substr(card, 16 - p, 1))
                                            - 48) * 2 - 9
                                      ELSE (ascii(substr(card, 16 - p, 1))
                                            - 48) * 2 END
                       END)) AS luhn_sum
            FROM c)
        SELECT o_orderpriority,
               count(*) AS n_cards,
               CAST(sum(CASE WHEN CAST(luhn_sum AS BIGINT) % 10 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
        FROM s GROUP BY o_orderpriority
    """,
    tags=("training", "pii", "luhn", "validation"),
)
def pii_luhn_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-checksum validation (ISO/IEC 7812, the textbook mod-10
    algorithm) — the precision layer PII scrubbing needs on top of
    pii_redact's regex pass: a 16-digit run is only a REAL card number
    if its Luhn checksum closes, and redacting every digit run
    destroys benign ids (the false-positive cost a production scrubber
    tunes against). Cards are a deterministic 16-digit construction
    from order/customer keys (shared with the oracle; small
    multipliers only, so no int64 overflow divergence between
    engines); the checksum is a pure codegen'd HOF fold —
    aggregate(sequence(0,15)) with ascii/substring arithmetic, zero
    UDF, zero extra shuffle beyond the priority rollup, so at 100 TB
    it rides the scan. Python-differential: textbook Luhn in
    tests/test_bruteforce_formulas.py."""
    orders = load_table(spark, sf_dir, "orders")
    card = F.expr(
        "concat(lpad(CAST(o_orderkey % 100000000 AS STRING), 8, '0'), "
        "lpad(CAST(o_custkey % 10000 AS STRING), 4, '0'), "
        "lpad(CAST((o_orderkey * 7 + o_custkey * 3) % 10000 AS STRING), "
        "4, '0'))")
    digit = ("(ascii(substring(card, 16 - p, 1)) - 48)")
    luhn = F.expr(
        f"aggregate(sequence(0, 15), 0, (acc, p) -> acc + "
        f"(CASE WHEN p % 2 = 0 THEN {digit} "
        f"ELSE IF({digit} * 2 > 9, {digit} * 2 - 9, {digit} * 2) "
        f"END))")
    return (
        orders.select("o_orderpriority", card.alias("card"))
        .select("o_orderpriority", luhn.alias("luhn_sum"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_cards"),
             F.sum(F.when(F.col("luhn_sum") % 10 == 0, 1).otherwise(0))
             .cast("bigint").alias("n_valid"))
    )


@register(
    "privacy_l_diversity",
    oracle=f"""
        WITH c AS (
            SELECT c_nationkey AS nat, c_mktsegment AS seg,
                   CAST(floor(c_acctbal / {K_ANON_BAND}) AS BIGINT)
                       AS band
            FROM customer),
        cls AS (
            SELECT nat, seg,
                   count(*) AS n_records,
                   count(DISTINCT band) AS l
            FROM c GROUP BY nat, seg)
        SELECT l AS l_distinct,
               count(*) AS n_classes,
               CAST(sum(n_records) AS BIGINT) AS n_records
        FROM cls GROUP BY l
    """,
    tags=("training", "privacy", "l-diversity", "governance"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity histogram (Machanavajjhala et al. 2007) — the
    governance check k-anonymity misses: a QI class where every
    record shares ONE sensitive value leaks it even at k >= K_ANON
    (the homogeneity attack). QI = (nation, segment) —
    privacy_k_anonymity's middle rung — sensitive attribute = the
    balance band; emits the distribution of distinct-sensitive-value
    counts l over QI classes, so 'n_classes at l = 1' is the exposed
    population a release gate blocks on.

    Plan: one QI-grain aggregate (count + count distinct band), one
    |classes|-grain rollup — two shrinking exchanges, counts only,
    nothing data-grain moves twice. Shares the banding constant with
    the k-anonymity cascade so the two gates audit the same release."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / K_ANON_BAND).cast("bigint")
        .alias("band"),
    )
    cls = cust.groupBy("nat", "seg").agg(
        F.count("*").alias("n_records"),
        F.countDistinct("band").alias("l"))
    return cls.groupBy(F.col("l").alias("l_distinct")).agg(
        F.count("*").alias("n_classes"),
        F.sum("n_records").cast("bigint").alias("n_records"))


#: deterministic-Laplace DP release: privacy budget epsilon (sensitivity
#: of a count under add/remove-one is 1, so scale b = 1/epsilon)
DP_EPSILON = 1.0


@register(
    "privacy_dp_laplace_det",
    oracle=f"""
        WITH cnt AS (
            SELECT n.n_name,
                   count(c.c_custkey) AS true_n
            FROM nation n
            LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name),
        seeded AS (
            SELECT n_name, true_n,
                   (CAST(CAST(('0x' || substr(md5('dp:' || n_name), 1, 13))
                              AS UBIGINT) AS DOUBLE) + 0.5)
                       / 4503599627370496.0 AS u
            FROM cnt),
        noised AS (
            SELECT n_name, true_n,
                   -(1.0 / {DP_EPSILON})
                   * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
                   * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
            FROM seeded)
        SELECT n_name,
               CAST(true_n AS BIGINT) AS true_n,
               round(noise, 6) AS noise,
               round(true_n + noise, 6) AS released_n
        FROM noised
    """,
    tags=("privacy", "differential-privacy", "governance"),
)
def privacy_dp_laplace_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork et al. 2006) with a
    DETERMINISTIC Laplace draw — per-nation customer counts plus
    Laplace(1/epsilon) noise, epsilon=1, sensitivity 1. The third rung
    of the release-governance ladder: privacy_k_anonymity generalizes,
    privacy_l_diversity audits homogeneity, and this releases noisy
    aggregates with a provable budget. A production release swaps the
    seed for a fresh secret draw; everything else — inverse-CDF,
    sensitivity bookkeeping, the release shape — is identical, which
    is exactly what the oracle needs pinned (the sample_seeded
    precedent: determinism is a test-harness property, the operator
    structure is the deliverable).

    The draw: u = (md5('dp:'||key)[52 bits] + 0.5) / 2^52 — a dyadic
    rational strictly inside (0,1), engine-exact, never 0.5 (u=0.5
    would need integer+0.5 = 2^51) so the inverse CDF
    noise = -(1/eps)·sign(u-0.5)·ln(1-2|u-0.5|) never hits ln(0) and
    the sign CASE never sees its boundary. ln runs on bit-identical
    inputs (libm parity, the probe_fn contract). Plan: ONE
    customer-scale aggregate down to the |nations| grain FIRST, then
    the 25-row nation dim LEFT JOINs the broadcast counts (every
    category must appear in a DP release — absence itself leaks, so
    zero-customer nations get true_n = 0 and their own noise draw),
    then pure map arithmetic on |nations| rows."""
    nat = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    per_key = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"))
    cnt = (nat.join(F.broadcast(per_key),
                    nat.n_nationkey == per_key.c_nationkey, "left")
           .select("n_name",
                   F.coalesce("n_cust", F.lit(0)).alias("true_n")))
    i52 = F.conv(F.substring(F.md5(F.concat(F.lit("dp:"), F.col("n_name"))),
                             1, 13), 16, 10).cast("bigint")
    u = (i52.cast("double") + F.lit(0.5)) / F.lit(4503599627370496.0)
    seeded = cnt.withColumn("u", u)
    noise = (F.lit(-1.0 / DP_EPSILON)
             * F.when(F.col("u") >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
             * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(F.col("u") - F.lit(0.5))))
    return (
        seeded.withColumn("noise", noise)
        .select("n_name",
                F.col("true_n").cast("bigint").alias("true_n"),
                F.round("noise", 6).alias("noise"),
                F.round(F.col("true_n") + F.col("noise"), 6)
                .alias("released_n"))
    )


#: Neyman allocation: total sampling budget (documents), deliberately
#: far below |documents| at every SF so quotas are a real decision.
NEYMAN_BUDGET = 100


@register(
    "sample_stratified_neyman",
    oracle=f"""
        WITH s AS (
            SELECT source,
                   count(*) AS n_docs,
                   sum(n_chars) AS sx,
                   sum(n_chars * n_chars) AS sxx
            FROM documents GROUP BY source),
        w AS (
            -- greatest(var, 0): cancellation on an all-constant
            -- stratum can round to a tiny negative, where Spark's
            -- sqrt returns NaN but DuckDB errors (ADVICE r9)
            SELECT source, n_docs,
                   sqrt(greatest((CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           / n_docs) / n_docs, 0)) AS sd,
                   n_docs * sqrt(greatest((CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           / n_docs) / n_docs, 0)) AS wt
            FROM s),
        t AS (
            SELECT *, max(cum) OVER () AS total
            FROM (SELECT *, sum(wt) OVER (ORDER BY source
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum
                  FROM w)),
        eff AS (
            -- all-constant strata (sd = 0 everywhere) degenerate to
            -- equal weights so the budget still allocates
            SELECT source, n_docs, sd,
                   CASE WHEN total = 0 THEN 1.0 ELSE wt END AS wt,
                   CASE WHEN total = 0
                        THEN count(*) OVER () * 1.0
                        ELSE total END AS total
            FROM t),
        base AS (
            SELECT source, n_docs, sd,
                   CAST(floor({NEYMAN_BUDGET} * wt / total) AS BIGINT)
                       AS quota_floor,
                   {NEYMAN_BUDGET} * wt / total
                       - floor({NEYMAN_BUDGET} * wt / total) AS frac
            FROM eff),
        ranked AS (
            SELECT *,
                   row_number() OVER (ORDER BY frac DESC, source)
                       AS rnk,
                   {NEYMAN_BUDGET} - sum(quota_floor) OVER ()
                       AS leftover
            FROM base)
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               round(sd, 6) AS char_sd,
               CAST(quota_floor + CASE WHEN rnk <= leftover
                                       THEN 1 ELSE 0 END AS BIGINT)
                   AS quota
        FROM ranked
    """,
    tags=("sampling", "training-pipeline", "stratified", "neyman"),
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation (Neyman 1934):
    split a fixed budget of NEYMAN_BUDGET (100) documents across sources
    with n_h ∝ N_h·S_h — high-variance strata get proportionally MORE
    than their row share, which minimizes the variance of the sampled
    estimate at fixed cost. The principled upgrade to
    sample_stratified_hash's proportional split, and the allocation
    step a quality-weighted corpus sampler runs before
    sample_token_budget_mix fills the quotas.

    Integer-exactness discipline (the token-budget-mix rule): the
    fractional shares are doubles, but the DECISION is all-integer —
    floor quotas plus largest-remainder top-up, where the leftover is
    an exact integer (budget − Σ floors) and the top-up rank breaks
    frac ties on the source name, so Σ quota == budget by construction
    on both engines. Per-stratum stddev comes from exact BIGINT
    sufficient statistics (Σx, Σx² — n_chars sums stay under 2^53
    here; at crawl scale both cast to DECIMAL(38) with no structural
    change) cast to double at one point, and the weight normalizer is
    a LEFT-TO-RIGHT cumulative fold over the |sources| grid (the
    time_cusum_changepoint trick) — never an unordered float sum.
    Plan: one fact-scale aggregate to |sources| rows; everything after
    is grid arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"))
    # greatest(var, 0) on BOTH engines: float cancellation on an
    # all-constant stratum can yield a tiny negative, where Spark's
    # sqrt returns NaN but DuckDB raises — clamping keeps the
    # degenerate case on the total=0 branch it was designed for
    # (ADVICE r9)
    var = F.greatest(
        (F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx").cast("double")
         / F.col("n_docs")) / F.col("n_docs"),
        F.lit(0.0))
    w = s.select("source", "n_docs", F.sqrt(var).alias("sd"),
                 (F.col("n_docs") * F.sqrt(var)).alias("wt"))
    w_cum = (Window.orderBy("source")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t = (w.withColumn("cum", F.sum("wt").over(w_cum))
         .withColumn("total", F.max("cum").over(Window.partitionBy())))
    # all-constant strata (sd = 0 everywhere) degenerate to equal
    # weights so the budget still allocates
    t = t.select(
        "source", "n_docs", "sd",
        F.when(F.col("total") == 0, F.lit(1.0)).otherwise(F.col("wt"))
        .alias("wt"),
        F.when(F.col("total") == 0,
               F.count("*").over(Window.partitionBy()) * F.lit(1.0))
        .otherwise(F.col("total")).alias("total"))
    share = F.lit(NEYMAN_BUDGET) * F.col("wt") / F.col("total")
    base = t.select(
        "source", "n_docs", "sd",
        F.floor(share).cast("bigint").alias("quota_floor"),
        (share - F.floor(share)).alias("frac"))
    ranked = (base
              .withColumn("rnk", F.row_number().over(
                  Window.orderBy(F.desc("frac"), F.asc("source"))))
              .withColumn("leftover",
                          F.lit(NEYMAN_BUDGET)
                          - F.sum("quota_floor").over(Window.partitionBy())))
    return ranked.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round("sd", 6).alias("char_sd"),
        (F.col("quota_floor")
         + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint").alias("quota"))


#: deterministic Poisson(1) bootstrap: inverse-CDF thresholds are the
#: partial sums e^-1 * sum(1/j!), precomputed ONCE in Python and
#: inlined as shortest-round-trip double literals. (ADVICE r9: the
#: earlier '1.0/6'-style expression trees were NOT engine-portable —
#: Spark parses '1.0/6' as DECIMAL(7,6) = 0.166667 while DuckDB
#: promotes to DOUBLE, shifting cumulative thresholds by ~2.5e-7, so
#: a u landing in the gap drew a different k per engine. A repr'd
#: double literal parses to the bit-identical double on both.)
_POIS_K_MAX = 8
_POIS_THRESHOLDS: list[float] = []
_acc, _fact = 0.0, 1.0
for _j in range(_POIS_K_MAX):
    _fact *= max(_j, 1)
    _acc += 1.0 / _fact
    _POIS_THRESHOLDS.append(math.exp(-1.0) * _acc)


def _double_lit(v: float) -> str:
    """Shortest round-trip double literal, forced to DOUBLE type in
    both Spark and DuckDB via an exponent suffix."""
    r = repr(v)
    return r if ("e" in r or "E" in r) else r + "e0"


def _pois_case(u_expr: str) -> str:
    """CASE ladder mapping a uniform u to Poisson(1) k by inverse CDF
    (identical SQL text — identical doubles — on both engines)."""
    branches = [f"WHEN {u_expr} < {_double_lit(t)} THEN {k}"
                for k, t in enumerate(_POIS_THRESHOLDS)]
    return "CASE " + " ".join(branches) + f" ELSE {_POIS_K_MAX} END"


@register(
    "sample_poisson_det",
    oracle=f"""
        WITH seeded AS (
            SELECT source,
                   (CAST(CAST(('0x' || substr(md5('boot:' ||
                                  CAST(doc_id AS VARCHAR)), 1, 13))
                              AS UBIGINT) AS DOUBLE) + 0.5)
                       / 4503599627370496.0 AS u
            FROM documents),
        drawn AS (
            SELECT source, {_pois_case('u')} AS k FROM seeded)
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(k) AS BIGINT) AS resampled_docs,
               CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               CAST(max(k) AS BIGINT) AS max_multiplicity
        FROM drawn
        GROUP BY source
    """,
    tags=("sampling", "bootstrap", "poisson", "training-pipeline"),
)
def sample_poisson_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson(1) bootstrap resampling plan (Efron 1979 via the
    streaming formulation: each row independently drawn k ~ Poisson(1)
    times — the resample that never needs to know n, which is why
    distributed learners use it for bagging and uncertainty bands).
    Deterministic md5 draw (the privacy_dp_laplace_det seed rule:
    production swaps the seed, the structure is the deliverable);
    k comes from the inverse CDF as a CASE ladder over the partial
    sums e⁻¹·Σ1/j!, precomputed in Python and inlined as round-trip
    double LITERALS in the shared SQL text (ADVICE r9: expression
    trees like '1.0/6' type differently per engine — DECIMAL in
    Spark, DOUBLE in DuckDB), so every comparison sees bit-equal
    doubles. Emits the per-source resample accounting:
    total draws (≈ n), dropped rows (k=0, ≈ 36.8%), max multiplicity.

    Plan: pure map (hash + CASE) over the scan, one |sources|-grain
    aggregate — zero joins, zero windows, embarrassingly parallel at
    any scale."""
    docs = load_table(spark, sf_dir, "documents")
    i52 = F.conv(F.substring(
        F.md5(F.concat(F.lit("boot:"), F.col("doc_id").cast("string"))),
        1, 13), 16, 10).cast("bigint")
    u = (i52.cast("double") + F.lit(0.5)) / F.lit(4503599627370496.0)
    drawn = docs.withColumn("u", u).select(
        "source", F.expr(_pois_case("u")).alias("k"))
    return drawn.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("k").cast("bigint").alias("resampled_docs"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0)).cast("bigint")
        .alias("n_dropped"),
        F.max("k").cast("bigint").alias("max_multiplicity"))
