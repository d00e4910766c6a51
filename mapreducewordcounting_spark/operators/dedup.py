"""Deduplication operators (SURVEY.md §2.3 — M5, north-star extension).

Four rungs of the dedup ladder, each with the scale rationale:

1. **Exact** (``dedup_exact``): group by content hash — one shuffle of
   32-byte keys regardless of document size. The 100 TB default.
2. **N-gram Jaccard** (``dedup_ngram_jaccard``): exact near-dup pairs
   via an inverted shingle index — the self-join is bounded by shingle
   frequency, not corpus², but still explodes on hot shingles; capped
   here and superseded at scale by (3).
3. **MinHash LSH** (``dedup_minhash_lsh``): the 100 TB near-dup path —
   constant-size signatures, banded bucket join, candidates only.
4. **SimHash** (``dedup_simhash``): 64-bit fingerprints whose hamming
   distance tracks cosine similarity of token sets; pair generation by
   bucketed prefix (here: full signature output, rows-only checked).

The fixture corpus has planted near-duplicates (verified: ~25 pairs
with 3-gram Jaccard ≥ 0.8 at sf0.01), so thresholds below are
non-vacuous.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.checkpoints import release
from mapreducewordcounting_spark.functions.text import tokenize_canonical
from mapreducewordcounting_spark.registry import register

#: DuckDB twin of tokenize_canonical + empty filter (shared CTE)
_SQL_TOKS = """
    SELECT doc_id,
           list_filter(
               list_transform(regexp_split_to_array(lower(text), '[\\s\\v]+'),
                              t -> regexp_replace(t, '[^a-z'']', '', 'g')),
               w -> length(w) > 0) AS toks
    FROM documents
"""


#: at each token start of a single-space-joined token string, capture
#: the next three tokens: the string's word 3-grams, in order
_SHINGLE3_AT_TOKEN_START = "(?<![^ ])(?=([^ ]+ [^ ]+ [^ ]+))"


def _toks() -> "F.Column":
    return F.filter(tokenize_canonical("text"), lambda w: F.length(w) > 0)


def ngrams(toks: "F.Column", n: int = 3) -> "F.Column":
    """Positional word n-grams of a token array (built-ins only) —
    element i of the result is the n-gram starting at token i+1.

    Built as ``zip_with`` over n shifted ``slice``s — element-wise over
    already-materialized arrays. The obvious alternative,
    ``transform(sequence(...), i -> concat(element_at(toks, i), ...))``,
    re-evaluates the *whole* ``toks`` expression for every element_at
    when Catalyst's CollapseProject inlines the tokenizer — O(tokens²)
    per document, measured 47 s vs 3 s at sf0.1. zip_with's lambda only
    ever touches its two input slices, so the tokenizer runs O(n) times
    per row no matter how the projection collapses.

    Guarded: docs with < n tokens yield an empty array (slice with a
    negative length would throw).
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))  # n-gram count
    parts = [F.slice(toks, k + 1, m) for k in range(n)]
    joined = parts[0]
    for p in parts[1:]:
        joined = F.zip_with(joined, p,
                            lambda x, y: F.concat(x, F.lit(" "), y))
    return joined


def shingles(toks: "F.Column", n: int = 3) -> "F.Column":
    """Distinct word n-gram shingles of a token array — the set form
    of :func:`ngrams` (which see for the CollapseProject trap the
    construction avoids)."""
    return F.array_distinct(ngrams(toks, n))


@register(
    "dedup_exact",
    oracle=f"""
        WITH t AS ({_SQL_TOKS})
        SELECT sha256(array_to_string(toks, ' ')) AS content_hash,
               min(doc_id) AS survivor_id,
               count(*) AS n_copies
        FROM t
        GROUP BY sha256(array_to_string(toks, ' '))
    """,
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-content hash: survivor = min
    doc_id per content cluster. The shuffle key is the 32-byte sha256,
    never the document text — at 100 TB the exchange carries hashes,
    not content."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.sha2(F.array_join(_toks(), " "), 256).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count("*").alias("n_copies"),
        )
    )


#: DuckDB CTE body computing the exact 3-gram Jaccard >= 0.8 pairs
#: (shared by the pair query's oracle and the clusters oracle).
_SQL_JACCARD_CTES = f"""
        t AS ({_SQL_TOKS}),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       AS shingles
            FROM t
        ),
        sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        jacc AS (
            SELECT i.id_a, i.id_b,
                   CAST(i.n_common AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
            FROM inter i
            JOIN sizes sa ON i.id_a = sa.doc_id
            JOIN sizes sb ON i.id_b = sb.doc_id
            WHERE CAST(i.n_common AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - i.n_common) >= 0.8
        )
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH {_SQL_JACCARD_CTES}
        SELECT id_a, id_b, jaccard FROM jacc
    """,
    tags=("dedup", "neardup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.8) -> DataFrame:
    """Exact near-dup pairs (3-gram Jaccard ≥ 0.8) via **prefix-filtered
    set-similarity join** (the MapReduce algorithm of Vernica et al.,
    SIGMOD 2010 — see PAPERS.md):

    1. canonical order = ascending global shingle frequency (rarest
       first), so prefixes index the least-colliding shingles;
    2. each doc indexes only its prefix of length
       ``n − ⌈t·n⌉ + 1`` — any pair with Jaccard ≥ t provably shares a
       prefix shingle, so completeness is preserved;
    3. candidates get a size filter (``t·|B| ≤ |A|``) then an **exact**
       verify via array_intersect on the full shingle sets.

    The naive inverted-index self-join (the oracle SQL, kept as the
    semantic spec) costs Σ_shingle freq² — measured 130 s at sf0.1 on
    this corpus (hot shingles from a 31-word vocabulary); the prefix
    filter joins only on rare shingles and verified candidates, same
    exact result. That is the difference between an operator that dies
    at 100× and one that scales with true-duplicate density.
    """
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8,
                        shard_cols: tuple[str, ...] = ()) -> DataFrame:
    """Core of dedup_ngram_jaccard over any (doc_id, text) DataFrame —
    split out so property-based tests can drive it with adversarial
    random corpora (tests/test_hypothesis_dedup.py) against a
    brute-force reference.

    ``shard_cols`` (r12, VERDICT r11 item 5): optional shard key
    columns (must already be on ``docs``). When given, EVERY join in
    the pair pipeline — shingle frequency, prefix index, candidate
    self-join — carries the shard key, so pair generation never
    crosses a shard boundary: per-shard pair space and candidate
    state are bounded by shard size BY CONSTRUCTION (the
    dedup_clusters_sharded deployment posture). Empty (the default)
    keeps the r1-r11 global behavior bit-for-bit."""
    sc = list(shard_cols)
    keys = ["doc_id", *sc]
    # One doc_id exchange serves every consumer: the frequency count,
    # the prefix window and both verify sides all read the shingle
    # sets the aggregate above it builds, so the scan and tokenizer
    # run once and no checkpoint is needed. The exchange carries one
    # row per document, its canonical tokens joined by single spaces;
    # shingling and the explode run above it, since exploding below
    # it would ship every token three times, once inside each 3-gram.
    # The round trip is exact: canonical tokens are non-empty
    # [a-z']+, so none holds a space, and the scan below finds the
    # same distinct 3-grams, in the same order, as shingles() on the
    # token array (none for fewer than three tokens). Two things keep
    # the exchange shared:
    # - the aggregate: consumers reading the repartitioned rows
    #   directly prune different columns and get one exchange each;
    # - the explicit not-null filter: without it the joins' inferred
    #   isnotnull filters are pushed below the exchange under some
    #   consumers only (2 exchanges and 2 scans at sf0.01). It drops
    #   no result row: a null doc_id, shard key or text never pairs.
    sh = (
        docs.select(*keys, F.array_join(_toks(), " ").alias("t"))
        .filter(reduce(lambda x, y: x & y,
                       [F.col(c).isNotNull() for c in (*keys, "t")]))
        .repartition("doc_id")
        # A shingle is three consecutive tokens of t, so one regex scan
        # finds each at a token start. Each consumer of the shared
        # exchange re-runs this (AQE reuses the exchange, not the
        # operators above it), so it must be cheap: shingles() over
        # split(t) evaluates interpreted lambdas, and cost this query
        # up to 25% more executor CPU than shingling once below the
        # exchange; the codegen'd regex scan does not.
        .select(*keys, F.explode(F.array_distinct(F.regexp_extract_all(
            "t", F.lit(_SHINGLE3_AT_TOKEN_START), 1))).alias("shingle"))
        .groupBy(*keys).agg(F.collect_list("shingle").alias("shingles"))
        .withColumn("n_sh", F.size("shingles"))
    )

    exploded = sh.select(*keys, "n_sh", F.explode("shingles").alias("shingle"),
                         F.xxhash64("shingle").alias("hk"))
    # Shingle frequency is a groupBy on the shingle's 64-bit hash: the
    # exchange and the join back carry 8-byte keys, not strings. On
    # the benchmark corpus, whose shingles are mostly distinct, the
    # frequency exchange wrote 40% fewer bytes and the broadcast freq
    # relation shrank 71 → 8.4 MB. A collision merges two counts,
    # which is harmless: the prefix filter is exact under ANY global
    # total order of shingles (Vernica et al., SIGMOD 2010), and
    # (freq, shingle) stays one, ties broken by the shingle itself. So
    # a collision can change which candidates are generated, never
    # the verified pairs.
    # The map-side partial aggregate absorbs hot-shingle skew before
    # the exchange. freq joins back UN-HINTED: distinct-shingle
    # cardinality grows ~linearly with corpus tokens, so a forced
    # broadcast would be a driver collect of a corpus-grain table;
    # unhinted, AQE broadcasts while freq measures small and switches
    # to a skew-splitting sort-merge join when it doesn't. (A count()
    # OVER (PARTITION BY shingle) window was A/B'd as the
    # no-second-relation form: it buffers every row of a hot shingle
    # in ONE group, with no partial aggregate to absorb the skew, and
    # GC-thrashed at derived sf1 while this form held sf0.1/sf1.)
    # Derived-sf10 caveat (OPTIMIZATION_r13.md): the REPLICAS=100
    # corpus makes every replica group a mutual near-dup CLIQUE, so
    # candidates and the true result are quadratic in REPLICAS by
    # construction; this exact-verify form is output-bound there.
    # Bounded dup-group corpora, and the sharded/banded forms, whose
    # shard key splits replica batches, stay near-linear; see
    # dedup_clusters_sharded's sf10 row in BASELINE.md.
    freq = exploded.groupBy(*sc, "hk").agg(F.count("*").alias("freq"))

    pos_w = Window.partitionBy("doc_id").orderBy(F.asc("freq"), F.asc("shingle"))
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = (
        exploded.join(freq, [*sc, "hk"])
        .withColumn("pos", F.row_number().over(pos_w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", *sc, "n_sh", "shingle")
        # NOT checkpointed, deliberately: both self-join sides re-derive
        # this (freq join + window over the shared doc_id aggregate),
        # but that recompute is cheaper than a materialization barrier
        # — measured 2.8-3.6 s without vs 3.6-4.9 s with at sf0.1.
        # Also A/B'd: generating candidate pairs MAP-SIDE from
        # per-shingle collect_list arrays (the basket_pair_affinity
        # shape, one less exchange) measured 4.4 s vs 3.5 s warm for
        # identical output — the per-shingle doc lists are too skewed
        # for the array-combinations fan-out to beat the join.
    )

    a = prefix.alias("a")
    b = prefix.alias("b")
    shard_eq = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in sc]
    candidates = (
        a.join(b, reduce(
            lambda x, y: x & y, shard_eq,
            (F.col("a.shingle") == F.col("b.shingle")))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               # size filter: Jaccard ≥ t ⟹ t·|larger| ≤ |smaller|
               & (F.least("a.n_sh", "b.n_sh")
                  >= F.lit(threshold) * F.greatest("a.n_sh", "b.n_sh")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )

    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"),
                   F.col("n_sh").alias("n_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"),
                   F.col("n_sh").alias("n_b"))
    verified = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


@register(
    "dedup_minhash_lsh",
    oracle=None,  # LSH buckets are hash-seeded and engine-specific;
    # tests/test_dedup.py checks recall vs dedup_ngram_jaccard instead.
    tags=("dedup", "neardup", "lsh", "approx", "ml-fit"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates — the 100 TB path: fixed-size
    signatures (numHashTables=16), banded bucket join, Jaccard distance
    computed only for colliding candidates (spark.ml MinHashLSH,
    approxSimilarityJoin). Output: candidate pairs with estimated
    jaccard ≥ 0.7."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", _toks().alias("toks"))  # see dedup_ngram_jaccard
        .select("doc_id", shingles(F.col("toks")).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    tf = HashingTF(inputCol="shingles", outputCol="features",
                   numFeatures=1 << 18, binary=True)
    # approxSimilarityJoin is a self-join: without the checkpoint the
    # tokenizer → shingle → HashingTF pipeline executes once per side
    # (and again under the ml MinHash explode); materialize it once.
    feats = tf.transform(sh).localCheckpoint()
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=16, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.3, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            (1 - F.col("jaccard_dist")).alias("jaccard_est"),
        )
    )


@register(
    "dedup_simhash",
    oracle=None,  # xxhash64 is Spark-specific; invariance properties
    # are pinned in tests/test_dedup.py.
    tags=("dedup", "neardup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document, entirely in codegen'd expressions:
    xxhash64 each token, sum ±1 votes per bit position across tokens,
    majority → bit. Emitted as two unsigned 32-bit halves plus a hex
    string. Near-dup docs differ in O(1) bits (hamming ≤ 3 typical).

    Scale: one explode + one 64-aggregate groupBy — a single shuffle
    keyed by doc_id; signature is 8 bytes/doc downstream.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(_toks()).alias("word")
    ).withColumn("h", F.xxhash64("word"))
    votes = words.groupBy("doc_id").agg(*[
        F.sum(
            F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"v{b}")
        for b in range(64)
    ])

    def bit(b: int):
        return F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long"))

    lo = reduce(lambda acc, b: acc + (bit(b) * F.lit(1 << b)),
                range(32), F.lit(0).cast("long"))
    hi = reduce(lambda acc, b: acc + (bit(b + 32) * F.lit(1 << b)),
                range(32), F.lit(0).cast("long"))
    return votes.select(
        "doc_id",
        hi.alias("simhash_hi"),
        lo.alias("simhash_lo"),
        F.concat(
            F.lpad(F.hex(hi), 8, "0"), F.lpad(F.hex(lo), 8, "0")
        ).alias("simhash_hex"),
    )


#: DuckDB CTE body computing the exact cosine > 0.45 pair graph over
#: the embeddings table (shared by dedup_embedding_cosine's oracle and
#: the semantic-clusters oracle).
_SQL_COSINE_CTES = """
        cpairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_sum(list_transform(range(1, len(a.embedding) + 1),
                        i -> CAST(a.embedding[i] AS DOUBLE)
                             * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(a.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(b.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                       AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ),
        cosedges AS (SELECT id_a, id_b, cos FROM cpairs WHERE cos > 0.45)
"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH {_SQL_COSINE_CTES}
        SELECT id_a, id_b, round(cos, 6) AS cosine FROM cosedges
    """,
    tags=("dedup", "neardup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str,
                           threshold: float = 0.45,
                           n_blocks: int = 8) -> DataFrame:
    """Embedding-cosine near-dup pairs (the semantic-dedup signal) as a
    **distributed block-matrix product** — no driver-side data hop
    anywhere (VERDICT r3 item 6; the previous version ``collect()``ed
    the matrix to the driver before broadcasting). Vectors hash into
    ``n_blocks`` blocks; an ``applyInPandas`` stage packs each block
    into one (ids, row-major float64 matrix) binary row EXECUTOR-side;
    a broadcast B×(B+1)/2 (blk_a, blk_b) KEY table (two longs per row)
    picks the unordered pairs and equi-joins on the block id attach the
    packed matrices (mat_a streams through the key-table broadcast
    join map-side; mat_b rides a shuffle-hash exchange) — so the
    driver only ever holds block indices, never a matrix;
    each pair's similarity tile is one BLAS matmul in ``mapInPandas``,
    emitting only above-threshold (id_a < id_b) pairs. The n² pair set
    is never materialized as rows anywhere.

    Measured: the expression-tree alternative (self-join on id<id +
    zip_with/aggregate cosine) ran 73 s at sf0.1 — 2M pair rows each
    re-folding 64 dims in interpreted HOFs; the block-matmul form is
    <1 s for the identical oracle-checked output.

    Threshold 0.45 is data-driven (fixture embeddings are near-random;
    verified 7/14/144 pairs across sf tiers — non-vacuous everywhere).
    Scale sizing: pick ``n_blocks ≈ n·dim·8B / 64MB`` so one block is
    a comfortable task payload; shuffle volume is the standard exact
    all-pairs cost (each block replicated B times). Exact all-pairs is
    inherently O(n²) compute — beyond ~10⁷ vectors, bucket with
    similarity_ann_lsh / similarity_ann_rp_det first and run this
    kernel per bucket (the candidate→verify split of
    dedup_ngram_jaccard)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias("blk"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.DataFrame({
            "blk": [int(pdf["blk"].iloc[0])],
            "ids": [ids.tobytes()],
            "mat": [np.ascontiguousarray(mat).tobytes()],
        })

    blocks = emb.groupBy("blk").applyInPandas(
        pack, "blk long, ids binary, mat binary")
    # Broadcast ONLY the B×(B+1)/2 (blk_a, blk_b) KEY table (two longs
    # per row — built from ranges, no data in it), then attach the
    # packed matrices via equi-joins on the block id. Actual plan
    # (the pre-execution plan): the FIRST join is a BroadcastHashJoin whose
    # BUILD side is the broadcast key table — the mat_a blocks STREAM
    # through it map-side (the broadcast hint on pair_keys outranks the
    # probe side's SHUFFLE_HASH hint, which is therefore dead on that
    # join); the SECOND join honors SHUFFLE_HASH and moves the mat_b
    # blocks executor↔executor through a hash exchange. Either way the
    # matrices never transit the driver — which is the ADVICE r4 fix
    # (the previous F.broadcast(blocks) collected the whole packed
    # matrix driver-side, same footprint as the r3 collect() it
    # claimed to remove).
    ra = spark.range(n_blocks).select(F.col("id").alias("blk_a"))
    rb = spark.range(n_blocks).select(F.col("id").alias("blk_b"))
    pair_keys = F.broadcast(ra.join(rb, F.col("blk_a") <= F.col("blk_b")))
    # repartition spreads the matmul tiles across cores (the join
    # output would otherwise land on few tasks).
    pairs = (pair_keys
             .join(blocks.toDF("blk_a", "ids_a", "mat_a")
                   .hint("SHUFFLE_HASH"), "blk_a")
             .join(blocks.toDF("blk_b", "ids_b", "mat_b")
                   .hint("SHUFFLE_HASH"), "blk_b")
             .repartition(n_blocks * (n_blocks + 1) // 2))

    def tile(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.frombuffer(row.ids_a, dtype=np.int64)
                ids_b = np.frombuffer(row.ids_b, dtype=np.int64)
                mat_a = np.frombuffer(row.mat_a).reshape(len(ids_a), -1)
                mat_b = np.frombuffer(row.mat_b).reshape(len(ids_b), -1)
                sims = mat_a @ mat_b.T  # one BLAS call per tile
                lo = np.minimum(ids_a[:, None], ids_b[None, :])
                hi = np.maximum(ids_a[:, None], ids_b[None, :])
                # lo < hi kills self-pairs; for the diagonal tile
                # (blk_a == blk_b) each unordered pair appears at
                # (i,j) AND (j,i) — keep only the id_a < id_b one.
                keep = (sims > threshold) & (lo < hi)
                if row.blk_a == row.blk_b:
                    keep &= ids_a[:, None] < ids_b[None, :]
                qi, bj = np.nonzero(keep)
                out_a.append(lo[qi, bj])
                out_b.append(hi[qi, bj])
                out_c.append(np.round(sims[qi, bj], 6))
            yield pd.DataFrame({
                "id_a": np.concatenate(out_a) if out_a else
                np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else
                np.array([], dtype=np.int64),
                "cosine": np.concatenate(out_c) if out_c else
                np.array([], dtype=np.float64),
            })

    return pairs.mapInPandas(tile, "id_a LONG, id_b LONG, cosine DOUBLE")


@register(
    "dedup_clusters",
    # The iterative min-label loop IS SQL-expressible for this graph:
    # near-dup components are tiny, so a recursive CTE that enumerates
    # every (node, reachable-node) pair and takes min per node is an
    # exact oracle — upgrading this from the weaker rows-only check.
    # UNION (distinct) is what terminates the recursion on the cyclic
    # undirected graph.
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
        )
        SELECT label AS cluster_survivor,
               count(*) AS n_members,
               array_to_string(list_sort(list(node)), '|') AS members
        FROM labels
        GROUP BY label
    """,
    tags=("dedup", "neardup", "clusters", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: connected components over the
    ngram-Jaccard pair graph by iterative min-label propagation (the
    step that turns pairwise matches into dedup *decisions*: keep the
    min doc_id per component, drop the rest).

    Each iteration is one groupBy exchange on doc_id; iterations are
    bounded by component diameter (near-dup clusters are tiny — planted
    fixture components converge in ≤ 4). The loop itself is
    :func:`component_labels` — shared with the leakage-safe split
    (training_ops.sample_split_leakage_safe), which consumes the labels
    per-doc instead of aggregating them per cluster.
    """
    labels = neardup_component_labels(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("cluster_survivor")).agg(
        F.count("*").alias("n_members"),
        # '|'-joined (not an array column): list-typed result columns
        # aren't hashable by the driver's canonicalizer (see agg_collect)
        F.array_join(F.sort_array(F.collect_list("node")), "|")
        .alias("members"),
    )


#: Fixed ingest-batch span for the sharded clustering posture
#: (VERDICT r11 item 5): documents carry no event-time column, but
#: doc_id is INGEST-ORDERED, so a fixed id span is the batch/"day"
#: analog — a production corpus would shard on (source, date). 5000 =
#: the driver's full sf0.1 doc span, so at sf0.1 the sharded form has
#: one batch per source (pure source sharding) and the DERIVED sf1
#: corpus (10 shifted replicas, tools/make_sf1.py) lands each replica
#: in its own batch: the corpus grows by ADDING shards, never by
#: fattening one — which is what bounds per-shard pair space and
#: component diameter as the corpus scales.
DEDUP_SHARD_SPAN = 5000

_SQL_JACCARD_SHARDED_CTES = f"""
        t AS (
            SELECT doc_id, source, doc_id // {DEDUP_SHARD_SPAN} AS shard,
                   list_filter(
                       list_transform(
                           regexp_split_to_array(lower(text), '[\\s\\v]+'),
                           t -> regexp_replace(t, '[^a-z'']', '', 'g')),
                       w -> length(w) > 0) AS toks
            FROM documents
        ),
        sh AS (
            SELECT doc_id, source, shard,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       AS shingles
            FROM t
        ),
        sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        inv AS (SELECT doc_id, source, shard,
                       unnest(shingles) AS shingle FROM sh),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.source = b.source
                 AND a.shard = b.shard AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        jacc AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON i.id_a = sa.doc_id
            JOIN sizes sb ON i.id_b = sb.doc_id
            WHERE CAST(i.n_common AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - i.n_common) >= 0.8
        )
"""


@register(
    "dedup_clusters_sharded",
    # sharded twin of dedup_clusters' reachability oracle: the pair
    # CTEs carry (source, shard) in every join, so reachability can
    # never cross a shard boundary by construction
    oracle=f"""
        WITH RECURSIVE {_SQL_JACCARD_SHARDED_CTES},
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
        )
        SELECT d.source, d.shard,
               l.label AS cluster_survivor,
               count(*) AS n_members,
               array_to_string(list_sort(list(l.node)), '|') AS members
        FROM labels l
        JOIN (SELECT doc_id, source,
                     doc_id // {DEDUP_SHARD_SPAN} AS shard
              FROM documents) d ON d.doc_id = l.node
        GROUP BY d.source, d.shard, l.label
    """,
    tags=("dedup", "neardup", "clusters", "iterative", "sharded"),
)
def dedup_clusters_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARDED near-dup clustering (VERDICT r11 item 5) — the
    deployment posture dedup_clusters' docstring and BASELINE.md
    prose claimed, now a checked query instead of prose: pair
    generation AND component labeling run per (source, ingest-batch)
    shard, with the shard key in EVERY join (shingle frequency,
    prefix index, candidate self-join — see ngram_jaccard_pairs'
    shard_cols), so per-shard pair space and component diameter are
    bounded by shard size BY CONSTRUCTION. The accepted tradeoff is
    explicit: near-dup pairs that straddle a shard boundary are NOT
    merged (a production pipeline chains an incremental cross-batch
    pass — dedup_incremental_neardup — behind this when that matters).

    Shard key: (source, doc_id // DEDUP_SHARD_SPAN). Documents carry
    no event time; doc_id is ingest-ordered, so the fixed id span is
    the "day" analog — at the driver's sf0.1 every source is one
    batch, and the derived sf1 corpus grows by ADDING batches (10
    replicas -> 10 batches/source), which is exactly how an organic
    corpus grows. 100 TB posture: total work is (number of shards) x
    (bounded per-shard cost) — linear in corpus size with constant
    per-shard state, where the unsharded form's pair graph and
    min-label diameters grow with the corpus (the documented 5.29x
    sf1 row this query answers).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source",
        (F.col("doc_id") / DEDUP_SHARD_SPAN).cast("bigint")
        .alias("shard"))
    labels = pair_graph_labels(ngram_jaccard_pairs(
        docs, 0.8, shard_cols=("source", "shard")))
    shard_of = docs.select(F.col("doc_id").alias("node"),
                           "source", "shard")
    return (labels.join(shard_of, "node")
            .groupBy("source", "shard",
                     F.col("label").alias("cluster_survivor"))
            .agg(F.count("*").alias("n_members"),
                 F.array_join(F.sort_array(F.collect_list("node")), "|")
                 .alias("members")))


@register(
    "dedup_semantic_clusters",
    # same recursive-CTE reachability oracle as dedup_clusters, over
    # the cosine pair graph instead of the jaccard one
    oracle=f"""
        WITH RECURSIVE {_SQL_COSINE_CTES},
        edges AS (
            SELECT id_a, id_b FROM cosedges
            UNION ALL
            SELECT id_b, id_a FROM cosedges
        ),
        reach(node, label) AS (
            SELECT DISTINCT id_a, id_a FROM edges
            UNION
            SELECT e.id_a, r.label
            FROM edges e JOIN reach r ON e.id_b = r.node
        ),
        labels AS (
            SELECT node, min(label) AS label FROM reach GROUP BY node
        )
        SELECT label AS cluster_survivor,
               count(*) AS n_members,
               array_to_string(list_sort(list(node)), '|') AS members
        FROM labels
        GROUP BY label
    """,
    tags=("dedup", "neardup", "embedding", "clusters", "iterative"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup decisions: connected components over the
    embedding-cosine near-dup pair graph (dedup_embedding_cosine's
    exact block-matmul pairs at cos > 0.45) — the semantic twin of
    dedup_clusters' lexical components, and the step SemDeDup-style
    pipelines run after pairwise scoring: keep min vec_id per
    component, drop the rest. Reuses component_labels (min-label
    propagation, one exchange per iteration, bounded by component
    diameter); the pair sub-plan's scratch checkpoints are freed once
    the edge list materializes, exactly as in the lexical form.

    100 TB posture: pair generation is the block-matmul scan (or the
    ANN-bucketed variant past ~10⁷ vectors — dedup_embedding_cosine's
    documented dial); components add one |pairs|-bounded iterative
    loop — semantic near-dup graphs are sparser than lexical ones
    (planted fixture: cos 0.45 keeps component count > 1, sizes
    small), so the loop converges in a handful of sweeps."""
    labels = pair_graph_labels(dedup_embedding_cosine(spark, sf_dir))
    return labels.groupBy(F.col("label").alias("cluster_survivor")).agg(
        F.count("*").alias("n_members"),
        F.array_join(F.sort_array(F.collect_list("node")), "|")
        .alias("members"),
    )


def neardup_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(node, label)`` connected-component labels over the 3-gram
    Jaccard ≥ 0.8 near-dup pair graph — the shared front half of
    dedup_clusters and training_ops.sample_split_leakage_safe."""
    return pair_graph_labels(dedup_ngram_jaccard(spark, sf_dir))


def pair_graph_labels(pairs: DataFrame) -> DataFrame:
    """``(node, label)`` connected-component labels over the pair
    graph ``pairs`` given as ``(id_a, id_b, ...)`` rows: the pairs and
    their mirror, labeled by :func:`component_labels`."""
    pairs = pairs.select("id_a", "id_b")
    return component_labels(pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))))


def component_labels(edges: DataFrame) -> DataFrame:
    """Connected-component labels ``(node, label)`` — label = component
    minimum id — by iterative min-label propagation over a SYMMETRIC
    ``(id_a, id_b)`` edge list (callers union both directions).

    Checkpoint hygiene (VERDICT r5 item 5): the edge list is cut once,
    eagerly, before the loop — without this, every iteration's labels
    plan re-embeds the whole input DAG and the loop goes exponential
    (measured 24.7 s → ~5 s at sf0.1 on the jaccard graph). The input
    is consumed: every checkpoint it reads is freed as soon as the cut
    exists. Each superseded per-iteration snapshot is released, the
    cut is released on return, and only the FINAL snapshot stays
    pinned for the returned plan — harness sweeps free it later.

    Iterates to convergence (bounded at 20): components merge along
    minimum labels, and a fixed small iteration count would silently
    mis-cluster any component whose min-label eccentricity exceeds it.
    Each iteration is one groupBy exchange on the node id; the
    convergence check is a filter over the already-materialized step
    output, not another join against the previous labels (which cost
    one extra shuffle per iteration). Both joins are merge joins:
    edges and labels grow with the corpus, and a runtime broadcast
    conversion would make the plan depend on the shuffle partition
    count (AQE keeps the sort-merge join when most partitions of a
    tiny stage are empty)."""
    cut = edges.localCheckpoint(eager=True)
    release(edges)
    edges = cut
    # start: every node labels itself
    labels = (
        edges.select(F.col("id_a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(20):
        neighbor_min = (
            edges.join(labels.hint("merge"), edges.id_b == labels.node)
            .groupBy(F.col("id_a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(neighbor_min.hint("merge"), "node", "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(F.col("label"),
                        F.coalesce("nbr_label", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        release(labels)  # superseded by the step just materialized
        changed = stepped.filter(F.col("label") != F.col("old_label")).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    else:
        # A component whose min-label eccentricity exceeds the sweep
        # budget would return silently-wrong labels (and, downstream,
        # break sample_split_leakage_safe's no-straddle guarantee) —
        # fail fast instead (ADVICE r8).
        raise RuntimeError(
            "component_labels did not converge in 20 sweeps; "
            f"{changed} labels still changing")
    release(edges)
    return labels  # the final snapshot stays pinned: the result reads it


def minhash_band_rows(docs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """(doc_id, *extra_cols, band, bkey) LSH band rows under the
    deterministic md5 MinHash family (8 hashes, 4 bands x 2 rows) —
    the shared signature pipeline of dedup_minhash_det and
    dedup_incremental_neardup (dedup_minhash_estimate keeps its own
    variant: it must carry the shingle sets and signatures TOGETHER
    through two checkpoints for the estimator columns). Zero-shingle
    docs are dropped by their sentinel band key (see inline notes).

    All 8 minhashes in ONE traversal: fold the shingle array with an
    elementwise-min accumulator of 8 hashes. The obvious per-hash
    ``array_min(transform(sh, ...))`` re-evaluates the entire
    tokenize→shingle expression 8× when CollapseProject inlines it
    into each lambda (the module's own zip_with note, measured
    9.5 s → 2.5 s at sf0.1); a single aggregate references ``sh``
    once. Init sentinel "g" sorts after every lowercase-hex md5, so
    it never survives a non-empty fold."""
    import hashlib

    sh = docs.select("doc_id", *extra_cols, shingles(_toks()).alias("sh"))

    def hash8(s):
        return F.array(*[F.md5(F.concat(F.lit(f"{i}|"), s))
                         for i in range(8)])

    sig_arr = F.aggregate(
        "sh",
        F.array(*[F.lit("g") for _ in range(8)]),
        lambda acc, s: F.zip_with(acc, hash8(s), lambda x, y: F.least(x, y)),
    )
    # Project the signature to a CONCRETE column before fanning out to
    # 8 element_at references: multi-use of a non-cheap alias stops
    # CollapseProject from inlining the aggregate 8×. Bands then explode
    # from one array (one scan) instead of a 4-way union (4 scans).
    sig = sh.select("doc_id", *extra_cols, sig_arr.alias("sig"))
    h = [F.element_at("sig", i + 1) for i in range(8)]
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat(h[2 * b], F.lit("|"), h[2 * b + 1])).alias("bkey"),
        )
        for b in range(4)
    ])
    # Zero-shingle docs fold to the all-"g" sentinel signature; their
    # band key is the one constant md5("g|g"). Dropping them HERE (by
    # that constant) instead of filter(size(sh) > 0) upstream saves a
    # second evaluation of the whole tokenize→shingle pipeline (the
    # predicate would be substituted through the projection).
    empty_bkey = hashlib.md5(b"g|g").hexdigest()
    return (
        sig.select("doc_id", *extra_cols, F.explode(band_arr).alias("bs"))
        .select("doc_id", *extra_cols,
                F.col("bs.band").alias("band"),
                F.col("bs.bkey").alias("bkey"))
        .filter(F.col("bkey") != empty_bkey)
    )


@register(
    "dedup_minhash_det",
    # Engine-portable MinHash: hash function i = md5(i || '|' || shingle)
    # (hex compares lexicographically the same in both engines), so the
    # ENTIRE signature → band → candidate-pair pipeline is
    # oracle-checked — unlike the spark.ml MinHashLSH variant, whose
    # internal hash family is engine-private (rows-only check).
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       AS shingles
            FROM t
        ),
        sig AS (
            SELECT doc_id,
                   list_min(list_transform(shingles, s -> md5('0|' || s))) AS h0,
                   list_min(list_transform(shingles, s -> md5('1|' || s))) AS h1,
                   list_min(list_transform(shingles, s -> md5('2|' || s))) AS h2,
                   list_min(list_transform(shingles, s -> md5('3|' || s))) AS h3,
                   list_min(list_transform(shingles, s -> md5('4|' || s))) AS h4,
                   list_min(list_transform(shingles, s -> md5('5|' || s))) AS h5,
                   list_min(list_transform(shingles, s -> md5('6|' || s))) AS h6,
                   list_min(list_transform(shingles, s -> md5('7|' || s))) AS h7
            FROM sh WHERE len(shingles) > 0
        ),
        bands AS (
            SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS bkey FROM sig
            UNION ALL
            SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
            UNION ALL
            SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
            UNION ALL
            SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                    AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    """,
    tags=("dedup", "neardup", "minhash"),
)
def dedup_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding with a DETERMINISTIC, engine-portable hash
    family: h_i(doc) = min over shingles of md5(i || '|' || shingle),
    8 hashes banded 4×2; docs sharing a band key are candidate pairs.

    Structure at 100 TB (the textbook MinHash/LSH dataflow):
    - Signatures are a PURE MAP STAGE — array HOFs over each doc's
      shingle set, no explode, no shuffle; 8 fixed-width strings per
      doc leave the scan regardless of document size.
    - The only shuffle is the band-key self-join, and its key space is
      already collision-compressed: each exchange row is
      (band, 16-byte key, doc_id), never shingles or text.
    - Recall/precision tune via (bands, rows-per-band) exactly as in
      the LSH literature; the planted fixture near-dups (3-gram
      Jaccard ≥ 0.8) surface with ≥1 shared band out of 4.

    Zero-shingle docs are excluded BEFORE banding: their empty-set
    signature is a constant, and md5-of-constant band keys would pair
    every short doc with every other short doc.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The band rows are a map-only subtree, so the self-join must
    # shuffle them to share them: merge-hinted, both sides read one
    # (band, bkey) exchange that the final plan reuses (ReusedExchange)
    # and tokenize + 8×md5 run once per doc. Unhinted, AQE plans a
    # broadcast and the map pipeline runs once per side (input records
    # 3,000 instead of 1,500 on the benchmark corpus). Against the
    # eager checkpoint this replaced: jobs 4 → 3, input records
    # 13,500 → 1,500, identical rows; the band rows now cross a shuffle
    # (0.12 MiB) instead of a broadcast, as they must at scale.
    bands = minhash_band_rows(docs)
    a, bb = bands.alias("a"), bands.alias("b").hint("merge")
    return (
        a.join(bb, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"),
                 F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


# ---------------------------------------------------------------------------
# Deterministic SimHash (oracle-checked twin of dedup_simhash)
# ---------------------------------------------------------------------------

_VHI = ",\n               ".join(
    f"sum(((h_hi >> {b}) & 1) * 2 - 1) AS vhi{b}" for b in range(32))
_VLO = ",\n               ".join(
    f"sum(((h_lo >> {b}) & 1) * 2 - 1) AS vlo{b}" for b in range(32))
_SIG_HI = " + ".join(
    f"CASE WHEN vhi{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))
_SIG_LO = " + ".join(
    f"CASE WHEN vlo{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))


@register(
    "dedup_simhash_det",
    # Engine-portable SimHash: the per-token 64-bit hash is the first
    # 16 hex chars of md5 (bit-identical across engines), so signature,
    # banding, AND hamming verification are all oracle-checked — the
    # deterministic twin of dedup_simhash (whose xxhash64 family is
    # Spark-private), exactly as dedup_minhash_det twins the spark.ml
    # MinHashLSH. The 64 vote sums / bit-assembly / band predicates are
    # generated, not hand-written, so both engines share one formula.
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        words AS (SELECT doc_id, unnest(toks) AS word FROM t),
        hashed AS (
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(md5(word), 1, 8)) AS UBIGINT)
                        AS BIGINT) AS h_hi,
                   CAST(CAST(('0x' || substr(md5(word), 9, 8)) AS UBIGINT)
                        AS BIGINT) AS h_lo
            FROM words),
        votes AS (
            SELECT doc_id,
               {_VHI},
               {_VLO}
            FROM hashed GROUP BY doc_id),
        sig AS (SELECT doc_id, {_SIG_HI} AS sig_hi, {_SIG_LO} AS sig_lo
                FROM votes),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sig_hi, b.sig_hi))
                        + bit_count(xor(a.sig_lo, b.sig_lo)) AS BIGINT)
                       AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
                 (a.sig_hi >> 16) = (b.sig_hi >> 16)
              OR (a.sig_hi & 65535) = (b.sig_hi & 65535)
              OR (a.sig_lo >> 16) = (b.sig_lo >> 16)
              OR (a.sig_lo & 65535) = (b.sig_lo & 65535))
        )
        SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    """,
    tags=("dedup", "neardup", "simhash"),
)
def dedup_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS with a deterministic md5 hash family:
    64-bit fingerprint per doc (±1 bit votes over token hashes,
    majority → bit), Charikar-style banding on the four 16-bit chunks
    (a pair within hamming ≤ 3 differs in ≤ 3 chunks, so at least one
    chunk matches exactly — the pigeonhole guarantee), hamming
    verified by two popcounts per candidate.

    Dataflow at 100 TB:
    - fingerprinting is explode + ONE 64-column sum aggregate — a
      single shuffle keyed by doc_id with full map-side partial
      aggregation (the reference's combiner pattern,
      sendFileByFile.cpp:150-200, widened to 64 parallel sums);
      8 bytes/doc leave the stage regardless of document length.
    - the only other shuffle is the 4-way band self-join whose rows
      are (band, 16-bit key, id, sig) — candidate volume is bounded
      by band-key collisions, and verification is O(1) bit arithmetic
      per candidate, never a token-level comparison.
    - the DuckDB twin generates the same pair set from an OR-of-bands
      join; Spark uses explode + equi-join (hash-joinable, the OR form
      would force a nested-loop) — band-matched duplicates collapse
      with distinct() there, by construction in the OR form.

    Oracle-verified identical at sf0.001/0.01/0.1 (23 / 12 / 312
    pairs — planted near-dups keep the threshold non-vacuous).

    A/B'd against the minhash-style per-doc HOF fold (no explode, no
    vote shuffle): the fold measured 5.3 s vs 1.9 s for this form at
    sf0.1, identical output. 64 interpreted lambda evaluations building
    a vote array per TOKEN lose to the codegen'd 64-sum hash aggregate
    by far more than the (doc × 64-long) exchange costs — the explode
    is the fast path here precisely because aggregate update stays in
    whole-stage codegen; the opposite verdict from minhash, whose fold
    replaces 8 full pipeline re-evaluations, not a shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(_toks()).alias("word"))
    m = F.md5("word")
    hashed = words.select(
        "doc_id",
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h_lo"))
    votes = hashed.groupBy("doc_id").agg(
        *[F.sum(F.shiftright("h_hi", b).bitwiseAND(F.lit(1)) * 2 - 1)
          .alias(f"vhi{b}") for b in range(32)],
        *[F.sum(F.shiftright("h_lo", b).bitwiseAND(F.lit(1)) * 2 - 1)
          .alias(f"vlo{b}") for b in range(32)])

    def assemble(pfx: str):
        return reduce(
            lambda acc, b: acc + (
                F.when(F.col(f"{pfx}{b}") > 0, F.lit(1 << b))
                 .otherwise(F.lit(0))),
            range(32), F.lit(0)).cast("long")

    sig = votes.select("doc_id", assemble("vhi").alias("sig_hi"),
                       assemble("vlo").alias("sig_lo"))
    band_arr = F.array(
        F.struct(F.lit(0).alias("band"),
                 F.shiftright("sig_hi", 16).alias("key")),
        F.struct(F.lit(1).alias("band"),
                 F.col("sig_hi").bitwiseAND(F.lit(65535)).alias("key")),
        F.struct(F.lit(2).alias("band"),
                 F.shiftright("sig_lo", 16).alias("key")),
        F.struct(F.lit(3).alias("band"),
                 F.col("sig_lo").bitwiseAND(F.lit(65535)).alias("key")),
    )
    # No lineage cut before the self-join: both sides sit above the one
    # ``votes`` exchange, which the final adaptive plan reuses
    # (ReusedExchange), so scan + explode + partial sums run once. The
    # probe side stays hash-partitioned by doc_id, so distinct() adds
    # no exchange either. Measured against the checkpointed form on
    # the benchmark corpus: jobs 5 → 3, input records 13,500 → 1,500,
    # identical rows. Cost: each side runs the final phase of the
    # 64-sum aggregate (warm runs ~0.5 s slower at sf0.1, within noise
    # at derived sf1; BASELINE.md, "neardup checkpoint cuts").
    bands = (sig.select("doc_id", "sig_hi", "sig_lo",
                        F.explode(band_arr).alias("bs"))
             .select("doc_id", "sig_hi", "sig_lo",
                     F.col("bs.band").alias("band"),
                     F.col("bs.key").alias("key")))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                (F.bit_count(F.col("a.sig_hi").bitwiseXOR(F.col("b.sig_hi")))
                 + F.bit_count(F.col("a.sig_lo").bitwiseXOR(F.col("b.sig_lo"))))
                .cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


@register(
    "dedup_fuzzy_edit_distance",
    oracle="""
        WITH names AS (
            SELECT p_name, count(*) AS n FROM part GROUP BY 1)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               levenshtein(a.p_name, b.p_name) AS dist,
               a.n * b.n AS n_pairs
        FROM names a JOIN names b
          ON a.p_name < b.p_name
         AND abs(length(a.p_name) - length(b.p_name)) <= 2
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("dedup", "fuzzy", "levenshtein", "string-similarity"),
)
def dedup_fuzzy_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) near-dup JOIN — typo-level duplicates the
    token-set operators can't see (jaccard/minhash treat "bolt"/"bole"
    as disjoint). Structure is the low-cardinality-domain reduction:

    1. collapse the fact to its DISTINCT string domain with
       multiplicities (one shuffle, domain-sized output) — the
       quadratic comparison then runs on |domain|², not |rows|², and
       every fact row never moves again;
    2. length band |len(a)-len(b)| <= k is a LOSSLESS prefilter (k
       edits change length by at most k);
    3. banded Levenshtein with the threshold argument
       (``levenshtein(a, b, 2)`` — O(k·min(m,n)) early-exit DP, not
       the full O(m·n) matrix; returns -1 above the threshold);
    4. pair multiplicity = n_a · n_b recovers the row-level pair count
       without ever materializing row-level pairs.

    The self-join is broadcast nested-loop BY POLICY (SCALING.md:
    theta joins are dim-only): the distinct domain here is vocabulary-
    sized. When the domain outgrows broadcast, candidate generation
    switches to PassJoin-style segment signatures (Li et al., VLDB
    2011 — pigeonhole: of k+1 segments, two strings within k edits
    share one exactly), which equi-joins on (segment_idx, segment,
    position band) instead."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").alias("n"))
    a = names.select(F.col("p_name").alias("name_a"), F.col("n").alias("n_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("n").alias("n_b"))
    dist = F.levenshtein("name_a", "name_b", 2)
    return (
        a.join(F.broadcast(b),
               (F.col("name_a") < F.col("name_b"))
               & (F.abs(F.length("name_a") - F.length("name_b")) <= 2))
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("name_a", "name_b", "dist",
                (F.col("n_a") * F.col("n_b")).alias("n_pairs"))
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       AS shingles
            FROM t
        ),
        sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh
                  WHERE len(shingles) > 0),
        inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               round(CAST(i.n_common AS DOUBLE) / sa.n_sh, 6)
                   AS containment
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.doc_id
        WHERE CAST(i.n_common AS DOUBLE) / sa.n_sh >= 0.9
    """,
    tags=("dedup", "neardup", "containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str,
                            threshold: float = 0.9) -> DataFrame:
    """DIRECTED containment near-dup pairs: C(A→B) = |sh(A)∩sh(B)| /
    |sh(A)| ≥ 0.9 — the quote/subset-duplicate detector Jaccard misses
    (a document pasted inside a 10× larger one has Jaccard ≈ 0.1 but
    containment ≈ 1.0; both matter when pruning a training corpus).

    The prefix filter goes ONE-SIDED: C ≥ t forces ≥ ⌈t·|A|⌉ of A's
    shingles to appear in B, so A must share a shingle from its
    (|A| − ⌈t·|A|⌉ + 1)-prefix in rarest-first canonical order —
    completeness by pigeonhole, exactly Vernica et al.'s argument with
    the divisor moved to the probe side. Only the CONTAINED side's
    prefix is indexed (tiny); the containing side probes with its full
    shingle list, plus the lossless size filter |B| ≥ t·|A|. Verify is
    exact via array_intersect on the checkpointed shingle table. The
    inverted-index self-join (the oracle) is the semantic spec."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", _toks().alias("toks"))
        .select("doc_id", shingles(F.col("toks")).alias("shingles"))
        .withColumn("n_sh", F.size("shingles")).filter(F.col("n_sh") > 0)
        .localCheckpoint(eager=True)
    )
    exploded = sh.select("doc_id", "n_sh",
                         F.explode("shingles").alias("shingle"))
    # groupBy freq + UN-HINTED join — same VERDICT r12 item 1 rewrite
    # as ngram_jaccard_pairs (which see for the skew A/B): map-side
    # partial agg absorbs hot-shingle skew; AQE picks broadcast only
    # while the freq relation measures small.
    freq = exploded.groupBy("shingle").agg(F.count("*").alias("freq"))

    from pyspark.sql import Window

    pos_w = Window.partitionBy("doc_id").orderBy(F.asc("freq"),
                                                 F.asc("shingle"))
    prefix_len = (F.col("n_sh")
                  - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1)
    prefix = (
        exploded.join(freq, "shingle")
        .withColumn("pos", F.row_number().over(pos_w))
        .filter(F.col("pos") <= prefix_len)
        .select(F.col("doc_id").alias("id_a"),
                F.col("n_sh").alias("n_a"), "shingle")
    )
    probe = exploded.select(F.col("doc_id").alias("id_b"),
                            F.col("n_sh").alias("n_b"), "shingle")
    candidates = (
        prefix.join(probe, "shingle")
        .filter((F.col("id_a") != F.col("id_b"))
                # lossless: |A∩B| <= |B|, so C >= t needs |B| >= t·|A|
                & (F.col("n_b") >= F.lit(threshold) * F.col("n_a")))
        .select("id_a", "id_b").distinct()
    )
    sa = sh.select(F.col("doc_id").alias("id_a"),
                   F.col("shingles").alias("sh_a"),
                   F.col("n_sh").alias("n_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"),
                   F.col("shingles").alias("sh_b"))
    cont = (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.col("n_a"))
    return (
        candidates.join(sa, "id_a").join(sb, "id_b")
        .withColumn("containment", F.round(cont, 6))
        .filter(cont >= threshold)
        .select("id_a", "id_b", "containment")
    )


@register(
    "dedup_incremental_batch",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        hashed AS (
            SELECT t.doc_id, d.source,
                   sha256(array_to_string(t.toks, ' ')) AS h
            FROM t JOIN documents d USING (doc_id)),
        corpus AS (SELECT DISTINCT h FROM hashed WHERE source = 'src0'),
        batch AS (SELECT * FROM hashed WHERE source <> 'src0'),
        fresh AS (
            SELECT b.doc_id, b.source, b.h FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)),
        kept AS (
            SELECT h, source, min(doc_id) AS survivor_id,
                   count(*) AS n_in_batch
            FROM fresh GROUP BY h, source)
        SELECT source,
               count(*) AS n_unique_new,
               CAST(sum(n_in_batch) AS BIGINT) AS n_rows_new,
               min(survivor_id) AS first_survivor
        FROM kept GROUP BY source
    """,
    tags=("dedup", "incremental", "anti-join"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the shape a continuously-ingesting corpus
    actually runs: dedup the NEW batch (a) against the existing corpus
    and (b) within itself, without ever re-deduping the corpus. Here
    ``source='src0'`` stands in for the standing corpus and the other
    sources are the arriving batch.

    Scale structure: both sides reduce to content HASHES before any
    join — the corpus side is a distinct 32-byte hash set (in practice
    maintained as a bucketed hash table or Bloom pre-filter, appended
    per batch, never rebuilt), and the batch side anti-joins it on the
    hash (AQE broadcasts whichever is smaller; at equal scale it's a
    hash-partitioned anti-join on 32-byte keys). Batch-internal dedup
    is the usual min-survivor groupBy ON THE SAME hash key — the
    anti-join's exchange partitioning is reused, so the whole operator
    is ~one shuffle of hashes. Document text never moves."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source",
        F.sha2(F.array_join(_toks(), " "), 256).alias("h"))
    corpus = (hashed.filter(F.col("source") == "src0")
              .select("h").distinct())
    batch = hashed.filter(F.col("source") != "src0")
    fresh = batch.join(corpus, "h", "left_anti")
    kept = fresh.groupBy("h", "source").agg(
        F.min("doc_id").alias("survivor_id"),
        F.count("*").alias("n_in_batch"))
    return kept.groupBy("source").agg(
        F.count("*").alias("n_unique_new"),
        F.sum("n_in_batch").alias("n_rows_new"),
        F.min("survivor_id").alias("first_survivor"),
    )


#: Bloom gate for the standing-corpus side of incremental dedup:
#: k=4 deterministic md5 positions over m=65536 bits — sized so the
#: gate actually FILTERS at every test SF (load ~0.37 at sf0.1,
#: fp ~1%) instead of saturating, unlike sketch_bloom_det's
#: deliberately-undersized m=2048.
_IBLOOM_K = 4
_IBLOOM_M = 65536


def _ibloom_pos_sql(key_expr: str, i_expr: str) -> str:
    return (f"CAST(CAST(('0x' || substr(md5(CAST({i_expr} AS VARCHAR) "
            f"|| '|' || {key_expr}), 1, 8)) AS UBIGINT) "
            f"% {_IBLOOM_M} AS BIGINT)")


def _ibloom_positions(key_col: "F.Column") -> "F.Column":
    return F.array(*[
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{i}|"), key_col)), 1, 8),
            16, 10).cast("long") % _IBLOOM_M)
        for i in range(_IBLOOM_K)
    ])


@register(
    "dedup_incremental_bloom",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        hashed AS (
            SELECT t.doc_id, d.source,
                   sha256(array_to_string(t.toks, ' ')) AS h
            FROM t JOIN documents d USING (doc_id)),
        corpus AS (SELECT DISTINCT h FROM hashed WHERE source = 'src0'),
        bits AS (
            SELECT DISTINCT {_ibloom_pos_sql('h', 'r.i')} AS pos
            FROM corpus, range({_IBLOOM_K}) r(i)),
        batch AS (
            SELECT doc_id, source, h FROM hashed WHERE source <> 'src0'),
        probed AS (
            SELECT b.doc_id, b.source, b.h,
                   count(bt.pos) AS n_hit
            FROM batch b
            CROSS JOIN range({_IBLOOM_K}) r(i)
            LEFT JOIN bits bt
              ON {_ibloom_pos_sql('b.h', 'r.i')} = bt.pos
            GROUP BY b.doc_id, b.source, b.h),
        flagged AS (
            -- a bloom has NO false negatives, so a plain left join
            -- against the corpus yields the same is_dup set as the
            -- engine's suspects-only join
            SELECT p.source,
                   (p.n_hit = {_IBLOOM_K}) AS bloom_pass,
                   (c.h IS NOT NULL) AS is_dup
            FROM probed p LEFT JOIN corpus c ON p.h = c.h)
        SELECT source,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pass_bloom,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_true_dup,
               CAST(sum(CASE WHEN bloom_pass AND NOT is_dup
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_pos,
               CAST(sum(CASE WHEN NOT bloom_pass THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_skip_corpus_join
        FROM flagged GROUP BY source
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("dedup", "incremental", "bloom", "sketch"),
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-GATED incremental dedup (VERDICT r9 item 8) — the
    standing-corpus membership argument of dedup_incremental_batch
    made measurable instead of prose: the corpus side is compressed
    into a deterministic Bloom bit-set (k=4 md5 positions over
    m=65536 — ≤ m distinct-position rows, broadcastable at any corpus
    size when m is fixed per shard), every arriving batch row probes
    the broadcast bits map-side, and ONLY the suspects (all k bits
    set) proceed to the exact-hash join against the corpus. Rows the
    gate clears — the overwhelming majority of genuinely-new content,
    ~99% at these parameters — never shuffle against the standing
    corpus at all, which at 100 TB is the difference between a batch
    join and a corpus-scale join per ingest tick.

    The result is the gate's audited economics per batch source:
    rows, bloom suspects, confirmed duplicates, false positives
    (suspects that survived the exact join — the price of m), and
    rows that skipped the corpus join entirely. The hash family is
    the portable md5 ladder (sketch_bloom_det), so both engines build
    identical bit-sets and the fp rows are THE SAME rows; no false
    negatives means the oracle's simpler flat left join provably
    yields the same counts as the engine's suspects-only join.

    Plan: content reduces to 32-byte hashes at the scan (text never
    moves); bits = one distinct over ≤ k·|corpus| generated positions;
    probe = map-side broadcast join of the k-exploded batch, regrouped
    at hash grain (partial agg folds 4→1 before the exchange); the
    exact join touches only suspects. Production swaps the relational
    bit table for a scan-pushed native bloom (join_runtime_bloom_smj
    shows Spark's own); the relational rendition is what an oracle can
    check bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source",
        F.sha2(F.array_join(_toks(), " "), 256).alias("h"))
    corpus = (hashed.filter(F.col("source") == "src0")
              .select("h").distinct())
    bits = (corpus
            .select(F.explode(_ibloom_positions(F.col("h"))).alias("pos"))
            .distinct()
            .withColumn("hit", F.lit(1)))
    batch = hashed.filter(F.col("source") != "src0")
    probed = (
        batch
        .select("doc_id", "source", "h",
                F.explode(_ibloom_positions(F.col("h"))).alias("pos"))
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id", "source", "h")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit")))
    # materialize the hash-grain probe ONCE: the suspects/cleared
    # split below consumes it twice, and without the checkpoint each
    # branch re-runs the batch scan + probe (plan showed the subtree
    # duplicated). Hash-grain rows are 32-byte keys + counters —
    # exactly the scale of state a real gate materializes per tick.
    probed = probed.localCheckpoint(eager=True)
    suspects = (
        probed.filter(F.col("n_hit") == _IBLOOM_K)
        .join(corpus.withColumn("in_corpus", F.lit(True)), "h", "left")
        .select("source", F.lit(True).alias("bloom_pass"),
                F.coalesce(F.col("in_corpus"), F.lit(False))
                .alias("is_dup")))
    cleared = (
        probed.filter(F.col("n_hit") < _IBLOOM_K)
        .select("source", F.lit(False).alias("bloom_pass"),
                F.lit(False).alias("is_dup")))
    flagged = suspects.unionByName(cleared)
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint").alias("n_pass_bloom"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("bigint").alias("n_true_dup"),
        F.sum(F.when(F.col("bloom_pass") & ~F.col("is_dup"), 1)
              .otherwise(0)).cast("bigint").alias("n_false_pos"),
        F.sum(F.when(~F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint").alias("n_skip_corpus_join"),
    )


@register(
    "dedup_minhash_estimate",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' '
                                      || toks[i+2])) AS shingles
            FROM t),
        sig AS (
            SELECT doc_id, shingles,
                   list_min(list_transform(shingles, s -> md5('0|' || s))) AS h0,
                   list_min(list_transform(shingles, s -> md5('1|' || s))) AS h1,
                   list_min(list_transform(shingles, s -> md5('2|' || s))) AS h2,
                   list_min(list_transform(shingles, s -> md5('3|' || s))) AS h3,
                   list_min(list_transform(shingles, s -> md5('4|' || s))) AS h4,
                   list_min(list_transform(shingles, s -> md5('5|' || s))) AS h5,
                   list_min(list_transform(shingles, s -> md5('6|' || s))) AS h6,
                   list_min(list_transform(shingles, s -> md5('7|' || s))) AS h7
            FROM sh WHERE len(shingles) > 0),
        bands AS (
            SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS bkey FROM sig
            UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
            UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
            UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id)
        SELECT c.id_a, c.id_b,
               round(((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END)
                    + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
                    + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END)
                    + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
                    + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END)
                    + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
                    + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END)
                    + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END))
                    / 8.0, 6) AS est_jaccard,
               round(CAST(len(list_intersect(sa.shingles, sb.shingles))
                          AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_intersect(sa.shingles, sb.shingles))),
                     6) AS jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
    """,
    tags=("dedup", "minhash", "estimator"),
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash ESTIMATOR itself, oracle-checked: for every LSH
    candidate pair, the Jaccard estimate = fraction of agreeing
    signature components (E[agree] = J, the defining property) beside
    the EXACT Jaccard from the shingle sets. This is the query that
    justifies trusting signature agreement instead of set intersection
    at 100 TB — and because the hash family is the deterministic md5
    one, the estimate is engine-portable and the whole estimator is
    differential-tested, not just its plumbing (estimator quality is
    additionally pinned in tests/test_sketches.py).

    Plan shape inherits dedup_minhash_det (map-stage signatures, band
    self-join on 16-byte keys); the estimate needs no extra pass —
    signatures ride the candidate join — while the exact side joins
    the checkpointed shingle table for candidates ONLY (never all
    pairs), which is exactly the verify stage of the production LSH
    pipeline."""
    sh_tbl = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", shingles(_toks()).alias("sh"))
        .withColumn("n_sh", F.size("sh")).filter(F.col("n_sh") > 0)
        .localCheckpoint(eager=True)
    )

    def hash8(s):
        return F.array(*[F.md5(F.concat(F.lit(f"{i}|"), s))
                         for i in range(8)])

    sig_arr = F.aggregate(
        "sh", F.array(*[F.lit("g") for _ in range(8)]),
        lambda acc, s: F.zip_with(acc, hash8(s),
                                  lambda x, y: F.least(x, y)))
    sig = sh_tbl.select("doc_id", "sh", "n_sh", sig_arr.alias("sig")) \
        .localCheckpoint(eager=True)
    release(sh_tbl)  # the result reads only ``sig``
    h = [F.element_at("sig", i + 1) for i in range(8)]
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat(h[2 * b], F.lit("|"), h[2 * b + 1]))
                 .alias("bkey"))
        for b in range(4)
    ])
    bands = (sig.select("doc_id", F.explode(band_arr).alias("bs"))
             .select("doc_id", "bs.band", "bs.bkey"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bkey") == F.col("b.bkey"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b")).distinct())
    sa = sig.select(F.col("doc_id").alias("id_a"),
                    F.col("sig").alias("sig_a"),
                    F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"),
                    F.col("sig").alias("sig_b"),
                    F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b"))
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
        lambda v: v))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(agree / F.lit(8.0), 6).alias("est_jaccard"),
            F.round(inter.cast("double")
                    / (F.col("n_a") + F.col("n_b") - inter), 6)
            .alias("jaccard"),
        )
    )


#: repeated-span window width in tokens (ExactSubstr match length)
REPEAT_SPAN_K = 8


@register(
    "dedup_repeated_spans",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        w AS (
            SELECT doc_id, len(toks) AS n_toks,
                   list_transform(
                       range(1, greatest(len(toks) - {REPEAT_SPAN_K} + 2, 1)),
                       i -> struct_pack(
                           pos := i,
                           gram := array_to_string(
                               toks[i:i+{REPEAT_SPAN_K}-1], ' '))) AS wins
            FROM t),
        g AS (SELECT doc_id, n_toks, unnest(wins) AS u FROM w),
        g2 AS (SELECT doc_id, n_toks, u.pos AS pos, u.gram AS gram FROM g),
        d AS (SELECT doc_id, n_toks, pos,
                     count(*) OVER (PARTITION BY gram) > 1 AS dup
              FROM g2),
        p AS (SELECT doc_id, n_toks, pos, dup,
                     max(CASE WHEN dup THEN pos + {REPEAT_SPAN_K} END)
                         OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_end
              FROM d)
        SELECT doc_id,
               CAST(n_toks AS BIGINT) AS n_toks,
               count(*) AS n_windows,
               count(CASE WHEN dup THEN 1 END) AS n_dup_windows,
               CAST(coalesce(sum(CASE WHEN dup AND (prev_end IS NULL
                                                    OR pos > prev_end)
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_spans,
               CAST(coalesce(sum(CASE WHEN dup THEN greatest(
                                          pos + {REPEAT_SPAN_K}
                                          - greatest(pos,
                                                     coalesce(prev_end, 0)),
                                          0)
                                      ELSE 0 END), 0) AS BIGINT)
                   AS covered_tokens,
               round(CAST(coalesce(sum(CASE WHEN dup THEN greatest(
                                          pos + {REPEAT_SPAN_K}
                                          - greatest(pos,
                                                     coalesce(prev_end, 0)),
                                          0)
                                      ELSE 0 END), 0) AS DOUBLE)
                     / n_toks, 6) AS dup_coverage
        FROM p
        GROUP BY doc_id, n_toks
    """,
    tags=("dedup", "exact-substring", "spans", "memorization"),
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span coverage: for every document,
    the maximal spans of >= 8 consecutive tokens (REPEAT_SPAN_K) that appear
    verbatim anywhere else in the corpus (another doc OR another
    position of the same doc) — the span-level exact-substring dedup
    of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better"), re-expressed relationally. Where
    text_dup_ngram_coverage scores docs by SHARED-VOCABULARY fraction
    (distinct 3-shingles), this finds the literal copied REGIONS: a
    window of REPEAT_SPAN_K tokens is duplicated iff its exact token sequence
    occurs at more than one (doc, position) site; overlapping /
    adjacent duplicated windows then merge into maximal spans, whose
    union length is the doc's memorization-risk mass (the text a
    trainer would cut or down-weight).

    The suffix-array formulation the paper uses is a shared-memory
    algorithm; the relational rendition is two stacked windows over
    ONE scan:
      1. duplicate flag = ``count(*) over (partition by gram) > 1`` —
         the same single-scan window-df pattern as
         text_dup_ngram_coverage (no gram table join-back, no
         vocabulary-sized broadcast);
      2. per-doc interval union via running ``max(pos + K)`` over
         preceding DUP rows only (the CASE inside the window skips
         non-dup rows, so no pre-filter subsetting is needed): a
         window starts a new span when its pos clears every earlier
         span's end, and contributes ``end - max(pos, prev_end)``
         clamped at 0 — the classic sweep, per doc.
    Window grams build as zip_with over K shifted slices (the O(n)
    form — transform(sequence) re-evaluates the tokenizer per element
    when CollapseProject inlines it, the measured 47 s vs 3 s trap in
    :func:`shingles`), then posexplode keeps 1-based positions. The
    gram exchange partitions by the raw K-token string at fixture
    scale (so the DuckDB oracle covers the exchange key itself); at
    100 TB the key swaps to ``xxhash64(gram)`` — measured at sf0.1 the
    two are a wash (1.60 vs 1.69 s medians, identical output;
    BASELINE.md r7 A/B) because the local shuffle is not the
    bottleneck, but the 8-byte key is ~5x narrower than the ~45-byte
    gram string where cluster network is, and a 64-bit collision can
    only MERGE two counts upward, which cannot un-flag a true
    duplicate. The doc-side window and the final
    per-doc rollup share one hash partitioning on doc_id, so the
    whole operator is two exchanges end-to-end.

    Reference parity: the reference engine has no dedup at all (its
    564 LoC compute one word count, sendFileByFile.cpp:69-392); this
    operator is part of the SURVEY.md §2.3 training-pipeline tier.
    """
    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_coverage(docs, REPEAT_SPAN_K)


def doc_windows(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, n_toks, pos, gram) k-token window rows of a docs
    DataFrame — positions 1-based, grams from :func:`ngrams`."""
    toks = docs.select("doc_id", _toks().alias("toks"))
    return (
        toks.select(
            "doc_id", F.size("toks").cast("bigint").alias("n_toks"),
            F.posexplode(ngrams(F.col("toks"), k)).alias("pos0", "gram"))
        .select("doc_id", "n_toks", (F.col("pos0") + 1).alias("pos"),
                "gram"))


def span_union_per_doc(flagged: DataFrame, k: int,
                       flag_alias: str = "dup") -> DataFrame:
    """Per-doc maximal-span merge + interval union over flagged
    k-token window rows (doc_id, n_toks, pos, <flag>): the classic
    sweep as a running max(pos+k) over preceding FLAGGED rows (CASE
    inside the window — no pre-filter subsetting, so docs with zero
    flagged windows still emit a zero row). Shared by
    dedup_repeated_spans and contamination_span_coverage; the final
    rollup reuses the doc_id hash partitioning from the sweep window
    (no third exchange)."""
    from pyspark.sql import Window

    flag = F.col(flag_alias)
    w_doc = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, -1))
    prev_end = F.max(F.when(flag, F.col("pos") + k)).over(w_doc)
    swept = flagged.select(
        "doc_id", "n_toks", "pos", flag.alias("flag"),
        prev_end.alias("prev_end"))
    contrib = F.when(
        F.col("flag"),
        F.greatest(F.col("pos") + k
                   - F.greatest(F.col("pos"),
                                F.coalesce(F.col("prev_end"), F.lit(0))),
                   F.lit(0))).otherwise(F.lit(0))
    is_start = F.when(
        F.col("flag") & (F.col("prev_end").isNull()
                         | (F.col("pos") > F.col("prev_end"))),
        F.lit(1)).otherwise(F.lit(0))
    return (
        swept.groupBy("doc_id", "n_toks")
        .agg(F.count("*").alias("n_windows"),
             F.count_if(F.col("flag")).alias("n_flagged_windows"),
             F.sum(is_start).cast("bigint").alias("n_spans"),
             F.sum(contrib).cast("bigint").alias("covered_tokens"),
             F.round(F.sum(contrib).cast("double") / F.col("n_toks"), 6)
             .alias("coverage"))
    )


def repeated_span_coverage(docs: DataFrame, k: int) -> DataFrame:
    """Library form of :func:`dedup_repeated_spans` over any docs
    DataFrame with (doc_id, text) and a window width ``k`` —
    hypothesis-tested on adversarial corpora in
    tests/test_hypothesis_dedup.py."""
    from pyspark.sql import Window

    rows = doc_windows(docs, k)
    flagged = rows.select(
        "doc_id", "n_toks", "pos",
        (F.count("*").over(Window.partitionBy("gram")) > 1).alias("dup"))
    return (
        span_union_per_doc(flagged, k)
        .select("doc_id", "n_toks", "n_windows",
                F.col("n_flagged_windows").alias("n_dup_windows"),
                "n_spans", "covered_tokens",
                F.col("coverage").alias("dup_coverage"))
    )


#: exact-Jaccard threshold for the incremental near-dup gate
NEARDUP_GATE_J = 0.8


@register(
    "dedup_incremental_neardup",
    oracle=f"""
        WITH t AS ({_SQL_TOKS}),
        sh AS (
            SELECT t.doc_id, d.source,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' '
                                      || toks[i+2])) AS shingles
            FROM t JOIN documents d USING (doc_id)
            ),
        sig AS (
            SELECT doc_id, source, shingles,
                   list_min(list_transform(shingles, s -> md5('0|' || s))) AS h0,
                   list_min(list_transform(shingles, s -> md5('1|' || s))) AS h1,
                   list_min(list_transform(shingles, s -> md5('2|' || s))) AS h2,
                   list_min(list_transform(shingles, s -> md5('3|' || s))) AS h3,
                   list_min(list_transform(shingles, s -> md5('4|' || s))) AS h4,
                   list_min(list_transform(shingles, s -> md5('5|' || s))) AS h5,
                   list_min(list_transform(shingles, s -> md5('6|' || s))) AS h6,
                   list_min(list_transform(shingles, s -> md5('7|' || s))) AS h7
            FROM sh WHERE len(shingles) > 0
        ),
        bands AS (
            SELECT doc_id, source, 0 AS band, md5(h0 || '|' || h1) AS bkey FROM sig
            UNION ALL SELECT doc_id, source, 1, md5(h2 || '|' || h3) FROM sig
            UNION ALL SELECT doc_id, source, 2, md5(h4 || '|' || h5) FROM sig
            UNION ALL SELECT doc_id, source, 3, md5(h6 || '|' || h7) FROM sig
        ),
        cand AS (
            SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
            FROM bands n JOIN bands c
              ON n.band = c.band AND n.bkey = c.bkey
            WHERE n.source <> 'src0' AND c.source = 'src0'
        ),
        verified AS (
            SELECT cand.new_id, cand.corpus_id,
                   len(list_intersect(a.shingles, b.shingles)) * 1.0
                   / (len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles))) AS j
            FROM cand
            JOIN sig a ON cand.new_id = a.doc_id
            JOIN sig b ON cand.corpus_id = b.doc_id
        )
        SELECT new_id,
               count(*) AS n_band_matches,
               count(CASE WHEN j >= {NEARDUP_GATE_J} THEN 1 END)
                   AS n_verified,
               round(max(j), 6) AS best_jaccard
        FROM verified
        GROUP BY new_id
    """,
    tags=("dedup", "neardup", "incremental", "minhash"),
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup gate — the continuous-ingestion counterpart
    of dedup_incremental_batch's exact gate: each NEW document (source
    != 'src0') is checked against the STANDING corpus ('src0') for
    near-duplication, never corpus-vs-corpus. Band keys from the
    deterministic md5 MinHash family (shared pipeline:
    :func:`minhash_band_rows`) form the index; a new doc that shares
    >= 1 band with any corpus doc becomes a candidate, and candidates
    only are verified with exact shingle Jaccard against the
    {NEARDUP_GATE_J} gate. Output per flagged new doc: how many corpus
    docs its bands hit, how many survive exact verification, and the
    best exact Jaccard — the triage a crawl-ingest pipeline acts on
    (reject, or human-review the band-hit-but-under-threshold tail).

    Scale structure:
    - In production the corpus band index is MATERIALIZED (appended
      per batch, bucketed by (band, bkey)); here both sides derive
      from one fixture scan, split by source after the shared
      signature map stage — the join shape is identical.
    - The band join's exchange carries (band, 16-byte key, doc_id) —
      never text. Corpus docs that hit no new band keys never leave
      their partitions (and with a materialized bucketed index, are
      never even scanned beyond the bucket lookup).
    - The verify stage joins shingle sets for the candidate ids ONLY:
      the candidate id list is broadcast as a semi-join filter onto
      the (checkpointed) shingle table, so corpus-wide shingle data
      is reduced to candidates before the exact-Jaccard join — the
      same candidates-only discipline as dedup_minhash_estimate.

    Jaccard compares at the raw-double threshold on both engines —
    IEEE division is correctly rounded, so the gate decision is
    bit-identical (the sample_weighted_priority argument); only the
    reported best_jaccard rounds to 6 digits."""
    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_band_rows(
        docs, extra_cols=("source",)).localCheckpoint(eager=True)
    nb = (bands.filter(F.col("source") != "src0")
          .select(F.col("doc_id").alias("new_id"), "band", "bkey"))
    cb = (bands.filter(F.col("source") == "src0")
          .select(F.col("doc_id").alias("corpus_id"), "band", "bkey"))
    cand = (nb.join(cb, ["band", "bkey"])
            .select("new_id", "corpus_id").distinct()
            .localCheckpoint(eager=True))
    release(bands)  # the result reads only ``cand`` and ``sh_cand``
    # candidates-only shingle reduction: the tiny id list broadcasts
    # as a semi-join filter, so the corpus-wide tokenize→shingle scan
    # emits only candidate docs' sets before the Jaccard join
    ids = (cand.select(F.col("new_id").alias("doc_id"))
           .union(cand.select("corpus_id")).distinct())
    sh_cand = (
        docs.select("doc_id", shingles(_toks()).alias("sh"))
        .join(F.broadcast(ids), "doc_id", "semi")
        .withColumn("n_sh", F.size("sh"))
        .localCheckpoint(eager=True)
    )
    sa = sh_cand.select(F.col("doc_id").alias("new_id"),
                        F.col("sh").alias("sh_a"),
                        F.col("n_sh").alias("n_a"))
    sb = sh_cand.select(F.col("doc_id").alias("corpus_id"),
                        F.col("sh").alias("sh_b"),
                        F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    j = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(sa, "new_id").join(sb, "corpus_id")
        .select("new_id", j.alias("j"))
        .groupBy("new_id")
        .agg(F.count("*").alias("n_band_matches"),
             F.count_if(F.col("j") >= NEARDUP_GATE_J).alias("n_verified"),
             F.round(F.max("j"), 6).alias("best_jaccard"))
    )


@register(
    "dedup_url_canonical",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW'
                        ELSE 'https://www' END
                   || '.Example.COM/d/' || CAST(doc_id // 21 AS VARCHAR)
                   || '/' || CASE WHEN doc_id % 3 = 0
                             THEN '?utm_source=feed&utm_campaign=x'
                             ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END
                       AS raw_url
            FROM documents),
        canon AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(raw_url),
                                          '#.*$', ''),
                           '\\?utm_[^#]*$', ''),
                       '/+$', '') AS curl
            FROM u)
        SELECT curl, min(doc_id) AS survivor_id, count(*) AS n_copies
        FROM canon GROUP BY curl
        HAVING count(*) > 1
    """,
    tags=("dedup", "url", "canonicalization", "web"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-pipeline step BEFORE any
    content hashing: the same page arrives under scheme/host case
    variants, tracking parameters (utm_*), fragments, and trailing
    slashes, and canonicalizing the URL collapses them without
    touching a byte of content. The fixture synthesizes exactly those
    messes deterministically (scheme/host case flip by parity, utm
    block every 3rd doc, fragment every 5th, shared path per 21 ids —
    one mess of each kind inside every dup group), so every
    canonicalization rule is exercised and the dup groups are
    non-vacuous by construction. Canonical form: lowercase, strip
    fragment, strip trailing utm query, strip trailing slashes.
    Survivor = min doc_id per canonical URL (the dedup_exact
    decision rule); only actual dup groups emit.

    Scale: canonicalization is a pure codegen'd regex map stage; the
    only shuffle is the groupBy on the canonical URL string (at crawl
    scale: on xxhash64(curl), the contamination_5gram key trick). A
    production deployment extends the rule list (punycode, default
    ports, sorted query params) in the same map stage."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("HTTPS://WWW")).otherwise(F.lit("https://www")),
        F.lit(".Example.COM/d/"),
        F.floor(F.col("doc_id") / 21).cast("string"), F.lit("/"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("?utm_source=feed&utm_campaign=x")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), "#.*$", ""),
            r"\?utm_[^#]*$", ""),
        "/+$", "")
    return (
        docs.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(F.min("doc_id").alias("survivor_id"),
             F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


#: paragraph grain for sub-document exact dedup: this many tokens
PARA_LEN = 16


@register(
    "dedup_paragraph_exact",
    oracle=f"""
        WITH t AS ({{_SQL_TOKS}}),
        paras AS (
            -- index range unnested first, slice at SELECT level:
            -- DuckDB 1.0.0's binder loses the lateral column when a
            -- lambda body passes it to a FUNCTION alongside
            -- struct_pack (array indexing toks[i] binds; list_slice
            -- does not) — lambda-free form sidesteps the quirk
            SELECT doc_id, u.i AS para_idx,
                   array_to_string(
                       list_slice(toks, u.i * {PARA_LEN} + 1,
                                  u.i * {PARA_LEN} + {PARA_LEN}),
                       ' ') AS para
            FROM t, unnest(range(CAST(ceil(len(toks) / {PARA_LEN}.0)
                                      AS INT))) AS u(i)),
        marked AS (
            SELECT doc_id, para,
                   len(string_split(para, ' ')) AS n_toks,
                   row_number() OVER (PARTITION BY para
                                      ORDER BY doc_id, para_idx) AS rn
            FROM paras)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               round(CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END)
                          AS DOUBLE) / sum(n_toks), 6)
                   AS retained_token_ratio
        FROM marked GROUP BY doc_id
    """.format(_SQL_TOKS=_SQL_TOKS),
    tags=("dedup", "paragraph", "exact"),
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup at PARAGRAPH grain, keep-first — the
    MassiveText / RefinedWeb practice that document-level dedup
    misses: two distinct pages sharing a quoted passage keep one copy
    of the passage corpus-wide. The fixture text has no newlines, so
    paragraphs are deterministic 16-token (PARA_LEN) non-overlapping
    slices; the first GLOBAL occurrence of each exact paragraph
    string (ordered by doc_id, then position) survives, every later
    instance is dropped, and the per-doc report gives the retention
    the packing stage would see. Complements dedup_repeated_spans
    (ExactSubstr interval-union mass, window-grain) with the cheaper
    fixed-grain keep-first decision production crawls run first.

    Plan: the paragraph stream is a pure map stage (sequence + slice
    + array_join, no UDF); ONE paragraph-grain exchange assigns the
    global first-occurrence rank (window over the paragraph string —
    partitions are dup-group-sized, tie-break (doc_id, para_idx) is
    total), and the doc-grain rollup is the second exchange. At
    100 TB the shuffle key becomes xxhash64(para) (collision =
    over-drop, the documented exact-dedup trade (dedup_exact)); the
    ratio is a double division of two exact BIGINT sums — bit-stable
    under any partition order."""
    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup_report(docs, PARA_LEN)


def paragraph_dedup_report(docs: DataFrame, para_len: int) -> DataFrame:
    """Library form of the paragraph-grain keep-first report over any
    ``(doc_id, text)`` frame: slice canonical tokens into
    non-overlapping ``para_len``-token paragraphs, keep the globally
    FIRST occurrence of each exact paragraph string (ordered by
    (doc_id, para_idx) — so a within-doc repeat keeps only its
    earliest position), and report per doc. The structure-free
    hypothesis differential (tests/test_hypothesis_dedup.py) drives
    this on adversarial corpora — fully-duplicated docs, within-doc
    repeats, single-paragraph docs — that the fixture can't produce."""
    # Guard the zero-token doc: Spark's sequence(0, -1) generates the
    # DESCENDING [0, -1] (it supports reverse ranges), which would
    # manufacture two phantom paragraphs where DuckDB's range(0) is
    # empty — caught by the hypothesis differential, invisible on the
    # fixture corpus (no empty docs).
    slices = F.expr(
        f"transform(sequence(0, cast(ceil(size(toks) / "
        f"{para_len}.0) as int) - 1), i -> struct("
        f"i as para_idx, array_join(slice(toks, i * {para_len} + 1, "
        f"{para_len}), ' ') as para))")
    empty = F.expr(
        "cast(array() as array<struct<para_idx:int, para:string>>)")
    paras = docs.select(
        "doc_id", _toks().alias("toks")).select(
        "doc_id",
        F.explode(F.when(F.size("toks") > 0, slices).otherwise(empty))
        .alias("s"),
    ).select("doc_id", F.col("s.para_idx").alias("para_idx"),
             F.col("s.para").alias("para"))
    w = Window.partitionBy("para").orderBy("doc_id", "para_idx")
    marked = paras.select(
        "doc_id", "para",
        F.size(F.split("para", " ")).alias("n_toks"),
        F.row_number().over(w).alias("rn"))
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint").alias("n_dropped"),
        F.round(
            F.sum(F.when(F.col("rn") == 1, F.col("n_toks")).otherwise(0))
            .cast("double") / F.sum("n_toks"), 6)
        .alias("retained_token_ratio"),
    )


#: content-defined chunking geometry: rolling window width (chars),
#: cut mask modulus (expected chunk length ≈ CDC_MOD chars)
CDC_WIN = 8
CDC_MOD = 32


@register(
    "dedup_cdc_chunking",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, source, text, length(text) AS len
            FROM documents),
        pos AS (
            SELECT doc_id, source, text, len,
                   unnest(range({CDC_WIN}, len + 1)) AS p
            FROM docs WHERE len >= {CDC_WIN}),
        cuts AS (
            SELECT doc_id, source, text, len, p
            FROM pos
            WHERE CAST(('0x' || substr(md5(substr(text, p - {CDC_WIN - 1},
                                                  {CDC_WIN})), 1, 8))
                       AS UBIGINT) % {CDC_MOD} = 0),
        spans AS (
            SELECT doc_id, source, text,
                   coalesce(lag(p) OVER (PARTITION BY doc_id
                                         ORDER BY p) + 1, 1) AS s,
                   p AS e
            FROM cuts
            UNION ALL
            SELECT d.doc_id, d.source, d.text,
                   coalesce(c.last_cut + 1, 1) AS s,
                   d.len AS e
            FROM docs d
            LEFT JOIN (SELECT doc_id, max(p) AS last_cut
                       FROM cuts GROUP BY doc_id) c
                   ON d.doc_id = c.doc_id
            WHERE d.len >= coalesce(c.last_cut + 1, 1)),
        chunks AS (
            SELECT source,
                   md5(substr(text, s, e - s + 1)) AS digest,
                   e - s + 1 AS clen
            FROM spans)
        SELECT source,
               count(*) AS n_chunks,
               count(DISTINCT digest) AS n_distinct,
               round(1.0 - CAST(count(DISTINCT digest) AS DOUBLE)
                     / count(*), 6) AS dedup_ratio,
               round(CAST(sum(clen) AS DOUBLE) / count(*), 6)
                   AS avg_chunk_len
        FROM chunks
        GROUP BY source
    """,
    tags=("dedup", "cdc", "chunking", "storage"),
)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Rabin/FastCDC family — the algorithm
    under every dedup store and chunk-level data-lake cache): cut each
    document wherever the rolling 8-char window's hash satisfies
    ``h % 32 == 0``, so boundaries follow CONTENT — insert one word
    and only the chunks around the edit change, where fixed-grid
    chunking (mm_chunk_dedup_ratio) re-digests everything downstream
    of the shift. Emits per-source chunk counts, distinct digests,
    dedup ratio and mean chunk length (≈ the 32-char mask modulus).
    No min/max chunk bounds on purpose: bounds make each cut depend
    on the previous one (sequential state); the pure-mask rule keeps
    every position's verdict INDEPENDENT, which is what lets the whole
    thing stay relational.

    Plan shape: positions explode off the document scan and the window
    hash + mask test happen IN the same codegen stage (text never
    shuffles with the fan-out — only (doc_id, cut_pos) survivors
    leave); chunk spans come from one lag window over the cut list
    (plus the per-doc tail span via a broadcast-sized max-cut join);
    chunk text is re-sliced by ONE doc_id equi-join back to the
    document table, and the rollup is |sources| rows. The md5 window
    hash stands in for the cheap Rabin/Gear rolling polynomial a
    native deployment would use — same cut semantics, engine-portable
    (the dedup_repeated_spans precedent: swap to xxhash64 at crawl
    scale, collisions only merge chunks, never corrupt them)."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "text",
                    F.length("text").alias("len")))
    pos = (docs.filter(F.col("len") >= CDC_WIN)
           .select("doc_id", "source", "text", "len",
                   F.explode(F.sequence(F.lit(CDC_WIN), F.col("len")))
                   .alias("p")))
    win_hash = F.conv(
        F.substring(F.md5(F.expr(
            f"substring(text, p - {CDC_WIN - 1}, {CDC_WIN})")), 1, 8),
        16, 10).cast("long")
    cuts = (pos.filter(win_hash % CDC_MOD == 0)
            .select("doc_id", "p")
            .localCheckpoint())  # 2 consumers: spans + per-doc max
    w_lag = Window.partitionBy("doc_id").orderBy("p")
    spans_mid = cuts.select(
        "doc_id",
        (F.coalesce(F.lag("p").over(w_lag), F.lit(0)) + 1).alias("s"),
        F.col("p").alias("e"))
    last = cuts.groupBy("doc_id").agg(F.max("p").alias("last_cut"))
    spans_tail = (
        docs.join(last, "doc_id", "left")
        .select("doc_id",
                (F.coalesce(F.col("last_cut"), F.lit(0)) + 1).alias("s"),
                F.col("len").alias("e"))
        .filter(F.col("e") >= F.col("s")))
    spans = spans_mid.unionByName(spans_tail)
    chunks = (
        spans.join(docs.select("doc_id", "source", "text"), "doc_id")
        .select("source",
                F.md5(F.expr("substring(text, s, e - s + 1)"))
                .alias("digest"),
                (F.col("e") - F.col("s") + 1).alias("clen")))
    return chunks.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("digest").alias("n_distinct"),
        F.round(F.lit(1.0) - F.countDistinct("digest").cast("double")
                / F.count("*"), 6).alias("dedup_ratio"),
        F.round(F.sum("clen").cast("double") / F.count("*"), 6)
        .alias("avg_chunk_len"))
