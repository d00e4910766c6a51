"""Sketch operators (SURVEY.md §2.2 "Approximate / sketches" — the
bounded-memory summaries 100 TB cardinality/frequency work requires).

- **HLL** (DataSketches ``hll_sketch_agg``): mergeable distinct-count
  sketches — build per group, union across groups, constant memory.
- **Count-Min** (``count_min_sketch``): frequency estimates with
  one-sided error (never undercounts).
- **Bloom filter** (``df.stat.bloomFilter`` would be driver-side; the
  distributed idiom shown here is a broadcast semi-join against a
  small key set — the engine-level use of a membership filter).

Sketch binaries are engine-specific, so these register rows-only (or
as derived estimates); tests/test_sketches.py bounds the estimation
error against exact answers — the meaningful check for a sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.text import tokenize_canonical
from mapreducewordcounting_spark.registry import register


@register(
    "sketch_hll_union",
    oracle=None,  # sketch estimate; error bounded in tests vs exact
    tags=("sketch", "hll", "approx"),
)
def sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL: per-language vocabulary sketches, then a union
    sketch for the corpus-wide estimate — the two-level pattern that
    lets 1000 executors each summarize locally and merge 1 KB blobs
    instead of re-shuffling raw words."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select("lang", F.explode(tokenize_canonical("text")).alias("word"))
        .filter(F.length("word") > 0)
    )
    per_lang = words.groupBy("lang").agg(
        F.hll_sketch_agg("word", 12).alias("sketch"))
    merged = per_lang.agg(
        F.hll_union_agg("sketch").alias("sketch"))
    return (
        per_lang.select("lang",
                        F.hll_sketch_estimate("sketch").alias("est_vocab"))
        .unionByName(
            merged.select(F.lit("__all__").alias("lang"),
                          F.hll_sketch_estimate("sketch").alias("est_vocab")))
    )


@register(
    "sketch_count_min",
    oracle=None,  # CMS estimates; one-sided error bounded in tests
    tags=("sketch", "count-min", "approx"),
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over the word stream, then point
    queries for a BOUNDED probe set (top-100 words via TakeOrdered).
    The sketch is one aggregate blob (eps=0.1%, conf=99%) — frequency
    tracking without a groupBy. Driver state is the sketch bytes plus
    100 probes, both O(1) in corpus size: a CMS answers point queries
    for keys you already hold — enumerating the full vocabulary as the
    query set (the previous form) is unbounded driver state at 100 TB,
    and a job that wants every word's count should pay the exact
    groupBy instead."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize_canonical("text")).alias("word"))
        .filter(F.length("word") > 0)
    )
    cms_df = words.agg(
        F.count_min_sketch("word", F.lit(0.001), F.lit(0.99), F.lit(42))
        .alias("cms"))
    cms_bytes = bytes(cms_df.collect()[0].cms)

    # deserialize once on the driver, point-query the distinct words
    sc = spark.sparkContext
    jcms = sc._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        sc._jvm.java.io.ByteArrayInputStream(cms_bytes))
    probes = (
        words.groupBy("word").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word").limit(100)   # TakeOrdered — bounded
    )
    vocab = [r.word for r in probes.collect()]
    est = [(w, int(jcms.estimateCount(w))) for w in sorted(vocab)]
    return spark.createDataFrame(est, "word STRING, est_count LONG")


@register(
    "sketch_bloom_semijoin",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9500)
        GROUP BY o_orderpriority
    """,
    tags=("sketch", "bloom", "semi-join"),
)
def sketch_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-filter semi-join: restrict a fact scan to keys from a
    small filtered dimension. Expressed as leftsemi (exact; Spark
    injects runtime bloom/DPP filters for exactly this shape — the
    sketch lives inside the engine), so it is oracle-checkable while
    exercising the membership-pruning plan."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9500)
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Deterministic Count-Min (oracle-checked twin of sketch_count_min)
# ---------------------------------------------------------------------------

_CMS_D = 4       # hash rows
_CMS_W = 8192    # counters per row

_CMS_TOKS = """
    SELECT list_filter(
               list_transform(regexp_split_to_array(lower(text), '[\\s\\v]+'),
                              t -> regexp_replace(t, '[^a-z'']', '', 'g')),
               w -> length(w) > 0) AS toks
    FROM documents
"""


def _cms_bucket_sql(word_expr: str, i_expr: str) -> str:
    return (f"CAST(CAST(('0x' || substr(md5(CAST({i_expr} AS VARCHAR) "
            f"|| '|' || {word_expr}), 1, 8)) AS UBIGINT) % {_CMS_W} "
            f"AS BIGINT)")


@register(
    "sketch_count_min_det",
    # Engine-portable CMS: hash row i maps word → first-32-md5-bits
    # mod W. Every stage — sketch build, probe selection, point
    # queries — is relational, so the WHOLE sketch is oracle-checked
    # (the built-in count_min_sketch's murmur family is engine-private
    # → rows-only). Same pattern as dedup_minhash_det/simhash_det.
    oracle=f"""
        WITH t AS ({_CMS_TOKS}),
        words AS (SELECT unnest(toks) AS word FROM t),
        keyed AS (
            SELECT word, r.i,
                   {_cms_bucket_sql('word', 'r.i')} AS bucket
            FROM words, range({_CMS_D}) r(i)),
        sketch AS (
            SELECT i, bucket, count(*) AS c
            FROM keyed GROUP BY i, bucket),
        probes AS (
            SELECT word, count(*) AS cnt
            FROM words GROUP BY word
            ORDER BY cnt DESC, word LIMIT 100),
        probe_keys AS (
            SELECT p.word, p.cnt, r.i,
                   {_cms_bucket_sql('p.word', 'r.i')} AS bucket
            FROM probes p, range({_CMS_D}) r(i))
        SELECT p.word,
               max(p.cnt) AS exact_count,
               min(s.c)   AS est_count
        FROM probe_keys p
        JOIN sketch s ON p.i = s.i AND p.bucket = s.bucket
        GROUP BY p.word
    """,
    tags=("sketch", "count-min", "deterministic"),
)
def sketch_count_min_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch with a DETERMINISTIC md5 hash family, built
    and queried entirely relationally — no driver-side deserialization,
    no engine-private hashing:

    - **build**: each token fans out to d=4 (row, bucket) keys (one
      generated array, one explode); the sketch IS the d×w counter
      relation ``groupBy(row, bucket).count()`` — ≤ 32k rows total
      regardless of corpus size, with full map-side partial
      aggregation. Sharded sketches merge by summing counters — the
      same algebraic-state merge as mv_incremental_refresh, which is
      what makes CMS executor-local at 1000 executors.
    - **probe**: the bounded top-100 probe set computes its 4 keys and
      broadcast-joins the counter relation; estimate = min over rows.
      One-sided error by construction (est ≥ exact — collisions only
      ever ADD), verified row-by-row against the exact counts carried
      alongside.

    Width 8192 ≫ heavy-hitter count, so top-100 estimates are near
    exact at fixture scale while light-tail collisions still exercise
    the min-over-rows bound."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize_canonical("text")).alias("word"))
        .filter(F.length("word") > 0)
    )

    def bucket(word_col):
        return [
            F.struct(
                F.lit(i).alias("i"),
                (F.conv(F.substring(
                    F.md5(F.concat(F.lit(f"{i}|"), word_col)), 1, 8),
                    16, 10).cast("long") % _CMS_W).alias("bucket"),
            )
            for i in range(_CMS_D)
        ]

    sketch = (
        words.select(F.explode(F.array(*bucket(F.col("word")))).alias("k"))
        .groupBy(F.col("k.i").alias("i"), F.col("k.bucket").alias("bucket"))
        .agg(F.count("*").alias("c"))
    )
    probes = (
        words.groupBy("word").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word").limit(100)
    )
    probe_keys = probes.select(
        "word", "cnt", F.explode(F.array(*bucket(F.col("word")))).alias("k")
    ).select("word", "cnt", F.col("k.i").alias("i"),
             F.col("k.bucket").alias("bucket"))
    return (
        probe_keys.join(sketch, ["i", "bucket"])
        .groupBy("word")
        .agg(F.max("cnt").alias("exact_count"),
             F.min("c").alias("est_count"))
    )


# ---------------------------------------------------------------------------
# Deterministic Bloom filter (oracle-checked twin of sketch_bloom_semijoin)
# ---------------------------------------------------------------------------

_BLOOM_K = 4      # hash functions
_BLOOM_M = 2048   # bit-space size — deliberately undersized (see doc)


def _bloom_pos_sql(key_expr: str, i_expr: str) -> str:
    return (f"CAST(CAST(('0x' || substr(md5(CAST({i_expr} AS VARCHAR) "
            f"|| '|' || CAST({key_expr} AS VARCHAR)), 1, 8)) AS UBIGINT) "
            f"% {_BLOOM_M} AS BIGINT)")


@register(
    "sketch_bloom_det",
    oracle=f"""
        WITH keys AS (
            SELECT c_custkey FROM customer WHERE c_acctbal > 9500),
        bits AS (
            SELECT DISTINCT {_bloom_pos_sql('c_custkey', 'r.i')} AS pos
            FROM keys, range({_BLOOM_K}) r(i)),
        probe AS (
            SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, r.i,
                   {_bloom_pos_sql('o.o_custkey', 'r.i')} AS pos
            FROM orders o, range({_BLOOM_K}) r(i)),
        passed AS (
            SELECT p.o_orderkey, p.o_custkey, p.o_orderpriority
            FROM probe p JOIN bits b ON p.pos = b.pos
            GROUP BY p.o_orderkey, p.o_custkey, p.o_orderpriority
            HAVING count(*) = {_BLOOM_K})
        SELECT pa.o_orderpriority,
               count(*) AS n_approx,
               count(*) FILTER (WHERE k.c_custkey IS NOT NULL) AS n_exact,
               count(*) FILTER (WHERE k.c_custkey IS NULL)
                   AS n_false_positives
        FROM passed pa LEFT JOIN keys k ON pa.o_custkey = k.c_custkey
        GROUP BY pa.o_orderpriority
    """,
    tags=("sketch", "bloom", "deterministic"),
)
def sketch_bloom_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join with a DETERMINISTIC md5 hash family,
    built and probed relationally — completing the portable-sketch
    set (dedup_minhash_det / dedup_simhash_det / sketch_count_min_det):

    - **build**: each dim key sets k=4 bit positions; the filter IS
      the distinct-position relation (≤ k·|keys| rows, ≤ m total) —
      broadcastable state, mergeable by plain union, same role as the
      engine-internal runtime bloom in a real deployment.
    - **probe**: each fact row derives its 4 positions (one generated
      array + explode, map-side); membership = all 4 found in the
      broadcast bit table (count == k after the position join — a
      key whose hashes collide internally still matches all its
      exploded rows, so the count stays exact).
    - **false positives are part of the contract**, not noise: m=2048
      is deliberately undersized so the fp path is EXERCISED, and the
      result carries n_approx / n_exact / n_false_positives per group
      (the fp rows are identical in both engines because the hash
      family is). Measured fp = 0 / 0 / 43 404 across
      sf0.001/0.01/0.1: well-sized at the small tiers, saturated at
      sf0.1 — both regimes oracle-matched, and the one-sided
      guarantee (n_approx ≥ n_exact, no false negatives) is pinned in
      every one. Production sizing: m ≈ 1.44·k·|keys| per point of
      fp-rate; the reference has no membership structure at all.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    keys = c.filter(F.col("c_acctbal") > 9500).select("c_custkey")

    def positions(key_col):
        return F.array(*[
            (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{i}|"), key_col.cast("string"))),
                1, 8), 16, 10).cast("long") % _BLOOM_M)
            for i in range(_BLOOM_K)
        ])

    bits = (
        keys.select(F.explode(positions(F.col("c_custkey"))).alias("pos"))
        .distinct()
    )
    probe = o.select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        F.explode(positions(F.col("o_custkey"))).alias("pos"))
    passed = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("o_orderkey", "o_custkey", "o_orderpriority")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == _BLOOM_K)
    )
    return (
        passed.join(F.broadcast(keys),
                    passed.o_custkey == keys.c_custkey, "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_approx"),
            F.count("c_custkey").alias("n_exact"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
             .alias("n_false_positives"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (oracle-checked twin of sketch_hll_union)
# ---------------------------------------------------------------------------

_HLL_B = 10               # bucket bits
_HLL_M = 1 << _HLL_B      # 1024 registers
_HLL_REM = 32 - _HLL_B    # remainder bits
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)  # standard alpha_m, m >= 128


@register(
    "sketch_hll_det",
    # Engine-portable HLL: 32-bit md5 prefix → (bucket, leading-zero
    # rank via bin()-length — identical string semantics in both
    # engines, no libm in the register path). The harmonic sum is
    # EXACT float arithmetic despite running under arbitrary partition
    # order: every term 2^-mx is a dyadic rational on the common
    # denominator 2^(rem+1) and the total stays far below 2^53, so
    # addition is associative here and the two engines cannot diverge.
    # The only transcendental (ln, linear-counting branch) matched at
    # 6 digits across libms everywhere it was probed (fn_trig's
    # established parity).
    oracle=f"""
        WITH hashed AS (
            SELECT o_orderpriority AS grp,
                   CAST(CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                             1, 8)) AS UBIGINT) AS BIGINT)
                       AS h
            FROM orders),
        slots AS (
            SELECT grp, h >> {_HLL_REM} AS bucket,
                   CASE WHEN (h & {(1 << _HLL_REM) - 1}) = 0
                        THEN {_HLL_REM + 1}
                        ELSE {_HLL_REM}
                             - length(bin(h & {(1 << _HLL_REM) - 1})) + 1
                   END AS rho
            FROM hashed),
        regs AS (
            SELECT grp, bucket, max(rho) AS mx
            FROM slots GROUP BY grp, bucket),
        all_regs AS (
            SELECT grp, bucket, mx FROM regs
            UNION ALL
            SELECT '__all__' AS grp, bucket, max(mx) AS mx
            FROM regs GROUP BY bucket),
        est AS (
            SELECT grp, count(*) AS v_full,
                   sum(power(2.0, -mx)) + ({_HLL_M} - count(*)) AS harm
            FROM all_regs GROUP BY grp)
        SELECT grp,
               round(CASE WHEN CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M}
                               * {_HLL_M} / harm <= 2.5 * {_HLL_M}
                           AND v_full < {_HLL_M}
                          THEN {_HLL_M} * ln({_HLL_M} /
                               CAST({_HLL_M} - v_full AS DOUBLE))
                          ELSE CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M}
                               * {_HLL_M} / harm END, 6) AS est_customers
        FROM est
    """,
    tags=("sketch", "hll", "deterministic"),
)
def sketch_hll_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with a DETERMINISTIC md5 hash family, built, UNIONED
    and estimated entirely relationally — the last engine-private
    approximate structure (DataSketches HLL) gets its portable twin,
    closing the set (minhash / simhash / count-min / bloom / hll):

    - **registers ARE a relation**: (group, bucket, max-rank), ≤ m rows
      per group, built by one partial/final max-aggregate — the sketch
      never exists as a blob, so no driver round-trip and no
      engine-private serialization anywhere.
    - **union is elementwise register max** — one more groupBy over the
      same relation yields the '__all__' merged sketch (the HLL
      mergeability law, stated as SQL), exactly how 1000 executors'
      shard sketches combine without re-shuffling raw keys.
    - **estimation is order-independent float math**: the harmonic sum's
      terms are dyadic rationals on one denominator (exact addition at
      any partition order); the leading-zero rank comes from bin()
      string length, not log2 (whose libm rounding differs per engine).
      Both the raw-HLL and linear-counting branches are exercised and
      oracle-matched across tiers (per-priority customers sit in the
      linear regime at sf0.001, the '__all__' union crosses into the
      raw regime as SF grows).

    Estimates distinct customers per order priority + overall (the
    5-way union), vs ~1.04/√1024 ≈ 3% expected HLL error."""
    o = load_table(spark, sf_dir, "orders")
    h = F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
               16, 10).cast("long")
    rem = h.bitwiseAND(F.lit((1 << _HLL_REM) - 1))
    slots = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.shiftright(h, _HLL_REM).alias("bucket"),
        F.when(rem == 0, F.lit(_HLL_REM + 1))
         .otherwise(F.lit(_HLL_REM) - F.length(F.bin(rem)) + 1).alias("rho"))
    regs = slots.groupBy("grp", "bucket").agg(F.max("rho").alias("mx"))
    union_regs = (regs.groupBy("bucket").agg(F.max("mx").alias("mx"))
                  .select(F.lit("__all__").alias("grp"), "bucket", "mx"))
    all_regs = regs.unionByName(union_regs)
    est = all_regs.groupBy("grp").agg(
        F.count("*").alias("v_full"),
        (F.sum(F.pow(F.lit(2.0), -F.col("mx")))
         + (_HLL_M - F.count("*"))).alias("harm"))
    raw = _HLL_ALPHA * _HLL_M * _HLL_M / F.col("harm")
    return est.select(
        "grp",
        F.round(
            F.when((raw <= 2.5 * _HLL_M) & (F.col("v_full") < _HLL_M),
                   _HLL_M * F.log(
                       _HLL_M / (_HLL_M - F.col("v_full")).cast("double")))
            .otherwise(raw), 6).alias("est_customers"))


@register(
    "agg_bitmap_distinct",
    # independent oracle: DuckDB's native count(DISTINCT) vs Spark's
    # bitmap-aggregate machinery — the point IS that they agree
    oracle="""
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_customers
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("sketch", "bitmap", "distinct", "aggregation"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmap aggregates
    (Spark 3.5 ``bitmap_*`` family) — the warehouse trick that beats
    count(DISTINCT)'s per-group value buffering: keys bucket into
    32k-bit ranges (``bitmap_bucket_number``), each (group, bucket)
    aggregates a fixed-width bitmap map-side (combinable — unlike a
    distinct-value set, two bitmaps merge with OR in O(width)), and
    the per-group distinct count is the SUM of per-bucket popcounts,
    since buckets partition the key domain. Keys shift by +1 because
    bit positions are 1-based (position 0 is silently dropped — the
    probe that motivated this docstring). The oracle is DuckDB's
    native count(DISTINCT): two entirely different distinct-count
    machineries must agree exactly.

    Scale: the (group, bucket) pre-aggregate is the only data-scale
    exchange and it map-side combines to fixed-width bitmaps; the
    final per-group sum is |groups|x|buckets| rows. This is the
    materializable form — per-bucket bitmaps persist and merge
    incrementally, which count(DISTINCT) cannot."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", (F.col("o_custkey") + 1).alias("k"))
    per_bucket = (
        o.groupBy("o_orderpriority",
                  F.bitmap_bucket_number("k").alias("bucket"))
        .agg(F.bitmap_count(
            F.bitmap_construct_agg(F.bitmap_bit_position("k")))
            .alias("cnt"))
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("n_customers"))
