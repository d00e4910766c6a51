"""Data-profiling operators — the ANALYZE/statistics surface.

The reference has no notion of data statistics (its only metadata is
the file listing, sendFileByFile.cpp:422-444). An engine serving a
100 TB corpus needs first-class profiling: per-column null/distinct/
range stats (feeding CBO-style decisions and data-quality gates) and
value histograms (skew diagnosis — the reference's own reducer hash
was measurably skewed, SURVEY.md §4.2, and a histogram is how you see
that before it burns a job).

Both operators are single-pass over the fact table: the profile is one
wide aggregate unpivoted to long form; the histogram groups on a
codegen'd bucket expression. No sorts, no self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.numeric import money
from mapreducewordcounting_spark.registry import register

#: numeric lineitem columns profiled (name → column)
_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


@register(
    "profile_lineitem",
    oracle="""
        WITH agg AS (
            SELECT count(*) AS n_rows,
                   count(l_quantity) AS nn_q,
                   count(DISTINCT l_quantity) AS nd_q,
                   min(l_quantity) AS mn_q, max(l_quantity) AS mx_q,
                   count(l_extendedprice) AS nn_p,
                   count(DISTINCT l_extendedprice) AS nd_p,
                   min(l_extendedprice) AS mn_p, max(l_extendedprice) AS mx_p,
                   count(l_discount) AS nn_d,
                   count(DISTINCT l_discount) AS nd_d,
                   min(l_discount) AS mn_d, max(l_discount) AS mx_d
            FROM lineitem)
        SELECT 'l_quantity' AS col_name, n_rows,
               n_rows - nn_q AS n_nulls, nd_q AS n_distinct,
               mn_q AS min_val, mx_q AS max_val FROM agg
        UNION ALL
        SELECT 'l_extendedprice', n_rows, n_rows - nn_p, nd_p, mn_p, mx_p
        FROM agg
        UNION ALL
        SELECT 'l_discount', n_rows, n_rows - nn_d, nd_d, mn_d, mx_d
        FROM agg
    """,
    tags=("profiling", "statistics"),
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile (rows, nulls, distinct, min, max) in
    long form — ANALYZE TABLE as a query. All metrics for all columns
    come from a single wide aggregate (one scan); the per-column rows
    are an unpivot of that 1-row result, not extra passes.

    Scale note: the exact multi-column count(DISTINCT) expands the
    input ×k before the shuffle (Spark's Expand); at 100 TB swap in
    ``approx_count_distinct`` per column — same single-pass shape, no
    expand — which is why the sketch variants sit beside every exact
    cardinality operator in this engine (README scale posture)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.count_distinct(c).alias(f"nd_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    wide = li.agg(*aggs)
    stacked = wide.select(
        "n_rows",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_val"),
                F.col(f"mx_{c}").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ])).alias("m"),
    )
    return stacked.select(
        "m.col_name", "n_rows", "m.n_nulls", "m.n_distinct",
        "m.min_val", "m.max_val")


#: histogram bounds for o_totalprice (fixture range ⊂ [0, 600000))
_HIST_LO, _HIST_HI, _HIST_N = 0.0, 600000.0, 12


@register(
    "agg_histogram_prices",
    oracle=f"""
        SELECT CAST(CASE WHEN o_totalprice < {_HIST_LO} THEN 0
                         WHEN o_totalprice >= {_HIST_HI} THEN {_HIST_N} + 1
                         ELSE floor((o_totalprice - {_HIST_LO})
                                / (({_HIST_HI} - {_HIST_LO}) / {_HIST_N})) + 1
                    END AS BIGINT) AS bucket,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY 1
    """,
    tags=("profiling", "histogram", "width_bucket"),
)
def agg_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram via ``width_bucket`` — the skew
    diagnostic (bucket counts ARE the key-distribution picture that
    predicts shuffle hot spots). One hash aggregate on a codegen'd
    bucket id; 14 output rows regardless of input size. The oracle
    replicates width_bucket's exact floor arithmetic (DuckDB lacks the
    function), pinning the boundary semantics: [lo, hi) in-range
    buckets 1..n, underflow 0, overflow n+1."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(_HIST_LO), F.lit(_HIST_HI),
                           F.lit(_HIST_N)).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"),
             F.sum(money("o_totalprice")).cast("double").alias("total_price"))
    )


# ---------------------------------------------------------------------------
# Histogram-interpolated quantiles (portable twin of agg_percentile_approx)
# ---------------------------------------------------------------------------

_QH_NB = 64  # histogram bins per group


@register(
    "agg_quantile_hist_est",
    # p arrives as an explicit DOUBLE list in both engines: a bare
    # VALUES (0.5) would be DECIMAL in DuckDB and the p*n comparison
    # arithmetic would diverge from Spark's double path.
    oracle=f"""
        WITH stats AS (
            SELECT l_returnflag AS flag,
                   min(l_extendedprice) AS lo,
                   max(l_extendedprice) AS hi,
                   count(*) AS n
            FROM lineitem GROUP BY 1),
        keyed AS (
            SELECT s.flag, s.lo, s.hi, s.n,
                   CASE WHEN s.hi = s.lo THEN 0
                        ELSE least(CAST(floor((l.l_extendedprice - s.lo)
                                   / (s.hi - s.lo) * {_QH_NB}) AS BIGINT),
                                   {_QH_NB - 1}) END AS k
            FROM lineitem l JOIN stats s ON l.l_returnflag = s.flag),
        bins AS (
            SELECT flag, lo, hi, n, k, count(*) AS cnt
            FROM keyed GROUP BY flag, lo, hi, n, k),
        cum AS (
            SELECT flag, lo, hi, n, k, cnt,
                   CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY k)
                        AS BIGINT) AS cum
            FROM bins),
        ps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                              CAST(0.99 AS DOUBLE)]) AS p)
        SELECT flag, p,
               round(lo + (k + (p * n - (cum - cnt)) / cnt)
                          * (hi - lo) / {_QH_NB}, 6) AS est_price
        FROM cum, ps
        WHERE cum >= p * n AND cum - cnt < p * n
    """,
    tags=("agg", "percentile", "histogram", "deterministic"),
)
def agg_quantile_hist_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles from an equi-width histogram — the
    engine-portable twin of agg_percentile_approx (whose KLL-style
    sketch is engine-private, rows-only): p50/p90/p99 of extended
    price per return flag, estimated by linear interpolation inside
    the bucket where the cumulative count crosses p·n.

    The mergeable-summary dataflow, same law as the other *_det
    sketches: the histogram IS the (group, bucket, count) relation —
    ≤ 64 rows per group at any input size, built with full map-side
    partial aggregation, shards merge by count sum. Quantile
    extraction touches only that tiny relation (one window cumsum +
    a 3-row broadcast of probe fractions). Two passes over the data
    (bounds, then counts) vs the sketch's one — the price of having
    NO engine-private state; at 100 TB the bounds pass is often a
    metadata read (parquet column min/max).

    Error is bounded by one bin width by construction; the gate test
    pins estimates against exact percentile_disc. hi == lo groups
    degenerate to bucket 0 and estimate lo exactly. The crossing
    bucket is unique (cum_prev < p·n ≤ cum), and every float step —
    p·n, the interpolation — is written identically in both engines,
    so the oracle match is exact at 6 digits."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count("*").alias("n"))
    keyed = li.join(
        F.broadcast(stats), li.l_returnflag == stats.flag).select(
        "flag", "lo", "hi", "n",
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
         .otherwise(F.least(
             F.floor((F.col("l_extendedprice") - F.col("lo"))
                     / (F.col("hi") - F.col("lo")) * _QH_NB).cast("long"),
             F.lit(_QH_NB - 1).cast("long"))).alias("k"))
    bins = keyed.groupBy("flag", "lo", "hi", "n", "k").agg(
        F.count("*").alias("cnt"))
    w = Window.partitionBy("flag").orderBy("k")
    cum = bins.withColumn("cum", F.sum("cnt").over(w))
    ps = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "p double")
    t = F.col("p") * F.col("n")
    return (
        cum.crossJoin(F.broadcast(ps))
        .filter((F.col("cum") >= t) & (F.col("cum") - F.col("cnt") < t))
        .select(
            "flag", "p",
            F.round(
                F.col("lo")
                + (F.col("k") + (t - (F.col("cum") - F.col("cnt")))
                   / F.col("cnt"))
                * (F.col("hi") - F.col("lo")) / _QH_NB, 6)
            .alias("est_price"))
    )


@register(
    "validate_table_fingerprint",
    oracle="""
        WITH rows_h AS (
            SELECT l_returnflag,
                   CAST(CAST(('0x' || substr(md5(concat_ws('|',
                        CAST(l_orderkey AS VARCHAR),
                        CAST(l_linenumber AS VARCHAR),
                        l_returnflag, l_linestatus,
                        CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR),
                        CAST(CAST(l_shipdate AS DATE) AS VARCHAR))), 1, 15))
                        AS UBIGINT) AS BIGINT) AS h
            FROM lineitem)
        SELECT l_returnflag,
               count(*) AS n_rows,
               CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        FROM rows_h
        GROUP BY l_returnflag
    """,
    tags=("validation", "fingerprint", "checksum"),
)
def validate_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint — the anti-entropy check for
    validating a copied/migrated/replicated table WITHOUT sorting it:
    checksum = Σ md5-derived 60-bit row hashes, per group. Addition is
    commutative, so the result is identical under any partitioning,
    task order, or physical layout — two clusters each run one scan +
    one tiny aggregate and compare |groups| rows, never exchanging or
    ordering data. That is the only viable equality check at 100 TB
    (a sort-merge diff would shuffle the full table on both sides).

    Structure: the row canonicalization (pipe-joined, engine-portable
    renderings — ints as digits, money as DECIMAL(12,2) strings, dates
    as ISO) and the md5 hash are codegen'd map-side expressions; the
    only exchange carries |groups| partial sums. Group-level checksums
    (by l_returnflag here; by partition key in practice) localize a
    mismatch to the partition that needs re-copy, turning "the copy is
    wrong" into "re-ship partition 7034". Hash sums use 60-bit values
    in DECIMAL(38,0) — headroom for 10^17 rows per group before the
    sum could wrap."""
    li = load_table(spark, sf_dir, "lineitem")
    row_str = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        "l_returnflag", "l_linestatus",
        F.col("l_quantity").cast("decimal(12,2)").cast("string"),
        F.col("l_shipdate").cast("date").cast("string"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return (
        li.select("l_returnflag", h.alias("h"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"),
             F.sum(F.col("h").cast("decimal(38,0)")).cast("string")
             .alias("checksum"))
    )


@register(
    "dq_constraint_checks",
    oracle="""
        SELECT 'pk_unique_orders' AS constraint_name,
               count(*) - count(DISTINCT o_orderkey) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'fk_lineitem_orders', count(*)
        FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'range_quantity_1_100', count(*)
        FROM lineitem
        WHERE l_quantity < 1 OR l_quantity > 100
        UNION ALL
        SELECT 'enum_returnflag', count(*)
        FROM lineitem
        WHERE l_returnflag NOT IN ('A', 'N', 'R')
        UNION ALL
        SELECT 'not_null_custkey', count(*) - count(c_custkey)
        FROM customer
    """,
    tags=("validation", "data-quality", "constraints"),
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint gate — the dbt-test / Deequ-style checks
    a pipeline runs before promoting a batch: primary-key uniqueness,
    referential integrity (FK anti-join), value-range and enum-domain
    membership, not-null. One row per constraint with its violation
    COUNT (not a boolean — at 100 TB you triage by magnitude, and the
    count is the alert threshold input).

    Scale structure: each check is a single aggregate or anti-join —
    uniqueness is count−count(distinct) on one exchange, referential
    integrity is the hash anti-join (AQE broadcasts the smaller side),
    range/enum/null checks are map-side count_ifs that can all fuse
    into ONE scan per table when batched. A production gate pins this
    query to the new partition only — constraints then cost one
    partition scan, not a table scan."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    pk = o.agg((F.count("*") - F.count_distinct("o_orderkey"))
               .alias("n_violations")).select(
        F.lit("pk_unique_orders").alias("constraint_name"), "n_violations")
    fk = (li.join(o.select("o_orderkey"),
                  li.l_orderkey == F.col("o_orderkey"), "left_anti")
          .agg(F.count("*").alias("n_violations"))
          .select(F.lit("fk_lineitem_orders").alias("constraint_name"),
                  "n_violations"))
    rng = li.agg(F.count_if((F.col("l_quantity") < 1)
                            | (F.col("l_quantity") > 100))
                 .alias("n_violations")).select(
        F.lit("range_quantity_1_100").alias("constraint_name"),
        "n_violations")
    enum = li.agg(F.count_if(~F.col("l_returnflag").isin("A", "N", "R"))
                  .alias("n_violations")).select(
        F.lit("enum_returnflag").alias("constraint_name"), "n_violations")
    nn = c.agg((F.count("*") - F.count("c_custkey"))
               .alias("n_violations")).select(
        F.lit("not_null_custkey").alias("constraint_name"), "n_violations")
    return pk.unionByName(fk).unionByName(rng).unionByName(enum) \
        .unionByName(nn)


@register(
    "dq_anomaly_iqr",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 6) AS q1,
                   round(quantile_cont(value, 0.75), 6) AS q3
            FROM events GROUP BY event_type)
        SELECT e.event_type, s.q1, s.q3,
               round(s.q3 - s.q1, 6) AS iqr,
               CAST(sum(CASE WHEN e.value < s.q1 - 1.5 * (s.q3 - s.q1)
                               OR e.value > s.q3 + 1.5 * (s.q3 - s.q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM events e JOIN s USING (event_type)
        GROUP BY e.event_type, s.q1, s.q3
    """,
    tags=("profiling", "dq", "anomaly", "iqr"),
)
def dq_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier report per event type — the distribution-
    free sibling of anomaly_zscore (no normality assumption; the
    fences are order statistics, so one wild value cannot drag them
    the way it drags a mean/stddev): quartiles via exact continuous
    percentiles, outlier = value outside [q1 − 1.5·IQR, q3 + 1.5·IQR].
    The fences are computed from ROUNDED quartiles on both engines —
    percentile interpolation is the one sub-expression whose operation
    order an engine may choose differently, and an unrounded fence
    could flip a boundary row's classification between engines.

    Scale shape (the anomaly_zscore plan): quartiles are one
    |types|-row aggregate (exact percentile buffers per group — the
    percentile_approx sketch is the 100 TB swap, agg_percentile_approx)
    broadcast back onto the event scan; the outlier count is a second
    map-side-combined aggregate. The fact table is scanned twice and
    shuffled zero times beyond the two |types|-keyed aggregates."""
    ev = load_table(spark, sf_dir, "events")
    pcts = F.percentile("value", F.array(F.lit(0.25), F.lit(0.75)))
    s = ev.groupBy("event_type").agg(pcts.alias("p")).select(
        "event_type",
        F.round(F.col("p")[0], 6).alias("q1"),
        F.round(F.col("p")[1], 6).alias("q3"))
    iqr = F.col("q3") - F.col("q1")
    outlier = ((F.col("value") < F.col("q1") - 1.5 * iqr)
               | (F.col("value") > F.col("q3") + 1.5 * iqr))
    return (
        ev.join(F.broadcast(s), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(F.round(iqr, 6).alias("iqr"),
             F.sum(F.when(outlier, 1).otherwise(0)).cast("bigint")
             .alias("n_outliers"))
        .select("event_type", "q1", "q3", "iqr", "n_outliers")
    )


@register(
    "profile_mutual_information",
    oracle="""
        WITH joint AS (
            SELECT event_type,
                   CAST(dayofweek(ts) AS BIGINT) AS dow,
                   count(*) AS nxy
            FROM events GROUP BY event_type, dayofweek(ts)),
        mx AS (SELECT event_type, sum(nxy) AS nx FROM joint
               GROUP BY event_type),
        my AS (SELECT dow, sum(nxy) AS ny FROM joint GROUP BY dow),
        tot AS (SELECT sum(nxy) AS n FROM joint)
        SELECT round(sum((CAST(j.nxy AS DOUBLE) / tot.n)
                         * ln((CAST(j.nxy AS DOUBLE) * tot.n)
                              / (CAST(mx.nx AS DOUBLE) * my.ny))), 6)
                   AS mutual_info_nats,
               count(*) AS n_cells,
               CAST(max(tot.n) AS BIGINT) AS n_events
        FROM joint j
        JOIN mx USING (event_type)
        JOIN my USING (dow)
        CROSS JOIN tot
    """,
    tags=("profiling", "stats", "mutual-information", "dependence"),
)
def profile_mutual_information(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week — the
    dependence profile a feature-selection / leakage audit computes
    for every categorical column pair (MI = 0 ⟺ independent; unlike
    correlation it catches non-monotone dependence):
    ``Σ p(x,y)·ln(p(x,y)/(p(x)p(y)))`` over the contingency table,
    exact counts, natural log, rounded at 6 (ln ulp-parity, the
    text_tfidf contract). Emitted with the cell count and grand total
    so the reader can judge the table's resolution.

    Scale shape: ONE fact-scale aggregate builds the |X|×|Y|
    contingency table (map-side combined — the table is
    category-bounded regardless of event volume); marginals re-
    aggregate the TABLE, not the data (the tf→df reuse rule); the MI
    fold is a |cells|-row sum. For wide column pairs the same query
    runs per pair over one GROUPING SETS pass."""
    ev = load_table(spark, sf_dir, "events")
    joint = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count("*").alias("nxy"))
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut, the
    # three consumers re-scan: jobs 10 → 12, scans 1 → 4.
    joint = joint.localCheckpoint(eager=True)
    mx = joint.groupBy("event_type").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("dow").agg(F.sum("nxy").alias("ny"))
    tot = joint.agg(F.sum("nxy").alias("n"))
    term = ((F.col("nxy").cast("double") / F.col("n"))
            * F.log((F.col("nxy").cast("double") * F.col("n"))
                    / (F.col("nx").cast("double") * F.col("ny"))))
    return (
        joint.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "dow")
        .crossJoin(F.broadcast(tot))
        .agg(F.round(F.sum(term), 6).alias("mutual_info_nats"),
             F.count("*").alias("n_cells"),
             F.max("n").cast("bigint").alias("n_events"))
    )


@register(
    "dq_benford_distribution",
    oracle="""
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders),
        obs AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
        tot AS (SELECT obs.*, sum(n_obs) OVER () AS n_total FROM obs)
        SELECT digit,
               n_obs,
               round(n_total * ln(1 + 1.0 / digit) / ln(10), 6)
                   AS expected_n,
               round(pow(n_obs - n_total * ln(1 + 1.0 / digit) / ln(10), 2)
                     / (n_total * ln(1 + 1.0 / digit) / ln(10)), 6)
                   AS chi2_term
        FROM tot
    """,
    tags=("profiling", "data-quality", "benford"),
)
def dq_benford_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    fraud/synthetic-data screen (Nigrini 2012): organically-generated
    amounts follow P(d) = log10(1 + 1/d), and a digit whose chi-square
    term blows out flags manufactured values. Emits one row per
    leading digit: observed count, Benford-expected count, and the
    digit's chi-square contribution (sum them for the test statistic).

    Plan: the first digit is a pure codegen'd map (floor → bigint →
    string head, identical construction in both engines — never
    double→string formatting, which diverges), ONE digit-grain
    aggregate, and the grand total comes from a window over the
    9-ROW digit relation (a single-partition window over ≤ 9 rows,
    not over data). Doubles enter only through ln on engine-identical
    inputs (the libm-parity contract the LM scorers pin) and exact
    integer counts, rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int").alias("digit")
    obs = orders.select(digit).groupBy("digit").agg(
        F.count("*").alias("n_obs"))
    w_all = Window.partitionBy()  # 9-row relation
    e = (F.col("n_total") * F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
         / F.log(F.lit(10.0)))
    return (
        obs.withColumn("n_total", F.sum("n_obs").over(w_all))
        .select(
            "digit", "n_obs",
            F.round(e, 6).alias("expected_n"),
            F.round(F.pow(F.col("n_obs") - e, 2) / e, 6)
            .alias("chi2_term"),
        )
    )


#: Wilson interval critical value: the conventional 95% two-sided z.
#: An exact literal shared with the oracle so both engines square and
#: divide the same double.
WILSON_Z = 1.96


@register(
    "dq_wilson_ci",
    oracle=f"""
        WITH agg AS (
            SELECT n.n_name,
                   count(*) AS n,
                   sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                       AS k
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            GROUP BY n.n_name),
        w AS (
            SELECT n_name, n, k,
                   CAST(k AS DOUBLE) / n AS p,
                   {WILSON_Z} * {WILSON_Z} AS z2
            FROM agg)
        SELECT n_name,
               CAST(n AS BIGINT) AS n,
               CAST(k AS BIGINT) AS k,
               round(p, 6) AS return_rate,
               round((p + z2 / (2 * n)
                      - {WILSON_Z} * sqrt(p * (1 - p) / n
                                          + z2 / (4.0 * n * n)))
                     / (1 + z2 / n), 6) AS wilson_lo,
               round((p + z2 / (2 * n)
                      + {WILSON_Z} * sqrt(p * (1 - p) / n
                                          + z2 / (4.0 * n * n)))
                     / (1 + z2 / n), 6) AS wilson_hi
        FROM w
    """,
    tags=("profiling", "data-quality", "confidence-interval"),
)
def dq_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% confidence interval on the per-nation lineitem
    return rate (Wilson 1927) — the interval every metrics dashboard
    should draw instead of the Wald ±z√(p(1-p)/n) band, which
    collapses to zero width at p∈{0,1} and goes negative near the
    edges; Wilson stays inside [0,1] and is well-defined for every
    n ≥ 1. Emits (n, k, rate, lo, hi) per supplier nation so a
    segment's rate can be compared against the fleet with honest
    uncertainty (small nations get wide bands, not false alarms).

    Plan: one fact-scale aggregate (supplier + nation dims broadcast
    onto the scan — the star-join shape every tpch_q5-family query
    uses), then the closed form is pure |nations|-row arithmetic.
    Determinism: n and k are exact BIGINTs, p = one division, and the
    interval is a fixed expression tree over (p, n) with a single
    sqrt on engine-identical input — libm parity, rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    agg = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n"),
             F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
             .alias("k"))
    )
    p = F.col("k").cast("double") / F.col("n")
    z2 = F.lit(WILSON_Z * WILSON_Z)
    center = p + z2 / (2 * F.col("n"))
    half = F.lit(WILSON_Z) * F.sqrt(
        p * (1 - p) / F.col("n")
        + z2 / (4.0 * F.col("n") * F.col("n")))
    denom = 1 + z2 / F.col("n")
    return agg.select(
        "n_name",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(p, 6).alias("return_rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


#: watermark delay for the late-arrival audit (event-time µs): 10 min
LATE_DELAY_US = 10 * 60 * 1_000_000


@register(
    "dq_late_arrival_audit",
    oracle=f"""
        WITH ev AS (
            SELECT event_type, event_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS t
            FROM events),
        wm AS (
            SELECT event_type, t,
                   max(t) OVER (PARTITION BY event_type
                                ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
                       - {LATE_DELAY_US} AS cutoff
            FROM ev)
        SELECT event_type,
               count(*) AS n_total,
               CAST(sum(CASE WHEN t < cutoff THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late,
               round(CAST(sum(CASE WHEN t < cutoff THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS late_ratio,
               CAST(coalesce(max(CASE WHEN t < cutoff
                                      THEN (cutoff - t) // 1000000 END),
                             0) AS BIGINT) AS max_lateness_sec
        FROM wm
        GROUP BY event_type
    """,
    tags=("profiling", "data-quality", "streaming", "watermark"),
)
def dq_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival audit — BEFORE committing to a watermark delay,
    measure what it would drop: replay each event-type stream in
    arrival order (event_id, the ingest sequence) tracking the
    running max event time; a row is late when its event time is
    already more than 10 minutes behind that high-water mark — the
    exact rows ``withWatermark("ts", "10 minutes")`` would discard.
    Emits per stream: volume, late count/ratio and the worst lateness
    — the evidence for choosing the delay that the stream_* twins
    then assume.

    Plan: ONE keyed window pass (running max over arrival order,
    1-PRECEDING frame so a row never vouches for itself) + the
    stream-grain rollup on the same exchange. All arithmetic is
    integer µs. Scale note: the audit is per stream key (here
    event_type) so the window stays keyed at any volume; Spark's
    actual executor watermark is the MIN across partition-local
    maxima — strictly lower than this per-stream mark, so the audit
    is conservative: anything it flags late, the engine would also
    drop."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_micros("ts").alias("t"))
    w = (Window.partitionBy("event_type").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    wm = ev.withColumn("cutoff", F.max("t").over(w) - LATE_DELAY_US)
    is_late = F.col("t") < F.col("cutoff")
    return (
        wm.groupBy("event_type")
        .agg(F.count("*").alias("n_total"),
             F.sum(F.when(is_late, 1).otherwise(0)).cast("bigint")
             .alias("n_late"),
             F.round(F.sum(F.when(is_late, 1).otherwise(0)).cast("double")
                     / F.count("*"), 6).alias("late_ratio"),
             F.coalesce(
                 F.max(F.when(is_late,
                              F.expr("(cutoff - t) div 1000000"))),
                 F.lit(0)).cast("bigint")
             .alias("max_lateness_sec"))
    )
