"""Statistical aggregate coverage: second-moment aggregates
(stddev/variance/covariance/correlation), linear regression
aggregates, and explicit higher-moment (skewness/kurtosis) queries.

No reference counterpart — the reference's only aggregate is integer
sum (sendFileByFile.cpp:174-180); these are the built-in JVM-side
aggregates an analytics engine needs for data profiling, all
single-pass partial/final hash aggregates (one shuffle, map-side
combined, same plan shape as the reference's O8/O11 pipeline).

Oracle-parity notes (hardened in r5): engine-NATIVE stddev/corr/
regr_*/avg-of-pow aggregates accumulate doubles in partition order, so
their last bits are summation-order-dependent — they differed at the
ulp level between Spark and DuckDB under the r5 exact-compare gate,
and would differ BETWEEN ENVIRONMENTS (different parallelism → 
different partial-aggregation order) even within one engine. The
portable form used here computes every across-row sum over EXACT
domains — integers for the integral quantity column, per-term
low-scale-DECIMAL-rounded values otherwise (IEEE double→decimal cast
is correctly rounded and never hits a representable tie, so the
per-term rounding is deterministic in both engines) — and evaluates
the closed-form moment/OLS formulas on the resulting bit-identical
doubles. The formula STRINGS are shared between the Spark side
(F.expr/selectExpr) and the DuckDB oracle, so both engines parse the
same expression tree. This is also the 1000-executor answer:
rerun-determinism of these profiles does not depend on partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.registry import register


#: Shared sufficient-statistic expressions (x = l_quantity, integral
#: 1..50 in the fixture; y = l_discount, an exact 2-dp fraction — 11
#: distinct values 0.00..0.10): the x-sums are exact BIGINT
#: arithmetic; the y-involved terms (y, y², xy — at most 4 decimal
#: digits) are EXACTLY represented at DECIMAL(38,6) and sum exactly.
#: Scale 6, not 12 (r5 self-review): at scale 12 the unscaled sums
#: pass 2^53 already at sf0.01, entering the decimal→double
#: double-rounding regime that split the engines by one ulp in
#: agg_higher_moments' first rewrite; at scale 6 the unscaled sums
#: stay < 2^53 through sf10. Both engines parse these exact strings.
_SUFF_STATS = (
    "count(*) AS n",
    "CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx",
    "CAST(sum(CAST(l_quantity * l_quantity AS BIGINT)) AS DOUBLE) AS sxx",
    "CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sy",
    "CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE)"
    " AS syy",
    "CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,6))) AS DOUBLE)"
    " AS sxy",
)
_SUFF_SQL = ",\n               ".join(_SUFF_STATS)

_MOMENT_EXPRS = (
    "sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_qty",
    "(sxx - sx * sx / n) / (n - 1) AS var_qty",
    "(sxy - sx * sy / n) / (sqrt(sxx - sx * sx / n)"
    " * sqrt(syy - sy * sy / n)) AS corr_qty_disc",
    "(sxy - sx * sy / n) / (n - 1) AS covar_qty_disc",
    "(sxy - sx * sy / n) / n AS covar_pop_qty_disc",
    "n",
)

_REGR_EXPRS = (
    "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope",
    "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n"
    " AS intercept",
    "(n * sxy - sx * sy) * (n * sxy - sx * sy)"
    " / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2",
    "n AS n_pairs",
)
_MOMENT_SQL = ",\n               ".join(_MOMENT_EXPRS)
_REGR_SQL = ",\n               ".join(_REGR_EXPRS)


def _suff_stats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(_SUFF_STATS[0].split(" AS ")[0]).alias("n"),
        *[F.expr(e.rsplit(" AS ", 1)[0]).alias(e.rsplit(" AS ", 1)[1].strip())
          for e in _SUFF_STATS[1:]],
    )


@register(
    "agg_stats_moments",
    oracle=f"""
        WITH s AS (
            SELECT l_returnflag,
               {_SUFF_SQL}
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
               {_MOMENT_SQL}
        FROM s
    """,
    tags=("agg", "stats"),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment profile of lineitem per return flag — stddev,
    variance, correlation, covariance from shared closed-form
    sufficient statistics (module docstring: the engine-native
    aggregates are summation-order-unstable in their last bits). Still
    one hash-aggregate pass: six algebraic sums partial-aggregate
    map-side and shuffle only 3-group states; at 100 TB the shuffle is
    O(groups), not O(rows) — and the result is bit-identical under ANY
    partitioning, which the native double accumulators cannot
    guarantee."""
    return _suff_stats_df(spark, sf_dir).selectExpr(
        "l_returnflag", *_MOMENT_EXPRS)


@register(
    "agg_regression",
    oracle=f"""
        WITH s AS (
            SELECT l_returnflag,
               {_SUFF_SQL}
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
               {_REGR_SQL}
        FROM s
    """,
    tags=("agg", "stats", "regression"),
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of discount on quantity
    from the same shared sufficient statistics as agg_stats_moments
    (closed-form normal equations; regr_* natives are
    order-unstable in the last bits). n_pairs = count(*) — the fixture
    has no NULL discount/quantity, matching regr_count. One shuffle of
    O(groups) algebraic state."""
    return _suff_stats_df(spark, sf_dir).selectExpr(
        "l_returnflag", *_REGR_EXPRS)


#: Central moments from raw integer POWER SUMS — l_quantity is
#: integral (1..50, pinned by the fixture), so Σx, Σx², Σx³, Σx⁴ are
#: exact BIGINT arithmetic; each CAST(Σ AS DOUBLE) and every formula
#: op (+,-,*,/,sqrt) is correctly rounded identically in both engines,
#: making the result bit-identical under ANY partitioning or engine —
#: at any scale (int64→double stays a single correctly-rounded
#: conversion past 2^53 too). A previous revision summed
#: DECIMAL(38,9)-rounded powered DEVIATIONS instead; its m4 sum's
#: unscaled value passed 2^53, where DuckDB's decimal→double
#: (int128→double, then divide — two roundings) and Spark's
#: (digits→correctly-rounded parse) split by one ulp. Raw power sums
#: have no decimal stage to disagree on.
_POWER_SUMS = (
    "count(*) AS n",
    "CAST(sum(xi) AS DOUBLE) AS s1",
    "CAST(sum(xi * xi) AS DOUBLE) AS s2",
    "CAST(sum(xi * xi * xi) AS DOUBLE) AS s3",
    "CAST(sum(xi * xi * xi * xi) AS DOUBLE) AS s4",
)
_POWER_SQL = ",\n                   ".join(_POWER_SUMS)
_MU = "(s1 / n)"
_C2 = f"(s2 / n - {_MU} * {_MU})"
_C3 = f"(s3 / n - 3 * {_MU} * (s2 / n) + 2 * {_MU} * {_MU} * {_MU})"
_C4 = (f"(s4 / n - 4 * {_MU} * (s3 / n) + 6 * {_MU} * {_MU} * (s2 / n)"
       f" - 3 * {_MU} * {_MU} * {_MU} * {_MU})")
_HIGHER_EXPRS = (
    f"{_C2} AS m2",
    f"{_C3} / ({_C2} * sqrt({_C2})) AS skew_pop",
    f"{_C4} / ({_C2} * {_C2}) - 3 AS kurt_excess",
)


@register(
    "agg_higher_moments",
    oracle=f"""
        WITH s AS (
            SELECT l_returnflag,
                   {_POWER_SQL}
            FROM (SELECT l_returnflag,
                         CAST(l_quantity AS BIGINT) AS xi
                  FROM lineitem)
            GROUP BY l_returnflag)
        SELECT l_returnflag,
               {",  ".join(_HIGHER_EXPRS)}
        FROM s
    """,
    tags=("agg", "stats", "moments"),
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of quantity per return
    flag from exact integer power sums (module constants: the raw-sum
    form is the engine-portable one; Spark's and DuckDB's native
    skewness/kurtosis also disagree on bias correction, so the moment
    algebra is explicit and textually shared). ONE map-side-combined
    hash aggregate — the previous two-pass mean-then-deviations shape
    (scan + broadcast join + second scan) collapsed into a single scan
    once the moments moved to raw sums; at 100 TB that halves the
    fact-table traffic, and the O(groups) algebraic state is the same
    partial/final plan as any sum."""
    li = load_table(spark, sf_dir, "lineitem")
    xi = li.select("l_returnflag",
                   F.col("l_quantity").cast("long").alias("xi"))
    aggs = [F.expr(e.rsplit(" AS ", 1)[0]).alias(e.rsplit(" AS ", 1)[1])
            for e in _POWER_SUMS]
    s = xi.groupBy("l_returnflag").agg(*aggs)
    return s.selectExpr("l_returnflag", *_HIGHER_EXPRS)



@register(
    "agg_winsorized_mean",
    oracle="""
        WITH q AS (
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.01) AS p01,
                   quantile_cont(l_extendedprice, 0.99) AS p99
            FROM lineitem GROUP BY l_returnflag)
        SELECT l.l_returnflag,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN l.l_extendedprice < q.p01 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_clipped_low,
               CAST(sum(CASE WHEN l.l_extendedprice > q.p99 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_clipped_high,
               avg(least(greatest(l.l_extendedprice, q.p01), q.p99))
                   AS winsorized_mean
        FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
        GROUP BY l.l_returnflag
    """,
    tags=("stats", "percentile", "outliers"),
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean: clip each group's values to its own [p1, p99]
    band, then average — the outlier-robust location estimate a
    data-quality gate uses where a raw mean would follow one corrupt
    row. Two aggregates over the group key: the quantile pass produces
    a |groups|-row table broadcast back onto the fact scan, so the
    fact data shuffles once per pass and never self-joins. At 100 TB
    the quantile pass swaps to percentile_approx (same join shape,
    bounded memory)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = (
        li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice",
                          F.array(F.lit(0.01), F.lit(0.99))).alias("p"))
        .select("l_returnflag", F.col("p")[0].alias("p01"),
                F.col("p")[1].alias("p99"))
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p01")),
                      F.col("p99"))
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_lines"),
             F.sum(F.when(F.col("l_extendedprice") < F.col("p01"), 1)
                   .otherwise(0)).alias("n_clipped_low"),
             F.sum(F.when(F.col("l_extendedprice") > F.col("p99"), 1)
                   .otherwise(0)).alias("n_clipped_high"),
             F.avg(clipped).alias("winsorized_mean"))
    )


@register(
    "agg_weighted_stats",
    oracle="""
        WITH s AS (
            SELECT p.p_brand,
                   sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS w,
                   sum(CAST(l.l_quantity AS DECIMAL(12,2))
                       * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS wx,
                   sum(CAST(l.l_quantity AS DECIMAL(12,2))
                       * CAST(l.l_extendedprice AS DECIMAL(18,2))
                       * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS wx2
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand)
        SELECT p_brand,
               CAST(w AS DOUBLE) AS total_weight,
               round(CAST(wx AS DOUBLE) / CAST(w AS DOUBLE), 6)
                   AS weighted_mean,
               round(sqrt(CAST(wx2 AS DOUBLE) / CAST(w AS DOUBLE)
                     - (CAST(wx AS DOUBLE) / CAST(w AS DOUBLE))
                       * (CAST(wx AS DOUBLE) / CAST(w AS DOUBLE))), 6)
                   AS weighted_std
        FROM s
    """,
    tags=("stats", "weighted", "aggregation"),
)
def agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean and variance of price per brand — the
    weighted moments every sampling-corrected or exposure-weighted
    metric needs (plain avg() answers a different question when rows
    carry unequal weight). The sufficient statistics (Σw, Σwx, Σwx²)
    are EXACT DECIMAL sums — algebraic, order-independent, map-side
    combined — so the whole aggregate is one shuffle of three decimals
    per group and the only float ops are the final divisions and sqrt; the output is
    the weighted STDDEV (price-scaled) because the raw variance's
    ~1e9 magnitude exposes decimal-to-double conversion ulps at the
    6-digit rounding contract, while the stddev's ~1e4 scale does not (the functions/numeric.py discipline applied to
    second moments)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    w = F.col("l_quantity").cast("decimal(12,2)")
    x = F.col("l_extendedprice").cast("decimal(18,2)")
    s = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
         .groupBy("p_brand")
         .agg(F.sum(w).alias("w"),
              F.sum(w * x).alias("wx"),
              F.sum(w * x * x).alias("wx2")))
    dw = F.col("w").cast("double")
    mean = F.col("wx").cast("double") / dw
    return s.select(
        "p_brand",
        dw.alias("total_weight"),
        F.round(mean, 6).alias("weighted_mean"),
        F.round(F.sqrt(F.col("wx2").cast("double") / dw - mean * mean), 6)
        .alias("weighted_std"),
    )


@register(
    "agg_gini_lorenz",
    oracle="""
        WITH c AS (
            SELECT c_mktsegment AS seg,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                   c_custkey
            FROM customer),
        ranked AS (
            SELECT seg, cents,
                   row_number() OVER (PARTITION BY seg
                                      ORDER BY cents, c_custkey) AS i,
                   count(*) OVER (PARTITION BY seg) AS n
            FROM c)
        SELECT seg,
               count(*) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               round((2.0 * sum(i * cents)) / (count(*) * sum(cents))
                     - (count(*) + 1.0) / count(*), 6) AS gini,
               round(CAST(sum(CASE WHEN i <= n // 2 THEN cents
                                   ELSE 0 END) AS DOUBLE)
                     / sum(cents), 6) AS bottom_half_share
        FROM ranked
        GROUP BY seg
    """,
    tags=("aggregation", "stats", "inequality", "gini"),
)
def agg_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality analytics per market segment: exact Gini coefficient
    of account balances via the sorted-rank identity
    ``G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n`` plus the Lorenz-curve
    checkpoint every concentration report quotes (share of total held
    by the bottom half). All interior arithmetic is INTEGER — cents,
    ranks, and their products sum exactly (rank ≤ n and cents ≤ 10⁸
    keep i·x far inside int64) — so the only doubles are two final
    fixed-shape divisions, rounded at 6; rank ties break on
    c_custkey so the i·x sum is deterministic.

    Scale shape: one exchange on the segment key, the ranking window
    and the aggregate sharing its sort; per-partition window state is
    O(1). (A single global-key Gini would instead use the two-pass
    percentile-style form — the per-group shape here is the
    production one: inequality is always reported per cohort.)"""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        "c_custkey",
    )
    w = Window.partitionBy("seg").orderBy("cents", "c_custkey")
    wn = Window.partitionBy("seg")
    ranked = c.select(
        "seg", "cents",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wn).alias("n"),
    )
    n, s = F.count("*"), F.sum("cents")
    s1 = F.sum(F.col("i") * F.col("cents"))
    return ranked.groupBy("seg").agg(
        n.alias("n_customers"),
        s.cast("bigint").alias("total_cents"),
        F.round((F.lit(2.0) * s1) / (n * s) - (n + F.lit(1.0)) / n, 6)
        .alias("gini"),
        F.round(F.sum(F.when(F.col("i") <= F.floor(F.col("n") / 2),
                             F.col("cents")).otherwise(F.lit(0)))
                .cast("double") / s, 6).alias("bottom_half_share"),
    )


@register(
    "agg_theil_index",
    oracle="""
        WITH c AS (
            SELECT c_mktsegment AS seg,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM customer
            WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0),
        m AS (
            SELECT seg, cents,
                   CAST(sum(cents) OVER (PARTITION BY seg) AS DOUBLE)
                       / count(*) OVER (PARTITION BY seg) AS mu,
                   count(*) OVER (PARTITION BY seg) AS n
            FROM c)
        SELECT seg,
               CAST(max(n) AS BIGINT) AS n_pos,
               round(max(mu) / 100, 6) AS mean_balance,
               round(sum((cents / mu) * ln(cents / mu)) / max(n), 6)
                   AS theil_t
        FROM m
        GROUP BY seg
    """,
    tags=("aggregation", "stats", "inequality", "theil"),
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index per market segment —
    ``T = (1/n)·Σ (x/μ)·ln(x/μ)`` (Theil 1967): 0 for perfect
    equality, ln(n) at total concentration, and unlike
    agg_gini_lorenz's Gini it is additively DECOMPOSABLE
    (within-group + between-group terms sum to the population index),
    which is why economic monitors report both. Defined on positive
    values only, so non-positive balances are excluded and the row
    count reported is the positive-support n.

    Determinism: values enter as exact integer cents (the Gini rule);
    μ is an exact BIGINT sum / count in one division, so every
    (x/μ)·ln(x/μ) term is computed from bit-identical doubles (libm
    ln parity) — only the final Σ is an unordered double sum, rounded
    at 6 (the agg_regression contract). Plan: one exchange on the
    segment key shared by the window pair and the rollup."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    c = (cust.select(F.col("c_mktsegment").alias("seg"),
                     cents.alias("cents"))
         .filter(F.col("cents") > 0))
    w = Window.partitionBy("seg")
    m = c.select(
        "seg", "cents",
        (F.sum("cents").over(w).cast("double")
         / F.count("*").over(w)).alias("mu"),
        F.count("*").over(w).alias("n"))
    term = (F.col("cents") / F.col("mu")) * F.log(F.col("cents") / F.col("mu"))
    return m.groupBy("seg").agg(
        F.max("n").cast("bigint").alias("n_pos"),
        F.round(F.max("mu") / 100, 6).alias("mean_balance"),
        F.round(F.sum(term) / F.max("n"), 6).alias("theil_t"))


@register(
    "agg_hhi_concentration",
    oracle="""
        WITH rev AS (
            SELECT r.r_name AS region,
                   s.s_suppkey,
                   sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                       AS cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2),
        tot AS (
            SELECT region, cents,
                   sum(cents) OVER (PARTITION BY region) AS rtot,
                   count(*) OVER (PARTITION BY region) AS n_sup
            FROM rev)
        SELECT region,
               CAST(max(n_sup) AS BIGINT) AS n_suppliers,
               round(10000 * sum((CAST(cents AS DOUBLE) / rtot)
                                 * (CAST(cents AS DOUBLE) / rtot)), 6)
                   AS hhi
        FROM tot
        GROUP BY region
    """,
    tags=("aggregation", "stats", "concentration", "hhi"),
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of supplier revenue
    per region — 10000·Σ share² (the antitrust scale: < 1500
    unconcentrated, > 2500 highly concentrated): completes the
    market-structure trio next to agg_gini_lorenz (dispersion) and
    agg_theil_index (decomposable inequality) with the
    merger-review number regulators actually quote.

    Exactness: revenue enters as exact integer cents (the Gini rule)
    summed per (region, supplier); each share is one division of
    exact BIGINTs so every squared term is bit-identical on both
    engines; only the final Σ over ≤|suppliers-per-region| terms is
    an unordered double sum, rounded at 6 after the 10000 scale.
    Plan: the fact-scale star join (dims broadcast) aggregates
    straight to (region, supplier) grain — map-side combined — then
    shares and the fold ride one region-keyed window/aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    rev = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
           .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
           .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
           .groupBy(F.col("r_name").alias("region"), "s_suppkey")
           .agg(F.sum(cents).alias("cents")))
    w = Window.partitionBy("region")
    tot = rev.select(
        "region", "cents",
        F.sum("cents").over(w).alias("rtot"),
        F.count("*").over(w).alias("n_sup"))
    share = F.col("cents").cast("double") / F.col("rtot")
    return tot.groupBy("region").agg(
        F.max("n_sup").cast("bigint").alias("n_suppliers"),
        F.round(F.lit(10000) * F.sum(share * share), 6).alias("hhi"))


@register(
    "time_autocorr_lag",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, count(*) AS n
            FROM events GROUP BY 1),
        ks AS (SELECT unnest([1, 7]) AS k),
        pairs AS (
            SELECT ks.k, a.n AS x, b.n AS y
            FROM daily a
            JOIN ks ON true
            JOIN daily b ON b.day = a.day + CAST(ks.k AS INTEGER)),
        sums AS (
            SELECT k, count(*) AS m,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM pairs GROUP BY k)
        SELECT CAST(k AS BIGINT) AS lag_days,
               CAST(m AS BIGINT) AS n_pairs,
               round((m * sxy - sx * sy)
                     / nullif(sqrt((m * sxx - sx * sx)
                                   * (m * syy - sy * sy)), 0.0), 6)
                   AS autocorr
        FROM sums
    """,
    tags=("temporal", "stats", "autocorrelation", "timeseries"),
)
def time_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the daily event-count series
    — the two numbers that justify (or refute) time_seasonal_decompose's
    weekly model: strong lag-7 with weak lag-1 is weekly seasonality,
    strong lag-1 is trend/momentum, both near zero says the series is
    noise and the seasonal fit is overreach. Calendar-true lags (a
    day pairs with day+k BY DATE, gap days produce no pair — never a
    row-offset masquerading as a time lag).

    Exactness: the assortativity pattern — every sufficient statistic
    is an exact BIGINT sum of integer counts, the closed form is one
    sqrt/divide on bit-identical operands (nullif for the
    zero-variance degenerate), rounded at 6. Plan: one fact-scale
    aggregate to the day grid, then a |days|×2 self-join and a 2-row
    fold — calendar-bounded everything."""
    ev = load_table(spark, sf_dir, "events")
    # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut reads
    # 5 → 4 jobs, scans 1, but sf0.1 wall lost 4 of 5 pairs.
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("n"))
             .localCheckpoint())
    ks = F.explode(F.array(F.lit(1), F.lit(7))).alias("k")
    a = daily.select("day", F.col("n").alias("x")).select("day", "x", ks)
    b = daily.select(F.col("day").alias("day_b"), F.col("n").alias("y"))
    pairs = a.join(F.broadcast(b),
                   F.col("day_b") == F.date_add(F.col("day"), F.col("k")))
    sums = pairs.groupBy("k").agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    r = ((F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / F.nullif(
             F.sqrt((F.col("m") * F.col("sxx")
                     - F.col("sx") * F.col("sx"))
                    * (F.col("m") * F.col("syy")
                       - F.col("sy") * F.col("sy"))), F.lit(0.0)))
    return sums.select(
        F.col("k").cast("bigint").alias("lag_days"),
        F.col("m").cast("bigint").alias("n_pairs"),
        F.round(r, 6).alias("autocorr"))
