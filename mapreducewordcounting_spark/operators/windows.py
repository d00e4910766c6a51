"""Window functions (SURVEY.md §2.2 — M3; absent in the reference).

Ranking, analytic (lag/lead), and frame-based (rows/range) windows.
Scale posture: a window = one shuffle on partitionBy keys + a sort
within partitions. Keys here (brand, custkey, suppkey) have bounded
per-key row counts, so no single partition explodes at 100 TB; there
is no global sort anywhere. Running money sums stay in exact DECIMAL
until the final cast (functions/numeric.py) so cumulative values are
order-independent and oracle-stable.

Determinism: every ORDER BY carries a unique tie-break column so
row_number/ntile/lag pick the same rows in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.numeric import money
from mapreducewordcounting_spark.registry import register


@register(
    "window_topk_per_group",
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice, rn
        FROM (
            SELECT p_brand, p_partkey, p_retailprice,
                   row_number() OVER (PARTITION BY p_brand
                                      ORDER BY p_retailprice DESC, p_partkey) AS rn
            FROM part
        )
        WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand — the distributed top-k-per-group idiom
    (row_number over a partitioned window, then filter). Each group
    sorts independently; nothing global."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


@register(
    "window_running_total",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_spend
        FROM orders
        WHERE o_custkey < 200
    """,
    tags=("window", "analytic"),
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend — cumulative DECIMAL sum (exact at
    every prefix, so the cast-to-double stream hashes identically)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@register(
    "window_lag_lead",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) -
                    lag(CAST(o_totalprice AS DECIMAL(18,2)), 1)
                        OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS DOUBLE)
                   AS delta_prev,
               lead(o_orderkey, 1) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey)
                   AS next_orderkey
        FROM orders
        WHERE o_custkey < 200
    """,
    tags=("window", "analytic"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation: spend delta vs previous order, next order id
    (NULL at partition edges — preserved, not coalesced)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = money("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (price - F.lag(price, 1).over(w)).cast("double").alias("delta_prev"),
        F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
    )


@register(
    "window_rank_ntile",
    oracle="""
        SELECT p_partkey, p_brand,
               rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC)
                   AS price_rank,
               dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC)
                   AS price_dense_rank,
               ntile(4) OVER (PARTITION BY p_brand
                              ORDER BY p_retailprice DESC, p_partkey) AS quartile,
               CAST(percent_rank() OVER (PARTITION BY p_brand
                                         ORDER BY p_retailprice DESC)
                    AS DOUBLE) AS pct_rank
        FROM part
    """,
    tags=("window", "ranking"),
)
def window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family: rank/dense_rank (tie-aware, deterministic on
    equal keys), ntile + percent_rank (tie-broken for determinism)."""
    p = load_table(spark, sf_dir, "part")
    w_ties = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    w_total = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey"))
    return p.select(
        "p_partkey",
        "p_brand",
        F.rank().over(w_ties).alias("price_rank"),
        F.dense_rank().over(w_ties).alias("price_dense_rank"),
        F.ntile(4).over(w_total).alias("quartile"),
        F.percent_rank().over(w_ties).cast("double").alias("pct_rank"),
    )


@register(
    "window_moving_frame",
    oracle="""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY l_suppkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS moving_sum3,
               count(*) OVER (PARTITION BY l_suppkey
                              ORDER BY l_shipdate, l_orderkey, l_linenumber
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                   AS frame_n
        FROM lineitem
        WHERE l_suppkey < 20
    """,
    tags=("window", "frame"),
)
def window_moving_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frame: 3-row moving sum of shipment value per supplier."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 20)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-2, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(money("l_extendedprice")).over(w).cast("double").alias("moving_sum3"),
        F.count("*").over(w).alias("frame_n"),
    )


@register(
    "window_range_frame",
    oracle="""
        SELECT s_suppkey, s_acctbal,
               count(*) OVER (ORDER BY s_acctbal
                              RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
                   AS peers_within_1000
        FROM supplier
    """,
    tags=("window", "frame", "range"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): suppliers whose
    balance is within 1000 below each supplier's. Unpartitioned window
    over a dimension table — fine for dims, never for facts."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal").rangeBetween(-1000, Window.currentRow)
    return s.select(
        "s_suppkey",
        "s_acctbal",
        F.count("*").over(w).alias("peers_within_1000"),
    )


@register(
    "window_first_last",
    oracle="""
        SELECT o_custkey, o_orderkey,
               first_value(o_orderkey) OVER w AS first_order,
               last_value(o_orderkey)
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING) AS last_order,
               nth_value(o_orderkey, 2) OVER w AS second_order
        FROM orders
        WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "analytic"),
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value navigation (last_value over the full-frame
    window — the default growing frame would return the current row)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey", "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@register(
    "window_percent_rank",
    oracle="""
        SELECT s_suppkey, s_nationkey,
               percent_rank() OVER w AS pct_rank,
               CAST(least(floor(percent_rank() OVER w * 4), 3) AS BIGINT) AS quartile
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal)
    """,
    tags=("window", "ranking", "distribution"),
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank (relative rank in [0,1]) + derived quartile per
    nation — the distribution-position primitive behind quantile
    bucketing. Rank-based, so ties produce identical values in every
    engine (unlike row_number on a non-unique order). One shuffle on
    the partition key, same as any window over a fact."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal")
    pr = F.percent_rank().over(w)
    return s.select(
        "s_suppkey", "s_nationkey",
        pr.alias("pct_rank"),
        # least(..., 3): percent_rank hits exactly 1.0 on the max row,
        # which floor(pr*4) would put in a phantom 5th bucket
        F.least(F.floor(pr * 4), F.lit(3)).cast("long").alias("quartile"),
    )


@register(
    "window_rolling_median",
    # independent formulations: DuckDB evaluates its NATIVE median()
    # window aggregate over the frame; the Spark side builds the frame
    # list and takes the midpoint explicitly (no frame-median builtin)
    oracle="""
        SELECT event_id, user_id,
               round(median(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
                   AS rolling_median
        FROM events
    """,
    tags=("window", "rolling", "median", "robust"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row MEDIAN per user — the robust-smoothing twin of
    window_rolling_zscore (a median shrugs off the single-spike
    outliers that drag a rolling mean). Spark has no frame-median
    builtin, so the frame materializes as a sorted ≤7-element array
    (``array_sort(collect_list over frame)``) and the midpoint rule
    is explicit: odd → middle element, even → mean of the two middle
    (DuckDB's native window median applies the same rule, making the
    oracle an independent engine-level implementation, not a mirror).

    Scale: one (user_id) exchange; per-row state is the O(k) frame
    buffer — the standard trade of list-based frame aggregates; for
    large k swap in a t-digest/histogram sketch per frame (the
    agg_quantile_hist_est machinery)."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-6, Window.currentRow))
    s = F.array_sort(F.collect_list("value").over(w))
    n = F.size(s)
    mid = F.element_at(s, ((n + 1) / 2).cast("int"))
    even = (F.element_at(s, (n / 2).cast("int"))
            + F.element_at(s, (n / 2).cast("int") + 1)) / 2
    return ev.select(
        "event_id", "user_id",
        F.round(F.when(n % 2 == 1, mid).otherwise(even), 6)
        .alias("rolling_median"),
    )


#: EWMA decay: smoothing factor alpha = 0.3, so each step back in time
#: carries (1 - alpha) = 0.7 of the next-newer weight.
EWMA_DECAY = 0.7


@register(
    "window_ewma_smooth",
    oracle=f"""
        WITH framed AS (
            -- value IS NOT NULL on BOTH engines: Spark's
            -- collect_list silently drops NULLs while DuckDB's
            -- list() keeps them, so frames would diverge on NULL
            -- values (ADVICE r9 — latent, fixtures have none)
            SELECT event_id, user_id,
                   list(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 9 PRECEDING
                                              AND CURRENT ROW) AS vs
            FROM events WHERE value IS NOT NULL)
        SELECT event_id, user_id,
               round(
                   list_sum(list_transform(range(1, len(vs) + 1),
                       i -> vs[i] * pow({EWMA_DECAY}, len(vs) - i)))
                   / ((1 - pow({EWMA_DECAY}, len(vs)))
                      / (1 - {EWMA_DECAY})), 6) AS ewma
        FROM framed
    """,
    tags=("window", "ewma", "smoothing"),
)
def window_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's value
    series (trailing 10-row frame, alpha = 0.3, normalized weights —
    pandas ``ewm(adjust=True)`` semantics): the smoother that reacts
    to level shifts faster than the flat rolling mean and without the
    rolling median's lag, completing the smoothing trio beside
    window_rolling_zscore and window_rolling_median.

    Spark has no frame-EWMA builtin, so the frame materializes as an
    ordered ≤10-element array (``collect_list`` over the frame — frame
    order IS list order, the contract probe_fn_list_agg_order pins)
    and the weighted sum is one HOF pass: ``transform`` with the
    positional lambda gives each element weight 0.7^(n-1-i) (newest =
    1), and the normalizer is the closed-form geometric sum
    (1 - 0.7^n) / 0.3 — no running float state, so both engines fold
    the same ≤10 doubles in the same order (libm pow parity).

    Scale: one (user_id) exchange, O(k) per-row frame buffer — the
    window_rolling_median trade, with the same sketch swap available
    for large k. NULL values are filtered SYMMETRICALLY up front
    (ADVICE r9): Spark's collect_list drops NULLs while DuckDB's
    list() keeps them, so an explicit shared predicate is the only
    way the two frames agree by construction."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-9, Window.currentRow))
    vs = F.collect_list("value").over(w)
    n = F.size(vs)
    num = F.aggregate(
        F.zip_with(vs, F.sequence(F.lit(1), n),
                   lambda x, i: x * F.pow(F.lit(EWMA_DECAY),
                                          (n - i).cast("double"))),
        F.lit(0.0), lambda acc, x: acc + x)
    den = (1 - F.pow(F.lit(EWMA_DECAY), n.cast("double"))) / (1 - EWMA_DECAY)
    return ev.select(
        "event_id", "user_id",
        F.round(num / den, 6).alias("ewma"))


@register(
    "window_anchored_vwap",
    oracle="""
        WITH ev AS (
            SELECT event_id, event_type,
                   CAST(ts AS DATE) AS day,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS t,
                   CAST(value AS DECIMAL(18,6)) AS px,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS qty
            FROM events),
        c AS (
            SELECT event_id, event_type, day,
                   sum(px * qty) OVER w AS cum_pq,
                   sum(qty) OVER w AS cum_q
            FROM ev
            WINDOW w AS (PARTITION BY event_type, day ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))
        SELECT event_id,
               CAST(cum_q AS BIGINT) AS cum_qty,
               -- cum_pq / cum_q rounded half away from zero at 6
               -- places, in integers: DuckDB divides decimals in double
               CAST(sign(p) * sign(q) * ((2 * abs(p) + abs(q))
                                         // (2 * nullif(abs(q), 0)))
                    AS DOUBLE) / 1000000 AS vwap
        FROM (SELECT event_id, cum_q,
                     CAST(cum_pq * 1000000 AS HUGEINT) AS p,
                     CAST(cum_q AS HUGEINT) AS q
              FROM c)
    """,
    tags=("window", "vwap", "running", "decimal"),
)
def window_anchored_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored VWAP — the volume-weighted average price from each
    (event_type, day) session open up to every event, the execution
    benchmark every trading/pricing pipeline recomputes per tick:
    ``Σ(price·qty) / Σqty`` over the session prefix. Price is the
    event value, quantity comes out of the JSON props payload
    (exercising the JSON path inside a window pipeline — extract
    once, window over the result).

    Exactness discipline (the pagerank decimal rule): price is cast
    to DECIMAL(18,6) — one correctly-rounded conversion, identical on
    both engines — so BOTH running sums are exact decimal/integer
    arithmetic, order-independent. The division and its rounding at
    6 places (half away from zero) are exact decimal arithmetic too,
    and the one double is the final cast of that decimal: a quotient
    on an exact tie (59940.97 / 928 = 64.5915625 at sf0.1) would
    otherwise round by each engine's double rounding rule, and those
    differ. One (type, day)-keyed exchange,
    O(1) per-row frame state — the cumulative-window shape
    window_running_total pins, upgraded with real money semantics."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("t"),
        F.col("value").cast("decimal(18,6)").alias("px"),
        F.get_json_object("props", "$.k").cast("bigint").alias("qty"))
    w = (Window.partitionBy("event_type", "day").orderBy("t", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = ev.select(
        "event_id",
        F.sum(F.col("px") * F.col("qty")).over(w).alias("cum_pq"),
        F.sum("qty").over(w).alias("cum_q"))
    return c.select(
        "event_id",
        F.col("cum_q").cast("bigint").alias("cum_qty"),
        # nullif: a session prefix of zero-quantity ticks has no VWAP
        # (ANSI mode would otherwise raise on the division)
        F.round(F.col("cum_pq") / F.nullif(F.col("cum_q"), F.lit(0)), 6)
        .cast("double").alias("vwap"))


@register(
    "window_max_drawdown",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, value,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS t
            FROM events),
        dd AS (
            SELECT user_id, t, event_id,
                   max(value) OVER w - value AS drawdown,
                   count(*) OVER (PARTITION BY user_id) AS n_events
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))
        SELECT user_id,
               CAST(n_events AS BIGINT) AS n_events,
               round(drawdown, 6) AS max_drawdown,
               CAST(event_id AS BIGINT) AS at_event_id
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY drawdown DESC,
                                                    t, event_id) AS rn
              FROM dd)
        WHERE rn = 1
    """,
    tags=("window", "drawdown", "running", "timeseries"),
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's value series — running peak
    minus current value, maximized over the series: the risk metric
    every portfolio/SLO dashboard tracks (how far below its best has
    this series fallen, ever), and the one-sided cousin of
    time_cusum_changepoint's two-sided level-shift evidence. Emits
    per user the worst drawdown and the event where it bottomed
    (earliest on ties).

    Determinism: running max is a SELECTION (no float arithmetic, the
    time_downsample_m4 rule); the drawdown is one exact double
    subtraction of engine-identical operands; the arg-max rank breaks
    ties on (t, event_id). Plan: ONE user-keyed exchange shared by
    the running-max window, the count and the arg-max rank — O(1)
    per-row frame state at any scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.unix_micros("ts").alias("t"))
    w_run = (Window.partitionBy("user_id").orderBy("t", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("user_id")
    dd = ev.select(
        "user_id", "t", "event_id",
        (F.max("value").over(w_run) - F.col("value")).alias("drawdown"),
        F.count("*").over(w_all).alias("n_events"))
    w_pick = Window.partitionBy("user_id").orderBy(
        F.desc("drawdown"), F.asc("t"), F.asc("event_id"))
    return (dd.withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select("user_id",
                    F.col("n_events").cast("bigint").alias("n_events"),
                    F.round("drawdown", 6).alias("max_drawdown"),
                    F.col("event_id").cast("bigint").alias("at_event_id")))
