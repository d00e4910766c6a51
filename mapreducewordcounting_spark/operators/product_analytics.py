"""Product-analytics operators: funnel conversion and cohort retention.

The two canonical event-log questions a warehouse answers daily —
"how many users progress view → click → purchase, in order?" and
"of the users who first appeared in week W, how many were active in
week W+k?". The reference has no temporal reasoning at all (no time
type, SURVEY.md §1.2); these build on the `events` fixture.

Scale posture (100 TB event logs):
- Every per-user stage/cohort table is USER-dimension-sized (one row
  per user), produced by one filtered aggregate over the fact — the
  event fact never self-joins at event grain.
- The funnel's stage chain re-joins each stage table onto a
  TYPE-FILTERED fact scan (the filter is in PushedFilters, so stage k
  reads only its event type's row groups); AQE broadcasts the
  user-sized stage tables.
- All three funnel aggregates hash-partition on user_id — on a
  cluster, one `repartition(user_id)` upstream makes the chain reuse
  a single exchange.
- Retention's activity table is `distinct (user, week)` — bounded by
  users × weeks, not events; the cohort join is user-keyed and the
  final rollup is |weeks|² rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.registry import register


@register(
    "funnel_3step",
    oracle="""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        SELECT '1_view' AS stage, count(*) AS n_users FROM s1
        UNION ALL SELECT '2_click', count(*) FROM s2
        UNION ALL SELECT '3_purchase', count(*) FROM s3
    """,
    tags=("analytics", "funnel", "events"),
)
def funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion: a user counts for stage k only with
    a stage-k event STRICTLY AFTER their stage-(k-1) entry time (first
    qualifying occurrence, the standard strict-ordering funnel). Each
    stage is one filtered aggregate producing a user-sized table that
    joins onto the next type-filtered fact scan — event-grain data is
    aggregated before every join, so nothing larger than |users| ever
    exchanges twice."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts")
    s1 = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    s2 = (ev.filter(F.col("event_type") == "click")
          .join(s1, "user_id")
          .filter(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    s3 = (ev.filter(F.col("event_type") == "purchase")
          .join(s2, "user_id")
          .filter(F.col("ts") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))
    return (
        s1.agg(F.count("*").alias("n_users"))
        .select(F.lit("1_view").alias("stage"), "n_users")
        .unionByName(
            s2.agg(F.count("*").alias("n_users"))
            .select(F.lit("2_click").alias("stage"), "n_users"))
        .unionByName(
            s3.agg(F.count("*").alias("n_users"))
            .select(F.lit("3_purchase").alias("stage"), "n_users"))
    )


@register(
    "retention_cohort_weekly",
    oracle="""
        WITH first_seen AS (
            SELECT user_id,
                   date_trunc('week', min(ts)) AS cohort
            FROM events GROUP BY 1),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
            FROM events)
        SELECT CAST(f.cohort AS DATE) AS cohort_week,
               CAST(date_diff('day', f.cohort, a.wk) / 7 AS BIGINT)
                   AS week_offset,
               count(*) AS n_active
        FROM activity a JOIN first_seen f USING (user_id)
        GROUP BY 1, 2
    """,
    tags=("analytics", "retention", "cohort", "events"),
)
def retention_cohort_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = ISO week of a user's
    first event; n_active = cohort members with any event in cohort
    week + offset. The activity table is `distinct (user, week)` —
    bounded by |users| × |weeks| regardless of event volume — and the
    cohort assignment is one min-aggregate, so the whole matrix costs
    two user-keyed aggregates + one user-keyed join; the output is
    |weeks|² rows. Both engines truncate weeks to ISO Monday, and
    offsets divide exactly (both ends are week-truncated)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort"))
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    return (
        activity.join(first, "user_id")
        .groupBy(
            F.col("cohort").cast("date").alias("cohort_week"),
            (F.datediff("wk", "cohort") / 7).cast("long")
            .alias("week_offset"))
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "basket_pair_affinity",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, p_brand
            FROM lineitem JOIN part ON l_partkey = p_partkey),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
        r AS (SELECT p_brand, count(*) AS n_br FROM items GROUP BY 1),
        pc AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   count(*) AS n_pair
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2)
        SELECT pc.brand_a, pc.brand_b, pc.n_pair,
               round(CAST(pc.n_pair AS DOUBLE) * n.n_orders
                     / (ra.n_br * rb.n_br), 6) AS lift
        FROM pc
        CROSS JOIN n
        JOIN r ra ON ra.p_brand = pc.brand_a
        JOIN r rb ON rb.p_brand = pc.brand_b
    """,
    tags=("analytics", "basket", "cooccurrence"),
)
def basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift — which brands ship on the
    same order more often than independence predicts. The pair space is
    generated MAP-SIDE from per-order item arrays (collect_set → sorted
    array → within-array combinations via transform/slice HOFs), so:

    - shuffle budget is 2 order-keyed aggregates (basket build, pair
      count) — the distinct+self-join formulation (kept as the oracle's
      semantic spec) would pay an extra exchange to co-locate both join
      sides;
    - fan-out is |basket|² per ORDER (bounded by basket size, ≤17 here
      — a per-row property AQE handles), never |brand-frequency|² per
      key the way an item-keyed inverted self-join would explode;
    - brand rates and the order count are tiny broadcast aggregates;
      lift's integer products are exact, the single division is IEEE-
      identical in both engines, rounded at 6.
    `brands` is a CONCRETE post-aggregation column, so referencing it
    inside the pair lambdas is a cheap attribute read — not the
    re-evaluated-expression HOF cliff (SCALING.md)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Both cuts kept (BASELINE.md, one-shot checkpoint audit): without
    # this one, its three consumers re-scan (scans 2 → 6, sf0.1 wall
    # 3.2 → 4.3 s); without `rates`, 12 → 11 jobs but sf0.1 wall lost
    # 3 of 5 pairs.
    items = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
             .select("l_orderkey", "p_brand").distinct()
             .localCheckpoint(eager=True))
    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("brands"))
    pair = F.explode(F.flatten(F.transform(
        F.col("brands"),
        lambda x, i: F.transform(
            F.slice(F.col("brands"), i + 2,
                    F.size(F.col("brands"))),
            lambda y: F.struct(x.alias("a"), y.alias("b"))))))
    pc = (baskets.select(pair.alias("p"))
          .groupBy(F.col("p.a").alias("brand_a"),
                   F.col("p.b").alias("brand_b"))
          .agg(F.count("*").alias("n_pair")))
    n_orders = items.select(
        F.count_distinct("l_orderkey").alias("n_orders"))
    rates = (items.groupBy("p_brand").agg(F.count("*").alias("n_br"))
             .localCheckpoint(eager=True))
    ra = rates.select(F.col("p_brand").alias("brand_a"),
                      F.col("n_br").alias("n_a"))
    rb = rates.select(F.col("p_brand").alias("brand_b"),
                      F.col("n_br").alias("n_b"))
    return (
        pc.crossJoin(F.broadcast(n_orders))
        .join(F.broadcast(ra), "brand_a")
        .join(F.broadcast(rb), "brand_b")
        .select(
            "brand_a", "brand_b", "n_pair",
            F.round(F.col("n_pair").cast("double") * F.col("n_orders")
                    / (F.col("n_a") * F.col("n_b")), 6).alias("lift"))
    )


@register(
    "growth_accounting_daily",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   CAST(date_trunc('day', min(ts)) AS DATE) AS first_day
            FROM events GROUP BY 1),
        dau AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(DISTINCT user_id) AS n_active
            FROM events GROUP BY 1),
        news AS (
            SELECT first_day AS day, count(*) AS n_new
            FROM firsts GROUP BY 1)
        SELECT d.day, d.n_active,
               coalesce(n.n_new, 0) AS n_new,
               CAST(sum(coalesce(n.n_new, 0)) OVER (
                   ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_users
        FROM dau d LEFT JOIN news n USING (day)
    """,
    tags=("analytics", "growth", "events"),
)
def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: active users, new users, and
    CUMULATIVE distinct users per day. The cumulative-distinct is the
    textbook trap — a naive `count(distinct) over (order by day)`
    window either doesn't exist or re-scans history per day. The
    scalable identity: a user is counted exactly once, on their FIRST
    day, so cumulative distinct = running SUM of daily first-timers —
    one user-keyed min-aggregate plus a cumsum over the |days|-row
    rollup. DAU rides its own day-keyed aggregate. The final window
    runs over |days| rows on one partition — fine for a calendar
    (thousands of rows), never applied to event grain."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    day = F.date_trunc("day", "ts").cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    news = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new"))
    dau = ev.groupBy(day.alias("day")).agg(
        F.count_distinct("user_id").alias("n_active"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        dau.join(news, "day", "left")
        .select(
            "day", "n_active",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w))
    )


@register(
    "rfm_segmentation",
    oracle="""
        WITH anchor AS (
            SELECT max(CAST(o_orderdate AS DATE)) AS now_d FROM orders),
        rfm AS (
            SELECT o.o_custkey AS custkey,
                   date_diff('day', max(CAST(o.o_orderdate AS DATE)),
                             a.now_d) AS recency_days,
                   count(*) AS frequency,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS monetary
            FROM orders o CROSS JOIN anchor a
            GROUP BY o.o_custkey, a.now_d),
        scored AS (
            SELECT custkey, recency_days, frequency, monetary,
                   ntile(4) OVER (ORDER BY recency_days DESC, custkey)
                       AS r_score,
                   ntile(4) OVER (ORDER BY frequency, custkey) AS f_score,
                   ntile(4) OVER (ORDER BY monetary, custkey) AS m_score
            FROM rfm)
        SELECT r_score, f_score, m_score,
               count(*) AS n_customers,
               round(avg(monetary), 6) AS avg_monetary
        FROM scored
        GROUP BY 1, 2, 3
    """,
    tags=("analytics", "rfm", "segmentation"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quartiles, the warehouse-classic base for lifecycle marketing and
    churn models. Each dimension quartiles independently (higher score
    = better: recent, frequent, high-spend), customers roll up into
    the 4×4×4 segment grid.

    Determinism and scale: the anchor "now" is max(order date) — a
    1-row broadcast aggregate, never wall-clock (wall-clock would make
    the result unreproducible); per-customer RFM is one customer-keyed
    aggregate with exact-decimal monetary; ntile orders carry a
    custkey tiebreak because quartile boundaries on tied metrics are
    otherwise engine-dependent. The three global ntiles sort the
    CUSTOMER-grain table (not orders) — at extreme |customers| each
    becomes a percentile-bucket join against approx quantile bounds,
    same downstream grid."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"))
    anchor = o.agg(F.max("od").alias("now_d"))
    rfm = (o.crossJoin(F.broadcast(anchor))
           .groupBy("o_custkey", "now_d")
           .agg(F.max("od").alias("last_od"),
                F.count("*").alias("frequency"),
                F.sum("price").cast("double").alias("monetary"))
           .select(F.col("o_custkey").alias("custkey"),
                   F.datediff("now_d", "last_od").alias("recency_days"),
                   "frequency", "monetary"))
    r_w = Window.orderBy(F.desc("recency_days"), F.asc("custkey"))
    f_w = Window.orderBy(F.asc("frequency"), F.asc("custkey"))
    m_w = Window.orderBy(F.asc("monetary"), F.asc("custkey"))
    scored = rfm.select(
        "monetary",
        F.ntile(4).over(r_w).alias("r_score"),
        F.ntile(4).over(f_w).alias("f_score"),
        F.ntile(4).over(m_w).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("monetary"), 6).alias("avg_monetary"),
    )


@register(
    "event_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                       AS prev_type
            FROM events),
        trans AS (
            SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2),
        outs AS (
            SELECT prev_type, sum(n) AS n_out FROM trans GROUP BY 1)
        SELECT t.prev_type, t.next_type, t.n,
               round(CAST(t.n AS DOUBLE) / o.n_out, 6) AS p
        FROM trans t JOIN outs o USING (prev_type)
    """,
    tags=("analytics", "clickstream", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream:
    P(next_type | prev_type) from each user's consecutive event pairs
    — the clickstream model behind next-action prediction, funnel
    drop-off diagnosis, and bot detection (bots have degenerate rows).

    One window pass per user (lag over the (ts, event_id) order — the
    same user-keyed sort every sessionization query reuses), then a
    |types|²-bounded aggregate; the row-normalizing totals join is
    |types|-sized and broadcast. The transition COUNTS are exact
    integers; only the final normalizing division is float, identical
    in both engines, rounded at 6."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    outs = trans.groupBy("prev_type").agg(F.sum("n").alias("n_out"))
    return (
        trans.join(F.broadcast(outs), "prev_type")
        .select("prev_type", "next_type", "n",
                F.round(F.col("n").cast("double") / F.col("n_out"), 6)
                .alias("p"))
    )


#: journey patterns: conversion = signup, then only clicks/views,
#: then purchase; abandonment = the same prefix ending in an error
CONVERT_PATTERN = "s[cv]*p"
ABANDON_PATTERN = "s[cv]*e"


@register(
    "events_pattern_regex",
    oracle=f"""
        WITH j AS (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS journey
            FROM events GROUP BY user_id)
        SELECT user_id, journey,
               CAST(len(regexp_extract_all(journey, '{CONVERT_PATTERN}'))
                    AS BIGINT) AS n_convert,
               CAST(len(regexp_extract_all(journey, '{ABANDON_PATTERN}'))
                    AS BIGINT) AS n_abandon
        FROM j
    """,
    tags=("analytics", "pattern", "sequence", "regex"),
)
def events_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event journeys — the
    MATCH_RECOGNIZE-lite every product-analytics stack ships: encode
    each user's time-ordered events as a character string (c/e/p/s/v
    initials — distinct by construction here; a real deployment maps
    through an explicit dictionary) and count non-overlapping regex
    matches: conversions (signup → only clicks/views → purchase) and
    abandonments (same prefix ending in an error). Regexes this
    simple (no alternation, single greedy class) match identically
    under Java regex and RE2, so the count is engine-portable; the
    journey string itself is emitted for auditability, ordered by
    (ts, event_id) so ties are deterministic.

    Scale shape: one exchange on user_id (the collect_list +
    array_sort reassembly — same idiom as tokenize-to-ids); pattern
    counting is a codegen'd regexp over the reassembled string. The
    unbounded-journey hazard is real at 100 TB — production bounds
    the string per (user, session window), which this op composes
    with the sessionization operators; per-user journeys here are
    event-rate-bounded."""
    ev = load_table(spark, sf_dir, "events")
    journey = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(F.struct(
                "ts", "event_id",
                F.substring("event_type", 1, 1).alias("i")))),
            lambda x: x["i"],
        ),
    )
    return ev.groupBy("user_id").agg(
        journey.alias("journey"),
    ).select(
        "user_id", "journey",
        F.regexp_count("journey", F.lit(CONVERT_PATTERN)).cast("bigint")
        .alias("n_convert"),
        F.regexp_count("journey", F.lit(ABANDON_PATTERN)).cast("bigint")
        .alias("n_abandon"),
    )


#: last-touch attribution lookback (event-time µs): 7 days
ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000
#: channels that can claim credit for a purchase
ATTR_CHANNELS = ("click", "view")


@register(
    "attribution_last_touch",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
                   event_id, event_type
            FROM events),
        touched AS (
            SELECT user_id, t, event_id, event_type,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN t END IGNORE NULLS)
                       OVER w AS touch_t,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN event_type END IGNORE NULLS)
                       OVER w AS touch_type
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING))
        SELECT CASE WHEN touch_t IS NOT NULL
                     AND t - touch_t <= {ATTR_WINDOW_US}
                    THEN touch_type ELSE 'direct' END AS channel,
               count(*) AS n_purchases,
               count(DISTINCT user_id) AS n_buyers
        FROM touched
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    tags=("analytics", "attribution", "window"),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution — every purchase credits the
    user's most recent click/view STRICTLY BEFORE it (tie-break
    (ts, event_id), the repo's discipline) and within a 7-day
    lookback; purchases with no live touch are 'direct'. The
    campaign-reporting primitive next to funnel_3step's conversion
    and retention_cohort_weekly's stickiness.

    Plan: ONE user-keyed window pass (last_value IGNORE NULLS over
    rows-preceding) carries the latest touch to every event — no
    self-join, no per-purchase scan — then a channel-grain aggregate.
    At 100 TB this is the single exchange a sessionizing pipeline
    already pays; the lookback comparison is integer µs arithmetic,
    and outputs are pure counts."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id",
        "event_type")
    w = (Window.partitionBy("user_id").orderBy("t", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    is_touch = F.col("event_type").isin(*ATTR_CHANNELS)
    touched = ev.select(
        "user_id", "t", "event_type",
        F.last(F.when(is_touch, F.col("t")), ignorenulls=True)
        .over(w).alias("touch_t"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w).alias("touch_type"),
    )
    channel = F.when(
        F.col("touch_t").isNotNull()
        & (F.col("t") - F.col("touch_t") <= ATTR_WINDOW_US),
        F.col("touch_type")).otherwise("direct")
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(F.count("*").alias("n_purchases"),
             F.countDistinct("user_id").alias("n_buyers"))
    )


@register(
    "attribution_linear_multi_touch",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
                   event_id, event_type
            FROM events),
        p AS (SELECT user_id, t AS pt, event_id AS pid FROM ev
              WHERE event_type = 'purchase'),
        tch AS (SELECT user_id, t AS tt, event_id AS tid,
                       event_type AS channel
                FROM ev WHERE event_type IN ('click', 'view')),
        pairs AS (
            SELECT p.pid, tch.channel
            FROM p LEFT JOIN tch
              ON p.user_id = tch.user_id
             AND (tch.tt < p.pt
                  OR (tch.tt = p.pt AND tch.tid < p.pid))
             AND p.pt - tch.tt <= {7 * 24 * 3600 * 1_000_000}),
        credited AS (
            SELECT pid,
                   coalesce(channel, 'direct') AS channel,
                   CASE WHEN channel IS NULL THEN 1.0
                        ELSE 1.0 / count(*) OVER (PARTITION BY pid)
                   END AS credit
            FROM pairs)
        SELECT channel,
               round(sum(credit), 6) AS credit,
               count(DISTINCT pid) AS n_purchases
        FROM credited
        GROUP BY channel
    """,
    tags=("analytics", "attribution", "multi-touch"),
)
def attribution_linear_multi_touch(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution — each purchase
    splits 1.0 credit equally across EVERY click/view strictly before
    it (tie-break (ts, event_id)) within the 7-day lookback; a
    purchase with no live touch credits 'direct' in full. The
    many-touch counterpart of attribution_last_touch: last-touch
    answers "what closed", linear answers "what participated" —
    together they bracket any position-based scheme.

    Plan shape: unlike last-touch (one window pass), linear credit is
    genuinely pairwise, so this is the repo's bounded-fanout join
    pattern (funnel_3step precedent): purchases LEFT JOIN touches on
    the USER equi-key with the time band as a residual — pair volume
    is Σ per-user purchases × touches inside one week, per-user
    bounded, never |events|². The per-purchase touch count is a
    window over the pair set keyed by purchase id (same exchange),
    and the final channel rollup is a |channels|-row aggregate.
    Credit sums are 1/n doubles rounded at 6 on both engines
    (agg_regression's contract)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id",
        "event_type")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("t").alias("pt"),
                 F.col("event_id").alias("pid")))
    tch = (ev.filter(F.col("event_type").isin(*ATTR_CHANNELS))
           .select(F.col("user_id").alias("t_user"),
                   F.col("t").alias("tt"),
                   F.col("event_id").alias("tid"),
                   F.col("event_type").alias("channel")))
    pairs = p.join(
        tch,
        (F.col("user_id") == F.col("t_user"))
        & ((F.col("tt") < F.col("pt"))
           | ((F.col("tt") == F.col("pt")) & (F.col("tid") < F.col("pid"))))
        & (F.col("pt") - F.col("tt") <= ATTR_WINDOW_US),
        "left")
    w_p = Window.partitionBy("pid")
    credited = pairs.select(
        "pid",
        F.coalesce("channel", F.lit("direct")).alias("channel_out"),
        F.when(F.col("channel").isNull(), F.lit(1.0))
        .otherwise(F.lit(1.0) / F.count("*").over(w_p)).alias("credit"))
    return (
        credited.groupBy(F.col("channel_out").alias("channel"))
        .agg(F.round(F.sum("credit"), 6).alias("credit"),
             F.countDistinct("pid").alias("n_purchases"))
    )


@register(
    "events_time_to_convert",
    oracle="""
        WITH ev AS (
            SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
                   event_id, event_type
            FROM events),
        su AS (
            SELECT user_id, t AS s_t, event_id AS s_id
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY t, event_id) AS rn
                  FROM ev WHERE event_type = 'signup')
            WHERE rn = 1),
        first_p AS (
            SELECT p.user_id, su.s_t, min(p.t) AS p_t
            FROM ev p JOIN su ON p.user_id = su.user_id
            WHERE p.event_type = 'purchase'
              AND (p.t > su.s_t
                   OR (p.t = su.s_t AND p.event_id > su.s_id))
            GROUP BY p.user_id, su.s_t),
        cohort AS (
            SELECT user_id,
                   CAST(date_trunc('week', make_timestamp(s_t)) AS DATE)
                       AS week
            FROM su),
        conv AS (
            SELECT c.week, f.p_t - f.s_t AS delta_us
            FROM first_p f JOIN cohort c ON f.user_id = c.user_id),
        base AS (
            SELECT week, count(*) AS n_signups FROM cohort GROUP BY week)
        SELECT b.week AS cohort_week,
               CAST(b.n_signups AS BIGINT) AS n_signups,
               CAST(coalesce(v.n_conv, 0) AS BIGINT) AS n_converted,
               round(CAST(coalesce(v.n_conv, 0) AS DOUBLE)
                     / b.n_signups, 6) AS conversion_rate,
               round(CAST(v.p50_us AS DOUBLE) / 3600000000.0, 6)
                   AS p50_hours,
               round(CAST(v.p90_us AS DOUBLE) / 3600000000.0, 6)
                   AS p90_hours
        FROM base b
        LEFT JOIN (SELECT week, count(*) AS n_conv,
                          quantile_disc(delta_us, 0.5) AS p50_us,
                          quantile_disc(delta_us, 0.9) AS p90_us
                   FROM conv GROUP BY week) v
               ON b.week = v.week
    """,
    tags=("analytics", "conversion", "latency", "cohort"),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase latency by weekly signup cohort — the
    time-to-value curve next to funnel_3step's WHETHER and
    retention_cohort_weekly's HOW LONG: for each user, the first
    purchase STRICTLY AFTER their first signup ((ts, event_id)
    tie-break on both ends), reported per cohort week as conversion
    rate plus exact discrete p50/p90 of the delay.

    Plan: one aggregate to per-user first-signup (min over a
    (t, event_id) struct — the agg_argminmax idiom), one user-keyed
    join to purchases with the strictly-after residual, and a
    |weeks|-grain rollup; exact percentiles group the converted
    deltas once (the agg_percentile_disc trade — at 100 TB swap for
    the mergeable approx sketch). Determinism: all timestamps are
    integer µs; the delay is an exact BIGINT; discrete quantiles
    return actual data values; only the final rate/hours divisions
    are doubles, rounded at 6."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id",
        "event_type")
    su = (ev.filter(F.col("event_type") == "signup")
          .groupBy("user_id")
          .agg(F.min(F.struct("t", "event_id")).alias("s")))
    pu = (ev.filter(F.col("event_type") == "purchase")
          .select("user_id", F.col("t").alias("pt"),
                  F.col("event_id").alias("pid")))
    first_p = (
        pu.join(su, "user_id")
        .filter((F.col("pt") > F.col("s.t"))
                | ((F.col("pt") == F.col("s.t"))
                   & (F.col("pid") > F.col("s.event_id"))))
        .groupBy("user_id", F.col("s.t").alias("s_t"))
        .agg(F.min("pt").alias("p_t")))
    cohort = su.select(
        "user_id",
        F.date_trunc("week", F.timestamp_micros(F.col("s.t")))
        .cast("date").alias("week"))
    conv = (first_p.join(cohort, "user_id")
            .select("week", (F.col("p_t") - F.col("s_t")).alias("delta_us")))
    base = cohort.groupBy("week").agg(F.count("*").alias("n_signups"))
    v = conv.groupBy("week").agg(
        F.count("*").alias("n_conv"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY delta_us)")
        .alias("p50_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY delta_us)")
        .alias("p90_us"))
    return (
        base.join(v, "week", "left")
        .select(F.col("week").alias("cohort_week"),
                F.col("n_signups").cast("bigint").alias("n_signups"),
                F.coalesce("n_conv", F.lit(0)).cast("bigint")
                .alias("n_converted"),
                F.round(F.coalesce("n_conv", F.lit(0)).cast("double")
                        / F.col("n_signups"), 6).alias("conversion_rate"),
                F.round(F.col("p50_us").cast("double") / 3600000000.0, 6)
                .alias("p50_hours"),
                F.round(F.col("p90_us").cast("double") / 3600000000.0, 6)
                .alias("p90_hours"))
    )


@register(
    "events_stickiness",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events),
        dau AS (
            SELECT day, count(*) AS dau FROM du GROUP BY day),
        m AS (
            SELECT CAST(date_trunc('month', day) AS DATE) AS month,
                   count(*) AS n_days,
                   sum(dau) AS sum_dau
            FROM dau GROUP BY 1),
        mau AS (
            SELECT CAST(date_trunc('month', day) AS DATE) AS month,
                   count(DISTINCT user_id) AS mau
            FROM du GROUP BY 1)
        SELECT m.month,
               CAST(m.n_days AS BIGINT) AS n_days,
               CAST(mau.mau AS BIGINT) AS mau,
               round(CAST(m.sum_dau AS DOUBLE) / m.n_days, 6) AS avg_dau,
               round(CAST(m.sum_dau AS DOUBLE) / m.n_days / mau.mau, 6)
                   AS stickiness
        FROM m JOIN mau USING (month)
    """,
    tags=("analytics", "stickiness", "engagement"),
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio every
    product review quotes (what fraction of the monthly audience
    shows up on an average day; 1.0 = everyone, every day): average
    daily active users over the month's OBSERVED days divided by
    monthly actives. Completes the engagement ledger beside
    growth_accounting_daily (volume) and retention_cohort_weekly
    (longevity).

    Plan: ONE distinct to the (day, user) grain feeds both counters —
    DAU is a day-grain count, MAU a month-grain distinct — then the
    ratio lives on the |months| grid. Exactness: both counters are
    exact BIGINTs; avg_dau and stickiness are the same left-to-right
    division chain on both engines, rounded at 6. At 100 TB the
    (day, user) distinct is the one real exchange, and it is the
    exchange growth accounting already pays; swap the month-grain
    distinct for HLL when users stop fitting (the mau column is the
    only holistic term)."""
    ev = load_table(spark, sf_dir, "events")
    du = (ev.select(F.to_date("ts").alias("day"), "user_id")
          .distinct()
          # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut,
          # both counters re-scan: scans 1 → 2.
          .localCheckpoint())
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    m = (dau.groupBy(F.date_trunc("month", "day").cast("date")
                     .alias("month"))
         .agg(F.count("*").alias("n_days"),
              F.sum("dau").alias("sum_dau")))
    mau = (du.groupBy(F.date_trunc("month", "day").cast("date")
                      .alias("month"))
           .agg(F.countDistinct("user_id").alias("mau")))
    avg_dau = F.col("sum_dau").cast("double") / F.col("n_days")
    return (m.join(F.broadcast(mau), "month")
            .select("month",
                    F.col("n_days").cast("bigint").alias("n_days"),
                    F.col("mau").cast("bigint").alias("mau"),
                    F.round(avg_dau, 6).alias("avg_dau"),
                    F.round(avg_dau / F.col("mau"), 6)
                    .alias("stickiness")))
