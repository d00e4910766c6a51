"""Corpus / feature drift monitoring (north-star extension, no
reference counterpart — the reference is a single word-count query,
sendFileByFile.cpp:447-498; these are the monitoring queries a
continuously-ingesting 100 TB training corpus runs to detect when the
data feeding the pipeline has shifted).

Scale posture: every operator here reduces event/document grain to a
(group × fixed-bucket) grid in ONE keyed aggregate, then does all
divergence math on the grid (|groups|·|buckets| rows — thousands,
never data-sized). No driver-side state, no second scan of the input.

Determinism posture: bucket edges are computed from the data with
closed-form arithmetic (equal-width over the reference window's
min/max), never engine-private quantile sketches, and the time split
uses second-truncated epochs (SURVEY §7.3) — so the whole monitor is
exactly reproducible on any engine and fully DuckDB-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.registry import register

#: PSI bucket count (industry-standard 10 equal-width buckets)
PSI_BUCKETS = 10
#: additive smoothing so empty buckets don't blow up ln(p/q); the
#: +0.5/+B·0.5 form (Jeffreys) keeps probabilities strictly positive
#: and is the same closed form on both engines.
PSI_ALPHA = 0.5

#: shard fan for the mix-entropy monitor
N_SHARDS = 16

_SQL_SHARD = ("CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
              f"AS BIGINT) % {N_SHARDS}")


@register(
    "drift_psi_value",
    oracle=f"""
        WITH se AS (
            SELECT event_type, value,
                   CAST(extract(epoch FROM date_trunc('second', ts))
                        AS BIGINT) AS s
            FROM events),
        split AS (SELECT (min(s) + max(s)) // 2 AS mid FROM se),
        lab AS (
            SELECT event_type, value, s <= (SELECT mid FROM split) AS is_ref
            FROM se),
        stats AS (
            SELECT event_type, min(value) AS vmin, max(value) AS vmax,
                   count(*) AS n_ref
            FROM lab WHERE is_ref GROUP BY 1),
        cur_n AS (
            SELECT event_type, count(*) AS n_cur
            FROM lab WHERE NOT is_ref GROUP BY 1),
        bkt AS (
            SELECT l.event_type, l.is_ref,
                   CASE WHEN s.vmax > s.vmin THEN
                       least({PSI_BUCKETS - 1}, greatest(0,
                           CAST(floor((l.value - s.vmin)
                                / ((s.vmax - s.vmin) / {PSI_BUCKETS}.0))
                               AS BIGINT)))
                   ELSE 0 END AS bucket
            FROM lab l JOIN stats s USING (event_type)),
        grid AS (
            SELECT s.event_type, s.n_ref, c.n_cur, u.range AS bucket
            FROM stats s JOIN cur_n c USING (event_type),
                 range(0, {PSI_BUCKETS}) AS u),
        cnt AS (
            SELECT event_type, bucket,
                   count(*) FILTER (WHERE is_ref) AS c_ref,
                   count(*) FILTER (WHERE NOT is_ref) AS c_cur
            FROM bkt GROUP BY 1, 2)
        SELECT g.event_type, g.n_ref, g.n_cur,
               round(sum(
                   ((coalesce(c.c_cur, 0) + {PSI_ALPHA})
                        / (g.n_cur + {PSI_BUCKETS} * {PSI_ALPHA})
                    - (coalesce(c.c_ref, 0) + {PSI_ALPHA})
                        / (g.n_ref + {PSI_BUCKETS} * {PSI_ALPHA}))
                   * ln(((coalesce(c.c_cur, 0) + {PSI_ALPHA})
                            / (g.n_cur + {PSI_BUCKETS} * {PSI_ALPHA}))
                        / ((coalesce(c.c_ref, 0) + {PSI_ALPHA})
                            / (g.n_ref + {PSI_BUCKETS} * {PSI_ALPHA})))),
                   6) AS psi
        FROM grid g LEFT JOIN cnt c
             ON g.event_type = c.event_type AND g.bucket = c.bucket
        GROUP BY 1, 2, 3
    """,
    tags=("drift", "monitoring", "psi", "events"),
)
def drift_psi_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the `value` distribution per
    event type — first half of the time range (reference window) vs
    second half (current window), the standard "did the feature
    distribution move under me" monitor for models and for training
    corpora alike (PSI > 0.2 is the classic retrain trigger).

    Bucketing is 10 EQUAL-WIDTH bins over the reference window's
    [min, max] per type (current values clamp into the edge bins) —
    closed-form, engine-portable edges, unlike quantile-sketch edges
    which are engine-private. Jeffreys smoothing (+0.5 per bucket)
    keeps ln(p/q) finite when a bin is empty.

    Shape at scale: one pass labels each event ref/current against a
    broadcast 1-row split point, one keyed aggregate produces the
    (type × 10)-bucket count grid, and EVERYTHING else — per-window
    totals, the dense bucket grid, the PSI sum — derives from that
    grid (|types|·10 rows), never from a re-scan. Two scans of events
    total (reference min/max/stats + the bucket counts), both
    column-pruned to (event_type, value, ts)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("s"))
    split = ev.agg(F.expr("(min(s) + max(s)) div 2").alias("mid"))
    lab = (ev.crossJoin(F.broadcast(split))
           .select("event_type", "value",
                   (F.col("s") <= F.col("mid")).alias("is_ref")))
    stats = (lab.filter("is_ref").groupBy("event_type")
             .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax")))
    width = (F.col("vmax") - F.col("vmin")) / float(PSI_BUCKETS)
    bucket = F.when(
        F.col("vmax") > F.col("vmin"),
        F.least(F.lit(PSI_BUCKETS - 1), F.greatest(
            F.lit(0),
            F.floor((F.col("value") - F.col("vmin")) / width)
            .cast("bigint")))).otherwise(0)
    # scan 2: one keyed aggregate to the (type, bucket) grid; window
    # totals (n_ref / n_cur) are grid sums, NOT a third event scan.
    cnt = (lab.join(F.broadcast(stats), "event_type")
           .select("event_type", "is_ref", bucket.alias("bucket"))
           .groupBy("event_type", "bucket")
           .agg(F.count_if("is_ref").alias("c_ref"),
                F.count_if(~F.col("is_ref")).alias("c_cur"))
           # Cut kept (BASELINE.md, one-shot checkpoint audit): uncut
           # reads 10 → 9 jobs and the same 3 scans (its three
           # consumers share the exchanges), but sf0.1 wall lost 3
           # of 5 pairs.
           .localCheckpoint(eager=True))
    totals = (cnt.groupBy("event_type")
              .agg(F.sum("c_ref").alias("n_ref"),
                   F.sum("c_cur").alias("n_cur"))
              # PSI needs both windows populated (the oracle's inner
              # joins state the same): a type absent from either
              # window has no divergence to measure.
              .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0)))
    grid = totals.select(
        "event_type", "n_ref", "n_cur",
        F.explode(F.sequence(F.lit(0), F.lit(PSI_BUCKETS - 1)))
        .alias("bucket"))
    denom_r = F.col("n_ref") + PSI_BUCKETS * PSI_ALPHA
    denom_c = F.col("n_cur") + PSI_BUCKETS * PSI_ALPHA
    p_ref = (F.coalesce("c_ref", F.lit(0)) + PSI_ALPHA) / denom_r
    p_cur = (F.coalesce("c_cur", F.lit(0)) + PSI_ALPHA) / denom_c
    return (grid.join(cnt, ["event_type", "bucket"], "left")
            .groupBy("event_type", "n_ref", "n_cur")
            .agg(F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 6)
                 .alias("psi")))


@register(
    "shard_mix_entropy",
    oracle=f"""
        WITH s AS (
            SELECT {_SQL_SHARD} AS shard, source FROM documents),
        c AS (
            SELECT shard, source, count(*) AS n
            FROM s GROUP BY 1, 2),
        p AS (
            SELECT shard, n,
                   n * 1.0 / sum(n) OVER (PARTITION BY shard) AS frac
            FROM c)
        SELECT shard,
               CAST(sum(n) AS BIGINT) AS n_docs,
               count(*) AS n_sources,
               round(-sum(frac * ln(frac)), 6) AS entropy
        FROM p
        GROUP BY shard
    """,
    tags=("drift", "monitoring", "entropy", "sharding"),
)
def shard_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix entropy per training shard: hash documents into
    {N_SHARDS} shards (the deterministic md5 bucket every sampling op
    here uses) and measure the Shannon entropy of each shard's source
    distribution. A healthy shuffle gives every shard near-identical,
    near-maximal entropy; a low-entropy shard means source-correlated
    placement — the silent failure mode that makes training batches
    non-IID (loss spikes on shard boundaries).

    One shuffle to (shard, source) count grain, then all entropy math
    on the |shards|·|sources| grid via a shard-partitioned window —
    never a second pass over documents."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16, 10).cast("bigint") % N_SHARDS)
    c = (docs.select(shard.alias("shard"), "source")
         .groupBy("shard", "source").agg(F.count("*").alias("n")))
    from pyspark.sql import Window
    tot = F.sum("n").over(Window.partitionBy("shard"))
    p = F.col("n") * F.lit(1.0) / tot
    return (c.select("shard", "n", (p * F.log(p)).alias("plogp"))
            .groupBy("shard")
            .agg(F.sum("n").cast("bigint").alias("n_docs"),
                 F.count("*").alias("n_sources"),
                 F.round(-F.sum("plogp"), 6).alias("entropy")))


@register(
    "time_cusum_changepoint",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   count(*) AS n
            FROM events GROUP BY 1, 2),
        dev AS (
            SELECT event_type, day, n,
                   CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)
                       / count(*) OVER (PARTITION BY event_type) AS mu,
                   count(*) OVER (PARTITION BY event_type) AS n_days
            FROM daily),
        cusum AS (
            SELECT event_type, day, mu, n_days,
                   sum(n - mu) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS s
            FROM dev)
        SELECT event_type, day AS cp_day,
               round(abs(s), 6) AS max_abs_cusum,
               round(mu, 6) AS mean_daily,
               CAST(n_days AS BIGINT) AS n_days
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY abs(s) DESC, day)
                            AS rn
              FROM cusum)
        WHERE rn = 1
    """,
    tags=("drift", "monitoring", "changepoint", "cusum"),
)
def time_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily event-rate series —
    the classic level-shift monitor (Page 1954): per event type,
    cumulative sum of deviations from the series mean peaks (in
    absolute value) at the day the rate regime changed. Emits one row
    per type: the detected change day, the peak |CUSUM| (the shift
    evidence a control chart thresholds), the series mean, and the
    day count. The sequential sibling of drift_psi_value's
    two-window comparison: PSI asks "did the distribution move
    between two fixed windows", CUSUM asks "WHEN did the level move".

    Plan shape: ONE fact-scale aggregate to (type, day) grain —
    map-side combined, the grid is |types|x|days| regardless of event
    volume — then every window (mean, running sum, arg-max rank) runs
    on that tiny grid inside a single event_type exchange. Determinism:
    the mean is exact (BIGINT sum / BIGINT count, one division); the
    running sum is a left-to-right fold over the day order on both
    engines, so the doubles agree bit-for-bit; the arg-max row is
    picked on (|s| DESC, day) — ties resolve to the earliest day.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("n")))
    w_type = Window.partitionBy("event_type")
    dev = daily.select(
        "event_type", "day", "n",
        (F.sum("n").over(w_type).cast("double")
         / F.count("*").over(w_type)).alias("mu"),
        F.count("*").over(w_type).cast("bigint").alias("n_days"))
    w_cum = (Window.partitionBy("event_type").orderBy("day")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cusum = dev.withColumn(
        "s", F.sum(F.col("n") - F.col("mu")).over(w_cum))
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs("s").desc(), F.asc("day"))
    return (
        cusum.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("day").alias("cp_day"),
                F.round(F.abs("s"), 6).alias("max_abs_cusum"),
                F.round("mu", 6).alias("mean_daily"),
                "n_days")
    )


@register(
    "dq_ks_two_sample",
    oracle="""
        WITH se AS (
            -- value IS NOT NULL on BOTH engines: a NULL group would
            -- sort FIRST in Spark ASC but LAST in DuckDB ASC,
            -- shifting every ECDF step (ADVICE r9 — latent); NULLs
            -- carry no ECDF mass anyway
            SELECT event_type, value,
                   CAST(extract(epoch FROM date_trunc('second', ts))
                        AS BIGINT) AS s
            FROM events WHERE value IS NOT NULL),
        split AS (SELECT (min(s) + max(s)) // 2 AS mid FROM se),
        lab AS (
            SELECT event_type, value,
                   s <= (SELECT mid FROM split) AS is_ref
            FROM se),
        g AS (
            SELECT event_type, value,
                   sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_r,
                   sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_c
            FROM lab GROUP BY 1, 2),
        cum AS (
            SELECT event_type, value,
                   sum(n_r) OVER w AS cum_r,
                   sum(n_c) OVER w AS cum_c,
                   sum(n_r) OVER (PARTITION BY event_type) AS nr,
                   sum(n_c) OVER (PARTITION BY event_type) AS nc
            FROM g
            WINDOW w AS (PARTITION BY event_type ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)),
        d AS (
            SELECT event_type, value, nr, nc,
                   abs(CAST(cum_r AS DOUBLE) / nr
                       - CAST(cum_c AS DOUBLE) / nc) AS dd
            FROM cum)
        SELECT event_type,
               CAST(nr AS BIGINT) AS n_ref,
               CAST(nc AS BIGINT) AS n_cur,
               round(dd, 6) AS ks_d,
               round(1.358 * sqrt((nr + nc) * 1.0 / (nr * nc)), 6)
                   AS crit_95,
               dd > 1.358 * sqrt((nr + nc) * 1.0 / (nr * nc))
                   AS drifted
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY dd DESC, value)
                          AS rn
              FROM d)
        WHERE rn = 1
    """,
    tags=("drift", "monitoring", "ks-test", "stats"),
)
def dq_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per event type —
    the NONPARAMETRIC sibling of drift_psi_value (same
    reference/current time-midpoint split): D = max |ECDF_ref −
    ECDF_cur| over the merged value axis, reported with the 95%
    critical value 1.358·√((n+m)/nm) and the drift verdict. PSI needs
    a bucket grid and a smoothing constant; KS needs neither, so the
    pair brackets parametric-assumption risk in both directions.

    Plan: one (type, value)-grain aggregate off the scan, then BOTH
    cumulative counts and both totals ride a single event_type
    exchange (cumulative window + partition totals + arg-max rank
    share it). Determinism: ECDF steps are exact integer cumulative
    counts over the (value) order divided by exact totals —
    bit-identical doubles on both engines — and the arg-max row
    tie-breaks on the smallest value. At 100 TB the (type, value)
    grain IS the ECDF support; for continuous high-cardinality values
    swap the exact grain for the agg_quantile_hist_est binned summary
    (binned KS), same plan shape."""
    # NULL values filtered symmetrically (ADVICE r9); ADVICE r10:
    # with the symmetric isNotNull upstream no NULL reaches the
    # window, so the ordering needs no NULL placement override —
    # plain asc() keeps the two engines' stated contracts identical
    ev = load_table(spark, sf_dir, "events")
    se = ev.filter(F.col("value").isNotNull()).select(
        "event_type", "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts")))
        .cast("bigint").alias("s"))
    mid = se.agg(F.expr("(min(s) + max(s)) div 2").alias("mid"))
    lab = se.crossJoin(F.broadcast(mid)).select(
        "event_type", "value", (F.col("s") <= F.col("mid")).alias("is_ref"))
    g = lab.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_r"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_c"))
    w_cum = (Window.partitionBy("event_type")
             .orderBy(F.asc("value"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("event_type")
    cum = g.select(
        "event_type", "value",
        F.sum("n_r").over(w_cum).alias("cum_r"),
        F.sum("n_c").over(w_cum).alias("cum_c"),
        F.sum("n_r").over(w_all).alias("nr"),
        F.sum("n_c").over(w_all).alias("nc"))
    dd = F.abs(F.col("cum_r").cast("double") / F.col("nr")
               - F.col("cum_c").cast("double") / F.col("nc"))
    crit = F.lit(1.358) * F.sqrt(
        (F.col("nr") + F.col("nc")) * F.lit(1.0)
        / (F.col("nr") * F.col("nc")))
    d = cum.withColumn("dd", dd)
    w_pick = Window.partitionBy("event_type").orderBy(
        F.desc("dd"), F.asc("value"))
    return (d.withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select("event_type",
                    F.col("nr").cast("bigint").alias("n_ref"),
                    F.col("nc").cast("bigint").alias("n_cur"),
                    F.round("dd", 6).alias("ks_d"),
                    F.round(crit, 6).alias("crit_95"),
                    (F.col("dd") > crit).alias("drifted")))
