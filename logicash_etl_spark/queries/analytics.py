"""Behavioral / robust-statistics analytics over the events and
orders tables: conversion funnel, retention cohorts, MAD outlier
flags, and an order-vs-lineitem financial consistency audit.

These are the product-analytics shapes the reference's gold layer
feeds (top-N reports, daily rollups — glue_jobs/etl_job.py:147-158);
funnels and cohorts are their natural extensions once events carry
timestamps. All four are pure JVM window/join/agg plans with DuckDB
oracles.

Determinism notes: stage boundaries use strict ts inequalities
identically on both sides; quantile-derived thresholds are ROUNDED
before any row comparison so an interpolation ulp cannot flip a
boundary row; money stays decimal until the output edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logicash_etl_spark.functions.money import money
from logicash_etl_spark.operators.caching import scoped_persist
from logicash_etl_spark.operators.joins import broadcast_bounded
from logicash_etl_spark.operators.partitioning import SKEW_REDUCERS
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table


@query(
    "conversion_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_after_view,
           (SELECT count(*) FROM p) AS n_purchased_after_click
    """,
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user
    advances a stage only with an event STRICTLY AFTER their first
    event of the previous stage.

    Plan: three stage frames, each a groupBy(user) min-timestamp over
    a pushed-down event_type filter, chained by an equi-join on
    user_id with a range predicate — every join is keyed on user_id,
    so at scale all three stages share one hash partitioning (no
    per-user windows over the full event stream, no self-join on the
    raw table). Final counts are single-row aggregates."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage(event_type: str, after: DataFrame | None) -> DataFrame:
        e = ev.filter(F.col("event_type") == event_type)
        if after is not None:
            e = e.join(
                after.select("user_id", F.col("t").alias("__prev")), on="user_id"
            ).filter(F.col("ts") > F.col("__prev"))
        return e.groupBy("user_id").agg(F.min("ts").alias("t"))

    v = stage("view", None)
    c = stage("click", v)
    p = stage("purchase", c)
    counts = [
        df.agg(F.count("*").alias(name))
        for df, name in (
            (v, "n_viewed"),
            (c, "n_clicked_after_view"),
            (p, "n_purchased_after_click"),
        )
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


@query(
    "weekly_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, date_trunc('week', e.ts)) / 7 AS BIGINT)
             AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN firsts USING (user_id)
    GROUP BY 1, 2
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention matrix: users bucketed by first-seen week
    (cohort), counted distinct in each subsequent activity week
    (offset in whole weeks). Both weeks are Monday-truncated on both
    engines, so offsets are exact integers — no timezone or partial-
    week drift. Plan: one groupBy(user) for cohorts, one join keyed on
    user_id, one distinct-count agg — all on the same key."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(firsts, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "value_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type,
             round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           min(m.med) AS med,
           min(d.mad) AS mad,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e
      JOIN med m USING (event_type)
      JOIN mad d USING (event_type)
    GROUP BY e.event_type
    """,
)
def value_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection via Median Absolute
    Deviation: flag |x - median| > 3 * 1.4826 * MAD (the normal-
    consistency constant). Unlike mean/stddev, median/MAD do not let
    the outliers drag the threshold toward themselves.

    Needs two dependent exact quantiles -> two passes over the group
    (median, then median of absolute deviations), both tiny aggregates
    joined back broadcast-style. Both quantiles are ROUNDED to 6dp
    before the comparison — the rounded threshold is identical bits on
    both engines, so no boundary row can flip on an interpolation ulp.
    Quantiles ride the sanctioned exact/sketch switch
    (dq.profile.percentiles): exact=True ONLY for oracle hash
    comparability — the operator defaults to the percentile_approx
    sketch, so the 100 TB path is the default call and the same plan
    holds (sketches merge; two passes stay two passes)."""
    from logicash_etl_spark.dq.profile import percentiles

    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(percentiles("value", 0.5, exact=True), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), on="event_type")
    mad = dev.groupBy("event_type").agg(
        F.round(
            percentiles(F.abs(F.col("value") - F.col("med")), 0.5, exact=True), 6
        ).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), on="event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad")
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@query(
    "order_price_consistency",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2)
                      AS DECIMAL(18,2))) AS line_total
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CASE WHEN abs(CAST(o_totalprice AS DECIMAL(18,2)) - line_total)
                              > 5.00 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
    FROM orders JOIN per_order ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def order_price_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial consistency audit: does each order's header total
    equal the sum of its lines' net amounts (price * (1-discount) *
    (1+tax))? The per-line amount is rounded to cents THEN decimal-
    summed, so the per-order total is order-independent and identical
    across engines; mismatch = |header - lines| > $5. This is the
    reconciliation DQ check a warehouse runs between fact grains
    (reference analog: qa totals validation, validate_data_fast.py).

    Plan: one groupBy(orderkey) over lineitem (map-side partial sums),
    one join to orders on the same key, one tiny rollup by status."""
    li = read_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            money(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax")),
                    2,
                )
            )
        ).alias("line_total")
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", money("o_totalprice").alias("__total")
    )
    return (
        o.join(per_order, on=[F.col("o_orderkey") == F.col("l_orderkey")])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                (F.abs(F.col("__total") - F.col("line_total")) > 5.00).cast("int")
            )
            .cast("bigint")
            .alias("n_mismatch"),
        )
    )


@query(
    "revenue_concentration_gini",
    oracle="""
    WITH cr0 AS (
      SELECT c_mktsegment, c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), cr AS (
      -- all-NULL-revenue customers are excluded from the Gini
      -- population by contract (unknown revenue has no rank)
      SELECT * FROM cr0 WHERE cents IS NOT NULL
    ), rk AS (
      SELECT c_mktsegment, cents,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY cents, c_custkey) AS BIGINT)
               AS rnk
      FROM cr
    ), agg AS (
      SELECT c_mktsegment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sx,
             CAST(SUM(rnk * cents) AS BIGINT) AS six
      FROM rk GROUP BY 1
    )
    SELECT c_mktsegment AS segment,
           n AS n_customers,
           sx AS total_cents,
           CAST((2 * six - (n + 1) * sx)
                // greatest((sx * n) // 10000, 1) AS BIGINT) AS gini_bp
    FROM agg
    """,
)
def revenue_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment as a Gini coefficient
    (basis points): 0 = every customer spends the same, ~10000 = one
    whale owns the segment — the inequality KPI behind "top 1% of
    customers drive N% of revenue" dashboards and, in corpus curation,
    source-concentration checks on token budgets.

    Exactness: Gini via the rank formulation
    G = (2*Σ i*x_i - (n+1)*Σ x_i) / (n*Σ x_i) with revenues in BIGINT
    cents and the rank i from an ASC (cents, custkey) total order —
    every term is integer arithmetic, ties contribute a fixed rank-sum
    regardless of intra-tie order, and the basis-point result uses
    floor division on both engines, so the hash matches bit-for-bit.
    Population = customers with >= 1 order (inner join; the Gini of
    never-buyers is a different question).

    Scale: the rank is NOT a per-segment ORDER BY window (5 segments x
    most of the corpus on one reducer each) — it is the inclusive
    grouped_prefix_sum of 1s, range-bucketed within each segment, the
    same de-skewed scan the mixture/token-budget queries use. One
    shuffle for the per-customer rollup, the bucketed rank scan, one
    5-row aggregate. At corpus sizes where n*Σx nears 2^63, coarsen
    the currency unit (Gini is scale-invariant; the floor-div
    quantization is the only change) or lift to DECIMAL(38,0)."""
    from logicash_etl_spark.operators.partitioning import grouped_prefix_sum

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", money("o_totalprice").alias("__p")
    )
    # NULL-cents posture (decided r11): a customer whose every order
    # has NULL o_totalprice has UNKNOWN revenue — excluded from the
    # Gini population rather than ranked at an arbitrary NULL sort
    # position (grouped_prefix_sum would refuse the NULL bucket key
    # loudly anyway); mirrored by the oracle's IS NOT NULL.
    cust_rev = o.groupBy("o_custkey").agg(
        (F.sum("__p") * 100).cast("bigint").alias("cents")
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cr = (
        cust_rev.join(
            broadcast_bounded(c, bounded=False), cust_rev.o_custkey == c.c_custkey
        )
        .filter(F.col("cents").isNotNull())
        .select("c_mktsegment", "c_custkey", "cents", F.lit(1).alias("__one"))
    )
    ranked = grouped_prefix_sum(
        cr,
        group_col="c_mktsegment",
        bucket_key="cents",
        order_cols=[F.col("cents").asc(), F.col("c_custkey").asc()],
        value_col="__one",
        out_col="__rnk",
        inclusive=True,
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(F.col("__rnk") * F.col("cents")).cast("bigint").alias("six"),
    )
    return agg.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        F.expr(
            "CAST((2 * six - (n + 1) * sx)"
            " div greatest((sx * n) div 10000, CAST(1 AS BIGINT)) AS BIGINT)"
        ).alias("gini_bp"),
    )


@query(
    "value_drift_psi",
    oracle="""
    WITH mid AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m FROM events
    ), tagged AS (
      SELECT CASE WHEN epoch_us(ts) < (SELECT m FROM mid)
                  THEN 0 ELSE 1 END AS half, value
      FROM events
    ), ref_rng AS (
      SELECT min(value) AS lo, max(value) AS hi FROM tagged WHERE half = 0
    ), binned AS (
      SELECT half,
             CAST(least(9, greatest(0, floor((value - r.lo) * 10.0
                                             / (r.hi - r.lo)))) AS BIGINT)
               AS bin
      FROM tagged, ref_rng r
    ), bins AS (
      SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)
    ), counts AS (
      SELECT b.bin,
             CAST(COALESCE(SUM(CASE WHEN half = 0 THEN 1 END), 0) AS BIGINT)
               AS n_ref,
             CAST(COALESCE(SUM(CASE WHEN half = 1 THEN 1 END), 0) AS BIGINT)
               AS n_cur
      FROM bins b LEFT JOIN binned x ON x.bin = b.bin
      GROUP BY b.bin
    ), tot AS (
      SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
             CAST(SUM(n_cur) AS BIGINT) AS tc
      FROM counts
    )
    SELECT bin, n_ref, n_cur,
           round(
             ((n_ref + 1.0) / (tr + 10.0) - (n_cur + 1.0) / (tc + 10.0))
             * ln(((n_ref + 1.0) / (tr + 10.0))
                  / ((n_cur + 1.0) / (tc + 10.0))), 6) AS psi_contrib
    FROM counts, tot
    """,
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream — THE production drift monitor: per-bin PSI
    contributions ((p-q)*ln(p/q), add-one smoothed) flag when the
    value distribution a model was trained on stops matching what
    arrives. Total PSI > 0.2 is the classic retrain trigger; per-bin
    rows show WHERE the mass moved.

    Determinism: the time midpoint is integer microseconds (floor
    div), bin edges come from the REFERENCE half's min/max with the
    bin index computed by the identical double expression on both
    engines (IEEE arithmetic on identical inputs), counts are exact
    BIGINTs, and only the final ln-based contribution is rounded (6dp
    absorbs libm ulps — the stat_moments rule). All 10 bins emitted
    (zero-filled) so the schema is constant.

    Scale: two scans' worth of work in ONE pass — bin assignment is
    map-only arithmetic against broadcast range/midpoint rows; the
    count rollup is a 20-group map-side-combinable aggregate. Nothing
    shuffles but 10 rows per map task."""
    ev = read_table(spark, sf_dir, "events").select("ts", "value")
    # persisted: the one-row midpoint feeds both the reference-range
    # pass and the binning pass, each of which would re-scan events
    mid = scoped_persist(
        ev.agg(
            F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("m")
        )
    )
    tagged = ev.crossJoin(F.broadcast(mid)).select(
        F.when(F.unix_micros("ts") < F.col("m"), 0).otherwise(1).alias("half"),
        "value",
    )
    rng = tagged.filter(F.col("half") == 0).agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = tagged.crossJoin(F.broadcast(rng)).select(
        "half",
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor((F.col("value") - F.col("lo")) * 10.0
                        / (F.col("hi") - F.col("lo"))),
            ),
        ).cast("bigint").alias("bin"),
    )
    bins = spark.range(0, 10).select(F.col("id").cast("bigint").alias("bin"))

    # persisted: the 10-row counts frame feeds the totals agg and the
    # final select, each of which would re-run the binning pass
    counts = scoped_persist(
        bins.join(binned, on="bin", how="left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("half") == 0, 1)), F.lit(0)
            ).cast("bigint").alias("n_ref"),
            F.coalesce(
                F.sum(F.when(F.col("half") == 1, 1)), F.lit(0)
            ).cast("bigint").alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    p = (F.col("n_ref") + 1.0) / (F.col("tr") + 10.0)
    q = (F.col("n_cur") + 1.0) / (F.col("tc") + 10.0)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


@query(
    "user_active_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e
      FROM events
    ), m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM iv
    ), g AS (
      SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS st
      FROM m
    ), isl AS (
      SELECT *, SUM(st) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS isle
      FROM g
    ), per AS (
      SELECT user_id, isle, max(e) - min(s) AS cov
      FROM isl GROUP BY user_id, isle
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(SUM(cov) AS BIGINT) AS active_us
    FROM per GROUP BY user_id
    """,
)
def user_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage per user: each event opens an interval
    [ts, ts + value seconds); overlapping intervals merge, and the
    output is the number of merged islands and total covered
    microseconds — the classic 'union of intervals' measure (machine
    busy-time, ad exposure, GPU occupancy) that gap-based
    sessionization (``user_sessions``) cannot express because
    interval LENGTHS vary.

    Plan shape: one per-user sort; islands come from the exclusive
    running max of interval ends (a new island starts when the next
    start exceeds every end seen), a textbook cummax + cumsum pair of
    windows, both partitioned by user — bounded state, no self-join.
    Arithmetic is integer microseconds end-to-end (epoch_us + floored
    value*1e6), so sums are exact and engine-portable."""
    from pyspark.sql import Window as W

    iv = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * F.lit(1000000.0)).cast("bigint")
        ).alias("e"),
    )
    order = W.partitionBy("user_id").orderBy("s", "e")
    m = iv.withColumn(
        "pmax", F.max("e").over(order.rowsBetween(W.unboundedPreceding, -1))
    )
    g = m.withColumn(
        "st",
        F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1).otherwise(0),
    )
    isl = g.withColumn(
        "isle", F.sum("st").over(order.rowsBetween(W.unboundedPreceding, 0))
    )
    per = isl.groupBy("user_id", "isle").agg(
        (F.max("e") - F.min("s")).alias("cov")
    )
    return per.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum("cov").cast("bigint").alias("active_us"),
    )


@query(
    "ewma_event_value",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, value, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), t AS (
      SELECT event_id, user_id, value,
             COALESCE(lag(cents, 0) OVER win * 512, 0)
             + COALESCE(lag(cents, 1) OVER win * 256, 0)
             + COALESCE(lag(cents, 2) OVER win * 128, 0)
             + COALESCE(lag(cents, 3) OVER win * 64, 0)
             + COALESCE(lag(cents, 4) OVER win * 32, 0)
             + COALESCE(lag(cents, 5) OVER win * 16, 0)
             + COALESCE(lag(cents, 6) OVER win * 8, 0)
             + COALESCE(lag(cents, 7) OVER win * 4, 0)
             + COALESCE(lag(cents, 8) OVER win * 2, 0)
             + COALESCE(lag(cents, 9) OVER win * 1, 0) AS num,
             CASE WHEN lag(cents, 0) OVER win IS NOT NULL THEN 512 ELSE 0 END
             + CASE WHEN lag(cents, 1) OVER win IS NOT NULL THEN 256 ELSE 0 END
             + CASE WHEN lag(cents, 2) OVER win IS NOT NULL THEN 128 ELSE 0 END
             + CASE WHEN lag(cents, 3) OVER win IS NOT NULL THEN 64 ELSE 0 END
             + CASE WHEN lag(cents, 4) OVER win IS NOT NULL THEN 32 ELSE 0 END
             + CASE WHEN lag(cents, 5) OVER win IS NOT NULL THEN 16 ELSE 0 END
             + CASE WHEN lag(cents, 6) OVER win IS NOT NULL THEN 8 ELSE 0 END
             + CASE WHEN lag(cents, 7) OVER win IS NOT NULL THEN 4 ELSE 0 END
             + CASE WHEN lag(cents, 8) OVER win IS NOT NULL THEN 2 ELSE 0 END
             + CASE WHEN lag(cents, 9) OVER win IS NOT NULL THEN 1 ELSE 0 END AS den
      FROM c
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, value,
           CASE WHEN den = 0 THEN NULL
                ELSE round(CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 100.0), 6)
           END AS ewma
    FROM t
    """,
)
def ewma_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2, lookback
    10) of each user's event values — the smoothing primitive behind
    trend monitors and anomaly baselines, next to the robust
    ``value_outlier_mad`` and the windowed ``rolling_zscore``.

    Determinism is the design problem: float EWMA accumulates in an
    engine-specific order. Here values go to integer CENTS, the
    half-life weights are the exact powers 2^0..2^9 (oldest..newest
    reversed), and numerator/denominator are BIGINT sums unrolled
    over 10 lag() columns — pure JVM window expressions, exactly one
    per-user sort, no collect_list ordering assumptions, no Python.
    The single double division at the end is the only float op, so
    Spark and DuckDB agree bit-for-bit before the 6dp round. Rows
    early in a user's history weight over the shorter available
    prefix (the denominator counts only existing lags)."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.coalesce(F.lag('cents', 0).over(w) * F.lit(512), F.lit(0)) + F.coalesce(F.lag('cents', 1).over(w) * F.lit(256), F.lit(0)) + F.coalesce(F.lag('cents', 2).over(w) * F.lit(128), F.lit(0)) + F.coalesce(F.lag('cents', 3).over(w) * F.lit(64), F.lit(0)) + F.coalesce(F.lag('cents', 4).over(w) * F.lit(32), F.lit(0)) + F.coalesce(F.lag('cents', 5).over(w) * F.lit(16), F.lit(0)) + F.coalesce(F.lag('cents', 6).over(w) * F.lit(8), F.lit(0)) + F.coalesce(F.lag('cents', 7).over(w) * F.lit(4), F.lit(0)) + F.coalesce(F.lag('cents', 8).over(w) * F.lit(2), F.lit(0)) + F.coalesce(F.lag('cents', 9).over(w) * F.lit(1), F.lit(0))
    den = F.when(F.lag('cents', 0).over(w).isNotNull(), F.lit(512)).otherwise(F.lit(0)) + F.when(F.lag('cents', 1).over(w).isNotNull(), F.lit(256)).otherwise(F.lit(0)) + F.when(F.lag('cents', 2).over(w).isNotNull(), F.lit(128)).otherwise(F.lit(0)) + F.when(F.lag('cents', 3).over(w).isNotNull(), F.lit(64)).otherwise(F.lit(0)) + F.when(F.lag('cents', 4).over(w).isNotNull(), F.lit(32)).otherwise(F.lit(0)) + F.when(F.lag('cents', 5).over(w).isNotNull(), F.lit(16)).otherwise(F.lit(0)) + F.when(F.lag('cents', 6).over(w).isNotNull(), F.lit(8)).otherwise(F.lit(0)) + F.when(F.lag('cents', 7).over(w).isNotNull(), F.lit(4)).otherwise(F.lit(0)) + F.when(F.lag('cents', 8).over(w).isNotNull(), F.lit(2)).otherwise(F.lit(0)) + F.when(F.lag('cents', 9).over(w).isNotNull(), F.lit(1)).otherwise(F.lit(0))
    # den = 0 (every value in the 10-lag window NULL) has no EWMA:
    # NULL by contract in BOTH engines — ANSI Spark would otherwise
    # raise DIVIDE_BY_ZERO, IEEE DuckDB would emit NaN
    return ev.select(
        "event_id", "user_id", "value",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                num.cast("double") / (den.cast("double") * F.lit(100.0)), 6
            )
        )
        .alias("ewma"),
    )


@query(
    "ab_test_report",
    oracle="""
    WITH pu AS (
      SELECT user_id, user_id % 2 AS grp,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS m
      FROM events GROUP BY user_id
    ), s AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             avg(m) AS mean, var_samp(m) AS v
      FROM pu GROUP BY grp
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.mean, 6) AS mean_a, round(b.mean, 6) AS mean_b,
           round((a.mean - b.mean)
                 / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat,
           round(power(a.v / a.n + b.v / b.n, 2)
                 / (power(a.v / a.n, 2) / (a.n - 1)
                    + power(b.v / b.n, 2) / (b.n - 1)), 2) AS welch_df
    FROM s a, s b WHERE a.grp = 0 AND b.grp = 1
    """,
)
def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test between experiment arms (user_id parity
    as the assignment hash) — the readout every product experiment
    ends with. Statistically correct unit handling: the metric is
    aggregated PER USER first (users, not events, were randomized —
    testing raw events would inflate n and fabricate significance),
    then the arm means/variances come from the per-user frame. Welch,
    not pooled Student: arms need not share a variance.

    Determinism: per-user means divide a decimal-exact sum by an
    integer count; arm-level avg/var_samp are one-pass doubles whose
    last-ulp noise the 6/4/2-decimal rounding absorbs (the
    stat_moments_by_flag contract). The t statistic and
    Welch-Satterthwaite df are pure scalar arithmetic on two rows.

    Scale: one groupBy(user_id) shuffle (parallelism = users), one
    2-group rollup, one broadcast join of two single-row frames —
    nothing else. At 100 TB the per-user frame is the only sized
    stage and it map-side-combines."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.col("value").cast("decimal(18,2)").alias("v")
    )
    pu = ev.groupBy("user_id").agg(
        (F.sum("v").cast("double") / F.count("*")).alias("m")
    ).select((F.col("user_id") % 2).alias("grp"), "m")
    s = pu.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg("m").alias("mean"),
        F.var_samp("m").alias("v"),
    )
    a = s.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"),
        F.col("v").alias("v_a"),
    )
    b = s.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"),
        F.col("v").alias("v_b"),
    )
    se2a = F.col("v_a") / F.col("n_a")
    se2b = F.col("v_b") / F.col("n_b")
    return a.crossJoin(F.broadcast(b)).select(
        "n_a", "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2a + se2b), 4
        ).alias("t_stat"),
        F.round(
            F.pow(se2a + se2b, 2)
            / (
                F.pow(se2a, 2) / (F.col("n_a") - 1)
                + F.pow(se2b, 2) / (F.col("n_b") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


@query(
    "robust_value_stats",
    oracle="""
    WITH c AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE value IS NOT NULL
    ), r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rnk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM c
    ), s AS (
      SELECT event_type,
             CAST(n AS BIGINT) AS n,
             CAST(n // 20 AS BIGINT) AS lo,
             CAST(SUM(cents) AS BIGINT) AS sum_all,
             CAST(SUM(CASE WHEN rnk > n // 20 AND rnk <= n - n // 20
                           THEN cents ELSE 0 END) AS BIGINT) AS sum_kept,
             CAST(SUM(CASE WHEN rnk > n // 20 AND rnk <= n - n // 20
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(MAX(CASE WHEN rnk = n // 20 + 1 THEN cents END)
                  AS BIGINT) AS p_lo,
             CAST(MAX(CASE WHEN rnk = n - n // 20 THEN cents END)
                  AS BIGINT) AS p_hi
      FROM r GROUP BY event_type, n
    )
    SELECT event_type, n,
           lo AS n_trim_each_side,
           CAST(1000 * sum_all // n AS BIGINT) AS mean_milli,
           CAST(1000 * sum_kept // n_kept AS BIGINT) AS trimmed_mean_milli,
           CAST(1000 * (sum_kept + lo * (p_lo + p_hi)) // n AS BIGINT)
             AS winsor_mean_milli
    FROM s
    """,
)
def robust_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central tendency per event type: the plain mean beside
    its 5%-TRIMMED mean (drop the tails) and 5%-WINSORIZED mean
    (clamp the tails to the cut values) — the outlier-resistant KPIs
    reported when a handful of whale transactions would otherwise
    swing the dashboard. Selection is by EXACT rank (a (cents,
    event_id) total order), not an approximate percentile, and every
    output is integer milli-cents under floor division — the whole
    report hash-matches bit-for-bit, ties resolved identically on
    both engines.

    Scale: the rank is NOT a per-type ORDER BY window (5 types x the
    whole fact table on one reducer each) — it is the inclusive
    grouped_prefix_sum of 1s, range-bucketed within each type, the
    same de-skewed scan revenue_concentration_gini uses; the boundary
    values fall out of the same pass as conditional aggregates. One
    rollup for n, the bucketed rank scan, one 5-row report."""
    from logicash_etl_spark.operators.partitioning import grouped_prefix_sum

    # NULL-value posture (r12 [contract] decision): EXCLUDED. A
    # trimmed/winsorized mean over unknown values is undefined, and
    # SQL aggregates ignore NULLs — the oracle filters identically;
    # without the filter a NULL cents violates the rank scan's
    # non-null bucket-key contract (loud raise on the nulls corpus).
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    ranked = grouped_prefix_sum(
        ev.withColumn("__one", F.lit(1)),
        group_col="event_type",
        bucket_key="cents",
        order_cols=[F.col("cents").asc(), F.col("event_id").asc()],
        value_col="__one",
        out_col="__rnk",
        inclusive=True,
    )
    nfr = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    j = ranked.join(F.broadcast(nfr), "event_type").withColumn(
        "__lo", F.expr("n div 20")
    )
    kept = (F.col("__rnk") > F.col("__lo")) & (
        F.col("__rnk") <= F.col("n") - F.col("__lo")
    )
    s = j.groupBy("event_type", "n", "__lo").agg(
        F.sum("cents").cast("bigint").alias("sum_all"),
        F.sum(F.when(kept, F.col("cents")).otherwise(0))
        .cast("bigint").alias("sum_kept"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.max(F.when(F.col("__rnk") == F.col("__lo") + 1, F.col("cents")))
        .cast("bigint").alias("p_lo"),
        F.max(
            F.when(F.col("__rnk") == F.col("n") - F.col("__lo"), F.col("cents"))
        ).cast("bigint").alias("p_hi"),
    )
    return s.select(
        "event_type", "n",
        F.col("__lo").alias("n_trim_each_side"),
        F.expr("CAST(1000 * sum_all div n AS BIGINT)").alias("mean_milli"),
        F.expr("CAST(1000 * sum_kept div n_kept AS BIGINT)").alias(
            "trimmed_mean_milli"
        ),
        F.expr(
            "CAST(1000 * (sum_kept + __lo * (p_lo + p_hi)) div n AS BIGINT)"
        ).alias("winsor_mean_milli"),
    )


@query(
    "cuped_adjusted_ab",
    oracle="""
    WITH mid AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m FROM events
    ), pu AS (
      SELECT user_id, user_id % 2 AS grp,
             CAST(SUM(CASE WHEN epoch_us(ts) < (SELECT m FROM mid)
                           THEN CAST(value AS DECIMAL(18,2)) END)
                  AS DOUBLE)
               / SUM(CASE WHEN epoch_us(ts) < (SELECT m FROM mid)
                          THEN 1 ELSE 0 END) AS pre_m,
             CAST(SUM(CASE WHEN epoch_us(ts) >= (SELECT m FROM mid)
                           THEN CAST(value AS DECIMAL(18,2)) END)
                  AS DOUBLE)
               / SUM(CASE WHEN epoch_us(ts) >= (SELECT m FROM mid)
                          THEN 1 ELSE 0 END) AS post_m
      FROM events
      GROUP BY user_id
      HAVING SUM(CASE WHEN epoch_us(ts) < (SELECT m FROM mid)
                      THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN epoch_us(ts) >= (SELECT m FROM mid)
                      THEN 1 ELSE 0 END) > 0
    ), g AS (
      SELECT covar_samp(pre_m, post_m) / var_samp(pre_m) AS theta,
             avg(pre_m) AS mu_pre
      FROM pu
    ), adj AS (
      SELECT grp, post_m,
             post_m - (SELECT theta FROM g)
                      * (pre_m - (SELECT mu_pre FROM g)) AS y
      FROM pu
    ), s AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             avg(post_m) AS mp, var_samp(post_m) AS vp,
             avg(y) AS ma, var_samp(y) AS va
      FROM adj GROUP BY grp
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round((SELECT theta FROM g), 6) AS theta,
           round((a.mp - b.mp) / sqrt(a.vp / a.n + b.vp / b.n), 4)
             AS t_raw,
           round((a.ma - b.ma) / sqrt(a.va / a.n + b.va / b.n), 4)
             AS t_cuped,
           round(100 * (1 - (a.va / a.n + b.va / b.n)
                            / (a.vp / a.n + b.vp / b.n)), 2)
             AS var_reduction_pct
    FROM s a, s b WHERE a.grp = 0 AND b.grp = 1
    """,
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. WSDM'13) — the
    experimentation-platform upgrade of ab_test_report: each user's
    post-period metric is adjusted by their own PRE-period behavior
    (y = post - theta * (pre - mean(pre)), theta = cov(pre,post) /
    var(pre)), which strips the between-user variance the experiment
    didn't cause and shrinks confidence intervals for free — the
    single highest-leverage trick in industrial A/B testing. Pre/post
    split at the stream's midpoint timestamp (the value_drift_psi
    construct); population = users active in BOTH periods (CUPED
    needs the covariate; imputing the pre-mean for the rest adds no
    information and only dilutes theta).

    Determinism: per-user means are decimal-sum/count doubles; theta,
    the adjusted series, and both t statistics are one-pass moments
    whose last-ulp noise the 6/4/2-decimal rounding absorbs. The
    report carries the raw and CUPED t side by side plus the realized
    variance-reduction percentage — the number that justifies the
    machinery.

    Scale: one groupBy(user_id) builds both period means in a single
    pass (conditional aggregates, no self-join); theta is a 1-row
    broadcast; arm stats are a 2-group rollup."""
    ev = read_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("m")
    )
    t = ev.crossJoin(F.broadcast(mid)).select(
        "user_id",
        (F.col("user_id") % 2).alias("grp"),
        (F.unix_micros("ts") < F.col("m")).alias("pre"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    pu = (
        t.groupBy("user_id", "grp")
        .agg(
            F.sum(F.when(F.col("pre"), F.col("v"))).alias("pre_s"),
            F.sum(F.col("pre").cast("int")).alias("pre_n"),
            F.sum(F.when(~F.col("pre"), F.col("v"))).alias("post_s"),
            F.sum((~F.col("pre")).cast("int")).alias("post_n"),
        )
        .filter((F.col("pre_n") > 0) & (F.col("post_n") > 0))
        .select(
            "grp",
            (F.col("pre_s").cast("double") / F.col("pre_n")).alias("pre_m"),
            (F.col("post_s").cast("double") / F.col("post_n")).alias("post_m"),
        )
    )

    # persisted: pu feeds the theta/covariance aggregate and the
    # adjusted-arm pass, each of which would re-scan events
    pu = scoped_persist(pu)
    g = pu.agg(
        (F.covar_samp("pre_m", "post_m") / F.var_samp("pre_m")).alias("theta"),
        F.avg("pre_m").alias("mu_pre"),
    )
    adj = pu.crossJoin(F.broadcast(g)).select(
        "grp", "post_m", "theta",
        (
            F.col("post_m")
            - F.col("theta") * (F.col("pre_m") - F.col("mu_pre"))
        ).alias("y"),
    )
    s = adj.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg("post_m").alias("mp"),
        F.var_samp("post_m").alias("vp"),
        F.avg("y").alias("ma"),
        F.var_samp("y").alias("va"),
        F.first("theta").alias("theta"),
    )
    a = s.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("mp").alias("mp_a"),
        F.col("vp").alias("vp_a"), F.col("ma").alias("ma_a"),
        F.col("va").alias("va_a"), "theta",
    )
    b = s.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("mp").alias("mp_b"),
        F.col("vp").alias("vp_b"), F.col("ma").alias("ma_b"),
        F.col("va").alias("va_b"),
    )
    sep = F.col("vp_a") / F.col("n_a") + F.col("vp_b") / F.col("n_b")
    sea = F.col("va_a") / F.col("n_a") + F.col("va_b") / F.col("n_b")
    return a.crossJoin(F.broadcast(b)).select(
        "n_a", "n_b",
        F.round("theta", 6).alias("theta"),
        F.round((F.col("mp_a") - F.col("mp_b")) / F.sqrt(sep), 4).alias("t_raw"),
        F.round((F.col("ma_a") - F.col("ma_b")) / F.sqrt(sea), 4).alias("t_cuped"),
        F.round(100 * (1 - sea / sep), 2).alias("var_reduction_pct"),
    )


@query(
    "poisson_bootstrap_ci",
    oracle="""
    WITH ev AS (
      SELECT event_id, event_type, CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ), blk AS (
      SELECT event_type, v, b, md5(event_id || ':' || b) AS h
      FROM ev, (SELECT unnest(generate_series(0, 6)) AS b) blocks
    ), rep AS (
      SELECT event_type, v, b * 4 + k AS j,
             CAST(('0x' || substr(h, 8 * k + 1, 8)) AS BIGINT)
               % 1000000 AS m
      FROM blk, (SELECT unnest(generate_series(0, 3)) AS k) ks
      WHERE b * 4 + k < 25
    ), wrep AS (
      SELECT event_type, j, v,
             CASE WHEN m < 367879 THEN 0 WHEN m < 735759 THEN 1
                  WHEN m < 919699 THEN 2 WHEN m < 981012 THEN 3
                  WHEN m < 996340 THEN 4 WHEN m < 999406 THEN 5
                  WHEN m < 999917 THEN 6 WHEN m < 999990 THEN 7
                  ELSE 8 END AS w
      FROM rep
    ), means AS (
      SELECT event_type, j,
             CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_j
      FROM wrep GROUP BY event_type, j
    ), boot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_replicates,
             avg(mean_j) AS bm, stddev_samp(mean_j) AS sd
      FROM means GROUP BY event_type
    ), base AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM(v) AS DOUBLE) / count(*) AS pm
      FROM ev GROUP BY event_type
    )
    SELECT b.event_type, n_events, n_replicates,
           round(pm, 6) AS point_mean,
           round(bm, 6) AS boot_mean,
           round(sd, 6) AS se_boot,
           round(bm - 1.96 * sd, 6) AS ci_lo,
           round(bm + 1.96 * sd, 6) AS ci_hi
    FROM base b JOIN boot t USING (event_type)
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence intervals (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012;
    the streaming/MapReduce reformulation of the bootstrap): instead
    of materializing B resamples, every row carries a Poisson(1)
    weight PER REPLICATE, so B=25 bootstrap means of events.value per
    event_type are computed in ONE pass over the data. The replicate
    spread IS the standard error of the mean; the report carries the
    plain point estimate, the bootstrap mean, se, and the normal-
    approximation 95% interval.

    Determinism (the reason this is oracle-checkable at all): the
    Poisson draws use no RNG state — the weight of (row, replicate j)
    is a CASE ladder over an md5-derived uniform reduced mod 1e6,
    with INTEGER thresholds at round(1e6 * CDF_Poisson(1)(k)). Both
    engines hash the same string to the same bucket, so the
    "resamples" are bit-identical; replicate means divide exact
    decimal sums, so no float accumulation order leaks in.

    Hashing is amortized: one md5 digest is 32 hex chars = FOUR
    8-char uniforms, so rows hash once per BLOCK of 4 replicates
    (7 digests instead of 25 per row — measured 4.7 s -> 2.8 s cold
    at sf0.1; the digest, not the explode, was the hot loop).

    Scale (100 TB posture): the explode is x25 map-side work with NO
    extra scan and no RNG checkpointing (restart-safe on retry — a
    recomputed partition redraws the same weights, which row-at-a-
    time RNG cannot guarantee); partial aggregation combines per
    partition, so the shuffle is O(partitions x |event_type| x 25)
    rows regardless of data size; the final joins are 5-row frames.
    This is the published pattern for error bars on arbitrarily large
    aggregations — contrast a naive bootstrap, which would re-shuffle
    the corpus B times."""
    n_rep = 25
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    blk = ev.select(
        "event_type",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit((n_rep + 3) // 4 - 1))).alias(
            "b"
        ),
        F.col("event_id").cast("string").alias("id_s"),
    ).select(
        "event_type",
        "v",
        "b",
        F.md5(
            F.concat_ws(":", "id_s", F.col("b").cast("string"))
        ).alias("h"),
    )
    rep = (
        blk.select(
            "event_type",
            "v",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("b") * 4 + k).alias("j"),
                            (
                                F.conv(
                                    F.substring("h", 8 * k + 1, 8), 16, 10
                                ).cast("bigint")
                                % 1000000
                            ).alias("m"),
                        )
                        for k in range(4)
                    ]
                )
            ).alias("s"),
        )
        .select("event_type", "v", F.col("s.j").alias("j"), F.col("s.m").alias("m"))
        .filter(F.col("j") < n_rep)
    )
    # Integer thresholds = round(1e6 * P(Poisson(1) <= k)); the exact
    # same ladder text runs in the oracle, so quantizing the CDF at
    # 1e-6 changes nothing about portability.
    m = F.col("m")
    w = (
        F.when(m < 367879, 0)
        .when(m < 735759, 1)
        .when(m < 919699, 2)
        .when(m < 981012, 3)
        .when(m < 996340, 4)
        .when(m < 999406, 5)
        .when(m < 999917, 6)
        .when(m < 999990, 7)
        .otherwise(8)
    )
    means = (
        rep.select("event_type", "j", "v", w.alias("w"))
        .groupBy("event_type", "j")
        .agg(
            (
                F.sum(F.col("w") * F.col("v")).cast("double")
                / F.sum("w").cast("double")
            ).alias("mean_j")
        )
    )
    boot = means.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_replicates"),
        F.avg("mean_j").alias("bm"),
        F.stddev_samp("mean_j").alias("sd"),
    )
    base = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        (F.sum("v").cast("double") / F.count("*")).alias("pm"),
    )
    return base.join(boot, "event_type").select(
        "event_type",
        "n_events",
        "n_replicates",
        F.round("pm", 6).alias("point_mean"),
        F.round("bm", 6).alias("boot_mean"),
        F.round("sd", 6).alias("se_boot"),
        F.round(F.col("bm") - 1.96 * F.col("sd"), 6).alias("ci_lo"),
        F.round(F.col("bm") + 1.96 * F.col("sd"), 6).alias("ci_hi"),
    )


def _skew_profile_sql(key_expr: str, label: str) -> str:
    """Oracle block mirroring operators/partitioning.skew_profile for
    one key — generated from a shared template so both profiled keys
    run the exact same arithmetic, over the same ``SKEW_REDUCERS``
    simulated reducers."""
    return f"""
    SELECT '{label}' AS key_name,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(total_rows AS BIGINT) AS total_rows,
           round(100 * CAST(top1_rows AS DOUBLE) / total_rows, 4)
             AS top1_pct,
           round(100 * CAST(top10_rows AS DOUBLE) / total_rows, 4)
             AS top10_pct,
           CAST(max_part_load AS BIGINT) AS max_part_load,
           round(CAST(max_part_load AS DOUBLE)
                 / (CAST(total_rows AS DOUBLE) / {SKEW_REDUCERS}), 3)
             AS skew_ratio
    FROM (
      WITH c AS (
        SELECT CAST({key_expr} AS VARCHAR) AS k, count(*) AS cnt
        FROM events GROUP BY 1
      )
      SELECT count(*) AS n_keys, SUM(cnt) AS total_rows,
             max(cnt) AS top1_rows,
             (SELECT SUM(cnt) FROM
               (SELECT cnt FROM c ORDER BY cnt DESC, k LIMIT 10))
               AS top10_rows,
             (SELECT max(load) FROM
               (SELECT SUM(cnt) AS load FROM
                 (SELECT cnt,
                         CAST(('0x' || substr(md5(k), 1, 8)) AS BIGINT)
                           % {SKEW_REDUCERS} AS bucket
                  FROM c)
                GROUP BY bucket)) AS max_part_load
      FROM c
    )
    """


@query(
    "join_skew_profile",
    oracle=(
        _skew_profile_sql("user_id", "user_id")
        + " UNION ALL "
        + _skew_profile_sql("event_type", "event_type")
    ),
)
def join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic for two candidate join/groupBy keys of
    the events stream — the "measure" report an engineer runs BEFORE
    shuffling 100 TB on a key (its "fix" counterpart is
    operators/joins.py:skew_salt_join, and AQE's skew-join handles
    the residual at runtime): per-key cardinality, heavy-hitter
    shares, and the simulated max-reducer load under hash
    partitioning into 32 tasks. The two profiled keys bracket the
    design space — user_id (high-cardinality, balanced: skew_ratio
    falls toward 1 as |keys| grows past the task count, safe to
    shuffle) vs event_type (5 values: >80% of reducers idle and the
    straggler factor ~6x, exactly why low-cardinality keys must
    never be shuffle keys).

    Determinism + scale: see operators/partitioning.skew_profile —
    md5-bucket placement portable to the oracle; one data-sized
    shuffle per profiled key; top-k via per-partition heaps."""
    from logicash_etl_spark.operators.partitioning import skew_profile

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    return skew_profile(ev, "user_id").unionByName(
        skew_profile(ev, "event_type")
    )


def _blowup_sql(table: str, key: str) -> str:
    """Oracle block for one (table, key) pair-blowup profile —
    template-shared so both profiled tables run identical
    arithmetic."""
    return f"""
    SELECT '{table}.{key}' AS table_key,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_group,
           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS exact_pairs,
           CAST(16 * SUM(CASE WHEN CAST(('0x' || substr(md5(
                    CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 16 = 0
                 THEN c * (c - 1) // 2 ELSE 0 END) AS BIGINT)
             AS est_pairs_sampled,
           round(100 * (CAST(16 * SUM(CASE WHEN CAST(('0x' || substr(
                    md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 16 = 0
                 THEN c * (c - 1) // 2 ELSE 0 END) AS DOUBLE)
                 - CAST(SUM(c * (c - 1) // 2) AS DOUBLE))
                 / CAST(SUM(c * (c - 1) // 2) AS DOUBLE), 2)
             AS rel_err_pct
    FROM (SELECT {key} AS k, count(*) AS c FROM {table} GROUP BY 1)
    """


@query(
    "selfjoin_blowup_estimate",
    oracle=(
        _blowup_sql("events", "user_id")
        + " UNION ALL "
        + _blowup_sql("lineitem", "l_orderkey")
    ),
)
def selfjoin_blowup_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-generation cost planning: BEFORE running a per-group
    quadratic operator (copurchase lift, record-linkage blocking,
    within-basket pair mining), estimate the pair count it will
    materialize — exactly (sum over keys of c*(c-1)/2 from one
    groupBy) and from a deterministic 1-in-16 KEY sample (md5-bucket
    of the key, scaled x16), the estimator a planner would use when
    even the per-key count pass is too expensive and group counts
    come from a sample or a sketch. The report carries both plus the
    sampling error, for the two natural pair-generation keys in the
    fixture corpus — events by user (sessions/linkage) and lineitem
    by order (baskets/copurchase).

    Key-sampling (not row-sampling) is the correct design: sampling
    ROWS thins every group and biases c*(c-1)/2 quadratically
    downward, while sampling whole KEYS keeps each sampled group
    intact — an unbiased Horvitz-Thompson estimate of the total.

    Determinism + scale: one groupBy per table is the only
    data-sized shuffle; everything after is arithmetic on the
    per-key count frame (integer-exact: c*(c-1) is always even, so
    the //2 is exact on both engines); the md5 key-bucket is
    portable to the oracle. At 100 TB this report is what decides
    between running the pair op as-is, a-priori pruning, or capping
    group sizes (the copurchase_lift_top20 knob)."""
    tables = [("events", "user_id"), ("lineitem", "l_orderkey")]
    outs = []
    for table, key in tables:
        c = (
            read_table(spark, sf_dir, table)
            .select(F.col(key).alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("c"))
        )
        pairs = F.expr("c * (c - 1) div 2")
        sampled = (
            F.conv(
                F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % 16
            == 0
        )
        est = 16 * F.sum(F.when(sampled, pairs).otherwise(0))
        exact = F.sum(pairs)
        outs.append(
            c.agg(
                F.lit(f"{table}.{key}").alias("table_key"),
                F.count("*").cast("bigint").alias("n_keys"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.max("c").cast("bigint").alias("max_group"),
                exact.cast("bigint").alias("exact_pairs"),
                est.cast("bigint").alias("est_pairs_sampled"),
                F.round(
                    100
                    * (est.cast("double") - exact.cast("double"))
                    / exact.cast("double"),
                    2,
                ).alias("rel_err_pct"),
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "cusum_changepoint_report",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
      FROM daily
    ), pre AS (
      SELECT day, n,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
             CAST(SUM(x) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS prefix,
             s
      FROM daily, tot
    ), cs AS (
      SELECT day, n * prefix - i * s AS cusum_scaled, n FROM pre
    ), ranked AS (
      SELECT day, cusum_scaled, n,
             CAST(row_number() OVER (ORDER BY abs(cusum_scaled) DESC,
                                     day) AS INT) AS rank
      FROM cs
    )
    SELECT rank, day, CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
           CAST(floor(CAST(cusum_scaled AS DOUBLE) / n + 0.5) AS BIGINT)
             AS cusum_cents
    FROM ranked WHERE rank <= 3
    """,
)
def cusum_changepoint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event-value series —
    the classic sequential drift detector (Page 1954) a pipeline
    monitor runs over ingest volume: the cumulative sum of deviations
    from the series mean peaks AT a level-shift boundary, so the
    argmax |CUSUM| is the maximum-likelihood single-changepoint
    estimate. Emits the top-3 candidate days by |CUSUM|. Complements
    (does not duplicate) ``cusum_changepoints`` in windows_plus.py:
    that one is the PER-USER one-sided alarm monitor (S = max(0,
    S+d) in closed window form, alarm counting against a threshold);
    this one LOCATES the level shift on the global daily series —
    the offline two-sided retrospection vs the online per-key
    monitor.

    Exactness: the textbook statistic CUSUM_i = sum_{d<=i}(x_d - S/n)
    is rational; multiplying through by n gives the INTEGER-exact
    ``cusum_scaled_i = n * prefix_i - i * S`` over value-cents
    (floor(x*100+0.5) quantization, the engine-portable rounding) —
    no float accumulates anywhere; ``cusum_cents`` (the deviation sum
    in cents) divides back at the edge via floor(x/n + 0.5), pure
    double arithmetic identical on both engines.

    Scale (100 TB posture): ONE data-sized shuffle (groupBy day);
    everything after runs on the daily frame, whose row count is the
    TIME HORIZON (thousands of rows at any corpus size), so the
    unpartitioned ordered window and the single-row totals broadcast
    are bounded by the calendar, not the data. Headroom: n * prefix
    stays within int64 while total-cents x days < 2^63 (~9e18 —
    cents-years of margin at any realistic volume); past that the
    daily frame is small enough to widen to decimal(38,0) in place."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    daily = ev.groupBy("day").agg(F.sum("cents").alias("x"))
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    w_ord = W.orderBy("day")
    pre = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        F.row_number().over(w_ord).cast("bigint").alias("i"),
        F.sum("x")
        .over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("prefix"),
        "s",
    )
    cs = pre.select(
        "day",
        (F.col("n") * F.col("prefix") - F.col("i") * F.col("s")).alias(
            "cusum_scaled"
        ),
        "n",
    )
    ranked = cs.select(
        "day",
        "cusum_scaled",
        "n",
        F.row_number()
        .over(W.orderBy(F.abs("cusum_scaled").desc(), F.col("day")))
        .cast("int")
        .alias("rank"),
    ).filter(F.col("rank") <= 3)
    return ranked.select(
        "rank",
        "day",
        F.col("cusum_scaled").cast("bigint").alias("cusum_scaled"),
        F.floor(F.col("cusum_scaled").cast("double") / F.col("n") + 0.5)
        .cast("bigint")
        .alias("cusum_cents"),
    )


@query(
    "km_return_time_survival",
    oracle="""
    WITH hz AS (
      SELECT max(ts) AS h FROM events
    ), gaps AS (
      SELECT CASE WHEN nxt IS NULL
                  THEN CAST(floor(CAST(epoch_us(h) - epoch_us(ts)
                                       AS DOUBLE) / 3600000000) AS BIGINT)
                  ELSE CAST(floor(CAST(epoch_us(nxt) - epoch_us(ts)
                                       AS DOUBLE) / 3600000000) AS BIGINT)
             END AS dur_h,
             CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS censored
      FROM (
        SELECT ts, lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
        FROM events
      ), hz
    ), byh AS (
      SELECT dur_h,
             SUM(1 - censored) AS churned,
             SUM(censored) AS n_censored
      FROM gaps GROUP BY dur_h
    ), risk AS (
      SELECT dur_h, churned, n_censored,
             (SELECT count(*) FROM gaps)
               - COALESCE(SUM(churned + n_censored)
                          OVER (ORDER BY dur_h
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS at_risk
      FROM byh
    ), km AS (
      SELECT dur_h, churned, n_censored, at_risk,
             max(CASE WHEN churned >= at_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY dur_h) AS dead,
             SUM(CASE WHEN churned >= at_risk THEN 0.0
                      ELSE ln(CAST(at_risk - churned AS DOUBLE)
                              / at_risk) END)
               OVER (ORDER BY dur_h) AS cum_ln
      FROM risk
    )
    SELECT dur_h,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(churned AS BIGINT) AS churned,
           CAST(n_censored AS BIGINT) AS n_censored,
           CASE WHEN dead = 1 THEN 0.0
                ELSE round(exp(cum_ln), 6) END AS km_survival
    FROM km WHERE dur_h < 48
    """,
)
def km_return_time_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER survival over user RETURN TIMES — the estimator
    behind churn/retention/push-timing analyses, on the duration that
    actually varies in an event stream: the gap until a user's next
    event. Every consecutive event pair is a complete observation
    (the user DID return after dur_h hours); each user's time from
    final event to the stream horizon is a RIGHT-CENSORED one (they
    had not returned yet — dropping these, the naive mistake, biases
    survival low). Emits the life table for the first 48 hours:
    at-risk count, completed returns, censored exits, and the KM
    product-limit estimate S(t) = prod(1 - d_i/n_i).

    Determinism: durations quantize to whole hours via
    floor(us_gap / 3.6e9) (pure double arithmetic on exact integer
    microseconds); the life-table columns are exact integers. The KM
    product is evaluated as exp of an ORDER-PINNED cumulative sum of
    ln factors (each factor (r-d)/r divides exact integers); ln/exp
    may differ by an ulp across engines, absorbed by the 6dp edge
    round. A day where everyone at risk churns (factor 0) would make
    ln blow up — DuckDB errors on ln(0) where Spark yields NULL — so
    both sides gate it with the same cumulative 'dead' flag and pin
    survival to exactly 0.0 from there on.

    Scale: one window over events partitioned BY USER (data-sized,
    key-parallel) computes the gaps; the life table is one groupBy
    over gap rows; the cumulative windows run on the duration-hour
    frame (bounded by the horizon, not the data). The single-row
    horizon frame broadcasts."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    from pyspark.sql import Window as W

    hz = ev.agg(F.max("ts").alias("h"))
    w_u = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("nxt", F.lead("ts").over(w_u))
        .crossJoin(F.broadcast(hz))
        .select(
            F.floor(
                (
                    F.unix_micros(F.coalesce("nxt", "h"))
                    - F.unix_micros("ts")
                ).cast("double")
                / 3600000000
            )
            .cast("bigint")
            .alias("dur_h"),
            F.col("nxt").isNull().cast("int").alias("censored"),
        )
    )

    byh = (
        gaps.groupBy("dur_h").agg(
            F.sum(1 - F.col("censored")).alias("churned"),
            F.sum("censored").alias("n_censored"),
        )
    )
    tot = byh.agg(
        F.sum(F.col("churned") + F.col("n_censored")).alias("__total")
    )
    w_ord = W.orderBy("dur_h")
    w_prev = w_ord.rowsBetween(W.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = byh.crossJoin(F.broadcast(tot)).select(
        "dur_h",
        "churned",
        "n_censored",
        (
            F.col("__total")
            - F.coalesce(
                F.sum(F.col("churned") + F.col("n_censored")).over(w_prev),
                F.lit(0),
            )
        ).alias("at_risk"),
    )
    dead_flag = F.max(
        F.when(F.col("churned") >= F.col("at_risk"), 1).otherwise(0)
    ).over(w_run)
    cum_ln = F.sum(
        F.when(F.col("churned") >= F.col("at_risk"), F.lit(0.0)).otherwise(
            F.log(
                (F.col("at_risk") - F.col("churned")).cast("double")
                / F.col("at_risk")
            )
        )
    ).over(w_run)
    return (
        risk.select(
            "dur_h",
            F.col("at_risk").cast("bigint").alias("at_risk"),
            F.col("churned").cast("bigint").alias("churned"),
            F.col("n_censored").cast("bigint").alias("n_censored"),
            dead_flag.alias("__dead"),
            cum_ln.alias("__cum_ln"),
        )
        .filter(F.col("dur_h") < 48)
        .select(
            "dur_h",
            "at_risk",
            "churned",
            "n_censored",
            F.when(F.col("__dead") == 1, F.lit(0.0))
            .otherwise(F.round(F.exp("__cum_ln"), 6))
            .alias("km_survival"),
        )
    )


@query(
    "sequential_ab_msprt",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS dn_a,
             SUM(CASE WHEN user_id % 2 = 0
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS ds_a,
             SUM(CASE WHEN user_id % 2 = 0
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           * CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS dq_a,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS dn_b,
             SUM(CASE WHEN user_id % 2 = 1
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS ds_b,
             SUM(CASE WHEN user_id % 2 = 1
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           * CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS dq_b
      FROM events GROUP BY 1
    ), cum AS (
      SELECT day,
             CAST(SUM(dn_a) OVER w AS BIGINT) AS n_a,
             CAST(SUM(ds_a) OVER w AS BIGINT) AS s_a,
             CAST(SUM(dq_a) OVER w AS BIGINT) AS q_a,
             CAST(SUM(dn_b) OVER w AS BIGINT) AS n_b,
             CAST(SUM(ds_b) OVER w AS BIGINT) AS s_b,
             CAST(SUM(dq_b) OVER w AS BIGINT) AS q_b
      FROM daily
      WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ), stat AS (
      SELECT day, n_a, n_b,
             CAST(s_a AS DOUBLE) / (100.0 * n_a)
               - CAST(s_b AS DOUBLE) / (100.0 * n_b) AS delta,
             ((CAST(q_a AS DOUBLE) / 10000.0
               - n_a * (CAST(s_a AS DOUBLE) / (100.0 * n_a))
                     * (CAST(s_a AS DOUBLE) / (100.0 * n_a)))
              + (CAST(q_b AS DOUBLE) / 10000.0
                 - n_b * (CAST(s_b AS DOUBLE) / (100.0 * n_b))
                       * (CAST(s_b AS DOUBLE) / (100.0 * n_b))))
             / (n_a + n_b - 2) AS var_p
      FROM cum WHERE n_a >= 2 AND n_b >= 2
    ), lam AS (
      SELECT day, n_a, n_b, delta,
             CAST(floor(1000000.0 * (
               0.5 * ln((var_p * (1.0 / n_a + 1.0 / n_b))
                        / (var_p * (1.0 / n_a + 1.0 / n_b) + 100.0))
               + delta * delta * 100.0
                 / (2.0 * (var_p * (1.0 / n_a + 1.0 / n_b))
                    * (var_p * (1.0 / n_a + 1.0 / n_b) + 100.0))
             ) + 0.5) AS BIGINT) AS llq
      FROM stat
    )
    SELECT day, n_a, n_b,
           CAST(floor(100.0 * delta + 0.5) AS BIGINT) / 100.0
             AS mean_diff,
           llq / 1000000.0 AS log_lambda,
           llq > 2995732 AS significant,
           CAST(max(llq) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) > 2995732 AS ever_significant
    FROM lam
    """,
)
def sequential_ab_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALWAYS-VALID sequential A/B monitoring via the mixture
    sequential probability ratio test (Wald 1945; Johari et al.
    KDD'17 'Peeking at A/B Tests'): a fixed-horizon t-test read daily
    inflates false positives badly (the peeking problem); the mSPRT's
    mixture likelihood ratio can be monitored EVERY day and still
    controls type-I error at any stopping time. Per day: cumulative
    per-arm counts, the mean difference, log Lambda under a
    N(0, tau^2 = 100) effect-size mixture over the estimator's
    variance V = sigma_pooled^2 (1/n_a + 1/n_b), significance at
    alpha = 0.05 (log Lambda > ln 20), and the ever-significant flag
    (once crossed, the decision is made — that is what always-valid
    means). Complements the fixed-horizon `ab_test_report` and the
    variance-reduced `cuped_adjusted_ab`; arm assignment is the same
    user_id % 2.

    Determinism: all cumulative inputs are exact integer cents
    (floor(x*100+0.5)) summed in an ORDER-PINNED day window; the
    statistic is a fixed sequence of double ops over those exact
    integers, quantized to integer ppm via floor(x*1e6 + 0.5) BEFORE
    any comparison — the significance thresholds compare quantized
    integers against the Python-computed literal
    floor(1e6*ln(20)+0.5) = 2995732, identical on both engines
    (ln/exp ulp risk confined to the ppm quantization boundary).

    Scale: one data-sized shuffle (groupBy day with conditional
    per-arm sums); every window runs on the CALENDAR-bounded daily
    frame. int64 headroom: cents^2 sums bound by rows x (max
    cents)^2 — 1e16 at this fixture shape, 2^63 cap documented."""
    from pyspark.sql import Window as W

    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    is_a = F.col("user_id") % 2 == 0
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        F.when(is_a, 1).otherwise(0).alias("ia"),
        F.when(is_a, cents).otherwise(0).alias("ca"),
        F.when(is_a, cents * cents).otherwise(0).alias("qa"),
        F.when(~is_a, 1).otherwise(0).alias("ib"),
        F.when(~is_a, cents).otherwise(0).alias("cb"),
        F.when(~is_a, cents * cents).otherwise(0).alias("qb"),
    )
    daily = ev.groupBy("day").agg(
        F.sum("ia").alias("dn_a"),
        F.sum("ca").alias("ds_a"),
        F.sum("qa").alias("dq_a"),
        F.sum("ib").alias("dn_b"),
        F.sum("cb").alias("ds_b"),
        F.sum("qb").alias("dq_b"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = daily.select(
        "day",
        *[
            F.sum(c).over(w).cast("bigint").alias(a)
            for c, a in [
                ("dn_a", "n_a"), ("ds_a", "s_a"), ("dq_a", "q_a"),
                ("dn_b", "n_b"), ("ds_b", "s_b"), ("dq_b", "q_b"),
            ]
        ],
    ).filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    m_a = F.col("s_a").cast("double") / (100.0 * F.col("n_a"))
    m_b = F.col("s_b").cast("double") / (100.0 * F.col("n_b"))
    delta = m_a - m_b
    var_p = (
        (F.col("q_a").cast("double") / 10000.0 - F.col("n_a") * m_a * m_a)
        + (F.col("q_b").cast("double") / 10000.0 - F.col("n_b") * m_b * m_b)
    ) / (F.col("n_a") + F.col("n_b") - 2)
    v = var_p * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    log_lam = 0.5 * F.log(v / (v + 100.0)) + delta * delta * 100.0 / (
        2.0 * v * (v + 100.0)
    )
    lam = cum.select(
        "day",
        "n_a",
        "n_b",
        delta.alias("delta"),
        F.floor(1000000.0 * log_lam + 0.5).cast("bigint").alias("llq"),
    )
    runmax = F.max("llq").over(w)
    return lam.select(
        "day",
        "n_a",
        "n_b",
        (
            F.floor(100.0 * F.col("delta") + 0.5).cast("bigint") / 100.0
        ).alias("mean_diff"),
        (F.col("llq") / 1000000.0).alias("log_lambda"),
        (F.col("llq") > 2995732).alias("significant"),
        (runmax > 2995732).alias("ever_significant"),
    )


@query(
    "rfm_segmentation",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             datediff('day',
                      CAST(max(o_orderdate) AS DATE),
                      (SELECT CAST(max(o_orderdate) AS DATE)
                       FROM orders)) AS rec_days,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS m100
      FROM orders
      GROUP BY o_custkey
    ),
    cuts AS (
      SELECT quantile_cont(rec_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
             quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
             quantile_cont(m100, [0.2, 0.4, 0.6, 0.8]) AS mc
      FROM per
    ),
    scored AS (
      SELECT p.rec_days, p.freq, p.m100,
             1 + CAST(p.rec_days <= CAST(floor(c.rc[1] + 0.5) AS BIGINT) AS INT)
               + CAST(p.rec_days <= CAST(floor(c.rc[2] + 0.5) AS BIGINT) AS INT)
               + CAST(p.rec_days <= CAST(floor(c.rc[3] + 0.5) AS BIGINT) AS INT)
               + CAST(p.rec_days <= CAST(floor(c.rc[4] + 0.5) AS BIGINT) AS INT)
               AS r_score,
             1 + CAST(p.freq > CAST(floor(c.fc[1] + 0.5) AS BIGINT) AS INT)
               + CAST(p.freq > CAST(floor(c.fc[2] + 0.5) AS BIGINT) AS INT)
               + CAST(p.freq > CAST(floor(c.fc[3] + 0.5) AS BIGINT) AS INT)
               + CAST(p.freq > CAST(floor(c.fc[4] + 0.5) AS BIGINT) AS INT)
               AS f_score,
             1 + CAST(p.m100 > CAST(floor(c.mc[1] + 0.5) AS BIGINT) AS INT)
               + CAST(p.m100 > CAST(floor(c.mc[2] + 0.5) AS BIGINT) AS INT)
               + CAST(p.m100 > CAST(floor(c.mc[3] + 0.5) AS BIGINT) AS INT)
               + CAST(p.m100 > CAST(floor(c.mc[4] + 0.5) AS BIGINT) AS INT)
               AS m_score
      FROM per p CROSS JOIN cuts c
    ),
    seg AS (
      SELECT CASE
               WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
               WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_returning'
               WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
               WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
               WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
               ELSE 'needs_attention'
             END AS segment,
             rec_days, freq, m100, m_score
      FROM scored
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(rec_days) AS BIGINT) AS sum_recency_days,
           CAST(SUM(freq) AS BIGINT) AS sum_orders,
           CAST(SUM(m100) AS BIGINT) AS total_monetary_cents,
           CAST(SUM(CASE WHEN m_score >= 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS big_spenders
    FROM seg
    GROUP BY segment
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — THE classic customer-base analytic (Hughes
    1994): score every customer 1-5 on Recency (days since last
    order, fresher = higher), Frequency (order count) and Monetary
    (lifetime spend), then roll the base into the standard actionable
    segments (champions / loyal / at-risk / hibernating / ...). The
    marketing sibling of `weekly_retention_cohorts`.

    Scale-first scoring: NOT a global NTILE — that is a single-
    partition sort of the whole customer dimension (billions of rows
    at 100 TB). Instead the 20/40/60/80th-percentile cutpoints of
    each dimension are computed as ONE single-row aggregate,
    broadcast, and every customer is scored by map-side comparisons
    against the four cuts: one shuffle for the per-customer rollup,
    one for the tiny segment rollup, no global sort anywhere. (Tile
    populations are uneven exactly where value ties are heavy —
    fixed-breakpoint RFM, the standard practice variant.)

    Determinism: recency/frequency are exact integers; money is
    summed in DECIMAL(18,2) and carried as integer CENTS end-to-end
    (no double monetary anywhere — sidesteps the DuckDB
    decimal->double two-rounding ulp entirely). The interpolated
    percentile cuts are the one double computation — both engines
    run type-7 interpolation on identical integer inputs — and each
    cut is quantized to an integer via floor(c + 0.5) BEFORE any
    row comparison, so an interpolation ulp cannot flip a boundary
    customer (the conversion_funnel rule). Exact percentiles at the
    oracle-paired call site (hash-exact parity needs interpolated
    determinism); the operator default elsewhere is the mergeable
    sketch — see dq.profile.percentiles.
    """
    from logicash_etl_spark.dq.profile import percentiles

    o = read_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_dt"),
        F.count("*").cast("bigint").alias("freq"),
        F.sum((money("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("m100"),
    )

    # the global max order date IS the max of the per-customer maxes
    asof = per.agg(F.max("last_dt").alias("asof"))
    per = per.crossJoin(F.broadcast(asof)).select(
        F.datediff("asof", "last_dt").cast("bigint").alias("rec_days"),
        "freq",
        "m100",
    )
    fr = [0.2, 0.4, 0.6, 0.8]
    cuts = per.agg(
        percentiles(F.col("rec_days"), fr, exact=True).alias("rc"),
        percentiles(F.col("freq"), fr, exact=True).alias("fc"),
        percentiles(F.col("m100"), fr, exact=True).alias("mc"),
    )

    def _q(arr: str, i: int):  # cut i, quantized to bigint
        return F.floor(F.col(arr)[i] + 0.5).cast("bigint")

    def _score(col: str, arr: str, descending_good: bool):
        s = F.lit(1)
        for i in range(4):
            hit = (
                (F.col(col) <= _q(arr, i))
                if descending_good
                else (F.col(col) > _q(arr, i))
            )
            s = s + hit.cast("int")
        return s

    scored = per.crossJoin(F.broadcast(cuts)).select(
        "rec_days",
        "freq",
        "m100",
        _score("rec_days", "rc", True).alias("r_score"),
        _score("freq", "fc", False).alias("f_score"),
        _score("m100", "mc", False).alias("m_score"),
    )
    r, f = F.col("r_score"), F.col("f_score")
    seg = scored.withColumn(
        "segment",
        F.when((r >= 4) & (f >= 4), "champions")
        .when((r >= 4) & (f <= 2), "new_or_returning")
        .when((r >= 3) & (f >= 3), "loyal")
        .when((r <= 2) & (f >= 3), "at_risk")
        .when((r <= 2) & (f <= 2), "hibernating")
        .otherwise("needs_attention"),
    )
    return seg.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("rec_days").cast("bigint").alias("sum_recency_days"),
        F.sum("freq").cast("bigint").alias("sum_orders"),
        F.sum("m100").cast("bigint").alias("total_monetary_cents"),
        F.sum((F.col("m_score") >= 4).cast("int"))
        .cast("bigint")
        .alias("big_spenders"),
    )


@query(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    mn AS (SELECT min(day) AS d0 FROM daily),
    dx AS (
      SELECT event_type,
             CAST(datediff('day', (SELECT d0 FROM mn), day)
                  AS BIGINT) AS x,
             y
      FROM daily
    ),
    pairs AS (
      SELECT a.event_type,
             (b.y - a.y) * 1.0 / (b.x - a.x) AS slope
      FROM dx a JOIN dx b
        ON a.event_type = b.event_type AND b.x > a.x
    ),
    ts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             quantile_cont(slope, 0.5) AS ts_slope
      FROM pairs GROUP BY event_type
    ),
    ols AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             (count(*) * SUM(x * y) - SUM(x) * SUM(y)) * 1.0
               / (count(*) * SUM(x * x) - SUM(x) * SUM(x)) AS ols_slope
      FROM dx GROUP BY event_type
    )
    SELECT t.event_type, o.n_days, t.n_pairs,
           floor(100.0 * t.ts_slope + 0.5) / 100.0
             AS theil_sen_cents_per_day,
           floor(100.0 * o.ols_slope + 0.5) / 100.0
             AS ols_cents_per_day
    FROM ts t JOIN ols o USING (event_type)
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type (Theil 1950 / Sen 1968):
    the median of all pairwise day-slopes of the daily value total —
    a trend estimator with a 29% breakdown point, next to the
    least-squares slope that a single corrupted day can drag
    arbitrarily far (the robust-statistics sibling of
    `value_outlier_mad` vs mean/stddev). Emitting both slopes side by
    side is the point: the gap IS the outlier diagnostic.

    Scale: the pairwise stage is O(horizon^2) per group — bounded by
    the CALENDAR (a 10-year horizon is ~6.7M pairs per group,
    constant in corpus size), not by row count; the corpus-sized work
    is the one daily-rollup shuffle, map-side combinable. The OLS
    slope needs no pairs at all (closed form over exact integer
    sums). x is re-based to the global min day (single-row broadcast)
    so the integer moment sums stay far from int64 range at any
    horizon x daily-volume combination.

    Determinism: daily totals are exact integer CENTS (decimal sum,
    the rfm_segmentation rule); x is an exact day index; each pair
    slope is one double division of exact integers (identical IEEE on
    both engines); the median is type-7 interpolation over identical
    doubles — exact percentile at the oracle-paired call site, sketch
    default elsewhere (dq.profile.percentiles); outputs quantize via
    floor(100x+0.5)/100, half-up toward +inf on both engines for
    negative slopes too."""
    from logicash_etl_spark.dq.profile import percentiles

    ev = read_table(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (money("value") * 100).cast("bigint").alias("cents"),
    ).groupBy("event_type", "day").agg(
        F.sum("cents").cast("bigint").alias("y")
    )

    mn = daily.agg(F.min("day").alias("d0"))
    dx = daily.crossJoin(F.broadcast(mn)).select(
        "event_type",
        F.datediff("day", "d0").cast("bigint").alias("x"),
        "y",
    )
    a, b = dx.alias("a"), dx.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.x") > F.col("a.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y"))
            * 1.0
            / (F.col("b.x") - F.col("a.x"))
        ).alias("slope"),
    )
    ts = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        percentiles(F.col("slope"), 0.5, exact=True).alias("ts_slope"),
    )
    n = F.count("*")
    ols = dx.groupBy("event_type").agg(
        n.cast("bigint").alias("n_days"),
        (
            (n * F.sum(F.col("x") * F.col("y"))
             - F.sum("x") * F.sum("y"))
            * 1.0
            / (n * F.sum(F.col("x") * F.col("x"))
               - F.sum("x") * F.sum("x"))
        ).alias("ols_slope"),
    )
    return ts.join(ols, "event_type").select(
        "event_type",
        "n_days",
        "n_pairs",
        (F.floor(100.0 * F.col("ts_slope") + 0.5) / 100.0).alias(
            "theil_sen_cents_per_day"
        ),
        (F.floor(100.0 * F.col("ols_slope") + 0.5) / 100.0).alias(
            "ols_cents_per_day"
        ),
    )


@query(
    "multi_touch_attribution",
    oracle="""
    WITH ev AS (
      SELECT event_id, ts, user_id, event_type,
             CAST(CAST(COALESCE(value, 0) AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
      FROM events
    ),
    conv AS (
      SELECT event_id AS conv_id, user_id, ts AS cts,
             GREATEST(cents, 0) AS cents
      FROM ev WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id, ts, user_id, event_type
      FROM ev WHERE event_type <> 'purchase'
    ),
    j AS (
      SELECT c.conv_id, c.cents, t.event_type, t.ts, t.event_id
      FROM touch t JOIN conv c
        ON t.user_id = c.user_id
       AND t.ts < c.cts
       AND t.ts >= c.cts - INTERVAL 7 DAY
    ),
    r AS (
      SELECT conv_id, cents, event_type,
             row_number() OVER (
               PARTITION BY conv_id ORDER BY ts DESC, event_id DESC
             ) AS rnk,
             count(*) OVER (PARTITION BY conv_id) AS k
      FROM j
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           CAST(SUM(CASE WHEN rnk = 1 THEN cents ELSE 0 END)
                AS BIGINT) AS last_touch_cents,
           CAST(SUM(cents * 1000000 // k
                    + CASE WHEN rnk = 1 THEN cents * 1000000 % k
                           ELSE 0 END)
                AS BIGINT) AS linear_microcents
    FROM r GROUP BY event_type
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution — the marketing-analytics workhorse:
    credit each purchase's value to the touch events (clicks, views,
    signups) the same user produced in the 7 days before it, under
    the two canonical models side by side: LAST-TOUCH (the final
    touch takes everything) and LINEAR (equal split across the
    window). Divergence between the columns is the report's point —
    it shows which channels close vs assist.

    Determinism: money rides as integer cents; the linear split is
    EXACT INTEGER arithmetic — each touch gets cents*1e6 div k
    micro-cents and the division remainder goes to the rank-1 touch,
    so per-channel sums are order-independent bigints (a double 1/k
    credit would make the channel totals partition-order dependent)
    and the invariant sum(linear) = 1e6 * sum(attributed cents) holds
    exactly. Touch order is pinned by (ts, event_id) — unique tiebreak.
    Conversion value is clamped to GREATEST(cents, 0) in BOTH engines
    before the split: the integer div/% pair agrees across Spark
    (truncating `div`) and DuckDB (flooring `//`) only for
    non-negative numerators, so refunds (negative value) attribute
    zero credit by contract rather than engine-dependent microcents.

    Scale: one scan splits into touches and conversions; the join is
    per-user with a 7-day range predicate — candidate pairs are
    bounded by per-user activity x horizon, not corpus^2; heavy-user
    skew is the known lever (join_skew_profile diagnoses it, salting
    fixes it). Window functions partition by conversion id — millions
    of small partitions, no global sort. Conversions with zero
    in-window touches are unattributed and drop out (inner join), by
    definition of the models."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        (money(F.coalesce("value", F.lit(0))) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("cts"),
        F.greatest(F.col("cents"), F.lit(0).cast("bigint")).alias("cents"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "ts", "user_id", "event_type"
    )
    j = touch.join(
        conv,
        (touch.user_id == conv.c_uid)
        & (touch.ts < conv.cts)
        & (touch.ts >= conv.cts - F.expr("INTERVAL 7 DAY")),
    ).select("conv_id", "cents", "event_type", "ts", "event_id")
    wr = W.partitionBy("conv_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wk = W.partitionBy("conv_id")
    r = j.select(
        "conv_id",
        "cents",
        "event_type",
        F.row_number().over(wr).alias("rnk"),
        F.count("*").over(wk).alias("k"),
    )
    credit = F.expr(
        "cents * 1000000 div k"
        " + (CASE WHEN rnk = 1 THEN cents * 1000000 % k ELSE 0 END)"
    )
    return r.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.countDistinct("conv_id").cast("bigint").alias("n_conversions"),
        F.sum(F.when(F.col("rnk") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("last_touch_cents"),
        F.sum(credit).cast("bigint").alias("linear_microcents"),
    )


@query(
    "mutual_information_cells",
    oracle="""
    WITH joint AS (
      SELECT event_type AS x,
             CAST(floor(value / 100) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS n_xy
      FROM events GROUP BY x, y
    ),
    m AS (
      SELECT x, y, n_xy,
             CAST(SUM(n_xy) OVER (PARTITION BY x) AS BIGINT) AS n_x,
             CAST(SUM(n_xy) OVER (PARTITION BY y) AS BIGINT) AS n_y
      FROM joint
    ),
    tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM joint)
    SELECT m.x AS event_type, m.y AS value_band,
           m.n_xy, m.n_x, m.n_y,
           round((CAST(m.n_xy AS DOUBLE) / t.n)
                 * ln(CAST(m.n_xy AS DOUBLE) * t.n
                      / (CAST(m.n_x AS DOUBLE) * m.n_y)), 6)
             AS mi_contrib_nats
    FROM m CROSS JOIN tot t
    """,
)
def mutual_information_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and value band — the
    feature-dependence audit run before treating two columns as
    independent (composite stratification keys, naive-Bayes-style
    quality models, or whether a mixture weight can be factorized):
    per-cell contributions p(x,y) * ln(p(x,y)/(p(x)p(y))), whose sum
    is MI(X;Y) in nats. Emitted PER CELL (the `value_drift_psi`
    convention) rather than as one scalar: a double sum over cells
    would be partition-order dependent, and the cell rows show WHERE
    the dependence lives (which type/band combinations over- or
    under-co-occur, the lift sign).

    Determinism: joint and marginal counts are exact BIGINTs (the
    marginals are window sums over the joint frame — no second scan);
    each cell's single ln-based term is computed from identical
    integers on both engines and rounded at 6dp (the stat_moments
    libm-ulp rule).

    Scale: ONE corpus scan -> a |types| x |bands| hash aggregate
    (map-side combinable, the only data-sized shuffle); everything
    after operates on the cell frame, whose size is the product of
    two SMALL domains by construction. The totals row broadcasts."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    joint = ev.groupBy(
        F.col("event_type").alias("x"),
        F.floor(F.col("value") / 100).cast("bigint").alias("y"),
    ).agg(F.count("*").cast("bigint").alias("n_xy"))

    m = joint.select(
        "x",
        "y",
        "n_xy",
        F.sum("n_xy").over(W.partitionBy("x")).cast("bigint").alias("n_x"),
        F.sum("n_xy").over(W.partitionBy("y")).cast("bigint").alias("n_y"),
    )
    tot = joint.agg(F.sum("n_xy").cast("bigint").alias("n"))
    contrib = (F.col("n_xy").cast("double") / F.col("n")) * F.log(
        F.col("n_xy").cast("double")
        * F.col("n")
        / (F.col("n_x").cast("double") * F.col("n_y"))
    )
    return m.crossJoin(F.broadcast(tot)).select(
        F.col("x").alias("event_type"),
        F.col("y").alias("value_band"),
        "n_xy",
        "n_x",
        "n_y",
        F.round(contrib, 6).alias("mi_contrib_nats"),
    )


@query(
    "cohort_ltv_curve",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             CAST(min(ts) AS DATE) AS d0,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    cohorts AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
      FROM first_seen GROUP BY cohort_week
    ),
    rev AS (
      SELECT f.cohort_week,
             CAST(datediff('day', f.d0, CAST(e.ts AS DATE)) // 7
                  AS BIGINT) AS age_week,
             CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY f.cohort_week, age_week
    ),
    cum AS (
      SELECT cohort_week, age_week, revenue_cents,
             CAST(SUM(revenue_cents) OVER (
               PARTITION BY cohort_week ORDER BY age_week
             ) AS BIGINT) AS cum_revenue_cents
      FROM rev
    )
    SELECT c.cohort_week, c.age_week, k.cohort_users,
           c.revenue_cents, c.cum_revenue_cents,
           CAST(c.cum_revenue_cents * 1000000 // k.cohort_users
                AS BIGINT) AS ltv_microcents_per_user
    FROM cum c JOIN cohorts k USING (cohort_week)
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue-side companion of
    `weekly_retention_cohorts`: users are cohorted by the ISO week
    they first appeared, purchase revenue is bucketed by the user's
    OWN age in weeks at purchase time (per-user anchoring, the
    standard LTV convention), and each cohort's running cumulative
    revenue is normalized per cohort member. Reading down a column
    compares cohort quality at equal age; reading along a row is the
    payback curve.

    Determinism: revenue is exact integer cents end-to-end; per-user
    LTV is cum_cents * 1e6 div cohort_users — exact integer
    micro-cents (the multi_touch_attribution rule), no double
    division; the cumulative is an order-pinned window over age_week
    (unique within cohort after the rollup). Both engines truncate
    weeks to ISO Monday.

    Scale: one scan for first-seen (per-user min, map-side
    combinable), one purchase scan joined to it per user (dimension-
    sized build side), a (cohorts x ages)-bounded rollup, and a
    cumulative window partitioned per cohort over that CALENDAR-
    bounded frame — no global sort, nothing driver-side. Age weeks
    with zero purchases are absent (sparse), so the cumulative
    carries across gaps by construction."""
    ev = read_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
    ).select(
        "user_id",
        F.col("t0").cast("date").alias("d0"),
        F.date_trunc("week", "t0").cast("date").alias("cohort_week"),
    )

    cohorts = first_seen.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("cohort_users")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").cast("date").alias("pd"),
        (money("value") * 100).cast("bigint").alias("cents"),
    )
    rev = (
        pur.join(first_seen, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(pd, d0) div 7").cast("bigint").alias("age_week"),
            "cents",
        )
        .groupBy("cohort_week", "age_week")
        .agg(F.sum("cents").cast("bigint").alias("revenue_cents"))
    )
    from pyspark.sql import Window as W

    wc = W.partitionBy("cohort_week").orderBy("age_week").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = rev.withColumn(
        "cum_revenue_cents",
        F.sum("revenue_cents").over(wc).cast("bigint"),
    )
    return cum.join(cohorts, "cohort_week").select(
        "cohort_week",
        "age_week",
        "cohort_users",
        "revenue_cents",
        "cum_revenue_cents",
        F.expr("cum_revenue_cents * 1000000 div cohort_users")
        .cast("bigint")
        .alias("ltv_microcents_per_user"),
    )


@query(
    "time_to_convert_percentiles",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(epoch_us(ts)) AS first_us,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS conv_us
      FROM events GROUP BY user_id
    ),
    delays AS (
      SELECT (conv_us - first_us) // 60000000 AS delay_min
      FROM per_user WHERE conv_us IS NOT NULL
    )
    SELECT CAST((SELECT count(*) FROM per_user) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_converters,
           floor(100.0 * quantile_cont(delay_min, 0.25) + 0.5) / 100.0
             AS p25_minutes,
           floor(100.0 * quantile_cont(delay_min, 0.50) + 0.5) / 100.0
             AS p50_minutes,
           floor(100.0 * quantile_cont(delay_min, 0.75) + 0.5) / 100.0
             AS p75_minutes,
           floor(100.0 * quantile_cont(delay_min, 0.90) + 0.5) / 100.0
             AS p90_minutes,
           CAST(max(delay_min) AS BIGINT) AS max_minutes
    FROM delays
    """,
)
def time_to_convert_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution — the latency half of
    `conversion_funnel`: per user, minutes from FIRST appearance to
    FIRST purchase, summarized as interpolated quartiles + p90 + max
    over converters (non-converters counted in n_users, excluded
    from the distribution — censoring them into the percentiles
    would understate true latency; `km_return_time_survival` is the
    censoring-aware treatment).

    Determinism: delays are exact integer MINUTES computed from
    integer microseconds (floor div — float division of epoch micros
    loses precision at 1e18, the readers.py rule); percentiles are
    type-7 over identical integers, quantized floor(100x+0.5)/100 at
    the output edge only (exact percentile at the oracle-paired call
    site, mergeable sketch elsewhere — dq.profile.percentiles).

    Scale: ONE scan, one per-user conditional min-aggregate (map-side
    combinable), then a single-row summary over the converter-delay
    frame. No joins, no windows."""
    from logicash_etl_spark.dq.profile import percentiles

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros("ts")
            )
        ).alias("conv_us"),
    )

    n_users = per_user.agg(F.count("*").cast("bigint").alias("n_users"))
    delays = per_user.filter(F.col("conv_us").isNotNull()).select(
        F.expr("(conv_us - first_us) div 60000000").alias("delay_min")
    )

    def _p(frac: float):
        return F.floor(
            100.0 * percentiles(F.col("delay_min"), frac, exact=True) + 0.5
        ) / 100.0

    stats = delays.agg(
        F.count("*").cast("bigint").alias("n_converters"),
        _p(0.25).alias("p25_minutes"),
        _p(0.50).alias("p50_minutes"),
        _p(0.75).alias("p75_minutes"),
        _p(0.90).alias("p90_minutes"),
        F.max("delay_min").cast("bigint").alias("max_minutes"),
    )
    return n_users.crossJoin(F.broadcast(stats)).select(
        "n_users",
        "n_converters",
        "p25_minutes",
        "p50_minutes",
        "p75_minutes",
        "p90_minutes",
        "max_minutes",
    )


@query(
    "weekday_seasonality_report",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(isodow(ts) - 1 AS BIGINT) AS weekday,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, weekday
    ),
    m AS (
      SELECT event_type, weekday, n,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_type,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS k_days
      FROM cells
    )
    SELECT event_type, weekday, n, n_type,
           round(POWER(n - CAST(n_type AS DOUBLE) / k_days, 2)
                 / (CAST(n_type AS DOUBLE) / k_days), 6)
             AS chi2_contrib
    FROM m
    """,
)
def weekday_seasonality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: observed count per
    (type, ISO weekday) against the uniform-across-observed-days
    expectation, as per-cell chi-square contributions
    (obs - exp)^2 / exp whose sum is the classic goodness-of-fit
    statistic. The calendar sibling of `mutual_information_cells` —
    per-cell emission for the same two reasons (a double sum over
    cells is partition-order dependent; the cells show WHICH days
    carry the pattern). Feeding `acf_daily_values` answers "is there
    periodicity"; this answers "what weekly shape is it".

    Determinism: weekday is Monday=0 on both engines (Spark
    weekday() == DuckDB isodow()-1 — the raw dayofweek() functions
    disagree on Sunday); counts and marginals are exact BIGINTs
    (window sums over the cell frame); the single per-cell double
    term rounds at 6dp.

    Scale: one scan into a |types| x 7 hash aggregate (map-side
    combinable, the only data-sized shuffle); the window marginals
    run over the bounded cell frame."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.weekday("ts").cast("bigint").alias("weekday"),
    ).agg(F.count("*").cast("bigint").alias("n"))

    w = W.partitionBy("event_type")
    m = cells.select(
        "event_type",
        "weekday",
        "n",
        F.sum("n").over(w).cast("bigint").alias("n_type"),
        F.count("*").over(w).cast("bigint").alias("k_days"),
    )
    exp = F.col("n_type").cast("double") / F.col("k_days")
    return m.select(
        "event_type",
        "weekday",
        "n",
        "n_type",
        F.round(F.pow(F.col("n") - exp, 2) / exp, 6).alias("chi2_contrib"),
    )


@query(
    "abc_inventory_classes",
    oracle="""
    WITH part_rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM part_rev),
    cum AS (
      SELECT l_partkey, cents,
             CAST(COALESCE(SUM(cents) OVER (
               ORDER BY cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS excl
      FROM part_rev
    ),
    labeled AS (
      SELECT c.cents,
             CASE WHEN c.excl * 100 < 80 * t.t THEN 'A'
                  WHEN c.excl * 100 < 95 * t.t THEN 'B'
                  ELSE 'C' END AS abc_class,
             t.t
      FROM cum c CROSS JOIN tot t
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST((20000 * SUM(cents) + any_value(t))
                // (2 * any_value(t)) AS BIGINT) AS revenue_share_bp
    FROM labeled GROUP BY abc_class
    """,
)
def abc_inventory_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification — the operations classic
    behind "20% of SKUs drive 80% of revenue": parts sorted by
    revenue descending, class A while the EXCLUSIVE cumulative share
    is under 80%, B under 95%, C beyond (exclusive-prefix rule, so a
    whale part that alone crosses 80% still classifies A). The
    actionable sibling of `revenue_concentration_gini` (which scores
    the inequality; this names the SKUs... or here, the class sizes).

    Scale: the descending cumulative is NOT a global ORDER BY window
    — it is grouped_prefix_sum range-bucketed on -cents (the gini/
    token-budget scan): one shuffle into 32 deterministic revenue
    ranges, parallel within-bucket windows, an O(buckets) totals
    chain. Classification is then integer compares against the
    broadcast single-row total.

    Determinism: revenue in exact integer cents; the total order is
    (cents DESC, partkey) — unique tiebreak; class thresholds and
    basis-point shares are pure BIGINT arithmetic (excl*100 < 80*t;
    half-up share via (20000*s + t) div (2t)) — no doubles anywhere.
    At corpus sizes where 100*total nears 2^63, coarsen the currency
    unit (the gini rule) or lift the two products to DECIMAL(38,0)."""
    from logicash_etl_spark.operators.partitioning import grouped_prefix_sum

    li = read_table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum((money("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # persisted: tests/test_plan_contracts.py::test_abc_single_lineitem_scan
    # pins one lineitem scan (part_rev feeds the total and the prefix sum)
    part_rev = scoped_persist(part_rev)
    tot = part_rev.agg(F.sum("cents").cast("bigint").alias("t"))
    pr = part_rev.select(
        F.lit("all").alias("__g"),
        "l_partkey",
        "cents",
        (-F.col("cents")).alias("__neg"),
    )
    cum = grouped_prefix_sum(
        pr,
        group_col="__g",
        bucket_key="__neg",
        order_cols=[F.col("cents").desc(), F.col("l_partkey").asc()],
        value_col="cents",
        out_col="excl",
        inclusive=False,
    )
    labeled = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        "t",
        F.when(F.col("excl") * 100 < 80 * F.col("t"), "A")
        .when(F.col("excl") * 100 < 95 * F.col("t"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return labeled.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
        F.expr("(20000 * sum(cents) + any_value(t)) div (2 * any_value(t))")
        .cast("bigint")
        .alias("revenue_share_bp"),
    )


@query(
    "order_backlog_aging",
    oracle="""
    WITH anchor AS (SELECT CAST(max(o_orderdate) AS DATE) AS a FROM orders),
    aged AS (
      SELECT o.o_orderstatus AS status,
             CASE
               WHEN datediff('day', CAST(o.o_orderdate AS DATE), t.a)
                    <= 30 THEN '0-30d'
               WHEN datediff('day', CAST(o.o_orderdate AS DATE), t.a)
                    <= 90 THEN '31-90d'
               WHEN datediff('day', CAST(o.o_orderdate AS DATE), t.a)
                    <= 365 THEN '91-365d'
               ELSE '366d+' END AS age_bucket,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
      FROM orders o CROSS JOIN anchor t
    )
    SELECT status, age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM aged GROUP BY status, age_bucket
    """,
)
def order_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order backlog aging — the fulfillment-ops staple: orders
    bucketed by status and age (days from order date to the
    newest order date, the fixture's "now"), with count and money at
    stake per cell. An 'O' (open) order aging past 90 days is the
    row an operations dashboard pages on; `waiting_suppliers` is the
    supplier-side view of the same pathology.

    Scale: map-side age arithmetic against one broadcast asof row,
    then a |status| x 4 hash aggregate — one scan, one bounded
    shuffle. Determinism: integer day diffs, closed bucket bounds
    (<=30/<=90/<=365), exact cents."""
    o = read_table(spark, sf_dir, "orders")
    asof = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("a"))
    age = F.datediff("a", F.col("o_orderdate").cast("date"))
    aged = o.crossJoin(F.broadcast(asof)).select(
        F.col("o_orderstatus").alias("status"),
        F.when(age <= 30, "0-30d")
        .when(age <= 90, "31-90d")
        .when(age <= 365, "91-365d")
        .otherwise("366d+")
        .alias("age_bucket"),
        (money("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return aged.groupBy("status", "age_bucket").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("value_cents"),
    )


@query(
    "srm_check",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT 'parity' AS assignment,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM users
      UNION ALL
      SELECT 'md5',
             CAST(SUM(CASE WHEN
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM users
    )
    SELECT assignment, n_a, n_b,
           CAST((2000000 * (n_a - n_b) * (n_a - n_b) + (n_a + n_b))
                // (2 * (n_a + n_b)) AS BIGINT) AS chi2_ppm,
           (2000000 * (n_a - n_b) * (n_a - n_b) + (n_a + n_b))
             // (2 * (n_a + n_b)) > 3841459 AS srm_detected
    FROM arms
    """,
)
def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (Fabijan et al. KDD 2019 — the
    most common invalidator of online experiments): chi-square test
    that a 50/50 assignment actually split 50/50, run for BOTH
    assignment hashes used by the experiment suite (`ab_test_report`
    / `cuped_adjusted_ab` use user-id parity; `sequential_ab_msprt`-
    style md5 bucketing is the production-realistic one). For two
    arms at equal expected share the statistic reduces to
    (n_a - n_b)^2 / N, compared against the chi2(1) 5% critical
    value 3.841459. An SRM flag means the experiment's readouts are
    invalid regardless of their p-values — this is the gate that
    runs FIRST.

    Determinism: arm counts are exact; the statistic is quantized to
    integer ppm via pure BIGINT arithmetic ((2e6*d^2 + N) div 2N —
    half-up, no doubles) BEFORE the threshold compare, so both
    engines flag identically even at the knife's edge.

    Scale: one distinct-users shuffle; both assignments counted in
    ONE single-row aggregate and exploded map-side to the 2-row
    report (a per-assignment loop would re-shuffle the distinct)."""
    ev = read_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    md5_arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    parity_arm = F.col("user_id") % 2
    # BOTH assignments counted in ONE aggregate over ONE distinct
    # pass (a per-assignment loop would re-shuffle the distinct per
    # arm), exploded map-side into the two report rows.
    one = users.agg(
        *[
            F.sum(F.when(arm == v, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{n}_{v}")
            for n, arm in [("p", parity_arm), ("m", md5_arm)]
            for v in (0, 1)
        ]
    )
    arms = one.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("parity").alias("assignment"),
                    F.col("p_0").alias("n_a"),
                    F.col("p_1").alias("n_b"),
                ),
                F.struct(
                    F.lit("md5").alias("assignment"),
                    F.col("m_0").alias("n_a"),
                    F.col("m_1").alias("n_b"),
                ),
            )
        ).alias("t")
    ).select("t.assignment", "t.n_a", "t.n_b")
    chi2_ppm = F.expr(
        "(2000000 * (n_a - n_b) * (n_a - n_b) + (n_a + n_b))"
        " div (2 * (n_a + n_b))"
    ).cast("bigint")
    return arms.select(
        "assignment",
        "n_a",
        "n_b",
        chi2_ppm.alias("chi2_ppm"),
        (chi2_ppm > 3841459).alias("srm_detected"),
    )
