"""Relational query catalog — every SURVEY.md section 2 operator expressed on
the driver fixture tables, each paired with a DuckDB oracle.

Determinism rules (so value-hashes match the oracle bit-for-bit):
- money-style SUM/AVG aggregate in DECIMAL(18,2) (exact, partition-
  order independent) and emit DOUBLE (functions/money.py);
- every computed column aliased identically on both sides;
- ties broken by explicit key columns everywhere a LIMIT/rank exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from logicash_etl_spark.functions.money import davg, dsum, money
from logicash_etl_spark.operators.aggregates import (
    conditional_pivot,
    daily_summary,
    distinct_dedup,
    scd1_latest,
    top_k,
    top_k_per_group,
)
from logicash_etl_spark.operators.caching import scoped_persist
from logicash_etl_spark.operators.joins import anti_join, asof_join, enrich, range_join, semi_join
from logicash_etl_spark.operators.windows import ranked, sessionize
from logicash_etl_spark.dq.profile import null_audit
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.operators.joins import broadcast_bounded
from logicash_etl_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Flagship: the reference's "top-5 ATMs by money moved" (etl_job.py:147-158)
# transposed onto orders x customer: scan -> quality filter -> broadcast
# left join -> grouped agg -> top-k. One vertical slice of the engine.
# ---------------------------------------------------------------------------
@query(
    "flagship_top_customers",
    oracle="""
    SELECT c_custkey, c_name,
           count(*) AS total_transacciones,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS dinero_total_movido,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS monto_promedio
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    WHERE o_custkey IS NOT NULL AND o_totalprice > 0
      AND o_orderstatus = 'F'
    GROUP BY c_custkey, c_name
    ORDER BY dinero_total_movido DESC, c_custkey
    LIMIT 5
    """,
)
def flagship_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = read_table(spark, sf_dir, "orders"), read_table(spark, sf_dir, "customer")
    clean = orders.filter(
        F.col("o_custkey").isNotNull()
        & (F.col("o_totalprice") > 0)
        & (F.col("o_orderstatus") == "F")  # status gate, as the reference's EXITOSA
    )
    joined = enrich(clean, customer, on=clean.o_custkey == customer.c_custkey, how="left")
    agg = joined.groupBy("c_custkey", "c_name").agg(
        F.count("*").alias("total_transacciones"),
        dsum("o_totalprice", "dinero_total_movido"),
        davg("o_totalprice", "monto_promedio"),
    )
    return top_k(agg, "dinero_total_movido", 5, tiebreak=["c_custkey"])


# ---------------------------------------------------------------------------
# A2/A3 grouped summaries
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           -- VARCHAR hop: DuckDB's direct decimal->double computes
           -- unscaled/10^scale in float (two roundings, 1 ulp off at
           -- sf1 magnitudes); string->double is correctly rounded and
           -- matches Spark's exact cast
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2)) * CAST(1 + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical scan->filter->hash-agg pipeline.

    Partial aggregation (map-side combine) means the shuffle carries
    |groups| x |partitions| rows, not the raw 100 TB.

    The charge term's factors are cast to DECIMAL(4,2) (1±rate is
    always < 100): the naive (18,2)x(19,2)x(19,2) chain exceeds
    precision 38, so Spark's allowPrecisionLoss rounds each product
    at a reduced scale while DuckDB resolves the overflow its own way
    — a 1-ulp sum divergence that only materializes at sf1
    magnitudes (caught by the round-7 sf1 parity spot-check). With
    tight factors the whole chain is (28,6) — exact, engine-agnostic
    at any corpus size.
    """
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    one_minus_disc = (1 - money("l_discount")).cast("decimal(4,2)")
    one_plus_tax = (1 + money("l_tax")).cast("decimal(4,2)")
    disc_price = money("l_extendedprice") * one_minus_disc
    charge = disc_price * one_plus_tax
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        davg("l_quantity", "avg_qty"),
        davg("l_extendedprice", "avg_price"),
        F.count("*").alias("count_order"),
    )


@query(
    "daily_order_summary",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS fecha_dia,
           count(*) AS total_transacciones,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monto_total,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monto_minimo,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monto_maximo,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS monto_promedio
    FROM orders GROUP BY fecha_dia
    """,
)
def daily_order_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 daily summary with the P2 derived date column
    (etl_job.py:163-174). Unordered: the driver compare is order-
    insensitive, and a global sort at scale is a needless exchange."""
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "fecha_dia", F.to_date("o_orderdate")
    )
    return daily_summary(orders, "fecha_dia", "o_totalprice")


# ---------------------------------------------------------------------------
# A8 conditional-aggregation pivot (ddl_gold.sql:36-47)
# ---------------------------------------------------------------------------
@query(
    "daily_balance_pivot",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS fecha_dia,
           count(*) AS total_transacciones,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_purchase,
           CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             - CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS flujo_neto
    FROM events GROUP BY user_id, fecha_dia
    """,
)
def daily_balance_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rpt_diario_balance shape: per-key-per-day conditional pivot
    with net flow (deposits - withdrawals -> purchase - error)."""
    ev = read_table(spark, sf_dir, "events").withColumn("fecha_dia", F.to_date("ts"))
    return conditional_pivot(
        ev,
        keys=["user_id", "fecha_dia"],
        pivot_col="event_type",
        pivot_values=["purchase", "error"],
        amount="value",
        net_pair=("purchase", "error"),
    )


# ---------------------------------------------------------------------------
# A9: DISTINCT dedup + correct SCD1 latest-wins
# ---------------------------------------------------------------------------
@query(
    "distinct_catalog",
    oracle="""
    SELECT DISTINCT l_suppkey, l_returnflag, l_linestatus FROM lineitem
    """,
)
def distinct_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_dedup(
        read_table(spark, sf_dir, "lineitem"), ["l_suppkey", "l_returnflag", "l_linestatus"]
    )


@query(
    "scd1_latest_event",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value FROM (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def scd1_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins per key — the correct version of the reference's
    DISTINCT-as-SCD1 (ddl_gold.sql:20-32)."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type", "value")
    return scd1_latest(ev, pk=["user_id"], order_by="ts", tiebreak=["event_id"])


# ---------------------------------------------------------------------------
# Joins: semi / anti / range / as-of
# ---------------------------------------------------------------------------
@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 orphan report as a left-anti join (no right columns, no
    row duplication, shuffle only on the key)."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(cust, orders, on="c_custkey")


@query(
    "suppliers_with_returns",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_returnflag = 'R')
    """,
)
def suppliers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return semi_join(sup, li, on="s_suppkey")


@query(
    "price_band_range_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 200000.0), ('high', 200000.0, 1000000.0)
    )
    SELECT band, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def price_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: point-in-interval via bucketized equi-join
    (operators/joins.py:range_join) instead of a nested-loop join."""
    orders = read_table(spark, sf_dir, "orders")
    # inline VALUES -> JVM LocalRelation (known-tiny, no Python RDD ship)
    bands = spark.sql(
        """SELECT * FROM VALUES
           ('low', 0.0D, 50000.0D), ('mid', 50000.0D, 200000.0D),
           ('high', 200000.0D, 1000000.0D) AS t(band, lo, hi)"""
    )
    joined = range_join(
        orders, bands, left_point="o_totalprice", right_lo="lo", right_hi="hi",
        bucket_width=50000.0,
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice", "total")
    )


@query(
    "asof_last_purchase",
    oracle="""
    SELECT e.user_id, e.event_id, e.ts,
           p.value AS value_right, p.ts AS ts_right
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent
    purchase at-or-before it (operators/joins.py:asof_join — one
    shuffle union+window, no per-group pandas)."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(clicks, purchases, on="user_id")
    return out.select("user_id", "event_id", "ts", "value_right", "ts_right")


# ---------------------------------------------------------------------------
# Audits (A4/A5/A6/A7) — single-pass aggregates
# ---------------------------------------------------------------------------
@query(
    "null_audit_orders",
    oracle="""
    SELECT count(*) AS total_rows,
           count(o_custkey) AS o_custkey_non_null,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey_nulls,
           count(o_totalprice) AS o_totalprice_non_null,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls
    FROM orders
    """,
)
def null_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return null_audit(read_table(spark, sf_dir, "orders"), ["o_custkey", "o_totalprice"])


@query(
    "quality_scan_lineitem",
    oracle="""
    SELECT count(*) AS total_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS distinct_orders,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_suppliers,
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS non_positive_qty,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
           CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_min,
           CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_max,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS price_avg
    FROM lineitem
    """,
)
def quality_scan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: the 'una sola pasada' multi-metric quality scan
    (validate_data_fast.py:156-171) — 8 metrics, one aggregation."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("total_rows"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("non_positive_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("bad_discount"),
        F.min(money("l_extendedprice")).cast("double").alias("price_min"),
        F.max(money("l_extendedprice")).cast("double").alias("price_max"),
        davg("l_extendedprice", "price_avg"),
    )


@query(
    "dq_violation_report",
    oracle="""
    SELECT count(*) AS total_rows,
           CAST(SUM(CASE WHEN NOT (o_custkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey_violations,
           CAST(SUM(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS non_positive_price_violations,
           CAST(SUM(CASE WHEN NOT coalesce(o_orderdate <= TIMESTAMP '2001-01-01 00:00:00', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS future_order_violations,
           CAST(SUM(CASE WHEN coalesce(o_custkey IS NOT NULL AND o_totalprice > 0
                          AND o_orderdate <= TIMESTAMP '2001-01-01 00:00:00', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS clean_rows
    FROM orders
    """,
)
def dq_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DQ rule engine through the driver gate: P9's per-rule
    accounting as ONE aggregation pass (dq/rules.py), here with a
    3-rule set on orders and an injected as_of (SURVEY section 7.5)."""
    from logicash_etl_spark.dq.rules import Rule, RuleSet

    rules = RuleSet(
        [
            Rule("null_custkey", F.col("o_custkey").isNotNull()),
            Rule("non_positive_price", F.col("o_totalprice") > 0),
            Rule("future_order", F.col("o_orderdate") <= F.to_timestamp(F.lit("2001-01-01 00:00:00"))),
        ]
    )
    return rules.violation_counts(read_table(spark, sf_dir, "orders"))


@query(
    "conditional_counts",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) AS discounted,
           CAST(count(CASE WHEN l_tax = 0 THEN 1 END) AS BIGINT) AS tax_free
    FROM lineitem GROUP BY l_returnflag
    """,
)
def conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 conditional counts per group."""
    return read_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("discounted"),
        F.count(F.when(F.col("l_tax") == 0, 1)).alias("tax_free"),
    )


# ---------------------------------------------------------------------------
# Windows (W1 + extension surface)
# ---------------------------------------------------------------------------
@query(
    "supplier_ranking_report",
    oracle="""
    SELECT CAST(ranking AS STRING) AS posicion, s_suppkey, s_name, total_movido FROM (
      SELECT s_suppkey, s_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_movido,
             row_number() OVER (ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))) DESC, s_suppkey) AS ranking
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_suppkey, s_name
    )
    """,
)
def supplier_ranking_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ROW_NUMBER ranking label over an aggregated report
    (validate_data_fast.py:124-154), with CAST(rank AS STRING) as the
    display column (F4). Global window is safe: post-agg input is
    bounded by |suppliers|."""
    li, sup = read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "supplier")
    agg = (
        enrich(li, sup, on=li.l_suppkey == sup.s_suppkey, how="inner")
        .groupBy("s_suppkey", "s_name")
        .agg(dsum("l_extendedprice", "total_movido"))
    )
    out = ranked(  # bounded by |suppliers|
        agg,
        order_by=[F.col("total_movido").desc(), F.col("s_suppkey").asc()],
    )
    return out.select(
        F.col("ranking").cast("string").alias("posicion"),
        "s_suppkey",
        "s_name",
        "total_movido",
    )


@query(
    "top3_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    """,
)
def top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: partitioned window, one shuffle on the group
    key; never a global sort."""
    o, c = read_table(spark, sf_dir, "orders"), read_table(spark, sf_dir, "customer")
    j = enrich(o, c, on=o.o_custkey == c.c_custkey, how="inner").select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    return top_k_per_group(j, ["c_mktsegment"], "o_totalprice", 3, tiebreak=["o_orderkey"])


@query(
    "event_value_deltas",
    oracle="""
    SELECT user_id, event_id, ts, value,
           lag(value) OVER w AS prev,
           lead(value) OVER w AS next,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def event_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead + explicit-frame running total."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        ev.withColumn("prev", F.lag("value").over(w))
        .withColumn("next", F.lead("value").over(w))
        .withColumn("running_total", F.sum(money("value")).over(frame).cast("double"))
    )


@query(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))::BIGINT > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start
    FROM sess GROUP BY user_id, session_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap): lag + cumulative-sum windows,
    single shuffle on user_id."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    s = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"), F.min("ts").alias("session_start")
    )


@query(
    "session_peak_concurrency",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))::BIGINT > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    ), iv AS (
      SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
      FROM sess GROUP BY user_id, session_id
    ), days AS (
      SELECT s, e,
             unnest(generate_series(CAST(s AS DATE), CAST(e AS DATE),
                                    INTERVAL 1 DAY))::DATE AS day
      FROM iv
    ), clip AS (
      SELECT day,
             greatest(s, CAST(day AS TIMESTAMP)) AS cs,
             least(e + INTERVAL 1 SECOND,
                   CAST(day AS TIMESTAMP) + INTERVAL 1 DAY) AS ce
      FROM days
    ), bounds AS (
      SELECT day, cs AS ts, 1 AS d FROM clip
      UNION ALL
      SELECT day, ce AS ts, -1 AS d FROM clip
    ), net AS (
      SELECT day, ts, CAST(SUM(d) AS BIGINT) AS net
      FROM bounds GROUP BY day, ts
    ), run AS (
      SELECT day, SUM(net) OVER (PARTITION BY day ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM net
    )
    SELECT day, CAST(max(conc) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY day
    """,
)
def session_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the interval sweep-line, the
    capacity question ("how many users were on AT ONCE") that per-day
    session counts can't answer because sessions overlap and straddle
    midnight.

    Each session interval [start, end+1s) is exploded into the DAYS it
    touches and CLIPPED to each day's bounds, so a session that covers
    a whole day contributes its +1 at that day's midnight — a day with
    nothing but carried-in sessions still reports their concurrency
    (sampling only in-day boundaries would under-report or drop such
    days entirely). The explode is linear: a session touching d days
    costs d rows, and sessions are gap-bounded so d is small. Within
    each day, +1/-1 boundary deltas roll up per timestamp and the
    running concurrency is grouped_prefix_sum's range-bucketed scan —
    day-partitioned but NEVER a single-reducer per-day sort (one day
    of a 100 TB event stream is still huge), and zero driver actions,
    so the sessionize pipeline upstream is evaluated once. Daily
    peak = max running value (concurrency is constant between
    boundaries, so boundary maxima are exact)."""
    from logicash_etl_spark.operators.partitioning import grouped_prefix_peak

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    s = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800)
    # persisted: iv feeds both boundary branches (cs and ce), and each
    # re-derivation would re-run the whole sessionize pipeline
    iv = scoped_persist(
        s.groupBy("user_id", "session_id").agg(
            F.min("ts").alias("s"), F.max("ts").alias("e")
        )
    )
    days = iv.select(
        "s",
        "e",
        F.explode(F.sequence(F.to_date("s"), F.to_date("e"))).alias("day"),
    )
    clip = days.select(
        "day",
        F.greatest(F.col("s"), F.col("day").cast("timestamp")).alias("cs"),
        F.least(
            F.col("e") + F.expr("INTERVAL 1 SECOND"),
            F.date_add(F.col("day"), 1).cast("timestamp"),
        ).alias("ce"),
    )
    bounds = clip.select(
        "day", F.col("cs").alias("ts"), F.lit(1).alias("d")
    ).unionByName(clip.select("day", F.col("ce").alias("ts"), F.lit(-1).alias("d")))
    net = bounds.groupBy("day", "ts").agg(F.sum("d").cast("bigint").alias("net"))
    # microsecond epoch order key: unique per (day, ts) after the
    # rollup, non-null — the grouped scan's determinism contract.
    # r14: the query only needs the per-day MAX of the running sum,
    # so the specialized grouped_prefix_peak replaces
    # grouped_prefix_sum + groupBy(max) — the rows-sized offset join
    # and the rows-sized final aggregation both disappear (the
    # per-bucket max/total reduce in the window's own partitioning;
    # equivalence pinned in tests/test_round14_opts.py)
    keyed = net.withColumn("__ord", F.unix_micros("ts"))
    return grouped_prefix_peak(
        keyed,
        group_col="day",
        bucket_key="__ord",
        order_cols=[F.col("__ord").asc()],
        value_col="net",
    ).select(
        "day", F.col("__peak").cast("bigint").alias("peak_concurrent")
    )


# ---------------------------------------------------------------------------
# Set operations (section 2.7)
# ---------------------------------------------------------------------------
@query(
    "brand_set_ops",
    oracle="""
    SELECT 'both' AS tag, p_brand FROM
      (SELECT DISTINCT p_brand FROM part WHERE p_size > 25
       INTERSECT SELECT DISTINCT p_brand FROM part WHERE p_retailprice > 1500)
    UNION ALL
    SELECT 'large_only' AS tag, p_brand FROM
      (SELECT DISTINCT p_brand FROM part WHERE p_size > 25
       EXCEPT SELECT DISTINCT p_brand FROM part WHERE p_retailprice > 1500)
    """,
)
def brand_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    large = part.filter(F.col("p_size") > 25).select("p_brand").distinct()
    pricey = part.filter(F.col("p_retailprice") > 1500).select("p_brand").distinct()
    both = large.intersect(pricey).select(F.lit("both").alias("tag"), "p_brand")
    only = large.exceptAll(pricey).select(F.lit("large_only").alias("tag"), "p_brand")
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# Rollup / cube (free Spark surface, section 2.4 note)
# ---------------------------------------------------------------------------
@query(
    "rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "lineitem").rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity", "sum_qty")
    )


# ---------------------------------------------------------------------------
# Scalar-function surface: dates, JSON, string ops, CASE (section 2.8)
# ---------------------------------------------------------------------------
@query(
    "scalar_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           date_trunc('month', o_orderdate) AS order_month,
           CAST(year(o_orderdate) AS INT) AS order_year,
           round(o_totalprice, 2) AS price_rounded,
           CAST(o_totalprice AS STRING) AS price_str,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 50000 THEN 'mid'
                ELSE 'low' END AS price_class,
           upper(o_orderpriority) AS priority_upper,
           substr(o_orderpriority, 1, 1) AS priority_code,
           concat(o_orderstatus, '-', o_orderpriority) AS status_priority,
           coalesce(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_resolved,
           length(o_orderpriority) AS priority_len
    FROM orders
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F7 + the broader scalar surface (dates, string, conditional,
    cast) — all JVM built-ins inside whole-stage codegen."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.round("o_totalprice", 2).alias("price_rounded"),
        F.col("o_totalprice").cast("string").alias("price_str"),
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("low")
        .alias("price_class"),
        F.upper("o_orderpriority").alias("priority_upper"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_resolved"
        ),
        F.length("o_orderpriority").alias("priority_len"),
    )


@query(
    "json_extraction",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
    FROM events GROUP BY event_type
    """,
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column handling: get_json_object (JVM-side) + aggregate."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("k_total"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


# ---------------------------------------------------------------------------
# Percentiles (A10 median) — exact, to be oracle-comparable
# ---------------------------------------------------------------------------
@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50,
           round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 6) AS p90,
           round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (generator.py:210-270 uses
    median), via the sanctioned exact/sketch switch
    (dq.profile.percentiles): exact=True ONLY because the oracle
    hash-compares interpolated values — the operator defaults to the
    percentile_approx sketch, which is the 100 TB call (same shape,
    mergeable)."""
    from logicash_etl_spark.dq.profile import percentiles

    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(percentiles("value", 0.5, exact=True), 6).alias("p50"),
        F.round(percentiles("value", 0.9, exact=True), 6).alias("p90"),
        F.round(percentiles("value", 0.99, exact=True), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (batch analog of streaming windows)
# ---------------------------------------------------------------------------
@query(
    "hourly_event_windows",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY window_start, event_type
    """,
)
def hourly_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows via F.window — identical code shape to the
    streaming version (streaming/ops.py) minus the watermark."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@query(
    "shipping_priority_top10",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
    GROUP BY o_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: the big-big join path. lineitem x orders join
    on o_orderkey is fact-to-fact — at 100 TB neither side broadcasts,
    so it shuffles both on the key (sort-merge / shuffled-hash, AQE
    decides; co-located bucketing on o_orderkey eliminates it — see
    tests/test_plan_contracts.py::test_bucketed_join_no_shuffle).
    The customer filter reduces orders via a broadcast semi-ish join
    first, so the big shuffle carries only matching orders."""
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-06-30")
    revenue = money("l_extendedprice") * (1 - money("l_discount"))
    return (
        orders.join(broadcast_bounded(cust, bounded=False), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("o_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Multi-way join + filter pushdown showcase (the classic star query)
# ---------------------------------------------------------------------------
@query(
    "revenue_by_nation_region",
    oracle="""
    SELECT n_name, r_name,
           count(*) AS n_lineitems,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name, r_name
    """,
)
def revenue_by_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact x three broadcast dims, filter pushed to the
    fact scan — nation/region by unconditional hint (fixed
    cardinality), supplier by Catalyst's size check (unhinted; AQE
    decides at scale). The 100 TB plan: no shuffle until the final
    groupBy."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "1996-01-01")
    sup = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region")
    revenue = money("l_extendedprice") * (1 - money("l_discount"))
    return (
        li.join(broadcast_bounded(sup, bounded=False), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_lineitems"), F.sum(revenue).cast("double").alias("revenue"))
    )


@query(
    "per_user_event_profile",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(array_agg(event_type))), ',') AS event_types,
           count(*) AS n_events,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
    FROM events GROUP BY user_id
    """,
)
def per_user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-aggregation surface: collect_set with a deterministic
    sort (collect order is partition-dependent; sort_array makes the
    result comparable), plus distinct-day counting. The array is
    serialized to a csv string: oracle-checked queries must not emit
    raw array columns (the driver canonicalizer can't hash lists)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("event_types"),
        F.count("*").alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
    )


@query(
    "null_safe_join_audit",
    oracle="""
    WITH keyed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS k
      FROM orders
    )
    SELECT a.k, count(*) AS n_pairs
    FROM keyed a JOIN keyed b ON a.k IS NOT DISTINCT FROM b.k
                             AND a.o_orderkey = b.o_orderkey
    GROUP BY a.k
    """,
)
def null_safe_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics audits need
    when the join key itself is the dirty column."""
    o = read_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ).alias("k"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    j = a.join(
        b,
        on=[F.col("a.k").eqNullSafe(F.col("b.k")),
            F.col("a.o_orderkey") == F.col("b.o_orderkey")],
    )
    return j.groupBy(F.col("a.k").alias("k")).agg(F.count("*").alias("n_pairs"))


@query(
    "schema_evolution_union",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): append a source version
    that lacks a column — Spark null-pads by NAME (positional UNION
    would silently misalign columns; this is the schema-evolution-safe
    form)."""
    o = read_table(spark, sf_dir, "orders")
    v2 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1 = o.filter(F.col("o_orderkey") % 2 == 1).select("o_orderkey", "o_totalprice")
    return v2.unionByName(v1, allowMissingColumns=True)


@query(
    "pivot_native_daily",
    oracle="""
    SELECT CAST(ts AS DATE) AS fecha_dia,
           CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error
    FROM events GROUP BY fecha_dia
    """,
)
def pivot_native_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idiomatic .pivot() form of A8 (explicit value list: no
    extra distinct-values pass, stable output schema). Absent combos
    are NULL here, vs the conditional_pivot ELSE-0 variant."""
    ev = read_table(spark, sf_dir, "events").withColumn("fecha_dia", F.to_date("ts"))
    out = (
        ev.groupBy("fecha_dia")
        .pivot("event_type", ["click", "purchase", "error"])
        .agg(F.sum(money("value")))
    )
    return out.select(
        "fecha_dia",
        F.col("click").cast("double").alias("click"),
        F.col("purchase").cast("double").alias("purchase"),
        F.col("error").cast("double").alias("error"),
    )


@query(
    "ranking_function_surface",
    oracle="""
    SELECT s_suppkey, s_acctbal,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           round(percent_rank() OVER w, 10) AS prank,
           round(cume_dist() OVER w, 10) AS cdist,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           first_value(s_suppkey) OVER w AS richest,
           last_value(s_suppkey) OVER (ORDER BY s_acctbal DESC, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def ranking_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one ordered window
    (global window acceptable: |suppliers| is a bounded dimension);
    last_value needs the explicit unbounded frame — the default frame
    ends at CURRENT ROW, a classic correctness trap."""
    sup = read_table(spark, sf_dir, "supplier")
    w = W.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey").asc())
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return sup.select(
        "s_suppkey",
        "s_acctbal",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.round(F.percent_rank().over(w), 10).alias("prank"),
        F.round(F.cume_dist().over(w), 10).alias("cdist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.first("s_suppkey").over(w).alias("richest"),
        F.last("s_suppkey").over(w_full).alias("poorest"),
    )


@query(
    "calendar_gap_fill",
    oracle="""
    WITH span AS (
      SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
    ), cal AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ), dims AS (
      SELECT DISTINCT o_orderpriority AS prio FROM orders
    ), actual AS (
      SELECT o_orderdate AS day, o_orderpriority AS prio,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
      GROUP BY 1, 2
    )
    SELECT cal.day, dims.prio, coalesce(a.n_orders, 0) AS n_orders
    FROM cal CROSS JOIN dims
      LEFT JOIN actual a ON a.day = cal.day AND a.prio = dims.prio
    """,
)
def calendar_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: every (day, priority) cell of a month
    gets a row, zero-filled where no orders landed — the gap-fill step
    every downstream window/trend computation needs. The calendar is
    generated with sequence()+explode from the observed span (no
    driver-side date loop); both generated dims are tiny -> both sides
    of the fill join broadcast. The priority dimension comes from the
    FULL table, not the month window: densification must cover the
    dimension's whole domain, or a priority with zero orders all
    month silently loses its zero rows (exactly the gap the fill
    exists to surface — caught at sf0.001, where one priority is
    absent in January 1995)."""
    all_orders = read_table(spark, sf_dir, "orders")
    # the month window feeds both the span agg and the actual rollup;
    # the dims scan reads the FULL table: densification needs its domain
    orders = all_orders.filter(
        F.col("o_orderdate").between("1995-01-01", "1995-01-31")
    ).select("o_orderdate", "o_orderpriority")
    span = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    cal = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    dims = all_orders.select(F.col("o_orderpriority").alias("prio")).distinct()
    actual = orders.groupBy(
        F.col("o_orderdate").alias("day"), F.col("o_orderpriority").alias("prio")
    ).agg(F.count("*").alias("n_orders"))
    return (
        cal.crossJoin(F.broadcast(dims))
        .join(F.broadcast(actual), on=["day", "prio"], how="left")
        .select("day", "prio", F.coalesce("n_orders", F.lit(0)).alias("n_orders"))
    )


@query(
    "fuzzy_name_match",
    oracle="""
    WITH cand AS (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             a.p_name AS name_a, b.p_name AS name_b
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand
       AND left(a.p_name, 4) = left(b.p_name, 4)
       AND a.p_partkey < b.p_partkey
      UNION
      SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand
       AND right(a.p_name, 4) = right(b.p_name, 4)
       AND a.p_partkey < b.p_partkey
    )
    SELECT key_a, key_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS edit_dist
    FROM cand
    WHERE abs(length(name_a) - length(name_b)) <= 2
      AND levenshtein(name_a, name_b) <= 2
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: near-identical part names by edit
    distance, via operators/joins.py::fuzzy_self_join.

    Blocking is compound and text-derived — (brand x name-prefix) OR
    (brand x name-suffix) — not brand alone: brand has fixed
    cardinality 25, so brand-only blocks grow linearly with the table
    and pairs quadratically (the round-1 scale-killer). Prefix/suffix
    key cardinality grows with name diversity, so per-block size is
    bounded as data grows; the two passes together catch any pair
    whose <=2 edits leave either end of the name intact. The oracle
    mirrors the same candidate generation so results hash-match."""
    from logicash_etl_spark.operators.joins import fuzzy_self_join

    part = read_table(spark, sf_dir, "part")
    # collapse_exact: the fixture's name vocabulary is tiny (64 names
    # x 25 brands vs 20k rows at sf0.1), so the edit-distance DP runs
    # once per distinct (brand, name) pair and the quadratic-in-copies
    # output is produced by a cheap equi-join expansion
    return fuzzy_self_join(
        part, id_col="p_partkey", text_col="p_name",
        max_dist=2, block_cols=["p_brand"], prefix_len=4, suffix_len=4,
        collapse_exact=True,
    )


@query(
    "format_roundtrip_scan",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents GROUP BY source
    """,
)
def format_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format breadth, driver-proved: the corpus splits across
    a JSONL shard (doc_id % 5 == 0) and an ORC shard (the rest),
    reads back through the library's schema-first readers
    (sources/readers.py: read_json_lines — PERMISSIVE with a named
    corrupt-record column, never silent row drops; read_orc —
    validate-after-read), and re-unions into per-source aggregates
    that must hash-match the original parquet exactly. This pins the
    full fidelity chain — JSON string escaping, ORC type mapping,
    schema validation — not just that the readers parse: one
    corrupted character anywhere fails the driver hash. At scale both
    formats scan with the same split parallelism as parquet; JSONL is
    the wire format lots actually arrive in, ORC the other columnar
    store a warehouse migration meets."""
    from pyspark.sql import types as T

    from logicash_etl_spark.sources.readers import (
        read_json_lines,
        read_orc,
    )
    from logicash_etl_spark.tmp import session_tmpdir

    docs = read_table(spark, sf_dir, "documents")
    root = session_tmpdir("lq_fmt_rt_")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    cols = [f.name for f in schema.fields]
    docs.filter(F.col("doc_id") % 5 == 0).select(*cols).write.mode(
        "overwrite"
    ).json(f"{root}/jsonl")
    docs.filter(F.col("doc_id") % 5 != 0).select(*cols).write.mode(
        "overwrite"
    ).orc(f"{root}/orc")
    j = read_json_lines(spark, f"{root}/jsonl", schema).select(*cols)
    o = read_orc(spark, f"{root}/orc", schema)
    return (
        j.unionByName(o)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
    )


@query(
    "part_name_edit_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS nm FROM part WHERE p_name IS NOT NULL)
    SELECT a.nm AS name_a, b.nm AS name_b,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
    FROM names a JOIN names b ON a.nm < b.nm
    WHERE abs(length(a.nm) - length(b.nm)) <= 2
      AND levenshtein(a.nm, b.nm) <= 2
    """,
)
def part_name_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS edit-distance self-join on distinct part names (<= 2
    edits) via q-gram count + length filtering
    (operators/joins.py::qgram_edit_join) — the exact-recall
    complement to ``fuzzy_name_match``'s blocking (which documents a
    recall trade). The oracle is the brute-force O(v^2) scan over the
    distinct vocabulary; the engine path generates candidates from a
    q-gram inverted index with the VLDB'01 count-filter bound, so its
    quadratic term is per-gram posting-list size, never vocabulary^2
    — and vocabulary^2, not rows^2, is already the collapsed frame."""
    from logicash_etl_spark.operators.joins import qgram_edit_join

    part = read_table(spark, sf_dir, "part")
    return qgram_edit_join(part, "p_name")


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(SUM(count(*)) OVER (PARTITION BY from_type) AS DOUBLE),
                 6) AS p
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type) — the sequence
    model behind session simulation and next-action prediction.

    Shape: one lead() window partitioned BY USER (bounded per-user
    state, shuffles once on user_id), then an ordinary grouped count;
    the row-probability normalization is a window over the TINY
    (from_type x to_type) matrix, never the event stream. Ordering is
    tie-broken by event_id so the lead() is deterministic."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("to_type", F.lead("event_type").over(w)).filter(
        F.col("to_type").isNotNull()
    )
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count("*").cast("bigint").alias("n"))
    return counts.withColumn(
        "p",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(W.partitionBy("from_type")),
            6,
        ),
    )


@query(
    "fd_discovery_report",
    oracle="""
    WITH cands AS (
        SELECT 'orders.o_orderkey->o_orderstatus' AS fd,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violating
        FROM (SELECT o_orderkey, count(DISTINCT o_orderstatus) AS d
              FROM orders GROUP BY o_orderkey)
      UNION ALL
        SELECT 'orders.o_custkey->o_orderpriority',
               CAST(count(*) AS BIGINT),
               CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS d
              FROM orders GROUP BY o_custkey)
      UNION ALL
        SELECT 'lineitem.l_orderkey->l_returnflag',
               CAST(count(*) AS BIGINT),
               CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS d
              FROM lineitem GROUP BY l_orderkey)
      UNION ALL
        SELECT 'part.p_brand->p_type',
               CAST(count(*) AS BIGINT),
               CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT p_brand, count(DISTINCT p_type) AS d
              FROM part GROUP BY p_brand)
      UNION ALL
        SELECT 'customer.c_custkey->c_mktsegment',
               CAST(count(*) AS BIGINT),
               CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT c_custkey, count(DISTINCT c_mktsegment) AS d
              FROM customer GROUP BY c_custkey)
      UNION ALL
        SELECT 'nation.n_regionkey->n_name',
               CAST(count(*) AS BIGINT),
               CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT n_regionkey, count(DISTINCT n_name) AS d
              FROM nation GROUP BY n_regionkey)
    )
    SELECT fd, n_groups, n_violating,
           n_violating = 0 AS holds
    FROM cands
    """,
)
def fd_discovery_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency verification (the TANE/profiling
    primitive behind key discovery, normalization advice, and
    "is this column derivable?" checks): for each candidate FD
    X -> Y, one groupBy(X) with countDistinct(Y) decides it exactly —
    a group with more than one Y value is a violation witness. The
    candidate set mixes true keys (o_orderkey, c_custkey), a true
    non-key FD (n_regionkey -> n_name is violated: regions hold many
    nations), and plausible-but-false business rules — exact violating
    -group counts, not a sampled heuristic.

    Scale: each candidate is one map-side-combinable partial
    (distinct-within-group via the (X, Y) pre-aggregate Catalyst
    plans for countDistinct), shuffling |distinct(X,Y)| rows, never
    the table; candidates run as a union of independent subplans, so
    a profiler sweeping N candidates parallelizes trivially. At
    100 TB: run per-partition counts first and prune candidates a
    single partition already violates (any violation anywhere kills
    the FD) — the standard early-exit the exact report here would
    follow."""
    specs = [
        ("orders", "o_orderkey", "o_orderstatus"),
        ("orders", "o_custkey", "o_orderpriority"),
        ("lineitem", "l_orderkey", "l_returnflag"),
        ("part", "p_brand", "p_type"),
        ("customer", "c_custkey", "c_mktsegment"),
        ("nation", "n_regionkey", "n_name"),
    ]
    parts = []
    for table, lhs, rhs in specs:
        t = read_table(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("d"))
        parts.append(
            g.agg(
                F.lit(f"{table}.{lhs}->{rhs}").alias("fd"),
                F.count("*").cast("bigint").alias("n_groups"),
                F.sum((F.col("d") > 1).cast("int"))
                .cast("bigint")
                .alias("n_violating"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("holds", F.col("n_violating") == 0)


# Benford first-digit probabilities log10(1 + 1/d), fixed 12-decimal
# literals shared VERBATIM by the Spark plan and the DuckDB oracle —
# engine libm log10 can differ in the last ulp, identical literals
# cannot (IEEE double arithmetic on equal inputs is deterministic).
_BENFORD_P = {
    1: "0.301029995664", 2: "0.176091259056", 3: "0.124938736608",
    4: "0.096910013008", 5: "0.079181246048", 6: "0.066946789631",
    7: "0.057991946978", 8: "0.051152522447", 9: "0.045757490561",
}

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items()
) + " END"


@query(
    "benford_first_digit_audit",
    oracle=f"""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0
    ), obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM c GROUP BY digit
    ), tot AS (
      SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs
    )
    SELECT digit, n_obs,
           CAST(10000 * n_obs // (SELECT n FROM tot) AS BIGINT) AS obs_bp,
           round(({_BENFORD_CASE}) * 10000, 1) AS exp_bp,
           round(
             pow(n_obs - (SELECT n FROM tot) * ({_BENFORD_CASE}), 2)
             / ((SELECT n FROM tot) * ({_BENFORD_CASE})), 4) AS chi2_contrib
    FROM obs
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    forensic-accounting screen for fabricated or clipped monetary
    data (naturally occurring amounts follow P(d) = log10(1+1/d);
    fraud and fee-threshold gaming bend the curve, and a synthetic
    uniform generator like this fixture's fails it loudly — the audit
    reports the deviation either way). First significant digit is
    extracted from exact BIGINT cents as a string head (scale by 100
    preserves significant digits; no float log10 in the digit path),
    counts are exact, and the chi-square contributions are double
    arithmetic over shared 12-decimal probability literals — libm
    log10 may differ across engines in the last ulp, identical
    literals cannot.

    Scale: one map-side-combinable 9-group rollup; the total is a
    1-row broadcast. The chi-square statistic is the sum of the
    emitted contributions — left per-digit so the report shows WHERE
    the distribution bends."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    c = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1, 1,
        ).cast("int").alias("digit")
    )
    obs = c.groupBy("digit").agg(F.count("*").cast("bigint").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    # CAST: Spark parses bare decimal literals as DECIMAL; the chi2
    # path (and the oracle comparison) wants IEEE doubles throughout
    p = F.expr(f"CAST(({_BENFORD_CASE}) AS DOUBLE)")
    j = obs.crossJoin(F.broadcast(tot))
    exp_cnt = F.col("n") * p
    return j.select(
        "digit", "n_obs",
        F.expr("CAST(10000 * n_obs div n AS BIGINT)").alias("obs_bp"),
        F.round(p * 10000, 1).alias("exp_bp"),
        F.round(F.pow(F.col("n_obs") - exp_cnt, 2) / exp_cnt, 4).alias(
            "chi2_contrib"
        ),
    )


@query(
    "right_to_erasure_audit",
    oracle="""
    WITH req AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ), po AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM req)
    ), rows_ AS (
        SELECT 'customer' AS tbl,
               CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total,
               CAST((SELECT count(*) FROM req) AS BIGINT) AS n_purged
      UNION ALL
        SELECT 'orders',
               CAST((SELECT count(*) FROM orders) AS BIGINT),
               CAST((SELECT count(*) FROM po) AS BIGINT)
      UNION ALL
        SELECT 'lineitem',
               CAST((SELECT count(*) FROM lineitem) AS BIGINT),
               CAST((SELECT count(*) FROM lineitem
                     WHERE l_orderkey IN (SELECT o_orderkey FROM po))
                    AS BIGINT)
    ), orphans AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM po)
                AND o_custkey IN (SELECT c_custkey FROM req))
           + (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po)
                AND l_orderkey IN (SELECT o_orderkey FROM po))
             AS n
    )
    SELECT tbl, n_total, n_purged,
           n_total - n_purged AS n_remaining,
           (SELECT n FROM orphans) AS orphans_after
    FROM rows_
    """,
)
def right_to_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR Art. 17) CASCADE accounting — the
    compliance query run before and after a deletion job: erasure
    requests (customers with c_custkey % 97 == 0 standing in for the
    request table) cascade through the FK graph (customer -> orders
    -> lineitem), and the audit reports exact purge/remain counts per
    table plus an orphan check run against the MATERIALIZED
    post-delete tables: the anti-join deletes actually execute to a
    staging dir, the survivors are read back, and children whose
    parent was purged are counted — nonzero means the deletion job
    missed a cascade level. The audit inspects what was written, not
    the plan that intended to write it; this is the sign-off
    artifact.

    Scale: the REQUEST list is broadcast (erasure batches are small
    by nature), but the derived purged-order set `po` is NOT hinted —
    it grows with the fact table (~1% of all orders), so forcing a
    broadcast would drive OOM at a 100 TB orders table; its
    semi-joins are left to Catalyst/AQE, which converts them to
    broadcast only when the runtime size actually fits. Counts are
    map-side-combinable; nothing rewrites until the audit passes."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    req = c.filter(F.col("c_custkey") % 97 == 0)
    # po is left to Catalyst: the plan contract (test_plan_contracts:
    # the fact x po semi-joins must reach AQE unhinted, the req join
    # hinted) stays visible in the optimized plan
    po = o.join(
        F.broadcast(req), o.o_custkey == req.c_custkey, "left_semi"
    ).select("o_orderkey")
    pl = li.join(po, li.l_orderkey == po.o_orderkey, "left_semi")

    def stat(tbl: str, total_df: DataFrame, purged_df: DataFrame) -> DataFrame:
        t = total_df.agg(F.count("*").cast("bigint").alias("n_total"))
        p = purged_df.agg(F.count("*").cast("bigint").alias("n_purged"))
        return t.crossJoin(F.broadcast(p)).select(
            F.lit(tbl).alias("tbl"), "n_total", "n_purged"
        )

    rows = (
        stat("customer", c, req)
        .unionByName(stat("orders", o, po))
        .unionByName(stat("lineitem", li, pl))
    )
    # orphan check on the REAL deletion output: run the anti-join
    # deletes to a staging dir, read the survivors back, and count
    # children whose parent was purged — a deletion job that missed a
    # cascade level (e.g. purged customers but kept their orders)
    # shows up as a nonzero count here, because the audit inspects
    # what was written, not the plan that intended to write it
    from logicash_etl_spark.tmp import session_tmpdir

    root = session_tmpdir("lq_erasure_")
    o.join(F.broadcast(req), o.o_custkey == req.c_custkey, "left_anti").write.mode(
        "overwrite"
    ).parquet(f"{root}/orders")
    li.join(po, li.l_orderkey == po.o_orderkey, "left_anti").write.mode(
        "overwrite"
    ).parquet(f"{root}/lineitem")
    rem_o = spark.read.parquet(f"{root}/orders")
    rem_l = spark.read.parquet(f"{root}/lineitem")
    orphan_orders = rem_o.join(
        F.broadcast(req), rem_o.o_custkey == req.c_custkey, "left_semi"
    ).count()
    orphan_lines = rem_l.join(
        po, rem_l.l_orderkey == po.o_orderkey, "left_semi"
    ).count()
    orphans = spark.range(1).select(
        F.lit(orphan_orders + orphan_lines).cast("bigint").alias("orphans_after")
    )
    return rows.crossJoin(F.broadcast(orphans)).select(
        "tbl", "n_total", "n_purged",
        (F.col("n_total") - F.col("n_purged")).alias("n_remaining"),
        "orphans_after",
    )


@query(
    "corrupt_record_audit",
    oracle="""
    SELECT CASE WHEN doc_id % 10 = 3 THEN '__corrupt' ELSE source END
             AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN 0 ELSE n_chars END)
                AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode corrupt-record accounting — the ingestion
    surface every real feed exercises: a JSONL lot is written with
    every doc_id % 10 == 3 line deliberately malformed (an unclosed
    brace), read back schema-first with a NAMED corrupt-record column
    (never silent row drops — the reader contract
    format_roundtrip_scan pins for the clean path), and audited into
    per-source counts with a '__corrupt' bucket. The oracle knows
    exactly which rows were mangled, so the driver hash pins Spark's
    PERMISSIVE semantics end to end: a malformed line must surface as
    ONE corrupt row (all data fields null, raw text in the corrupt
    column) — a reader that dropped, duplicated, or half-parsed it
    flips the count or the char sum.

    Scale: the audit is one map-side-combinable rollup over the same
    split-parallel JSONL scan production lots use; quarantining the
    '__corrupt' bucket to a dead-letter path is the same plan with a
    partitioned write."""
    from pyspark.sql import types as T

    from logicash_etl_spark.tmp import session_tmpdir

    docs = read_table(spark, sf_dir, "documents")
    root = session_tmpdir("lq_corrupt_")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 10 == 3,
            F.concat(F.lit('{"oops": '), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.to_json(F.struct("doc_id", "source", "n_chars"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(f"{root}/lot")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(f"{root}/lot")
    )
    return (
        back.select(
            F.when(F.col("_corrupt").isNotNull(), "__corrupt")
            .otherwise(F.col("source"))
            .alias("bucket"),
            F.coalesce("n_chars", F.lit(0)).alias("nc"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("nc").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "parquet_schema_evolution_scan",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN n_chars END) AS BIGINT)
             AS v2_chars,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_v1_rows_null_chars
    FROM documents
    GROUP BY source
    """,
)
def parquet_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layer schema evolution: a dataset written in TWO
    parquet generations — v1 files carry (doc_id, source), v2 files
    (doc_id % 3 == 0) add an n_chars column — read back as ONE frame
    with ``mergeSchema``, the way a long-lived lake table actually
    looks after a column addition. The audit proves the merged read's
    null semantics exactly: v1 rows surface the new column as NULL
    (counted per source), v2 rows carry their values (summed), and
    totals match the fixture arithmetic — a reader that dropped v1
    files, defaulted the column, or misaligned by position flips the
    hash. Complements schema_evolution_union, which evolves at the
    DATAFRAME layer (unionByName allowMissingColumns); this is the
    FILE-layer path where the footer schemas disagree.

    Scale note: mergeSchema costs a footer read per file at planning
    — on a 100 TB table pin the merged schema in the metastore (or
    read with an explicit superset schema, readers.py's default
    posture) instead of re-merging per query; the semantics pinned
    here are identical either way."""
    from logicash_etl_spark.tmp import session_tmpdir

    docs = read_table(spark, sf_dir, "documents")
    root = session_tmpdir("lq_schevo_")
    docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "source").write.mode(
        "overwrite"
    ).parquet(f"{root}/lot")
    docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", "n_chars"
    ).write.mode("append").parquet(f"{root}/lot")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{root}/lot")
    return merged.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("v2_chars"),
        F.sum(F.col("n_chars").isNull().cast("int"))
        .cast("bigint")
        .alias("n_v1_rows_null_chars"),
    )


@query(
    "k_anonymity_report",
    oracle="""
    WITH tagged AS (
      SELECT 'coarse' AS qi_level,
             concat_ws('|', CAST(c_nationkey AS VARCHAR), c_mktsegment)
               AS qi_key
      FROM customer
      UNION ALL
      SELECT 'fine' AS qi_level,
             concat_ws('|', CAST(c_nationkey AS VARCHAR), c_mktsegment,
                       CAST(CAST(floor(c_acctbal / 1000) AS BIGINT)
                            AS VARCHAR)) AS qi_key
      FROM customer
    ), classes AS (
      SELECT qi_level, qi_key, count(*) AS sz
      FROM tagged GROUP BY qi_level, qi_key
    )
    SELECT qi_level,
           CAST(SUM(sz) AS BIGINT) AS n_records,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(sz) AS BIGINT) AS achieved_k,
           CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS unique_classes,
           CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
             AS records_at_risk_lt5,
           CAST(floor(10000.0 * SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END)
                      / SUM(sz) + 0.5) AS BIGINT) / 100.0
             AS pct_at_risk_lt5
    FROM classes GROUP BY qi_level
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY equivalence-class audit (Sweeney 2002) — the
    privacy risk analytic run before releasing or training on a
    table: group records by their quasi-identifier tuple (the columns
    an attacker can link externally) and measure the class-size
    distribution. A record in a class of size 1 is re-identifiable
    outright; the achieved k is the min class size. Two QI
    granularities side by side show the generalization tradeoff the
    anonymizer actually tunes: 'coarse' (nation + market segment,
    k-anonymous at a healthy k) vs 'fine' (+ account-balance band,
    where uniques appear and the at-risk mass concentrates) — the
    compliance sibling of `right_to_erasure_audit`.

    Determinism: class sizes are exact counts; the only ratio is
    quantized via floor(x*100 + 0.5) BEFORE the output division, so
    the percentage is exact to 2dp on both engines (never a native
    round() at a .xx5 boundary).

    Scale: ONE customer scan (both QI levels tagged by a map-side
    explode, the zorder-report convention), one groupBy per
    (level, qi_key) — the only data-sized shuffle — then a
    level-rollup over class rows. No joins; the class frame is
    |distinct QI tuples|, the thing being measured."""
    cust = read_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    tagged = cust.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("coarse").alias("qi_level"),
                    F.concat_ws(
                        "|",
                        F.col("c_nationkey").cast("string"),
                        "c_mktsegment",
                    ).alias("qi_key"),
                ),
                F.struct(
                    F.lit("fine").alias("qi_level"),
                    F.concat_ws(
                        "|",
                        F.col("c_nationkey").cast("string"),
                        "c_mktsegment",
                        band.cast("string"),
                    ).alias("qi_key"),
                ),
            )
        ).alias("t")
    ).select("t.qi_level", "t.qi_key")
    classes = tagged.groupBy("qi_level", "qi_key").agg(
        F.count("*").alias("sz")
    )
    at_risk = F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
    return classes.groupBy("qi_level").agg(
        F.sum("sz").cast("bigint").alias("n_records"),
        F.count("*").cast("bigint").alias("n_classes"),
        F.min("sz").cast("bigint").alias("achieved_k"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("unique_classes"),
        at_risk.cast("bigint").alias("records_at_risk_lt5"),
        (
            F.floor(
                10000.0 * at_risk / F.sum("sz") + 0.5
            ).cast("bigint")
            / 100.0
        ).alias("pct_at_risk_lt5"),
    )


@query(
    "l_diversity_report",
    oracle="""
    WITH cls AS (
      SELECT concat_ws('|', CAST(c_nationkey AS VARCHAR), c_mktsegment)
               AS qi_key,
             count(*) AS sz,
             count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
               AS l
      FROM customer
      GROUP BY qi_key
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(SUM(sz) AS BIGINT) AS n_records,
           CAST(min(l) AS BIGINT) AS achieved_l,
           CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_l_lt3,
           CAST(SUM(CASE WHEN l < 3 THEN sz ELSE 0 END) AS BIGINT)
             AS records_l_lt3,
           CAST(min(CASE WHEN l < 3 THEN sz END) AS BIGINT)
             AS smallest_weak_class
    FROM cls
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit (Machanavajjhala et al. ICDE 2006) — the
    criterion k-anonymity misses: a class can be large (k-anonymous)
    yet carry only ONE sensitive value, so membership alone discloses
    it (the homogeneity attack). Over the same coarse quasi-identifier
    classes as `k_anonymity_report` (nation + market segment), with
    the account-balance band as the sensitive attribute: achieved l
    (min distinct sensitive values per class), the weak-class count
    below l=3, and the record mass exposed there. The two reports
    together are the release gate: k bounds re-identification, l
    bounds attribute disclosure.

    Scale: one scan, one groupBy over QI classes with an exact
    per-class COUNT(DISTINCT sensitive) — the distinct is bounded by
    the sensitive attribute's band cardinality (a few dozen),
    per-class, never corpus-wide — then a single rollup row."""
    cust = read_table(spark, sf_dir, "customer")
    cls = cust.groupBy(
        F.concat_ws(
            "|", F.col("c_nationkey").cast("string"), "c_mktsegment"
        ).alias("qi_key")
    ).agg(
        F.count("*").alias("sz"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
        ).alias("l"),
    )
    weak = F.col("l") < 3
    return cls.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("sz").cast("bigint").alias("n_records"),
        F.min("l").cast("bigint").alias("achieved_l"),
        F.sum(weak.cast("int")).cast("bigint").alias("classes_l_lt3"),
        F.sum(F.when(weak, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("records_l_lt3"),
        F.min(F.when(weak, F.col("sz")))
        .cast("bigint")
        .alias("smallest_weak_class"),
    )


@query(
    "t_closeness_report",
    oracle="""
    WITH cust AS (
      SELECT concat_ws('|', CAST(c_nationkey AS VARCHAR), c_mktsegment)
               AS qi_key,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer
    ),
    gb AS (SELECT band, count(*) AS gcnt FROM cust GROUP BY band),
    gcum AS (
      SELECT band,
             CAST(SUM(gcnt) OVER (ORDER BY band) AS BIGINT) AS cum_g
      FROM gb
    ),
    tot AS (
      SELECT CAST(max(cum_g) AS BIGINT) AS n_rec,
             CAST(count(*) AS BIGINT) AS m
      FROM gcum
    ),
    cls AS (
      SELECT qi_key, CAST(count(*) AS BIGINT) AS n_c
      FROM cust GROUP BY qi_key
    ),
    cb AS (
      SELECT qi_key, band, CAST(count(*) AS BIGINT) AS ccnt
      FROM cust GROUP BY qi_key, band
    ),
    grid AS (
      SELECT cls.qi_key, cls.n_c, g.band, g.cum_g,
             COALESCE(cb.ccnt, 0) AS ccnt
      FROM cls CROSS JOIN gcum g
      LEFT JOIN cb ON cb.qi_key = cls.qi_key AND cb.band = g.band
    ),
    cum AS (
      SELECT qi_key, n_c, cum_g,
             CAST(SUM(ccnt) OVER (
               PARTITION BY qi_key ORDER BY band
             ) AS BIGINT) AS cum_c
      FROM grid
    ),
    emd AS (
      SELECT c.qi_key, c.n_c, t.n_rec, t.m,
             CAST(SUM(ABS(c.cum_c * t.n_rec - c.cum_g * c.n_c))
                  AS BIGINT) AS s
      FROM cum c CROSS JOIN tot t
      GROUP BY c.qi_key, c.n_c, t.n_rec, t.m
    ),
    ppm AS (
      SELECT qi_key, n_c, m,
             CAST((2000000 * s + n_rec * n_c * greatest(m - 1, 1))
                  // (2 * n_rec * n_c * greatest(m - 1, 1))
                  AS BIGINT) AS emd_ppm
      FROM emd
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(max(m) AS BIGINT) AS n_bands,
           CAST(max(emd_ppm) AS BIGINT) AS max_emd_ppm,
           CAST(SUM(CASE WHEN emd_ppm > 200000 THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_above_t,
           CAST(SUM(CASE WHEN emd_ppm > 200000 THEN n_c ELSE 0 END)
                AS BIGINT) AS records_above_t
    FROM ppm
    """,
)
def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit (Li, Li & Venkatasubramanian ICDE 2007) —
    the third leg of the privacy release gate: k-anonymity bounds
    re-identification, l-diversity bounds value homogeneity, but a
    class can be large AND diverse yet still leak if its sensitive
    distribution DIFFERS sharply from the global one (the skewness
    attack — "this class is 90% high-balance" is a disclosure even
    with many distinct values). Per coarse quasi-identifier class
    (nation + market segment, the `k_anonymity_report` classes), the
    Earth Mover's Distance between the class's account-balance-band
    distribution and the global band distribution, using the ordered-
    attribute EMD = (1/(m-1)) * sum_i |cumQ_i - cumP_i|. Reports the
    achieved max EMD and the class/record mass above the classic
    t = 0.2 threshold.

    Determinism: the whole EMD is EXACT INTEGER arithmetic —
    per-class cumulative counts vs global cumulative counts cross-
    multiplied (|cum_c*N - cum_g*n_c|, no division until the end),
    then quantized to ppm via (2e6*s + d) div (2*d), i.e.
    floor(1e6*s/d + 0.5) computed entirely in BIGINT so both engines
    decide thresholds identically (no IEEE division anywhere). The
    last band's cumulative difference is 0 by construction, so
    summing all m terms equals the canonical m-1 sum.

    Scale: ONE customer scan into the class x band cell aggregate
    (map-side combinable) — the global band distribution and the
    class sizes are ROLLUPS of that cell frame, not second scans; the
    dense class x band grid is |classes| x |bands| — both AGGREGATE
    outputs bounded by the generalized-QI and band domains, never by
    row count (that boundedness is the point of generalization) — so
    the band frame and the single-row totals broadcast safely at any
    sf. The per-class cumulative window partitions by class (no
    global sort). At extreme N the cross-product n_rec*n_c can
    approach int64; the swap is DECIMAL(38,0) on the two products —
    one cast, same plan."""
    cust = read_table(spark, sf_dir, "customer").select(
        F.concat_ws(
            "|", F.col("c_nationkey").cast("string"), "c_mktsegment"
        ).alias("qi_key"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    # the class x band cell frame is the finest granularity: the global
    # band distribution and the class sizes are both rollups of it.
    # persisted: tests/test_plan_contracts.py::
    # test_t_closeness_single_customer_scan pins one customer scan
    cb = scoped_persist(
        cust.groupBy("qi_key", "band").agg(
            F.count("*").cast("bigint").alias("ccnt")
        )
    )
    gb = cb.groupBy("band").agg(F.sum("ccnt").alias("gcnt"))
    wg = W.orderBy("band").rowsBetween(W.unboundedPreceding, 0)
    gcum = gb.select(
        "band", F.sum("gcnt").over(wg).cast("bigint").alias("cum_g")
    )
    tot = gcum.agg(
        F.max("cum_g").cast("bigint").alias("n_rec"),
        F.count("*").cast("bigint").alias("m"),
    )
    cls = cb.groupBy("qi_key").agg(
        F.sum("ccnt").cast("bigint").alias("n_c")
    )
    grid = (
        cls.crossJoin(F.broadcast(gcum))
        .join(cb, ["qi_key", "band"], "left")
        .select(
            "qi_key",
            "n_c",
            "band",
            "cum_g",
            F.coalesce("ccnt", F.lit(0)).alias("ccnt"),
        )
    )
    wc = W.partitionBy("qi_key").orderBy("band").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = grid.select(
        "qi_key",
        "n_c",
        "cum_g",
        F.sum("ccnt").over(wc).cast("bigint").alias("cum_c"),
    )
    emd = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("qi_key", "n_c", "n_rec", "m")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_c") * F.col("n_rec")
                    - F.col("cum_g") * F.col("n_c")
                )
            )
            .cast("bigint")
            .alias("s")
        )
        .withColumn(
            "emd_ppm",
            F.expr(
                "(2000000 * s + n_rec * n_c * greatest(m - 1, 1))"
                " div (2 * n_rec * n_c * greatest(m - 1, 1))"
            ).cast("bigint"),
        )
    )
    above = F.col("emd_ppm") > 200000
    return emd.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.max("m").cast("bigint").alias("n_bands"),
        F.max("emd_ppm").cast("bigint").alias("max_emd_ppm"),
        F.sum(above.cast("int")).cast("bigint").alias("classes_above_t"),
        F.sum(F.when(above, F.col("n_c")).otherwise(0))
        .cast("bigint")
        .alias("records_above_t"),
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT * FROM (
      SELECT 'orders.o_custkey -> customer' AS fk_edge,
             CAST(count(*) AS BIGINT) AS n_child_rows,
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM orders o
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'lineitem.l_orderkey -> orders',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
        ON l.l_orderkey = ok.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey -> part',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey -> supplier',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
        ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'customer.c_nationkey -> nation',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM customer c
      LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'supplier.s_nationkey -> nation',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM supplier s
      LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        ON s.s_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'nation.n_regionkey -> region',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM nation n
      LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
        ON n.n_regionkey = r.r_regionkey
    )
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit — every FK edge of
    the star schema in ONE report: child row count and orphan count
    per edge. The schema-wide generalization of
    `customers_without_orders` (one edge, row-level) and the check a
    warehouse loader runs after every batch; a nonzero orphan count
    is the first symptom of a partial load or an out-of-order
    ingest.

    Scale: each edge is a left join against its PARENT — the parent
    key set is the dimension side and broadcast-able for nation/
    region/supplier/customer/part at any realistic scale (AQE sizes
    them; no forced hints), while lineitem->orders shuffles on the
    natural join key. Orphan counting folds into the join's
    NULL-probe aggregate — no anti-join second pass per edge; the
    seven per-edge single-row aggregates union into a 7-row frame.

    Contract: the parent side is DEDUPED before the join (Spark
    `.distinct()`, oracle `SELECT DISTINCT pk`) so a duplicated
    parent PK — the pathology `key_uniqueness_audit` exists to
    detect — can never inflate `n_child_rows` via join fanout; this
    audit reports child-row existence, not parent multiplicity.

    Determinism: exact counts only."""
    edges = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    outs = []
    for child, ck, parent, pk in edges:
        c = read_table(spark, sf_dir, child).select(ck)
        p = read_table(spark, sf_dir, parent).select(pk).distinct()
        j = c.join(p, c[ck] == p[pk], "left")
        outs.append(
            j.agg(
                F.lit(f"{child}.{ck} -> {parent}").alias("fk_edge"),
                F.count("*").cast("bigint").alias("n_child_rows"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query(
    "key_uniqueness_audit",
    oracle="""
    SELECT * FROM (
      SELECT 'region.r_regionkey' AS table_key,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT r_regionkey) AS BIGINT) AS n_distinct,
             CAST(count(*) - count(DISTINCT r_regionkey) AS BIGINT)
               AS n_excess_rows,
             count(*) = count(DISTINCT r_regionkey) AS is_unique
      FROM region
      UNION ALL
      SELECT 'nation.n_nationkey', count(*),
             count(DISTINCT n_nationkey),
             count(*) - count(DISTINCT n_nationkey),
             count(*) = count(DISTINCT n_nationkey) FROM nation
      UNION ALL
      SELECT 'customer.c_custkey', count(*),
             count(DISTINCT c_custkey),
             count(*) - count(DISTINCT c_custkey),
             count(*) = count(DISTINCT c_custkey) FROM customer
      UNION ALL
      SELECT 'supplier.s_suppkey', count(*),
             count(DISTINCT s_suppkey),
             count(*) - count(DISTINCT s_suppkey),
             count(*) = count(DISTINCT s_suppkey) FROM supplier
      UNION ALL
      SELECT 'part.p_partkey', count(*),
             count(DISTINCT p_partkey),
             count(*) - count(DISTINCT p_partkey),
             count(*) = count(DISTINCT p_partkey) FROM part
      UNION ALL
      SELECT 'orders.o_orderkey', count(*),
             count(DISTINCT o_orderkey),
             count(*) - count(DISTINCT o_orderkey),
             count(*) = count(DISTINCT o_orderkey) FROM orders
      UNION ALL
      SELECT 'lineitem.(l_orderkey,l_linenumber)', count(*),
             count(DISTINCT CAST(l_orderkey AS VARCHAR) || ':'
                            || CAST(l_linenumber AS VARCHAR)),
             count(*) - count(DISTINCT CAST(l_orderkey AS VARCHAR)
                              || ':' || CAST(l_linenumber AS VARCHAR)),
             count(*) = count(DISTINCT CAST(l_orderkey AS VARCHAR)
                              || ':' || CAST(l_linenumber AS VARCHAR))
      FROM lineitem
      UNION ALL
      SELECT 'events.event_id', count(*),
             count(DISTINCT event_id),
             count(*) - count(DISTINCT event_id),
             count(*) = count(DISTINCT event_id) FROM events
      UNION ALL
      SELECT 'documents.doc_id', count(*),
             count(DISTINCT doc_id),
             count(*) - count(DISTINCT doc_id),
             count(*) = count(DISTINCT doc_id) FROM documents
    )
    """,
)
def key_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness audit across the whole schema — the
    loader's other half next to `referential_integrity_audit`
    (parents exist <- THIS -> keys are keys): per declared primary
    key (including lineitem's composite), row count vs distinct key
    count and the excess-row mass a MERGE/upsert would collapse. A
    nonzero excess on a "primary" key is the first symptom of a
    double-applied batch — the violation `event_delivery_dedup` and
    the idempotent-sink contract exist to prevent.

    Scale: one COUNT(DISTINCT key) aggregate per table — Spark plans
    these as two-stage partial aggregates (expand + merge), map-side
    combinable, no joins; nine single-row aggregates union into the
    report. For corpus-scale tables where exact distinct is the
    bottleneck, `approx_sketches` is the HLL-based screening pass —
    this audit is the exact confirmation.

    Determinism: exact counts only."""
    keys = [
        ("region", "r_regionkey", None),
        ("nation", "n_nationkey", None),
        ("customer", "c_custkey", None),
        ("supplier", "s_suppkey", None),
        ("part", "p_partkey", None),
        ("orders", "o_orderkey", None),
        ("lineitem", "(l_orderkey,l_linenumber)",
         F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))),
        ("events", "event_id", None),
        ("documents", "doc_id", None),
    ]
    outs = []
    for table, label, expr in keys:
        t = read_table(spark, sf_dir, table)
        k = expr if expr is not None else F.col(label)
        outs.append(
            t.agg(
                F.lit(f"{table}.{label}").alias("table_key"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.countDistinct(k).cast("bigint").alias("n_distinct"),
                (F.count("*") - F.countDistinct(k))
                .cast("bigint")
                .alias("n_excess_rows"),
                (F.count("*") == F.countDistinct(k)).alias("is_unique"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
