"""Advanced surface: cube, unpivot, approximate sketches, and the
sanctioned Pandas-UDF slow path."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logicash_etl_spark.dq.profile import percentiles
from logicash_etl_spark.functions.money import dsum
from logicash_etl_spark.operators.caching import scoped_persist
from logicash_etl_spark.operators.joins import broadcast_bounded
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table


@query(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations in one shuffle (Spark
    expands grouping sets map-side)."""
    return read_table(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dsum("o_totalprice", "total")
    )


@query(
    "unpivot_daily_metrics",
    oracle="""
    WITH wide AS (
      SELECT CAST(o_orderdate AS DATE) AS fecha_dia,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
      FROM orders GROUP BY fecha_dia
    )
    SELECT fecha_dia, metric, value FROM wide
    UNPIVOT (value FOR metric IN (n_orders, total, max_price))
    """,
)
def unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long) via the native unpivot/melt operator."""
    wide = (
        read_table(spark, sf_dir, "orders")
        .withColumn("fecha_dia", F.to_date("o_orderdate"))
        .groupBy("fecha_dia")
        .agg(
            F.count("*").cast("double").alias("n_orders"),
            dsum("o_totalprice", "total"),
            F.max(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("max_price"),
        )
    )
    return wide.unpivot(
        "fecha_dia", ["n_orders", "total", "max_price"], "metric", "value"
    )


@query(
    "approx_sketches",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           count(DISTINCT l_orderkey) AS exact_orders,
           true AS hll_within_3rsd,
           true AS p50_within_rank_eps,
           true AS p95_within_rank_eps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB substitutes for exact distinct/quantiles: HLL
    approx_count_distinct and percentile_approx — mergeable sketches,
    bounded memory, no giant shuffle.

    Sketch VALUES are engine-specific (xxhash64-seeded HLL,
    KLL-style quantile digest), so the oracle checks BOUNDS instead:
    the query computes exact and approx side by side and emits
    booleans — HLL within 3x its configured rsd, each approx quantile
    between the exact quantiles at p±eps (eps = 50x the sketch's 1e-4
    rank guarantee, so the check is loose enough to be deterministic
    and tight enough to catch a broken sketch). DuckDB's twin emits
    the exact counts plus constant-true booleans; a sketch regression
    flips a boolean and the hash catches it. Point accuracy is further
    bounded in tests/test_extensions.py."""
    li = read_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        # split the quantile sketch into scalar columns: the driver
        # canonicalizer cannot hash array-typed output
        percentiles("l_extendedprice", 0.5).alias("price_p50"),
        percentiles("l_extendedprice", 0.95).alias("price_p95"),
        # exact=True is INTRINSIC here, not an oracle concession: the
        # query verifies the sketch against true rank bounds — a
        # sketch checked against itself proves nothing. The exact
        # aggregates are grouped (per returnflag), bounded per group.
        percentiles(price, 0.495, exact=True).alias("p50_lo"),
        percentiles(price, 0.505, exact=True).alias("p50_hi"),
        percentiles(price, 0.945, exact=True).alias("p95_lo"),
        percentiles(price, 0.955, exact=True).alias("p95_hi"),
    )
    rel_err = (
        F.abs(F.col("approx_orders") - F.col("exact_orders"))
        / F.col("exact_orders")
    )
    return agg.select(
        "l_returnflag",
        "n",
        "exact_orders",
        (rel_err <= 0.06).alias("hll_within_3rsd"),
        F.col("price_p50").between(F.col("p50_lo"), F.col("p50_hi")).alias(
            "p50_within_rank_eps"
        ),
        F.col("price_p95").between(F.col("p95_lo"), F.col("p95_hi")).alias(
            "p95_within_rank_eps"
        ),
    )


@query(
    "embedding_norms_pandas_udf",
    oracle="""
    SELECT vec_id, round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sanctioned Python slow path: an Arrow-batched scalar
    pandas_udf (one serde per batch, not per row). The kernel uses the
    same left-fold accumulation as the JVM/DuckDB implementations so
    results stay bitwise-comparable; rounding guards the last ulp.

    (Norms are also expressible as pure JVM aggregate() — see
    operators/similarity.py — this query exists to pin the UDF
    machinery: Arrow transfer, null handling, schema contract.)
    """

    @F.pandas_udf("double")
    def l2(series: pd.Series) -> pd.Series:
        def norm(v):
            if v is None:
                return None
            acc = 0.0
            for x in v:  # sequential fold == JVM aggregate order
                acc += float(x) * float(x)
            return acc ** 0.5
        return series.map(norm)

    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.round(l2(F.col("embedding").cast("array<double>")), 6).alias("l2_norm")
    )


@query(
    "small_quantity_revenue",
    oracle="""
    WITH thresholds AS (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity)) AS thr
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           count(*) AS n_small,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN thresholds USING (l_partkey)
    WHERE l_quantity < thr
    GROUP BY p_brand
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    threshold), expressed via the SQL API so Catalyst's subquery
    decorrelation produces the same agg+join plan the hand-decorrelated
    version would. Threshold arithmetic is decimal-exact on both sides
    so boundary rows can't flip."""
    for t in ("lineitem", "part"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT p_brand,
               count(*) AS n_small,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_quantity < (
          SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l2.l_quantity))
          FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
        )
        GROUP BY p_brand
        """
    )


@query(
    "hourly_moving_value",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_1h,
           CAST(count(*) OVER w AS BIGINT) AS n_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def hourly_moving_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based window frame: per-user trailing-1h sum via
    rangeBetween on epoch microseconds — the event-time moving
    aggregate (distinct from row-count frames; ties at equal ts are
    included together on both engines)."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("value_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


@query(
    "string_function_surface",
    oracle="""
    SELECT p_partkey,
           translate(p_brand, '#', '-') AS brand_dashed,
           lpad(CAST(p_size AS STRING), 4, '0') AS size_padded,
           split_part(p_type, ' ', 1) AS type_head,
           strpos(p_name, 'a') AS first_a,
           left(p_name, 8) AS name_prefix,
           right(p_brand, 2) AS brand_suffix,
           reverse(p_brand) AS brand_rev,
           repeat(p_brand, 2) AS brand_twice,
           regexp_extract(p_brand, '[0-9]+') AS brand_num,
           replace(p_type, ' ', '_') AS type_snake
    FROM part
    """,
)
def string_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth (section 2.8 extension surface) — all JVM
    built-ins, each with an exact DuckDB twin."""
    p = read_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_head"),
        F.instr("p_name", "a").alias("first_a"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.substring("p_brand", -2, 2).alias("brand_suffix"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.replace("p_type", F.lit(" "), F.lit("_")).alias("type_snake"),
    )


@query(
    "date_function_surface",
    oracle="""
    SELECT o_orderkey,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
           CAST(date_add(CAST(o_orderdate AS DATE), INTERVAL 3 MONTH) AS DATE) AS plus_3_months,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(isodow(o_orderdate) - 1 AS INT) AS weekday_monday0,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm
    FROM orders
    """,
)
def date_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function breadth: datediff, add_months (end-of-month
    aware on both engines), last_day, quarter, Monday-0 weekday,
    year-month key."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        F.add_months(F.to_date("o_orderdate"), 3).alias("plus_3_months"),
        F.last_day(F.to_date("o_orderdate")).alias("month_end"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.weekday("o_orderdate").cast("int").alias("weekday_monday0"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int").alias("yyyymm"),
    )


@query(
    "grouping_sets_report",
    oracle="""
    SELECT CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() disambiguation flags
    (beyond rollup/cube: arbitrary set lists) via the SQL API."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "array_function_surface",
    oracle="""
    SELECT vec_id,
           array_length(embedding) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_elem,
           round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_elem,
           round(CAST(embedding[2] AS DOUBLE), 4) AS head2,
           round(CAST(embedding[3] AS DOUBLE), 4) AS head3,
           list_contains(list_transform(embedding, x -> x > 0), TRUE) AS has_positive
    FROM embeddings
    """,
)
def array_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column surface: size, indexing, min/max, slice, transform,
    contains — the vector-column toolbox without UDFs. The slice is
    emitted as scalar columns (head2/head3): oracle-checked queries
    must not emit raw array columns (driver canonicalizer limitation)."""
    e = read_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_elem"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_elem"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_elem"),
        F.round(F.element_at("embedding", 2).cast("double"), 4).alias("head2"),
        F.round(F.element_at("embedding", 3).cast("double"), 4).alias("head3"),
        F.array_contains(F.transform("embedding", lambda x: x > 0), True).alias(
            "has_positive"
        ),
    )


@query(
    "train_test_split_stats",
    oracle="""
    WITH tagged AS (
      SELECT o_orderkey, o_totalprice,
             CAST(CAST(('0x' || substr(md5('split' || CAST(o_orderkey AS STRING)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.1 AS is_test
      FROM orders
    )
    SELECT is_test, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM tagged GROUP BY is_test
    """,
)
def train_test_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/test split (operators/
    sampling.py): membership is a pure function of the row id — stable
    across partitioning, cluster size, and engines (md5 is universal;
    the oracle reproduces the exact split in SQL)."""
    from logicash_etl_spark.operators.sampling import train_test_split

    o = read_table(spark, sf_dir, "orders")
    train, test = train_test_split(o, "o_orderkey")
    return (
        train.withColumn("is_test", F.lit(False))
        .unionByName(test.withColumn("is_test", F.lit(True)))
        .groupBy("is_test")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
    )


@query(
    "value_trend_stats",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(epoch_us(ts) - 1704067200000000 AS DOUBLE) / 1000000.0 AS DECIMAL(19,2)) AS x,
             CAST(value AS DECIMAL(19,2)) AS y
      FROM events
    ), s AS (
      SELECT event_type,
             count(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x*y) AS DOUBLE) AS sxy,
             CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy
      FROM d GROUP BY event_type
    )
    SELECT event_type, n,
           round((n*sxy - sx*sy) / (n*sxx - sx*sx), 10) AS slope,
           round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 10) AS correlation
    FROM s
    """,
)
def value_trend_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression statistics per group — slope and Pearson correlation
    of value vs time, computed from decimal-exact moment sums (Sx, Sy,
    Sxy, Sxx, Syy) so results are partition-order independent. The
    built-in regr_slope/corr aggregate in floating point with
    order-dependent error; at 1000 executors this formulation is the
    reproducible one. x is seconds since 2024-01-01; DECIMAL(19,2)
    (not 18) so the x*x cross moments survive epoch-scale skew —
    precision 19 forces DuckDB onto int128 storage (18 is int64 and
    overflows the multiply on decades-off timestamps) and the
    (19,2)x(19,2) -> (38,4) product stays exact under Spark's
    38-precision cap for |x| up to ~3e14 seconds."""
    ev = read_table(spark, sf_dir, "events")
    x = ((F.unix_micros("ts") - F.lit(1704067200000000)).cast("double") / 1e6).cast(
        "decimal(19,2)"
    )
    y = F.col("value").cast("decimal(19,2)")
    d = ev.select("event_type", x.alias("x"), y.alias("y"))
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = [F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy")]
    return s.select(
        "event_type",
        "n",
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 10).alias("slope"),
        F.round(
            (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            10,
        ).alias("correlation"),
    )


@query(
    "per_group_trend_forecast",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(regr_slope(value, epoch(ts)) * 86400, 6) AS slope_per_day,
           round(regr_intercept(value, epoch(ts))
                 + regr_slope(value, epoch(ts)) * (max(epoch(ts)) + 86400),
                 4) AS forecast_next_day
    FROM events GROUP BY event_type
    """,
)
def per_group_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per event_type, fit value ~ time by
    OLS and forecast one day past the group's last event — the
    engine's batch custom-operator extension point (each group arrives
    as ONE pandas DataFrame; Arrow both ways). Use when per-group
    logic genuinely needs imperative code; everything SQL-expressible
    stays JVM-side (cf. value_trend_stats, same slope in pure SQL).

    Oracle: DuckDB regr_slope/regr_intercept on epoch seconds. The
    pandas fit shifts x to the group min before polyfit (the regression
    line is shift-invariant; the shift keeps the SVD well-conditioned),
    so both sides agree to ~1e-9 — far inside the 6dp/4dp rounding that
    makes the comparison hash-stable. Slope is reported per DAY so the
    rounded value keeps ~6 significant digits (per-second slopes are
    ~1e-5 and would round to noise)."""
    import numpy as np

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        # datetime64[ns] regardless of Arrow's wire unit, then seconds
        x = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() / 1e9
        y = pdf["value"].to_numpy(dtype="float64")
        # SQL regr_* semantics: a pair with a NULL member is excluded
        # from the fit (a NaN would otherwise poison the whole
        # group's slope); n stays count(*) and the forecast horizon
        # stays the group's last NON-NULL event time — exactly what
        # the oracle's count(*) / max(epoch(ts)) compute (NaT casts
        # to int64 garbage, so the mask comes from pandas isna)
        m = (~pdf["ts"].isna() & ~pdf["value"].isna()).to_numpy()
        ts_ok = ~pdf["ts"].isna().to_numpy()
        xv, yv = x[m], y[m]
        if len(xv) < 2 or np.ptp(xv) == 0.0:
            # degenerate group: no trend is fittable (polyfit SVD
            # fails; regr_slope is NULL on <2 pairs / zero variance)
            slope, forecast = None, None
        else:
            x0 = xv - xv.min()
            slope_f, intercept = np.polyfit(x0, yv, 1)
            slope = round(float(slope_f) * 86_400.0, 6)
            forecast = round(
                float(
                    intercept
                    + slope_f * (x[ts_ok].max() - xv.min() + 86_400.0)
                ),
                4,
            )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(pdf)],
                "slope_per_day": [slope],
                "forecast_next_day": [forecast],
            }
        )

    ev = read_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return ev.groupBy("event_type").applyInPandas(
        fit, schema="event_type string, n long, slope_per_day double, forecast_next_day double"
    )


@query(
    "bloom_join_prune_stats",
    oracle="""
    WITH small AS (
      SELECT s_suppkey AS key FROM supplier WHERE s_acctbal > 8000
    ), hsh AS (
      SELECT key,
        CAST(('0x' || substr(md5('bf' || CAST(key AS VARCHAR)), 1, 8))
             AS BIGINT) AS h1,
        CAST(('0x' || substr(md5('bf' || CAST(key AS VARCHAR)), 9, 8))
             AS BIGINT) AS h2
      FROM small
    ), bitmap AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
      FROM (SELECT (h1 + i * h2) % 256 AS pos
            FROM hsh, (VALUES (0), (1), (2)) t(i))
      GROUP BY word
    ), probe AS (
      SELECT DISTINCT l_suppkey AS key FROM lineitem
    ), phsh AS (
      SELECT key,
        CAST(('0x' || substr(md5('bf' || CAST(key AS VARCHAR)), 1, 8))
             AS BIGINT) AS h1,
        CAST(('0x' || substr(md5('bf' || CAST(key AS VARCHAR)), 9, 8))
             AS BIGINT) AS h2
      FROM probe
    ), hits AS (
      SELECT p.key,
             COALESCE(((b.bits >> CAST(p.pos % 32 AS INT)) & 1) = 1, FALSE)
               AS hit
      FROM (SELECT key, (h1 + i * h2) % 256 AS pos
            FROM phsh, (VALUES (0), (1), (2)) t(i)) p
      LEFT JOIN bitmap b ON b.word = p.pos // 32
    ), verdict AS (
      SELECT key,
             (SUM(CASE WHEN hit THEN 1 ELSE 0 END) = 3) AS bloom_pass
      FROM hits GROUP BY key
    ), judged AS (
      SELECT v.key, v.bloom_pass,
             (s.key IS NOT NULL) AS is_member
      FROM verdict v LEFT JOIN small s ON s.key = v.key
    ), rows_per_key AS (
      SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY key
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_probe_keys,
      CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
        AS n_members,
      CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
        AS n_bloom_pass,
      CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
           AS BIGINT) AS n_false_pos,
      (SUM(CASE WHEN is_member AND NOT bloom_pass THEN 1 ELSE 0 END) = 0)
        AS no_false_negatives,
      CAST(SUM(CASE WHEN NOT bloom_pass THEN n_rows ELSE 0 END) AS BIGINT)
        AS rows_pruned,
      CAST(SUM(CASE WHEN bloom_pass THEN n_rows ELSE 0 END) AS BIGINT)
        AS rows_kept
    FROM judged JOIN rows_per_key USING (key)
    """,
)
def bloom_join_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join pruning: build a 256-bit Bloom filter over
    the selective small side (suppliers with s_acctbal > 8000), probe
    every distinct fact key against the broadcast bitmap, and account
    for exactly what the filter buys — fact rows prunable BEFORE the
    join shuffle (``rows_pruned``) — and what it costs
    (``n_false_pos`` keys that survive the filter but fail the real
    join). ``no_false_negatives`` pins the Bloom contract: a member
    key can never be pruned. This is the explicit-operator form of
    Spark's own runtime bloom filter (operators/joins.py:
    bloom_filter_build/probe); at 100 TB the bitmap is kilobytes
    broadcast to every executor and the pruned rows never enter the
    shuffle. md5 double-hashing keeps the filter engine-portable: the
    oracle rebuilds the identical bitmap in DuckDB and the driver
    hash-checks false positives bit-for-bit."""
    from logicash_etl_spark.operators.joins import (
        bloom_filter_build,
        bloom_filter_probe,
    )

    m_bits, k = 256, 3
    small = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_suppkey").alias("key"))
    )
    bloom = bloom_filter_build(small, "key", m_bits=m_bits, k_hashes=k)
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("key")
    )
    probe_keys = li.distinct()
    tagged = bloom_filter_probe(
        probe_keys, "key", bloom, m_bits=m_bits, k_hashes=k
    )
    # the member set is supplier-derived (dim-proportional, grows with
    # sf) — unhinted per the broadcast_bounded policy; AQE broadcasts
    # it while small and shuffles beyond the threshold
    from logicash_etl_spark.operators.joins import broadcast_bounded

    judged = tagged.join(
        broadcast_bounded(
            small.withColumn("__m", F.lit(True)), bounded=False
        ),
        on="key",
        how="left",
    ).select(
        "key", "bloom_pass", F.coalesce("__m", F.lit(False)).alias("is_member")
    )
    rows_per_key = li.groupBy("key").agg(F.count("*").alias("n_rows"))
    return judged.join(rows_per_key, on="key").agg(
        F.count("*").alias("n_probe_keys"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias("n_members"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0)
        ).alias("n_false_pos"),
        (
            F.sum(
                F.when(F.col("is_member") & ~F.col("bloom_pass"), 1).otherwise(0)
            )
            == 0
        ).alias("no_false_negatives"),
        F.sum(
            F.when(~F.col("bloom_pass"), F.col("n_rows")).otherwise(0)
        ).alias("rows_pruned"),
        F.sum(
            F.when(F.col("bloom_pass"), F.col("n_rows")).otherwise(0)
        ).alias("rows_kept"),
    )


@query(
    "bloom_pruned_revenue",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_suppkey IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal > 8000
    )
    """,
)
def bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom runtime filter USED end-to-end: revenue of lineitems
    supplied by high-balance suppliers, computed as bloom-prune (drop
    most fact keys map-side against the broadcast bitmap) THEN the
    exact semi-join (which also removes the filter's false
    positives). The oracle is the plain semi-join — so the driver
    hash proves the pruned pipeline is RESULT-IDENTICAL to the
    unpruned one, the contract that makes runtime filters safe to
    inject anywhere. At 100 TB the semi-join's shuffle (or broadcast
    probe) sees only the bloom survivors — here 19% of fact rows
    (bloom_join_prune_stats measures the exact pruning rate on the
    same filter)."""
    from logicash_etl_spark.operators.joins import (
        bloom_filter_build,
        bloom_filter_probe,
        semi_join,
    )

    m_bits, k = 256, 3
    small = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_suppkey").alias("key"))
    )
    bloom = bloom_filter_build(small, "key", m_bits=m_bits, k_hashes=k)
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("key"), "l_extendedprice", "l_discount"
    )
    # prune at KEY granularity (distinct keys probe the bitmap; rows
    # follow by broadcast semi-join on surviving keys — the big side
    # itself never shuffles)
    keys = li.select("key").distinct()
    passing = bloom_filter_probe(
        keys, "key", bloom, m_bits=m_bits, k_hashes=k
    ).filter(F.col("bloom_pass")).select("key")
    # both probe frames are supplier-derived (dim-proportional — they
    # grow with sf, unlike nation/region): unhinted per the
    # broadcast_bounded policy. The point of the query survives — AQE
    # sees the post-bloom survivor counts at runtime and broadcasts
    # while they fit, which is exactly when a broadcast probe is safe.
    from logicash_etl_spark.operators.joins import broadcast_bounded

    pruned = semi_join(li, broadcast_bounded(passing, bounded=False), "key")
    # exact join removes the bloom's false positives
    exact = semi_join(pruned, broadcast_bounded(small, bounded=False), "key")
    return exact.agg(
        F.count("*").alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )


@query(
    "key_skew_report",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(MAX(n) AS BIGINT) AS max_key_rows
      FROM per
    ), top AS (
      SELECT CAST(SUM(n) AS BIGINT) AS top10_rows
      FROM (SELECT n FROM per ORDER BY n DESC, key LIMIT 10)
    )
    SELECT t.total_rows, t.n_keys, t.max_key_rows,
           round(CAST(t.total_rows AS DOUBLE) / t.n_keys, 6)
             AS avg_key_rows,
           round(t.max_key_rows
                 / (CAST(t.total_rows AS DOUBLE) / t.n_keys), 6)
             AS skew_ratio,
           round(CAST(p.top10_rows AS DOUBLE) / t.total_rows, 6)
             AS top10_share,
           CAST(LEAST(CEIL(t.max_key_rows
                 / (CAST(t.total_rows AS DOUBLE) / t.n_keys)), 32)
                AS BIGINT) AS recommended_salt_buckets
    FROM tot t, top p
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the operational companion to
    ``join_with_skew_salt`` (operators/joins.py): before shuffling a
    100 TB fact table on a key, measure how lopsided the key really
    is. One groupBy pass yields rows-per-key; a second #keys-row
    aggregate folds it to max/avg ``skew_ratio``, the share held by
    the 10 heaviest keys (TakeOrderedAndProject, no global sort), and
    a recommended salt-bucket count (ceil(max/avg), capped at 32 —
    the factor that levels the heaviest reducer). At scale the only
    data-sized shuffle is the per-key count; everything downstream is
    #keys rows. The thresholds a pipeline would alert on
    (skew_ratio > ~4 means AQE skew-split or salting territory) read
    straight off the row, and the driver hash pins every number."""
    per = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("n"))
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("total_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("n").cast("bigint").alias("max_key_rows"),
    )
    top = (
        per.orderBy(F.col("n").desc(), "key")
        .limit(10)
        .agg(F.sum("n").cast("bigint").alias("top10_rows"))
    )
    avg = F.col("total_rows").cast("double") / F.col("n_keys")
    return tot.crossJoin(F.broadcast(top)).select(
        "total_rows",
        "n_keys",
        "max_key_rows",
        F.round(avg, 6).alias("avg_key_rows"),
        F.round(F.col("max_key_rows") / avg, 6).alias("skew_ratio"),
        F.round(
            F.col("top10_rows").cast("double") / F.col("total_rows"), 6
        ).alias("top10_share"),
        F.least(F.ceil(F.col("max_key_rows") / avg), F.lit(32))
        .cast("bigint")
        .alias("recommended_salt_buckets"),
    )


@query(
    "copurchase_lift_top20",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), freq AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items
      GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM items
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 3
    ), lifted AS (
      SELECT p.part_a, p.part_b, p.n_ab,
             round(CAST(p.n_ab AS DOUBLE) * t.n_orders
                   / (fa.n * fb.n), 6) AS lift
      FROM pairs p
        JOIN freq fa ON fa.l_partkey = p.part_a
        JOIN freq fb ON fb.l_partkey = p.part_b, tot t
    )
    SELECT part_a, part_b, n_ab, lift FROM lifted
    ORDER BY lift DESC, part_a, part_b LIMIT 20
    """,
)
def copurchase_lift_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with support pruning — the a-priori
    first pass, distributed: items co-ordered in the same basket
    self-join ON THE BASKET KEY (co-partitioned equi-join — pair
    fan-out is C(lines-per-order, 2) per basket, bounded by basket
    size, never cross-basket), the support filter (>= 3 shared
    orders) runs BEFORE any frequency join, and the surviving pairs
    — a vanishing fraction — broadcast-join the per-item frequencies
    for lift = P(a,b) / (P(a) P(b)). At 100 TB the only data-sized
    shuffles are the basket self-join (on the basket key the scan is
    often already bucketed by) and the item-frequency count; the
    token-domain sibling is collocation_lift_top20. Top-20 by lift
    via TakeOrderedAndProject with a full deterministic tiebreak."""
    items = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    freq = items.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("n"))
    tot = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    # a-priori downward closure is the scale knob NOT applied here: a
    # pair reaches support >= 3 only if both items appear in >= 3
    # baskets, so on a long-tail item distribution a pre-pass
    # frequency semi-join shrinks the pair fan-out to the
    # frequent-item skeleton with the result exactly unchanged. The
    # fixture has NO infrequent items (every part sells >= 3 times at
    # every SF), so the semi-join would cost a shuffle and prune zero
    # rows — measured strictly slower; enable it where min-support
    # actually bites.
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.l_orderkey") == F.col("b.l_orderkey"),
                F.col("a.l_partkey") < F.col("b.l_partkey"),
            ],
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    fa = freq.select(
        F.col("l_partkey").alias("part_a"), F.col("n").alias("__na")
    )
    fb = freq.select(
        F.col("l_partkey").alias("part_b"), F.col("n").alias("__nb")
    )
    return (
        pairs.join(broadcast_bounded(fa, bounded=False), "part_a")
        .join(broadcast_bounded(fb, bounded=False), "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "doc_stats_map_in_arrow",
    oracle=r"""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE 1 + len(regexp_extract_all(trim(text), '\s+'))
                END AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def doc_stats_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth sanctioned Python path: ``mapInArrow`` — Arrow
    RecordBatches in, Arrow RecordBatches out, NO pandas
    materialization (pandas_udf/mapInPandas convert every batch to
    pandas objects; for kernels pyarrow.compute already has, that
    round-trip is pure overhead). Per-doc byte length and whitespace
    token count, all vectorized C++ kernels: token count via the
    run-count identity tokens = (trim != '') * (1 + #internal
    whitespace runs), which sidesteps split_whitespace's
    empty-boundary tokens and matches the regex-split semantics the
    text operators pin.

    This query exists to pin the mapInArrow machinery (batch schema
    contract, null propagation, zero-copy columns); the same stats
    are JVM-expressible (cf. token_stats_by_source) — at 100 TB you'd
    reach for mapInArrow only for kernels Spark lacks (tokenizers,
    image decode) where Arrow-native beats pandas-bridged by the
    batch-conversion cost."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for b in batches:
            text = b.column("text")
            trimmed = pc.utf8_trim_whitespace(text)
            runs = pc.count_substring_regex(trimmed, r"\s+")
            nonempty = pc.cast(pc.not_equal(trimmed, ""), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.multiply(nonempty, pc.add(runs, pa.scalar(1, pa.int64()))),
                ],
                names=["doc_id", "n_bytes", "n_ws_tokens"],
            )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        stats, "doc_id long, n_bytes long, n_ws_tokens long"
    )


def _morton_sql(xc: str, yc: str) -> str:
    """SQL text for the Morton (Z-order) interleave of two 10-bit
    non-negative integer columns — generated from one loop so the
    Spark expression below and the DuckDB oracle share the exact
    arithmetic."""
    terms = []
    for i in range(10):
        terms.append(f"((({xc} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yc} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "zorder_file_skipping",
    oracle=f"""
    WITH mx AS (
      SELECT max(l_orderkey) AS mo, max(l_partkey) AS mp FROM lineitem
    ), xy AS (
      SELECT (l_orderkey * 1024) // (mo + 1) AS x,
             (l_partkey * 1024) // (mp + 1) AS y
      FROM lineitem, mx
    ), z AS (
      SELECT x, y, {_morton_sql('x', 'y')} AS zv FROM xy
    ), tagged AS (
      SELECT 'zorder' AS layout, zv >> 14 AS file_id, x, y FROM z
      UNION ALL
      SELECT 'linear_x' AS layout, x >> 4 AS file_id, x, y FROM z
    ), files AS (
      SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
             min(x) AS x_min, max(x) AS x_max,
             min(y) AS y_min, max(y) AS y_max
      FROM tagged GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           round(avg(x_max - x_min + 1), 2) AS avg_x_span,
           round(avg(y_max - y_min + 1), 2) AS avg_y_span,
           CAST(SUM(CASE WHEN x_max >= 256 AND x_min <= 271
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS files_scan_x_band,
           CAST(SUM(CASE WHEN y_max >= 256 AND y_min <= 271
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS files_scan_y_band
    FROM files GROUP BY layout
    """,
)
def zorder_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout vs linear clustering,
    measured as FILE SKIPPING — the `OPTIMIZE ZORDER BY` analog of
    Delta/Iceberg, expressed as a first-class layout report. Rows
    are mapped to a 1024x1024 grid over (l_orderkey, l_partkey),
    assigned to 64 "files" two ways — 64 Z-value cells (zorder) vs
    64 x-range cells (linear_x, a plain sort by one key) — and each
    file records its per-column min/max exactly as a lakehouse
    manifest would. The report shows the layout tradeoff in data-
    skipping terms: a 16-wide predicate band on x scans few files
    under EITHER layout, but the same band on y scans EVERY
    linear_x file while zorder still prunes ~7/8 of them, because
    Morton interleaving bounds BOTH dimensions' spans per file
    (avg_x_span/avg_y_span make the mechanism visible).

    Determinism: grid coordinates are integer floor-divisions of
    positive keys (identical in both engines), the Morton interleave
    is generated from one loop shared with the oracle text, and all
    stats are integer min/max/counts — nothing floating-point except
    the 2-decimal span averages.

    Scale (100 TB posture): the whole report is two hash
    aggregations (file stats, then layout rollup) over a single
    scan — no global sort is needed because fixed Z-cells ARE the
    clustering assignment; in a real write path the same zv column
    feeds repartitionByRange(zv) + sortWithinPartitions, Spark's
    sampling range partitioner, which scales to any cluster width.
    The min/max-per-file frame is the exact input a format manifest
    (parquet row-group stats, Delta file stats) stores, so
    files_scan_* is a faithful count of the IO a predicate pays
    under each layout."""
    from functools import reduce as _reduce

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    mx = li.agg(
        F.max("l_orderkey").alias("mo"), F.max("l_partkey").alias("mp")
    )
    xy = li.crossJoin(F.broadcast(mx)).select(
        F.expr("(l_orderkey * 1024) div (mo + 1)").alias("x"),
        F.expr("(l_partkey * 1024) div (mp + 1)").alias("y"),
    )
    zv = _reduce(
        lambda a, b: a + b,
        [
            F.shiftleft(
                F.shiftright(F.col(c), i).bitwiseAND(F.lit(1)), s
            )
            for i in range(10)
            for c, s in (("x", 2 * i), ("y", 2 * i + 1))
        ],
    )
    z = xy.select("x", "y", zv.alias("zv"))
    # Tag each row with BOTH layouts via a map-side explode instead of
    # a union — a union would re-evaluate the whole upstream per
    # branch (two extra fact scans; plan-pinned in
    # test_zorder_layout_single_fact_scan).
    tagged = z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright("zv", 14).alias("file_id"),
                ),
                F.struct(
                    F.lit("linear_x").alias("layout"),
                    F.shiftright("x", 4).alias("file_id"),
                ),
            )
        ).alias("t"),
        "x",
        "y",
    ).select("t.layout", "t.file_id", "x", "y")
    files = tagged.groupBy("layout", "file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )
    in_band = lambda lo, hi, mn, mx_: (  # noqa: E731
        (F.col(mx_) >= lo) & (F.col(mn) <= hi)
    )
    return files.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.round(F.avg(F.col("x_max") - F.col("x_min") + 1), 2).alias(
            "avg_x_span"
        ),
        F.round(F.avg(F.col("y_max") - F.col("y_min") + 1), 2).alias(
            "avg_y_span"
        ),
        F.sum(
            F.when(in_band(256, 271, "x_min", "x_max"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("files_scan_x_band"),
        F.sum(
            F.when(in_band(256, 271, "y_min", "y_max"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("files_scan_y_band"),
    )


_HIST_FRACTIONS = [i / 32 for i in range(33)]
_HIST_THRESHOLDS = [50000.0, 150000.0, 300000.0]


@query(
    "histogram_selectivity_report",
    oracle=f"""
    WITH s AS (
      SELECT quantile_cont(v, {_HIST_FRACTIONS}) AS q,
             count(*) AS total,
             SUM(CASE WHEN v <= 50000 THEN 1 ELSE 0 END) AS a1,
             SUM(CASE WHEN v <= 150000 THEN 1 ELSE 0 END) AS a2,
             SUM(CASE WHEN v <= 300000 THEN 1 ELSE 0 END) AS a3
      FROM (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders)
    ), b AS (
      SELECT list_transform(q,
               x -> CAST(floor(x * 100 + 0.5) AS BIGINT)) AS bounds,
             total, a1, a2, a3
      FROM s
    ), t AS (
      SELECT unnest([
        {{'x': CAST(5000000 AS BIGINT), 'actual': a1}},
        {{'x': CAST(15000000 AS BIGINT), 'actual': a2}},
        {{'x': CAST(30000000 AS BIGINT), 'actual': a3}}]) AS p,
        bounds, total
      FROM b
    ), est AS (
      SELECT CAST(p.x AS DOUBLE) / 100 AS threshold, p.actual AS actual,
             CAST(total AS DOUBLE) / 32
             * list_reduce(list_transform(range(1, 33), i ->
                 CASE WHEN bounds[i+1] <= bounds[i]
                      THEN CASE WHEN p.x >= bounds[i+1]
                                THEN CAST(1 AS DOUBLE)
                                ELSE CAST(0 AS DOUBLE) END
                      ELSE least(CAST(1 AS DOUBLE), greatest(
                             CAST(0 AS DOUBLE),
                             CAST(p.x - bounds[i] AS DOUBLE)
                             / CAST(bounds[i+1] - bounds[i] AS DOUBLE)))
                 END),
                 (acc, e) -> acc + e)
               AS raw_est
      FROM t
    )
    SELECT threshold,
           CAST(actual AS BIGINT) AS actual_rows,
           round(raw_est, 4) AS est_rows,
           round(100 * (raw_est - actual) / actual, 2) AS rel_err_pct
    FROM est
    """,
)
def histogram_selectivity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram statistics + CBO-style selectivity
    estimation, as a first-class report: the 32-bucket equi-depth
    histogram an ANALYZE TABLE would store for orders.o_totalprice,
    evaluated against three range predicates — estimated rows under
    the uniform-within-bucket assumption vs exact counts vs relative
    error (sub-1% here, the reason 32 buckets is a defensible
    default). Thin fixture binding over
    :func:`logicash_etl_spark.dq.profile.selectivity_report`, which
    owns the one-scan plan, the cross-engine quantization rules, and
    the exact-vs-sketch switch.

    ``exact=True`` here because the driver oracle hash-compares
    interpolated bucket bounds; the OPERATOR defaults to the
    percentile_approx sketch (mergeable, bounded memory), so the
    100 TB path needs no code edit — this call site is the opt-in,
    not the other way around."""
    from logicash_etl_spark.dq.profile import selectivity_report

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    return selectivity_report(o, "v", _HIST_THRESHOLDS)


# ---------------------------------------------------------------------------
# Hilbert-curve layout — the better-locality alternative to Z-order
# ---------------------------------------------------------------------------
def _hilbert_stage_sql(s: int, n: int) -> dict[str, str]:
    """One xy->d Hilbert iteration (the classic bit-interleave walk:
    quadrant digit base-4, then reflect+swap rotation into the child
    frame) as THREE simultaneous SQL expressions over columns
    (x, y, d) — generated text shared verbatim by the Spark stages
    and the DuckDB oracle CTEs (the Morton/BPE convention). The
    quadrant digit (3*rx) XOR ry is written arithmetically
    (3*rx + ry - 2*rx*ry — identical truth table on {0,1}) so no
    engine-specific XOR syntax is needed."""
    rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
    return {
        "d": f"d + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})",
        "x": (
            f"CASE WHEN {ry} = 1 THEN x "
            f"WHEN {rx} = 1 THEN {n - 1} - y ELSE y END"
        ),
        "y": (
            f"CASE WHEN {ry} = 1 THEN y "
            f"WHEN {rx} = 1 THEN {n - 1} - x ELSE x END"
        ),
    }


def _hilbert_stages() -> list[dict[str, str]]:
    """The 10 xy->d stages of an order-10 (1024 x 1024) Hilbert curve."""
    order = 10
    n = 1 << order
    return [
        _hilbert_stage_sql(1 << (order - 1 - i), n) for i in range(order)
    ]


def _hilbert_oracle_sql() -> str:
    ctes = [
        """
    WITH mx AS (
      SELECT max(l_orderkey) AS mo, max(l_partkey) AS mp FROM lineitem
    ), h0 AS (
      SELECT (l_orderkey * 1024) // (mo + 1) AS x,
             (l_partkey * 1024) // (mp + 1) AS y,
             (l_orderkey * 1024) // (mo + 1) AS x0,
             (l_partkey * 1024) // (mp + 1) AS y0,
             CAST(0 AS BIGINT) AS d
      FROM lineitem, mx
    )"""
    ]
    for i, st in enumerate(_hilbert_stages(), start=1):
        ctes.append(
            f""", h{i} AS (
      SELECT {st['x']} AS x, {st['y']} AS y, x0, y0, {st['d']} AS d
      FROM h{i - 1}
    )"""
        )
    return (
        "".join(ctes)
        + f""", tagged AS (
      SELECT 'hilbert' AS layout, (d * 48) // 1048576 AS file_id,
             x0 AS x, y0 AS y
      FROM h10
      UNION ALL
      SELECT 'zorder' AS layout,
             (({_morton_sql('x0', 'y0')}) * 48) // 1048576 AS file_id,
             x0 AS x, y0 AS y
      FROM h10
    ), files AS (
      SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
             min(x) AS x_min, max(x) AS x_max,
             min(y) AS y_min, max(y) AS y_max
      FROM tagged GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           round(avg(x_max - x_min + 1), 2) AS avg_x_span,
           round(avg(y_max - y_min + 1), 2) AS avg_y_span,
           round(avg((x_max - x_min + 1) * (y_max - y_min + 1)), 2)
             AS avg_box_area,
           CAST(SUM(CASE WHEN x_max >= 256 AND x_min <= 271
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS files_scan_x_band,
           CAST(SUM(CASE WHEN y_max >= 256 AND y_min <= 271
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS files_scan_y_band
    FROM files GROUP BY layout
    """
    )


@query("hilbert_layout_report", oracle=_hilbert_oracle_sql())
def hilbert_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve data layout vs Z-order, as the same manifest-
    style file-skipping report `zorder_file_skipping` produces — the
    layout-advisor's second candidate. The Hilbert curve visits every
    cell of the grid with CONSECUTIVE cells always grid-adjacent (no
    Morton 'seams' where the curve jumps across the grid), so equal
    curve segments have tighter bounding boxes: avg_box_area is the
    apples-to-apples locality metric, and the file count is
    DELIBERATELY 48 — at any power-of-4 granularity both curves'
    aligned segments are the SAME quadrant partition (measured:
    identical stats at 64 files, a genuinely useless comparison),
    while at 48 the segments straddle quadrant seams and Hilbert's
    continuity wins (~25% tighter boxes on a uniform grid). That
    alignment sensitivity is itself the operational lesson: Z-order
    matches Hilbert exactly when file sizes are quadrant-aligned,
    and only then.

    The xy->d walk is 10 reflect+swap iterations generated as shared
    SQL text (one generator feeds the 10 chained Spark selects AND
    the 10 oracle CTEs — the Morton/BPE convention), pure integer
    CASE/bit arithmetic: deterministic, codegen-friendly, identical
    in both engines. Unit tests pin the walk against an independent
    Python reference AND the defining curve property (bijective,
    consecutive-adjacent) on a full order-4 grid.

    Scale: identical posture to zorder_file_skipping — one fact scan,
    two hash aggregations, no global sort (fixed curve cells ARE the
    clustering assignment; a real write path feeds the same d column
    to repartitionByRange + sortWithinPartitions)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    mx = li.agg(
        F.max("l_orderkey").alias("mo"), F.max("l_partkey").alias("mp")
    )
    xy = li.crossJoin(F.broadcast(mx)).select(
        F.expr("(l_orderkey * 1024) div (mo + 1)").alias("x"),
        F.expr("(l_partkey * 1024) div (mp + 1)").alias("y"),
    )
    cur = xy.select(
        "x",
        "y",
        F.col("x").alias("x0"),
        F.col("y").alias("y0"),
        F.lit(0).cast("bigint").alias("d"),
    )
    for st in _hilbert_stages():
        cur = cur.select(
            F.expr(st["x"]).alias("x"),
            F.expr(st["y"]).alias("y"),
            "x0",
            "y0",
            F.expr(st["d"]).alias("d"),
        )
    zv = F.expr(_morton_sql("x0", "y0"))
    tagged = cur.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hilbert").alias("layout"),
                    F.expr("(d * 48) div 1048576").alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    ((zv * 48) / F.lit(1048576))
                    .cast("bigint")
                    .alias("file_id"),
                ),
            )
        ).alias("t"),
        F.col("x0").alias("x"),
        F.col("y0").alias("y"),
    ).select("t.layout", "t.file_id", "x", "y")
    files = tagged.groupBy("layout", "file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )
    in_band = lambda lo, hi, mn, mx_: (  # noqa: E731
        (F.col(mx_) >= lo) & (F.col(mn) <= hi)
    )
    return files.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.round(F.avg(F.col("x_max") - F.col("x_min") + 1), 2).alias(
            "avg_x_span"
        ),
        F.round(F.avg(F.col("y_max") - F.col("y_min") + 1), 2).alias(
            "avg_y_span"
        ),
        F.round(
            F.avg(
                (F.col("x_max") - F.col("x_min") + 1)
                * (F.col("y_max") - F.col("y_min") + 1)
            ),
            2,
        ).alias("avg_box_area"),
        F.sum(
            F.when(in_band(256, 271, "x_min", "x_max"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("files_scan_x_band"),
        F.sum(
            F.when(in_band(256, 271, "y_min", "y_max"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("files_scan_y_band"),
    )


def _hrw_assign_sql(hex2int: str, n_shards: int) -> str:
    """Rendezvous (highest-random-weight) assignment expression over
    shards 0..n_shards-1, generated once and rendered per engine:
    ``hex2int`` is the engine's hex-string-to-BIGINT primitive with an
    ``{arg}`` placeholder (Spark: conv(); DuckDB: '0x' || cast) — the
    ONLY token that differs between the two engines, so the weight
    arithmetic is shared by construction (the _morton_sql convention).

    Each shard's weight is the top 14 hex chars (56 bits) of
    md5(key || ':s:'); packing ``w * 16 + s`` keeps the argmax a
    single variadic greatest() with ties IMPOSSIBLE by construction
    (distinct s in the low bits), and % 16 unpacks the winner.
    56 + 4 bits stays inside int64."""
    terms = []
    for s in range(n_shards):
        w = hex2int.format(arg="md5(k || ':" + str(s) + ":')")
        terms.append(f"({w} * 16 + {s})")
    return f"(greatest({', '.join(terms)}) % 16)"


_HEX2INT_SPARK = "CAST(conv(substring({arg}, 1, 14), 16, 10) AS BIGINT)"
_HEX2INT_DUCK = "CAST(('0x' || substr({arg}, 1, 14)) AS BIGINT)"


@query(
    "rendezvous_shard_balance",
    oracle=f"""
    WITH assigned AS (
      SELECT {_hrw_assign_sql(_HEX2INT_DUCK, 8)} AS a8,
             {_hrw_assign_sql(_HEX2INT_DUCK, 9)} AS a9
      FROM (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents)
    ),
    cell AS (
      SELECT a8, a9, CAST(count(*) AS BIGINT) AS n
      FROM assigned GROUP BY a8, a9
    ),
    n8 AS (SELECT a8 AS shard, SUM(n) AS n_docs_8 FROM cell GROUP BY a8),
    n9 AS (
      SELECT a9 AS shard, SUM(n) AS n_docs_9,
             SUM(CASE WHEN a8 <> a9 THEN n ELSE 0 END) AS moved_in
      FROM cell GROUP BY a9
    )
    SELECT CAST(COALESCE(n9.shard, n8.shard) AS BIGINT) AS shard,
           CAST(COALESCE(n8.n_docs_8, 0) AS BIGINT) AS n_docs_8,
           CAST(COALESCE(n9.n_docs_9, 0) AS BIGINT) AS n_docs_9,
           CAST(COALESCE(n9.moved_in, 0) AS BIGINT) AS moved_in
    FROM n9 FULL OUTER JOIN n8 ON n8.shard = n9.shard
    """,
)
def rendezvous_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard assignment audit (highest random weight,
    Thaler & Ravishankar 1998) — the placement scheme a distributed
    serving/storage tier uses so that RESIZING moves the minimum: for
    each document, every shard gets weight md5(key||shard) and the
    max wins. Assigning under 8 shards and 9 shards side by side, the
    HRW contract is measurable: shards 0..7 keep their weights, so a
    document moves ONLY if new shard 8 outbids its old winner —
    moved_in must be 0 for shards 0..7 and E[moved] = 1/9 of the
    corpus, vs consistent-modulo where ~8/9 of keys reshuffle. The
    per-shard counts are the balance half of the audit (HRW load is
    multinomial-uniform; skew here means a bad key, not a bad hash).

    Scale: assignment is PURE MAP-SIDE arithmetic — a variadic
    greatest() over 9 hash expressions per row, no explode (a
    docs x shards explode would 9x the shuffle for nothing); the only
    shuffle is the <=81-row (a8, a9) cell rollup, from which both
    per-shard-count frames derive without touching the corpus again.
    Ties are impossible by construction (w*16+s packs the shard id
    into the low bits), so the argmax is deterministic on any engine.

    Determinism: both engines evaluate the SAME generated weight
    expression (shared loop, per-engine hex-to-int primitive only —
    the _morton_sql convention); 56-bit weights, exact BIGINT
    compares, no doubles anywhere."""
    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("k")
    )
    assigned = docs.select(
        F.expr(_hrw_assign_sql(_HEX2INT_SPARK, 8)).alias("a8"),
        F.expr(_hrw_assign_sql(_HEX2INT_SPARK, 9)).alias("a9"),
    )
    # persisted: tests/test_plan_contracts.py::
    # test_rendezvous_is_map_side_no_explode pins one documents scan
    # (cell feeds both per-shard rollups)
    cell = scoped_persist(
        assigned.groupBy("a8", "a9").agg(
            F.count("*").cast("bigint").alias("n")
        )
    )
    n8 = cell.groupBy(F.col("a8").alias("shard")).agg(
        F.sum("n").alias("n_docs_8")
    )
    n9 = cell.groupBy(F.col("a9").alias("shard")).agg(
        F.sum("n").alias("n_docs_9"),
        F.sum(F.when(F.col("a8") != F.col("a9"), F.col("n")).otherwise(0)).alias(
            "moved_in"
        ),
    )
    # FULL OUTER, not left: a small shard can be left EMPTY by the
    # resize (its only docs outbid by shard 8) — keyed on post-resize
    # shards alone its n_docs_8 mass would silently vanish (caught by
    # the conservation property test).
    return n9.join(n8, "shard", "full").select(
        F.col("shard").cast("bigint").alias("shard"),
        F.coalesce("n_docs_8", F.lit(0)).cast("bigint").alias("n_docs_8"),
        F.coalesce("n_docs_9", F.lit(0)).cast("bigint").alias("n_docs_9"),
        F.coalesce("moved_in", F.lit(0)).cast("bigint").alias("moved_in"),
    )


@query(
    "compaction_plan_report",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY source
    ),
    est AS (
      SELECT source, n_docs, total_chars,
             CAST(total_chars + 64 * n_docs AS BIGINT) AS est_bytes
      FROM s
    )
    SELECT source, n_docs, total_chars, est_bytes,
           CAST((est_bytes + 134217727) // 134217728 AS BIGINT)
             AS files_at_128mib,
           CAST(est_bytes
                // ((est_bytes + 134217727) // 134217728)
                AS BIGINT) AS avg_file_bytes,
           CAST(n_docs
                // ((est_bytes + 134217727) // 134217728)
                AS BIGINT) AS rows_per_file,
           est_bytes < 134217728 AS single_file_source
    FROM est
    """,
)
def compaction_plan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction / file-sizing advisor — the ANALYZE-style report
    behind the small-files problem, THE recurring lakehouse ops
    issue at scale: for each source, estimate the serialized footprint
    (text bytes + a 64 B/row metadata overhead proxy) and derive the
    file count that hits the 128 MiB scan-efficiency target, the
    resulting average file size and rows-per-file (the
    maxRecordsPerFile setting a writer would use), and whether the
    source belongs in a single file. Pairs with
    `zorder_file_skipping` / `hilbert_layout_report` (which decide
    HOW rows are ordered within files) by deciding HOW MANY files.

    Scale: one scan, one map-side-combinable aggregate per source —
    the report's cost is independent of how badly fragmented the
    input currently is. All sizing arithmetic is exact integer
    ceil-division ((b + T-1) div T), so both engines emit identical
    plans; the 1-byte/char estimate is the documented proxy (swap in
    an Parquet-encoded sample ratio for production use — same plan,
    one constant)."""
    docs = read_table(spark, sf_dir, "documents")
    target = 134217728
    s = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    est = s.withColumn(
        "est_bytes",
        (F.col("total_chars") + 64 * F.col("n_docs")).cast("bigint"),
    )
    files = F.expr(f"(est_bytes + {target - 1}) div {target}")
    return est.select(
        "source",
        "n_docs",
        "total_chars",
        "est_bytes",
        files.cast("bigint").alias("files_at_128mib"),
        F.expr(
            f"est_bytes div ((est_bytes + {target - 1}) div {target})"
        ).cast("bigint").alias("avg_file_bytes"),
        F.expr(
            f"n_docs div ((est_bytes + {target - 1}) div {target})"
        ).cast("bigint").alias("rows_per_file"),
        (F.col("est_bytes") < target).alias("single_file_source"),
    )


@query(
    "event_path_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path,
             count(*) AS n
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY path
    )
    SELECT path, CAST(n AS BIGINT) AS n_paths
    FROM tri
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step user journeys — the path-mining extension of
    `event_transition_matrix` (which sees only one step): per user,
    every consecutive (t, t+1, t+2) event-type window, counted
    corpus-wide. The classic funnel-discovery shape: the heavy
    trigrams ARE the de-facto flows users actually take.

    Scale: the lead() windows partition per user (millions of small
    partitions, no global sort); trigram counting is a hash aggregate
    over a |types|^3-bounded key space, map-side combinable; the
    top-20 is TakeOrderedAndProject (per-partition heads, no full
    sort). Ordering pinned by (ts, event_id) — unique tiebreak — and
    the top-k by (count desc, path)."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    tri = seq.groupBy(
        F.concat_ws(">", "event_type", "t2", "t3").alias("path")
    ).agg(F.count("*").cast("bigint").alias("n_paths"))
    return tri.orderBy(F.col("n_paths").desc(), "path").limit(20)
