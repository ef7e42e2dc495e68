"""Partition-layout helpers.

A parquet scan's task count is bounded by file splits (row groups /
``maxPartitionBytes`` ranges). CPU-heavy operators downstream of a
narrow projection — tokenization, per-row hashing, Arrow/pandas UDF
kernels — inherit that layout, so a corpus that happens to live in few
splits runs nearly single-threaded no matter how many cores exist.

``scale_out`` repartitions ONLY when the current layout undershoots
the cluster's parallelism. On a real deployment (100 TB over many
files) scans already carry >= cores splits and this is a no-op; the
shuffle it inserts in the undershoot case moves just the narrow
projection (ids + the column being processed), one bounded pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def scale_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's default parallelism
    iff the DataFrame currently has fewer partitions.

    Call on the *narrow* projection feeding CPU-heavy per-row work,
    before any ``persist()`` (a cache pins its input layout).
    """
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` in global ``order_col``
    order, WITHOUT a global single-partition window — the classic
    two-pass distributed scan:

      1. rows land in 32 deterministic, order-preserving
         ranges of ``order_col`` (fixed arithmetic split of
         [min, max] — NOT RangePartitioner, whose sampled bounds
         change run to run);
      2. a per-bucket window computes the local exclusive cumsum
         (each bucket's rows stay on one reducer — bounded, parallel);
      3. bucket totals (32 rows) come to the driver, their
         running sum re-enters as a broadcast offset join.

    At 100 TB the only full-data movement is the one shuffle into
    range buckets; the driver handles 32 numbers. The result
    is bitwise-deterministic for integer/decimal values (ties in
    ``order_col`` must not exist — pass a unique key)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # the offset/output type follows SUM(value_col)'s result type —
    # bigint for integrals, double for floats, widened decimal for
    # decimals — so non-integer values neither fail nor truncate
    sum_type = df.select(F.sum(value_col)).schema[0].dataType
    if isinstance(sum_type, T.NullType):  # value_col is untyped-null
        sum_type = T.LongType()

    lo, hi, n_total, n_keyed = df.agg(
        F.min(order_col).cast("double"),
        F.max(order_col).cast("double"),
        F.count(F.lit(1)),
        F.count(order_col),
    ).first()
    if n_total == 0:
        # empty input: the prefix of nothing is an empty frame
        return df.withColumn(out_col, F.lit(0).cast(sum_type))
    if n_keyed < n_total:
        # a null key has no position in the global order: bucketing
        # would drop those rows on the offset join while their values
        # leaked into the bucket totals (silent wrong sums + missing
        # rows). The operator's contract is a unique non-null key —
        # enforce it loudly and CONSISTENTLY (one null and all-null
        # are the same contract violation).
        raise ValueError(
            f"global_prefix_sum: order_col {order_col!r} has "
            f"{n_total - n_keyed} null(s) among {n_total} rows — the "
            "order key must be non-null (filter or fill before the scan)"
        )
    buckets = 32
    span = max((hi - lo) / buckets, 1e-9)
    b = F.least(
        F.lit(buckets - 1),
        F.floor((F.col(order_col).cast("double") - F.lit(lo)) / F.lit(span)),
    ).cast("int")
    # no explicit repartition: the window's own hash-partitioning on
    # __b is the single full-data shuffle
    bucketed = df.withColumn("__b", b)
    w = Window.partitionBy("__b").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = bucketed.withColumn(
        "__local", F.coalesce(F.sum(value_col).over(w), F.lit(0))
    )
    totals = (
        bucketed.groupBy("__b")
        .agg(F.sum(value_col).alias("__t"))
        .orderBy("__b")
        .collect()
    )
    import decimal

    if isinstance(sum_type, (T.DoubleType, T.FloatType)):
        zero = 0.0
    elif isinstance(sum_type, T.DecimalType):
        zero = decimal.Decimal(0)
    else:
        zero = 0
    offsets, run = {}, zero
    for r in totals:
        offsets[r["__b"]] = run
        run += r["__t"] if r["__t"] is not None else zero
    spark = df.sparkSession
    off_schema = T.StructType(
        [T.StructField("__b", T.IntegerType()), T.StructField("__off", sum_type)]
    )
    off = F.broadcast(
        spark.createDataFrame([(k, v) for k, v in offsets.items()], off_schema)
    )
    return (
        local.join(off, on="__b")
        .withColumn(out_col, (F.col("__local") + F.col("__off")).cast(sum_type))
        .drop("__b", "__local", "__off")
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_col: str,
    bucket_key: str,
    order_cols: list,
    value_col: str,
    out_col: str = "prefix_sum",
    buckets: int = 32,
    inclusive: bool = False,
) -> DataFrame:
    """Per-group prefix sum of ``value_col`` WITHOUT a per-group
    single-reducer window — the grouped form of ``global_prefix_sum``.

    A plain ``Window.partitionBy(group).orderBy(...)`` puts each
    group's ENTIRE row set on one reducer; with a dominant group (the
    realistic corpus case — web crawl is always the head source) that
    is a single-task sort of most of the data. This operator splits
    every group into ``buckets`` deterministic ranges of
    ``bucket_key`` (arithmetic split of the group's [min, max] — not
    sampled bounds), windows within (group, bucket) — bounded,
    parallel — and chains the bucket totals with a second window over
    the ``buckets``-row-per-group totals frame. Fully distributed:
    no driver collect anywhere; the totals frame is
    O(groups x buckets) rows.

    ``bucket_key``: numeric column, ascending-monotone w.r.t. the
    intended order (ties allowed — equal keys stay in one bucket).
    ``order_cols``: the total intra-group order (must refine
    ``bucket_key``; pass e.g. ``[F.col("n").desc(), F.col("id")]``
    with ``bucket_key = -n``). Null bucket keys violate the contract
    and raise executor-side. ``inclusive=True`` yields the running
    total INCLUDING the current row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    sum_type = df.select(F.sum(value_col)).schema[0].dataType
    if isinstance(sum_type, T.NullType):
        sum_type = T.LongType()
    rng = df.groupBy(group_col).agg(
        F.min(bucket_key).cast("double").alias("__gps_lo"),
        F.max(bucket_key).cast("double").alias("__gps_hi"),
    )
    key = (
        F.when(
            F.col(bucket_key).isNull(),
            F.raise_error(
                F.lit(
                    f"grouped_prefix_sum: bucket_key {bucket_key!r} must "
                    "be non-null (filter or fill before the scan)"
                )
            ).cast("double"),
        )
        .otherwise(F.col(bucket_key).cast("double"))
    )
    span = F.greatest(
        (F.col("__gps_hi") - F.col("__gps_lo")) / buckets, F.lit(1e-9)
    )
    # no forced broadcast: rng/offs are O(groups) / O(groups x buckets)
    # rows — tiny for the low-cardinality callers (segments, event
    # types, sources), but the operator is general and a per-user
    # group_col would make a forced hint a driver OOM. AQE converts
    # these joins to broadcast at runtime whenever the actual size
    # fits (session threshold 64m), which is the correct policy at
    # every cardinality.
    bucketed = df.join(rng, on=group_col).withColumn(
        "__gps_b",
        F.least(
            F.lit(buckets - 1),
            F.floor((key - F.col("__gps_lo")) / span),
        ).cast("int"),
    ).drop("__gps_lo", "__gps_hi")
    w_local = (
        Window.partitionBy(group_col, "__gps_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = bucketed.withColumn(
        "__gps_local", F.coalesce(F.sum(value_col).over(w_local), F.lit(0))
    )
    # exclusive running total of bucket sums: each window partition is
    # <= buckets rows, so this second window is trivially bounded
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("__gps_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        bucketed.groupBy(group_col, "__gps_b")
        .agg(F.sum(value_col).alias("__gps_t"))
        .withColumn("__gps_off", F.coalesce(F.sum("__gps_t").over(w_off), F.lit(0)))
        .drop("__gps_t")
    )
    return (
        local.join(offs, on=[group_col, "__gps_b"])
        .withColumn(out_col, (F.col("__gps_local") + F.col("__gps_off")).cast(sum_type))
        .drop("__gps_b", "__gps_local", "__gps_off")
    )


def grouped_prefix_peak(
    df: DataFrame,
    group_col: str,
    bucket_key: str,
    order_cols: list,
    value_col: str,
    buckets: int = 32,
) -> DataFrame:
    """Per-group MAX of the inclusive running sum of ``value_col``, as
    ``__peak`` — one row per group — without materializing the prefix
    series.

    Algebraically identical to
    ``grouped_prefix_sum(..., inclusive=True)`` followed by
    ``groupBy(group).agg(max(prefix_sum))`` (pinned in
    tests/test_round14_opts.py), but where the general operator must
    ATTACH the bucket offset to every row (a rows-sized join) and the
    caller then aggregates the rows-sized prefix series back down,
    the peak decomposes per bucket:

        peak(group) = max over buckets of
            (running sum of PRIOR buckets' totals
             + max inclusive local prefix within the bucket)

    so after the one (group, bucket) window pass the reduction is a
    map-side aggregate in the window's OWN partitioning (no second
    exchange over the rows), and everything downstream is
    O(groups x buckets) rows. Two rows-sized passes of the general
    form — the offset join and the final groupBy — disappear.

    Same contract as ``grouped_prefix_sum``: numeric non-null
    ``bucket_key`` monotone w.r.t. ``order_cols``; deterministic
    arithmetic bucket split; groups with no rows are absent."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    sum_type = df.select(F.sum(value_col)).schema[0].dataType
    if isinstance(sum_type, T.NullType):
        sum_type = T.LongType()
    rng = df.groupBy(group_col).agg(
        F.min(bucket_key).cast("double").alias("__gpp_lo"),
        F.max(bucket_key).cast("double").alias("__gpp_hi"),
    )
    key = (
        F.when(
            F.col(bucket_key).isNull(),
            F.raise_error(
                F.lit(
                    f"grouped_prefix_peak: bucket_key {bucket_key!r} must "
                    "be non-null (filter or fill before the scan)"
                )
            ).cast("double"),
        )
        .otherwise(F.col(bucket_key).cast("double"))
    )
    span = F.greatest(
        (F.col("__gpp_hi") - F.col("__gpp_lo")) / buckets, F.lit(1e-9)
    )
    bucketed = df.join(rng, on=group_col).withColumn(
        "__gpp_b",
        F.least(
            F.lit(buckets - 1),
            F.floor((key - F.col("__gpp_lo")) / span),
        ).cast("int"),
    ).drop("__gpp_lo", "__gpp_hi")
    w_local = (
        Window.partitionBy(group_col, "__gpp_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # coalesce matches grouped_prefix_sum's local term exactly: an
    # all-NULL-value bucket contributes its offset (local 0), not NULL
    local = bucketed.withColumn(
        "__gpp_local", F.coalesce(F.sum(value_col).over(w_local), F.lit(0))
    )
    # max local prefix AND bucket total in ONE aggregate, in the
    # window's own (group, bucket) hash partitioning — no exchange
    per_bucket = local.groupBy(group_col, "__gpp_b").agg(
        F.max("__gpp_local").alias("__gpp_mx"),
        F.sum(value_col).alias("__gpp_t"),
    )
    # exclusive running total of PRIOR buckets: <= buckets rows per
    # group, trivially bounded
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("__gpp_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_bucket.withColumn(
            "__gpp_off", F.coalesce(F.sum("__gpp_t").over(w_off), F.lit(0))
        )
        .groupBy(group_col)
        .agg(
            F.max(F.col("__gpp_mx") + F.col("__gpp_off"))
            .cast(sum_type)
            .alias("__peak")
        )
    )


def grouped_bottom_k(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    salt_buckets: int = 32,
    tiebreak_cols: list | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """Bottom-k rows per group WITHOUT a per-group single-reducer
    window — the per-group analog of TakeOrderedAndProject, built the
    two-phase way: rows first split into ``salt_buckets``
    deterministic sub-partitions (hash of the order value — content,
    not layout, so the result is partitioning-invariant), a window
    keeps the bottom-k of each (group, salt) slice (each slice is
    ~1/salt_buckets of the group — bounded, parallel), then a second
    window over the surviving <= k * salt_buckets rows per group
    picks the global bottom-k. A plain Window.partitionBy(group)
    would sort each group's ENTIRE row set on one reducer — the exact
    skew trap when one group dominates (cf. grouped_prefix_sum).

    Returns the input columns of the winning rows; with ``rank_col``
    set, also their 1-based per-group rank (the second phase computes
    it anyway — callers wanting ranks should take it here instead of
    paying a third window). Equal ``order_col`` values hash to the
    SAME salt slice, so passing ``tiebreak_cols`` (a list of
    Columns/names refining the order) makes ties fully deterministic;
    without it, ties between equal values break arbitrarily."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ties = list(tiebreak_cols or [])
    salted = df.withColumn(
        "__bk_salt", F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(group_col, "__bk_salt").orderBy(order_col, *ties)
    w2 = Window.partitionBy(group_col).orderBy(order_col, *ties)
    out = (
        salted.withColumn("__bk_r1", F.row_number().over(w1))
        .filter(F.col("__bk_r1") <= k)
        .withColumn("__bk_r2", F.row_number().over(w2))
        .filter(F.col("__bk_r2") <= k)
        .drop("__bk_salt", "__bk_r1")
    )
    if rank_col is not None:
        return out.withColumnRenamed("__bk_r2", rank_col)
    return out.drop("__bk_r2")


SKEW_REDUCERS = 32
"""Simulated reducers of ``skew_profile``; the ``join_skew_profile``
oracle (queries/analytics.py) reads the same constant."""


def skew_profile(df: DataFrame, key: str) -> DataFrame:
    """One-row shuffle-skew diagnostic for ``key`` as a join/groupBy
    key — the "measure" half of the diagnose-then-salt workflow
    (operators/joins.py:skew_salt_join is the "fix" half): per-key
    frequencies, the share held by the heaviest keys, and the
    simulated per-reducer loads under hash partitioning into
    ``SKEW_REDUCERS`` tasks, whose max/avg ratio is the straggler
    factor a shuffle on this key would pay.

    Determinism: partition assignment uses an md5-derived bucket
    (portable to the SQL oracle) rather than Spark's internal
    murmur, so both engines simulate the identical placement; every
    statistic is a count or an exact-integer ratio rounded at the
    end.

    Scale: one groupBy(key) is the only data-sized shuffle (the
    per-key count frame is then tiny-aggregated twice); top-k uses
    TakeOrderedAndProject, never a global sort. avg load divides by
    ALL reducers, so empty reducers count toward the skew ratio
    exactly as idle tasks would."""
    from pyspark.sql import functions as F

    cnts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    b = cnts.select(
        F.col(key).cast("string").alias("k"),
        "cnt",
        (
            F.conv(
                F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % SKEW_REDUCERS
        ).alias("bucket"),
    )
    tot = b.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("top1_rows"),
    )
    top10 = (
        b.orderBy(F.desc("cnt"), "k")
        .limit(10)
        .agg(F.sum("cnt").cast("bigint").alias("top10_rows"))
    )
    loads = b.groupBy("bucket").agg(F.sum("cnt").alias("load"))
    lstats = loads.agg(F.max("load").cast("bigint").alias("max_part_load"))
    return (
        tot.crossJoin(F.broadcast(top10))
        .crossJoin(F.broadcast(lstats))
        .select(
            F.lit(key).alias("key_name"),
            "n_keys",
            "total_rows",
            F.round(
                100.0 * F.col("top1_rows") / F.col("total_rows"), 4
            ).alias("top1_pct"),
            F.round(
                100.0 * F.col("top10_rows") / F.col("total_rows"), 4
            ).alias("top10_pct"),
            "max_part_load",
            F.round(
                F.col("max_part_load")
                / (F.col("total_rows") / F.lit(float(SKEW_REDUCERS))),
                3,
            ).alias("skew_ratio"),
        )
    )
