"""Mergeable-aggregate surface — the two patterns that make 100 TB
aggregation tractable:

1. **Mergeable sketches** (`hll_partial_merge_counts`): per-group HLL
   sketches built independently (per partition / per day / per
   source) and UNIONED into exact-shaped global answers without
   re-reading the data. The oracle trick from `approx_sketches`:
   the query emits bound-check booleans (estimate within a tolerance
   of the exact value computed in the same pass), so DuckDB — which
   has no DataSketches — still hash-checks the result exactly.

2. **Re-aggregation from partials** (`weekly_rollup_from_daily`):
   daily partial (sum, count, min, max) rows merged into weekly
   answers — sum-of-sums, min-of-mins — with avg reconstructed as
   merged-sum / merged-count. The incremental-rollup contract: the
   merged result must EQUAL the direct aggregate, which is exactly
   what the oracle computes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from logicash_etl_spark.functions.money import money
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table


@query(
    "hll_partial_merge_counts",
    oracle="""
    WITH per AS (
      SELECT source,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS exact_distinct
      FROM documents GROUP BY source
    )
    SELECT source, exact_distinct, TRUE AS estimate_ok FROM per
    UNION ALL
    SELECT '__ALL__' AS source,
           (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) FROM documents)
             AS exact_distinct,
           TRUE AS estimate_ok
    """,
)
def hll_partial_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-sketch merge: build one HLL sketch per source, then
    union the PARTIAL SKETCHES (hll_union_agg — never the raw rows)
    into the corpus-wide distinct count. This is the pattern that
    collapses a 100 TB count-distinct into kilobytes of mergeable
    state per partition: sketches are built map-side, merged in a
    #sources-row reduce, and the global row costs one more merge of
    the same partials. `estimate_ok` pins estimate-vs-exact within
    5% in-query (HLL lgConfigK=12 rsd ~1.6%), so the driver's hash
    check covers the sketch path without a DuckDB sketch twin.

    Scan discipline: the (source, fingerprint) frame is persisted —
    it is the smallest frame every consumer (per-source sketch rows,
    the partial merge, the corpus-wide exact check) can be derived
    from, and it is 100-1000x smaller than the text corpus it
    replaces re-scanning; one fact scan total instead of three."""
    from logicash_etl_spark.operators.caching import scoped_persist

    docs = scoped_persist(
        read_table(spark, sf_dir, "documents").select(
            "source", F.md5("text").alias("fp")
        )
    )
    per = scoped_persist(
        docs.groupBy("source").agg(
            F.hll_sketch_agg("fp").alias("sk"),
            F.countDistinct("fp").alias("exact_distinct"),
        )
    )
    per_rows = per.select(
        "source",
        "exact_distinct",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("estimate_ok"),
    )
    merged = per.agg(
        F.hll_union_agg("sk").alias("sk"),
        F.sum("exact_distinct").alias("__sum_parts"),
    )
    # exact global distinct: fingerprints may repeat ACROSS sources,
    # so the check needs the true corpus-wide count, not the sum
    global_exact = docs.agg(F.countDistinct("fp").alias("exact_distinct"))
    all_row = merged.crossJoin(F.broadcast(global_exact)).select(
        F.lit("__ALL__").alias("source"),
        "exact_distinct",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("estimate_ok"),
    )
    return per_rows.unionAll(all_row)


@query(
    "weekly_rollup_from_daily",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(count(*) AS BIGINT) AS n_events,
           min(value) AS min_value,
           max(value) AS max_value,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM events
    GROUP BY week, event_type
    """,
)
def weekly_rollup_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-rollup merge: DAILY partials (decimal sum, count,
    min, max per (day, event_type)) re-aggregated into WEEKLY rows —
    sum-of-sums, sum-of-counts, min-of-mins, max-of-maxs, and avg
    reconstructed from merged sum/count. The oracle aggregates the
    raw events directly, so the hash check proves merge(partials) ==
    direct — the invariant that lets a 100 TB pipeline maintain
    rollups by touching only each day's slice once (the hypertable /
    materialized-rollup pattern). Decimal partial sums make the merge
    order-independent; a float sum would not survive the regrouping."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("p_sum"),
        F.count("*").alias("p_cnt"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
    )
    return (
        daily.groupBy(
            F.date_trunc("week", "day").cast("date").alias("week"), "event_type"
        )
        .agg(
            F.sum("p_sum").cast("double").alias("total_value"),
            F.sum("p_cnt").alias("n_events"),
            F.min("p_min").alias("min_value"),
            F.max("p_max").alias("max_value"),
            F.round(
                F.sum("p_sum").cast("double") / F.sum("p_cnt"), 6
            ).alias("avg_value"),
        )
    )


# Fixed-bin histogram sketch: 32 bins over [0, 512). The bin width is
# a power of two, so (value - 0) / 16.0 is EXACT in IEEE doubles and
# floor() of it is bit-identical between Spark and DuckDB — bucket
# assignment cannot drift at bin edges.
_QS_BINS = 32
_QS_LO = 0.0
_QS_W = 16.0


@query(
    "quantile_sketch_merge",
    oracle="""
    WITH h AS (
      SELECT CAST(least(greatest(floor((value - 0.0) / 16.0), 0), 31)
                  AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL
      GROUP BY bucket
    ), c AS (
      SELECT bucket, n,
             CAST(SUM(n) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_n,
             CAST(SUM(n) OVER () AS BIGINT) AS total
      FROM h
    )
    SELECT bucket, n, cum_n,
           (cum_n - n < 0.5 * total AND 0.5 * total <= cum_n)
             AS contains_p50
    FROM c
    """,
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: per-event_type equi-width histogram
    PARTIALS (32 fixed bins) merged by plain vector addition into the
    global histogram, then cumulated into a quantile-lookup structure
    (``contains_p50`` marks the bin holding the median). The oracle
    computes the histogram DIRECTLY from the raw rows, so the hash
    check proves merge(partials) == direct — the invariant that lets
    a 100 TB pipeline keep per-partition / per-day histogram partials
    (32 longs each, kilobytes) and answer any quantile by one merge,
    never re-reading data. Same mergeable-state shape Spark uses
    inside percentile_approx; fixed power-of-two bins make the bucket
    function bit-identical across engines. The global cumsum window
    runs over <=32 rows — a driver-scale frame, not a data-scale
    one."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.least(
        F.greatest(F.floor((F.col("value") - _QS_LO) / _QS_W), F.lit(0)),
        F.lit(_QS_BINS - 1),
    ).alias("bucket")
    # stage 1: mergeable partials, one histogram per event_type
    partials = ev.select("event_type", bucket).groupBy(
        "event_type", "bucket"
    ).agg(F.count("*").alias("pn"))
    # stage 2: merge partials (vector add) into the global histogram
    merged = partials.groupBy("bucket").agg(F.sum("pn").alias("n"))
    w_cum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    return merged.select(
        "bucket",
        "n",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n").over(w_all).alias("total"),
    ).select(
        "bucket",
        "n",
        "cum_n",
        (
            (F.col("cum_n") - F.col("n") < 0.5 * F.col("total"))
            & (0.5 * F.col("total") <= F.col("cum_n"))
        ).alias("contains_p50"),
    )


@query(
    "cms_heavy_hitters",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ), wc_src AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY source, word
    ), h_src AS (
      SELECT source, word, n, i,
             CAST(('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || word),
                                  1, 8)) AS BIGINT) % 512 AS bucket
      FROM wc_src, (VALUES (0), (1), (2)) t(i)
    ), cms_partial AS (
      SELECT source, i, bucket, CAST(SUM(n) AS BIGINT) AS c
      FROM h_src GROUP BY source, i, bucket
    ), cms AS (
      SELECT i, bucket, CAST(SUM(c) AS BIGINT) AS c
      FROM cms_partial GROUP BY i, bucket
    ), wc AS (
      SELECT word, CAST(SUM(n) AS BIGINT) AS n FROM wc_src GROUP BY word
    ), top AS (
      SELECT word, n FROM wc ORDER BY n DESC, word LIMIT 20
    ), th AS (
      SELECT t.word, t.n, i,
             CAST(('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || t.word),
                                  1, 8)) AS BIGINT) % 512 AS bucket
      FROM top t, (VALUES (0), (1), (2)) t2(i)
    )
    SELECT th.word, th.n, CAST(MIN(c.c) AS BIGINT) AS est,
           CAST(MIN(c.c) - th.n AS BIGINT) AS overcount
    FROM th JOIN cms c ON c.i = th.i AND c.bucket = th.bucket
    GROUP BY th.word, th.n
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters, built MERGEABLY: per-source CMS
    partials (3 hash rows x 512 buckets of longs — a few KB each)
    merged by plain vector addition into the corpus sketch, then the
    top-20 words' estimates read off it (est = min over rows of the
    word's bucket counter). CMS admits only overcounting, and because
    the md5 double-hash construction is engine-portable the estimate
    — and therefore ``overcount`` — is DETERMINISTIC: the DuckDB
    oracle rebuilds the identical sketch and the driver hash-pins the
    sketch path exactly, not just within bounds. At 100 TB this is
    the frequency analog of the HLL merge above: per-partition
    sketches are map-side state of constant size, merged in one
    reduce of #sources x 1536 rows; the raw token stream is touched
    once (word counts partial-aggregate before sketching, so the
    sketch build shuffles |vocab| rows, never |tokens|)."""
    from logicash_etl_spark.operators.text import tokens

    d_rows, w_buckets = 3, 512
    docs = read_table(spark, sf_dir, "documents")
    wc_src = (
        docs.select(
            "source", F.explode(tokens(F.lower(F.col("text")))).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count("*").alias("n"))
    )

    def _bucketed(df: DataFrame) -> DataFrame:
        h = F.md5(
            F.concat(F.lit("cms"), F.col("i").cast("string"), F.col("word"))
        )
        return df.select(
            df["*"],
            F.explode(F.array(*[F.lit(i) for i in range(d_rows)])).alias("i"),
        ).withColumn(
            "bucket",
            F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"),
                F.lit(w_buckets),
            ),
        )

    # stage 1: per-source partial sketches; stage 2: merge (vector add)
    cms_partial = _bucketed(wc_src).groupBy("source", "i", "bucket").agg(
        F.sum("n").alias("c")
    )
    cms = cms_partial.groupBy("i", "bucket").agg(F.sum("c").alias("c"))
    wc = wc_src.groupBy("word").agg(F.sum("n").alias("n"))
    top = wc.orderBy(F.desc("n"), F.col("word").asc()).limit(20)
    th = _bucketed(top)
    return (
        th.join(F.broadcast(cms), on=["i", "bucket"])
        .groupBy("word", "n")
        .agg(F.min("c").alias("est"))
        .select(
            "word", "n", "est", (F.col("est") - F.col("n")).alias("overcount")
        )
    )


# KMV (k-minimum-values / theta) sketch plumbing: the bottom-k
# DISTINCT values of a uniform content hash. 12 md5 hex chars = 48
# bits -> exact in a double, engine-portable, collision-safe at
# corpus scale (2^-48 per pair).
_KMV_DENOM = float(1 << 48)


def _kmv_u(col):
    h = F.md5(F.concat(F.lit("kmv"), col.cast("string")))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("double") / F.lit(
        _KMV_DENOM
    )


def kmv_sketch(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """Bottom-k distinct hash draws of ``value_col`` — a KMV/theta
    distinct-count sketch as a k-row DataFrame of ``u`` in [0,1).

    Plan, honestly: the ``distinct()`` is one hash-aggregate shuffle
    whose map side pre-dedups each partition (so the wire carries
    per-partition DISTINCT keys — for ~unique keys like fingerprints
    that is the data, for heavy-repeat keys it collapses first);
    the ``orderBy(u).limit(k)`` then compiles to
    ``TakeOrderedAndProject`` (per-partition bottom-k heaps + one
    k-row merge — never a global sort), which moves only k doubles
    per partition. Sketches MERGE exactly: bottom-k of the union of
    per-partition bottom-k samples IS the global bottom-k (each
    partial retains its group's share of the global answer), the
    property ``kmv_partial_merge`` hash-proves — which is also the
    escape hatch when the distinct shuffle is too big: sketch
    partitions/groups independently and merge k-row samples."""
    u = _kmv_u(F.col(value_col)).alias("u")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(u)
        .distinct()
        .orderBy("u")
        .limit(k)
    )


@query(
    "kmv_set_overlap",
    oracle="""
    WITH a AS (
      SELECT DISTINCT l_orderkey AS v FROM lineitem WHERE l_returnflag = 'R'
    ), b AS (
      SELECT DISTINCT l_orderkey AS v FROM lineitem WHERE l_quantity >= 40
    ), ka AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('kmv' || CAST(v AS VARCHAR)),
                            1, 12)) AS BIGINT) / 281474976710656.0 AS u
      FROM a ORDER BY u LIMIT 256
    ), kb AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('kmv' || CAST(v AS VARCHAR)),
                            1, 12)) AS BIGINT) / 281474976710656.0 AS u
      FROM b ORDER BY u LIMIT 256
    ), ku AS (
      SELECT DISTINCT u FROM (SELECT u FROM ka UNION SELECT u FROM kb)
      ORDER BY u LIMIT 256
    ), sa AS (SELECT count(*) AS n, MAX(u) AS m FROM ka),
    sb AS (SELECT count(*) AS n, MAX(u) AS m FROM kb),
    su AS (SELECT count(*) AS n, MAX(u) AS m FROM ku),
    th AS (
      SELECT LEAST(CASE WHEN sa.n < 256 THEN 1.0 ELSE sa.m END,
                   CASE WHEN sb.n < 256 THEN 1.0 ELSE sb.m END) AS theta
      FROM sa, sb
    ), ni AS (
      SELECT count(*) AS n
      FROM ka JOIN kb USING (u), th WHERE ka.u < th.theta
    )
    SELECT CAST(256 AS BIGINT) AS k,
           CAST((SELECT count(*) FROM a) AS BIGINT) AS exact_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS exact_b,
           CAST((SELECT count(*) FROM a JOIN b USING (v)) AS BIGINT)
             AS exact_inter,
           round(CASE WHEN sa.n < 256 THEN CAST(sa.n AS DOUBLE)
                      ELSE 255.0 / sa.m END, 6) AS est_a,
           round(CASE WHEN sb.n < 256 THEN CAST(sb.n AS DOUBLE)
                      ELSE 255.0 / sb.m END, 6) AS est_b,
           round(CASE WHEN su.n < 256 THEN CAST(su.n AS DOUBLE)
                      ELSE 255.0 / su.m END, 6) AS est_union,
           round(CAST(ni.n AS DOUBLE) / th.theta, 6) AS est_inter
    FROM sa, sb, su, th, ni
    """,
)
def kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: estimated distinct counts of two fact
    key sets (orders with a returned line vs orders with a bulk line), their UNION,
    and — the operation HLL cannot do — their INTERSECTION, from two
    256-row bottom-k hash sketches. theta = min of the sketches'
    k-th minima; samples below theta act as a coordinated uniform
    sample of each set, so |matching draws| / theta estimates the
    overlap (Dasgupta et al., the DataSketches theta model). Exact
    counts ride along so the driver hash pins both the estimator
    arithmetic AND its inputs bit-for-bit (md5 draws, IEEE division —
    DuckDB reproduces every digit). At 100 TB each set costs one
    TakeOrderedAndProject scan (k doubles per partition, no global
    sort), and the sketches are kilobytes forever after —
    set-overlap questions (contamination, audience overlap, join
    cardinality forecasts) answer from sketch storage alone."""
    from logicash_etl_spark.operators.caching import scoped_persist

    li = read_table(spark, sf_dir, "lineitem")
    K = 256
    # a/b each feed three consumers (sketch build, exact count, exact
    # intersection) and the k-row sketches feed three more — without
    # persists the lineitem fact was scanned TWELVE times (audited
    # r9, executed plan, zero runtime reuse). r9 persisted the two
    # distinct key sets (one scan + one distinct each, lineitem read
    # twice). r14: ONE lineitem scan — rows matching EITHER filter
    # feed a single groupBy(l_orderkey) that tags each surviving
    # order with (in_a, in_b) membership flags. Sets a and b fall out
    # as filters of this persisted orders-sized frame, and the exact
    # intersection becomes a flag conjunction instead of an a-join-b
    # exchange pair. The one shuffle carries |a ∪ b| keys + 2 bools —
    # FEWER key instances than the two distincts moved separately
    # (keys in both sets shipped twice before).
    pa = F.col("l_returnflag") == "R"
    pb = F.col("l_quantity") >= 40
    base = scoped_persist(
        li.filter(pa | pb)
        .select(F.col("l_orderkey").alias("v"), pa.alias("pa"), pb.alias("pb"))
        .groupBy("v")
        .agg(F.max("pa").alias("in_a"), F.max("pb").alias("in_b"))
    )
    a = base.filter(F.col("in_a")).select("v")
    b = base.filter(F.col("in_b")).select("v")
    ka = scoped_persist(kmv_sketch(a, "v", K))
    kb = scoped_persist(kmv_sketch(b, "v", K))
    ku = ka.unionByName(kb).distinct().orderBy("u").limit(K)
    sa = ka.agg(F.count("*").alias("na"), F.max("u").alias("ma"))
    sb = kb.agg(F.count("*").alias("nb"), F.max("u").alias("mb"))
    su = ku.agg(F.count("*").alias("nu"), F.max("u").alias("mu"))
    theta = F.least(
        F.when(F.col("na") < K, F.lit(1.0)).otherwise(F.col("ma")),
        F.when(F.col("nb") < K, F.lit(1.0)).otherwise(F.col("mb")),
    ).alias("theta")
    # every frame below is <= k rows or 1 row: broadcast everything
    scalars = sa.crossJoin(F.broadcast(sb)).select("*", theta)
    ni = (
        ka.join(kb, "u")
        .crossJoin(F.broadcast(scalars.select("theta")))
        .filter(F.col("u") < F.col("theta"))
        .agg(F.count("*").alias("ninter"))
    )
    # exact counts in ONE pass over the persisted flag frame; the
    # v-NOT-NULL guard on the conjunction mirrors the retired
    # a.join(b, "v"), where a NULL key never matches (count(in_a)
    # and count(in_b) DO include a NULL-key group, exactly as the
    # old per-set count(*) did).
    exacts = base.agg(
        F.coalesce(F.sum(F.col("in_a").cast("long")), F.lit(0))
        .cast("bigint")
        .alias("exact_a"),
        F.coalesce(F.sum(F.col("in_b").cast("long")), F.lit(0))
        .cast("bigint")
        .alias("exact_b"),
        F.coalesce(
            F.sum(
                (
                    F.col("in_a") & F.col("in_b") & F.col("v").isNotNull()
                ).cast("long")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("exact_inter"),
    )
    est = (
        scalars.crossJoin(F.broadcast(su))
        .crossJoin(F.broadcast(ni))
        .select(
            F.lit(K).cast("bigint").alias("k"),
            F.round(
                F.when(F.col("na") < K, F.col("na").cast("double")).otherwise(
                    F.lit(float(K - 1)) / F.col("ma")
                ),
                6,
            ).alias("est_a"),
            F.round(
                F.when(F.col("nb") < K, F.col("nb").cast("double")).otherwise(
                    F.lit(float(K - 1)) / F.col("mb")
                ),
                6,
            ).alias("est_b"),
            F.round(
                F.when(F.col("nu") < K, F.col("nu").cast("double")).otherwise(
                    F.lit(float(K - 1)) / F.col("mu")
                ),
                6,
            ).alias("est_union"),
            F.round(
                F.col("ninter").cast("double") / F.col("theta"), 6
            ).alias("est_inter"),
        )
    )
    return F.broadcast(exacts).crossJoin(est).select(
        "k", "exact_a", "exact_b", "exact_inter",
        "est_a", "est_b", "est_union", "est_inter",
    )


@query(
    "kmv_partial_merge",
    oracle="""
    WITH d AS (
      -- r13 (ADVICE): pin the SQL COUNT-DISTINCT posture explicitly —
      -- the Spark side filters NULL keys before the distinct, while a
      -- bare SELECT DISTINCT retains a NULL row that count(*) counts,
      -- a latent off-by-one should a hostile corpus ever null a key
      SELECT DISTINCT o_custkey AS v FROM orders
      WHERE o_custkey IS NOT NULL
    ), kd AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('kmv' || CAST(v AS VARCHAR)),
                            1, 12)) AS BIGINT) / 281474976710656.0 AS u
      FROM d ORDER BY u LIMIT 128
    ), s AS (SELECT count(*) AS n, MAX(u) AS m FROM kd)
    SELECT CAST(128 AS BIGINT) AS k,
           CAST((SELECT count(*) FROM d) AS BIGINT) AS exact_distinct,
           round(CASE WHEN s.n < 128 THEN CAST(s.n AS DOUBLE)
                      ELSE 127.0 / s.m END, 6) AS est_distinct,
           TRUE AS merge_equals_direct
    FROM s
    """,
)
def kmv_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability, hash-proved: bottom-128 sketches built
    INDEPENDENTLY per o_orderpriority (5 partials, 128 doubles each)
    and merged — bottom-k of the union of the partial samples — must
    equal the sketch built directly over all orders, row for row
    (each partial necessarily retains its group's members of the
    global bottom-k). ``merge_equals_direct`` compares the two
    128-row samples by full outer join in-query; the estimate and the
    exact count come from the MERGED sketch, and the oracle recomputes
    both from raw rows — so a broken merge path fails the driver hash
    two ways. This is the invariant that lets a 100 TB pipeline keep
    per-day / per-source sketch partials and answer distinct-count
    and overlap questions by k-row unions, never re-scanning."""
    K = 128
    # ONE orders scan: every consumer (partials, direct sketch, exact
    # distinct) derives from this persisted distinct (priority, key,
    # u) frame — 4 scans unpersisted, audited r10. distinct includes
    # the raw key so the exact count never rides on hash uniqueness.
    from logicash_etl_spark.operators.caching import scoped_persist
    from logicash_etl_spark.operators.partitioning import grouped_bottom_k

    dv = scoped_persist(
        read_table(spark, sf_dir, "orders")
        .select("o_orderpriority", F.col("o_custkey").alias("v"))
        .filter(F.col("v").isNotNull())
        .distinct()  # dedup BEFORE hashing: u is functional in v, so
        # md5 runs |distinct| times, not |rows| times
        .select("o_orderpriority", "v", _kmv_u(F.col("v")).alias("u"))
    )
    # partials: one bottom-k sketch per priority group, built with the
    # two-phase salted bottom-k (grouped_bottom_k) — a plain per-group
    # window would sort each group's entire distinct-key set on one
    # reducer, the skew trap when one group dominates at scale
    ranked = grouped_bottom_k(
        dv.select("o_orderpriority", "u").distinct(),
        group_col="o_orderpriority",
        order_col="u",
        k=K,
    ).select("o_orderpriority", "u")
    # 128 rows, consumed by the mismatch join AND the estimate agg
    merged = scoped_persist(
        ranked.select("u").distinct().orderBy("u").limit(K)
    )
    # direct sketch over the same cached frame — identical semantics
    # to kmv_sketch(orders, "o_custkey", K): distinct u of non-null v
    direct = dv.select("u").distinct().orderBy("u").limit(K)
    mism = (
        merged.withColumn("l", F.lit(1))
        .join(direct.withColumn("r", F.lit(1)), "u", "full_outer")
        .filter(F.col("l").isNull() | F.col("r").isNull())
        .agg(F.count("*").alias("n_mismatch"))
    )
    s = merged.agg(F.count("*").alias("n"), F.max("u").alias("m"))
    exact = dv.select("v").distinct().agg(F.count("*").alias("exact_distinct"))
    return (
        s.crossJoin(F.broadcast(mism))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(K).cast("bigint").alias("k"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            F.round(
                F.when(F.col("n") < K, F.col("n").cast("double")).otherwise(
                    F.lit(float(K - 1)) / F.col("m")
                ),
                6,
            ).alias("est_distinct"),
            (F.col("n_mismatch") == 0).alias("merge_equals_direct"),
        )
    )


@query(
    "incremental_agg_maintenance",
    oracle="""
    WITH updated AS (
      SELECT * FROM orders
      WHERE o_orderkey % 10 = 0
         OR (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0)
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM updated GROUP BY o_orderpriority
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance with SIGNED deltas:
    yesterday's per-priority aggregate (built from the base table) is
    brought up to date by merging a CDC delta — inserts weighted +1,
    deletes weighted -1 — so the refresh costs O(delta) + a
    #groups-row merge, never a rescan of the table. This is the
    aggregation-side sibling of the incremental dedup family (and of
    weekly_rollup_from_daily's append-only rollup — here deletes are
    first-class, the case plain re-aggregation can't absorb).

    The driver hash proves maintained == direct: the oracle computes
    the aggregate straight from the updated table, so a sign error,
    a missed delete, or double-counted insert fails the row. Fixture
    CDC: base = orderkeys not divisible by 10; delta inserts the
    %10==0 rows and deletes base rows with orderkey %7==0. Decimal
    sums keep the merge order-independent (functions/money.py
    policy); counts that reach zero would drop the group row on both
    sides identically (HAVING n > 0 semantics)."""
    # one orders scan: base feeds the stored aggregate AND the delete
    # delta, inserts a third consumer (3 scans unpersisted, audited
    # r10) — persist the 3-column projection they all derive from
    from logicash_etl_spark.operators.caching import scoped_persist

    od = scoped_persist(
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
    )
    base = od.filter(F.col("o_orderkey") % 10 != 0)
    inserts = od.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "sign", F.lit(1)
    )
    deletes = base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "sign", F.lit(-1)
    )
    # yesterday's materialized aggregate: O(base), computed once
    old_agg = base.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"), F.sum("p").alias("total_price")
    )
    # today's refresh: O(delta) group sums, signed
    delta_agg = (
        inserts.unionByName(deletes)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("sign").cast("bigint").alias("dn"),
            F.sum(F.col("p") * F.col("sign")).alias("dp"),
        )
    )
    merged = (
        old_agg.join(delta_agg, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce("n_orders", F.lit(0))
                + F.coalesce("dn", F.lit(0))
            ).cast("bigint").alias("n_orders"),
            (
                F.coalesce(F.col("total_price"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("dp"), F.lit(0).cast("decimal(18,2)"))
            ).alias("total_price"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
    )


@query(
    "incremental_join_maintenance",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN — the delta rule
    (A+dA) x (B+dB) = AxB + dAxB + AxdB + dAxdB, the algebra that
    keeps a materialized join view current without re-joining the
    base tables (the join sibling of incremental_agg_maintenance's
    CDC aggregate). Orders rows with o_orderkey % 9 == 0 and lineitem
    rows with l_orderkey % 11 == 0 play the arriving deltas; the
    monthly revenue rollup is computed as partial aggregates of the
    FOUR disjoint terms, merged by a second groupBy — and must equal
    the plain full-join oracle exactly (decimal money arithmetic, so
    the merge is order-independent).

    Scale: the point of the algebra is that the base x base term is
    a STORED view (here recomputed to close the proof; in production
    its partial aggregate is a read), so an update costs only the
    delta terms — dA x B and A x dB each put the DELTA side up for
    broadcast against one base-table scan (no forced hint: a real CDC
    batch is auto-broadcast by size, while a backfill-scale delta
    degrades to a shuffle join instead of a driver OOM — the
    broadcast_bounded policy), dA x dB is small x small, and
    nothing ever re-joins base against base. Partial-aggregate
    merging is what makes the maintenance associative: month rows
    add, they never need the underlying lines."""
    # each base/delta split is consumed by TWO of the four delta-rule
    # terms, so unpersisted the fact tables were scanned 4x each
    # (audited r10); persist the narrow projections once
    from logicash_etl_spark.operators.caching import scoped_persist

    o = scoped_persist(
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            (F.col("o_orderkey") % 9 == 0).alias("d_o"),
        )
    )
    li = scoped_persist(
        read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            (money("l_extendedprice") * (1 - money("l_discount"))).alias("rev"),
            (F.col("l_orderkey") % 11 == 0).alias("d_l"),
        )
    )
    o0, do = o.filter(~F.col("d_o")), o.filter(F.col("d_o"))
    l0, dl = li.filter(~F.col("d_l")), li.filter(F.col("d_l"))

    def part(ox: DataFrame, lx: DataFrame, broadcast_left: bool) -> DataFrame:
        from logicash_etl_spark.operators.joins import broadcast_bounded

        # the intended-small (delta) side is marked, never forced:
        # fixture deltas are fact-proportional (1/9, 1/11), so a
        # forced hint is exactly the erasure-audit OOM pattern
        ox = broadcast_bounded(ox, bounded=False) if broadcast_left else ox
        lx = lx if broadcast_left else broadcast_bounded(lx, bounded=False)
        return (
            ox.join(lx, ox["o_orderkey"] == lx["l_orderkey"])
            .groupBy("month")
            .agg(
                F.count("*").cast("bigint").alias("n_lines"),
                F.sum("rev").alias("rev"),
            )
        )

    # base x base: the stored-view term (full shuffle join, run once);
    # delta terms broadcast the small side against one base scan
    base = part(o0, l0, broadcast_left=False)
    d1 = part(do, l0, broadcast_left=True)
    d2 = part(o0, dl, broadcast_left=False)
    d3 = part(do, dl, broadcast_left=True)
    merged = base.unionByName(d1).unionByName(d2).unionByName(d3)
    return merged.groupBy("month").agg(
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("rev").cast("double").alias("revenue"),
    )


def _ams_sign_counters(freq: DataFrame) -> DataFrame:
    """The 256 AMS sign counters as (j int, c bigint) rows, built
    from the distinct-key frame (columns ``n`` count, ``h`` 64-hex
    md5 concat) with INTEGER bit arithmetic: the 64 hex chars parse
    into 8 big-endian 32-bit words ONCE per key, then the 256-way
    explode computes each sign as three int ops on a word (j div 32
    picks the word; bit 4*(7 - (j div 4) mod 8) + j mod 4 picks the
    sign bit). The groupBy(j) partial-aggregates map-side, so the
    exchange carries at most 256 rows per partition at any scale.

    Sign convention (bitwise-identical to the retired per-(key, j)
    SQL CASE and to the DuckDB oracle): counter j reads bit ``j mod
    4`` of hex nibble ``j div 4``; bit 0 -> +1, bit 1 -> -1. A NULL
    ``h`` (NULL key) makes every word NULL and the coalesce falls to
    -1, exactly like the CASE's ELSE branch did. Empty input yields
    zero rows, the retired posture.

    (Two rejected r13 shapes, both measured at sf0.1: a mapInPandas/
    numpy partial ran 1.8x slower warm -- the Arrow round-trip of the
    key frame costs more than it saves -- and a 257-column single
    aggregate + stack() unpivot ran 4x slower because analyzing/
    optimizing the 500+-expression plan dominates on the driver.)
    """
    words = freq.select(
        "n",
        F.array(
            *[
                F.conv(F.substring("h", 1 + 8 * w, 8), 16, 10).cast(
                    "bigint"
                )
                for w in range(8)
            ]
        ).alias("ws"),
    )
    signs = words.select(
        F.explode(F.sequence(F.lit(0), F.lit(255))).alias("j"), "n", "ws"
    ).select(
        "j",
        (
            F.col("n")
            * F.coalesce(
                F.lit(1)
                - F.lit(2)
                * F.expr(
                    "shiftright(element_at(ws, CAST(j div 32 AS INT) + 1),"
                    " CAST(4 * (7 - (j div 4) % 8) + j % 4 AS INT)) & 1"
                ),
                F.lit(-1),
            )
        ).alias("sgn"),
    )
    return signs.groupBy("j").agg(F.sum("sgn").cast("bigint").alias("c"))


@query(
    "ams_f2_estimate",
    oracle="""
    WITH freq AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             md5(CAST(o_custkey AS VARCHAR)) ||
             md5(CAST(o_custkey AS VARCHAR) || 'x') AS h
      FROM orders GROUP BY o_custkey
    ), signs AS (
      SELECT j,
             n * (CASE WHEN
                    ((instr('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1)
                     // (CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                    WHEN 2 THEN 4 ELSE 8 END)) % 2 = 0
                  THEN 1 ELSE -1 END) AS sgn
      FROM freq, generate_series(0, 255) AS t(j)
    ), counters AS (
      SELECT j, CAST(SUM(sgn) AS BIGINT) AS c FROM signs GROUP BY j
    ), grp AS (
      SELECT j // 16 AS g, CAST(SUM(c * c) AS BIGINT) AS sum_sq
      FROM counters GROUP BY j // 16
    ), med AS (
      SELECT sum_sq, row_number() OVER (ORDER BY sum_sq) AS rk FROM grp
    ), exact AS (
      SELECT CAST(SUM(n * n) AS BIGINT) AS f2
      FROM (SELECT count(*) AS n FROM orders GROUP BY o_custkey)
    )
    SELECT (SELECT f2 FROM exact) AS exact_f2,
           CAST((SELECT sum_sq FROM med WHERE rk = 8) // 16 AS BIGINT)
             AS ams_f2,
           (SELECT f2 FROM exact) <= 4 * CAST((SELECT sum_sq FROM med
                                               WHERE rk = 8) // 16 AS BIGINT)
           AND CAST((SELECT sum_sq FROM med WHERE rk = 8) // 16 AS BIGINT)
               <= 4 * (SELECT f2 FROM exact) AS within_4x
    FROM exact
    """,
)
def ams_f2_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy
    STOC'96) — F2 = sum of squared key frequencies, i.e. the SELF-JOIN
    SIZE of orders on custkey: the statistic join planners and skew
    detectors want without building the join. 256 sign counters
    updated over the DISTINCT-KEY frame — counter_j += n_key * ±1 is
    algebraically identical to per-row updates, and all 256 signs per
    key bit-slice out of TWO md5s (the hash family both engines
    share). Estimate = median of 16 sixteen-counter means
    (median-of-means: each group mean is an unbiased F2 estimator
    with variance <= 2*F2^2/16; the median tames the heavy tail — a
    raw median of squares would bias LOW, measured 3x under on this
    fixture). Lower-median + floor division keep the output
    integer-exact; the report carries exact F2 alongside (7.7% off
    at sf0.01) and a within-4x verdict.

    Mergeable like the CMS/KMV family: counters ADD across partitions
    and across lots — 256 BIGINTs of state at any data size.
    Scale: the CMS lesson — sketch state is keyed by VOCABULARY, not
    occurrences: hashing runs over |distinct keys| (per-row
    per-counter md5 measured 27.8 s at sf0.1); the per-(key, j) sign
    is integer bit arithmetic on 8 once-parsed words (r13 — the
    former string CASE ladder scaled 7.98x at 10x keys), the
    groupBy(j) exchange carries <=256 map-side partials per
    partition, and the persisted key frame feeds both the sketch and
    exact F2 in one orders scan."""
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    # hash the DISTINCT-KEY frame, never per row: counter_j =
    # sum_key count_key * sign(key, j) is algebraically identical and
    # cuts the md5 volume from |rows| x 256 to |keys| x 256 (the CMS
    # lesson: sketch state is keyed by vocabulary, not occurrences) —
    # measured 27.8 s -> ~2 s at sf0.1
    freq = o.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n")
    ).withColumn(
        "h",
        F.concat(
            F.md5(F.col("o_custkey").cast("string")),
            F.md5(F.concat(F.col("o_custkey").cast("string"), F.lit("x"))),
        ),
    )
    # all 256 signs bit-sliced from TWO md5s per key (one bit per
    # counter): nibble j div 4 of the 64-hex concat, bit j mod 4.
    # r13 (guide 1.2/2.3): the sf1 scaling cost (7.98x at 10x keys)
    # was the per-(key, j) STRING work — substr + instr + a CASE
    # ladder evaluated |keys| x 256 times. _ams_sign_counters keeps
    # the explode/groupBy shape (its partial aggregation already
    # capped the exchange at 256 rows per partition) but parses the
    # hex into 8 words once per key so each sign is three INT ops.
    # freq persists: the counter pass and the exact-F2 pass are its
    # two consumers (orders scans 2 -> 1), and the frame is
    # |distinct keys| x (n, h) — vocabulary-sized, never row-sized.
    # Counters stay exact BIGINT sums — addition is commutative,
    # partitioning cannot change the totals.
    from logicash_etl_spark.operators.caching import scoped_persist

    freq = scoped_persist(freq)
    counters = _ams_sign_counters(freq)
    grp = counters.groupBy(F.expr("j div 16").alias("g")).agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq")
    )
    med = (
        grp.select(
            "sum_sq",
            F.row_number()
            .over(W.orderBy("sum_sq"))
            .alias("rk"),
        )
        .filter(F.col("rk") == 8)
        .select(F.expr("CAST(sum_sq div 16 AS BIGINT)").alias("ams_f2"))
    )
    exact = freq.agg(
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("exact_f2")
    )
    return exact.crossJoin(F.broadcast(med)).select(
        "exact_f2", "ams_f2",
        (
            (F.col("exact_f2") <= 4 * F.col("ams_f2"))
            & (F.col("ams_f2") <= 4 * F.col("exact_f2"))
        ).alias("within_4x"),
    )
