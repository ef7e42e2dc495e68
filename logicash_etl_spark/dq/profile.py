"""Data profiling — Spark-native version of the generator's pandas QA
report (data_gen/generator.py:210-270) and the QA scripts' audits
(qa/validate_data.py:127-148, qa/validate_data_fast.py:156-171).

Everything is a single aggregation pass per call; percentiles use a
mergeable sketch by default with ``exact=True`` opt-in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_audit(df: DataFrame, cols: list[str]) -> DataFrame:
    """COUNT(*) vs COUNT(col) per column, one pass (A4)."""
    aggs = [F.count("*").alias("total_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}_non_null"))
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls"))
    return df.agg(*aggs)


def percentiles(col, fractions, exact: bool = False) -> Column:
    """Percentile aggregate expression — THE sanctioned switch between
    the scale-safe sketch and the exact aggregate.

    Default (``exact=False``): ``percentile_approx`` — a KLL-style
    quantile digest with rank error 1/10,000. Mergeable, bounded
    memory per partition, combines map-side: the 100 TB path, and why
    it is the default rather than a docstring promise.

    ``exact=True``: true interpolated percentiles. The aggregation
    buffer holds EVERY value of the column, so a single global agg
    becomes the query's scale ceiling — reserve it for oracle
    verification (hash-exact parity needs deterministic interpolated
    values) and provably bounded frames. Grep for ``exact=True`` call
    sites to audit every exact-percentile use in the repo; raw
    ``F.percentile`` should not appear outside this function.
    """
    fr = fractions if isinstance(fractions, Column) else F.lit(fractions)
    if exact:
        return F.percentile(col, fr)
    return F.percentile_approx(col, fr, F.lit(10_000))


def selectivity_report(
    df: DataFrame,
    col: str,
    thresholds: list[float],
) -> DataFrame:
    """Equi-depth histogram statistics + CBO-style selectivity
    estimation (the estimator behind cost-based join ordering and
    scan-pruning decisions), as a measurable report: build the
    32-bucket equi-depth histogram an ANALYZE TABLE would
    store for ``df.col``, evaluate each ``v <= threshold`` predicate
    under the uniform-within-bucket assumption, and emit estimated
    rows vs exact rows vs relative error per threshold.

    Scale (100 TB posture): ONE scan computes the bucket bounds, the
    total, and every exact predicate count in a single aggregate;
    estimation is arithmetic over the 33-element bounds array
    on a single row, exploded to one row per threshold. No joins, no
    second scan, no driver-side math. Bounds are true interpolated
    percentiles (:func:`percentiles` with ``exact=True``), for
    oracle-checkable determinism; the exact buffer holds every value
    of ``col``, so this is for bounded frames.

    Determinism: bounds quantize to hundredths via
    ``floor(x*100 + 0.5)`` — pure double arithmetic
    identical across engines (native ``round(double, n)`` diverges at
    .xx5) — so an interpolation ulp cannot leak; per-bucket overlap
    fractions divide exact integer differences; the per-bucket sum is
    an order-pinned left fold; outputs round only at the edge.

    Every ``threshold * 100`` must be an integer (the predicate is
    evaluated in quantized units exactly).
    """
    buckets, quantize_scale = 32, 100
    v = F.col(col)
    fractions = [i / buckets for i in range(buckets + 1)]
    xs = []
    for x in thresholds:
        xc = x * quantize_scale
        if xc != int(xc):
            raise ValueError(
                f"threshold {x} is not an integer multiple of "
                f"1/{quantize_scale}"
            )
        xs.append(int(xc))
    s = df.agg(
        percentiles(col, fractions, exact=True).alias("q"),
        F.count("*").alias("total"),
        *[
            F.sum((v <= t).cast("int")).alias(f"__a{i}")
            for i, t in enumerate(thresholds)
        ],
    )
    b = s.select(
        F.transform(
            "q",
            lambda x: F.floor(x * quantize_scale + 0.5).cast("bigint"),
        ).alias("bounds"),
        "total",
        *[f"__a{i}" for i in range(len(thresholds))],
    )
    t = b.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(xc).cast("bigint").alias("xc"),
                        F.col(f"__a{i}").cast("bigint").alias("actual"),
                    )
                    for i, xc in enumerate(xs)
                ]
            )
        ).alias("p"),
        "bounds",
        "total",
    )
    lo = lambda i: F.element_at(F.col("bounds"), i)  # noqa: E731
    hi = lambda i: F.element_at(F.col("bounds"), i + 1)  # noqa: E731
    x = F.col("p.xc")
    one, zero = F.lit(1).cast("double"), F.lit(0).cast("double")
    overlap = lambda acc, i: acc + (  # noqa: E731
        F.when(
            hi(i) <= lo(i),
            F.when(x >= hi(i), one).otherwise(zero),
        ).otherwise(
            F.least(
                one,
                F.greatest(
                    zero,
                    (x - lo(i)).cast("double")
                    / (hi(i) - lo(i)).cast("double"),
                ),
            )
        )
    )
    raw_est = (
        F.col("total").cast("double")
        / buckets
        * F.aggregate(
            F.sequence(F.lit(1), F.lit(buckets)), F.lit(0.0), overlap
        )
    )
    return t.select(
        (x.cast("double") / quantize_scale).alias("threshold"),
        F.col("p.actual").alias("actual_rows"),
        raw_est.alias("__raw"),
    ).select(
        "threshold",
        "actual_rows",
        F.round("__raw", 4).alias("est_rows"),
        F.round(
            100 * (F.col("__raw") - F.col("actual_rows"))
            / F.col("actual_rows"),
            2,
        ).alias("rel_err_pct"),
    )
