"""Deterministic sampling — reproducible subsets for training pipelines.

``df.sample()`` is seeded but partition-layout dependent: the same call
on repartitioned data selects different rows, which poisons
train/test hygiene. These operators key selection off a CONTENT hash
(md5 of the id), so membership is a pure function of the row — stable
across cluster sizes, re-runs, engines, and even re-implementations
(md5 hex is universal; an external system can reproduce the split).

- train_test_split: disjoint, exhaustive, stable split
- stratified_sample: per-stratum fractions (class rebalancing)
- weighted_topk_sample: weighted sampling WITHOUT replacement
  (Efraimidis-Spirakis exponential-key top-k) per group
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# md5 hex prefix as a uniform draw in [0, 1): 8 hex chars = 32 bits
_DENOM = float(1 << 32)


def _u(id_col: Column, salt: str) -> Column:
    """Uniform [0,1) from the content hash of (salt, id)."""
    h = F.md5(F.concat(F.lit(salt), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / _DENOM


def train_test_split(
    df: DataFrame, id_col: str, test_fraction: float = 0.1
) -> tuple[DataFrame, DataFrame]:
    """(train, test): disjoint, exhaustive, and stable — a row's side
    never changes when data is added elsewhere (the property random
    splits lack)."""
    is_test = _u(F.col(id_col), "split") < test_fraction
    return df.filter(~is_test), df.filter(is_test)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic fractions (e.g. downsample the
    majority class, keep all of the rare one). Unlisted strata get
    ``default_fraction``."""
    frac = F.lit(default_fraction)
    for value, f in fractions.items():
        frac = F.when(F.col(stratum_col) == value, F.lit(f)).otherwise(frac)
    return df.filter(_u(F.col(id_col), "strata") < frac)


def weighted_topk_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    group_col: str,
    k: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows per group ranked
    1..k in ``rk`` (Efraimidis & Spirakis 2006): draw
    E_i = -ln(u_i) / w_i — an Exponential(rate=w_i) variate — and keep
    the k smallest per group. P(row first) = w_i / sum(w), exactly the
    weighted-without-replacement semantics curation pipelines need
    ("sample 1M docs proportional to length/quality score").

    Scale: the per-group bottom-k runs through the two-phase salted
    scan (``grouped_bottom_k`` — bounded windows per (group, salt)
    slice, then a window over <= k x slices survivors), so a dominant
    group never sorts its whole row set on one reducer; no global
    sort, no driver state. The draw is the content hash, so the
    sample is identical across cluster sizes and engines. Rows with
    non-positive or null weights are excluded (they would yield
    negative/undefined rates), and so are u == 0 draws (p = 2^-32
    per row, so they WILL occur at billions of rows): their key is
    undefined and the row is never sampled — explicitly filtered so
    a small group cannot backfill with them. Without the guard the
    engines diverge: Spark ln(0) returns NULL (which asc() would
    sort FIRST), DuckDB ln(0) raises."""
    from logicash_etl_spark.operators.partitioning import grouped_bottom_k

    u = _u(F.col(id_col), "wsample")
    key = -F.log(u) / F.col(weight_col)
    pos = (
        df.filter((F.col(weight_col) > 0) & (u > 0))
        .withColumn("__es_key", key)
    )
    # the bottom-k's own second-phase rank IS the sample rank — no
    # third window
    return grouped_bottom_k(
        pos,
        group_col,
        "__es_key",
        k,
        tiebreak_cols=[F.col(id_col).asc()],
        rank_col="rk",
    ).drop("__es_key")
