"""Property-based tests (hypothesis) for the DQ rule engine: for ANY
input data, clean+quarantine partitions the input exactly, clean rows
never violate a rule, and the one-pass violation counts agree with
per-rule filters."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from logicash_etl_spark import schemas as S
from logicash_etl_spark.dq.rules import logicash_rules

AS_OF = dt.datetime(2026, 1, 1)

row = st.tuples(
    st.uuids().map(str),
    st.one_of(st.none(), st.sampled_from(["ATM-001", "ATM-002", "ATM-003"])),
    st.one_of(
        st.none(),
        st.datetimes(min_value=dt.datetime(2020, 1, 1), max_value=dt.datetime(2035, 1, 1)),
    ),
    st.one_of(
        st.none(),
        st.decimals(
            min_value=Decimal("-9999.99"), max_value=Decimal("9999.99"), places=2
        ),
    ),
    st.sampled_from(["RETIRO", "DEPOSITO"]),
    st.one_of(st.none(), st.sampled_from(["EXITOSA", "FALLIDA", "REVERSADA"])),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row, min_size=0, max_size=60))
def test_rules_partition_input(spark, rows):
    df = spark.createDataFrame(rows, S.FACT_TRANSACTIONS)
    rules = logicash_rules(F.to_timestamp(F.lit(AS_OF.isoformat(sep=" "))))
    clean, quarantine = rules.split(df)
    n, nc, nq = df.count(), clean.count(), quarantine.count()
    assert nc + nq == n

    # clean side never violates any rule (incl. null-predicate cases)
    bad = clean.filter(
        F.col("id_atm").isNull()
        | F.col("monto").isNull()
        | (F.col("monto") <= 0)
        | F.col("fecha").isNull()
        | (F.col("fecha") > AS_OF.isoformat(sep=" "))
        | F.col("status_transaccion").isNull()
        | (F.col("status_transaccion") != "EXITOSA")
    )
    assert bad.count() == 0

    # one-pass counts == per-rule filtered counts
    report = rules.violation_counts(df).collect()[0]
    for r in rules.rules:
        assert report[f"{r.name}_violations"] == df.filter(r.violated).count()
    assert report["clean_rows"] == nc


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=100_000),
             min_size=2, max_size=60)
)
def test_cusum_closed_form_equals_recursion(cents):
    """The window closed form the cusum_changepoints query runs
    (S_i = P_i - min(0, min_{j<=i} P_j)) must equal Page's recursion
    S_i = max(0, S_{i-1} + d_i) for every drift sequence — including
    all-negative drifts (S pinned at 0) and alternating sign."""
    n, t = len(cents), sum(cents)
    drifts = [2 * n * x - 3 * t for x in cents]
    # reference: the sequential recursion
    s, expected = 0, []
    for d in drifts:
        s = max(0, s + d)
        expected.append(s)
    # closed form, as plain python over prefix sums
    p, mn, got = 0, 0, []
    for d in drifts:
        p += d
        mn = min(mn, p)
        got.append(p - min(0, mn))
    assert got == expected


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1, max_size=120,
    ),
    buckets=st.sampled_from([1, 2, 3, 8]),
)
def test_grouped_prefix_sum_random_differential(spark, rows, buckets):
    """Randomized differential check of the de-skew machinery a dozen
    queries now ride (token budgets, Gini, robust stats, mixtures):
    the range-bucketed grouped scan must equal the naive per-group
    window for ANY group structure — duplicate keys, negative values,
    singleton groups, any bucket count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.partitioning import grouped_prefix_sum

    data = [(g, i, k, v) for i, (g, k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, id int, k int, v int")
    w = (
        Window.partitionBy("g")
        .orderBy("k", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.g, r.id): r.cs
        for r in df.withColumn("cs", F.sum("v").over(w)).collect()
    }
    got = {
        (r.g, r.id): r.cs
        for r in grouped_prefix_sum(
            df,
            group_col="g",
            bucket_key="k",
            order_cols=[F.col("k").asc(), F.col("id").asc()],
            value_col="v",
            out_col="cs",
            buckets=buckets,
            inclusive=True,
        ).collect()
    }
    assert got == want


def test_grouped_prefix_peak_matches_prefix_sum_then_max(spark):
    """grouped_prefix_peak must equal grouped_prefix_sum(inclusive)
    followed by groupBy(max) on every group — including negative
    deltas (the sweep-line's -1 boundaries), ties on the bucket key,
    NULL values (skipped by both forms), single-row groups, and a
    bucket count smaller than the group's distinct keys."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.partitioning import (
        grouped_prefix_peak,
        grouped_prefix_sum,
    )

    import random

    rnd = random.Random(14)
    rows = []
    tie = 0
    for g in ("a", "b", "c", "single"):
        n = 1 if g == "single" else 200
        for i in range(n):
            rows.append(
                (
                    g,
                    rnd.randrange(0, 50),  # bucket key with many ties
                    rnd.choice([None, -3, -1, -1, 1, 1, 2, 5]),
                    tie,  # deterministic tiebreak, assigned in Python
                )
            )
            tie += 1
    df = spark.createDataFrame(rows, "g string, k int, v int, __tie long")
    order = [F.col("k").asc(), F.col("__tie").asc()]
    expected = (
        grouped_prefix_sum(
            df, "g", "k", order, "v", out_col="__c", buckets=8, inclusive=True
        )
        .groupBy("g")
        .agg(F.max("__c").alias("peak"))
    )
    got = grouped_prefix_peak(df, "g", "k", order, "v", buckets=8)
    exp = {r["g"]: r["peak"] for r in expected.collect()}
    act = {r["g"]: r["__peak"] for r in got.collect()}
    assert act == exp
