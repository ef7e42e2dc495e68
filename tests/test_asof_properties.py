"""Property test for the hand-rolled as-of join: on random inputs it
must agree with pandas.merge_asof (backward, per key),
including edge cases hypothesis likes — equal timestamps, empty
sides, single-row keys."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from logicash_etl_spark.operators.joins import asof_join

BASE = dt.datetime(2024, 1, 1)

ts = st.integers(min_value=0, max_value=500).map(
    lambda s: BASE + dt.timedelta(seconds=s)
)
left_row = st.tuples(st.integers(1, 3), ts, st.integers(0, 10_000))
# rval includes None: SQL ASOF matches the latest right ROW, nulls
# included — the r11 struct fix; pandas merge_asof agrees (it carries
# the matched row's NaN instead of skipping to an older row)
right_row = st.tuples(
    st.integers(1, 3),
    ts,
    st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
)


def _spark_asof(spark, lrows, rrows):
    left = spark.createDataFrame(
        [(k, t, v) for k, t, v in lrows], "k long, ts timestamp, lval long"
    )
    right = spark.createDataFrame(
        [(k, t, v) for k, t, v in rrows], "k long, ts timestamp, rval double"
    )
    out = asof_join(left, right, on="k")
    return {
        (r.k, r.ts, r.lval): (r.rval_right, r.ts_right) for r in out.collect()
    }


def _pandas_asof(lrows, rrows):
    left = pd.DataFrame(lrows, columns=["k", "ts", "lval"])
    right = pd.DataFrame(rrows, columns=["k", "ts", "rval"])
    left["ts"] = pd.to_datetime(left["ts"])
    right["ts"] = pd.to_datetime(right["ts"])
    left = left.sort_values("ts", kind="stable")
    right = right.sort_values("ts", kind="stable")
    if left.empty:
        return {}
    if right.empty:
        merged = left.assign(rval=None, ts_r=pd.NaT)
    else:
        # pandas keeps one matched row per left row; for duplicate right
        # timestamps it takes the LAST in sort order — dedup to make the
        # expectation well-defined (our operator picks the latest too)
        merged = pd.merge_asof(
            left,
            right.rename(columns={"ts": "ts_r"}),
            left_on="ts",
            right_on="ts_r",
            by="k",
            direction="backward",
        )
    return {
        (r.k, r.ts.to_pydatetime(), r.lval): (
            None if pd.isna(r.rval) else r.rval,
            None if pd.isna(r.ts_r) else r.ts_r.to_pydatetime(),
        )
        for r in merged.itertuples()
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    lrows=st.lists(left_row, min_size=0, max_size=25, unique_by=lambda r: (r[0], r[1], r[2])),
    rrows=st.lists(right_row, min_size=0, max_size=25, unique_by=lambda r: (r[0], r[1])),
)
def test_asof_matches_pandas(spark, lrows, rrows):
    got = _spark_asof(spark, lrows, rrows)
    want = _pandas_asof(lrows, rrows)
    assert set(got) == set(want)
    for key in want:
        assert got[key] == want[key], f"{key}: {got[key]} != {want[key]}"


def test_null_ts_rows_never_match(spark):
    """SQL ASOF: NULL timestamps match nothing on either side. A
    NULL-ts right row must not be carried as the 'earliest' match
    (it used to sort NULLS FIRST into the ascending window); a NULL-ts
    left row keeps its row with a NULL payload."""
    left = spark.createDataFrame(
        [(1, BASE, 10), (1, None, 11)],
        "k long, ts timestamp, lval long",
    )
    right = spark.createDataFrame(
        [(1, None, 99.0), (1, BASE + dt.timedelta(seconds=5), 7.0)],
        "k long, ts timestamp, rval double",
    )
    out = {
        (r.lval): (r.rval_right, r.ts_right)
        for r in asof_join(left, right, on="k").collect()
    }
    assert len(out) == 2
    # NULL-ts left row: present, never matched
    assert out[11] == (None, None)
    # real left row: never matched to the NULL-ts right row
    assert out[10] == (None, None)


def test_reserved_rt_column_raises(spark):
    left = spark.createDataFrame([(1, BASE, 1)], "k long, ts timestamp, lval long")
    right = spark.createDataFrame(
        [(1, BASE, 2)], "k long, ts timestamp, __rt long"
    )
    with pytest.raises(ValueError, match="__rt"):
        asof_join(left, right, on="k")


def test_asof_join_rejects_all_reserved_names(spark):
    """ADVICE r12: the reserved-name guard covered only a right __rt;
    left or right columns named __r/__t/__is_left silently collided
    with asof_join's internals. All four names must raise, on either
    side."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 9)], "k bigint, ts string, __r bigint"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 5)], "k bigint, ts string, v bigint"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="__r"):
        asof_join(left, right, on="k")
    for bad in ("__t", "__is_left", "__rt"):
        r2 = right.withColumnRenamed("v", bad)
        with pytest.raises(ValueError, match=bad):
            asof_join(left.withColumnRenamed("__r", "ok"), r2, on="k")
