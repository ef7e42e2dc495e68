"""Unit tests for the round-8 operators: the hand-checkable math
behind the oracle-paired queries — Morton interleave vs a Python
reference, the Poisson CDF ladder, skew_profile on a crafted frame,
and padding-waste on a fixture small enough to verify by hand."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from logicash_etl_spark.queries import QUERIES


def _py_morton(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_sql_matches_python_reference():
    """The loop-generated SQL interleave (shared by the Spark
    expression and the DuckDB oracle) must agree with an independent
    Python implementation on edge and random-ish coordinates."""

    from logicash_etl_spark.queries.advanced import _morton_sql

    pts = [(0, 0), (1023, 1023), (1, 0), (0, 1), (512, 511), (700, 45)]
    sql = (
        "SELECT "
        + _morton_sql("x", "y")
        + " AS z FROM (SELECT unnest("
        + str([p[0] for p in pts])
        + ") AS x, unnest("
        + str([p[1] for p in pts])
        + ") AS y)"
    )
    got = [r[0] for r in duckdb.sql(sql).fetchall()]
    assert got == [_py_morton(x, y) for x, y in pts]


def test_zorder_cells_bound_both_dimensions(spark, sf_dir):
    """The zorder layout must bound BOTH coordinate spans per file
    (the Morton property the report exists to show); the linear
    layout must bound only its sort key."""

    rows = {
        r["layout"]: r
        for r in QUERIES["zorder_file_skipping"](spark, sf_dir).collect()
    }
    z, lin = rows["zorder"], rows["linear_x"]
    assert z["avg_x_span"] <= 128 and z["avg_y_span"] <= 128
    assert lin["avg_x_span"] <= 16
    # a y-band predicate prunes most zorder files but no linear ones
    assert z["files_scan_y_band"] < lin["files_scan_y_band"]
    assert lin["files_scan_y_band"] == lin["n_files"]


def test_poisson_ladder_mean_is_one(spark):
    """The integer CDF ladder must realize a Poisson(1)-like weight
    distribution: mean within 2% of 1.0 and P(w=0) within 2% of
    exp(-1) over 100k hash-seeded draws."""
    df = spark.range(100_000).select(
        (
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 1_000_000
        ).alias("m")
    )
    w = (
        F.when(F.col("m") < 367879, 0)
        .when(F.col("m") < 735759, 1)
        .when(F.col("m") < 919699, 2)
        .when(F.col("m") < 981012, 3)
        .when(F.col("m") < 996340, 4)
        .when(F.col("m") < 999406, 5)
        .when(F.col("m") < 999917, 6)
        .when(F.col("m") < 999990, 7)
        .otherwise(8)
    )
    r = df.select(w.alias("w")).agg(
        F.avg("w").alias("mean"),
        F.avg((F.col("w") == 0).cast("double")).alias("p0"),
    ).first()
    assert abs(r["mean"] - 1.0) < 0.02
    assert abs(r["p0"] - 0.36787944117144233) < 0.02 * 0.368 + 0.01


def test_skew_profile_on_crafted_frame(spark):
    """skew_profile's integer statistics on a hand-built frame: one
    key holding 90 of 100 rows -> top1_pct 90, n_keys 11, and the
    hot key's bucket must dominate the reducer loads."""
    from logicash_etl_spark.operators.partitioning import skew_profile

    rows = [("hot",)] * 90 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, ["k"])
    r = skew_profile(df, "k").first()
    assert r["key_name"] == "k"
    assert r["n_keys"] == 11
    assert r["total_rows"] == 100
    assert r["top1_pct"] == 90.0
    assert r["max_part_load"] >= 90  # the hot key's bucket
    assert r["skew_ratio"] >= 90 / (100 / 32) * 0.999


def test_padding_waste_hand_fixture(spark, tmp_path):
    """Padding accounting on a 4-doc corpus with batch size 32 (one
    batch): waste = 4 * max - sum for BOTH strategies when everything
    fits one batch, and length_sorted can never waste more than
    arrival order."""

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "src0", 5),
         (2, "a", "en", "src0", 1),
         (3, "a b", "en", "src0", 3),
         (4, "a b c d", "en", "src0", 7)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = str(tmp_path / "mini")
    docs.write.parquet(f"{d}/documents.parquet")
    out = {
        r["strategy"]: r
        for r in QUERIES["padding_waste_report"](spark, d).collect()
    }
    # tokens: 3 + 1 + 2 + 4 = 10; one batch of 4, max 4 -> cap 16
    for s in ("arrival", "length_sorted"):
        assert out[s]["n_batches"] == 1
        assert out[s]["total_tokens"] == 10
        assert out[s]["padded_tokens"] == 6
    assert out["length_sorted"]["waste_pct"] <= out["arrival"]["waste_pct"]


def test_padding_waste_null_text_is_zero_len_sequence(spark, null_corpus):
    rows = {
        r.strategy: r
        for r in QUERIES["padding_waste_report"](spark, null_corpus).collect()
    }
    # all 5 docs (incl. 2 NULL) occupy batch slots; real tokens = 9
    for r in rows.values():
        assert r.total_tokens == 9
    assert set(rows) == {"arrival", "length_sorted"}


def test_histogram_estimator_interpolates_exactly(spark, tmp_path):
    """On a perfectly uniform integer column the equi-depth estimate
    must be exact (zero relative error) for any threshold that lands
    on a bucket boundary of the uniform grid."""
    # 3200 rows, values 100..320000 step 100 -> buckets of equal
    # width (full orders schema: the reader's contract fails fast on
    # missing columns)
    import datetime as dt

    from logicash_etl_spark.schemas import ORDERS

    rows = [
        (
            i,
            i % 7,
            "F",
            float((i + 1) * 100),
            dt.datetime(2024, 1, 1),
            "1-URGENT",
        )
        for i in range(3200)
    ]
    spark.createDataFrame(rows, ORDERS).write.parquet(
        f"{tmp_path}/orders.parquet"
    )

    got = {
        r["threshold"]: r
        for r in QUERIES["histogram_selectivity_report"](
            spark, str(tmp_path)
        ).collect()
    }
    # threshold 150000 -> exactly 1500 of 3200 rows
    assert got[150000.0]["actual_rows"] == 1500
    assert abs(got[150000.0]["est_rows"] - 1500) < 2
    assert abs(got[150000.0]["rel_err_pct"]) < 0.15
