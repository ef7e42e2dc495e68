"""SCD2 semantics tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from logicash_etl_spark.operators.merge import scd2_apply, scd2_init

SCHEMA = "id_atm string, estado string, ts timestamp"


def _df(spark, rows):
    return spark.createDataFrame(
        [(a, b, dt.datetime.fromisoformat(c)) for a, b, c in rows], SCHEMA
    )


def test_scd2_history(spark):
    snap = _df(spark, [("A", "OPERATIVO", "2026-01-01T00:00:00"),
                       ("B", "OPERATIVO", "2026-01-01T00:00:00")])
    dim = scd2_init(snap, "ts")
    # batch 1: B changes, D appears, A unchanged
    upd1 = _df(spark, [("A", "OPERATIVO", "2026-02-01T00:00:00"),
                       ("B", "MANTENIMIENTO", "2026-02-01T00:00:00"),
                       ("D", "OPERATIVO", "2026-02-01T00:00:00")])
    dim = scd2_apply(dim, upd1, keys=["id_atm"], effective_ts="ts",
                     tracked_cols=["estado"])
    # batch 2: B changes again
    upd2 = _df(spark, [("B", "FUERA_DE_SERVICIO", "2026-03-01T00:00:00")])
    dim = scd2_apply(dim, upd2, keys=["id_atm"], effective_ts="ts",
                     tracked_cols=["estado"]).cache()

    # A: single current row (unchanged update was a no-op)
    a = dim.filter("id_atm = 'A'").collect()
    assert len(a) == 1 and a[0].is_current
    # B: three versions, one current, ranges chain without gaps
    b = sorted(dim.filter("id_atm = 'B'").collect(), key=lambda r: r.valid_from)
    assert [r.estado for r in b] == ["OPERATIVO", "MANTENIMIENTO", "FUERA_DE_SERVICIO"]
    assert [r.is_current for r in b] == [False, False, True]
    assert b[0].valid_to == b[1].valid_from and b[1].valid_to == b[2].valid_from
    # D: inserted as current
    d = dim.filter("id_atm = 'D'").collect()
    assert len(d) == 1 and d[0].is_current
    # invariant: exactly one current row per key
    dup = dim.filter("is_current").groupBy("id_atm").count().filter("count > 1")
    assert dup.count() == 0
    # as-of query: B's state on 2026-02-15
    asof = dim.filter(
        (F.col("id_atm") == "B")
        & (F.col("valid_from") <= "2026-02-15")
        & (F.col("valid_to") > "2026-02-15")
    ).collect()
    assert len(asof) == 1 and asof[0].estado == "MANTENIMIENTO"
    dim.unpersist()


def test_scd2_empty_tracked_raises(spark):
    """Updates carrying only keys + ts have nothing to version — a
    None changed-predicate would silently drop matched current rows,
    so the operator must refuse instead."""
    import pytest

    from logicash_etl_spark.operators.merge import scd2_apply, scd2_init

    snap = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00")], "k int, attr string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    dim = scd2_init(snap, "ts")
    upd = spark.createDataFrame(
        [(1, "2024-02-01 00:00:00")], "k int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    with pytest.raises(ValueError, match="no tracked columns"):
        scd2_apply(dim, upd, keys=["k"], effective_ts="ts")
