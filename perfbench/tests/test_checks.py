"""The benchmark's own checks: each rejects a perturbed answer, and the
lot generator is deterministic and reproduces the reference's dirt
rates. Run with ``python3 -m pytest perfbench/tests -q`` from the
repository root; needs no SparkSession."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pyarrow.compute as pc
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import canon  # noqa: E402
import etl_check  # noqa: E402
import lotgen  # noqa: E402

AS_OF = lotgen.AS_OF


def _changed_cell(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    col = out.columns[-1]
    out.loc[out.index[0], col] = out[col].iloc[0] + 1
    return out


def test_digest_ignores_row_and_column_order_and_number_type():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1, 2]})
    b = pd.DataFrame({"v": [2.0, 1.0], "k": ["y", "x"]})
    assert canon.digest(a) == canon.digest(b)


@pytest.mark.parametrize("perturb", [_changed_cell, lambda df: df.iloc[1:]], ids=["changed_cell", "dropped_row"])
def test_query_digest_rejects_perturbed_answer(perturb):
    df = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.5, 2.5, 3.5]})
    assert canon.mismatch(canon.digest(df), canon.digest(df)) is None
    assert canon.mismatch(canon.digest(df), canon.digest(perturb(df))) is not None


def test_generator_is_deterministic():
    a, b = lotgen.gen_fact(5_000, 50, 7), lotgen.gen_fact(5_000, 50, 7)
    assert a.equals(b)
    assert lotgen.gen_dim(50, 7).equals(lotgen.gen_dim(50, 7))
    assert not a.equals(lotgen.gen_fact(5_000, 50, 8))


def _within_binomial(k: int, n: int, p: float, z: float = 4.0) -> bool:
    return abs(k - n * p) <= z * math.sqrt(n * p * (1 - p))


def test_generator_reproduces_reference_rates():
    n = 200_000
    fact = lotgen.gen_fact(n, 500, 11)
    con = duckdb.connect()
    con.register("f", fact)
    null_fk, future, negative, retiro, exitosa, fallida, lo, hi, oldest = con.execute(
        f"""SELECT count(*) - count(id_atm),
                  sum((fecha > '{AS_OF}')::INT),
                  sum((monto LIKE '-%')::INT),
                  sum((tipo_movimiento = 'RETIRO')::INT),
                  sum((status_transaccion = 'EXITOSA')::INT),
                  sum((status_transaccion = 'FALLIDA')::INT),
                  min(abs(CAST(monto AS DECIMAL(18,2)))), max(abs(CAST(monto AS DECIMAL(18,2)))),
                  min(CAST(replace(replace(fecha, 'T', ' '), 'Z', '') AS TIMESTAMP))
           FROM f"""
    ).fetchone()
    assert _within_binomial(null_fk, n, lotgen.NULL_FK_RATE)
    assert _within_binomial(future, n, lotgen.FUTURE_RATE)
    assert _within_binomial(negative, n, lotgen.NEGATIVE_RATE)
    assert _within_binomial(retiro, n, 0.80)
    assert _within_binomial(exitosa, n, 0.90)
    assert _within_binomial(fallida, n, 0.05)
    assert float(lo) >= 10.00 and float(hi) <= 8000.00
    assert str(oldest) >= "2024-01-01"  # 730 days before as_of
    assert pc.all(pc.starts_with(fact["fecha"], "20")).as_py()


@pytest.fixture(scope="module")
def lot_outputs(tmp_path_factory):
    """A small lot and outputs computed from it with DuckDB in the
    pipeline's layout (day-partitioned silver, quarantine, gold), so the
    check can be exercised without a SparkSession."""
    root = tmp_path_factory.mktemp("lot")
    raw, silver, gold = f"{root}/raw", f"{root}/silver", f"{root}/gold"
    lotgen.write_lot(raw, 20_000, 20, 3)
    con = duckdb.connect()
    con.execute(etl_check._BRONZE.format(raw=raw, as_of=AS_OF))
    os.makedirs(f"{silver}/quarantine")
    con.execute(
        f"COPY (SELECT * EXCLUDE (cents), CAST(monto AS DECIMAL(18,2)) AS monto2 FROM clean) "
        f"TO '{silver}/transactions' (FORMAT parquet, PARTITION_BY (fecha_dia))"
    )
    con.execute(
        f"COPY (SELECT * FROM flagged WHERE v_null_fk OR v_non_positive_amount OR v_future_date "
        f"OR v_failed_status) TO '{silver}/quarantine/part-0.parquet' (FORMAT parquet)"
    )
    names = {
        "dim_atms": "id_atm, ubicacion, modelo, capacidad_maxima, latitud, longitud, estado",
        "rpt_diario_balance": "id_atm, fecha_dia, total_transacciones, total_depositos, total_retiros, flujo_neto_dia",
        "top_atms_ranking": "id_atm, ubicacion, modelo, total_transacciones, dinero_total_movido, "
        "monto_promedio, ranking",
    }
    for name, cols in names.items():
        sql = etl_check._GOLD[name][0]
        if name == "rpt_diario_balance":
            sql = f"SELECT c0, c1, c2, c3 / 100, c4 / 100, c5 / 100 FROM ({sql}) t(c0, c1, c2, c3, c4, c5)"
        os.makedirs(f"{gold}/{name}")
        con.execute(
            f"COPY (SELECT * FROM ({sql}) t({cols})) TO '{gold}/{name}/part-0.parquet' (FORMAT parquet)"
        )
    total, *v, clean = con.execute(etl_check._REPORT).fetchone()
    report = dict(zip(
        ["total_rows", "null_fk_violations", "non_positive_amount_violations", "future_date_violations",
         "failed_status_violations", "clean_rows"], [total, *v, clean]))
    validate = {k: etl_check._rows(con, sql) for k, sql in etl_check._VALIDATE.items()}
    con.close()
    return raw, silver, gold, report, validate


def test_lot_check_accepts_correct_outputs(lot_outputs):
    raw, silver, gold, report, validate = lot_outputs
    assert etl_check.check_lot(raw, silver, gold, AS_OF, report, validate) == []


def test_lot_check_rejects_changed_count(lot_outputs):
    raw, silver, gold, report, validate = lot_outputs
    bad = dict(report, future_date_violations=report["future_date_violations"] + 1)
    assert etl_check.check_lot(raw, silver, gold, AS_OF, bad, validate)


@pytest.mark.parametrize("kind", ["changed_cell", "dropped_row"])
def test_lot_check_rejects_perturbed_validate(lot_outputs, kind):
    raw, silver, gold, report, validate = lot_outputs
    rows = list(validate["daily_summary"])
    if kind == "changed_cell":
        rows[0] = rows[0][:1] + (rows[0][1] + 1,) + rows[0][2:]
    else:
        rows = rows[1:]
    assert etl_check.check_lot(raw, silver, gold, AS_OF, report, dict(validate, daily_summary=rows))


@pytest.mark.parametrize("kind", ["changed_cell", "dropped_row"])
def test_lot_check_rejects_perturbed_gold(lot_outputs, tmp_path, kind):
    raw, silver, gold, report, validate = lot_outputs
    bad_gold = f"{tmp_path}/gold"
    con = duckdb.connect()
    for name in etl_check._GOLD:
        os.makedirs(f"{bad_gold}/{name}")
        src = f"read_parquet('{gold}/{name}/*.parquet')"
        if name == "rpt_diario_balance":
            src = (
                f"(SELECT * REPLACE (total_transacciones + (row_number() OVER () = 1)::INT AS total_transacciones) "
                f"FROM {src})" if kind == "changed_cell" else f"(SELECT * FROM {src} OFFSET 1)"
            )
        con.execute(f"COPY (SELECT * FROM {src}) TO '{bad_gold}/{name}/part-0.parquet' (FORMAT parquet)")
    con.close()
    problems = etl_check.check_lot(raw, silver, bad_gold, AS_OF, report, validate)
    assert any("rpt_diario_balance" in p for p in problems)
