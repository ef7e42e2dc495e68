"""DuckDB check of one ``etl_lot`` op against the lot's bronze CSVs.

Expected values come from DuckDB over the CSVs the benchmark wrote;
actual values are the pipeline's returned DQ report and ``validate``
rows, plus its silver, quarantine and gold parquet read back by DuckDB.
Covered: the four ``logicash_rules`` violation counts at ``as_of``, the
silver and quarantine row counts, the three gold tables and the three
``validate`` results. Timestamps are UTC; averages follow Spark's
DECIMAL semantics (``avg`` rounds half-up to scale 6, ``ROUND`` to 2),
computed here in integer cents so no double rounding differs.
"""

from __future__ import annotations

import duckdb

_BRONZE = """
CREATE TEMP TABLE fact AS
SELECT id_transaccion, id_atm,
       CAST(replace(replace(fecha, 'T', ' '), 'Z', '') AS TIMESTAMP) AS fecha,
       monto, tipo_movimiento, status_transaccion
FROM read_csv('{raw}/fact_transactions/*.csv', header = true, columns = {{
  'id_transaccion': 'VARCHAR', 'id_atm': 'VARCHAR', 'fecha': 'VARCHAR',
  'monto': 'DECIMAL(18,2)', 'tipo_movimiento': 'VARCHAR', 'status_transaccion': 'VARCHAR'}});
CREATE TEMP TABLE dim AS
SELECT * FROM read_csv('{raw}/dim_atms/*.csv', header = true, columns = {{
  'id_atm': 'VARCHAR', 'ubicacion': 'VARCHAR', 'latitud': 'DOUBLE', 'longitud': 'DOUBLE',
  'capacidad_maxima': 'BIGINT', 'modelo': 'VARCHAR', 'estado': 'VARCHAR'}});
CREATE TEMP TABLE flagged AS
SELECT f.*, d.ubicacion, d.latitud, d.longitud, d.capacidad_maxima, d.modelo, d.estado,
       f.id_atm IS NULL AS v_null_fk,
       NOT coalesce(f.monto > 0, false) AS v_non_positive_amount,
       NOT coalesce(f.fecha <= TIMESTAMP '{as_of}', false) AS v_future_date,
       NOT coalesce(f.status_transaccion = 'EXITOSA', false) AS v_failed_status
FROM fact f LEFT JOIN dim d USING (id_atm);
CREATE TEMP TABLE clean AS
SELECT *, CAST(fecha AS DATE) AS fecha_dia, CAST(round(monto * 100) AS BIGINT) AS cents
FROM flagged
WHERE NOT (v_null_fk OR v_non_positive_amount OR v_future_date OR v_failed_status);
"""

_REPORT = """
SELECT count(*), sum(v_null_fk::INT), sum(v_non_positive_amount::INT),
       sum(v_future_date::INT), sum(v_failed_status::INT),
       sum((NOT (v_null_fk OR v_non_positive_amount OR v_future_date OR v_failed_status))::INT)
FROM flagged
"""

# Spark: ROUND(AVG(decimal(18,2)), 2); avg is decimal(22,6) rounded half-up
_AVG2 = "((((sum(cents) * 20000 + count(*)) // (2 * count(*))) + 5000) // 10000) / 100.0"

_VALIDATE = {
    "top_atms": f"""
        SELECT id_atm, ubicacion, count(*), sum(cents) / 100.0 AS dinero_total, {_AVG2}
        FROM clean GROUP BY id_atm, ubicacion ORDER BY dinero_total DESC, id_atm LIMIT 5""",
    "daily_summary": """
        SELECT fecha_dia, count(*), sum(cents) / 100.0, min(cents) / 100.0, max(cents) / 100.0
        FROM clean GROUP BY fecha_dia ORDER BY fecha_dia DESC""",
    "audit": """
        SELECT count(*), count(id_atm), sum(CASE WHEN monto <= 0 THEN 1 ELSE 0 END),
               count(DISTINCT id_atm)
        FROM clean""",
}

# (expected over bronze, actual parquet projection) per gold table
_GOLD = {
    "dim_atms": (
        """SELECT DISTINCT id_atm, ubicacion, modelo, capacidad_maxima, latitud, longitud, estado
           FROM clean""",
        "id_atm, ubicacion, modelo, capacidad_maxima, latitud, longitud, estado",
    ),
    "rpt_diario_balance": (
        """SELECT id_atm, fecha_dia, count(*) AS total_transacciones,
                  sum(CASE WHEN tipo_movimiento = 'DEPOSITO' THEN cents ELSE 0 END) AS dep,
                  sum(CASE WHEN tipo_movimiento = 'RETIRO' THEN cents ELSE 0 END) AS ret,
                  sum(CASE WHEN tipo_movimiento = 'DEPOSITO' THEN cents ELSE 0 END)
                  - sum(CASE WHEN tipo_movimiento = 'RETIRO' THEN cents ELSE 0 END)
           FROM clean GROUP BY id_atm, fecha_dia""",
        """id_atm, fecha_dia, total_transacciones,
           CAST(round(total_depositos * 100) AS HUGEINT), CAST(round(total_retiros * 100) AS HUGEINT),
           CAST(round(flujo_neto_dia * 100) AS HUGEINT)""",
    ),
    "top_atms_ranking": (
        """SELECT id_atm, ubicacion, modelo, count(*), sum(cents) / 100.0 AS total,
                  (sum(cents) / 100.0) / count(*),
                  row_number() OVER (ORDER BY sum(cents) DESC, id_atm)
           FROM clean GROUP BY id_atm, ubicacion, modelo""",
        "id_atm, ubicacion, modelo, total_transacciones, dinero_total_movido, monto_promedio, ranking",
    ),
}


def _rows(con, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _diff(con, expected_sql: str, actual_sql: str) -> int:
    """Rows in either side's multiset and not the other's."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql}))) "
        f"+ (SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql})))"
    ).fetchone()[0]


def check_lot(
    raw_dir: str, silver_dir: str, gold_dir: str, as_of: str,
    report: dict, validate: dict[str, list[tuple]], memory_limit: str = "1GB",
) -> list[str]:
    """Problems found with one lot's outputs; empty when all match."""
    problems = []
    con = duckdb.connect()
    try:
        con.execute(f"SET memory_limit='{memory_limit}'")
        con.execute("SET TimeZone='UTC'")
        con.execute("SET enable_progress_bar=false")
        con.execute(_BRONZE.format(raw=raw_dir, as_of=as_of))
        total, *violations, clean = con.execute(_REPORT).fetchone()
        expected_report = {
            "total_rows": total,
            "null_fk_violations": violations[0],
            "non_positive_amount_violations": violations[1],
            "future_date_violations": violations[2],
            "failed_status_violations": violations[3],
            "clean_rows": clean,
        }
        if dict(report) != expected_report:
            problems.append(f"dq report {report} != {expected_report}")
        silver = con.execute(
            f"SELECT count(*) FROM read_parquet('{silver_dir}/transactions/*/*.parquet')"
        ).fetchone()[0]
        quarantine = con.execute(
            f"SELECT count(*) FROM read_parquet('{silver_dir}/quarantine/*.parquet')"
        ).fetchone()[0]
        if (silver, quarantine) != (clean, total - clean):
            problems.append(f"silver/quarantine rows {silver}/{quarantine} != {clean}/{total - clean}")
        for name, (expected_sql, projection) in _GOLD.items():
            actual_sql = f"SELECT {projection} FROM read_parquet('{gold_dir}/{name}/*.parquet')"
            n = _diff(con, expected_sql, actual_sql)
            if n:
                problems.append(f"gold {name}: {n} rows differ")
        for name, sql in _VALIDATE.items():
            expected = _rows(con, sql)
            if [tuple(r) for r in validate[name]] != expected:
                problems.append(f"validate {name} differs (first expected {expected[:1]})")
    finally:
        con.close()
    return problems
