"""Seeded bronze-lot generator for the ``etl_lot`` workload.

Written with numpy + pyarrow, independent of the engine's own
``logicash_etl_spark.datagen``, so a program change cannot change the
benchmark's inputs. It reproduces the reference generator's
distributions (BASELINE.md): a 730-day window before ``as_of``, 1% null
FK, 1% future dates (2030-2035), 2% negative amounts, amounts
10.00-8000.00 in cents, estado 92/5/3, tipo_movimiento 80/20 and
status_transaccion 90/5/5. A lot is one CSV file per table plus a
``_READY`` flag written last, like the reference's lot convention.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv

AS_OF = "2026-01-01 00:00:00"
WINDOW_DAYS = 730
NULL_FK_RATE = 0.01
FUTURE_RATE = 0.01
NEGATIVE_RATE = 0.02
TIPO = (("RETIRO", 0.80), ("DEPOSITO", 0.20))
STATUS = (("EXITOSA", 0.90), ("FALLIDA", 0.05), ("REVERSADA", 0.05))
ESTADO = (("OPERATIVO", 0.92), ("MANTENIMIENTO", 0.05), ("FUERA_DE_SERVICIO", 0.03))
MODELOS = ("NCR", "Diebold", "Hyosung", "Wincor Nixdorf")
CAPACIDADES = (100_000, 500_000, 1_000_000)

_DAY = 86_400
_FUTURE_START = np.datetime64("2030-01-01T00:00:00", "s")
_FUTURE_SPAN_S = 5 * 365 * _DAY


def _lpad(values: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(pc.cast(pa.array(values), pa.string()), width, "0")


def _choice(rng: np.random.Generator, table: tuple, n: int) -> pa.Array:
    labels = np.array([v for v, _ in table])
    probs = [p for _, p in table]
    return pa.array(labels[rng.choice(len(labels), size=n, p=probs)])


def _iso_utc(secs: np.ndarray) -> pa.Array:
    """Epoch seconds -> 'YYYY-MM-DDTHH:MM:SS.000Z' (Spark's CSV
    timestamp form) via day and time-of-day lookup tables: formatting
    1M timestamps one by one costs seconds, two ``take``s cost ms."""
    day = secs // _DAY
    lo = int(day.min())
    days = np.arange(lo, int(day.max()) + 1).astype("datetime64[D]").astype(str)
    tod = np.arange(_DAY)
    clock = [f"T{h:02d}:{m:02d}:{s:02d}.000Z" for h, m, s in zip(tod // 3600, tod // 60 % 60, tod % 60)]
    return pc.binary_join_element_wise(
        pc.take(pa.array(days), pa.array(day - lo)),
        pc.take(pa.array(clock), pa.array(secs % _DAY)),
        "",
    )


def gen_dim(n_atms: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(1, n_atms + 1)
    return pa.table(
        {
            "id_atm": pc.binary_join_element_wise("ATM-", _lpad(ids, 3), ""),
            "ubicacion": pa.array([f"Av. Principal {i}, Lima" for i in ids]),
            "latitud": pa.array(np.round(-12.20 + rng.random(n_atms) * 0.30, 6)),
            "longitud": pa.array(np.round(-77.15 + rng.random(n_atms) * 0.25, 6)),
            "capacidad_maxima": pa.array(rng.choice(CAPACIDADES, size=n_atms)),
            "modelo": pa.array(np.array(MODELOS)[rng.integers(0, len(MODELOS), n_atms)]),
            "estado": _choice(rng, ESTADO, n_atms),
        }
    )


def gen_fact(n_tx: int, n_atms: int, seed: int, as_of: str = AS_OF) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    anchor = np.datetime64(as_of.replace(" ", "T"), "s").astype(np.int64)
    # uniform second in (as_of - 730d, as_of]; the future share moves to 2030-2035
    secs = anchor - rng.integers(0, WINDOW_DAYS * _DAY, n_tx)
    future = rng.random(n_tx) < FUTURE_RATE
    secs = np.where(
        future, _FUTURE_START.astype(np.int64) + rng.integers(0, _FUTURE_SPAN_S, n_tx), secs
    )
    cents = rng.integers(1_000, 800_001, n_tx)
    negative = rng.random(n_tx) < NEGATIVE_RATE
    atm = rng.integers(1, n_atms + 1, n_tx)
    null_fk = rng.random(n_tx) < NULL_FK_RATE
    monto = pc.binary_join_element_wise(
        pc.if_else(pa.array(negative), "-", ""),
        pc.cast(pa.array(cents // 100), pa.string()),
        ".",
        _lpad(cents % 100, 2),
        "",
    )
    return pa.table(
        {
            "id_transaccion": pc.binary_join_element_wise("TX-", _lpad(np.arange(n_tx), 8), ""),
            "id_atm": pc.if_else(
                pa.array(null_fk),
                pa.scalar(None, pa.string()),
                pc.binary_join_element_wise("ATM-", _lpad(atm, 3), ""),
            ),
            "fecha": _iso_utc(secs),
            "monto": monto,
            "tipo_movimiento": _choice(rng, TIPO, n_tx),
            "status_transaccion": _choice(rng, STATUS, n_tx),
        }
    )


def write_lot(out_dir: str, n_tx: int, n_atms: int, seed: int) -> int:
    """Write ``out_dir/{dim_atms,fact_transactions}/part-0.csv`` and then
    ``out_dir/_READY``; returns the bytes of CSV written."""
    total = 0
    # ubicacion holds commas, so the dim quotes strings; fact values never
    # do, and unquoted they are a third smaller
    tables = (
        ("dim_atms", gen_dim(n_atms, seed), "needed"),
        ("fact_transactions", gen_fact(n_tx, n_atms, seed), "none"),
    )
    for name, table, quoting in tables:
        os.makedirs(f"{out_dir}/{name}", exist_ok=True)
        path = f"{out_dir}/{name}/part-0.csv"
        pcsv.write_csv(table, path, pcsv.WriteOptions(quoting_style=quoting))
        total += os.path.getsize(path)
    with open(f"{out_dir}/_READY", "w") as fh:
        fh.write("ok\n")
    return total
