"""Canonical digests of query results, for checks that do not use the
engine.

Mirrors the catalog's oracle comparison (``tests/oracle_utils.py``):
columns sorted by name, rows compared as an unordered multiset, NaN and
None alike, dates and timestamps as naive UTC instants, doubles
bit-exact. Equal values must also digest equally when the two sides
materialise them as different Python types, so every number becomes a
float (Spark returns DECIMAL as ``Decimal``, DuckDB as ``float64``; an
integral double equals its integer) and rows are ordered by their
canonical text instead of by type.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import pandas as pd


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, (bool, int, float, decimal.Decimal)) or (
        hasattr(v, "dtype") and getattr(v, "ndim", 1) == 0 and v.dtype.kind in "biuf"
    ):
        f = float(v)
        if math.isnan(f):
            return None
        return f + 0.0  # -0.0 == 0.0
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)) or (
        hasattr(v, "dtype") and getattr(v, "ndim", 1) == 0 and v.dtype.kind == "M"
    ):
        if v is pd.NaT:
            return None
        ts = pd.Timestamp(v)
        return ("ts", (ts.tz_convert("UTC").tz_localize(None) if ts.tzinfo else ts).isoformat())
    if isinstance(v, (pd.Timedelta, dt.timedelta)):
        return ("td", pd.Timedelta(v).value)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("b", bytes(v).hex())
    if hasattr(v, "tolist"):  # numpy array or scalar
        return norm_cell(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm_cell(x)) for k, x in v.items()))
    if v is pd.NA or v is pd.NaT:
        return None
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    rows = [repr(tuple(norm_cell(v) for v in row)) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return rows


def digest(df: pd.DataFrame) -> dict:
    """``{"rows", "columns", "sha256"}`` of a result frame."""
    h = hashlib.sha256()
    cols = sorted(map(str, df.columns))
    h.update(repr(cols).encode())
    for row in canonical_rows(df):
        h.update(b"\n")
        h.update(row.encode())
    return {"rows": len(df), "columns": cols, "sha256": h.hexdigest()}


def mismatch(expected: dict, got: dict) -> str | None:
    """None when ``got`` matches ``expected``, else why not."""
    if got["columns"] != expected["columns"]:
        return f"columns {got['columns']} != {expected['columns']}"
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != {expected['rows']}"
    if got["sha256"] != expected["sha256"]:
        return "values differ"
    return None
