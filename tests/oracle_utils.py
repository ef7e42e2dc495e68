"""Differential-oracle harness mirroring the driver's correctness gate:
run the Spark query and the DuckDB oracle on the same parquet tables,
compare row count + column names + order-insensitive values.

Comparison is strict: doubles must match bit-for-bit (our aggregates
are decimal-exact so they do); timestamps/dates normalized to pandas
Timestamps before comparison.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
FIXTURE_SF = "/root/testdata/sf0.001"


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the fixture tables
    (``<sf_dir>/<table>.parquet``) registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def copy_fixture_tables(dst: str, overrides: dict[str, str]) -> None:
    """Copy the sf0.001 fixture tables to ``dst`` via DuckDB COPY,
    substituting the SELECT in ``overrides`` for that table. In an
    override, ``t`` is the table being copied and ``t_<name>`` any
    source table. Both engines then read the same dirty files."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW t_{t} AS SELECT * FROM read_parquet('{FIXTURE_SF}/{t}.parquet')")
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM t_{t}")
        sel = overrides.get(t, "SELECT * FROM t")
        con.execute(f"COPY ({sel}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
    con.close()


def _norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        ts = pd.Timestamp(v)
        return ts.tz_localize(None) if ts.tzinfo else ts
    if isinstance(v, _dt.date):
        return pd.Timestamp(v)
    if isinstance(v, pd.Timedelta):
        return v.to_pytimedelta()
    if hasattr(v, "ndim") and getattr(v, "ndim", 0) > 0:  # numpy array
        return tuple(_norm_cell(x) for x in v.tolist())
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _dtype_kind(s: pd.Series) -> str:
    """Collapse a pandas dtype to the kind the driver's value-hash is
    sensitive to: int-vs-float-vs-bool-vs-datetime-vs-object. Unsigned
    and signed ints hash alike; every float width hashes alike; an
    int64 column and a float64 column of equal values do NOT
    (``99 != 99.0`` under a type-sensitive hash — the exact failure
    that shipped in round 4 via DuckDB ``SUM(BIGINT)`` -> HUGEINT ->
    pandas float64). Spark DateType materializes as an object column
    of ``datetime.date`` while DuckDB DATE comes back datetime64 —
    the driver normalizes that pair (r04: date-emitting queries are
    hash-exact), so date-like object columns count as datetime."""
    k = s.dtype.kind
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in ("M", "m"):
        return "datetime"
    nn = s.dropna()
    if len(nn) and all(
        isinstance(v, (_dt.date, _dt.datetime, pd.Timestamp)) for v in nn.head(20)
    ):
        return "datetime"
    return "object"


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive canonical rows: columns sorted by name, cells
    normalised, rows sorted."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_cell(v) for v in row))
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return out


def compare(spark_df, oracle_sql: str, sf_dir: str) -> None:
    """Assert Spark result == DuckDB oracle result (driver semantics)."""
    # The driver canonicalizer (pandas sort_values) crashes on
    # array/map/struct output columns — reject them here so the local
    # gate fails wherever the driver would (round-1 lesson:
    # per_user_event_profile passed locally, failed in the driver).
    complex_cols = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in spark_df.schema.fields
        if f.dataType.simpleString().startswith(("array", "map", "struct"))
    ]
    assert not complex_cols, (
        "oracle-checked query emits non-scalar columns (driver cannot "
        f"hash them — serialize with array_join or split): {complex_cols}"
    )
    sdf = spark_df.toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(oracle_sql).df()
    finally:
        con.close()

    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"schema mismatch:\n spark={sorted(sdf.columns)}\n oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"row count mismatch: spark={len(sdf)} oracle={len(odf)}"

    # Driver-strength dtype gate: the driver's value hash is
    # type-sensitive, so an int64 Spark column vs a float64 oracle
    # column fails there even when every value compares equal in
    # Python. Guard the same class locally. Empty frames and all-null
    # object columns carry no type signal — skip those.
    if len(sdf):
        numeric = ("int", "float", "bool")
        kind_mismatches = []
        for c in sdf.columns:
            sk, ok = _dtype_kind(sdf[c]), _dtype_kind(odf[c])
            # only numeric-kind disagreement is a proven driver-hash
            # failure; object-vs-float (Decimal materialization) and
            # similar pairs are driver-tolerated per r04 evidence
            if sk == ok or sk not in numeric or ok not in numeric:
                continue
            # pandas widens nullable ints to float64/object; if either
            # side holds a null in this column the widening is an
            # artifact of materialization, not of the query's type.
            if sdf[c].isna().any() or odf[c].isna().any():
                continue
            kind_mismatches.append(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
        assert not kind_mismatches, (
            "dtype-kind mismatch (driver hash is type-sensitive — CAST "
            "the oracle or the Spark column):\n  " + "\n  ".join(kind_mismatches)
        )

    s_rows, o_rows = canon(sdf), canon(odf)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, (
        f"{len(mismatches)}/{len(s_rows)} value mismatches; first 3:\n"
        + "\n".join(f"  spark={a}\n oracle={b}" for _, a, b in mismatches[:3])
        + f"\n columns (sorted): {sorted(sdf.columns)}"
    )
