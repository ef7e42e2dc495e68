"""Readers.

Reference parity:
- S1 CSV directory scan with header (etl_job.py:45-60) — but engine
  policy is explicit schemas (S2, validate_data_fast.py:63-88): at
  100 TB an inference pass is a full extra scan.
- S3 parquet scan (validate_data.py:43).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logicash_etl_spark import schemas as S


class SchemaMismatchError(ValueError):
    """Raised when a source's columns do not match the registered schema.

    First-class schema contracts: the reference's QA scripts silently
    selected columns that did not exist (SURVEY.md 1.3); we fail fast
    instead.
    """


def _validate(df: DataFrame, schema: T.StructType, source: str) -> DataFrame:
    want = [f.name for f in schema.fields]
    have = df.columns
    missing = [c for c in want if c not in have]
    if missing:
        raise SchemaMismatchError(
            f"{source}: missing columns {missing}; found {have}"
        )
    return df


def read_csv_dir(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Directory CSV scan (reads every file under ``path``).

    Multi-file reads are an implicit UNION ALL handled by Spark's scan;
    at scale the file listing itself is distributed by the parquet/csv
    FileIndex, so a directory with 10^6 objects still plans.
    """
    df = spark.read.format("csv").option("header", "true").schema(schema).load(path)
    return _validate(df, schema, path)


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan; validates against the registered schema if given.

    We deliberately do NOT pass ``.schema()`` to the parquet reader —
    parquet is self-describing and a user-supplied schema silently
    null-fills missing columns. Validation post-read fails loudly.

    TIMESTAMP(NANOS) columns (Spark has no nanos type; session conf
    reads them as long) are converted to microsecond timestamps here,
    truncating like every µs-native engine does.
    """
    # Defensive: callers may hand us a session built elsewhere (e.g.
    # the verification driver) without the nanos compat conf — without
    # it any TIMESTAMP(NANOS) parquet read throws PARQUET_TYPE_ILLEGAL.
    # Runtime-settable, so pin it here rather than only at session build.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Engine timestamp semantics are UTC (to_date/date_trunc shift with
    # session TZ; oracles are UTC-naive) — pin on whatever session runs us.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet (e.g. pandas
    # datetime64[us]) would read as TIMESTAMP_NTZ under Spark 4's
    # default inference — NTZ rejects epoch casts (unix_micros, cast to
    # long) that event-time operators rely on. Engine policy: one
    # timestamp type, TIMESTAMP_LTZ with the session pinned to UTC, so
    # wall-clock values match UTC-naive oracles exactly.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    if schema is not None:
        df = _validate(df, schema, path)
        for f in schema.fields:
            if isinstance(f.dataType, T.TimestampType) and isinstance(
                df.schema[f.name].dataType, T.LongType
            ):
                # integer div: ns epoch ~1e18 exceeds double precision
                df = df.withColumn(
                    f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
                )
            elif isinstance(f.dataType, T.TimestampType) and isinstance(
                df.schema[f.name].dataType, T.TimestampNTZType
            ):
                # sessions built elsewhere may have NTZ inference on
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        df = df.select(*[f.name for f in schema.fields])
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table with schema validation."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"), S.FIXTURE_TABLES.get(name))


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """Newline-delimited JSON scan with an explicit schema (inference
    on JSON is a full extra pass AND type-unstable — a column that is
    integer in one shard and float in another silently widens).

    PERMISSIVE mode with a ``_corrupt_record`` column: malformed rows
    land there instead of failing the job or silently
    disappearing (DROPMALFORMED) — the caller decides whether to
    quarantine or fail, matching the engine's count-don't-drop DQ
    posture (dq/rules.py)."""
    full = T.StructType(schema.fields + [T.StructField("_corrupt_record", T.StringType())])
    return (
        spark.read.format("json")
        .schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .load(path)
    )


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan (self-describing, like parquet: validate after read,
    never pre-impose a schema that would null-fill)."""
    df = spark.read.orc(path)
    if schema is not None:
        df = _validate(df, schema, path)
        df = df.select(*[f.name for f in schema.fields])
    return df
