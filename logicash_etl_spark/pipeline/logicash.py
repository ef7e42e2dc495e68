"""The LogiCash-shaped medallion pipeline, end-to-end in one
SparkSession — the whole reference architecture (EP1, SURVEY.md section 3)
collapsed into a library call:

  extract    bronze CSV lot -> schema-validated DataFrames
             (glue_jobs/etl_job.py:45-60, but explicit schemas)
  transform  broadcast join fact x dim -> single-pass DQ accounting ->
             quality filter -> derive fecha_dia -> money cast
             (etl_job.py:68-109; per-rule counts in ONE pass, not four)
  load       Silver: day-partitioned idempotent parquet (etl_job.py:130-132)
  gold       dim_atms (SCD1), rpt_diario_balance (conditional pivot),
             top_atms_ranking (agg + window label) — sql/ddl_gold.sql:22-62
             as Spark SQL CTAS over the session catalog + parquet export
             (the Redshift COPY/UNLOAD legs become reads/writes)
  validate   the QA queries (qa/validate_data.py) as library calls

Gold and validate consume the silver frame the load step just wrote,
not a re-read of its 730 day directories. The frame holds exactly the
rows on disk: the overwrite is static, so the directory holds only this
run's rows; the frame's columns and types are those a re-read infers
(``fecha_dia`` a date and last, ``monto`` decimal(18,2)); and the
quality gate's ``now`` is one literal per run, so every action over the
frame filters the same rows. It is a filter over the ``joined`` frame
``transform`` persists, so each consumer reads the run's cache, not
the bronze CSVs.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logicash_etl_spark import schemas as S
from logicash_etl_spark.dq.rules import logicash_rules
from logicash_etl_spark.functions.money import davg, dsum, money
from logicash_etl_spark.operators.aggregates import scd1_latest
from logicash_etl_spark.operators.caching import cache_scope, scoped_persist
from logicash_etl_spark.operators.joins import enrich
from logicash_etl_spark.operators.windows import ranked
from logicash_etl_spark.pipeline.runner import Pipeline, Step
from logicash_etl_spark.sources.readers import read_csv_dir
from logicash_etl_spark.sources.writers import write_parquet, write_parquet_partitioned


@dataclass
class LogicashConfig:
    """Replaces getResolvedOptions job args (etl_job.py:26-33)."""

    raw_dir: str
    silver_dir: str
    gold_dir: str
    as_of: str | None = None  # injectable 'now' for reproducible runs


def extract(spark: SparkSession, cfg: LogicashConfig) -> tuple[DataFrame, DataFrame]:
    dim = read_csv_dir(spark, f"{cfg.raw_dir}/dim_atms", schema=S.DIM_ATMS)
    fact = read_csv_dir(spark, f"{cfg.raw_dir}/fact_transactions", schema=S.FACT_TRANSACTIONS)
    return dim, fact


def transform(
    dim: DataFrame, fact: DataFrame, cfg: LogicashConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (silver, quarantine, dq_report[1 row]).

    The quality gate's ``now`` is resolved once, here: an unset
    ``cfg.as_of`` becomes the driver's UTC clock as a literal, so the
    report, both writes and every consumer of silver apply the same
    ``fecha <= now`` cut."""
    as_of = F.to_timestamp(F.lit(cfg.as_of)) if cfg.as_of else F.lit(datetime.now(timezone.utc))
    rules = logicash_rules(as_of)
    joined = enrich(fact, dim, on="id_atm", how="left")
    # one source scan serves report + both splits; released when the
    # run's cache_scope ends
    joined = scoped_persist(joined)
    report = rules.violation_counts(joined)
    clean, quarantine = rules.split(joined)
    silver = clean.withColumn("fecha_dia", F.to_date("fecha")).withColumn(
        "monto", money("monto")
    )
    return silver, quarantine, report


def build_gold(silver: DataFrame) -> dict[str, DataFrame]:
    """The three gold tables (ddl_gold.sql:22-62).

    dim_atms uses correct SCD1 latest-wins (row_number by fecha desc)
    instead of the reference's duplicate-prone SELECT DISTINCT
    (SURVEY.md section 7.5) — the DISTINCT variant is distinct_dedup() if
    bug-compatibility is ever needed.
    """
    dim_cols = [
        "id_atm", "ubicacion", "modelo", "capacidad_maxima", "latitud", "longitud", "estado",
    ]
    gold_dim = scd1_latest(
        silver.select(*dim_cols, "fecha"), pk=["id_atm"], order_by="fecha"
    ).drop("fecha")

    balance = silver.groupBy("id_atm", "fecha_dia").agg(
        F.count("*").alias("total_transacciones"),
        F.sum(F.when(F.col("tipo_movimiento") == "DEPOSITO", F.col("monto")).otherwise(
            F.lit(0).cast("decimal(18,2)"))).alias("total_depositos"),
        F.sum(F.when(F.col("tipo_movimiento") == "RETIRO", F.col("monto")).otherwise(
            F.lit(0).cast("decimal(18,2)"))).alias("total_retiros"),
    ).withColumn("flujo_neto_dia", F.col("total_depositos") - F.col("total_retiros"))

    ranking_base = silver.groupBy("id_atm", "ubicacion", "modelo").agg(
        F.count("*").alias("total_transacciones"),
        dsum("monto", "dinero_total_movido"),
        davg("monto", "monto_promedio"),
    )
    gold_rank = ranked(  # bounded by |ATMs|
        ranking_base,
        order_by=[F.col("dinero_total_movido").desc(), F.col("id_atm").asc()],
    )
    return {
        "dim_atms": gold_dim,
        "rpt_diario_balance": balance,
        "top_atms_ranking": gold_rank,
    }


def validate(spark: SparkSession, silver: DataFrame) -> dict[str, DataFrame]:
    """Post-load QA (qa/validate_data.py:93-148): top ATMs, daily
    summary, null audit, range audit — via temp view + SQL (EP2) to
    exercise the SQL-over-views surface the reference uses."""
    silver.createOrReplaceTempView("transactions_clean")
    top = spark.sql(
        """
        SELECT id_atm, ubicacion, count(*) AS num_transacciones,
               CAST(ROUND(SUM(monto), 2) AS DOUBLE) AS dinero_total,
               CAST(ROUND(AVG(monto), 2) AS DOUBLE) AS monto_promedio
        FROM transactions_clean GROUP BY id_atm, ubicacion
        ORDER BY dinero_total DESC, id_atm LIMIT 5
        """
    )
    daily = spark.sql(
        """
        SELECT fecha_dia, count(*) AS total_transacciones,
               CAST(ROUND(SUM(monto), 2) AS DOUBLE) AS monto_total,
               CAST(MIN(monto) AS DOUBLE) AS monto_minimo,
               CAST(MAX(monto) AS DOUBLE) AS monto_maximo
        FROM transactions_clean GROUP BY fecha_dia ORDER BY fecha_dia DESC
        """
    )
    audit = spark.sql(
        """
        SELECT count(*) AS total_rows,
               count(id_atm) AS id_atm_non_null,
               COUNT(CASE WHEN monto <= 0 THEN 1 END) AS non_positive_monto,
               count(DISTINCT id_atm) AS distinct_atms
        FROM transactions_clean
        """
    )
    return {"top_atms": top, "daily_summary": daily, "audit": audit}


def run_logicash_pipeline(spark: SparkSession, cfg: LogicashConfig) -> dict:
    """The full EP1 DAG as a Pipeline; every step idempotent. Frames the
    steps persist are released when the run ends, so a driver can run
    lot after lot without accumulating cached data.

    Every write overwrites, so a run that fails partway is recovered by
    running the lot again into the same directories. A lot whose
    directories are missing fails at extract with ``PATH_NOT_FOUND``
    and writes nothing. A lot of header-only CSVs runs through: the
    report counts zeros, quarantine and the three gold tables hold 0
    rows, and validate's audit row is ``(0, 0, 0, 0)``. Its
    ``silver_dir/transactions`` then holds only ``_SUCCESS`` (no day
    partition), so ``spark.read.parquet`` cannot infer a schema there;
    read it with the silver frame's schema, which gives 0 rows."""

    def _extract(ctx):
        return extract(spark, cfg)

    def _transform(ctx):
        dim, fact = ctx["extract"]
        return transform(dim, fact, cfg)

    def _load_silver(ctx):
        silver, quarantine, report = ctx["transform"]
        write_parquet_partitioned(silver, f"{cfg.silver_dir}/transactions", ["fecha_dia"])
        write_parquet(quarantine, f"{cfg.silver_dir}/quarantine")
        return report.collect()[0].asDict()

    def _gold(ctx):
        tables = build_gold(ctx["transform"][0])
        for name, df in tables.items():
            write_parquet(df, f"{cfg.gold_dir}/{name}")
        return sorted(tables)

    def _validate(ctx):
        return {k: v.collect() for k, v in validate(spark, ctx["transform"][0]).items()}

    pipe = Pipeline(
        steps=[
            Step("extract", _extract),
            Step("transform", _transform),
            Step("load_silver", _load_silver),
            Step("gold", _gold),
            Step("validate", _validate),
        ]
    )
    with cache_scope():
        return pipe.run()
