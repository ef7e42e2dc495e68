"""End-to-end test of the LogiCash-shaped medallion pipeline against
the reference's deterministic-generator invariants (SURVEY.md section 5):
known dirt rates -> computable survival; gold-table consistency;
idempotent re-runs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.datagen import gen_dim_atms, gen_fact_transactions, write_lot
from logicash_etl_spark.operators.caching import cache_scope
from logicash_etl_spark.pipeline.logicash import (
    LogicashConfig,
    build_gold,
    extract,
    run_logicash_pipeline,
    transform,
    validate,
)

AS_OF = "2026-01-01 00:00:00"


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("logicash")
    write_lot(spark, str(root / "raw"), n_atms=50, n_tx=10_000, as_of=AS_OF)
    cfg = LogicashConfig(
        raw_dir=str(root / "raw"),
        silver_dir=str(root / "silver"),
        gold_dir=str(root / "gold"),
        as_of=AS_OF,
    )
    ctx = run_logicash_pipeline(spark, cfg)
    return ctx, cfg, root


def test_generator_invariants(spark):
    dim = gen_dim_atms(spark, 50)
    assert dim.count() == 50
    assert dim.select("id_atm").distinct().count() == 50
    fact = gen_fact_transactions(spark, 10_000, as_of=AS_OF)
    r = fact.agg(
        F.count("*").alias("n"),
        F.sum(F.col("id_atm").isNull().cast("int")).alias("null_fk"),
        F.sum((F.col("monto") <= 0).cast("int")).alias("neg"),
        F.sum((F.col("fecha") > AS_OF).cast("int")).alias("future"),
        F.min("monto").alias("min_m"),
        F.max("monto").alias("max_m"),
    ).collect()[0]
    assert r.n == 10_000
    # injected rates within binomial tolerance of 1%/2%/1%
    assert 50 <= r.null_fk <= 160
    assert 120 <= r.neg <= 290
    assert 50 <= r.future <= 160
    assert float(r.max_m) <= 8000.00
    # determinism: regeneration is identical
    again = gen_fact_transactions(spark, 10_000, as_of=AS_OF)
    assert fact.exceptAll(again).count() == 0


def test_pipeline_survival_rate(pipeline_result, spark):
    ctx, cfg, root = pipeline_result
    report = ctx["load_silver"]
    total, clean = report["total_rows"], report["clean_rows"]
    assert total == 10_000
    # expected survival ~= 0.99 * 0.98 * 0.99 * 0.90 ~= 0.864
    assert 0.82 <= clean / total <= 0.91
    # single-pass accounting columns present
    for k in ("null_fk_violations", "non_positive_amount_violations",
              "future_date_violations", "failed_status_violations"):
        assert k in report
    # silver on disk matches clean count, day-partitioned
    silver = spark.read.parquet(f"{cfg.silver_dir}/transactions")
    assert silver.count() == clean
    assert "fecha_dia" in silver.columns
    # quality gate: zero violations inside silver
    bad = silver.filter(
        F.col("id_atm").isNull()
        | (F.col("monto") <= 0)
        | (F.col("fecha") > AS_OF)
        | (F.col("status_transaccion") != "EXITOSA")
    )
    assert bad.count() == 0
    # clean + quarantine == total
    quarantine = spark.read.parquet(f"{cfg.silver_dir}/quarantine")
    assert clean + quarantine.count() == total
    # quarantine rows are annotated with their violated rules
    assert quarantine.filter(F.size("violated_rules") == 0).count() == 0


def test_gold_tables(pipeline_result, spark):
    ctx, cfg, root = pipeline_result
    dim = spark.read.parquet(f"{cfg.gold_dir}/dim_atms")
    # SCD1: one row per ATM (the reference's DISTINCT could duplicate)
    assert dim.groupBy("id_atm").count().filter("count > 1").count() == 0
    balance = spark.read.parquet(f"{cfg.gold_dir}/rpt_diario_balance")
    # net flow arithmetic holds
    bad = balance.filter(
        F.col("flujo_neto_dia") != F.col("total_depositos") - F.col("total_retiros")
    )
    assert bad.count() == 0
    rank = spark.read.parquet(f"{cfg.gold_dir}/top_atms_ranking")
    n = rank.count()
    assert rank.agg(F.min("ranking"), F.max("ranking")).collect()[0] == (1, n)
    # ranking ordered by money desc
    rows = rank.orderBy("ranking").collect()
    totals = [r.dinero_total_movido for r in rows]
    assert totals == sorted(totals, reverse=True)


def test_idempotent_rerun(pipeline_result, spark):
    """L5: re-running the whole pipeline must produce identical
    outputs (overwrite semantics everywhere)."""
    ctx, cfg, root = pipeline_result
    before = spark.read.parquet(f"{cfg.gold_dir}/top_atms_ranking").collect()
    ctx2 = run_logicash_pipeline(spark, cfg)
    after = spark.read.parquet(f"{cfg.gold_dir}/top_atms_ranking").collect()
    assert sorted(map(str, before)) == sorted(map(str, after))
    assert [m["status"] for m in ctx2["__manifest__"]] == ["ok"] * 5


def test_runs_release_their_persisted_frames(pipeline_result, spark, tmp_path):
    """A long-lived driver runs lot after lot: each run must leave no
    RDD persisted that was not persisted before it. Each run reads a
    lot at its own path, as a new lot would (a re-run of the same plan
    would hit the cache entry the last run left instead of adding one).
    Ids, not a count: Spark's ContextCleaner may unpersist RDDs that
    earlier tests left behind while a run is in flight."""
    import shutil

    ctx, cfg, root = pipeline_result

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    for i in range(2):
        shutil.copytree(cfg.raw_dir, tmp_path / f"raw{i}")
        lot = LogicashConfig(
            raw_dir=str(tmp_path / f"raw{i}"),
            silver_dir=str(tmp_path / f"silver{i}"),
            gold_dir=str(tmp_path / f"gold{i}"),
            as_of=AS_OF,
        )
        before = persistent()
        run_logicash_pipeline(spark, lot)
        assert persistent() <= before


def test_golden_outputs(pipeline_result, spark):
    """Golden-file regression guard: the seeded 10k lot must produce
    byte-identical DQ accounting and top-5 ranking across engine
    versions (tests/golden_logicash.json, generated once from the
    seeded generator — SURVEY.md section 5's deterministic-ground-truth
    strategy made durable)."""
    import json
    import os

    ctx, cfg, root = pipeline_result
    with open(os.path.join(os.path.dirname(__file__), "golden_logicash.json")) as fh:
        golden = json.load(fh)
    assert ctx["load_silver"] == golden["dq_report"]
    top5 = [
        {k: (str(v) if not isinstance(v, (int, float, bool)) else v) for k, v in r.asDict().items()}
        for r in spark.read.parquet(f"{cfg.gold_dir}/top_atms_ranking")
        .orderBy("ranking").limit(5).collect()
    ]
    assert top5 == golden["top5_ranking"]
    assert spark.read.parquet(f"{cfg.gold_dir}/dim_atms").count() == golden["gold_dim_rows"]
    assert spark.read.parquet(f"{cfg.gold_dir}/rpt_diario_balance").count() == golden["balance_rows"]


def test_gold_and_validate_match_a_reread_of_silver(pipeline_result, spark):
    """Gold and validate are built from the silver frame the run wrote;
    recomputed from the day-partitioned parquet on disk, as the
    reference's CTAS over silver would, they must give the same rows."""
    ctx, cfg, root = pipeline_result
    silver = spark.read.parquet(f"{cfg.silver_dir}/transactions")
    for name, recomputed in build_gold(silver).items():
        written = spark.read.parquet(f"{cfg.gold_dir}/{name}")
        assert recomputed.exceptAll(written).count() == 0, name
        assert written.exceptAll(recomputed).count() == 0, name
    assert {k: v.collect() for k, v in validate(spark, silver).items()} == ctx["validate"]


def test_unset_as_of_is_one_literal_per_run(pipeline_result, spark, tmp_path):
    """Without ``as_of`` the quality gate's ``now`` is the driver clock,
    read once: no plan carries ``current_timestamp`` (which each action
    would evaluate anew), so the report, the silver write and validate
    count the same rows."""
    ctx, cfg, root = pipeline_result
    lot = LogicashConfig(
        raw_dir=cfg.raw_dir, silver_dir=str(tmp_path / "silver"), gold_dir=str(tmp_path / "gold")
    )
    with cache_scope():
        silver, quarantine, report = transform(*extract(spark, lot), lot)
        for df in (silver, quarantine, report):
            assert "current_timestamp" not in df._jdf.queryExecution().analyzed().toString()
    ctx2 = run_logicash_pipeline(spark, lot)
    clean = ctx2["load_silver"]["clean_rows"]
    assert spark.read.parquet(f"{lot.silver_dir}/transactions").count() == clean
    assert ctx2["validate"]["audit"][0]["total_rows"] == clean
