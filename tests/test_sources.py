"""Unit tests for the sources layer: CSV round-trips, schema
validation failures, the lot datasource and the shard writer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logicash_etl_spark import schemas as S
from logicash_etl_spark.sources.readers import (
    SchemaMismatchError,
    read_csv_dir,
    read_parquet,
)


def test_csv_roundtrip_with_schema(spark, tmp_path):
    df = spark.range(10).select(
        F.concat(F.lit("ATM-"), F.col("id")).alias("id_atm"),
        F.lit("Lima").alias("ubicacion"),
        F.lit(-12.0).alias("latitud"),
        F.lit(-77.0).alias("longitud"),
        F.lit(100000).cast("long").alias("capacidad_maxima"),
        F.lit("NCR").alias("modelo"),
        F.lit("OPERATIVO").alias("estado"),
    )
    out = str(tmp_path / "dim")
    df.write.option("header", "true").csv(out)
    back = read_csv_dir(spark, out, schema=S.DIM_ATMS)
    assert back.count() == 10
    assert back.schema["capacidad_maxima"].dataType == T.LongType()


def test_schema_mismatch_fails_loudly(spark, tmp_path):
    """The reference's schema-drift bug class (SURVEY 1.3): a source
    missing registered columns must raise, not silently null-fill."""
    out = str(tmp_path / "bad")
    spark.range(3).select(F.col("id").alias("wrong_col")).write.parquet(out)
    with pytest.raises(SchemaMismatchError, match="missing columns"):
        read_parquet(spark, out, S.DIM_ATMS)


def test_json_lines_roundtrip_and_quarantine(spark, tmp_path):
    """read_json_lines: schema-first scan; malformed rows survive in
    the corrupt column instead of dropping or failing."""
    from pyspark.sql import types as T

    from logicash_etl_spark.sources.readers import read_json_lines

    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"id": 1, "v": 10.5}\n'
        '{"id": 2, "v": 20.0}\n'
        'THIS IS NOT JSON\n'
        '{"id": 4, "v": null}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    df = read_json_lines(spark, str(p), schema)
    rows = df.collect()
    assert len(rows) == 4
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r.id for r in good} == {1, 2, 4}
    assert len(bad) == 1 and "NOT JSON" in bad[0]["_corrupt_record"]


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC write/read round-trip preserves the fixture rows; validated
    reads reorder/select to the registered schema."""
    from logicash_etl_spark import schemas as S
    from logicash_etl_spark.sources.readers import read_orc, read_table

    nation = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation.orc")
    nation.write.mode("overwrite").orc(path)
    back = read_orc(spark, path, S.FIXTURE_TABLES["nation"])
    assert back.columns == nation.columns
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_orc_schema_mismatch_fails_loudly(spark, tmp_path):
    from pyspark.sql import types as T

    from logicash_etl_spark.sources.readers import SchemaMismatchError, read_orc

    df = spark.range(3).select(F.col("id").alias("a"))
    path = str(tmp_path / "t.orc")
    df.write.mode("overwrite").orc(path)
    want = T.StructType([T.StructField("nope", T.LongType())])
    import pytest as _pytest

    with _pytest.raises(SchemaMismatchError, match="nope"):
        read_orc(spark, path, want)


def test_token_balanced_shard_writer_end_to_end(spark, sf_smoke, tmp_path):
    """The full shard-writer path: global_prefix_sum assigns ~2000-token
    shards, write_parquet_partitioned lays them out one directory per
    shard — and every shard directory (except the tail) must land
    within a 2x token band of the budget, with no doc split across
    shards and none lost."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.partitioning import global_prefix_sum
    from logicash_etl_spark.operators.text import tokens
    from logicash_etl_spark.sources.readers import read_table
    from logicash_etl_spark.sources.writers import write_parquet_partitioned

    docs = read_table(spark, sf_smoke, "documents")
    toks = docs.select("doc_id", "text", F.size(tokens("text")).alias("n_tokens"))
    cum = global_prefix_sum(toks, "doc_id", "n_tokens", out_col="start_tok")
    sharded = cum.withColumn("shard", (F.col("start_tok") / 2000).cast("int"))
    out = str(tmp_path / "shards")
    write_parquet_partitioned(sharded, out, ["shard"])

    back = spark.read.parquet(out)
    # no doc lost or duplicated
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    per = {
        r.shard: r.t
        for r in back.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    }
    last = max(per)
    for shard, t in per.items():
        if shard != last:
            # a shard's token load is the budget +- one boundary doc
            # (docs are never split), so non-tail shards sit in a
            # max-doc-sized band around 2000
            assert 2000 - 600 < t < 2000 + 600, (shard, t)
    # physical layout: one directory per shard, one compacted file each
    import os

    dirs = [d for d in os.listdir(out) if d.startswith("shard=")]
    assert len(dirs) == len(per)


def test_lot_datasource_reads_only_ready_lots(spark, tmp_path):
    """Custom Python DataSource (Spark 4 API): the _READY-flag lot
    protocol as a batch format — unflagged lots are invisible, each
    data file becomes its own input partition."""
    import os

    from pyspark.sql import functions as F

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    root = str(tmp_path / "lots")
    for lot, ready, vals in [
        ("lot_a", True, [(1, "x", 1.5), (2, "y", 2.5)]),
        ("lot_b", False, [(3, "z", 3.5)]),        # mid-upload: no flag
        ("lot_c", True, [(4, "w", 4.5)]),
    ]:
        d = os.path.join(root, lot, "fact")
        os.makedirs(d)
        # two files in lot_a -> two partitions from one lot
        chunks = [vals[:1], vals[1:]] if len(vals) > 1 else [vals]
        for i, chunk in enumerate(chunks):
            if not chunk:
                continue
            with open(os.path.join(d, f"part-{i}.csv"), "w") as fh:
                fh.write("id,name,amount\n")
                for r in chunk:
                    fh.write(",".join(map(str, r)) + "\n")
        if ready:
            with open(os.path.join(root, lot, "_READY"), "w") as fh:
                fh.write("ok\n")

    register_lot_source(spark)
    df = (
        spark.read.format("logicash_lot")
        .schema("id long, name string, amount double")
        .option("path", root)
        .load()
    )
    rows = {(r.id, r.name, r.amount) for r in df.collect()}
    assert rows == {(1, "x", 1.5), (2, "y", 2.5), (4, "w", 4.5)}
    # one input partition per data file (3 files across ready lots)
    parts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert parts == 3


def test_lot_datasource_write_two_phase_commit(spark, tmp_path):
    """Writer side: df.write.format('logicash_lot') — part files land
    in phase 1, the _READY flag lands only in commit(); a failed write
    leaves NO flag, so readers (which gate on the flag) see nothing."""
    import os

    from pyspark.sql import functions as F

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    register_lot_source(spark)
    out = str(tmp_path / "lot_ok")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 1.5).alias("v")
    )
    df.repartition(3).write.format("logicash_lot").mode("append").option(
        "path", out
    ).save()
    assert os.path.exists(os.path.join(out, "_READY"))
    assert os.path.exists(os.path.join(out, "data"))
    back = (
        spark.read.format("logicash_lot")
        .schema("id long, k long, v double")
        .option("path", out)
        .load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # abort path: a poisoned partition fails the job -> no flag, and a
    # reader over the directory sees an EMPTY frame (never a partial lot)
    bad_dir = str(tmp_path / "lot_bad")

    @F.udf("long")
    def boom(x):
        raise RuntimeError("poisoned row")

    bad = spark.range(10).select(boom(F.col("id")).alias("id"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        bad.write.format("logicash_lot").mode("append").option("path", bad_dir).save()
    assert not os.path.exists(os.path.join(bad_dir, "_READY"))
    empty = (
        spark.read.format("logicash_lot")
        .schema("id long")
        .option("path", bad_dir)
        .load()
    )
    assert empty.count() == 0


def test_lot_datasource_filter_pushdown(spark, tmp_path):
    """pushFilters: supported comparisons evaluate inside the source
    (the scan's plan advertises them as pushed), unsupported ones are
    handed back — and results match post-scan filtering exactly."""
    import os

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    root = str(tmp_path / "lots" / "lot_a")
    os.makedirs(os.path.join(root, "t"))
    with open(os.path.join(root, "t", "part-0.csv"), "w") as fh:
        fh.write("id,name,amount\n")
        for i in range(100):
            fh.write(f"{i},n{i % 7},{i * 1.5}\n")
    with open(os.path.join(root, "_READY"), "w") as fh:
        fh.write("ok\n")

    register_lot_source(spark)

    def load():
        return (
            spark.read.format("logicash_lot")
            .schema("id long, name string, amount double")
            .option("path", str(tmp_path / "lots"))
            .load()
        )

    pushed = load().filter("id > 90 AND name = 'n6' AND amount IS NOT NULL")
    expect = [r for r in load().collect() if r.id > 90 and r.name == "n6"]
    assert sorted(map(tuple, pushed.collect())) == sorted(map(tuple, expect))
    # all three predicates were accepted by pushFilters, so Spark
    # plans NO post-scan Filter node at all — the proof of pushdown
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan logicash_lot" in plan
    assert " Filter " not in plan  # physical Filter node absent

    # an unsupported predicate (endswith) is handed back: Spark keeps
    # a post-scan Filter node for it, and results stay correct
    ew = load().filter("name LIKE '%6' AND id <= 20")
    got = sorted(r.id for r in ew.collect())
    want = sorted(i for i in range(21) if f"n{i % 7}".endswith("6"))
    assert got == want
    assert " Filter " in ew._jdf.queryExecution().executedPlan().toString()


def test_lot_datasource_overwrite_and_append_generations(spark, tmp_path):
    """Writer mode semantics: overwrite clears the prior generation
    (no stale parts when the new write has fewer partitions) and
    re-flags only after the new parts land; append to an
    already-flagged lot stages invisibly and adds a generation."""
    import os

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    register_lot_source(spark)
    out = str(tmp_path / "lot_gen")

    def write(lo, hi, parts, mode):
        spark.range(lo, hi).repartition(parts).write.format(
            "logicash_lot"
        ).mode(mode).option("path", out).save()

    def read_ids():
        df = (
            spark.read.format("logicash_lot")
            .schema("id long")
            .option("path", out)
            .load()
        )
        return sorted(r.id for r in df.collect())

    write(0, 100, 4, "append")
    assert read_ids() == list(range(100))
    n_parts_gen1 = len(os.listdir(os.path.join(out, "data")))
    assert n_parts_gen1 == 4

    # overwrite with FEWER partitions: no stale gen-1 parts survive
    write(100, 110, 1, "overwrite")
    assert read_ids() == list(range(100, 110))
    assert len(os.listdir(os.path.join(out, "data"))) == 1

    # append onto the flagged lot: both generations visible, no
    # staging residue, flag restored with the summed row count
    write(200, 205, 2, "append")
    assert read_ids() == list(range(100, 110)) + list(range(200, 205))
    leftovers = [
        d for d in os.listdir(os.path.join(out, "data")) if d.startswith(".")
    ]
    assert leftovers == []
    with open(os.path.join(out, "_READY")) as fh:
        content = fh.read().strip()
    assert content.startswith("rows=15 gen=")  # summed count + commit token


def test_lot_pushdown_declines_untyped_columns(tmp_path):
    """pushFilters must NOT claim comparisons on columns whose parsed
    value stays a string (Date/Timestamp/Decimal): Spark pushes typed
    literals there, and a claimed-but-untyped compare silently drops
    rows (Spark adds no residual Filter for claimed predicates)."""
    import datetime

    from pyspark.sql import types as T
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from logicash_etl_spark.sources.lot_datasource import _LotReader

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("m", T.DecimalType(18, 2)),
        ]
    )
    r = _LotReader(schema, {"path": str(tmp_path)})
    filters = [
        GreaterThan(("id",), 5),                        # claimable
        EqualTo(("d",), datetime.date(2024, 1, 1)),      # must decline
        EqualTo(("ts",), datetime.datetime(2024, 1, 1)),  # must decline
        GreaterThan(("m",), 10),                         # must decline
    ]
    returned = list(r.pushFilters(filters))
    assert len(r._preds) == 1 and r._preds[0][0] == 0
    assert len(returned) == 3


def test_lot_overwrite_abort_preserves_prior_generation(spark, tmp_path):
    """An overwrite that FAILS must leave the previously committed
    generation untouched: the old flag and parts die only inside
    commit(), never at write planning, so abort() has nothing to
    restore."""
    import os

    from pyspark.sql import functions as F

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    register_lot_source(spark)
    out = str(tmp_path / "lot_safe")
    spark.range(10).write.format("logicash_lot").mode("append").option(
        "path", out
    ).save()
    assert os.path.exists(os.path.join(out, "_READY"))

    @F.udf("long")
    def boom(x):
        raise RuntimeError("poisoned")

    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.range(5).select(boom(F.col("id")).alias("id")).write.format(
            "logicash_lot"
        ).mode("overwrite").option("path", out).save()

    # the old generation is fully intact and still readable
    assert os.path.exists(os.path.join(out, "_READY"))
    back = (
        spark.read.format("logicash_lot")
        .schema("id long")
        .option("path", out)
        .load()
    )
    assert sorted(r.id for r in back.collect()) == list(range(10))
