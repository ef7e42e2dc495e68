"""SparkSession factory with scale-aware defaults.

Reference parity: the reference enables AQE + partition coalescing
(qa/validate_data_fast.py:30-31) and relies on broadcast-join hints for
small dimensions (glue_jobs/etl_job.py:68-71). We bake those in at the
session level, plus the settings a 1000-executor / 100 TB deployment
needs from day one: adaptive skew-join handling, Arrow-batched Python
interop, UTC session time zone (deterministic oracle comparison), and
ANSI-off decimal behavior pinned explicitly.

Locally we run ``local[N]``; on a real cluster the same config applies
unchanged except ``master``/``shuffle.partitions`` which deployments
override via ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions: ~cores locally. On a real cluster this should be
# 2-3x total executor cores (or left to AQE's coalescing with a high
# initial value); exposed via env/extra_conf so deployments can size it.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def session_config(cpus: str | int | None = None) -> dict[str, str]:
    """The engine's default Spark conf, as a plain dict (testable)."""
    n = str(cpus or _DEFAULT_CPUS)
    return {
        "spark.sql.shuffle.partitions": n,
        # AQE: runtime re-planning — coalesce small post-shuffle
        # partitions, convert to broadcast joins when a side turns out
        # small, split skewed partitions. (reference: validate_data_fast)
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # runtime Bloom-filter pushdown: a selective dim filter becomes
        # a bloom filter applied at the fact scan — default-on in this
        # Spark, pinned because 100 TB plans depend on it
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # Predicate pushdown into custom PYTHON data sources
        # (sources/lot_datasource.py implements pushFilters): rows are
        # dropped during the source parse instead of post-scan.
        "spark.sql.python.filterPushdown.enabled": "true",
        # Arrow for any Python<->JVM pandas interchange (pandas UDFs,
        # toPandas) — the only sanctioned slow path.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Deterministic timestamps vs external oracles (DuckDB is
        # UTC-naive); also what a multi-region cluster should pin.
        "spark.sql.session.timeZone": "UTC",
        # Money is DecimalType(18,2) (reference etl_job.py:105-109);
        # pin decimal op behavior so AVG/division scale is stable.
        "spark.sql.decimalOperations.allowPrecisionLoss": "true",
        # Parquet: vectorized reader on (default, pinned for clarity);
        # size split partitions for large scans.
        "spark.sql.parquet.enableVectorizedReader": "true",
        # zstd: ~30% smaller than snappy at similar scan speed — at
        # 100 TB that is 30 TB less storage and network per full scan
        "spark.sql.parquet.compression.codec": "zstd",
        # Some producers write TIMESTAMP(NANOS) parquet (e.g. pandas
        # datetime64[ns]); Spark has no nanos timestamp — read as long
        # and convert at the reader layer (sources/readers.py).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Naive parquet timestamps (isAdjustedToUTC=false) read as LTZ,
        # not TIMESTAMP_NTZ: one engine-wide timestamp type (UTC wall
        # clock) keeps epoch casts and event-time frames valid.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "128m",
        # Broadcast threshold: dims < 200MB are broadcast in the
        # reference's heuristic; Spark's 10MB default is conservative —
        # raise modestly, AQE handles the rest at runtime.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def _driver_mem() -> str:
    """Driver heap sized to the machine: 40% of RAM, 2-8 GB. A heap
    larger than the machine lets the JVM grow until the kernel kills it
    (a 48g default reached 14.5 GB RSS on a 16 GB host)."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(2, min(8, int(ram_gb * 0.4)))}g"


def get_spark(
    app_name: str = "logicash_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for the test /
    bench environment; cluster deployments pass their own master or
    rely on spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = session_config(cpus)
    # local mode: one JVM; driver memory is the only memory knob.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_mem())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
