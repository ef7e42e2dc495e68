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

Local file system. Without native Hadoop IO, Hadoop's
``RawLocalFileSystem.setPermission`` forks a ``chmod`` process for every
file, ``.crc`` sidecar and directory it creates, so the silver day
fan-out (730 partitions) spent most of its time starting processes.
``jvm/NioLocalFileSystem.java`` is Hadoop's checksummed
``LocalFileSystem`` over a raw file system whose ``setPermission`` calls
``Files.setPosixFilePermissions`` for modes within 0777 (anything else,
such as the sticky bit, goes to Hadoop's own code), so every mode comes
out as Hadoop would set it. The session compiles it once with the JDK's
``javac`` (``$JAVA_HOME/bin``, else ``PATH``) against the Spark jars,
into ``${XDG_CACHE_HOME:-~/.cache}/logicash_etl_spark/nio-fs-<source
hash>``, puts that directory on ``spark.driver.extraClassPath`` and
registers the class as ``spark.hadoop.fs.file.impl``. In local mode the
executors run in the driver JVM, so that is enough. It replaces the
class Hadoop's service loader would pick, which with Spark's Hive jars
is Hive's ``ProxyLocalFileSystem``: the same ``LocalFileSystem`` except
that ``rename`` onto an existing file returns false instead of replacing
it (Spark's committers delete the target first). Without a ``javac`` (a
JRE-only host) the session keeps that stock local file system. A
cluster deployment must ship the class directory to its executors
(``spark.executor.extraClassPath``), or set
``spark.hadoop.fs.file.impl`` back to
``org.apache.hadoop.fs.LocalFileSystem`` through ``extra_conf``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Shuffle partitions: ~cores locally. On a real cluster this should be
# 2-3x total executor cores (or left to AQE's coalescing with a high
# initial value); exposed via env/extra_conf so deployments can size it.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def session_config(cpus: str | int | None = None) -> dict[str, str]:
    """The engine's default Spark conf, as a plain dict (testable
    without a JVM; the first call on a machine compiles the local file
    system class)."""
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
        **_local_fs_conf(),
    }


_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java")
_FS_CLASS = "logicash_etl_spark.jvm.NioLocalFileSystem"


def _javac() -> str | None:
    home = os.environ.get("JAVA_HOME")
    javac = os.path.join(home, "bin", "javac") if home else ""
    return javac if os.access(javac, os.X_OK) else shutil.which("javac")


def _class_dir(source: bytes) -> str:
    """Cache directory of the compiled class, keyed by its source."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    key = hashlib.sha256(source).hexdigest()[:16]
    return os.path.join(cache, "logicash_etl_spark", f"nio-fs-{key}")


def _build_local_fs(javac: str) -> str:
    """Compile the local file system class once per source; return its
    class directory. Each build goes to a temporary directory renamed
    into place, so JVMs starting at once cannot see a half-built one."""
    with open(_FS_SOURCE, "rb") as fh:
        out = _class_dir(fh.read())
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=os.path.dirname(out))
    try:
        jars = os.path.join(_find_spark_home(), "jars", "*")
        res = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", jars, "-d", tmp, _FS_SOURCE],
            capture_output=True,
            text=True,
        )
        if res.returncode:
            raise RuntimeError(f"javac failed on {_FS_SOURCE}:\n{res.stderr}")
        try:
            os.replace(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # not a concurrent build that won
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _local_fs_conf() -> dict[str, str]:
    """Conf that swaps in the fork-free local file system, or nothing
    when there is no JDK to compile it."""
    javac = _javac()
    if javac is None:
        return {}
    return {
        "spark.driver.extraClassPath": _build_local_fs(javac),
        "spark.hadoop.fs.file.impl": _FS_CLASS,
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
