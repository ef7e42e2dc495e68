"""The session's local file system: Hadoop's checksummed
``LocalFileSystem`` whose ``setPermission`` is a syscall for plain
modes, built once per source with the JDK's ``javac``.

Behaviour tests run against the session fixture; the build tests run
``javac`` in plain processes and start no JVM of their own."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from logicash_etl_spark import session, session_config
from logicash_etl_spark.sources.writers import write_parquet_partitioned

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _forks() -> int:
    """Processes created since boot, from ``/proc/stat``. The counter is
    machine-wide: a process started anywhere on the host during a
    measured window counts too."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("/proc/stat has no processes line")


def _modes(root: str) -> tuple[set[int], set[int]]:
    """Permission bits of every directory and every file under root."""
    dirs, files = {os.stat(root).st_mode & 0o7777}, set()
    for d, subdirs, names in os.walk(root):
        dirs |= {os.stat(os.path.join(d, s)).st_mode & 0o7777 for s in subdirs}
        files |= {os.stat(os.path.join(d, n)).st_mode & 0o7777 for n in names}
    return dirs, files


def _hadoop(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return jvm, conf, jvm.java.net.URI("file:///")


def _stock_fs(spark, conf):
    jvm, _, uri = _hadoop(spark)
    fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(uri, conf)
    return fs


def test_session_local_fs_is_the_fork_free_class(spark):
    jvm, conf, uri = _hadoop(spark)
    name = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getClass().getName()
    assert (name == session._FS_CLASS) == (session._javac() is not None), name


def test_partitioned_write_modes_match_stock_local_fs(spark, tmp_path):
    """Under the session umask, every directory and file a partitioned
    write makes (part files, ``.crc`` sidecars, ``_SUCCESS``) has the
    mode Hadoop's stock LocalFileSystem gives a new directory and file."""
    jvm, conf, _ = _hadoop(spark)
    stock = _stock_fs(spark, conf)
    ref_dir = tmp_path / "stock" / "d"
    stock.mkdirs(jvm.org.apache.hadoop.fs.Path(str(ref_dir)))
    stock.create(jvm.org.apache.hadoop.fs.Path(str(ref_dir / "f"))).close()
    ref_dirs, ref_files = _modes(str(ref_dir))
    assert len(ref_dirs) == 1 and len(ref_files) == 1  # file and its .crc agree

    out = str(tmp_path / "silver")
    df = spark.range(60).withColumn("day", (F.col("id") % 3).cast("int"))
    write_parquet_partitioned(df, out, ["day"])
    assert _modes(out) == (ref_dirs, ref_files)
    for day in range(3):
        names = os.listdir(os.path.join(out, f"day={day}"))
        parts = [n for n in names if n.startswith("part-")]
        assert len(parts) == 1 and f".{parts[0]}.crc" in names
    assert spark.read.parquet(out).count() == 60


def test_local_fs_modes_equal_stock_for_any_umask_and_chmod(spark, tmp_path):
    """The same calls through both classes give the same modes: new
    files and directories under a non-default umask, and an explicit
    setPermission for plain and special modes."""
    jvm, session_conf, uri = _hadoop(spark)
    conf = jvm.org.apache.hadoop.conf.Configuration(session_conf)
    conf.set("fs.permissions.umask-mode", "027")
    ours = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
    stock = _stock_fs(spark, conf)
    path = jvm.org.apache.hadoop.fs.Path
    modes = [0o644, 0o600, 0o755, 0o700, 0o777, 0o640, 0o000, 0o1777, 0o1755]
    got = {}
    for label, fs in (("ours", ours), ("stock", stock)):
        base = tmp_path / label
        fs.mkdirs(path(str(base / "d")))
        fs.create(path(str(base / "d" / "f"))).close()
        created = _modes(str(base / "d"))
        chmod = []
        for m in modes:
            target = base / f"m{m:o}"
            fs.mkdirs(path(str(target)))
            fs.setPermission(path(str(target)), jvm.org.apache.hadoop.fs.permission.FsPermission(m))
            chmod.append(os.stat(target).st_mode & 0o7777)
        got[label] = (created, chmod)
    assert got["ours"] == got["stock"]
    assert got["ours"][0] == ({0o750}, {0o640})
    assert got["ours"][1] == modes


def test_sticky_directory_mode_goes_through_hadoop(spark, tmp_path):
    """A mode outside 0777 (here the sticky bit) is Hadoop's own chmod,
    which forks: the mode comes out whole and a process was started."""
    jvm, conf, uri = _hadoop(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    d = tmp_path / "sticky"
    d.mkdir()
    before = _forks()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(d)), jvm.org.apache.hadoop.fs.permission.FsPermission(0o1755))
    assert _forks() > before
    assert os.stat(d).st_mode & 0o7777 == 0o1755


def test_corrupted_part_file_fails_its_checksum(spark, tmp_path):
    out = str(tmp_path / "silver")
    df = spark.range(5000).select(
        "id", (F.col("id") * 7919 % 10007).alias("v"), (F.col("id") % 2).cast("int").alias("day")
    )
    write_parquet_partitioned(df, out, ["day"])
    part_dir = os.path.join(out, "day=0")
    part = next(n for n in os.listdir(part_dir) if n.startswith("part-"))
    p = os.path.join(part_dir, part)
    with open(p, "r+b") as fh:
        fh.seek(os.path.getsize(p) // 2)
        b = fh.read(1)
        fh.seek(-1, os.SEEK_CUR)
        fh.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum error"):
        spark.read.parquet(out).agg(F.sum("v")).collect()


def test_day_fanout_write_starts_no_process_per_partition(spark, tmp_path):
    """About 200 day partitions through the silver writer start fewer
    than 100 processes in all. Hadoop's stock local file system forks a
    ``chmod`` per file, sidecar and directory: about 6 per partition,
    1,200 for this write."""
    df = spark.range(4000).withColumn("fecha_dia", F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 200).cast("int")))
    before = _forks()
    write_parquet_partitioned(df, str(tmp_path / "silver"), ["fecha_dia"])
    started = _forks() - before
    assert len(os.listdir(tmp_path / "silver")) == 200 + 2  # days, _SUCCESS and its .crc
    assert started < 100, started


def test_concurrent_builds_share_one_class_dir(tmp_path):
    """Two processes that find the cache empty both compile; the one
    that renames second keeps the first build, and both return it."""
    cache, go = tmp_path / "cache", tmp_path / "go"
    child = (
        "import json, os, sys, time\n"
        "from logicash_etl_spark import session\n"
        "open(sys.argv[1], 'w').close()\n"
        f"while not os.path.exists({str(go)!r}): time.sleep(0.01)\n"
        "with open(session._FS_SOURCE, 'rb') as fh: out = session._class_dir(fh.read())\n"
        "existed = os.path.isdir(out)\n"
        "print(json.dumps([existed, session._build_local_fs(session._javac())]))\n"
    )
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), "PYTHONPATH": REPO}
    ready = [tmp_path / f"ready{i}" for i in range(2)]
    procs = [
        subprocess.Popen([sys.executable, "-c", child, str(r)], env=env, stdout=subprocess.PIPE, text=True)
        for r in ready
    ]
    deadline = time.monotonic() + 60
    while not all(r.exists() for r in ready) and time.monotonic() < deadline:
        time.sleep(0.05)
    go.touch()
    results = [json.loads(p.communicate(timeout=120)[0]) for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert [existed for existed, _ in results] == [False, False]
    out = results[0][1]
    assert results[1][1] == out
    assert os.listdir(cache / "logicash_etl_spark") == [os.path.basename(out)]
    classes = sorted(os.listdir(os.path.join(out, "logicash_etl_spark", "jvm")))
    assert classes == ["NioLocalFileSystem$Raw.class", "NioLocalFileSystem.class"]
    for name in classes:
        with open(os.path.join(out, "logicash_etl_spark", "jvm", name), "rb") as fh:
            assert fh.read(4) == b"\xca\xfe\xba\xbe"


def test_session_conf_registers_the_built_class(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    conf = session_config(4)
    with open(session._FS_SOURCE, "rb") as fh:
        assert conf["spark.driver.extraClassPath"] == session._class_dir(fh.read())
    assert conf["spark.hadoop.fs.file.impl"] == session._FS_CLASS
    assert os.path.isdir(conf["spark.driver.extraClassPath"])


def test_no_javac_keeps_stock_local_fs(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path))  # no bin/javac there
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    assert session._javac() is None
    conf = session_config(4)
    assert not {"spark.hadoop.fs.file.impl", "spark.driver.extraClassPath"} & set(conf)
    assert not (tmp_path / "cache").exists()


def test_source_edit_changes_the_cache_key(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    with open(session._FS_SOURCE, "rb") as fh:
        src = fh.read()
    key = session._class_dir(src)
    assert key == session._class_dir(bytes(src))
    assert key.startswith(str(tmp_path / "logicash_etl_spark") + os.sep)
    assert session._class_dir(b"// edited\n" + src) != key
    assert session._class_dir(src + b"\n") != key
