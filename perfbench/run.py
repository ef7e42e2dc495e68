"""Oracle-checked benchmark of the engine's two user-facing surfaces.

    python3 perfbench/run.py --workload etl_lot --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

- ``etl_lot``: one op is one ``run_logicash_pipeline`` call on a
  freshly generated 250k-transaction bronze lot (``lotgen``), checked by
  DuckDB over the lot's CSVs (``etl_check``).
- ``catalog_queries``: one op is one
  ``QUERIES[name](spark, sf_dir)`` call, its full result materialised
  with ``toPandas()``, and the ``clearCache()`` the catalog's
  caller-owns-cleanup contract requires; the result is checked against
  the stored digest of its DuckDB oracle (``oracles``).

Run from the repository root (the Python workers must import
``logicash_etl_spark``). Everything the run writes goes under
``.perfbench_work/`` in the repository root and is removed at exit. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_lot", "catalog_queries")

def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap sized to the machine: 40% of RAM, 2-8 GB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return f"{max(2, min(8, int(total_kb * 0.4 / 2**20)))}g"


def configure(work: str) -> None:
    """Run environment: repo root as cwd and on every Python path,
    ``local[nproc]``, a heap that fits the machine, scratch dirs in the
    work dir."""
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)


def start_session(work: str):
    from logicash_etl_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp",
        },
    )


def warm_up(spark) -> None:
    """Generic warm-up, no catalog query: one JVM action, then a
    pandas-UDF Python-worker spin-up on every core."""
    from pyspark.sql import functions as F

    spark.range(1000).selectExpr("sum(id)").collect()
    identity = F.pandas_udf(lambda s: s, "long")
    n = cores()
    spark.range(0, 64 * n, 1, n).select(identity("id").alias("id")).agg(F.sum("id")).collect()


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants (the shells the JVM forks, Python
    workers, the multiprocessing resource tracker) reparented to this
    process rather than to init, so ``reap_children`` can wait for every
    one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the field after the parenthesised command name is the state,
        # then the parent pid
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until this process has no child left, zombies included;
    after ``grace_s`` seconds, SIGKILL the ones still running."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in child_pids():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def stop_all(spark, pool) -> None:
    """Stop the JVM, the helper process and the resource tracker, then
    wait for every descendant to end, whichever step fails."""
    from multiprocessing import resource_tracker

    # a second SIGTERM must not cut the clean-up short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    try:
        if spark is not None:
            stop_session(spark)
    finally:
        try:
            pool.shutdown(wait=True)
            resource_tracker._resource_tracker._stop()
        finally:
            reap_children()


def metrics(outcome, trace: bool) -> dict[str, dict]:
    """The end-to-end (``trace`` false) or per-layer metrics that
    ``BENCHMARK.json`` lists, with their units."""
    from workloads import layer_metrics

    with open(f"{ROOT}/BENCHMARK.json") as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    ops = outcome.ops
    secs = [op.seconds for op in ops]
    values = {
        "setup_s": outcome.setup_s,
        "op_s.p50": statistics.median(secs),
        "first_op_s.p50": statistics.median(op.seconds for op in ops if op.first),
        "ops_per_s": len(ops) / sum(secs),
        "failed_frac": sum(not op.ok for op in ops) / len(ops),
        **outcome.extra,
    }
    if trace:
        values.update(layer_metrics(outcome, cores()))
    # a layer the workload does not run (the pipeline in a query run, a
    # catalog module in a lot run) did no work: 0
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(f"{ROOT}/logicash_etl_spark/__init__.py"):
        print(f"no logicash_etl_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    work = f"{ROOT}/.perfbench_work/{args.workload}-{os.getpid()}"
    become_subreaper()
    configure(work)
    # on SIGTERM, unwind through the finally below: stop the JVM and the
    # helper process, wait for every descendant, remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from concurrent.futures import ProcessPoolExecutor
    from multiprocessing import get_context

    import workloads
    from probes import EngineProbe

    # the helper process writes lots and runs DuckDB checks, so neither
    # shows in the driver's memory or in op time
    pool = ProcessPoolExecutor(max_workers=1, mp_context=get_context("spawn"))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        warm_up(spark)
        t2 = time.perf_counter()
        print(f"# session start s={t1 - t0:.3f} warm-up s={t2 - t1:.3f}", file=sys.stderr, flush=True)
        if args.workload == "etl_lot":
            outcome = workloads.run_etl(spark, pool, work, args.seed, args.seconds, bool(args.trace))
        else:
            outcome = workloads.run_queries(spark, args.seed, args.seconds, bool(args.trace))
        outcome.extra["peak_rss_mb"] = EngineProbe(spark).peak_rss_mb()
        outcome.extra["session.start_s"] = t1 - t0
        outcome.extra["session.warmup_s"] = t2 - t1
    finally:
        try:
            stop_all(spark, pool)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    failed = sum(not op.ok for op in outcome.ops)
    result = {
        "correct": failed == 0,
        "attempted": len(outcome.ops),
        "failed": failed,
        "metrics": metrics(outcome, bool(args.trace)),
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
