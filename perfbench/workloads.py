"""Op loops of the two workloads, each a closed loop with one client.

An op is timed from outside through the program's public entry points
and checked against an answer the engine did not compute; checks,
input generation and trace bookkeeping that is not part of an op run
between ops, outside the timed region.

A run is made of whole passes: one lot for ``etl_lot``; for
``catalog_queries``, one call of every query of the mix, in seeded
order (calls in the first pass are each query's first call). The first
pass always runs; the next starts only while the timed total plus the
previous pass's duration stays within the requested seconds. Every run
thus times the same multiset of ops, and overshoots its window by at
most one pass's variation.
"""

from __future__ import annotations

import contextlib
import dataclasses
import itertools
import os
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import Executor

import canon
import catalog
import etl_check
import lotgen
import oracles
from probes import EngineProbe, Spans, self_time, since_process_start_s

LOT_TX = 250_000
LOT_ATMS = 500


@dataclasses.dataclass
class Op:
    seconds: float
    ok: bool
    first: bool
    module: str = ""
    layer: dict[str, float] = dataclasses.field(default_factory=dict)


@dataclasses.dataclass
class Outcome:
    ops: list[Op]
    extra: dict[str, float] = dataclasses.field(default_factory=dict)
    probe_in_op_s: float = 0.0
    setup_s: float = 0.0  # process start to the first timed op


def _note(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _window_open(timed: float, last: float, seconds: float) -> bool:
    return timed == 0 or timed + last <= seconds


def run_queries(spark, seed: int, seconds: float, trace: bool) -> Outcome:
    from logicash_etl_spark.queries import QUERIES

    mix = catalog.mix()
    store = oracles.load()
    if store["fixture"] != catalog.fixture_fingerprint():
        raise SystemExit(f"fixture tables at {catalog.SF_DIR} differ from the ones the digests were made from")
    missing = sorted(set(mix) - set(store["digests"]))
    if missing:
        raise SystemExit(f"no stored oracle digest for {missing}; run perfbench/oracles.py")
    probe = EngineProbe(spark) if trace else None
    out = Outcome(ops=[], setup_s=since_process_start_s())
    timed = last = 0.0
    rng = random.Random(seed)
    for pass_no in itertools.count():
        if not _window_open(timed, last, seconds):
            break
        last = 0.0
        order = sorted(mix)
        rng.shuffle(order)
        for name in order:
            layer = {}
            if probe:
                group = f"op{len(out.ops)}"
                spark.sparkContext.setJobGroup(group, name)
                cpu0 = probe.cpu()
            pdf, err, t1 = None, None, None
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, catalog.SF_DIR)
                t1 = time.perf_counter()
                pdf = df.toPandas()
            except Exception as exc:  # a failing op is counted, the run goes on
                err = exc
            t2 = time.perf_counter()
            if probe:
                layer["operators.caching.persisted_frames"], layer["operators.caching.cached_mb"] = probe.cached()
                out.probe_in_op_s += time.perf_counter() - t2
            spark.catalog.clearCache()
            t3 = time.perf_counter()
            t1 = t1 or t2
            problem = repr(err) if err else canon.mismatch(store["digests"][name], canon.digest(pdf))
            ok = problem is None
            if probe:
                cpu1 = probe.cpu()
                jobs, stages, tasks = probe.job_counts(group)
                layer.update({
                    "queries.plan_s": t1 - t0,
                    "queries.collect_s": t2 - t1,
                    "queries.cleanup_s": t3 - t2,
                    "spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks,
                    "spark.jvm_cpu_s": cpu1[0] - cpu0[0],
                    "python.worker_cpu_s": cpu1[1] - cpu0[1],
                })
            out.ops.append(Op(t3 - t0, ok, pass_no == 0, mix[name], layer))
            _note(f"{name} pass={pass_no} s={t3 - t0:.3f} ok={ok}" + ("" if ok else f" {problem}"))
            timed += t3 - t0
            last += t3 - t0
    return out


def _tree_mb(path: str) -> tuple[int, float]:
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(f"{d}/{n}")
    return files, size / 2**20


def _instrument(spans: Spans) -> None:
    """Spans around the module-level names ``run_logicash_pipeline``'s
    steps call; the steps themselves get spans through a wrapped
    ``Pipeline``."""
    from logicash_etl_spark.pipeline import logicash

    for attr in ("extract", "transform", "build_gold", "validate", "write_parquet_partitioned", "write_parquet"):
        spans.wrap(logicash, attr, attr)
    pipeline_cls = logicash.Pipeline

    def traced_pipeline(steps, **kwargs):
        def timed(step):
            def fn(ctx):
                with spans.span(f"pipeline.{step.name}"):
                    return step.fn(ctx)
            return dataclasses.replace(step, fn=fn)

        return pipeline_cls(steps=[timed(s) for s in steps], **kwargs)

    spans.patch(logicash, "Pipeline", traced_pipeline)


def _lot_layers(spans, op_s: float) -> dict[str, float]:
    steps = ("extract", "transform", "load_silver", "gold", "validate")
    layer = {
        f"pipeline.{s}_s": sum(t1 - t0 for n, _, t0, t1 in spans if n == f"pipeline.{s}") for s in steps
    }
    layer["pipeline.runner_self_s"] = op_s - sum(layer.values())
    layer["dq.report_s"] = self_time(spans, "pipeline.load_silver")
    return layer


def run_etl(spark, pool: Executor, work: str, seed: int, seconds: float, trace: bool) -> Outcome:
    """Set-up ends with one untimed warm-up lot; the timed lots follow,
    all into one silver and gold root, with no cache clearing between."""
    from logicash_etl_spark.pipeline.logicash import LogicashConfig, run_logicash_pipeline

    out_root = f"{work}/out"
    lots = f"{work}/lots"

    def cfg(raw):
        return LogicashConfig(raw_dir=raw, silver_dir=f"{out_root}/silver", gold_dir=f"{out_root}/gold",
                              as_of=lotgen.AS_OF)

    def write_lot(name: str, lot_seed: int) -> tuple[str, int]:
        raw = f"{lots}/{name}"
        return raw, pool.submit(lotgen.write_lot, raw, LOT_TX, LOT_ATMS, lot_seed).result()

    # lot seeds: seed*1000+i for timed lot i, seed*1000+999 for the warm-up
    raw, _ = write_lot("warmup", seed * 1000 + 999)
    t0 = time.perf_counter()
    run_logicash_pipeline(spark, cfg(raw))
    _note(f"warm-up lot s={time.perf_counter() - t0:.3f}")
    shutil.rmtree(raw)

    probe = EngineProbe(spark)
    spans = Spans()
    if trace:
        _instrument(spans)
    out = Outcome(ops=[])
    bronze_bytes = bronze_rows = written_mb = 0.0
    timed = last = 0.0
    try:
        for i in itertools.count():
            if not _window_open(timed, last, seconds):
                break
            raw, lot_bytes = write_lot(str(i), seed * 1000 + i)
            if i == 0:
                out.setup_s = since_process_start_s()
            layer = {}
            if trace:
                group = f"op{i}"
                spark.sparkContext.setJobGroup(group, "etl_lot")
                cpu0 = probe.cpu()
            err = None
            t0 = time.perf_counter()
            try:
                with spans.span("op") if trace else contextlib.nullcontext():
                    ctx = run_logicash_pipeline(spark, cfg(raw))
            except Exception as exc:  # a failing op is counted, the run goes on
                err = exc
            t1 = time.perf_counter()
            timed += t1 - t0
            last = t1 - t0
            if trace:
                cpu1 = probe.cpu()
                jobs, stages, tasks = probe.job_counts(group)
                layer.update(_lot_layers(spans.take(), t1 - t0))
                layer.update({"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks,
                              "spark.jvm_cpu_s": cpu1[0] - cpu0[0], "python.worker_cpu_s": cpu1[1] - cpu0[1]})
            frames, cached = probe.cached()
            layer["operators.caching.persisted_frames"] = frames
            layer["operators.caching.cached_mb"] = cached
            files, silver_mb = _tree_mb(f"{out_root}/silver/transactions")
            _, quarantine_mb = _tree_mb(f"{out_root}/silver/quarantine")
            _, gold_mb = _tree_mb(f"{out_root}/gold")
            layer.update({"sources.silver_files": files, "sources.silver_mb": silver_mb,
                          "sources.quarantine_mb": quarantine_mb, "sources.gold_mb": gold_mb})
            problems = [repr(err)] if err else pool.submit(
                etl_check.check_lot, raw, f"{out_root}/silver", f"{out_root}/gold", lotgen.AS_OF,
                ctx["load_silver"], {k: [tuple(r) for r in v] for k, v in ctx["validate"].items()},
            ).result()
            for p in problems:
                _note(f"lot {i}: {p}")
            out.ops.append(Op(t1 - t0, not problems, i == 0, "", layer))
            _note(f"lot {i} s={t1 - t0:.3f} ok={not problems}")
            bronze_bytes += lot_bytes
            bronze_rows += LOT_TX
            written_mb += silver_mb + quarantine_mb + gold_mb
            shutil.rmtree(raw)
    finally:
        spans.close()
        out.probe_in_op_s = spans.probe_s
    out.extra["rows_per_s"] = bronze_rows / timed
    out.extra["write_amp"] = written_mb * 2**20 / bronze_bytes
    return out


def layer_metrics(outcome: Outcome, cores: int) -> dict[str, float]:
    """Per-layer numbers of a traced run: medians of per-op times,
    means of per-op counts, the largest cache footprint."""
    ops = outcome.ops
    keys = {k for op in ops for k in op.layer}
    out = {}
    for k in keys:
        vals = [op.layer[k] for op in ops if k in op.layer]
        if k.startswith("operators.caching."):
            out[k] = max(vals)
        elif k.endswith("_s") and not k.startswith(("spark.", "python.")):
            out[k] = statistics.median(vals)
        else:
            out[k] = statistics.fmean(vals)
    for m in catalog.MODULES:
        secs = [op.seconds for op in ops if op.module == m]
        out[f"queries.{m}.op_s.p50"] = statistics.median(secs) if secs else 0.0
    wall = sum(op.seconds for op in ops)
    out["spark.cpu_util"] = (out.get("spark.jvm_cpu_s", 0) + out.get("python.worker_cpu_s", 0)) * len(ops) / (wall * cores)
    out["trace.op_s.p50"] = statistics.median(op.seconds for op in ops)
    out["trace.overhead_frac"] = outcome.probe_in_op_s / wall
    return out
