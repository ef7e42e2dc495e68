#!/usr/bin/env python
"""Determinism gate: run catalog queries TWICE, in two SEPARATE JVMs,
and SHA-256 the full canonicalized result sets.

Oracle parity proves Spark == DuckDB on one execution; this proves
Spark == Spark across process, scheduling, and partition-order
variation — the property a single-execution value hash implicitly
relies on. A query that passes parity but floats bit-wise across JVMs
(an unstable sample, an undeterministic tie-break, a float reduction
order leak) is a latent red row.

Canonical form per query: the oracle comparator's canonical rows
(``tests/oracle_utils.canon``: columns sorted by name, cells
normalised, rows sorted), sha256 of their ``repr``. Streaming queries
re-drain warm from their checkpoints — cross-JVM stability of the
checkpointed readback is exactly what the gate should cover.

Usage:
    python head_determinism_check.py         # every catalog query
    python head_determinism_check.py q1 q2   # named queries

Exit 0 iff every query's two hashes match and nothing errored.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from oracle_utils import canon  # noqa: E402

SF = "/root/testdata/sf0.01"


def _worker(names: list[str], out_path: str) -> int:
    from logicash_etl_spark import get_spark
    from logicash_etl_spark.queries import QUERIES

    spark = get_spark(app_name="determinism")
    hashes: dict[str, str] = {}
    for i, name in enumerate(names, 1):
        try:
            rows = canon(QUERIES[name](spark, SF).toPandas())
            hashes[name] = hashlib.sha256(repr(rows).encode("utf-8")).hexdigest()
            print(f"  {i}/{len(names)} {name}", flush=True)
        except Exception as exc:  # noqa: BLE001 — recorded, gate fails
            hashes[name] = f"ERROR: {type(exc).__name__}: {str(exc)[:160]}"
            print(f"  {i}/{len(names)} ERROR {name}", flush=True)
        spark.catalog.clearCache()
    spark.stop()
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(hashes, fh)
    return 0


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--worker":
        with open(args[1], encoding="utf-8") as fh:
            return _worker(json.load(fh), args[2])

    from logicash_etl_spark.queries import QUERIES

    names = args or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    with tempfile.TemporaryDirectory(prefix="lq_determinism_") as d:
        names_path = os.path.join(d, "names.json")
        with open(names_path, "w", encoding="utf-8") as fh:
            json.dump(names, fh)
        runs: list[dict[str, str]] = []
        for jvm in (1, 2):
            out = os.path.join(d, f"run{jvm}.json")
            print(f"JVM {jvm}/2 ({len(names)} queries)", flush=True)
            rc = subprocess.call(
                [sys.executable, os.path.abspath(__file__), "--worker",
                 names_path, out],
                cwd=REPO,
            )
            if rc != 0:
                print(f"worker {jvm} exited {rc}", file=sys.stderr)
                return 1
            with open(out, encoding="utf-8") as fh:
                runs.append(json.load(fh))

    bad = sorted(
        n for n in names
        if runs[0][n] != runs[1][n] or runs[0][n].startswith("ERROR")
    )
    ok = len(names) - len(bad)
    print(f"determinism: {ok}/{len(names)} byte-identical across JVMs")
    for n in bad:
        print(f"  MISMATCH {n}:\n    jvm1 {runs[0][n]}\n    jvm2 {runs[1][n]}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
