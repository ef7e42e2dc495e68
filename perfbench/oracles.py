"""Stored DuckDB answers for the query workloads.

``oracle_digests.json`` holds, for every query of the ``catalog_queries``
mix,
the canonical digest (``canon.digest``) of its DuckDB oracle
``ORACLES[name]`` over the fixture tables. The benchmark compares each
timed op's materialised result against it, so no answer it accepts was
computed by the engine.

Regenerate (each oracle runs in its own process with DuckDB capped at
3 GB, since one uncapped catalog oracle grew past 9 GB):

    python3 perfbench/oracles.py [name ...]

With names, only those are (re)computed and added.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = f"{HERE}/oracle_digests.json"
MEMORY_LIMIT = "3GB"
TIMEOUT_S = 600


def load() -> dict:
    with open(DIGESTS) as fh:
        return json.load(fh)


def run_one(name: str, sf_dir: str, tmp_dir: str) -> dict:
    """Run one oracle in this process; returns its digest."""
    import duckdb

    import canon
    from catalog import TABLES
    from logicash_etl_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
        con.execute(f"SET temp_directory='{tmp_dir}'")
        con.execute("SET threads=4")
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            pat = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
        return canon.digest(con.execute(ORACLES[name]).df())
    finally:
        con.close()


def main(argv: list[str]) -> int:
    sys.path[:0] = [HERE, ROOT]
    from catalog import SF_DIR, TIMED, fixture_fingerprint

    names = argv or sorted(TIMED)
    tmp_dir = f"{ROOT}/.perfbench_work/duckdb_tmp"
    os.makedirs(tmp_dir, exist_ok=True)
    store = load() if argv else {"digests": {}}
    store["fixture"] = fixture_fingerprint(SF_DIR)
    failed = []
    try:
        for name in names:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, __file__, "--one", name, SF_DIR, tmp_dir],
                capture_output=True, text=True, timeout=TIMEOUT_S, cwd=ROOT,
            )
            if proc.returncode != 0:
                failed.append(name)
                print(f"{name}: FAILED\n{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            store["digests"][name] = json.loads(proc.stdout.strip().splitlines()[-1])
            print(f"{name}: {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    store["digests"] = dict(sorted(store["digests"].items()))
    with open(DIGESTS, "w") as fh:
        json.dump(store, fh, indent=1)
        fh.write("\n")
    return 1 if failed else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--one"]:
        sys.path[:0] = [HERE, ROOT]
        name, sf_dir, tmp_dir = sys.argv[2:5]
        print(json.dumps(run_one(name, sf_dir, tmp_dir)))
    else:
        sys.exit(main(sys.argv[1:]))
