"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The actual catalog lives in ``logicash_etl_spark.queries`` — one
registered (query, oracle) pair per implemented operator from
SURVEY.md section 2; tests/test_oracle_parity.py runs the identical
comparison locally.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from logicash_etl_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's headline report — "top ATMs by money moved"
    (glue_jobs/etl_job.py:147-158) — transposed onto the fixture star
    schema: scan -> filter -> broadcast join -> hash agg -> top-k.
    """
    return QUERIES["flagship_top_customers"](spark, "/root/testdata/sf0.001")


# Snapshot-head rotation (round 8+): the driver snapshots the FIRST
# 50 entries of queries(), so ordering decides which queries get a
# fresh driver-confirmed CORRECTNESS row this round. Priority:
#   1. _CHANGED_R{N} — queries whose implementation or plan shape
#      changed this round (must be re-confirmed);
#   2. queries with NO green row in any CORRECTNESS_r*.json (none as
#      of r7 — the ledger is 205/205 — but future additions land
#      here automatically);
#   3. GREEN-ROTATION AGING: every driver-green query, OLDEST
#      confirmation first, so long-green rows refresh on a rolling
#      cadence instead of going stale (the r2 greens were five rounds
#      old entering round 8).
# The green ledger is parsed from the CORRECTNESS_r*.json files next
# to this file — the rotation is self-maintaining: each new driver
# round re-ages the catalog with no hand-edited green list.

# Changed in round 11 — the r10 probes' fix round. The head budget is
# 37 r5-cohort aging rows (the SURVEY-2 core parity set, owed first)
# + these changed slots, per the slot plan in COVERAGE.md.
#
# Round 13 (optimization round 1): the residual scan-manifest sweep
# (the 7 FIXABLE + 2 PARTIAL rows pre-adjudicated in COVERAGE.md) and
# any query whose plan shape changes under this round's optimization
# passes. Changed slots stay well under 50, so the 16-row r7 aging
# cohort (the oldest greens in the ledger) rides in the remaining
# aging slots automatically.
# Round 14 (optimization round 2): queries whose implementation or
# plan shape changed under this round's optimization passes — each
# must re-earn a driver-green row.
_CHANGED_R14: list[str] = [
    "streaming_incremental_dedup",  # quiet-period fast path: warm
    #   re-invocation skips the stream restart (a fresh Python runner
    #   process per start) when the committed offset map already
    #   covers the READY listing stamp for stamp
    "copurchase_lift_top20",  # freq persisted: the per-part groupBy
    #   ran once per broadcast side (exchanges 6 -> 5)
    "session_peak_concurrency",  # grouped_prefix_peak: per-day max of
    #   the running sum without materializing the prefix series
    #   (exchanges 8 -> 5, joins 3 -> 1)
    "kmv_set_overlap",  # one-scan membership-flag frame: sets a/b and
    #   the exact intersection from a single groupBy(l_orderkey)
    #   (scans 2 -> 1, exchanges 13 -> 10, the a-join-b exchange pair
    #   retired)
    "pq_ann_topk",  # pq_encode: literal-codebook expression fold ->
    #   numpy mapInArrow argmin with the fold's exact IEEE
    #   accumulation order (same codes on well-formed, NULL and
    #   NULL-element rows; wrong-length rows get NULL codes; encode
    #   pass 2.4x)
    "curation_funnel_report",  # stage-1 ingest row rides the quality
    #   pass (scans 3 -> 2); kept-text-only persist preserves the
    #   memory posture
    "padding_waste_report",  # persist the 16-byte (doc_id, n_tok)
    #   proxy: both batching strategies re-ran the corpus tokenize
    #   (scans 2 -> 1)
]

# Round-agnostic alias: tests and tooling reference this name so the
# per-round list can be renamed without touching them.
_CHANGED_THIS_ROUND = _CHANGED_R14


def _green_rounds() -> dict[str, int]:
    """name -> latest round with a driver-green row (rows + schema +
    hash all matched), parsed from the CORRECTNESS_r*.json ledger in
    this directory. A RED row in a round NEWER than the last green
    un-proves the query: it drops out of the green map entirely and
    lands in the never-checked bucket at the FRONT of the rotation
    (a regressed query must re-earn its green, not age as if still
    proven). Unreadable files are skipped: a query with no parseable
    green row simply sorts to the front (checked sooner), never
    silently out of the snapshot."""
    import glob
    import json
    import re as _re

    repo = os.path.dirname(os.path.abspath(__file__))
    green: dict[str, int] = {}
    red: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path, encoding="utf-8") as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            if (
                r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            ):
                green[name] = max(green.get(name, 0), rnd)
            else:
                red[name] = max(red.get(name, 0), rnd)
    return {
        n: rnd for n, rnd in green.items() if red.get(n, -1) <= rnd
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2,
    ordered changed-first, then never-driver-checked, then greens by
    ascending last-confirmation round (oldest refresh first)."""
    green = _green_rounds()
    ordered = [n for n in _CHANGED_THIS_ROUND if n in QUERIES]
    head = set(ordered)
    ordered += sorted(n for n in QUERIES if n not in green and n not in head)
    rest = [n for n in QUERIES if n in green and n not in head]
    ordered += sorted(rest, key=lambda n: (green[n], n))
    return {n: QUERIES[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return dict(ORACLES)


def _debt_report() -> str:
    """Ledger-derived rotation accounting (the r9 verdict's rule:
    derive these numbers from _green_rounds(), never prose). Prints
    greens per last-confirmed round, the aging cohorts, and how much
    of the 50-row head the current ordering spends on each."""
    from collections import Counter

    green = _green_rounds()
    names = list(queries())
    head = names[:50]
    latest = max(green.values(), default=0)
    by_round = Counter(green.values())
    head_by = Counter(green.get(n, 0) for n in head)  # 0 = never-green
    lines = [
        f"catalog={len(names)} green={len(green)} latest_round=r{latest}",
        "greens by last-confirmed round: "
        + ", ".join(f"r{r}:{n}" for r, n in sorted(by_round.items())),
        "head (50) by last-confirmed round: "
        + ", ".join(
            ("never" if r == 0 else f"r{r}") + f":{n}"
            for r, n in sorted(head_by.items())
        ),
        f"changed list this round: {len(_CHANGED_THIS_ROUND)} "
        f"{_CHANGED_THIS_ROUND}",
    ]
    stale = sorted(
        (n for n, r in green.items() if latest - r >= 5),
        key=lambda n: (green[n], n),
    )
    covered = sum(1 for n in stale if n in set(head))
    lines.append(
        f"stale (>=5 rounds old): {len(stale)}; in head: {covered}"
    )
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "debt":
        print(_debt_report())
