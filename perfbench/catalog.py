"""The query mix of the ``catalog_queries`` workload: which catalog
modules it draws from, which queries it times, what is left out and
why, and where the fixture tables live."""

from __future__ import annotations

import os

# Fixture tables at the bench scale factor (TESTDATA.md: bench uses sf0.1).
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Star-schema modules (read-only scans, joins, aggregates, windows over
# lineitem, orders, customer, events) and curation modules (string and
# array work, self-join dedup, ANN over documents and embeddings).
STAR_MODULES = ("relational", "subqueries", "analytics", "windows_plus", "tpch_shapes", "mergeable", "advanced")
CURATION_MODULES = ("text", "dedup", "similarity", "curation", "curation_ext", "pipeline_ops")
MODULES = STAR_MODULES + CURATION_MODULES

# Left out of the mix, whatever the selection rule below would say:
# - the 12 streaming queries: a warm call takes the quiet-period
#   re-drain fast path (4.7 s first call, 0.14 s after), so repeated
#   calls would time a no-new-files re-drain;
# - jl_projection_distortion, leakage_safe_split_report, trade_k_core:
#   their DuckDB oracles cannot finish at sf0.1 on 4 cores and 15 GB
#   (over 120 s; the spill filled the disk; out of memory under 3 GB);
# - approx_sketches: materialised in full, one call took 142 s at sf0.1
#   (its percentile sketches merge slowly; count() used to prune them),
#   longer than a whole run.

# The timed mix: one query per module, the one whose first call was
# nearest its module's median first call in a full pass over the 224
# queries of these modules whose oracles finish (4 cores, sf0.1; every
# answer matched its oracle); in a module with Python-worker queries
# (pandas/Arrow UDF, UDTF, Python data source), nearest among those, so
# the worker path is timed. A full pass (about 8 min) does not fit a
# run, and a mix that changed with the seed made each run's medians a
# luck of the draw.
TIMED = (
    # star modules, in STAR_MODULES order
    "part_name_edit_pairs", "min_cost_supplier", "selfjoin_blowup_estimate", "rolling_zscore_anomalies",
    "excess_share_suppliers", "cms_heavy_hitters", "doc_stats_map_in_arrow",
    # curation modules, in CURATION_MODULES order
    "token_stats_by_source", "simhash_dups", "ann_lsh_topk", "media_phash_dups", "bloom_history_dedup",
    "lot_datasource_rollup",
)


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def mix() -> dict[str, str]:
    """``{query name: catalog module}`` of the timed mix."""
    from logicash_etl_spark.queries import QUERIES

    return {name: module_of(QUERIES[name]) for name in TIMED}


def fixture_fingerprint(sf_dir: str = SF_DIR) -> dict[str, int]:
    """Byte size of every fixture table: stored beside the digests so a
    changed fixture is caught instead of reported as wrong answers."""
    out = {}
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            out[t] = sum(os.path.getsize(f"{p}/{f}") for f in sorted(os.listdir(p)))
        else:
            out[t] = os.path.getsize(p)
    return out
