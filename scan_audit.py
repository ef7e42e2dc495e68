#!/usr/bin/env python
"""Catalog-wide fact-scan audit: how many times does each query's
physical plan read the same fact table?

Catalyst re-derives multi-consumer lineage per consumer — it has no
common-subexpression materialization — so a frame that feeds N
consumers re-runs its whole upstream (including the fact scan) N
times unless something persists. Runtime exchange reuse does NOT
rescue this (verified: executed plans of the round-9 offenders showed
zero ReusedExchange nodes). This script counts "Scan parquet" nodes
per fact in each catalog query's FORMATTED plan (which renders an
InMemoryTableScan as a leaf, so persisted lineage is correctly not
double-counted) and prints every query at or above the threshold.

A flagged query is a prompt, not a verdict: persisting the smallest
frame that feeds the repeated scans is the candidate fix, and paired,
materialised timing of the query (call + toPandas + clearCache, ten
ABBA pairs, as perfbench times it) decides whether the persist stays.
Scan counts alone do not: a re-scan of a small fact can cost less than
the persist (see the site audit in CHANGES.md and COVERAGE.md
"Engine-wide scan-count audit"). Re-run this after adding queries:

    python scan_audit.py [min_scans]      # default 3
    python scan_audit.py --check          # gate against MANIFEST:
                                          # exit 1 on regressions or
                                          # stale entries

Queries whose repeats are BY DESIGN (different filters over the same
fact, per-edge audits, ANN re-score passes) are expected output —
the audit is a prompt for judgment, not a lint error.
"""

from __future__ import annotations

import collections
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# facts AND the scale-proportional dims: at TPC-H-like 100 TB,
# customer/part/supplier are fact-sized tables, so re-scanning them
# counts the same as re-scanning lineitem (nation/region stay out:
# catalog-bounded 25/5 rows at every SF).
FACTS = (
    "lineitem", "orders", "events", "documents", "embeddings",
    "customer", "part", "supplier",
)

# --check manifest: every query at or above threshold 3, with the
# scans of each fact it is allowed. The check fails on any query
# exceeding its manifest count (a scan-count REGRESSION) and on any
# manifest entry that no longer flags (a fix landed -> shrink the
# manifest deliberately). Keys: query -> {fact: max allowed scans}.
#
# Repeats BY DESIGN: the bloom pair compares pruned vs unpruned scans
# (the extra pass IS the measurement); referential_integrity_audit is
# per-FK-edge; knn_label_vote's third scan is the label join;
# value_drift_psi's 3 passes are sequentially dependent. Every other
# row is a query whose persist was deleted because paired,
# materialised timing showed it did not pay; the comment gives the
# timing: pairs the persisted side won of ten ABBA pairs of call +
# toPandas + clearCache at sf0.1, and both medians (CHANGES.md has
# the site audit).
MANIFEST: dict[str, dict[str, int]] = {
    # persist won 5/10, median 1.22 s kept vs 1.28 s deleted
    "ann_lsh_topk": {"embeddings": 4},
    # persist won 0/10, median 0.72 s kept vs 0.65 s deleted
    "benchmark_contamination": {"documents": 3},
    "bloom_join_prune_stats": {"lineitem": 3},
    "bloom_pruned_revenue": {"lineitem": 3},
    # persist won 0/10, median 0.95 s kept vs 0.85 s deleted
    "bpe_fertility_by_lang": {"documents": 3},
    # persists won 1/10, median 0.35 s kept vs 0.24 s deleted
    "brand_set_ops": {"part": 4},
    # persist won 2/10, median 0.28 s kept vs 0.27 s deleted
    "calendar_gap_fill": {"orders": 3},
    # persist won 3/10, median 0.49 s kept vs 0.46 s deleted
    "cohort_ltv_curve": {"events": 3},
    # persists won 1/10, median 1.41 s kept vs 1.00 s deleted
    "collocation_lift_top20": {"documents": 5},
    # persists won 1/10, median 0.71 s kept vs 0.63 s deleted
    "conversion_funnel": {"events": 6},
    # persists won 2/10, median 2.37 s kept vs 2.17 s deleted
    "copurchase_lift_top20": {"lineitem": 5},
    # persists won 1/10, median 0.54 s kept vs 0.46 s deleted
    "embedding_centroid_drift": {"embeddings": 6},
    # persist won 5/10, median 1.05 s kept vs 0.99 s deleted
    "fuzzy_name_match": {"part": 5},
    # persist won 5/10, median 0.90 s kept vs 0.91 s deleted
    "hard_negative_mining": {"embeddings": 4},
    # persist won 1/10, median 0.73 s kept vs 0.54 s deleted
    "incremental_agg_maintenance": {"orders": 3},
    # persists won 0/10, median 2.12 s kept vs 1.41 s deleted
    "incremental_join_maintenance": {"lineitem": 4, "orders": 4},
    # persist won 4/10, median 2.27 s kept vs 2.23 s deleted
    "incremental_minhash_dedup": {"documents": 3},
    # persist won 2/10, median 0.76 s kept vs 0.58 s deleted
    "join_skew_profile": {"events": 6},
    # persist won 1/10, median 0.66 s kept vs 0.62 s deleted
    "km_return_time_survival": {"events": 4},
    "knn_label_vote": {"embeddings": 3},
    # persist won 5/10, median 0.58 s kept vs 0.64 s deleted
    "part_name_edit_pairs": {"part": 5},
    "referential_integrity_audit": {"lineitem": 3},
    # persist won 4/10, median 0.89 s kept vs 0.89 s deleted
    "revenue_concentration_gini": {"customer": 4, "orders": 4},
    # persist won 3/10, median 0.77 s kept vs 0.74 s deleted
    "rfm_segmentation": {"orders": 4},
    # persists won 2/10, median 2.16 s kept vs 2.00 s deleted
    "right_to_erasure_audit": {"customer": 4, "orders": 3},
    # persist won 4/10, median 1.21 s kept vs 1.14 s deleted
    "robust_value_stats": {"events": 5},
    # persist won 1/10, median 0.60 s kept vs 0.54 s deleted
    "sequence_packing_stats": {"documents": 4},
    # persist won 1/10, median 2.20 s kept vs 1.95 s deleted
    "source_overlap_matrix": {"documents": 3},
    # persist won 2/10, median 0.72 s kept vs 0.79 s deleted
    "temperature_resample_counts": {"documents": 3},
    # persist won 0/10, median 0.97 s kept vs 0.78 s deleted
    "tfidf_top_terms": {"documents": 3},
    # persist won 1/10, median 0.65 s kept vs 0.47 s deleted
    "theil_sen_trend": {"events": 6},
    "value_drift_psi": {"events": 3},
    # persist won 1/10, median 0.85 s kept vs 0.75 s deleted
    "value_outlier_mad": {"events": 4},
}


def main() -> None:
    check = "--check" in sys.argv[1:]
    args = [a for a in sys.argv[1:] if a != "--check"]
    threshold = int(args[0]) if args else 3
    from logicash_etl_spark import get_spark
    from logicash_etl_spark.plans.inspect import scans
    from logicash_etl_spark.queries import QUERIES

    spark = get_spark(app_name="scan-audit")
    sf = "/root/testdata/sf0.01"
    flagged: dict[str, dict[str, int]] = {}
    skipped: set[str] = set()
    for name, fn in sorted(QUERIES.items()):
        try:
            df = fn(spark, sf)
            cnt: collections.Counter = collections.Counter()
            for sc in scans(df):
                for f in FACTS:
                    if f in sc["location"]:
                        cnt[f] += 1
            over = {f: c for f, c in cnt.items() if c >= threshold}
            if over:
                flagged[name] = over
                print(f"{name}: {over}", flush=True)
        except Exception as exc:  # noqa: BLE001 — side-effectful queries
            skipped.add(name)
            print(f"# skipped {name}: {type(exc).__name__}", file=sys.stderr)
        spark.catalog.clearCache()
    print(f"# flagged {len(flagged)} / {len(QUERIES)} queries at "
          f">={threshold} scans of one fact ({len(skipped)} skipped)")
    if not check:
        return
    if threshold != 3:
        print("# --check manifest is calibrated at threshold 3",
              file=sys.stderr)
        raise SystemExit(2)
    regressions = {
        n: over for n, over in flagged.items()
        if any(c > MANIFEST.get(n, {}).get(f, 0) for f, c in over.items())
    }
    # a manifest query that raised during plan build is NOT a landed
    # fix — report it as its own failure class, never as stale
    broken = sorted(set(MANIFEST) & skipped)
    stale = sorted(set(MANIFEST) - set(flagged) - skipped)
    if regressions:
        print(f"# SCAN REGRESSIONS vs manifest: {regressions}")
    if broken:
        print(f"# manifest entries that RAISED at plan build "
              f"(fix the query, then re-audit): {broken}")
    if stale:
        print(f"# stale manifest entries (fix landed — remove): {stale}")
    raise SystemExit(1 if (regressions or stale or broken) else 0)


if __name__ == "__main__":
    main()
