#!/usr/bin/env python
"""Dirty-corpus robustness sweeps: every catalog query + oracle on a
pathological variant of the fixture tables, through the driver-
identical comparator.

Modes (each builds its corpus from sf0.001 via DuckDB COPY so both
engines read the same files):

- ``empty``: ZERO-ROW tables, schemas preserved — the quiet-hour /
  fresh-onboarding path no row-count fixture exercises.
- ``nulls``: NULL injected where the schema allows and production
  data plausibly delivers — documents.text (1/13), events.value
  (1/11), events.props (1/17).
- ``unicode``: pathological text appended to 1/7 documents — emoji,
  CJK, RTL Arabic, combining accents, ZWJ sequences — the byte!=char
  and regex-engine territory an ASCII fixture never enters.
- ``timewarp``: 1/9 events shifted to 1955 (negative epoch), 1/13 to
  the 2170s, 1/11 order dates to the 1910s — epoch arithmetic, date
  functions, and watermark behavior under extreme event-time skew.
- ``duppk``: 1/6 of documents/events/orders rows duplicated EXACTLY
  (same ids) — the primary-key-violation corpus the schema contract
  forbids and a partial-load retry produces anyway.
- ``skew``: one third of events/orders/lineitems funneled to ONE hot
  user/customer/supplier (FKs reassigned to existing parents) — the
  hot-key corpus where per-key group size dwarfs a partition.
- ``longdoc``: 1/31 docs grow a ~24k-char repetitive tail, 1/37 a
  mixed tail — document-length skew 2-3 orders above the median.

Each mode carries a committed KNOWN manifest — the adjudicated
failure set. The sweep exits 0 iff failures EQUAL the manifest: a new
crash/divergence fails the check, and a fixed query must be removed
(stale entries fail too, so the list only shrinks deliberately).

Usage:
    python corpus_robustness_check.py empty
    python corpus_robustness_check.py nulls
    python corpus_robustness_check.py unicode
    python corpus_robustness_check.py timewarp
    python corpus_robustness_check.py duppk
    python corpus_robustness_check.py skew
    python corpus_robustness_check.py longdoc
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from oracle_utils import TABLES, compare, copy_fixture_tables  # noqa: E402

# --- empty-corpus manifest: two deliberate classes -------------------
# trainer/required-input contracts: iterative quantizers and the MMR
# query REFUSE degenerate input with a clean ValueError (loud-failure
# contract). empty-aggregate semantics: Spark cube()/rollup()/grouping
# -sets emit ZERO rows on empty input where the SQL standard (and
# DuckDB) emits the grand-total row; COUNT-vs-SUM(CASE) NULL-vs-0 on
# the same boundary. Documented rather than papered over: a COALESCE
# veneer would misstate Spark's actual semantics to users.
KNOWN_EMPTY: dict[str, str] = {
    "ams_f2_estimate": "empty-aggregate: oracle emits grand-total row",
    "cube_order_stats": "Spark cube() emits 0 rows on empty; SQL emits all-NULLs grand total",
    "grouping_sets_report": "Spark grouping-sets emit 0 rows on empty; SQL emits grand total",
    "rollup_returns": "Spark rollup() emits 0 rows on empty; SQL emits grand total",
    "dq_violation_report": "COUNT(*)=0 vs SUM(CASE)=NULL on the empty boundary",
    "embedding_centroid_drift": "empty-aggregate NULL-vs-0 defaults",
    "map_function_surface": "map over empty: '' vs NULL serialization",
    "ivf_ann_topk": "trainer-contract: kmeans refuses 0 training vectors (clean ValueError)",
    "mmr_diverse_exemplars": "required-input contract: query vector absent -> clean ValueError (was raw IndexError before r10)",
    "pq_ann_topk": "trainer-contract: pq codebooks refuse 0-row sample (clean ValueError)",
    "semantic_dedup_stats": "trainer-contract: kmeans refuses 0 training vectors (clean ValueError)",
}

# --- nulls-corpus manifest -------------------------------------------
# EMPTY as of r12: the last 4 [contract] rows decided their query-
# level NULL postures (mixture_build_plan / token_budget_sample /
# padding_waste_report: NULL text COUNTS 0 tokens, the
# sequence_packing_stats precedent; robust_value_stats: NULL value
# EXCLUDED, SQL-aggregate semantics), mirrored in both engines and
# pinned here. The prefix-sum operators keep their loud non-null key
# contracts for raw callers; the catalog queries now satisfy them by
# construction.
KNOWN_NULLS: dict[str, str] = {}


# --- unicode-corpus manifest -----------------------------------------
# EMPTY as of r12: the last two STRING->BLOB oracle shims
# (audio_chunk_inventory, media_inventory) were rewritten via
# encode(), the same recipe media_decode_meta and
# frame_sample_inventory used in r11 — DuckDB refuses non-ASCII
# STRING -> BLOB casts but encode() is unicode-clean.
KNOWN_UNICODE: dict[str, str] = {}

# --- timewarp-corpus manifest ----------------------------------------
# The six streaming rows are Spark's watermark DOING ITS JOB: rows
# arriving decades outside the watermark horizon are dropped by the
# streaming engine (the documented late-data contract) while the
# batch SQL oracle has no watermark concept and counts everything —
# on the driver fixtures (bounded skew) the two agree, which is what
# the oracle pins. (value_trend_stats left this list in r12: both
# engines widened to DECIMAL(19,2), which survives epoch-scale x*x.)
# --- duppk-corpus manifest -------------------------------------------
# Every row below is an operator whose SEMANTICS presuppose unique
# row identity — dedup pair generation (id_a < id_b collapses for
# id-identical twins), per-doc token joins (fan-out vs collapse),
# ranked top-k over now-ambiguous tie-break keys, streaming
# id-keyed dedup. On a PK-violating corpus these are UNDEFINED, and
# the two engines resolve the ambiguity differently — which is why
# the engine ships the GATES a pipeline must run first:
# key_uniqueness_audit (all 9 declared keys) and
# referential_integrity_audit both stay green on this corpus and
# REPORT the violation. Contract: audit, then operate.
KNOWN_DUPPK: dict[str, str] = {
    "audio_chunk_inventory": "[requires-pk] per-doc join fan-out vs collapse",
    "big_ticket_orders": "[requires-pk] ranked selection over duplicated tie-break keys",
    "bpe_token_counts": "[requires-pk] per-doc token join fan-out",
    "dedup_clusters": "[requires-pk] id-identical twins collapse pair generation",
    "dedup_clusters_exact": "[requires-pk] same",
    "frame_sample_inventory": "[requires-pk] per-doc frame sampling keyed on doc_id",
    "incremental_minhash_dedup": "[requires-pk] history/incoming split assumes unique doc_id",
    "leakage_safe_split_report": "[requires-pk] cluster labels keyed on doc_id",
    "media_phash_dups": "[requires-pk] id-identical twins in pair generation",
    "minhash_lsh_dups": "[requires-pk] id_a < id_b excludes id-identical twins",
    "prefix_jaccard_dups": "[requires-pk] same prefix-pair id ambiguity",
    "repeated_passage_report": "[requires-pk] passage ownership keyed on doc_id",
    "streaming_dedup_counts": "[requires-pk] id-keyed streaming dedup",
    "streaming_jittered_dedup": "[requires-pk] id-keyed streaming dedup",
    "token_budget_sample_bpe": "[requires-pk] per-doc BPE counts join fan-out",
}


# --- longdoc-corpus manifest ------------------------------------------
# Seventh probe surface (round 11): DOCUMENT-LENGTH SKEW — one doc in
# 31 grows a ~24k-char highly-REPETITIVE tail (a 6-word phrase cycled
# ~600x: the boilerplate/crawler-loop pathology), one in 37 grows a
# ~26k-char MIXED tail (several distinct phrase blocks). n_chars is
# recomputed so the metadata column stays truthful. This drives the
# tokenizer, shingle, MinHash/SimHash, BPE, substring-dedup,
# winnowing, packing, and repetition/entropy paths at 2-3 orders of
# magnitude above the fixture's median doc length — where quadratic
# shingle pairing, uncapped posting lists, or offset overflows would
# first show. Engine agreement on the same files is the check.
#
# The two rows below are the PROBABILISTIC-RECALL contract of banded
# LSH, not bugs (adjudicated r11, arithmetic in COVERAGE.md): the
# mixed-tail docs form true pairs at Jaccard 0.377-0.491, BELOW the
# 64-hash x 16-band s-curve knee where P(candidate) is only 28-62%
# per pair — the textbook LSH false-negative zone. The exact-pair
# oracle therefore legitimately contains pairs the LSH path misses;
# the fixture corpora's true pairs all sit ABOVE the knee, which is
# why the oracle-equality contract holds there (and the driver pins
# it). At a real 0.35-threshold workload a larger signature (more
# MINHASH_BANDS in operators/dedup.py) would move the knee down — the
# documented trade.
KNOWN_LONGDOC: dict[str, str] = {
    "minhash_lsh_dups": "[lsh-recall] 3 true pairs at J=0.377-0.491 sit below the 64x16 s-curve knee (28-62% catch) — probabilistic contract, exact verifier unaffected",
    "dedup_clusters": "[lsh-recall] the same missed borderline pairs cascade into different cluster labels vs the exact-closure oracle",
}

_REP_TAIL = "lorem ipsum dolor sit amet consectetur "  # 6 tokens/cycle
_MIX_TAIL = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu "
)
_LONG_TEXT = (
    f"CASE WHEN doc_id % 31 = 0 THEN text || ' ' || repeat('{_REP_TAIL}', 600) "
    f"WHEN doc_id % 37 = 0 THEN text || ' ' || repeat('{_MIX_TAIL}', 160) "
    "ELSE text END"
)
LONGDOC = {
    "documents": f"SELECT * REPLACE ({_LONG_TEXT} AS text, length({_LONG_TEXT}) AS n_chars) FROM t",
}


# --- skew-corpus manifest ---------------------------------------------
# Sixth probe surface (round 11): EXTREME KEY SKEW — one third of all
# events funneled to one hot user, one third of orders to one hot
# customer, one third of lineitems to one hot supplier (FK columns
# reassigned to EXISTING parents, entity PKs untouched, so
# referential integrity holds by construction). This is the
# hot-key corpus every 100 TB pipeline eventually meets (a bot
# account, a house-brand supplier, a default-bucket customer);
# uniform fixtures never enter the code paths where per-key group
# size dwarfs a partition. The sweep checks ENGINE AGREEMENT on the
# same skewed files — results legitimately differ from the clean
# corpus, but Spark and DuckDB must still agree bit-for-bit.
KNOWN_SKEW: dict[str, str] = {}

SKEW = {
    "events": "SELECT * REPLACE (CASE WHEN event_id % 3 = 0 THEN "
    "(SELECT min(user_id) FROM t) ELSE user_id END AS user_id) FROM t",
    "orders": "SELECT * REPLACE (CASE WHEN o_orderkey % 3 = 0 THEN "
    "(SELECT min(c_custkey) FROM t_customer) ELSE o_custkey END AS o_custkey) FROM t",
    "lineitem": "SELECT * REPLACE (CASE WHEN l_orderkey % 3 = 0 THEN "
    "(SELECT min(s_suppkey) FROM t_supplier) ELSE l_suppkey END AS l_suppkey) FROM t",
}

DUPPK = {
    t: f"SELECT * FROM t UNION ALL SELECT * FROM t WHERE {key} % 6 = 0"
    for t, key in {"documents": "doc_id", "events": "event_id", "orders": "o_orderkey"}.items()
}


KNOWN_TIMEWARP: dict[str, str] = {
    "streaming_dedup_counts": "[watermark] late rows beyond horizon dropped by streaming, counted by batch oracle",
    "streaming_jittered_dedup": "[watermark] same late-data contract",
    "streaming_late_data_audit": "[watermark] rows beyond the audit's own watermark horizon are dropped, not audited",
    "streaming_outer_interval_join": "[watermark] interval-join state eviction under extreme skew",
    "streaming_session_windows": "[watermark] sessions beyond horizon dropped",
    "streaming_tumbling_counts": "[watermark] tumbling windows beyond horizon dropped",
    # value_trend_stats: FIXED r12 — both engines widened to
    # DECIMAL(19,2) (int128 in DuckDB; (19,2)x(19,2)->(38,4) exact)
}

TIMEWARP = {
    "events": "SELECT * REPLACE (CASE WHEN event_id % 9 = 0 THEN ts - INTERVAL 70 YEAR "
    "WHEN event_id % 13 = 0 THEN ts + INTERVAL 150 YEAR ELSE ts END AS ts) FROM t",
    "orders": "SELECT * REPLACE (CASE WHEN o_orderkey % 11 = 0 THEN "
    "o_orderdate - INTERVAL 80 YEAR ELSE o_orderdate END AS o_orderdate) FROM t",
}


# emoji, CJK, RTL arabic, combining accent, ZWJ family emoji
_PATHOLOGICAL = (
    " café 中文分词 \U0001F600\U0001F601 "
    "مرحبا éclair "
    "\U0001F468‍\U0001F469‍\U0001F467"
)
UNICODE = {
    "documents": "SELECT * REPLACE (CASE WHEN doc_id % 7 = 0 THEN text || "
    f"$${_PATHOLOGICAL}$$ ELSE text END AS text) FROM t",
}

EMPTY = {t: "SELECT * FROM t LIMIT 0" for t in TABLES}

NULLS = {
    "documents": "SELECT * REPLACE (CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text) FROM t",
    "events": "SELECT * REPLACE (CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value, "
    "CASE WHEN event_id % 17 = 0 THEN NULL ELSE props END AS props) FROM t",
}


MODES = {
    "empty": (EMPTY, KNOWN_EMPTY),
    "nulls": (NULLS, KNOWN_NULLS),
    "unicode": (UNICODE, KNOWN_UNICODE),
    "timewarp": (TIMEWARP, KNOWN_TIMEWARP),
    "duppk": (DUPPK, KNOWN_DUPPK),
    "skew": (SKEW, KNOWN_SKEW),
    "longdoc": (LONGDOC, KNOWN_LONGDOC),
}


def main() -> int:
    if len(sys.argv) != 2 or sys.argv[1] not in MODES:
        print(__doc__, file=sys.stderr)
        return 2
    overrides, known = MODES[sys.argv[1]]

    from logicash_etl_spark import get_spark
    from logicash_etl_spark.queries import ORACLES, QUERIES

    d = tempfile.mkdtemp(prefix=f"lq_{sys.argv[1]}_")
    copy_fixture_tables(d, overrides)
    spark = get_spark(app_name=f"robustness-{sys.argv[1]}")
    failed: dict[str, str] = {}
    names = sorted(QUERIES)
    for i, name in enumerate(names, 1):
        try:
            compare(QUERIES[name](spark, d), ORACLES[name], d)
        except Exception as exc:  # noqa: BLE001 — classified below
            failed[name] = f"{type(exc).__name__}: {str(exc)[:120]}"
            tag = "KNOWN" if name in known else "NEW !"
            print(f"  {i}/{len(names)} {tag} {name}: {failed[name]}",
                  flush=True)
        finally:
            spark.catalog.clearCache()
    spark.stop()
    shutil.rmtree(d)

    new = sorted(set(failed) - set(known))
    fixed = sorted(set(known) - set(failed))
    print(
        f"{sys.argv[1]} corpus: {len(names) - len(failed)}/{len(names)} "
        f"clean; {len(failed)} failures ({len(failed) - len(new)} known)"
    )
    if new:
        print(f"NEW failures (fix or adjudicate): {new}")
    if fixed:
        print(f"stale KNOWN entries (remove from manifest): {fixed}")
    return 1 if (new or fixed) else 0


if __name__ == "__main__":
    sys.exit(main())
