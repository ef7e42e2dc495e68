"""Pinning tests for the round-12 fixes: the 4 [contract] NULL-key
postures (the last rows of the nulls-corpus manifest), decided and
mirrored in both engines.

Posture record:
- token_budget_sample / mixture_build_plan / padding_waste_report:
  NULL text COUNTS 0 tokens — the document participates like an
  empty one (the r11 sequence_packing_stats precedent).
- robust_value_stats: NULL value EXCLUDED — SQL aggregates ignore
  NULLs, and a trimmed mean over unknown values is undefined.
"""

from __future__ import annotations

import pytest

from logicash_etl_spark.queries import QUERIES


@pytest.fixture(scope="module")
def null_corpus(tmp_path_factory):
    """A tiny corpus with NULL text / NULL value rows, written as the
    same parquet layout the queries read."""
    import duckdb

    d = tmp_path_factory.mktemp("r12nulls")
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT doc_id, text, 'en' AS lang, source,
                 COALESCE(len(text), 0) AS n_chars
          FROM (VALUES
            (1, 'web',  'alpha beta gamma'),
            (2, 'web',  CAST(NULL AS VARCHAR)),
            (3, 'web',  'delta'),
            (4, 'book', 'one two three four five'),
            (5, 'book', CAST(NULL AS VARCHAR))
          ) AS t(doc_id, source, text)
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT * FROM (VALUES
            (1, 101, 'purchase', TIMESTAMP '2024-01-01 00:00:00', 10.0,
             NULL),
            (2, 101, 'purchase', TIMESTAMP '2024-01-01 00:01:00', NULL,
             NULL),
            (3, 102, 'purchase', TIMESTAMP '2024-01-01 00:02:00', 30.0,
             NULL),
            (4, 102, 'refund',   TIMESTAMP '2024-01-01 00:03:00', NULL,
             NULL)
          ) AS t(event_id, user_id, event_type, ts, value, props)
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
    """)
    con.close()
    return str(d)


def test_null_text_counts_zero_tokens(spark, null_corpus):
    out = {
        r.doc_id: (r.n_tokens, r.cum_tokens)
        for r in QUERIES["token_budget_sample"](spark, null_corpus).collect()
    }
    # NULL docs are admitted with 0 tokens, consuming no budget
    assert out[2] == (0, 4)  # after web's 3+1 real tokens
    assert out[5] == (0, 5)  # after book's 5 real tokens
    assert len(out) == 5


def test_mixture_plan_null_text_counts_zero(spark, null_corpus):
    rows = {
        r.source: r
        for r in QUERIES["mixture_build_plan"](spark, null_corpus).collect()
    }
    # NULL docs count toward n_docs_total but contribute 0 tokens
    assert rows["web"].n_docs_total == 3
    assert rows["web"].n_tokens_total == 4
    assert rows["book"].n_docs_total == 2
    assert rows["book"].n_tokens_total == 5


def test_padding_waste_null_text_is_zero_len_sequence(spark, null_corpus):
    rows = {
        r.strategy: r
        for r in QUERIES["padding_waste_report"](spark, null_corpus).collect()
    }
    # all 5 docs (incl. 2 NULL) occupy batch slots; real tokens = 9
    for r in rows.values():
        assert r.total_tokens == 9
    assert set(rows) == {"arrival", "length_sorted"}


def test_robust_stats_exclude_null_values(spark, null_corpus):
    rows = {
        r.event_type: r
        for r in QUERIES["robust_value_stats"](spark, null_corpus).collect()
    }
    # refund has ONLY a NULL value -> excluded entirely (no row);
    # purchase counts the 2 non-null values only
    assert "refund" not in rows
    assert rows["purchase"].n == 2
    assert rows["purchase"].mean_milli == 1000 * (1000 + 3000) // 2


# --- LSH knee preset (r11 longdoc adjudication hardening) -----------

def _shingle_set(text, n=3):
    t = text.split()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def test_lsh_preset_catches_longdoc_knee_pair(spark):
    """The r11 longdoc adjudication: mixed-tail docs form TRUE pairs
    at J~0.38, below the default 64x16 s-curve knee (P(candidate)
    ~28%). The calibrated 128x64 config (the smallest band count whose
    s-curve clears 0.95 recall at J=0.35) must catch exactly this shape."""
    from logicash_etl_spark.operators.caching import cache_scope
    from logicash_etl_spark.operators.dedup import minhash_dedup_pairs

    tail = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo "
        "sierra tango uniform victor whiskey xray yankee zulu "
    ) * 3
    # 20 distinct prefix words per side puts the shared-tail pair at
    # J~0.39 — inside the adjudicated 0.377-0.491 knee zone
    pref_a = " ".join(f"aardvark{i}" for i in range(20)) + " "
    pref_b = " ".join(f"bobolink{i}" for i in range(20)) + " "
    a, b_txt = pref_a + tail, pref_b + tail
    inter = _shingle_set(a) & _shingle_set(b_txt)
    union = _shingle_set(a) | _shingle_set(b_txt)
    j = len(inter) / len(union)
    assert 0.3 < j < 0.5, f"fixture drifted out of the knee zone: J={j}"

    docs = spark.createDataFrame(
        [(1, a), (2, b_txt), (3, "completely unrelated filler words here")],
        "doc_id long, text string",
    )
    n_hashes, bands = 128, 64
    with cache_scope():
        pairs = {
            (r.id_a, r.id_b)
            for r in minhash_dedup_pairs(
                docs, "doc_id", threshold=0.35,
                num_hashes=n_hashes, bands=bands,
            ).collect()
        }
    assert (1, 2) in pairs or (2, 1) in pairs
