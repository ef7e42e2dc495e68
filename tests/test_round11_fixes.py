"""Round-11 pinning tests: the r10 dirty-corpus probes' 4 P1 bugs and
7 P2 cross-engine NULL divergences are fixed ON THE PATHOLOGICAL
CORPUS, not just documented — each test builds the dirty fixture the
finding described and proves Spark and DuckDB now agree through the
driver-identical comparator (plus direct unit pins on the operator
semantics where the query-level compare alone could mask a fix).
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from logicash_etl_spark.queries import ORACLES, QUERIES
from tests.oracle_utils import compare, copy_fixture_tables


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    """The r10 NULL-injection corpus (same recipe as
    corpus_robustness_check.py nulls mode): NULL documents.text 1/13,
    NULL events.value 1/11, NULL events.props 1/17."""
    d = str(tmp_path_factory.mktemp("dirty_nulls"))
    copy_fixture_tables(
        d,
        {
            "documents": (
                "SELECT doc_id, "
                "CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text, "
                "lang, source, n_chars FROM t"
            ),
            "events": (
                "SELECT event_id, ts, user_id, event_type, "
                "CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value, "
                "CASE WHEN event_id % 17 = 0 THEN NULL ELSE props END AS props "
                "FROM t"
            ),
        },
    )
    return d


@pytest.fixture(scope="module")
def all_null_user_dir(tmp_path_factory):
    """One user's EVERY event value NULLed — the all-NULL-group
    pathology behind the ewma DIVIDE_BY_ZERO and the trend-forecast
    NaN slope."""
    d = str(tmp_path_factory.mktemp("dirty_all_null_user"))
    copy_fixture_tables(
        d,
        {
            "events": (
                "SELECT event_id, ts, user_id, event_type, "
                "CASE WHEN user_id = (SELECT min(user_id) FROM t) "
                "THEN NULL ELSE value END AS value, props FROM t"
            ),
        },
    )
    return d


# --------------------------------------------------------------- P1s


def test_quota_enforcement_null_value_state(spark, nulls_dir):
    """P1: a NULL event value used to flow NaN through
    floor().astype(int64) into the int64 quota state (emitted
    -9223372036854756993 — state corruption). Contract now: NULL
    values consume quota, contribute 0 cents (SQL SUM semantics),
    pinned by full oracle compare on the nulls corpus plus an
    explicit no-garbage bound."""
    name = "streaming_quota_enforcement"
    df = QUERIES[name](spark, nulls_dir)
    compare(df, ORACLES[name], nulls_dir)
    bad = df.filter(
        (F.col("accepted_value_cents") < 0)
        | (F.col("accepted_value_cents") > 10**12)
    ).count()
    assert bad == 0


def test_decode_image_meta_null_binary(spark):
    """P1 unit: a NULL media blob must yield a null-metadata ROW, not
    a dead Python worker."""
    from logicash_etl_spark.operators.multimodal import (
        decode_image_meta,
        pack_media,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"payload")), (2, None)], "doc_id long, blob binary"
    )
    media = pack_media(df, "blob", "image/png")
    rows = {r["id"]: r for r in decode_image_meta(media).collect()}
    assert rows[1]["width"] is not None
    assert rows[1]["media_bytes"] == 7
    assert rows[2]["width"] is None
    assert rows[2]["height"] is None
    assert rows[2]["format"] is None
    assert rows[2]["media_bytes"] is None


def test_media_decode_meta_nulls_corpus(spark, nulls_dir):
    """P1: NULL-text docs land in a NULL-format group with null
    metadata sums — mirrored in the oracle (whose CASE previously
    fell through to 'jpeg')."""
    name = "media_decode_meta"
    df = QUERIES[name](spark, nulls_dir)
    compare(df, ORACLES[name], nulls_dir)
    null_group = df.filter(F.col("format").isNull()).collect()
    assert len(null_group) == 1 and null_group[0]["n_media"] > 0


def test_phash_null_binary(spark, nulls_dir):
    """P1: NULL blob -> NULL phash (pairs with nothing), end-to-end
    green on the nulls corpus."""
    from logicash_etl_spark.operators.multimodal import (
        pack_media,
        phash_image,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"payload")), (2, None)], "doc_id long, blob binary"
    )
    sig = {
        r["id"]: r["phash"]
        for r in phash_image(pack_media(df, "blob", "image/png")).collect()
    }
    assert sig[1] is not None and sig[2] is None
    name = "media_phash_dups"
    compare(QUERIES[name](spark, nulls_dir), ORACLES[name], nulls_dir)


def test_ewma_all_null_group(spark, all_null_user_dir):
    """P1: an all-NULL-value user used to raise DIVIDE_BY_ZERO (den =
    0 for every row). Contract now: NULL ewma, both engines."""
    name = "ewma_event_value"
    df = QUERIES[name](spark, all_null_user_dir)
    compare(df, ORACLES[name], all_null_user_dir)
    con = duckdb.connect()
    u0 = con.execute(
        "SELECT min(user_id) FROM "
        f"read_parquet('{all_null_user_dir}/events.parquet')"
    ).fetchone()[0]
    con.close()
    rows = df.filter(F.col("user_id") == u0).select("ewma").collect()
    assert rows and all(r["ewma"] is None for r in rows)


# --------------------------------------------------------------- P2s


def test_asof_join_null_field_not_skipped(spark):
    """P2 unit: the matched right row's NULL field must surface AS
    NULL — per-column last(ignorenulls) used to leak the previous
    row's value (stale match). SQL ASOF takes the whole row."""
    from logicash_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 30)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, None)], "k long, ts long, v double"
    )
    out = asof_join(left, right, on="k").collect()
    assert len(out) == 1
    assert out[0]["ts_right"] == 20  # latest right row matched...
    assert out[0]["v_right"] is None  # ...with ITS value, null included


def test_asof_last_purchase_nulls_corpus(spark, nulls_dir):
    name = "asof_last_purchase"
    compare(QUERIES[name](spark, nulls_dir), ORACLES[name], nulls_dir)


def test_bloom_history_dedup_nulls_corpus(spark, nulls_dir):
    """P2: NULL text fingerprints as empty text in BOTH engines; no
    incoming row silently drops out of the decision report."""
    name = "bloom_history_dedup"
    df = QUERIES[name](spark, nulls_dir)
    compare(df, ORACLES[name], nulls_dir)
    con = duckdb.connect()
    n_incoming = con.execute(
        "SELECT count(*) FROM "
        f"read_parquet('{nulls_dir}/documents.parquet') "
        "WHERE doc_id % 10 >= 8"
    ).fetchone()[0]
    con.close()
    assert df.count() == n_incoming


def test_frame_sample_inventory_nulls_corpus(spark, nulls_dir):
    name = "frame_sample_inventory"
    compare(QUERIES[name](spark, nulls_dir), ORACLES[name], nulls_dir)


def test_lang_id_null_text_is_und(spark, nulls_dir):
    """P2: NULL text classifies as 'und' (no marker evidence) in both
    engines — the oracle's CASE used to fall through NULL comparisons
    to the last language branch ('zh')."""
    from logicash_etl_spark.operators.text import predict_lang

    df = spark.createDataFrame([(None,), ("the cat and dog",)], "text string")
    got = {r["text"]: r["lang_pred"] for r in predict_lang(df).collect()}
    assert got[None] == "und" and got["the cat and dog"] == "en"
    name = "lang_id_confusion"
    compare(QUERIES[name](spark, nulls_dir), ORACLES[name], nulls_dir)


def test_trend_forecast_null_pairs(spark, nulls_dir, all_null_user_dir):
    """P2: regr_* NULL-pair semantics in the pandas fit — a NULL value
    no longer poisons the group's slope with NaN."""
    name = "per_group_trend_forecast"
    compare(QUERIES[name](spark, nulls_dir), ORACLES[name], nulls_dir)
    compare(
        QUERIES[name](spark, all_null_user_dir),
        ORACLES[name],
        all_null_user_dir,
    )


def test_sequence_packing_nulls_corpus(spark, nulls_dir):
    """P2: NULL text packs as 0 tokens (Spark size(NULL) = -1 used to
    walk the running offsets backwards)."""
    name = "sequence_packing_stats"
    compare(QUERIES[name](spark, nulls_dir), ORACLES[name], nulls_dir)


def test_streaming_incremental_dedup_nulls_corpus(spark, nulls_dir):
    """P2: oracle now mirrors the engine's md5(COALESCE(text, ''))
    fingerprint — NULL-text docs dedup as the empty document instead
    of dropping out of one engine's verdicts."""
    name = "streaming_incremental_dedup"
    compare(QUERIES[name](spark, nulls_dir), ORACLES[name], nulls_dir)


# ------------------------------------------------- unicode shims


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    """Pathological text appended to 1/7 docs (emoji, CJK, RTL,
    combining accents, ZWJ) — the corpus the STRING->BLOB oracle
    shims used to refuse."""
    d = str(tmp_path_factory.mktemp("dirty_unicode"))
    path = (
        " café 中文分词 "
        "\U0001f600\U0001f601 "
        "مرحبا éclair "
        "\U0001f468‍\U0001f469‍\U0001f467"
    )
    copy_fixture_tables(
        d,
        {
            "documents": (
                "SELECT doc_id, "
                f"CASE WHEN doc_id % 7 = 0 THEN text || $${path}$$ "
                "ELSE text END AS text, lang, source, n_chars FROM t"
            ),
        },
    )
    return d


@pytest.mark.parametrize(
    "name", ["media_decode_meta", "frame_sample_inventory"]
)
def test_media_oracle_encode_shim_unicode(spark, unicode_dir, name):
    """The two media oracles that rode r11 changed slots now derive
    their BLOB via encode() — DuckDB no longer refuses the non-ASCII
    corpus, and both engines agree on the UTF-8 byte arithmetic."""
    compare(QUERIES[name](spark, unicode_dir), ORACLES[name], unicode_dir)
