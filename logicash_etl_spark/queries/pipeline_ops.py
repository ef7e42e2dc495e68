"""Training-data pipeline queries — the curation ops an LLM data
pipeline runs at 100 TB, each oracle-checked (or rows-only where
stateful): repetition scoring, length histograms, stratified
sampling, PII scrubbing accounting, CDC snapshot diff, and a stateful
streaming counter.

All batch ops are pure JVM (regexp / array / hash built-ins — no
Python in the hot path); determinism comes from content hashes and
decimal-exact aggregation, mirroring functions/money.py policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logicash_etl_spark.operators.caching import scoped_persist
from logicash_etl_spark.operators.sampling import stratified_sample
from logicash_etl_spark.operators.text import BPE_MERGES, tokens, word_shingles
from logicash_etl_spark.queries._lots import build_once
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table


@query(
    "doc_repetition_score",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, source,
             CASE WHEN len(ws) >= 3
                  THEN list_transform(generate_series(1, len(ws) - 2),
                                      i -> array_to_string(ws[i:i+2], ' '))
                  ELSE [] END AS g
      FROM w
    )
    SELECT doc_id, source,
           len(g) AS n_shingles,
           len(list_distinct(g)) AS n_distinct,
           round(CASE WHEN len(g) > 0
                      THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                      ELSE 0.0 END, 6) AS dup_ratio,
           CASE WHEN len(g) > 0
                AND 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) > 0.2
                THEN TRUE ELSE FALSE END AS is_repetitive
    FROM sh
    """,
)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (the Gopher-rules quality signal):
    fraction of duplicated 3-gram shingles inside each doc. Pure JVM
    array ops — size/array_distinct on the shingle array, no shuffle
    at all (row-local), which is exactly why this filter is cheap
    enough to run over 100 TB before any dedup."""
    docs = read_table(spark, sf_dir, "documents")
    g = word_shingles("text", 3)
    n = F.size(g)
    nd = F.size(F.array_distinct(g))
    dup = F.when(n > 0, 1.0 - nd.cast("double") / n).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id", "source",
        n.alias("n_shingles"),
        nd.alias("n_distinct"),
        F.round(dup, 6).alias("dup_ratio"),
        (dup > 0.2).alias("is_repetitive"),
    )


@query(
    "doc_length_histogram",
    oracle="""
    SELECT (n_chars // 100) * 100 AS bucket_lo,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY (n_chars // 100) * 100
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length histogram with fixed-width buckets — the profile that
    drives truncation/packing decisions. Integer bucket arithmetic
    (no float binning drift); single map-side-combinable aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = (F.col("n_chars") / 100).cast("long") * 100
    return (
        docs.groupBy(bucket.alias("bucket_lo"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "stratified_sample_counts",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, source,
             CAST(CAST(('0x' || substr(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
      FROM documents
    )
    SELECT source, count(*) AS n_kept
    FROM tagged
    WHERE u < (CASE source WHEN 'src0' THEN 1.0
                           WHEN 'src1' THEN 0.5
                           WHEN 'src2' THEN 0.25
                           ELSE 0.1 END)
    GROUP BY source
    """,
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stratified downsampling (operators/sampling.py):
    membership is a pure md5-content-hash function of the doc id, so
    the SAME rows are kept on any cluster size, partitioning, engine,
    or re-run — the reproducibility property df.sample() lacks. The
    oracle reproduces the exact draw in SQL."""
    docs = read_table(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, id_col="doc_id", stratum_col="source",
        fractions={"src0": 1.0, "src1": 0.5, "src2": 0.25},
    )
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


@query(
    "pii_scrub_stats",
    oracle=r"""
    WITH scrubbed AS (
      SELECT c_mktsegment,
             len(regexp_extract_all(c_name, '[0-9]{6,}')) AS n_hits,
             length(c_name)
               - length(regexp_replace(c_name, '[0-9]{6,}', '', 'g')) AS chars_redacted
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(SUM(n_hits) AS BIGINT) AS n_redactions,
           CAST(SUM(chars_redacted) AS BIGINT) AS chars_redacted,
           count(*) AS n_rows
    FROM scrubbed GROUP BY c_mktsegment
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction accounting for a scrub pass (long digit runs stand in
    for account-number PII): hits and characters removed per segment.
    regexp_extract_all/regexp_replace are JVM codegen — the scrub
    itself never leaves the executor, and the audit is one aggregate.
    Patterns are kept RE2-safe so external engines reproduce them."""
    c = read_table(spark, sf_dir, "customer")
    pat = "[0-9]{6,}"
    scrubbed = c.select(
        "c_mktsegment",
        F.size(F.regexp_extract_all("c_name", F.lit(pat), F.lit(0))).alias("n_hits"),
        (
            F.length("c_name") - F.length(F.regexp_replace("c_name", pat, ""))
        ).alias("chars_redacted"),
    )
    return scrubbed.groupBy("c_mktsegment").agg(
        F.sum("n_hits").cast("bigint").alias("n_redactions"),
        F.sum("chars_redacted").cast("bigint").alias("chars_redacted"),
        F.count("*").alias("n_rows"),
    )


@query(
    "media_inventory",
    oracle="""
    SELECT source,
           count(*) AS n_media,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           count(DISTINCT sha256(text)) AS n_distinct_content
    FROM documents
    GROUP BY source
    """,
)
def media_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal inventory over the media-struct convention
    (operators/multimodal.py): documents packed as opaque binary blobs
    with typed metadata, profiled WITHOUT decoding — byte totals and
    content-digest cardinality per source, all JVM-side (sha2 +
    length; no Python, no codec). This is the profile a 100 TB media
    lake runs before any decode fan-out."""
    from logicash_etl_spark.operators.multimodal import media_stats, pack_media

    docs = read_table(spark, sf_dir, "documents")
    media = pack_media(
        docs.select("doc_id", "source", F.encode("text", "utf-8").alias("blob")),
        "blob", "text/plain",
    )
    stats = media_stats(media)
    return stats.groupBy("source").agg(
        F.count("*").alias("n_media"),
        F.sum("media_bytes").cast("bigint").alias("total_bytes"),
        F.countDistinct("media_sha256").alias("n_distinct_content"),
    )


@query(
    "snapshot_diff_cdc",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 3
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10 ELSE o_totalprice END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 5
    )
    SELECT CASE WHEN old.o_orderkey IS NULL THEN 'inserted'
                WHEN new.o_orderkey IS NULL THEN 'deleted'
                WHEN old.o_totalprice <> new.o_totalprice THEN 'updated'
                ELSE 'unchanged' END AS change_type,
           count(*) AS n_rows
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    GROUP BY 1
    """,
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff — the incremental-load primitive: classify
    every key across two snapshot versions as inserted / deleted /
    updated / unchanged via one full-outer join on the key. At 100 TB
    both snapshots shuffle once on the join key; comparing a content
    hash of tracked columns (here the single mutated column directly)
    avoids carrying wide payloads through the join."""
    o = read_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("old_p")
    )
    new = (
        o.filter(F.col("o_orderkey") % 13 != 5)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10)
            .otherwise(F.col("o_totalprice"))
            .alias("new_p"),
        )
    )
    j = old.join(new, on="k", how="full")
    change = (
        F.when(F.col("old_p").isNull(), "inserted")
        .when(F.col("new_p").isNull(), "deleted")
        .when(F.col("old_p") != F.col("new_p"), "updated")
        .otherwise("unchanged")
    )
    return j.groupBy(change.alias("change_type")).agg(F.count("*").alias("n_rows"))


@query(
    "scd2_dimension_report",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer
    ), upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END
               AS c_mktsegment,
             CAST(c_acctbal AS DECIMAL(18,2))
               + CASE WHEN c_custkey % 3 = 0 THEN 100 ELSE 0 END AS bal
      FROM customer
      WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0 OR c_custkey % 7 = 0
    ), changed AS (
      SELECT u.c_custkey, u.c_mktsegment, u.bal
      FROM upd u JOIN base b USING (c_custkey)
      WHERE u.c_mktsegment <> b.c_mktsegment OR u.bal <> b.bal
    )
    SELECT is_current, count(*) AS n_rows,
           CAST(SUM(bal) AS DOUBLE) AS total_bal
    FROM (
      SELECT FALSE AS is_current, b.bal
      FROM base b WHERE c_custkey IN (SELECT c_custkey FROM changed)
      UNION ALL
      SELECT TRUE, bal FROM changed
      UNION ALL
      SELECT TRUE, b.bal
      FROM base b WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    ) GROUP BY is_current
    """,
)
def scd2_dimension_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 apply, driver-visible (operators/merge.py): bootstrap
    a customer dimension, apply a synthetic update batch (balance bump
    for %3 keys, segment move for %5, a NO-OP update for %7 — the
    no-op path must not create versions), then report the dimension by
    currency flag. The oracle reconstructs the same apply in set
    algebra: closed rows = old versions of changed keys, current =
    changed new versions + untouched keys."""
    from logicash_etl_spark.functions.money import money
    from logicash_etl_spark.operators.merge import scd2_apply, scd2_init

    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    snap = c.select(
        "c_custkey", "c_mktsegment", money("c_acctbal").alias("bal")
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    dim = scd2_init(snap, "ts")
    k = F.col("c_custkey")
    upd = (
        c.filter((k % 3 == 0) | (k % 5 == 0) | (k % 7 == 0))
        .select(
            "c_custkey",
            F.when(k % 5 == 0, F.lit("MOVED")).otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            (money("c_acctbal") + F.when(k % 3 == 0, F.lit(100)).otherwise(F.lit(0)))
            .cast("decimal(18,2)").alias("bal"),
        )
        .withColumn("ts", F.to_timestamp(F.lit("2024-06-01 00:00:00")))
    )
    out = scd2_apply(dim, upd, keys=["c_custkey"], effective_ts="ts",
                     tracked_cols=["c_mktsegment", "bal"])
    return out.groupBy("is_current").agg(
        F.count("*").alias("n_rows"),
        F.sum("bal").cast("double").alias("total_bal"),
    )


@query(
    "tfidf_top_terms",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ), tf AS (
      SELECT source, word, count(*) AS tf FROM tok GROUP BY source, word
    ), df AS (
      SELECT word, count(DISTINCT source) AS df FROM tok GROUP BY word
    ), n AS (
      SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n_sources
      FROM documents
    ), scored AS (
      SELECT tf.source, tf.word,
             round(tf * ln(n_sources / df), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.source
                                ORDER BY round(tf * ln(n_sources / df), 6) DESC,
                                         tf.word) AS rk
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT source, word, tfidf FROM scored WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF top terms — the corpus-profiling signal for
    source weighting/contamination checks. Three mergeable aggregates
    (term frequency per source, document frequency per term, corpus
    source count — no fixture-cardinality literal) joined on the
    term, then a per-source top-k window. The IDF side is a |vocab|-
    sized CORPUS-DERIVED frame, so it reaches the join UNHINTED
    (Heaps' law: a 100 TB web corpus has billions of distinct tokens;
    AQE broadcasts it only while its runtime size allows — a forced
    hint would override the size check into a driver OOM). The
    single-row source-count frame is hinted: its size is a constant.
    Ties break on the term so top-k is deterministic."""
    from logicash_etl_spark.operators.joins import broadcast_bounded
    from logicash_etl_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    # tf, df and the corpus source count all derive from one tokenized
    # frame. explode_outer keeps a NULL-word row for zero-token docs so
    # n_sources still counts every document's source exactly as the
    # direct COUNT(DISTINCT source) over documents did; tf/df drop
    # those rows (a real token is never NULL).
    tok = docs.select(
        "source",
        F.explode_outer(tokens(F.lower(F.col("text")))).alias("word"),
    )
    words = tok.filter(F.col("word").isNotNull())
    tf = words.groupBy("source", "word").agg(F.count("*").alias("tf"))
    df = words.groupBy("word").agg(F.countDistinct("source").alias("df"))
    n = tok.agg(
        F.countDistinct("source").cast("double").alias("n_sources")
    )
    scored = (
        tf.join(broadcast_bounded(df, bounded=False), on="word")
        .crossJoin(broadcast_bounded(n, bounded=True))
        .select(
            "source", "word",
            F.round(
                F.col("tf") * F.log(F.col("n_sources") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("source", "word", "tfidf")
    )


@query(
    "hourly_ohlc_resample",
    oracle="""
    WITH seq AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, hr,
           CAST(max(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open,
           CAST(max(value) AS DOUBLE) AS high,
           CAST(min(value) AS DOUBLE) AS low,
           CAST(max(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close,
           count(*) AS n_events
    FROM seq GROUP BY event_type, hr
    """,
)
def hourly_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series OHLC downsampling: per (series, hour) the first /
    max / min / last values. Open/close pick rows by position, which
    min_by/max_by make NONDETERMINISTIC under timestamp ties — the
    row_number + composite (ts, event_id) tie-break is the
    deterministic form. One shuffle on the grouping key; window and
    groupBy share the partitioning."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    hr = F.date_trunc("hour", "ts")
    wa = W.partitionBy("event_type", hr).orderBy(F.asc("ts"), F.asc("event_id"))
    wd = W.partitionBy("event_type", hr).orderBy(F.desc("ts"), F.desc("event_id"))
    seq = ev.select(
        "event_type", hr.alias("hr"), "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return seq.groupBy("event_type", "hr").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).cast("double").alias("open"),
        F.max("value").cast("double").alias("high"),
        F.min("value").cast("double").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).cast("double").alias("close"),
        F.count("*").alias("n_events"),
    )


@query(
    "gopher_quality_suite",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), m AS (
      SELECT doc_id, source, ws,
             len(ws) AS n_words,
             CASE WHEN len(ws) > 0
                  THEN CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
                       / len(ws)
                  ELSE 0.0 END AS mean_wl,
             len(list_filter(ws, x -> x IN ('the', 'a'))) AS n_stop,
             CASE WHEN len(ws) >= 3
                  THEN list_transform(generate_series(1, len(ws) - 2),
                                      i -> array_to_string(ws[i:i+2], ' '))
                  ELSE [] END AS g
      FROM w
    ), t AS (
      SELECT doc_id, source, n_words, mean_wl, n_stop,
             CASE WHEN len(g) > 0
                  THEN CAST(list_max(list_transform(list_distinct(g),
                                x -> len(list_filter(g, y -> y = x)))) AS DOUBLE)
                       / len(g)
                  ELSE 0.0 END AS top3_frac
      FROM m
    )
    SELECT doc_id, source, n_words,
           round(mean_wl, 6) AS mean_word_len,
           round(top3_frac, 6) AS top_trigram_frac,
           (n_words >= 30 AND n_words <= 100000) AS pass_word_count,
           (mean_wl >= 3.0 AND mean_wl <= 10.0) AS pass_mean_word_len,
           (n_stop >= 2) AS pass_stopwords,
           (top3_frac <= 0.10) AS pass_repetition,
           (n_words >= 30 AND n_words <= 100000
            AND mean_wl >= 3.0 AND mean_wl <= 10.0
            AND n_stop >= 2 AND top3_frac <= 0.10) AS keep
    FROM t
    """,
)
def gopher_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules quality gate (Rae et al. 2021, section A1.1), the
    filters an LLM pipeline runs on every document before any dedup:
    word-count bounds, mean-word-length bounds, a minimum stopword
    count, and the top-repeated-trigram fraction (the most-frequent
    3-gram may cover at most 10% of the doc's trigrams). All metrics
    are row-local JVM array ops — token array let-bound once per row
    (the O(words^2) trap word_shingles documents), the trigram mode
    count O(distinct * n) inside the row, ZERO shuffle in the whole
    plan — which is why this gate is cheap enough for 100 TB ingest.
    Emits per-doc metrics plus per-rule verdicts so downstream
    triage can aggregate pass rates by source."""
    docs = read_table(spark, sf_dir, "documents")
    ws = tokens("text")
    g = word_shingles("text", 3)
    # let-bind both arrays via a one-element struct array: each is
    # evaluated once per row, not once per lambda reference
    bound = F.transform(
        F.array(F.struct(ws.alias("ws"), g.alias("g"))),
        lambda s: F.struct(
            F.size(s["ws"]).alias("n_words"),
            F.when(
                F.size(s["ws"]) > 0,
                F.aggregate(
                    s["ws"], F.lit(0), lambda acc, x: acc + F.length(x)
                ).cast("double")
                / F.size(s["ws"]),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_wl"),
            F.size(F.filter(s["ws"], lambda x: x.isin("the", "a"))).alias(
                "n_stop"
            ),
            F.when(
                F.size(s["g"]) > 0,
                F.array_max(
                    F.transform(
                        F.array_distinct(s["g"]),
                        lambda x: F.size(F.filter(s["g"], lambda y: y == x)),
                    )
                ).cast("double")
                / F.size(s["g"]),
            )
            .otherwise(F.lit(0.0))
            .alias("top3_frac"),
        ),
    )[0]
    m = docs.select("doc_id", "source", bound.alias("m"))
    n_words = F.col("m.n_words")
    mean_wl = F.col("m.mean_wl")
    n_stop = F.col("m.n_stop")
    top3 = F.col("m.top3_frac")
    pass_wc = (n_words >= 30) & (n_words <= 100000)
    pass_mwl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    pass_stop = n_stop >= 2
    pass_rep = top3 <= 0.10
    return m.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(top3, 6).alias("top_trigram_frac"),
        pass_wc.alias("pass_word_count"),
        pass_mwl.alias("pass_mean_word_len"),
        pass_stop.alias("pass_stopwords"),
        pass_rep.alias("pass_repetition"),
        (pass_wc & pass_mwl & pass_stop & pass_rep).alias("keep"),
    )


@query(
    "repeated_passage_report",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, source, h
      FROM w, UNNEST(CASE WHEN len(ws) >= 8
                          THEN list_transform(generate_series(1, len(ws) - 7),
                                              i -> md5(array_to_string(ws[i:i+7], ' ')))
                          ELSE [] END) AS t(h)
    ), freq AS (
      SELECT h, count(DISTINCT doc_id) AS df FROM sh GROUP BY h
    )
    SELECT source,
           count(DISTINCT sh.h) AS n_distinct_passages,
           count(DISTINCT CASE WHEN df >= 2 THEN sh.h END) AS n_shared_passages,
           round(CAST(count(DISTINCT CASE WHEN df >= 2 THEN sh.h END) AS DOUBLE)
                 / count(DISTINCT sh.h), 6) AS shared_ratio
    FROM sh JOIN freq USING (h)
    GROUP BY source
    """,
)
def repeated_passage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection (the Lee et al. 2022
    substring-dedup signal, passage-granular): 8-word passages hashed
    per doc, document frequency per passage from an inverted index,
    then per-source counts of passages that also appear in ANOTHER
    document — boilerplate and template text show up here before any
    pairwise dedup runs. Unlike pairwise Jaccard there is NO pair
    join anywhere: a passage in k docs costs k index rows (linear),
    so the plan survives hot boilerplate passages that would k^2 a
    pair generator. Two shuffles total and no join: the passage
    frame is (doc, h)-unique by construction (array_distinct), so
    one groupBy(h) yields df as a plain count PLUS the passage's
    source set (collect_set — bounded by source cardinality, ~20
    here, never by docs), and exploding that set gives one row per
    (source, passage) for a plain-count source rollup — no
    countDistinct expansion anywhere."""
    docs = read_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(word_shingles("text", 8), lambda s: F.md5(s))
                )
            ).alias("h"),
        )
    )
    per_h = sh.groupBy("h").agg(
        F.count("*").alias("df"),
        F.collect_set("source").alias("__srcs"),
    )
    return (
        per_h.select(F.explode("__srcs").alias("source"), "df")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_distinct_passages"),
            F.count(F.when(F.col("df") >= 2, F.lit(1))).alias(
                "n_shared_passages"
            ),
        )
        .withColumn(
            "shared_ratio",
            F.round(
                F.col("n_shared_passages").cast("double")
                / F.col("n_distinct_passages"),
                6,
            ),
        )
    )


@query(
    "source_overlap_matrix",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT source, h
      FROM w, UNNEST(CASE WHEN len(ws) >= 8
                          THEN list_transform(generate_series(1, len(ws) - 7),
                                              i -> md5(array_to_string(ws[i:i+7], ' ')))
                          ELSE [] END) AS t(h)
    ), per_src AS (
      SELECT source, count(*) AS n FROM sh GROUP BY source
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS shared_passages
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(shared_passages AS BIGINT) AS shared_passages,
           round(CAST(shared_passages AS DOUBLE)
                 / least(pa.n, pb.n), 6) AS overlap_coeff
    FROM pairs
    JOIN per_src pa ON pa.source = pairs.source_a
    JOIN per_src pb ON pb.source = pairs.source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-LEVEL duplication matrix: for every pair of
    sources, how many distinct 8-word passages they share, plus the
    overlap coefficient (shared / min(|A|, |B|) distinct passages) —
    the signal a mixture planner needs BEFORE weighting sources
    (two heavily-overlapping crawls should not both get full weight;
    `domain_mixture_weights` sets proportions as if sources were
    disjoint, this measures how wrong that assumption is) and the
    source-granular complement of `repeated_passage_report`'s
    per-source shared ratios.

    Scale (100 TB posture): NO data-sized self-join — the oracle's
    sh⋈sh is the semantic spec only. The plan is inverted-index
    shaped: distinct (source, passage) rows (the explode is map-side,
    the distinct is ONE shuffle on (source, h)), then groupBy(h) with
    collect_set(source) — bounded by SOURCE CARDINALITY (a catalog
    dimension, ~20 here; never by docs or corpus size) — and the i<j
    pair expansion happens per passage over that tiny sorted array
    (≤ C(|sources|,2) rows out per passage). The per-source totals
    frame is |sources| rows; AQE broadcasts both final joins. A hot
    boilerplate passage in k sources costs C(k,2) ≤ C(20,2) rows,
    not docs².

    Determinism: pair order is pinned by array_sort before expansion
    (source_a < source_b, matching the oracle's a.source < b.source);
    every count is exact integer; the single double divides two
    exact integers and rounds at the edge."""
    docs = read_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(word_shingles("text", 8), F.md5)
                )
            ).alias("h"),
        )
        .distinct()
    )
    per_src = sh.groupBy("source").agg(F.count("*").alias("n"))
    srcs = F.col("srcs")
    pair_structs = F.flatten(
        F.transform(
            srcs,
            lambda a, i: F.transform(
                F.slice(srcs, i + 2, F.size(srcs)),
                lambda b: F.struct(
                    a.alias("source_a"), b.alias("source_b")
                ),
            ),
        )
    )
    pairs = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_passages"))
    )
    pa = per_src.select(
        F.col("source").alias("source_a"), F.col("n").alias("__na")
    )
    pb = per_src.select(
        F.col("source").alias("source_b"), F.col("n").alias("__nb")
    )
    return (
        pairs.join(pa, on="source_a")
        .join(pb, on="source_b")
        .select(
            "source_a",
            "source_b",
            "shared_passages",
            F.round(
                F.col("shared_passages").cast("double")
                / F.least("__na", "__nb"),
                6,
            ).alias("overlap_coeff"),
        )
    )


def _bpe_train_ctes() -> str:
    r"""Chained-CTE SQL that TRAINS the same BPE merge table
    ``operators/text.bpe_train`` learns — the iterative argmax loop
    unrolled into ``BPE_MERGES`` static stages, each: adjacent-pair
    weighted counts over the current vocabulary, top-1 by (count desc,
    left asc, right asc), and a greedy left-to-right rewrite.

    The rewrite uses the same symbol-string encoding as
    ``operators/text.bpe_encode``: symbols wrapped in ``\n`` and
    concatenated (``[a,b]`` -> ``\na\n\nb\n``), so one plain
    non-overlapping ``replace`` IS the greedy merge application in
    both engines. An exhausted stage (no pairs left) yields an empty
    top-1 CTE: the vocabulary passes through unchanged (LEFT JOIN +
    CASE, so v8 always holds the final vocab for downstream token
    counting) while every later merge CTE stays empty — matching the
    python loop's ``break``."""
    nl = "chr(10)"
    sep = f"{nl}||{nl}"
    parts = [
        f"""v0 AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n,
             {nl} || array_to_string(string_split(w, ''), {sep}) || {nl} AS s
      FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents)
      GROUP BY w
    )"""
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(f"""p{k} AS (
      SELECT pr.l AS l, pr.r AS r, CAST(SUM(n) AS BIGINT) AS cnt
      FROM (SELECT n, string_split(trim(s, {nl}), {sep}) AS ws FROM v{k - 1}),
           UNNEST(CASE WHEN len(ws) >= 2
                       THEN list_transform(generate_series(1, len(ws) - 1),
                                           i -> {{'l': ws[i], 'r': ws[i + 1]}})
                       ELSE [] END) AS t(pr)
      GROUP BY pr.l, pr.r
    ), m{k} AS (
      SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
    ), v{k} AS (
      SELECT w, n,
             CASE WHEN m.l IS NULL THEN s
                  ELSE replace(s, {nl}||m.l||{sep}||m.r||{nl},
                               {nl}||m.l||m.r||{nl}) END AS s
      FROM v{k - 1} LEFT JOIN m{k} m ON TRUE
    )""")
    return "WITH " + ",\n    ".join(parts)


def _bpe_merges_oracle() -> str:
    stages = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, l || r AS merged, cnt AS weighted_count FROM m{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"{_bpe_train_ctes()}\n    {stages}"


@query("bpe_merges_report", oracle=_bpe_merges_oracle())
def bpe_merges_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training surface: the first 8 merge rules learned
    from the corpus's frequency-weighted vocabulary
    (operators/text.bpe_train). The corpus is scanned once for word
    counts; every merge round then runs on the distinct-word frame —
    vocabulary-bounded, the property that makes tokenizer training
    feasible at 100 TB. Deterministic (count desc, pair asc
    tie-break).

    Oracle upgrade (r5): the LAST rows-only query gains a full DuckDB
    oracle — the training loop unrolled into chained CTE stages
    (_bpe_train_ctes), the greedy rewrite expressed as a plain
    ``replace`` over the \\n-wrapped symbol string. The python exact
    twin in tests/test_extensions.py stays as the third independent
    implementation."""
    from logicash_etl_spark.operators.text import bpe_train

    docs = read_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    merges = bpe_train(wc)
    return spark.createDataFrame(
        [(i + 1, l, r, m, c) for i, (l, r, m, c) in enumerate(merges)],
        "merge_rank int, left_sym string, right_sym string, merged string, weighted_count bigint",
    )


@query(
    "bpe_token_counts",
    oracle=_bpe_train_ctes()
    + r""",
    wlen AS (
      SELECT w, CAST(len(string_split(trim(s, chr(10)), chr(10)||chr(10)))
                 AS BIGINT) AS n_sym
      FROM v8
    ), docw AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                        x -> x <> '')) AS w
      FROM documents
    ), per_doc AS (
      SELECT dw.doc_id, SUM(wl.n_sym) AS n_bpe
      FROM docw dw JOIN wlen wl ON dw.w = wl.w
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id, d.source,
           CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL tokenizer counts (closing the loop bpe_train started): a
    merge table is trained on the corpus, then applied with
    ``operators/text.bpe_encode`` — a chain of JVM ``replace``
    literals, no UDF — and per-document BPE token counts come from
    summing symbol counts over each doc's words. The curation budgets
    (token_budget_sample / token_balanced_shards / mixtures) run on
    whitespace counts by default; this query is the drop-in upgraded
    counter.

    100 TB posture: encoding runs on the DISTINCT-WORD frame only
    (vocabulary-bounded, like training); the per-occurrence cost is
    one hash join from the exploded corpus to the word->length table
    and one map-side-combinable sum — no per-occurrence string
    rewriting. Oracle: the same training CTEs as bpe_merges_report
    plus the same join, end to end in SQL."""
    from logicash_etl_spark.operators.text import bpe_encode, bpe_train

    docs = read_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    merges = bpe_train(wc)
    wlen = wc.select(
        "word", F.size(bpe_encode(F.col("word"), merges)).cast("bigint").alias("__n_sym")
    )
    per_doc = (
        docs.select("doc_id", "source", F.explode_outer(tokens("text")).alias("word"))
        .join(wlen, "word", "left")
        .groupBy("doc_id", "source")
        .agg(F.coalesce(F.sum("__n_sym"), F.lit(0)).cast("bigint").alias("n_bpe_tokens"))
    )
    return per_doc


@query(
    "collocation_lift_top20",
    oracle=r"""
    WITH w AS (
      SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), uni AS (
      SELECT t.x AS word, count(*) AS c FROM w, UNNEST(ws) AS t(x) GROUP BY t.x
    ), bi AS (
      SELECT b.l AS w1, b.r AS w2, count(*) AS c_ab
      FROM w, UNNEST(CASE WHEN len(ws) >= 2
                          THEN list_transform(generate_series(1, len(ws) - 1),
                                              i -> {'l': ws[i], 'r': ws[i+1]})
                          ELSE [] END) AS t(b)
      GROUP BY b.l, b.r
    ), tot AS (
      SELECT (SELECT SUM(c) FROM uni) AS t_u, (SELECT SUM(c_ab) FROM bi) AS t_b
    )
    SELECT w1, w2, c_ab,
           round(((CAST(c_ab AS DOUBLE) * t_u) * t_u)
                 / ((CAST(t_b AS DOUBLE) * a.c) * b.c), 6) AS lift
    FROM bi JOIN uni a ON w1 = a.word JOIN uni b ON w2 = b.word, tot
    WHERE c_ab >= 5
    ORDER BY ((CAST(c_ab AS DOUBLE) * t_u) * t_u)
             / ((CAST(t_b AS DOUBLE) * a.c) * b.c) DESC, w1, w2
    LIMIT 20
    """,
)
def collocation_lift_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (the PMI shape, log-free): observed/expected
    lift of adjacent word pairs — the phrase-detection pass word2vec /
    phrase-vocab builders run over a corpus. Lift keeps the exact
    PMI ranking while staying in +,*,/ (IEEE exact-rounded, identical
    op order in the oracle -> bitwise-comparable doubles; ln is only
    ~1-ulp reproducible across engines).

    Plan: one corpus scan feeds both the unigram and bigram counts
    (let-bound token arrays, row-local pair zip), two
    map-side-combinable groupBys, unigram side broadcast back onto
    bigrams (vocabulary-bounded), totals as a broadcast single row,
    top-20 via TakeOrderedAndProject with a (w1, w2) tie-break."""
    from logicash_etl_spark.operators.aggregates import top_k

    docs = read_table(spark, sf_dir, "documents")
    ws = tokens("text")
    toks = docs.select(ws.alias("ws"))
    uni = (
        toks.select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    bigram = F.when(
        F.size("ws") >= 2,
        F.zip_with(
            F.slice("ws", 1, F.size("ws") - 1),
            F.slice("ws", 2, F.size("ws") - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))

    bi_all = (
        toks.select(F.explode(bigram).alias("b"))
        .groupBy(F.col("b.l").alias("w1"), F.col("b.r").alias("w2"))
        .agg(F.count("*").alias("c_ab"))
    )
    # totals over the UNFILTERED distributions (probabilities are
    # corpus-wide; the min-count cut only gates which pairs report)
    tot = uni.agg(F.sum("c").alias("t_u")).crossJoin(
        bi_all.agg(F.sum("c_ab").alias("t_b"))
    )
    bi = bi_all.filter(F.col("c_ab") >= 5)
    a = uni.select(F.col("word").alias("__wa"), F.col("c").alias("__ca"))
    b = uni.select(F.col("word").alias("__wb"), F.col("c").alias("__cb"))
    lift = (
        (F.col("c_ab").cast("double") * F.col("t_u")) * F.col("t_u")
    ) / ((F.col("t_b").cast("double") * F.col("__ca")) * F.col("__cb"))
    # the unigram count frames are |vocab|-sized and CORPUS-DERIVED —
    # unhinted, so AQE broadcasts them only while their runtime size
    # allows (at 100 TB of web text the vocabulary is billions of
    # tokens; a forced hint would override Catalyst's size check into
    # a driver OOM). The single-row totals frame stays hinted — its
    # size is a constant of the plan, not of the data.
    from logicash_etl_spark.operators.joins import broadcast_bounded

    scored = (
        bi.join(broadcast_bounded(a, bounded=False), F.col("w1") == F.col("__wa"))
        .join(broadcast_bounded(b, bounded=False), F.col("w2") == F.col("__wb"))
        .crossJoin(broadcast_bounded(tot, bounded=True))
        .select("w1", "w2", "c_ab", lift.alias("__lift"))
    )
    out = top_k(scored, F.col("__lift"), 20, tiebreak=["w1", "w2"])
    return out.select(
        "w1", "w2", "c_ab", F.round("__lift", 6).alias("lift")
    )


@query(
    "winnowing_fingerprints",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), h AS (
      SELECT doc_id, source,
             CASE WHEN len(ws) >= 4
                  THEN list_transform(generate_series(1, len(ws) - 3),
                         i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 8))
                                   AS BIGINT))
                  ELSE [] END AS hs
      FROM w
    ), sel AS (
      SELECT doc_id, source, hs,
             CASE WHEN len(hs) >= 5
                  THEN list_distinct(list_transform(generate_series(1, len(hs) - 4),
                         i -> i + 5 - list_position(list_reverse(hs[i:i+4]),
                                                    list_min(hs[i:i+4]))))
                  ELSE [] END AS pos
      FROM h
    )
    SELECT doc_id, source,
           len(hs) AS n_grams,
           len(pos) AS n_fingerprints,
           len(list_distinct(list_transform(pos, p -> hs[p]))) AS n_distinct_fp,
           CASE WHEN len(pos) > 0
                THEN list_min(list_transform(pos, p -> hs[p])) END AS min_fp
    FROM sel
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): 4-gram hashes, window w=5, keep the RIGHTMOST
    minimal hash per window — guarantees every match of length
    >= w+k-1 shares a fingerprint while selecting ~2/(w+1) of the
    hashes. The rightmost-min is array_position on the REVERSED
    window (first hit in reverse = rightmost in order) — the same
    builtin exists in DuckDB, so the whole selection is oracle-exact.
    Row-local array ops only; zero shuffle before the (absent)
    rollup — the fingerprint extraction pass of a plagiarism/overlap
    index at 100 TB."""
    docs = read_table(spark, sf_dir, "documents")
    W = 5
    hs_expr = F.transform(
        word_shingles("text", 4),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
    )
    bound = F.transform(
        F.array(hs_expr),
        lambda hs: F.struct(
            F.size(hs).alias("n_grams"),
            F.when(
                F.size(hs) >= W,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(hs) - (W - 1)),
                        lambda i: i
                        + W
                        - F.array_position(
                            F.reverse(F.slice(hs, i, W)),
                            F.array_min(F.slice(hs, i, W)),
                        ).cast("int"),
                    )
                ),
            )
            .otherwise(F.array().cast("array<int>"))
            .alias("pos"),
            hs.alias("hs"),
        ),
    )[0]
    m = docs.select("doc_id", "source", bound.alias("m"))
    fps = F.transform(
        F.col("m.pos"), lambda p: F.element_at(F.col("m.hs"), p)
    )
    return m.select(
        "doc_id",
        "source",
        F.col("m.n_grams").alias("n_grams"),
        F.size("m.pos").alias("n_fingerprints"),
        F.size(F.array_distinct(fps)).alias("n_distinct_fp"),
        F.when(F.size("m.pos") > 0, F.array_min(fps)).alias("min_fp"),
    )


_CSV_LOT_CACHE: dict[str, str] = {}


def _csv_events_lot(spark: SparkSession, sf_dir: str) -> str:
    """READY-flagged CSV export of every-10th event (the custom
    datasource demo lot), built once per (process, sf_dir)."""
    from logicash_etl_spark.tmp import session_tmpdir

    def materialize() -> str:
        root = session_tmpdir("lq_csv_lot_")
        lot = f"{root}/lot1"
        (
            read_table(spark, sf_dir, "events")
            # every-10th sample: the custom source is the FLEXIBILITY
            # path (row-at-a-time python parse); the machinery under
            # test — planning, READY gate, partitioning, casts — is
            # volume-independent
            .filter(F.col("event_id") % 10 == 0)
            .select("event_id", "event_type", "value")
            .repartition(4)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(f"{lot}/events")
        )
        with open(f"{lot}/_READY", "w") as fh:
            fh.write("ok\n")
        return root

    return build_once(_CSV_LOT_CACHE, sf_dir, materialize)


@query(
    "lot_datasource_rollup",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE event_id % 10 = 0 GROUP BY event_type
    """,
)
def lot_datasource_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource end-to-end (Spark 4 DataSource API):
    the events table is exported as a READY-flagged CSV lot (the
    reference's producer contract, data_gen/generator.py:177-192),
    read back through ``format("logicash_lot")`` — lot discovery and
    the _READY gate on the driver, one InputPartition per data file,
    rows parsed on executors — then rolled up per type. The oracle is
    the same rollup over the original table, so the whole custom
    connector path (planning, partitioning, parsing, casts) gets a
    hash-exact signal. Doubles survive the CSV round-trip bit-for-bit
    (Java shortest-repr write, correctly-rounded parse)."""
    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    lot_root = _csv_events_lot(spark, sf_dir)
    register_lot_source(spark)
    ev = (
        spark.read.format("logicash_lot")
        .schema("event_id long, event_type string, value double")
        .option("path", lot_root)
        .load()
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


@query(
    "repeated_substring_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+7], ' ')) AS s
      FROM toks, unnest(generate_series(1, GREATEST(len(t) - 7, 0))) AS u(i)
    ), dup AS (
      SELECT s FROM sh GROUP BY s HAVING count(*) > 1
    ), d AS (
      SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)
    ), r AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM d
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens
    FROM r GROUP BY doc_id, grp
    """,
)
def repeated_substring_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring corpus dedup, the Lee-et-al ExactSubstr pass
    (arXiv:2107.06499): per document, the maximal token spans whose
    every position lies inside some >= 8-token substring repeated
    elsewhere in the corpus — the pass's REMOVAL SET, reported with
    1-based positions (a fused span need not repeat verbatim as a
    whole; see the operator docstring). Doc-level dedup
    (exact/MinHash/SimHash) misses these — boilerplate headers,
    license blocks, templated paragraphs repeat across
    otherwise-distinct documents and an LM memorizes them at scale.
    The reference pass builds a corpus suffix array; here the same
    removal set falls out of shingle-run fusion
    (operators/dedup.py:repeated_substring_spans). All corpus-sized
    shuffles key on the shingle hash; the islands window is per-doc.
    The oracle rebuilds the identical md5 shingle stream and run
    fusion in SQL."""
    from logicash_etl_spark.operators.dedup import repeated_substring_spans

    docs = read_table(spark, sf_dir, "documents")
    return repeated_substring_spans(docs, id_col="doc_id")


@query(
    "exact_substring_cut_stats",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+7], ' ')) AS s
      FROM toks, unnest(generate_series(1, GREATEST(len(t) - 7, 0))) AS u(i)
    ), dup AS (
      SELECT s FROM sh GROUP BY s HAVING count(*) > 1
    ), d AS (
      SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)
    ), r AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM d
    ), spans AS (
      SELECT doc_id, MIN(pos) AS ss, MAX(pos) + 7 AS se
      FROM r GROUP BY doc_id, grp
    ), pm AS (
      SELECT doc_id, ss, se,
             MAX(se) OVER (PARTITION BY doc_id ORDER BY ss, se
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM spans
    ), isl AS (
      SELECT doc_id, ss, se,
             SUM(CASE WHEN pmax IS NULL OR ss > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY ss, se) AS island
      FROM pm
    ), u AS (
      SELECT doc_id, island, MIN(ss) AS us, MAX(se) AS ue
      FROM isl GROUP BY doc_id, island
    ), cut AS (
      SELECT doc_id, SUM(ue - us + 1) AS tokens_cut
      FROM u GROUP BY doc_id
    )
    SELECT k.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.tokens_cut IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_affected,
           CAST(SUM(len(k.t)) AS BIGINT) AS tokens_total,
           CAST(SUM(COALESCE(c.tokens_cut, 0)) AS BIGINT) AS tokens_cut,
           round(SUM(COALESCE(c.tokens_cut, 0))
                 / CAST(SUM(len(k.t)) AS DOUBLE), 6) AS cut_ratio
    FROM toks k LEFT JOIN cut c USING (doc_id)
    GROUP BY k.source
    """,
)
def exact_substring_cut_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the ExactSubstr pass would REMOVE, accounted per source:
    total tokens, tokens inside any repeated >= 8-token span (union —
    overlapping spans never double-count, via the running-max interval
    merge in operators/dedup.py:merge_spans_stats), affected doc
    count, and the cut ratio. This is the go/no-go report a curation
    run reads before committing a destructive dedup pass: a cut_ratio
    spike on one source means templated boilerplate, not diversity.
    Same shingle-keyed shuffles as repeated_substring_spans; the
    interval-merge windows are per-doc, bounded by spans-per-doc.
    (r13 probe note: persisting one shared tokenized-array frame for
    the shingle pass + the n_tok totals was built and MEASURED at
    sf0.1 — 1.02 -> 1.64 s warm; the columnar cache write of
    corpus-sized string arrays costs more than the cheap second
    scan + regex split it saves, so the two-scan shape stays.)"""
    from logicash_etl_spark.operators.dedup import (
        merge_spans_stats,
        repeated_substring_spans,
    )
    from logicash_etl_spark.operators.text import token_count

    docs = read_table(spark, sf_dir, "documents")
    spans = repeated_substring_spans(docs, id_col="doc_id")
    cut = merge_spans_stats(spans, "doc_id")
    per_doc = docs.select(
        "doc_id", "source",
        token_count(F.lower(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    return (
        per_doc.join(cut, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("tokens_cut").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_docs_affected"),
            F.sum("n_tok").alias("tokens_total"),
            F.sum(F.coalesce("tokens_cut", F.lit(0))).cast("bigint").alias(
                "tokens_cut"
            ),
            F.round(
                F.sum(F.coalesce("tokens_cut", F.lit(0))).cast("double")
                / F.sum("n_tok").cast("double"),
                6,
            ).alias("cut_ratio"),
        )
    )


@query(
    "exact_substring_dedup_apply",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+7], ' ')) AS s
      FROM toks, unnest(generate_series(1, GREATEST(len(t) - 7, 0))) AS u(i)
    ), dup AS (
      SELECT s FROM sh GROUP BY s HAVING count(*) > 1
    ), d AS (
      SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)
    ), r AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM d
    ), spans AS (
      SELECT doc_id, MIN(pos) AS ss, MAX(pos) + 7 AS se
      FROM r GROUP BY doc_id, grp
    ), tokpos AS (
      SELECT doc_id, i AS pos, t[i] AS w
      FROM toks, unnest(generate_series(1, len(t))) AS u(i)
    ), cut AS (
      SELECT DISTINCT tp.doc_id, tp.pos
      FROM tokpos tp JOIN spans sp
        ON sp.doc_id = tp.doc_id AND tp.pos BETWEEN sp.ss AND sp.se
    ), kept AS (
      SELECT tp.doc_id, tp.pos, tp.w
      FROM tokpos tp LEFT JOIN cut c
        ON c.doc_id = tp.doc_id AND c.pos = tp.pos
      WHERE c.doc_id IS NULL
    )
    SELECT k.doc_id,
           string_agg(k.w, ' ' ORDER BY k.pos) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_tokens_kept
    FROM kept k
    GROUP BY k.doc_id
    HAVING count(*) > 0
    """,
)
def exact_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr pass APPLIED, not just reported: rebuild each
    document with every repeated >= 8-token span removed — the
    destructive step a curation pipeline runs after
    exact_substring_cut_stats signs off.

    Shape (r13): decide with small rows, move the payload once. The
    span list is the DECISION — tiny (one row per maximal duplicated
    run) — so it folds to one array per doc and rides a single
    doc_id join onto the persisted token arrays; surviving tokens are
    kept by a row-local higher-order filter over (token, position),
    which preserves document order natively. The r12 shape exploded
    the corpus to one row per token and shuffled that stream three
    times (span range-join, cut DISTINCT, keep anti-join) before a
    collect_list + array_sort reassembly; every one of those token
    exchanges and the per-doc sort is gone. The corpus is tokenized
    ONCE (shared with the shingle pass via tokens_col) and scanned
    once. Docs whose every token is cut disappear (nothing left to
    train on). The oracle rebuilds identical strings with an ordered
    string_agg, so the driver hash pins the reconstruction
    byte-for-byte."""
    from logicash_etl_spark.operators.dedup import repeated_substring_spans
    from logicash_etl_spark.operators.text import tokens as tok_fn

    docs = read_table(spark, sf_dir, "documents")
    # one tokenize pass feeds BOTH the shingle/span derivation and the
    # rebuild join below (documents scans 2 -> 1, regex splits 2 -> 1)
    toks = scoped_persist(
        docs.select(
            "doc_id", tok_fn(F.lower(F.col("text"))).alias("__t")
        )
    )
    spans = repeated_substring_spans(toks, id_col="doc_id", tokens_col="__t")
    # fold the spans to ONE small row per affected doc; docs without
    # spans keep every token via the left join + empty-array default
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    kept = toks.join(span_arr, on="doc_id", how="left").select(
        "doc_id",
        F.filter(
            F.col("__t"),
            lambda w, i: ~F.exists(
                F.coalesce(
                    F.col("__spans"),
                    F.array().cast(
                        "array<struct<span_start:bigint,span_end:bigint>>"
                    ),
                ),
                lambda s: (i + 1 >= s["span_start"])
                & (i + 1 <= s["span_end"]),
            ),
        ).alias("__kept"),
    )
    return kept.filter(F.size("__kept") > 0).select(
        "doc_id",
        F.array_join("__kept", " ").alias("clean_text"),
        F.size("__kept").cast("bigint").alias("n_tokens_kept"),
    )


@query(
    "pit_event_enrichment",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment FROM customer
    ), upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END
               AS c_mktsegment,
             CAST(c_acctbal AS DECIMAL(18,2))
               + CASE WHEN c_custkey % 3 = 0 THEN 100 ELSE 0 END AS bal
      FROM customer
      WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0 OR c_custkey % 7 = 0
    ), changed AS (
      SELECT u.c_custkey, u.c_mktsegment
      FROM upd u JOIN customer b USING (c_custkey)
      WHERE u.c_mktsegment <> b.c_mktsegment
         OR u.bal <> CAST(b.c_acctbal AS DECIMAL(18,2))
    ), dim AS (
      SELECT b.c_custkey, b.c_mktsegment,
             TIMESTAMP '2024-01-01' AS valid_from,
             TIMESTAMP '2024-06-01' AS valid_to
      FROM base b WHERE c_custkey IN (SELECT c_custkey FROM changed)
      UNION ALL
      SELECT c_custkey, c_mktsegment,
             TIMESTAMP '2024-06-01', TIMESTAMP '9999-12-31'
      FROM changed
      UNION ALL
      SELECT c_custkey, c_mktsegment,
             TIMESTAMP '2024-01-01', TIMESTAMP '9999-12-31'
      FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    )
    SELECT d.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN dim d
      ON e.user_id + 1 = d.c_custkey
     AND e.ts >= d.valid_from AND e.ts < d.valid_to
    GROUP BY 1
    """,
)
def pit_event_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) enrichment — the SCD2 CONSUMER pattern the
    dimension exists for: each fact row joins the dimension version
    that was valid AT ITS OWN event time (key equality + ts within
    [valid_from, valid_to)), never today's version — the lookup that
    keeps ML feature sets leakage-free and restated reports honest.
    Uses the same synthetic two-version dimension the scd2 report
    builds (v1 at 2024-01-01; changed keys get a v2 at 2024-06-01),
    so events before June match v1 and later events match the moved
    segment.

    Scale: the join is an EQUI-join on the key with the validity
    range as a residual filter — versions per key are few (bounded by
    change frequency), so fan-out is versions-per-key, never a range
    blow-up; the dimension broadcasts at dim scale and the fact side
    never shuffles. The oracle reconstructs both versions and their
    windows in set algebra and runs the identical range-residual
    join."""
    from logicash_etl_spark.functions.money import money
    from logicash_etl_spark.operators.merge import scd2_apply, scd2_init

    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    snap = c.select(
        "c_custkey", "c_mktsegment", money("c_acctbal").alias("bal")
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    dim0 = scd2_init(snap, "ts")
    k = F.col("c_custkey")
    upd = (
        c.filter((k % 3 == 0) | (k % 5 == 0) | (k % 7 == 0))
        .select(
            "c_custkey",
            F.when(k % 5 == 0, F.lit("MOVED")).otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            (money("c_acctbal") + F.when(k % 3 == 0, F.lit(100)).otherwise(F.lit(0)))
            .cast("decimal(18,2)").alias("bal"),
        )
        .withColumn("ts", F.to_timestamp(F.lit("2024-06-01 00:00:00")))
    )
    dim = scd2_apply(dim0, upd, keys=["c_custkey"], effective_ts="ts",
                     tracked_cols=["c_mktsegment", "bal"])
    ev = read_table(spark, sf_dir, "events").select(
        (F.col("user_id") + 1).alias("c_custkey"),
        "ts",
        money("value").alias("__v"),
    )
    dimsel = dim.select("c_custkey", "c_mktsegment", "valid_from", "valid_to")
    enriched = ev.join(
        F.broadcast(dimsel),
        on=[
            ev.c_custkey == dimsel.c_custkey,
            ev.ts >= dimsel.valid_from,
            ev.ts < dimsel.valid_to,
        ],
    )
    return enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("__v").cast("double").alias("total_value"),
    )


@query(
    "vocab_drift_psi",
    oracle=r"""
    WITH mx AS (
      SELECT max(doc_id) AS m FROM documents
    ), tok AS (
      SELECT CASE WHEN doc_id * 2 <= (SELECT m FROM mx) THEN 0 ELSE 1 END
               AS half,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ), ref_top AS (
      SELECT word FROM (
        SELECT word, count(*) AS n FROM tok WHERE half = 0 GROUP BY word
        ORDER BY n DESC, word ASC LIMIT 50
      )
    ), mapped AS (
      SELECT half,
             CASE WHEN word IN (SELECT word FROM ref_top)
                  THEN word ELSE '__other' END AS term
      FROM tok
    ), terms AS (
      SELECT word AS term FROM ref_top
      UNION ALL SELECT '__other'
    ), counts AS (
      SELECT t.term,
             CAST(COALESCE(SUM(CASE WHEN half = 0 THEN 1 END), 0) AS BIGINT)
               AS n_ref,
             CAST(COALESCE(SUM(CASE WHEN half = 1 THEN 1 END), 0) AS BIGINT)
               AS n_cur
      FROM terms t LEFT JOIN mapped m ON m.term = t.term
      GROUP BY t.term
    ), tot AS (
      SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
             CAST(SUM(n_cur) AS BIGINT) AS tc,
             CAST(count(*) AS BIGINT) AS nb
      FROM counts
    )
    SELECT term, n_ref, n_cur,
           round(
             ((n_ref + 1.0) / (tr + nb) - (n_cur + 1.0) / (tc + nb))
             * ln(((n_ref + 1.0) / (tr + nb))
                  / ((n_cur + 1.0) / (tc + nb))), 6) AS psi_contrib
    FROM counts, tot
    """,
)
def vocab_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between the corpus's first and second half —
    the TEXT-modality drift monitor beside value_drift_psi and
    embedding_centroid_drift: PSI over the reference half's top-50
    terms plus an __other bucket (new jargon, language shifts, and
    template changes land in __other long before perplexity moves).

    Determinism: the reference vocabulary is a top-50 with (count
    desc, word asc) tie-break — TakeOrderedAndProject, identical on
    both engines; all counts are exact BIGINTs; only the ln-based
    contribution is rounded (6dp). Scale: tokenize is the one corpus
    scan (pure JVM split); term mapping is a broadcast semi-lookup of
    50 words; the rollup is a 51-group mergeable aggregate."""
    from logicash_etl_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id").alias("m"))
    tok = docs.crossJoin(F.broadcast(mx)).select(
        F.when(F.col("doc_id") * 2 <= F.col("m"), 0).otherwise(1).alias("half"),
        F.explode(tokens(F.lower(F.col("text")))).alias("word"),
    )

    # The query only needs per-(half, word) counts: aggregate the token
    # stream once into a vocab-sized frame and derive both the
    # reference top-50 and the PSI rollup from it. Persisted: both
    # consumers re-read it, and a re-read would tokenize again.
    wc = scoped_persist(
        tok.groupBy("half", "word").agg(F.count("*").cast("bigint").alias("n"))
    )
    ref_top = (
        wc.filter(F.col("half") == 0)
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
        .select("word")
    )
    mapped = wc.join(
        F.broadcast(ref_top.withColumnRenamed("word", "__kept")),
        wc.word == F.col("__kept"),
        "left",
    ).select(
        "half",
        F.when(F.col("__kept").isNotNull(), F.col("word"))
        .otherwise(F.lit("__other"))
        .alias("term"),
        "n",
    )
    terms = ref_top.select(F.col("word").alias("term")).unionByName(
        tok.sparkSession.createDataFrame([("__other",)], "term string")
    )
    # aggregate BEFORE the zero-fill join: groupBy on 51 keys is safe
    # (map-side combine caps the shuffle at 51 rows per task), whereas
    # joining the token stream on 51 keys would funnel the __other
    # majority through one reducer
    agg = mapped.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(0))
        .cast("bigint").alias("__r"),
        F.sum(F.when(F.col("half") == 1, F.col("n")).otherwise(0))
        .cast("bigint").alias("__c"),
    )
    # persisted: counts feeds the totals agg and the final select
    counts = scoped_persist(
        terms.join(agg, on="term", how="left").select(
            "term",
            F.coalesce("__r", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("__c", F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
        F.count("*").cast("bigint").alias("nb"),
    )
    p = (F.col("n_ref") + 1.0) / (F.col("tr") + F.col("nb"))
    q = (F.col("n_cur") + 1.0) / (F.col("tc") + F.col("nb"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "term",
        "n_ref",
        "n_cur",
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )



# Fellegi-Sunter scoring, shared by fs_linkage_report and
# golden_record_report (whose docstring promises the SAME scoring):
# one blocked-candidate projection, one integer milli-bit score
# expression, on both the Spark and the SQL side.
_FS_PROJ_SQL = """
      SELECT p_partkey, p_brand, p_size, p_type,
             string_split(p_name, ' ')[1] AS tok,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
"""

_FS_SCORE_SQL = """(CASE WHEN a.p_type = b.p_type THEN 5570 ELSE -4248 END
                + CASE WHEN a.tok = b.tok THEN 3910 ELSE -3233 END
                + CASE WHEN abs(a.cents - b.cents) <= 1000
                       THEN 2000 ELSE -1500 END)"""

_FS_MATCH_THRESHOLD = 7000


def _fs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FS comparison projection (SQL twin: _FS_PROJ_SQL)."""
    return read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_type",
        F.split(F.col("p_name"), " ").getItem(0).alias("tok"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )


def _fs_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked candidate pairs with the FS score (SQL twin:
    _FS_SCORE_SQL over the (brand, size) blocked self-join). Columns:
    p_brand, p_partkey_a, p_partkey_b, score."""
    p = _fs_parts(spark, sf_dir)
    a = p.select(*[F.col(c).alias(c + "_a") for c in p.columns])
    b = p.select(*[F.col(c).alias(c + "_b") for c in p.columns])
    score = (
        F.when(F.col("p_type_a") == F.col("p_type_b"), 5570).otherwise(-4248)
        + F.when(F.col("tok_a") == F.col("tok_b"), 3910).otherwise(-3233)
        + F.when(
            F.abs(F.col("cents_a") - F.col("cents_b")) <= 1000, 2000
        ).otherwise(-1500)
    )
    return a.join(
        b,
        (F.col("p_brand_a") == F.col("p_brand_b"))
        & (F.col("p_size_a") == F.col("p_size_b"))
        & (F.col("p_partkey_a") < F.col("p_partkey_b")),
    ).select(
        F.col("p_brand_a").alias("p_brand"),
        "p_partkey_a",
        "p_partkey_b",
        score.cast("bigint").alias("score"),
    )


@query(
    "fs_linkage_report",
    oracle=f"""
    WITH p AS ({_FS_PROJ_SQL}
    ), pairs AS (
      SELECT a.p_brand,
             CAST({_FS_SCORE_SQL} AS BIGINT) AS score
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN score >= 7000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match,
           CAST(SUM(CASE WHEN score >= 0 AND score < 7000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_possible,
           CAST(SUM(CASE WHEN score < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonmatch,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM pairs
    GROUP BY p_brand
    """,
)
def fs_linkage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969 — the
    splink/dedupe.io model): candidate pairs from COMPOUND BLOCKING,
    each scored by summed per-field log-odds weights, then classified
    against the two FS thresholds (match / possible-match /
    non-match). The probabilistic upgrade of fuzzy_name_match's
    similarity join: fields carry evidence proportional to how
    discriminating they are, not a flat edit distance.

    Weights are PRECOMPUTED integer milli-bits, 1000*log2(m/u) for
    agreement and 1000*log2((1-m)/(1-u)) for disagreement (m = P(agree
    | match), u = P(agree | non-match) — in production these come out
    of EM over the blocked pairs): type m=.95/u=.02 -> +5570/-4248,
    first name-token m=.9/u=.06 -> +3910/-3233, price-within-10
    m=.8/u=.28 -> +2000/-1500 (rounded). Integer sums make the
    classification engine-exact — float log-likelihoods would drift
    at the thresholds.

    Scale: blocking on (brand, size) bounds every block at
    |parts| / (|brands| x |sizes|) rows, so the self-join shuffles on
    the block key and candidate fan-out is quadratic only WITHIN a
    block (~16 rows here) — the same posture as fuzzy_name_match and
    the dedup family; the report is one |brands|-group rollup."""
    t = F.lit(_FS_MATCH_THRESHOLD)
    pairs = _fs_scored_pairs(spark, sf_dir)
    return pairs.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum((F.col("score") >= t).cast("int")).cast("bigint").alias("n_match"),
        F.sum(((F.col("score") >= 0) & (F.col("score") < t)).cast("int"))
        .cast("bigint").alias("n_possible"),
        F.sum((F.col("score") < 0).cast("int")).cast("bigint").alias("n_nonmatch"),
        F.max("score").cast("bigint").alias("max_score"),
    )


@query(
    "bpe_fertility_by_lang",
    oracle=_bpe_train_ctes()
    + r""",
    wlen AS (
      SELECT w, CAST(len(string_split(trim(s, chr(10)), chr(10)||chr(10)))
                 AS BIGINT) AS n_sym
      FROM v8
    ), docw AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), per_lang AS (
      SELECT dw.lang,
             CAST(count(*) AS BIGINT) AS n_ws_tokens,
             CAST(SUM(wl.n_sym) AS BIGINT) AS n_bpe_tokens
      FROM docw dw JOIN wlen wl ON dw.w = wl.w
      GROUP BY dw.lang
    ), bytes_per AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes
      FROM documents GROUP BY lang
    )
    SELECT b.lang, b.n_docs, b.n_bytes,
           COALESCE(p.n_ws_tokens, CAST(0 AS BIGINT)) AS n_ws_tokens,
           COALESCE(p.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens,
           CASE WHEN COALESCE(p.n_bpe_tokens, 0) = 0
                THEN CAST(-1 AS BIGINT)
                ELSE CAST(1000 * b.n_bytes // p.n_bpe_tokens AS BIGINT)
           END AS bytes_per_bpe_milli,
           CASE WHEN COALESCE(p.n_ws_tokens, 0) = 0
                THEN CAST(-1 AS BIGINT)
                ELSE CAST(1000 * p.n_bpe_tokens // p.n_ws_tokens AS BIGINT)
           END AS bpe_per_word_milli
    FROM bytes_per b LEFT JOIN per_lang p USING (lang)
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — bytes per BPE token and BPE
    tokens per word, the compression-equity readout every multilingual
    tokenizer evaluation reports (a language whose fertility is 2x
    pays 2x the context budget for the same content; the metric that
    drives vocab-allocation decisions). Rides the same vocabulary-
    bounded pipeline as bpe_token_counts: train 8 merges once, encode
    the DISTINCT-WORD frame, then one exploded-corpus join + per-lang
    rollup. Ratios are integer milli-units under floor division
    (multiply-don't-divide), so the report is engine-exact; -1 marks
    a language with no encodable tokens rather than a NULL/0 division.

    Scale: identical posture to bpe_token_counts — per-occurrence
    cost is one hash join against the word->length table and a
    map-side-combinable sum; the per-lang frame is |langs| rows."""
    from logicash_etl_spark.operators.text import bpe_encode, bpe_train

    docs = read_table(spark, sf_dir, "documents")
    tokenized = docs.select("lang", F.explode(tokens("text")).alias("word"))
    # persisted: bpe_train and the word-length join below both read wc
    wc = scoped_persist(
        tokenized.groupBy("word").agg(F.count("*").alias("n"))
    )
    merges = bpe_train(wc)
    wlen = wc.select(
        "word",
        F.size(bpe_encode(F.col("word"), merges)).cast("bigint").alias("__n_sym"),
    )
    per_lang = (
        tokenized.join(wlen, "word")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_ws_tokens"),
            F.sum("__n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    bytes_per = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.octet_length("text")).cast("bigint").alias("n_bytes"),
    )
    j = bytes_per.join(per_lang, "lang", "left")
    nbpe = F.coalesce("n_bpe_tokens", F.lit(0).cast("bigint"))
    nws = F.coalesce("n_ws_tokens", F.lit(0).cast("bigint"))
    return j.select(
        "lang", "n_docs", "n_bytes",
        nws.alias("n_ws_tokens"),
        nbpe.alias("n_bpe_tokens"),
        F.when(nbpe == 0, F.lit(-1).cast("bigint"))
        .otherwise(F.expr("1000 * n_bytes div n_bpe_tokens"))
        .cast("bigint")
        .alias("bytes_per_bpe_milli"),
        F.when(nws == 0, F.lit(-1).cast("bigint"))
        .otherwise(F.expr("1000 * n_bpe_tokens div n_ws_tokens"))
        .cast("bigint")
        .alias("bpe_per_word_milli"),
    )


@query(
    "golden_record_report",
    oracle=f"""
    WITH RECURSIVE p AS ({_FS_PROJ_SQL}
    ), m AS (
      SELECT a.p_partkey AS src, b.p_partkey AS dst
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE {_FS_SCORE_SQL} >= {_FS_MATCH_THRESHOLD}
    ), edges AS (
      SELECT src, dst FROM m UNION SELECT dst, src FROM m
    ), cc AS (
      SELECT src AS node, src AS comp FROM edges
      UNION
      SELECT e.dst AS node, cc.comp
      FROM cc JOIN edges e ON e.src = cc.node
      WHERE cc.comp < e.dst
    ), lab AS (
      SELECT node, CAST(min(comp) AS BIGINT) AS cluster_id
      FROM cc GROUP BY node
    ), mem AS (
      SELECT l.cluster_id, p.p_partkey, p.p_type, p.cents
      FROM lab l JOIN p ON p.p_partkey = l.node
    ), tmode AS (
      SELECT cluster_id, p_type,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY count(*) DESC, p_type ASC) AS rk
      FROM mem GROUP BY cluster_id, p_type
    )
    SELECT m.cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(MAX(m.cents) AS BIGINT) AS max_price_cents,
           CAST(MIN(m.cents) AS BIGINT) AS min_price_cents,
           (SELECT p_type FROM tmode t
            WHERE t.cluster_id = m.cluster_id AND t.rk = 1) AS golden_type
    FROM mem m
    GROUP BY m.cluster_id
    """,
)
def golden_record_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MDM (master-data-management) consolidation pipeline as
    one query — the step AFTER record linkage: Fellegi-Sunter match
    pairs (the fs_linkage_report scoring, match threshold only)
    become edges, connected components group transitively-linked
    records into entities (A~B, B~C => one entity, even when A and C
    never scored), and each cluster emits a GOLDEN RECORD by
    survivorship rules — modal type (count desc, value asc
    tie-break), price range, min-id as the stable cluster key.

    Exactness: scoring and thresholds are the integer milli-bit
    weights; clustering is exact transitive closure (Spark side:
    operators/graph.connected_components, a driver union-find; oracle
    side: a recursive CTE propagating min labels, equivalent because
    the component minimum reaches every member along monotone-guarded
    paths); survivorship is deterministic argmax. The driver hash
    therefore pins blocking + scoring + transitive closure +
    survivorship END TO END.

    Scale: candidate pairs are compound-blocked (quadratic only
    within (brand, size) blocks); the match graph is orders of
    magnitude smaller than the table (93 nodes at sf0.01), exactly
    the regime connected_components' driver union-find targets;
    survivorship is one rollup + one per-cluster argmax window over
    member rows (bounded by cluster sizes)."""
    from pyspark.sql import Window

    from logicash_etl_spark.operators.graph import connected_components

    p = _fs_parts(spark, sf_dir)
    matches = (
        _fs_scored_pairs(spark, sf_dir)
        .filter(F.col("score") >= _FS_MATCH_THRESHOLD)
        .select(
            F.col("p_partkey_a").alias("id_a"),
            F.col("p_partkey_b").alias("id_b"),
        )
    )
    lab = connected_components(matches).select(
        F.col("id").alias("p_partkey"),
        F.col("component").cast("bigint").alias("cluster_id"),
    )
    mem = lab.join(p, "p_partkey").select(
        "cluster_id", "p_partkey", "p_type", "cents"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("cnt"), F.asc("p_type")
    )
    golden_type = (
        mem.groupBy("cluster_id", "p_type")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cluster_id", F.col("p_type").alias("golden_type"))
    )
    return (
        mem.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.max("cents").cast("bigint").alias("max_price_cents"),
            F.min("cents").cast("bigint").alias("min_price_cents"),
        )
        .join(golden_type, "cluster_id")
    )
