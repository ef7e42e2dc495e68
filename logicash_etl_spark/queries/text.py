"""Text-analysis queries over the documents table, with DuckDB oracles.

Oracle-parity conventions: both sides tokenize as
filter(split(trim(text), '\\s+'), != '') and count regexp hits with
identical RE2 patterns; ratios are double divisions of exact ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logicash_etl_spark.operators.text import (
    bpe_ish_token_count,
    content_hash,
    predict_lang,
    quality_features,
    quality_flag,
    token_count,
)
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table


@query(
    "token_stats_by_source",
    oracle=r"""
    WITH w AS (
      SELECT source, n_chars,
             len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_ish
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_bpe_ish) AS BIGINT) AS total_bpe_ish_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / count(*) AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM w GROUP BY source
    """,
)
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting rolled up per source — the scan is one pass,
    tokenization is a JVM split (no UDF)."""
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "n_chars",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_ish"),
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_bpe_ish").cast("bigint").alias("total_bpe_ish_tokens"),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


@query(
    "lang_id_confusion",
    oracle=r"""
    WITH scored AS (
      -- COALESCE: NULL text scores 0 on every marker -> 'und', the
      -- same no-evidence verdict Spark's predict_lang reaches (its
      -- NULL-score WHEN branches all fail through to the default);
      -- without it the CASE below would fall through NULL
      -- comparisons to the LAST language branch
      SELECT lang,
        len(regexp_extract_all(lower(COALESCE(text, '')), '(\b(the|and|of|is|to)\b)')) AS s_en,
        len(regexp_extract_all(lower(COALESCE(text, '')), '(\b(el|la|de|que|los)\b)')) AS s_es,
        len(regexp_extract_all(lower(COALESCE(text, '')), '(\b(der|die|und|das|ist)\b)')) AS s_de,
        len(regexp_extract_all(lower(COALESCE(text, '')), '(\b(le|la|les|et|est)\b)')) AS s_fr,
        len(regexp_extract_all(lower(COALESCE(text, '')), '(的|是|了|在|我)')) AS s_zh
      FROM documents
    ), pred AS (
      SELECT lang,
        CASE WHEN greatest(s_en,s_es,s_de,s_fr,s_zh) = 0 THEN 'und'
             WHEN s_de = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'de'
             WHEN s_en = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'en'
             WHEN s_es = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'es'
             WHEN s_fr = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'fr'
             ELSE 'zh' END AS lang_pred
      FROM scored
    )
    SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-marker argmax) evaluated as a
    confusion matrix against the labeled lang column."""
    docs = read_table(spark, sf_dir, "documents")
    pred = predict_lang(docs, "text")
    return pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


@query(
    "doc_quality_flags",
    oracle=r"""
    WITH feat AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
        length(text) AS n_chars_calc,
        len(regexp_extract_all(text, '[0-9]')) AS n_digits,
        len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
        len(regexp_extract_all(text, '\s')) AS n_spaces
      FROM documents
    )
    SELECT doc_id, n_tokens,
      CASE WHEN n_tokens > 0 THEN CAST(n_chars_calc - n_spaces AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
      CAST(n_punct AS DOUBLE) / greatest(n_chars_calc, 1) AS punct_ratio,
      CAST(n_digits AS DOUBLE) / greatest(n_chars_calc, 1) AS digit_ratio,
      (n_tokens >= 10
       AND (CASE WHEN n_tokens > 0 THEN CAST(n_chars_calc - n_spaces AS DOUBLE) / n_tokens ELSE 0.0 END) <= 12.0
       AND CAST(n_digits AS DOUBLE) / greatest(n_chars_calc, 1) <= 0.3) AS quality_keep
    FROM feat
    """,
)
def doc_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality features + keep/drop flag per document."""
    docs = read_table(spark, sf_dir, "documents")
    feat = quality_flag(quality_features(docs))
    return feat.select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio", "digit_ratio", "quality_keep"
    )


@query(
    "doc_fingerprints",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS exact_fp,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    )
    SELECT doc_id, exact_fp,
           CASE WHEN len(ws) >= 3 THEN
             list_min(list_transform(generate_series(1, len(ws) - 2),
                                     i -> md5(array_to_string(ws[i:i+2], ' '))))
           ELSE NULL END AS shingle_sketch
    FROM w
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 content hash (exact dedup key) +
    min-shingle sketch (rolling-hash-style near-dup sketch); md5 so
    any engine reproduces the fingerprints."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        content_hash("text").alias("exact_fp"),
        F.array_min(
            F.transform(
                # inline word_shingles to keep null-when-short semantics aligned
                _shingles_expr(), F.md5
            )
        ).alias("shingle_sketch"),
    )


def _shingles_expr():
    from logicash_etl_spark.operators.text import word_shingles

    return F.when(F.size(word_shingles("text", 3)) > 0, word_shingles("text", 3))


@query(
    "word_count_top20",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS word
      FROM documents
    )
    SELECT word, count(*) AS n FROM tok
    GROUP BY word ORDER BY n DESC, word LIMIT 20
    """,
)
def word_count_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical corpus word count: explode tokens -> hash agg ->
    top-k. Partial aggregation makes the shuffle carry |vocab| rows per
    task, not |tokens|."""
    docs = read_table(spark, sf_dir, "documents")
    from logicash_etl_spark.operators.text import tokens

    return (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.col("word").asc())
        .limit(20)
    )
