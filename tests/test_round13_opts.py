"""Round-13 optimization pins: every rewrite that changed an
operator's internals ships an equivalence test against the retired
formulation (the optimization must be invisible in the results).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ams_jvm_bitslice_matches_sql_case_ladder(spark):
    """The int-bit-op sign builder (_ams_sign_counters) must
    reproduce the retired per-(key, j) substr/instr SQL-CASE counters
    exactly — including the NULL-h row, which the CASE sent to the
    ELSE branch (-1 on every counter) — and empty input must yield
    zero counter rows, the retired explode + groupBy(j) posture."""
    from logicash_etl_spark.queries.mergeable import _ams_sign_counters

    rows = [
        (3, "0123456789abcdef" * 4),
        (1, "fedcba9876543210" * 4),
        (7, "a" * 64),
        (2, "0" * 64),
        (5, None),  # NULL key -> NULL md5 concat
    ]
    df = spark.createDataFrame(rows, "n bigint, h string")
    ref = (
        df.select(
            F.explode(F.sequence(F.lit(0), F.lit(255))).alias("j"), "n", "h"
        )
        .select(
            "j",
            (
                F.col("n")
                * F.expr(
                    "CASE WHEN ((instr('0123456789abcdef',"
                    " substr(h, CAST(j div 4 AS INT) + 1, 1)) - 1)"
                    " div (CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2"
                    " WHEN 2 THEN 4 ELSE 8 END)) % 2 = 0"
                    " THEN 1 ELSE -1 END"
                )
            ).alias("sgn"),
        )
        .groupBy("j")
        .agg(F.sum("sgn").cast("bigint").alias("c"))
    )
    got = _ams_sign_counters(df.select("n", "h"))
    ref_map = {r["j"]: r["c"] for r in ref.collect()}
    got_map = {r["j"]: r["c"] for r in got.collect()}
    assert got_map == ref_map
    assert len(got_map) == 256
    empty = spark.createDataFrame([], "n bigint, h string")
    assert _ams_sign_counters(empty).count() == 0


def test_mmr_driver_norm_is_bitwise_twin_of_jvm_fold(spark):
    """mmr_select now computes literal-vector norms on the driver;
    the Python fold must equal the JVM sequential fold bit for bit,
    or the oracle's unrolled CTE argmax keys drift."""
    import math

    vecs = [
        [0.1, 0.2, 0.3],
        [1.5, -2.25, 3.125, 0.0625],
        [1e-8, 1e8, -1e-8],
        [0.0, 0.0],
    ]

    def pynorm(v):
        s = 0.0
        for x in v:
            s += float(x) * float(x)
        return math.sqrt(s)

    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    jvm = [
        r[0]
        for r in df.select(
            F.sqrt(
                F.aggregate(
                    F.zip_with("v", "v", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda s, x: s + x,
                )
            )
        ).collect()
    ]
    assert jvm == [pynorm(v) for v in vecs]


def test_asof_join_rejects_all_reserved_names(spark):
    """ADVICE r12: the reserved-name guard covered only a right __rt;
    left or right columns named __r/__t/__is_left silently collided
    with asof_join's internals. All four names must raise, on either
    side."""
    import pytest

    from logicash_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 9)], "k bigint, ts string, __r bigint"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 5)], "k bigint, ts string, v bigint"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="__r"):
        asof_join(left, right, on="k")
    for bad in ("__t", "__is_left", "__rt"):
        r2 = right.withColumnRenamed("v", bad)
        with pytest.raises(ValueError, match=bad):
            asof_join(left.withColumnRenamed("__r", "ok"), r2, on="k")


def test_vocab_drift_count_table_matches_token_stream_rollup(spark):
    """vocab_drift_psi now rolls PSI counts up from the per-(half,
    word) count table instead of re-tokenizing; grouped sums of the
    count table must equal direct token-stream counts for any term
    mapping."""
    rows = [
        (0, "a"), (0, "a"), (0, "b"), (0, "c"),
        (1, "a"), (1, "c"), (1, "c"), (1, "d"),
    ]
    tok = spark.createDataFrame(rows, "half int, word string")
    keep = {"a", "c"}
    term = (
        F.when(F.col("word").isin(*keep), F.col("word"))
        .otherwise(F.lit("__other"))
        .alias("term")
    )
    ref = (
        tok.select("half", term)
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("r"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c"),
        )
    )
    wc = tok.groupBy("half", "word").agg(F.count("*").alias("n"))
    got = (
        wc.select("half", term, "n")
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(0)).alias("r"),
            F.sum(F.when(F.col("half") == 1, F.col("n")).otherwise(0)).alias("c"),
        )
    )
    as_map = lambda df: {r["term"]: (r["r"], r["c"]) for r in df.collect()}  # noqa: E731
    assert as_map(got) == as_map(ref)


def test_exact_substring_rowlocal_filter_matches_retired_antijoin(spark):
    """exact_substring_dedup_apply now rebuilds documents with a
    row-local higher-order filter over a per-doc span ARRAY instead
    of exploding the corpus to one row per token and shuffling that
    stream through a range join + DISTINCT + anti-join + array_sort
    reassembly. Both formulations must agree doc for doc, byte for
    byte — including overlapping spans (runs closer than L fuse
    coverage but stay separate rows), a doc that is cut entirely
    (must DISAPPEAR), a span-free doc (kept verbatim), an empty doc
    and a NULL doc (both absent)."""
    from logicash_etl_spark.operators.dedup import repeated_substring_spans
    from logicash_etl_spark.operators.text import tokens as tok_fn

    rep = " ".join(f"w{i}" for i in range(8))  # the duplicated 8-shingle
    rows = [
        # doc 1 / doc 2: share the repeated block -> both get spans
        (1, f"alpha {rep} beta gamma"),
        (2, f"{rep} delta"),
        # doc 3: entirely one repeated block -> fully cut, disappears
        (3, rep),
        (4, rep),
        # doc 5: overlapping coverage — two occurrences 3 tokens apart
        (5, f"{rep} x y z {rep} tail1 tail2"),
        (6, f"pre1 pre2 {rep} x y z {rep}"),
        # doc 7: no duplicated shingle -> kept verbatim
        (7, "unique uno dos tres cuatro cinco seis siete ocho nueve"),
        # empty / NULL docs: nothing to keep, absent from output
        (8, ""),
        (9, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    spans = repeated_substring_spans(docs, id_col="doc_id")
    # pre-tokenized path must yield the SAME spans as the text path
    toks = docs.select(
        "doc_id", tok_fn(F.lower(F.col("text"))).alias("__t")
    )
    spans_pre = repeated_substring_spans(toks, id_col="doc_id", tokens_col="__t")
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in df.collect()
    )
    assert key(spans_pre) == key(spans)

    # retired r12 formulation: explode -> range join -> DISTINCT ->
    # anti-join -> collect_list + array_sort
    tokpos = docs.select(
        "doc_id",
        F.posexplode(tok_fn(F.lower(F.col("text")))).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    cut = (
        tokpos.join(
            spans,
            on=[
                tokpos["doc_id"] == spans["doc_id"],
                tokpos["pos"].between(
                    F.col("span_start"), F.col("span_end")
                ),
            ],
        )
        .select(tokpos["doc_id"], tokpos["pos"])
        .distinct()
    )
    kept = tokpos.join(cut, on=["doc_id", "pos"], how="left_anti")
    ref = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_tokens_kept"),
    )

    # landed r13 formulation: span array + row-local (token, pos) filter
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    got = (
        toks.join(span_arr, on="doc_id", how="left")
        .select(
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
        .filter(F.size("__kept") > 0)
        .select(
            "doc_id",
            F.array_join("__kept", " ").alias("clean_text"),
            F.size("__kept").cast("bigint").alias("n_tokens_kept"),
        )
    )
    as_map = lambda df: {  # noqa: E731
        r["doc_id"]: (r["clean_text"], r["n_tokens_kept"])
        for r in df.collect()
    }
    ref_map, got_map = as_map(ref), as_map(got)
    assert got_map == ref_map
    assert 3 not in got_map and 4 not in got_map  # fully cut docs vanish
    assert 8 not in got_map and 9 not in got_map  # empty/NULL absent
    assert got_map[7][0] == rows[6][1]  # span-free doc kept verbatim
