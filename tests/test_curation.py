"""Structural invariants for the curation ops — properties that must
hold for ANY corpus, checked on the fixtures independently of the
DuckDB hash parity (which pins exact values for one dataset)."""

from __future__ import annotations

from pyspark.sql import functions as F

from logicash_etl_spark.queries import QUERIES
from logicash_etl_spark.sources.readers import read_table


def test_chunking_covers_all_tokens(spark, sf_dir):
    """Chunk layout: indices contiguous from 0; every chunk carries
    1..128 tokens (empty docs: one 0-token chunk); chunk count matches
    ceil(max(n,1)/stride) given stride 112."""
    from logicash_etl_spark.operators.text import tokens

    chunks = QUERIES["doc_chunking"](spark, sf_dir)
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.min("chunk_idx").alias("min_idx"),
        F.max("chunk_idx").alias("max_idx"),
        F.max("n_tokens").alias("max_ct"),
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).alias("n_tok")
    )
    j = per_doc.join(docs, "doc_id")
    bad = j.filter(
        (F.col("min_idx") != 0)
        | (F.col("max_idx") != F.col("n_chunks") - 1)
        | (F.col("max_ct") > 128)
        | (
            F.col("n_chunks")
            != F.ceil(F.greatest(F.col("n_tok"), F.lit(1)) / F.lit(112.0)).cast("long")
        )
    )
    assert bad.count() == 0


def test_packing_bins_contiguous_and_conserving(spark, sf_dir):
    """Packing: token totals are conserved per source and bins form a
    contiguous 0..max range (a doc lands in the bin of its stream
    offset, so no bin can be skipped unless a doc is longer than the
    context — then the gap equals the straddle)."""
    from logicash_etl_spark.operators.text import tokens

    packed = QUERIES["sequence_packing_stats"](spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).alias("n_tok")
    )
    truth = docs.groupBy("source").agg(F.sum("n_tok").alias("total"))
    got = packed.groupBy("source").agg(F.sum("bin_tokens").alias("total"))
    diff = (
        truth.alias("t")
        .join(got.alias("g"), "source")
        .filter(F.col("t.total") != F.col("g.total"))
    )
    assert diff.count() == 0, "token totals not conserved by packing"
    rng = packed.groupBy("source").agg(
        F.min("bin").alias("lo"), F.max("bin").alias("hi"), F.count("*").alias("n")
    )
    assert rng.filter(F.col("lo") != 0).count() == 0


def test_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(n_tokens) (uniform distribution maximizes it)."""
    ent = QUERIES["unigram_entropy"](spark, sf_dir)
    # 5e-7 tolerance: the query rounds to 6 decimals, so an exactly
    # uniform doc (H == ln n) can round a half-ulp above the bound
    bad = ent.filter(
        (F.col("entropy") < -5e-7)
        | (F.col("entropy") > F.log(F.col("n_tokens").cast("double")) + 5e-7)
    )
    assert bad.count() == 0


def test_contamination_counts_bounded(spark, sf_dir):
    """Contaminated docs are a subset of train docs; benchmark docs
    (doc_id % 100 == 0) never appear in the train tally."""
    res = QUERIES["benchmark_contamination"](spark, sf_dir).collect()
    assert res
    for r in res:
        assert 0 <= r.n_contaminated <= r.n_train_docs
    n_train = sum(r.n_train_docs for r in res)
    docs = read_table(spark, sf_dir, "documents")
    expect = docs.filter(F.col("doc_id") % 100 != 0).count()
    assert n_train == expect


def test_quantization_error_bounded(spark, sf_dir):
    """Symmetric int8: per-element reconstruction error <= step/2 =
    amax/254, so per-vector MSE <= (amax/254)^2. Check against the
    max amax over the table (loose but data-independent)."""
    emb = read_table(spark, sf_dir, "embeddings")
    amax_global = emb.select(
        F.max(
            F.array_max(
                F.transform(F.col("embedding").cast("array<double>"), lambda x: F.abs(x))
            )
        ).alias("m")
    ).collect()[0]["m"]
    bound = (amax_global / 254.0) ** 2 + 1e-12
    res = QUERIES["embedding_quantization_error"](spark, sf_dir)
    bad = res.filter(F.col("total_mse") > F.col("n_vectors") * bound)
    assert bad.count() == 0


def test_delivery_dedup_keeps_subset(spark, sf_dir):
    res = QUERIES["event_delivery_dedup"](spark, sf_dir).collect()
    assert res
    for r in res:
        assert 0 < r.n_kept <= r.n_total


def test_salted_join_matches_plain(spark, sf_dir):
    """Salting is result-invariant: identical aggregate to the unsalted
    join, any salt_buckets."""
    from logicash_etl_spark.functions.money import money

    got = {
        r.s_nationkey: (r.n_items, r.revenue)
        for r in QUERIES["skew_salted_supplier_revenue"](spark, sf_dir).collect()
    }
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", money("l_extendedprice").alias("p")
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    plain = {
        r.s_nationkey: (r.n, float(r.rev))
        for r in li.join(sup, "l_suppkey")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n"), F.sum("p").cast("double").alias("rev"))
        .collect()
    }
    assert got == plain


def test_chunk_output_deterministic_across_runs(spark, sf_dir):
    """Chunk rows are pure content functions: two independent
    materializations (different task scheduling/layout each run) agree
    exactly — the reproducibility contract for shard writers."""
    a = {tuple(r) for r in QUERIES["doc_chunking"](spark, sf_dir).collect()}
    b = {tuple(r) for r in QUERIES["doc_chunking"](spark, sf_dir).collect()}
    assert a == b and a


def test_repeated_substring_spans_handcrafted(spark):
    """Known-answer exact-substring dedup: a 10-token block shared by
    two docs yields one maximal span in each; a doc shorter than L
    yields nothing (and must not fabricate positions via Spark's
    descending sequence()); overlapping spans union without
    double-counting."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.dedup import (
        merge_spans_stats,
        repeated_substring_spans,
    )

    block = " ".join(f"w{i}" for i in range(10))  # 10 shared tokens
    docs = spark.createDataFrame(
        [
            # doc 1: 5 unique tokens + block + 5 unique
            (1, "a1 a2 a3 a4 a5 " + block + " a6 a7 a8 a9 a10"),
            # doc 2: block at the very start, then unique tail
            (2, block + " b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),
            # doc 3: too short for any 8-shingle
            (3, "c1 c2 c3 c4 c5"),
            # doc 4: unique throughout — no spans
            (4, " ".join(f"d{i}" for i in range(25))),
        ],
        "doc_id int, text string",
    )
    spans = repeated_substring_spans(docs, "doc_id")
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in spans.collect()
    }
    # doc 1: block occupies tokens 6..15 -> shingle run 6..8, span 6..15
    # doc 2: block at tokens 1..10 -> span 1..10
    assert got == {1: (6, 15, 10), 2: (1, 10, 10)}
    # overlap union: two spans [1,10] and [6,13] cut 13 tokens, not 18
    overlap = spark.createDataFrame(
        [(9, 1, 10), (9, 6, 13), (9, 20, 25)],
        "doc_id int, span_start long, span_end long",
    )
    m = merge_spans_stats(overlap, "doc_id").first()
    assert (m.tokens_cut, m.n_spans_merged) == (13 + 6, 2)


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


def test_funnel_ingest_row_from_quality_pass_matches_feat_scan(spark):
    """curation_funnel_report's stage-1 row now aggregates the
    quality-features frame instead of running a second token_count
    scan, and stage 2 filters a persisted frame whose text is NULLed
    for gate-dropped docs. Both must match the retired shape exactly —
    including NULL text, empty text, and whitespace-only text."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.text import (
        quality_features,
        quality_flag,
        token_count,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, None),
        (3, ""),
        (4, "   "),
        (5, "0123456789 0123456789 0123456789"),  # digit-heavy: dropped
        (6, "one two three four five six seven eight nine ten eleven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    # retired shape
    feat_old = docs.select(token_count("text").cast("bigint").alias("n_tokens"))
    s1_old = feat_old.agg(
        F.count("*").alias("docs_out"), F.sum("n_tokens").alias("tokens_out")
    ).collect()[0]
    q_old = (
        quality_flag(quality_features(docs))
        .filter(F.col("quality_keep"))
        .select(
            "doc_id", "text", F.col("n_tokens").cast("bigint").alias("n_tokens")
        )
    )

    # r14 shape
    qa = quality_flag(quality_features(docs)).select(
        "doc_id",
        F.when(F.col("quality_keep"), F.col("text")).alias("text"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "quality_keep",
    )
    s1_new = qa.agg(
        F.count("*").alias("docs_out"), F.sum("n_tokens").alias("tokens_out")
    ).collect()[0]
    q_new = qa.filter(F.col("quality_keep")).select("doc_id", "text", "n_tokens")

    assert tuple(s1_new) == tuple(s1_old)
    assert sorted(map(tuple, q_new.collect())) == sorted(
        map(tuple, q_old.collect())
    )
    assert q_new.count() > 0  # the gate keeps something, so the pin bites


def test_padding_waste_hand_fixture(spark, tmp_path):
    """Padding accounting on a 4-doc corpus with batch size 32 (one
    batch): waste = 4 * max - sum for BOTH strategies when everything
    fits one batch, and length_sorted can never waste more than
    arrival order."""

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "src0", 5),
         (2, "a", "en", "src0", 1),
         (3, "a b", "en", "src0", 3),
         (4, "a b c d", "en", "src0", 7)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = str(tmp_path / "mini")
    docs.write.parquet(f"{d}/documents.parquet")
    out = {
        r["strategy"]: r
        for r in QUERIES["padding_waste_report"](spark, d).collect()
    }
    # tokens: 3 + 1 + 2 + 4 = 10; one batch of 4, max 4 -> cap 16
    for s in ("arrival", "length_sorted"):
        assert out[s]["n_batches"] == 1
        assert out[s]["total_tokens"] == 10
        assert out[s]["padded_tokens"] == 6
    assert out["length_sorted"]["waste_pct"] <= out["arrival"]["waste_pct"]


def test_padding_waste_null_text_is_zero_len_sequence(spark, null_corpus):
    rows = {
        r.strategy: r
        for r in QUERIES["padding_waste_report"](spark, null_corpus).collect()
    }
    # all 5 docs (incl. 2 NULL) occupy batch slots; real tokens = 9
    for r in rows.values():
        assert r.total_tokens == 9
    assert set(rows) == {"arrival", "length_sorted"}
