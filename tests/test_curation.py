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
