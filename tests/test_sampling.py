"""Deterministic-sampling invariants: disjoint/exhaustive splits,
per-stratum fractions, weighted top-k, bloom filters."""

from __future__ import annotations

from pyspark.sql import functions as F

from logicash_etl_spark.operators.sampling import (
    stratified_sample,
    train_test_split,
)
from logicash_etl_spark.sources.readers import read_table


def test_split_disjoint_exhaustive_monotone(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    train, test = train_test_split(o, "o_orderkey")
    nt, ns = train.count(), test.count()
    assert nt + ns == o.count()
    assert train.join(test, "o_orderkey", "inner").count() == 0
    # stability: membership unchanged on a subset of the data
    half = o.filter(F.col("o_orderkey") % 2 == 0)
    _, test_half = train_test_split(half, "o_orderkey")
    full_test_ids = {r.o_orderkey for r in test.select("o_orderkey").collect()}
    for r in test_half.select("o_orderkey").collect():
        assert r.o_orderkey in full_test_ids


def test_stratified_fractions(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    sampled = stratified_sample(o, "o_orderkey", "o_orderstatus", {"F": 1.0, "O": 0.5})
    counts = {r.o_orderstatus: r.n for r in sampled.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    full = {r.o_orderstatus: r.n for r in o.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    assert counts.get("F") == full["F"]            # keep-all stratum intact
    assert 0.4 * full["O"] < counts.get("O", 0) < 0.6 * full["O"]
    # unlisted strata keep the default 10%
    assert counts.get("P", 0) < 0.25 * full["P"]


def test_weighted_topk_sample_contract(spark, sf_dir):
    from logicash_etl_spark.operators.sampling import weighted_topk_sample

    docs = read_table(spark, sf_dir, "documents")
    out = weighted_topk_sample(docs, "doc_id", "n_chars", "source", k=5)
    per = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_src = docs.select("source").distinct().count()
    assert len(per) == n_src and all(v == 5 for v in per.values())
    # stability: identical sample regardless of physical layout
    out2 = weighted_topk_sample(docs.repartition(7), "doc_id", "n_chars", "source", k=5)
    s1 = {(r.source, r.doc_id) for r in out.select("source", "doc_id").collect()}
    s2 = {(r.source, r.doc_id) for r in out2.select("source", "doc_id").collect()}
    assert s1 == s2
    # weighted bias: the sample's mean weight should exceed the
    # population mean (long docs are preferentially drawn)
    pop_mean = docs.agg(F.avg("n_chars")).first()[0]
    assert out.agg(F.avg("n_chars")).first()[0] > pop_mean


def test_bloom_filter_no_false_negatives(spark, sf_dir):
    from logicash_etl_spark.operators.joins import (
        bloom_filter_build,
        bloom_filter_probe,
    )

    sup = read_table(spark, sf_dir, "supplier")
    members = sup.filter(F.col("s_suppkey") % 3 == 0).select(
        F.col("s_suppkey").alias("key")
    )
    bloom = bloom_filter_build(members, "key", m_bits=128, k_hashes=3)
    # bitmap stays tiny: at most m_bits/32 packed words
    assert bloom.count() <= 128 // 32
    probe = sup.select(F.col("s_suppkey").alias("key")).distinct()
    tagged = bloom_filter_probe(probe, "key", bloom, m_bits=128, k_hashes=3)
    joined = tagged.join(
        members.withColumn("m", F.lit(True)), on="key", how="left"
    )
    # Bloom contract: every true member must pass (no false negatives)
    assert (
        joined.filter(F.col("m") & ~F.col("bloom_pass")).count() == 0
    )
    # null keys are never members and never dropped
    with_null = probe.unionByName(
        spark.createDataFrame([(None,)], "key int")
    )
    tagged_n = bloom_filter_probe(with_null, "key", bloom, m_bits=128, k_hashes=3)
    assert tagged_n.count() == probe.count() + 1
    assert tagged_n.filter(F.col("key").isNull()).first().bloom_pass is False


def test_bloom_probe_literal_matches_keylevel(spark, sf_dir):
    """The row-level broadcast-literal probe must produce verdicts
    identical to the key-level probe (same md5 double-hash, same
    bitmap) while its plan carries ZERO joins and ZERO exchanges."""
    from logicash_etl_spark.operators.joins import (
        bloom_filter_build,
        bloom_filter_probe,
        bloom_filter_probe_literal,
    )
    from logicash_etl_spark.plans import count_exchanges, plan_string

    sup = read_table(spark, sf_dir, "supplier")
    members = sup.filter(F.col("s_suppkey") % 3 == 0).select(
        F.col("s_suppkey").alias("key")
    )
    bloom = bloom_filter_build(members, "key", m_bits=128, k_hashes=3)
    probe = sup.select(F.col("s_suppkey").alias("key"))
    lit_tagged = bloom_filter_probe_literal(
        probe, "key", bloom, m_bits=128, k_hashes=3
    )
    # zero-shuffle, zero-join contract: pure expression over the scan
    p = plan_string(lit_tagged)
    assert "Join" not in p, p
    assert count_exchanges(lit_tagged) == 0
    key_tagged = bloom_filter_probe(
        probe.distinct(), "key", bloom, m_bits=128, k_hashes=3
    )
    lit_rows = {
        (r["key"], r["bloom_pass"]) for r in lit_tagged.distinct().collect()
    }
    key_rows = {(r["key"], r["bloom_pass"]) for r in key_tagged.collect()}
    assert lit_rows == key_rows
    # null keys: never members, never dropped
    with_null = probe.unionByName(spark.createDataFrame([(None,)], "key int"))
    tn = bloom_filter_probe_literal(
        with_null, "key", bloom, m_bits=128, k_hashes=3
    )
    assert tn.count() == probe.count() + 1
    assert tn.filter(F.col("key").isNull()).first().bloom_pass is False
