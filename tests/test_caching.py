"""cache_scope lifecycle + dedup pair-lot work sharing."""

from __future__ import annotations

from pyspark.sql import functions as F

from logicash_etl_spark.operators.caching import cache_scope, scoped_persist
from logicash_etl_spark.sources.readers import read_table


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_cache_scope_unpersists_on_exit(spark):
    df = spark.range(100)
    before = _n_persisted(spark)
    with cache_scope():
        h = scoped_persist(df.select((F.col("id") * 2).alias("x")))
        h.count()
        assert _n_persisted(spark) == before + 1
    assert _n_persisted(spark) == before


def test_cache_scope_nests_and_survives_errors(spark):
    before = _n_persisted(spark)
    outer = None
    try:
        with cache_scope():
            outer = scoped_persist(spark.range(10))
            outer.count()
            with cache_scope():
                scoped_persist(spark.range(20)).count()
                assert _n_persisted(spark) == before + 2
            # inner scope freed only its own handle
            assert _n_persisted(spark) == before + 1
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert _n_persisted(spark) == before


def test_dedup_query_leaves_no_net_cache(spark, sf_dir):
    """The verdict's done-criterion: a dedup query materialized under
    cache_scope leaves no net cached storage. The query wrappers
    materialize to a lot inside their own scope, so even WITHOUT an
    outer scope the persisted intermediates are freed by the time the
    wrapper returns."""
    from logicash_etl_spark.queries.dedup import _LOTS, minhash_lsh_dups

    _LOTS.clear()
    before = _n_persisted(spark)
    n = minhash_lsh_dups(spark, sf_dir).count()
    assert n > 0
    assert _n_persisted(spark) == before


def test_operator_persists_freed_by_scope(spark, sf_dir):
    """Raw operator path (no lot): persists registered during the
    scope are freed on exit, and the result is unaffected."""
    from logicash_etl_spark.operators.dedup import minhash_dedup_pairs

    docs = read_table(spark, sf_dir, "documents").limit(200)
    before = _n_persisted(spark)
    with cache_scope():
        rows = minhash_dedup_pairs(docs, "doc_id").collect()
        assert _n_persisted(spark) > before
    assert _n_persisted(spark) == before
    assert all(r.jaccard >= 0.35 for r in rows)


def test_exact_pair_lot_shared_between_queries(spark, sf_dir):
    """ngram_jaccard_dups and dedup_clusters_exact share one
    materialized exact-Jaccard pair lot; minhash_lsh_dups and
    dedup_clusters share the MinHash lot."""
    from logicash_etl_spark.queries.dedup import (
        _LOTS,
        dedup_clusters_exact,
        dedup_clusters_q,
        minhash_lsh_dups,
        ngram_jaccard_dups,
    )

    _LOTS.clear()
    n_pairs = ngram_jaccard_dups(spark, sf_dir).count()
    exact_lots = [k for k in _LOTS if k[1] == "exact_jaccard_pairs"]
    assert len(exact_lots) == 1
    clusters = dedup_clusters_exact(spark, sf_dir)
    assert clusters.count() > 0
    # reused, not rebuilt
    assert [k for k in _LOTS if k[1] == "exact_jaccard_pairs"] == exact_lots

    minhash_lsh_dups(spark, sf_dir).count()
    mh_lots = [k for k in _LOTS if k[1] == "minhash_pairs"]
    assert len(mh_lots) == 1
    dedup_clusters_q(spark, sf_dir).count()
    assert [k for k in _LOTS if k[1] == "minhash_pairs"] == mh_lots
    assert n_pairs > 0
