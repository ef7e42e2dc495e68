"""Property tests for the approximate operators that have no SQL
oracle: MinHash-LSH and SimHash near-dup detection, LSH ANN recall.

Ground truth comes from the exact counterparts (exact Jaccard pairs,
brute-force cosine top-k), which ARE oracle-verified.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logicash_etl_spark.operators.dedup import (
    jaccard_pairs,
    minhash_dedup_pairs,
    simhash_signatures,
    simhash_dup_pairs,
)
from logicash_etl_spark.operators.similarity import cosine_topk, lsh_ann_topk
from logicash_etl_spark.sources.readers import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = read_table(spark, sf_dir, "documents").cache()
    yield df
    # Unpersist so the cached full-schema scan doesn't shadow later
    # plan-contract tests (CacheManager matches the bare read_table
    # fragment and would replace pruned scans with this cache).
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = read_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def test_minhash_verified_pairs_are_true_dups(docs):
    """Every LSH+verify pair must be a genuine >=threshold Jaccard pair
    (verification step guarantees precision=1.0 vs ground truth)."""
    got = {(r.id_a, r.id_b) for r in minhash_dedup_pairs(docs, "doc_id").collect()}
    # a cap of the document count: no shingle is hot, the full index
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, "doc_id", max_doc_freq=docs.count()).collect()
    }
    truth = set(exact)
    assert got <= truth, f"false positives: {sorted(got - truth)[:5]}"
    # LSH @ 64 hashes / 16 bands has ~P(collide)=1-(1-s^4)^16 ≈ 0.97
    # at s=0.5; at 0.35 it's ~0.22 per band -> recall is probabilistic.
    # Demand decent recall on the clearly-duplicated (s>=0.5) pairs.
    strong = {k for k, v in exact.items() if v >= 0.5}
    if strong:
        recall = len(got & strong) / len(strong)
        assert recall >= 0.8, f"recall on strong dups {recall:.2f} < 0.8"


def test_simhash_self_consistency(docs):
    """Identical texts must produce identical signatures; the
    signature must be deterministic across two computations."""
    s1 = simhash_signatures(docs, "doc_id").collect()
    s2 = simhash_signatures(docs, "doc_id").collect()
    assert sorted((r.doc_id, r["__sim"]) for r in s1) == sorted(
        (r.doc_id, r["__sim"]) for r in s2
    )


def test_simhash_pairs_sane(docs):
    """Hamming<=3 pairs: symmetric-free (a<b), bounded hamming, and
    every reported pair shares most signature bits."""
    pairs = simhash_dup_pairs(docs, "doc_id").collect()
    for r in pairs:
        assert r.id_a < r.id_b
        assert 0 <= r.hamming <= 3


def test_lsh_ann_recall_vs_bruteforce(emb):
    """Bucketed ANN must recover a reasonable fraction of the true
    top-5 (multi-probe LSH over 8 tables: recall is traded for the
    candidate cut; we assert it's material, not perfect)."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries).collect()
    approx = lsh_ann_topk(emb, queries).collect()
    truth = {(r.query_id, r.vec_id) for r in exact}
    got = {(r.query_id, r.vec_id) for r in approx}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.6, f"ANN recall {recall:.2f} < 0.6"
    # and every approx hit must carry the exact cosine of that pair
    exact_sims = {(r.query_id, r.vec_id): r.cosine_sim for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_sims:
            assert abs(r.cosine_sim - exact_sims[(r.query_id, r.vec_id)]) < 1e-12


def test_approx_sketch_accuracy(spark, sf_dir):
    """approx_count_distinct within its rsd bound; percentile_approx
    within a tolerant band of the exact percentiles. The query now
    emits the bound checks itself (hash-oracled as constant-true
    booleans); this test pins that they hold and that the exact
    distinct count matches an independent computation."""
    from logicash_etl_spark.queries.advanced import approx_sketches

    li = read_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    rows = approx_sketches(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_orders == exact[r.l_returnflag]
        assert r.hll_within_3rsd, r.l_returnflag
        assert r.p50_within_rank_eps, r.l_returnflag
        assert r.p95_within_rank_eps, r.l_returnflag


def test_skew_salted_join_matches_plain(spark, sf_dir):
    """join_with_skew_salt must produce exactly the rows of the plain
    equi-join (salting is a physical rewrite, not a semantic one)."""
    from logicash_etl_spark.operators.joins import join_with_skew_salt

    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(cust, on="o_custkey").select("o_orderkey", "c_mktsegment")
    salted = join_with_skew_salt(orders, cust, on="o_custkey").select(
        "o_orderkey", "c_mktsegment"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_connected_components_vs_union_find(spark, docs):
    """Cluster assignment must equal a driver-side union-find over the
    same pairs: same-cluster iff connected."""
    from logicash_etl_spark.operators.dedup import minhash_dedup_pairs
    from logicash_etl_spark.operators.graph import dedup_clusters

    pairs = [(r.id_a, r.id_b) for r in minhash_dedup_pairs(docs, "doc_id").collect()]
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(
            spark.createDataFrame(pairs or [(0, 0)], "id_a long, id_b long"),
            docs, "doc_id",
        ).collect()
    }
    # union-find ground truth
    parent: dict = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    want = {i: find(i) if i in parent else i for i in all_ids}
    # normalize: min-id representative per set on both sides
    from collections import defaultdict
    def normalize(m):
        groups = defaultdict(list)
        for k, v in m.items():
            groups[v].append(k)
        return {k: min(g) for v, g in groups.items() for k in g}
    assert normalize(got) == normalize(want)
    # canonical flags: exactly one canonical per cluster
    res = dedup_clusters(
        spark.createDataFrame(pairs or [(0, 0)], "id_a long, id_b long"), docs, "doc_id"
    )
    per_cluster = res.filter("is_canonical").groupBy("cluster_id").count()
    assert per_cluster.filter("count != 1").count() == 0


def test_components_label_chain_pair_and_two_cycle(spark):
    """A chain, a single edge and a two-cycle each get their min vertex
    id as the component label."""
    from logicash_etl_spark.operators.graph import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r.id, r.component) for r in connected_components(df).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20), (21, 20)}


def test_jaccard_stop_shingles_exact_scores(docs):
    """With a document-frequency cutoff, every surviving pair's score
    must equal the unfiltered exact score (candidates shrink, scores
    don't change)."""
    from logicash_etl_spark.operators.dedup import jaccard_pairs

    full = {(r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(docs, "doc_id", max_doc_freq=docs.count()).collect()}
    capped = {(r.id_a, r.id_b): r.jaccard
              for r in jaccard_pairs(docs, "doc_id", max_doc_freq=10).collect()}
    assert set(capped) <= set(full)
    for k, v in capped.items():
        assert abs(v - full[k]) < 1e-12, f"{k}: {v} != {full[k]}"
    # at this corpus/threshold the cutoff should not lose strong pairs
    strong = {k for k, v in full.items() if v >= 0.5}
    assert strong <= set(capped)


def test_grouped_map_trend_matches_sql_slope(spark, sf_dir):
    """applyInPandas OLS slope must agree with the decimal-exact SQL
    slope (value_trend_stats) to float tolerance."""
    from logicash_etl_spark.queries.advanced import (
        per_group_trend_forecast,
        value_trend_stats,
    )

    pandas_slopes = {
        r.event_type: r.slope_per_day / 86_400.0
        for r in per_group_trend_forecast(spark, sf_dir).collect()
    }
    sql_slopes = {r.event_type: r.slope for r in value_trend_stats(spark, sf_dir).collect()}
    assert set(pandas_slopes) == set(sql_slopes)
    for k in sql_slopes:
        assert abs(pandas_slopes[k] - sql_slopes[k]) < 1e-9, k


def test_ivf_recall_vs_bruteforce(spark, emb):
    """IVF with a real quantizer must reach material recall, and every
    reported similarity must equal the exact pair cosine."""
    from logicash_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        kmeans_lite,
    )

    centroids = kmeans_lite(emb)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries).collect()
    approx = ivf_ann_topk(emb, queries, centroids).collect()
    truth = {(r.query_id, r.vec_id) for r in exact}
    got = {(r.query_id, r.vec_id) for r in approx}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.6, f"IVF recall {recall:.2f} < 0.6"
    exact_sims = {(r.query_id, r.vec_id): r.cosine_sim for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_sims:
            assert abs(r.cosine_sim - exact_sims[(r.query_id, r.vec_id)]) < 1e-12


def test_fuzzy_self_join_blocking_bounded(spark):
    """The round-2 re-block contract: candidate pairs from the
    prefix/suffix compound blocking must NOT scale quadratically when
    a single fixed-cardinality attribute (brand) dominates — the
    round-1 brand-only blocking failure mode.

    One brand, n diverse names + planted near-dups: brand-only
    blocking would generate n(n-1)/2 candidates; compound blocking
    must stay within a small linear factor, while still finding every
    planted pair."""
    import hashlib

    from logicash_etl_spark.operators.joins import fuzzy_self_join

    n = 400
    rows = []
    for i in range(n):
        # diverse names: hex digests have high prefix/suffix entropy
        name = hashlib.md5(f"name-{i}".encode()).hexdigest()[:20]
        rows.append((i, name, "Brand#1"))
    # planted near-dups: single-char substitution mid-string (both
    # prefix and suffix intact -> must be found)
    planted = []
    for i in range(20):
        base = rows[i][1]
        mutated = base[:10] + ("z" if base[10] != "z" else "y") + base[11:]
        rows.append((n + i, mutated, "Brand#1"))
        planted.append((i, n + i))
    df = spark.createDataFrame(rows, ["id", "name", "brand"])

    out = fuzzy_self_join(
        df, id_col="id", text_col="name", max_dist=2,
        block_cols=["brand"], prefix_len=4, suffix_len=4,
    )
    pairs = {(r.key_a, r.key_b) for r in out.collect()}
    assert set(planted) <= pairs, f"missed planted dups: {set(planted) - pairs}"

    # candidate bound: recompute the blocking passes the operator runs
    # and assert they are nowhere near the brand-only n^2/2 blow-up
    keyed = df.select(
        "brand", "id",
        F.expr("left(name, 4)").alias("pre"),
        F.expr("right(name, 4)").alias("suf"),
    )
    n_total = df.count()
    brand_only_pairs = n_total * (n_total - 1) // 2
    cand = 0
    for key in ("pre", "suf"):
        sizes = keyed.groupBy("brand", key).count().collect()
        cand += sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
    assert cand < 10 * n_total, (
        f"compound blocking produced {cand} candidates for {n_total} rows "
        f"(brand-only would be {brand_only_pairs})"
    )


def test_jaccard_hot_shingle_skew_bounded(spark):
    """Round-2 skew contract: a boilerplate sentence shared by 50% of
    docs must not blow up the inverted-index join. With max_doc_freq
    set, hot shingles leave candidate generation (k^2 -> ~0 rows for
    the hot key) while planted near-dups are still found with EXACT
    scores computed against the unfiltered index."""
    from logicash_etl_spark.operators.dedup import jaccard_pairs
    from logicash_etl_spark.operators.text import word_shingles

    n = 200
    hot = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(n):
        unique = f"unique content piece {i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        rows.append((i, (hot + " " + unique) if i % 2 == 0 else unique))
    # planted near-dup of doc 7 (one appended word)
    rows.append((n, "unique content piece 7 alpha7 beta7 gamma7 delta7 epsilon7 zeta"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # candidate volume: replicate the operator's index join sizes
    sh = (
        df.select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles("text", 3))).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("sh"))
    )
    full_cand = (
        sh.alias("a")
        .join(sh.alias("b"), on=[F.col("a.sh") == F.col("b.sh"),
                                 F.col("a.doc_id") < F.col("b.doc_id")])
        .count()
    )
    hot_keys = sh.groupBy("sh").count().filter(F.col("count") > 20).select("sh")
    idx = sh.join(hot_keys, on="sh", how="left_anti")
    capped_cand = (
        idx.alias("a")
        .join(idx.alias("b"), on=[F.col("a.sh") == F.col("b.sh"),
                                  F.col("a.doc_id") < F.col("b.doc_id")])
        .count()
    )
    assert full_cand > 10_000, f"skew not injected? full candidates={full_cand}"
    assert capped_cand < 100, f"pruning failed to bound candidates: {capped_cand}"

    # planted pair found, score exact vs unfiltered run
    capped = {(r.id_a, r.id_b): r.jaccard
              for r in jaccard_pairs(df, "doc_id", max_doc_freq=20).collect()}
    assert (7, n) in capped
    assert abs(capped[(7, n)] - 7.0 / 8.0) < 1e-12
    full = {(r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(df, "doc_id", max_doc_freq=df.count()).collect()}
    for k, v in capped.items():
        assert abs(v - full[k]) < 1e-12, f"{k}: capped {v} != exact {full[k]}"


def test_components_path_graph_is_one_component(spark):
    """A 10k-vertex PATH graph (diameter 10k, the worst case for
    min-label propagation) is one component labelled 0."""
    from logicash_etl_spark.operators.graph import connected_components

    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    rows = connected_components(edges).collect()
    assert len(rows) == n
    assert {r.component for r in rows} == {0}


def test_components_match_construction_on_mixed_graph(spark):
    """Labels on a shuffled mixed graph equal the components it was
    built from: five 51-vertex chains, each labelled with its minimum
    id; a 10-clique labelled 9000; a self-loop-only vertex labelled
    itself."""
    import random

    from logicash_etl_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges, want = [], set()
    for chain in range(5):  # chains of 50 edges, 51 vertices
        base = chain * 1000
        edges += [(base + i, base + i + 1) for i in range(50)]
        want |= {(base + i, base) for i in range(51)}
    clique = [9000 + i for i in range(10)]
    edges += [(a, b) for a in clique for b in clique if a < b]
    want |= {(v, 9000) for v in clique}
    edges += [(7777, 7777)]  # self-loop-only vertex
    want.add((7777, 7777))
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    got = {(r.id, r.component) for r in connected_components(df).collect()}
    assert got == want


def test_kmeans_guards_zero_vectors_and_small_sample(spark):
    """kmeans_lite: a zero embedding must not poison assignments with
    NaN, and a training sample smaller than its 8 cells must raise,
    not silently return fewer centroids."""
    from logicash_etl_spark.operators.similarity import ivf_ann_topk, kmeans_lite

    rows = [(i, [float(i + 1), float(2 * i + 1), 1.0]) for i in range(20)]
    rows.append((99, [0.0, 0.0, 0.0]))  # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    with pytest.raises(ValueError, match="< k"):
        kmeans_lite(df.filter("vec_id < 5"))

    cents = kmeans_lite(df)
    vals = [x for r in cents.collect() for x in r.centroid]
    assert all(x == x for x in vals), "NaN centroid"
    out = ivf_ann_topk(df, df.filter("vec_id < 3"), cents).collect()
    assert out and all(r.cosine_sim == r.cosine_sim for r in out)


def test_fuzzy_block_purging_caps_hot_blocks(spark):
    """max_block_size guard: when the name vocabulary does NOT grow
    with volume (every row shares one prefix+suffix block), purging
    drops the hot block from candidate generation instead of going
    quadratic — while pairs living in small blocks are still found."""
    from logicash_etl_spark.operators.joins import fuzzy_self_join

    rows = []
    # hot block: 300 names sharing prefix 'aaaa' and suffix 'zzzz',
    # all > 2 edits apart (distinct 6-char middles)
    import hashlib
    for i in range(300):
        mid = hashlib.md5(f"m{i}".encode()).hexdigest()[:6]
        rows.append((i, f"aaaa-{mid}-zzzz", "Brand#1"))
    # small block: a planted near-dup pair with its own rare ends
    rows.append((1000, "qrst-hello-wxyz", "Brand#1"))
    rows.append((1001, "qrst-hellp-wxyz", "Brand#1"))
    df = spark.createDataFrame(rows, ["id", "name", "brand"])

    capped = fuzzy_self_join(
        df, id_col="id", text_col="name", max_dist=2,
        block_cols=["brand"], prefix_len=4, suffix_len=4,
        max_block_size=50,
    )
    pairs = {(r.key_a, r.key_b) for r in capped.collect()}
    assert (1000, 1001) in pairs
    # every surviving pair must avoid the purged hot block entirely
    assert all(a >= 1000 for a, _ in pairs), pairs

    # uncapped finds the same planted pair (sanity: purging only
    # removes hot-block candidates, it does not add or alter scores)
    uncapped = fuzzy_self_join(
        df, id_col="id", text_col="name", max_dist=2,
        block_cols=["brand"], prefix_len=4, suffix_len=4,
    )
    upairs = {(r.key_a, r.key_b) for r in uncapped.collect()}
    assert (1000, 1001) in upairs
    assert pairs <= upairs


def test_fuzzy_collapse_exact_matches_default(spark, sf_smoke):
    """collapse_exact is a pure execution strategy: the id-pair set
    and distances must be identical to the row-level path."""
    from logicash_etl_spark.operators.joins import fuzzy_self_join
    from logicash_etl_spark.sources.readers import read_table

    part = read_table(spark, sf_smoke, "part")
    kw = dict(
        id_col="p_partkey", text_col="p_name", max_dist=2,
        block_cols=["p_brand"], prefix_len=4, suffix_len=4,
    )
    base = fuzzy_self_join(part, **kw)
    fast = fuzzy_self_join(part, collapse_exact=True, **kw)
    assert base.exceptAll(fast).count() == 0
    assert fast.exceptAll(base).count() == 0


def test_semantic_dedup_matches_numpy_twin(spark, emb):
    """SemDeDup: assignment, within-cell pairs, and the greedy
    keep-lowest-id removals re-derived in numpy from the SAME
    centroids must match the distributed pipeline exactly."""
    import numpy as np

    from logicash_etl_spark.operators.similarity import (
        kmeans_lite,
        semantic_dedup,
    )

    centroids = kmeans_lite(emb)
    marked = semantic_dedup(emb, centroids)
    got = {r.vec_id: (r.cell, r.removed) for r in marked.collect()}

    cent = {int(r.centroid_id): np.array(r.centroid) for r in centroids.collect()}
    C = np.vstack([cent[i] for i in sorted(cent)])
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.vstack([np.array(r.embedding, dtype="float64") for r in rows])
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    sims = Mn @ Cn.T
    # argmax with largest-cell-id tie-break, matching array_max struct order
    cells = (sims.shape[1] - 1) - np.argmax(sims[:, ::-1], axis=1)

    assert {i: c for i, c in zip(ids, cells)} == {i: c for i, (c, _) in got.items()}

    removed = set()
    for c in np.unique(cells):
        member_idx = np.where(cells == c)[0]
        order = member_idx[np.argsort(ids[member_idx])]
        for pos, j in enumerate(order):
            for i in order[:pos]:
                s = float(M[i] @ M[j]) / (
                    float(np.linalg.norm(M[i])) * float(np.linalg.norm(M[j]))
                )
                if s >= 0.4:
                    removed.add(ids[j])
                    break
    assert removed == {i for i, (_, r) in got.items() if r}
    # the policy must actually drop something on this fixture, and keep most
    n_removed = sum(1 for _, r in got.values() if r)
    assert 0 < n_removed < len(got)


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


def test_bpe_train_matches_python_twin(spark, sf_smoke):
    """bpe_train: merge rules must equal a pure-python reference BPE
    (frequency-weighted pair counts, greedy left-to-right rewrite,
    count-desc / pair-asc tie-break)."""
    from collections import Counter

    from logicash_etl_spark.operators.text import bpe_train, tokens
    from logicash_etl_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, sf_smoke, "documents")
    wc_df = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    got = bpe_train(wc_df)

    wc = {r.word: r.n for r in wc_df.collect()}
    vocab = {w: list(w) for w in wc}
    want = []
    for _ in range(8):
        counts = Counter()
        for w, s in vocab.items():
            for a, b in zip(s, s[1:]):
                counts[(a, b)] += wc[w]
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((l, r, l + r, cnt))
        for w, s in vocab.items():
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            vocab[w] = out
    assert got == want
    assert len(got) == 8


def test_global_prefix_sum_empty_and_typed_inputs(spark):
    """Edge cases from review: an empty (or all-null order key) input
    must return cleanly instead of crashing on None arithmetic, and
    non-integer value columns must keep their type (the offset frame
    used to be hardcoded bigint — doubles/decimals would fail or
    truncate)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.partitioning import global_prefix_sum

    # empty input: no crash, prefix column present, zero rows
    empty = spark.range(0).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    out = global_prefix_sum(empty, order_col="k", value_col="v", out_col="p")
    assert out.count() == 0 and "p" in out.columns

    # all-null order col: same contract violation as one null — raise
    nulls = spark.range(3).select(
        F.lit(None).cast("long").alias("k"), F.col("id").alias("v")
    )
    with pytest.raises(ValueError, match="null"):
        global_prefix_sum(nulls, order_col="k", value_col="v", out_col="p")

    # double values: exact running sum, double output type
    dbl = spark.createDataFrame(
        [(i, 0.5) for i in range(1, 9)], "k long, v double"
    )
    out = global_prefix_sum(dbl, order_col="k", value_col="v", out_col="p")
    rows = {r.k: r.p for r in out.collect()}
    assert dict(out.dtypes)["p"] == "double"
    assert rows == {k: (k - 1) * 0.5 for k in range(1, 9)}

    # decimal values: exact, no bigint truncation
    dec = spark.createDataFrame(
        [(i, Decimal("1.25")) for i in range(1, 6)], "k long, v decimal(10,2)"
    )
    out = global_prefix_sum(dec, order_col="k", value_col="v", out_col="p")
    rows = {r.k: r.p for r in out.collect()}
    assert rows[5] == Decimal("5.00")
    assert dict(out.dtypes)["p"].startswith("decimal")


def test_bpe_encode_property_matches_python_greedy(spark):
    """bpe_encode's replace-chain trick (symbols as a \\n-wrapped
    string, one plain replace per merge) must equal a reference
    pure-python greedy BPE application for adversarial words and
    merge tables — runs, overlaps, multi-char symbols, merges whose
    left side is a previous merge's output."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from logicash_etl_spark.operators.text import bpe_encode

    alphabet = "abc"
    word_st = st.text(alphabet=alphabet, min_size=1, max_size=12)

    def py_apply(word: str, merges) -> list[str]:
        syms = list(word)
        for l, r, m, _ in merges:
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(m)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    # merge tables built the way training builds them: each rule's
    # sides are symbols producible at that point (chars or earlier
    # merge outputs)
    @st.composite
    def merge_table(draw):
        pool = list(alphabet)
        merges = []
        for _ in range(draw(st.integers(min_value=1, max_value=4))):
            l = draw(st.sampled_from(pool))
            r = draw(st.sampled_from(pool))
            m = l + r
            merges.append((l, r, m, 1))
            pool.append(m)
        return merges

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    @given(
        words=st.lists(word_st, min_size=1, max_size=8, unique=True),
        merges=merge_table(),
    )
    def check(words, merges):
        df = spark.createDataFrame([(w,) for w in words], "w string")
        got = {r.w: list(r.e) for r in df.select(
            "w", bpe_encode("w", merges).alias("e")).collect()}
        for w in words:
            assert got[w] == py_apply(w, merges), (w, merges, got[w])

    check()


def test_global_prefix_sum_rejects_partial_null_keys(spark):
    """Mixed null/non-null order keys would silently drop the null
    rows AND inflate bucket offsets with their values — the operator
    must refuse instead."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.partitioning import global_prefix_sum

    df = spark.createDataFrame(
        [(1, 10), (None, 99), (3, 30)], "k bigint, v bigint"
    )
    with pytest.raises(ValueError, match="null"):
        global_prefix_sum(df, order_col="k", value_col="v", out_col="p")


def test_bpe_oracle_survives_merge_exhaustion(spark):
    """A corpus whose vocabulary supports fewer than BPE_MERGES merges:
    the SQL training CTEs must pass the vocabulary through exhausted
    stages unchanged (LEFT JOIN + CASE) so downstream token counts
    stay real — and equal the Spark bpe_train/bpe_encode path, which
    breaks out of its loop."""
    import duckdb

    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.text import bpe_encode, bpe_train, tokens
    from logicash_etl_spark.queries.pipeline_ops import _bpe_train_ctes

    rows = [(1, "ab ab"), (2, "ab")]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES (1, 'ab ab'), (2, 'ab'))"
        " d(doc_id, text)"
    )
    sql = _bpe_train_ctes() + """
    , wlen AS (SELECT w, len(string_split(trim(s, chr(10)),
                             chr(10)||chr(10))) AS n FROM v8)
    SELECT w, n FROM wlen ORDER BY w"""
    oracle = dict(con.execute(sql).fetchall())

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wc = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    merges = bpe_train(wc)
    assert len(merges) < 8  # the exhaustion case is actually exercised
    got = {
        r.word: len(r.e)
        for r in wc.select("word", bpe_encode(F.col("word"), merges).alias("e")).collect()
    }
    assert got == oracle


def test_pagerank_int_invariants(spark):
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.graph import pagerank_int

    # star graph: hub -> a,b,c and a,b,c -> hub; isolated node z
    nodes = spark.createDataFrame(
        [("hub",), ("a",), ("b",), ("c",), ("z",)], "node string"
    )
    edges = spark.createDataFrame(
        [("hub", "a"), ("hub", "b"), ("hub", "c"),
         ("a", "hub"), ("b", "hub"), ("c", "hub")],
        "src string, dst string",
    )
    scale = 10**9
    out = {r.node: r.rank for r in pagerank_int(nodes, edges).collect()}
    base = 15 * scale // 100
    # isolated node: damping base only
    assert out["z"] == base
    # hub collects from 3 spokes: strictly the top rank
    assert out["hub"] > max(out["a"], out["b"], out["c"])
    # symmetric spokes get identical (integer-exact) ranks
    assert out["a"] == out["b"] == out["c"]
    # mass never exceeds the initial total (floor + dangling only leak)
    assert sum(out.values()) <= 5 * scale
    # deterministic under physical layout changes
    out2 = {
        r.node: r.rank
        for r in pagerank_int(nodes.repartition(4), edges.repartition(3)).collect()
    }
    assert out == out2


def test_cms_never_underestimates_full_vocab(spark, sf_dir):
    """CMS contract over EVERY word (not just the top-20 the query
    emits): min-of-rows estimate >= exact count, always."""
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.text import tokens
    from logicash_etl_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    h = F.md5(F.concat(F.lit("cms"), F.col("i").cast("string"), F.col("word")))
    bucketed = wc.select(
        "word", "n",
        F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("i"),
    ).withColumn(
        "bucket",
        F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(512)),
    )
    cms = bucketed.groupBy("i", "bucket").agg(F.sum("n").alias("c"))
    est = (
        bucketed.join(cms, on=["i", "bucket"])
        .groupBy("word", "n")
        .agg(F.min("c").alias("est"))
    )
    assert est.filter(F.col("est") < F.col("n")).count() == 0


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


def test_kmv_membership_flags_match_filter_distinct_join(spark):
    """kmv_set_overlap's one-scan membership-flag frame must decide
    set a, set b, and the three exact counts exactly as the retired
    two-scan filter+distinct shape and its a-join-b intersection —
    including NULL order keys (never join-matched, but counted in the
    per-set counts, as count(*) over a DISTINCT set counts its NULL
    row), orders whose lines match both / one / neither filter, and
    an input matching nothing (sum-over-empty must still report 0)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "R", 10.0),  # order 1: set a via this line ...
        (1, "N", 45.0),  # ... set b via this one -> in the intersection
        (2, "R", 50.0),  # both sets via a single line
        (3, "N", 41.0),  # b only
        (4, "R", 5.0),   # a only
        (5, "N", 1.0),   # neither
        (None, "R", 99.0),  # NULL key lands in both sets' counts ...
        (None, "N", 44.0),  # ... but never in the join intersection
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_returnflag string, l_quantity double"
    )
    pa = F.col("l_returnflag") == "R"
    pb = F.col("l_quantity") >= 40

    def old_shape(src):
        a = src.filter(pa).select(F.col("l_orderkey").alias("v")).distinct()
        b = src.filter(pb).select(F.col("l_orderkey").alias("v")).distinct()
        return (
            {r.v for r in a.collect()},
            {r.v for r in b.collect()},
            a.count(),
            b.count(),
            a.join(b, "v").count(),
        )

    def new_shape(src):
        base = (
            src.filter(pa | pb)
            .select(
                F.col("l_orderkey").alias("v"), pa.alias("pa"), pb.alias("pb")
            )
            .groupBy("v")
            .agg(F.max("pa").alias("in_a"), F.max("pb").alias("in_b"))
        )
        ex = base.agg(
            F.coalesce(F.sum(F.col("in_a").cast("long")), F.lit(0))
            .cast("bigint")
            .alias("exact_a"),
            F.coalesce(F.sum(F.col("in_b").cast("long")), F.lit(0))
            .cast("bigint")
            .alias("exact_b"),
            F.coalesce(
                F.sum(
                    (
                        F.col("in_a") & F.col("in_b") & F.col("v").isNotNull()
                    ).cast("long")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("exact_inter"),
        ).collect()[0]
        return (
            {r.v for r in base.filter(F.col("in_a")).select("v").collect()},
            {r.v for r in base.filter(F.col("in_b")).select("v").collect()},
            ex.exact_a,
            ex.exact_b,
            ex.exact_inter,
        )

    assert new_shape(li) == old_shape(li)
    assert old_shape(li)[4] == 2  # the fixture exercises a real overlap

    empty_match = li.filter(F.col("l_quantity") < 0)
    assert new_shape(empty_match) == old_shape(empty_match)
    assert new_shape(empty_match)[2:] == (0, 0, 0)


def test_quantile_sketch_single_median_bucket(spark, sf_dir):
    from pyspark.sql import functions as F

    from logicash_etl_spark.queries import QUERIES

    out = QUERIES["quantile_sketch_merge"](spark, sf_dir)
    assert out.filter(F.col("contains_p50")).count() == 1
    # cum_n of the last bucket equals the total row count
    import duckdb

    total = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/events.parquet' WHERE value IS NOT NULL"
    ).fetchone()[0]
    assert out.orderBy(F.desc("bucket")).first().cum_n == total


def test_pagerank_deep_iteration_flat_plan(spark):
    """The supersteps nest into one plan, three joins per superstep (a
    checkpoint would cut the nesting to a leaf), run as one action; on
    a vertex-transitive graph every node ends with the same
    mass-bounded rank."""
    from logicash_etl_spark.operators.graph import PAGERANK_ITERATIONS, pagerank_int

    nodes = spark.createDataFrame(
        [(f"n{i}",) for i in range(10)], "node string"
    )
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 10}") for i in range(10)]
        + [(f"n{i}", f"n{(i + 3) % 10}") for i in range(10)],
        "src string, dst string",
    )
    ranks = pagerank_int(nodes, edges)
    analyzed = ranks._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("Join") == 3 * PAGERANK_ITERATIONS
    out = {r.node: r.rank for r in ranks.collect()}
    assert len(out) == 10
    # ring+chord is vertex-transitive: every node has identical rank,
    # and the integer floor ops stay mass-bounded
    assert len(set(out.values())) == 1
    assert 0 < out["n0"] <= 10**9


def test_grouped_prefix_sum_matches_plain_window(spark):
    """Range-bucketed grouped scan == the naive per-group window,
    inclusive and exclusive, including single-row and equal-key
    groups; null bucket keys raise."""
    import pytest as _pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.partitioning import grouped_prefix_sum

    rows = [
        ("a", i, (i * 7) % 13 + 1) for i in range(200)
    ] + [("b", i, 5) for i in range(40)] + [("c", 0, 9)]
    df = spark.createDataFrame(rows, "g string, id int, v int")
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("v").desc(), "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.g, r.id): r.cs
        for r in df.withColumn("cs", F.sum("v").over(w)).collect()
    }
    got_df = grouped_prefix_sum(
        df.withColumn("nk", -F.col("v")),
        group_col="g",
        bucket_key="nk",
        order_cols=[F.col("v").desc(), F.col("id")],
        value_col="v",
        out_col="cs",
        buckets=8,
        inclusive=True,
    )
    got = {(r.g, r.id): r.cs for r in got_df.collect()}
    assert got == want
    # exclusive mode: shift by the row's own value
    got_ex = {
        (r.g, r.id): r.cs
        for r in grouped_prefix_sum(
            df.withColumn("nk", -F.col("v")),
            group_col="g", bucket_key="nk",
            order_cols=[F.col("v").desc(), F.col("id")],
            value_col="v", out_col="cs", buckets=8,
        ).collect()
    }
    vals = {(r.g, r.id): r.v for r in df.collect()}
    assert got_ex == {k: want[k] - vals[k] for k in want}
    # contract: null bucket key fails loudly, executor-side
    bad = df.withColumn(
        "nk", F.when(F.col("id") == 3, None).otherwise(-F.col("v"))
    )
    with _pytest.raises(Exception, match="non-null"):
        grouped_prefix_sum(
            bad, "g", "nk", [F.col("v").desc(), F.col("id")], "v"
        ).collect()


def test_skew_profile_on_crafted_frame(spark):
    """skew_profile's integer statistics on a hand-built frame: one
    key holding 90 of 100 rows -> top1_pct 90, n_keys 11, and the
    hot key's bucket must dominate the reducer loads."""
    from logicash_etl_spark.operators.partitioning import skew_profile

    rows = [("hot",)] * 90 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, ["k"])
    r = skew_profile(df, "k").first()
    assert r["key_name"] == "k"
    assert r["n_keys"] == 11
    assert r["total_rows"] == 100
    assert r["top1_pct"] == 90.0
    assert r["max_part_load"] >= 90  # the hot key's bucket
    assert r["skew_ratio"] >= 90 / (100 / 32) * 0.999


def test_pq_encode_and_topk_invariants(spark):
    """PQ contracts on a synthetic clustered corpus: codes stay in
    [0, 16), are layout-invariant, and the shortlist+re-rank top-5
    returns exactly the true cluster neighbors."""
    import random

    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.similarity import (
        pq_ann_topk,
        pq_encode,
        pq_train_codebooks,
    )

    rng = random.Random(7)
    centers = [[10.0 * c] * 64 for c in range(3)]
    rows = []
    for i in range(90):
        c = i % 3
        rows.append(
            (i, [centers[c][j] + rng.uniform(-0.5, 0.5) for j in range(64)])
        )
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = pq_train_codebooks(emb)
    codes = pq_encode(emb, books)
    vals = codes.collect()
    for r in vals:
        for s in range(8):
            assert 0 <= r[f"code_{s}"] < 16
    # layout invariance: same codes after repartition
    again = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in pq_encode(emb.repartition(7), books).collect()
    }
    assert again == {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8)) for r in vals
    }
    # a query from cluster 0 must retrieve only cluster-0 members
    qs = emb.filter(F.col("vec_id") == 0)
    top = pq_ann_topk(emb, qs, books).collect()
    assert len(top) == 5
    assert all(r.vec_id % 3 == 0 and r.vec_id != 0 for r in top)
    assert [r.rank for r in sorted(top, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
    assert all(r.approx_sq_l2 >= 0 for r in top)


def test_pq_encode_arrow_matches_retired_expression_fold(spark):
    """pq_encode's numpy mapInArrow argmin must produce EXACTLY the
    codes of the retired literal-codebook expression fold on every
    well-formed row (same IEEE accumulation order, same first-minimum
    tie break), NULL codes on NULL vectors like the fold did, a NULL
    code in exactly the subspace holding a NULL element (the fold's
    answer too), and all-NULL codes on wrong-length vectors (the
    fixed-dim contract)."""
    import random

    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    def _d(x):
        return f"CAST('{x!r}' AS DOUBLE)"

    def _book_sql(book):
        return (
            "array("
            + ",".join(
                "array(" + ",".join(_d(c) for c in row) + ")" for row in book
            )
            + ")"
        )

    def fold_encode(vectors, books, id_col="vec_id", vec_col="embedding"):
        dsub = len(books[0][0])
        m = len(books)
        sq = [
            f"transform({_book_sql(book)}, c -> "
            f"aggregate(zip_with(slice(__pqv,{s * dsub + 1},{dsub}), c, "
            "(a,b) -> (a-b)*(a-b)), 0D, (acc,x) -> acc + x))"
            for s, book in enumerate(books)
        ]
        staged = vectors.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__pqv")
        ).select(
            id_col, *[F.expr(e).alias(f"__pqd{s}") for s, e in enumerate(sq)]
        )
        return staged.select(
            id_col,
            *[
                F.expr(
                    f"CAST(array_position(__pqd{s}, array_min(__pqd{s})) - 1"
                    " AS INT)"
                ).alias(f"code_{s}")
                for s in range(m)
            ],
        )

    rng = random.Random(14)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(120)
    ]
    # exact-duplicate vectors exercise tie-adjacent distances
    rows += [(200 + i, list(rows[i][1])) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = pq_train_codebooks(emb)

    new = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in pq_encode(emb, books).collect()
    }
    old = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in fold_encode(emb, books).collect()
    }
    assert new == old

    # NULL vector -> NULL codes (both paths); NULL element -> NULL code
    # in its subspace only (both paths); short vector -> all-NULL codes
    # on the arrow path (pinned contract)
    weird = spark.createDataFrame(
        [(1, None), (2, [0.0] * 64), (3, [1.0, 2.0]), (4, [0.5] * 9 + [None] + [0.5] * 54)],
        "vec_id int, embedding array<double>",
    )
    got = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in pq_encode(weird, books).collect()
    }
    assert got[1] == (None,) * 8
    assert got[3] == (None,) * 8
    assert None not in got[2]
    old_null = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in fold_encode(
            weird.filter(F.col("vec_id") != 3), books
        ).collect()
    }
    assert old_null[1] == (None,) * 8
    assert got[2] == old_null[2]
    assert got[4][1] is None and None not in (got[4][0], *got[4][2:])
    assert got[4] == old_null[4]


def test_grouped_bottom_k_matches_plain_window(spark):
    """Two-phase salted bottom-k == the naive per-group window for
    distinct order values, and is layout-invariant."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.partitioning import grouped_bottom_k

    rows = [("g%d" % (i % 3), i, (i * 131) % 997) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, id int, v int")
    w = Window.partitionBy("g").orderBy("v")
    want = {
        (r.g, r.v)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 7)
        .collect()
    }
    got = {
        (r.g, r.v)
        for r in grouped_bottom_k(df, "g", "v", 7, salt_buckets=8).collect()
    }
    assert got == want
    got2 = {
        (r.g, r.v)
        for r in grouped_bottom_k(
            df.repartition(11), "g", "v", 7, salt_buckets=8
        ).collect()
    }
    assert got2 == want


def test_label_propagation_known_communities(spark):
    """Two dense triangles joined by one weak bridge: LPA must settle
    each triangle on its min label, layout-invariantly."""
    from logicash_etl_spark.operators.graph import label_propagation

    tri = [("a", "b"), ("b", "c"), ("a", "c"),
           ("x", "y"), ("y", "z"), ("x", "z")]
    bridge = [("c", "x")]
    rows = [(s, d, 10) for s, d in tri] + [(s, d, 1) for s, d in bridge]
    rows += [(d, s, w) for s, d, w in rows]  # symmetrize
    edges = spark.createDataFrame(rows, "src string, dst string, w int")
    nodes = spark.createDataFrame(
        [(n,) for n in "abcxyz"], "node string"
    )
    got = {
        r.node: r.label
        for r in label_propagation(nodes, edges).collect()
    }
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"
    again = {
        r.node: r.label
        for r in label_propagation(nodes.repartition(3), edges.repartition(5)).collect()
    }
    assert again == got


def test_triangle_counts_vs_bruteforce(spark):
    """Degree-ordered compact-forward triangle counting must match a
    naive all-triples enumeration on a seeded random graph (including
    duplicate/self-loop/reversed-edge inputs, which the operator must
    canonicalize away)."""
    import itertools
    import random

    from logicash_etl_spark.operators.graph import triangle_counts

    rng = random.Random(13)
    n = 18
    edges = set()
    for _ in range(60):
        u, v = rng.randrange(n), rng.randrange(n)
        edges.add((u, v))
    rows = list(edges) + [(v, u) for (u, v) in list(edges)[:10]] + [(3, 3)]
    df = spark.createDataFrame(rows, "src bigint, dst bigint")

    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expect_tri = dict.fromkeys(adj, 0)
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for x in (a, b, c):
                expect_tri[x] += 1
    got = {r.id: (r.deg, r.tri) for r in triangle_counts(df).collect()}
    assert got == {x: (len(adj[x]), expect_tri[x]) for x in adj}


def test_bfs_hops_chain_and_unreached(spark):
    """Chain 0->1->2->3->4 plus an isolated node and a back-edge:
    distances are exact, the 3-hop bound truncates, direction
    respected, unreached nodes get -1."""
    from logicash_etl_spark.operators.graph import bfs_hops

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node bigint")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0)], "src bigint, dst bigint"
    )
    got = {r.node: r.hops for r in bfs_hops(nodes, edges, 0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: -1, 5: -1}


def test_rolling_zscore_flags_spike_not_constant(spark, tmp_path):
    """A flat series never flags; a single spike after enough priors
    flags exactly once; the first 5 events are never judged (no
    baseline). Exercises the integer-cleared z-test directly."""
    import datetime as dt

    from logicash_etl_spark.queries.windows_plus import rolling_zscore_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: constant 10.00 -> zero variance, spike later
    for i in range(8):
        rows.append((i, base + dt.timedelta(minutes=i), 1, "click", 10.00, "{}"))
    rows.append((8, base + dt.timedelta(minutes=8), 1, "click", 500.00, "{}"))
    rows.append((9, base + dt.timedelta(minutes=9), 1, "click", 10.00, "{}"))
    # user 2: too few events to ever be judged
    for i in range(3):
        rows.append((10 + i, base + dt.timedelta(minutes=i), 2, "view", 7.77, "{}"))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")
    out = {r.user_id: r for r in rolling_zscore_anomalies(spark, sf).collect()}
    # user 1: 10 events; first 5 unjudged; the spike at index 8 flags
    # (priors all 10.00 -> variance 0 -> any deviation flags); the
    # post-spike 10.00 does NOT flag (spike inflates the rolling std
    # enough that |10 - mean| < 3 sd in integer form)
    assert (out[1].n_events, out[1].n_judged) == (10, 5)
    assert out[1].n_anomalies == 1
    # user 2: never judged, never flagged
    assert (out[2].n_events, out[2].n_judged, out[2].n_anomalies) == (3, 0, 0)


def test_k_core_peels_pendants_keeps_clique(spark):
    """A 5-clique (everyone degree 4) survives the 4-core; a pendant
    chain hanging off it peels. Reversed / duplicate edges
    canonicalize away."""
    from logicash_etl_spark.operators.graph import k_core

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    chain = [(4, 5), (5, 6)]
    edges = clique + chain + [(1, 0), (4, 2)]  # dup + reversed noise
    nodes = spark.createDataFrame([(i,) for i in range(8)], "node bigint")
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    out = {r.node: (r.deg, r.in_core) for r in k_core(nodes, df).collect()}
    # 0..3 keep their 4 clique neighbors; 4 loses the chain edge but
    # keeps 4 clique neighbors; 5,6 peel (degrees 2 and 1); 7 is isolated
    assert all(out[i] == (4, True) for i in range(5))
    assert out[5] == (0, False) and out[6] == (0, False) and out[7] == (0, False)


def test_k_core_matches_bruteforce_fixpoint(spark):
    """On a seeded random graph, the operator's bounded peel matches
    an in-Python peel of the same rounds (each round keeps the edges
    whose both endpoints have degree >= k) — degrees and membership
    match exactly for every vertex."""
    import random

    from logicash_etl_spark.operators.graph import KCORE_K, KCORE_ROUNDS, k_core

    rng = random.Random(7)
    n, k = 16, KCORE_K
    und = set()
    for _ in range(60):
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            und.add((min(u, v), max(u, v)))

    def degrees(es):
        deg = dict.fromkeys(range(n), 0)
        for u, v in es:
            deg[u] += 1
            deg[v] += 1
        return deg

    alive = set(und)
    for _ in range(KCORE_ROUNDS):
        deg = degrees(alive)
        alive = {(u, v) for u, v in alive if deg[u] >= k and deg[v] >= k}
    expect = degrees(alive)
    assert 0 < len(alive) < len(und)  # the peel both keeps and drops
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
    edges = spark.createDataFrame(sorted(und), "u bigint, v bigint")
    got = {r.node: (r.deg, r.in_core) for r in k_core(nodes, edges).collect()}
    assert got == {i: (d, d >= k) for i, d in expect.items()}


def test_peak_concurrency_reports_carried_in_days(spark, tmp_path):
    """A session spanning three days must make the MIDDLE day report
    its concurrency even though no boundary event falls inside it —
    the day-clipped sweep's reason to exist."""
    import datetime as dt
    import os

    from logicash_etl_spark.queries.relational import session_peak_concurrency

    rows = []
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    i = 0
    # user 1: events every 20 min for 48h -> ONE session Jan 1 -> Jan 3
    while t <= dt.datetime(2024, 1, 3, 12, 0, 0):
        rows.append((i, t, 1, "click", 1.0, "{}"))
        t += dt.timedelta(minutes=20)
        i += 1
    # user 2: a second short session on Jan 1 only
    rows.append((i, dt.datetime(2024, 1, 1, 13, 0, 0), 2, "view", 1.0, "{}"))
    rows.append((i + 1, dt.datetime(2024, 1, 1, 13, 10, 0), 2, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")
    out = {str(r.day): r.peak_concurrent
           for r in session_peak_concurrency(spark, sf).collect()}
    assert out == {
        "2024-01-01": 2,  # both sessions overlap 13:00-13:10
        "2024-01-02": 1,  # carried-in only: no boundary falls in-day
        "2024-01-03": 1,
    }


def test_hard_negative_mining_picks_nearest_by_label(spark, tmp_path):
    """Hand-built embeddings with known geometry: the positive is the
    nearest same-label vector, the negative the nearest other-label
    vector, margin = difference — including a case where the hard
    negative is CLOSER than the positive (negative margin, the row a
    contrastive fine-tune needs most)."""
    import os

    from logicash_etl_spark.queries.similarity import hard_negative_mining

    # 2-d unit-ish vectors; query ids are vec_id < 10
    rows = [
        # query 0, label A, pointing +x
        (0, [1.0, 0.0], "A"),
        # same-label candidates at 60 and 30 degrees
        (20, [0.5, 0.866], "A"),
        (21, [0.866, 0.5], "A"),
        # other-label candidate at 10 degrees — closer than any positive
        (30, [0.985, 0.174], "B"),
        (31, [0.0, 1.0], "B"),
    ]
    df = spark.createDataFrame(
        [(i, v, lab) for i, v, lab in rows],
        "vec_id bigint, embedding array<double>, label string",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.parquet(f"{sf}/embeddings.parquet")
    out = {r.query_id: r for r in hard_negative_mining(spark, sf).collect()}
    r = out[0]
    assert r.pos_id == 21          # 30deg beats 60deg among label A
    assert r.neg_id == 30          # 10deg impostor
    assert r.neg_sim > r.pos_sim   # the impostor is closer...
    assert r.margin < 0            # ...so the margin is negative


def test_pit_enrichment_matches_every_event_exactly_once(spark):
    """Validity windows partition time per key, so the PIT join must
    be lossless and duplication-free: total enriched events == total
    events (a 2-version overlap would double-count; a window gap
    would drop)."""
    from logicash_etl_spark.queries.pipeline_ops import pit_event_enrichment
    from logicash_etl_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    n_events = read_table(spark, sf, "events").count()
    out = pit_event_enrichment(spark, sf)
    assert out.agg({"n_events": "sum"}).collect()[0][0] == n_events


def test_value_drift_psi_flags_shifted_distribution(spark, tmp_path):
    """All value mass moves from the bottom of the range to the top
    between halves: the PSI contributions of the edge bins must
    dominate and the total must clear the classic 0.2 retrain
    threshold; a no-drift control stays near zero."""
    import datetime as dt
    import os

    from logicash_etl_spark.queries.analytics import value_drift_psi

    base = dt.datetime(2024, 1, 1)

    def write(sf, second_half_values):
        rows = []
        for i in range(200):
            rows.append((i, base + dt.timedelta(minutes=i), 1, "e", 10.0 + (i % 20), "{}"))
        for i in range(200):
            rows.append((200 + i, base + dt.timedelta(minutes=400 + i), 1, "e",
                         second_half_values(i), "{}"))
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        os.makedirs(sf, exist_ok=True)
        df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    drift = str(tmp_path / "drift")
    write(drift, lambda i: 28.0 + (i % 2))          # mass jumps to the top bins
    psi = sum(r.psi_contrib for r in value_drift_psi(spark, drift).collect())
    assert psi > 0.2

    flat = str(tmp_path / "flat")
    write(flat, lambda i: 10.0 + (i % 20))          # same distribution
    psi0 = sum(r.psi_contrib for r in value_drift_psi(spark, flat).collect())
    assert psi0 < 0.05


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


def test_pareto_frontier_matches_bruteforce(spark):
    """Randomized 2-D skyline (x maximized, y minimized) vs the O(n^2)
    dominance scan, with duplicate points and ties."""
    import random

    from logicash_etl_spark.operators.skyline import pareto_frontier_2d

    rng = random.Random(7)
    pts = [(i, rng.randint(0, 20), round(rng.uniform(0, 10), 1)) for i in range(300)]
    # force duplicate coordinates and full ties
    pts += [(1000, 5, 5.0), (1001, 5, 5.0), (1002, 20, 0.0), (1003, 0, 10.0)]
    df = spark.createDataFrame(pts, "id bigint, x int, y double")

    def dominated(p, q):
        # q dominates p: x no smaller, y no larger, one of them strictly
        return q[1] >= p[1] and q[2] <= p[2] and (q[1] > p[1] or q[2] < p[2])

    expect = {p[0] for p in pts if not any(dominated(p, q) for q in pts)}
    got = {r.id for r in pareto_frontier_2d(df, "x", "y", buckets=7).collect()}
    assert got == expect


def test_pareto_frontier_null_dims_and_empty(spark):
    from logicash_etl_spark.operators.skyline import pareto_frontier_2d

    df = spark.createDataFrame(
        [(1, None, 1.0), (2, 3, None), (3, 1, 1.0), (4, 2, 2.0)],
        "id bigint, x int, y double",
    )
    # null-dim rows neither survive nor dominate: (3,1,1.0) has the
    # smaller y and (4,2,2.0) the larger x, so both survive; the null
    # rows are simply excluded
    got = {r.id for r in pareto_frontier_2d(df, "x", "y").collect()}
    assert got == {3, 4}
    empty = df.filter("id < 0")
    assert pareto_frontier_2d(empty, "x", "y").count() == 0


def test_prefix_filter_pairs_lossless_vs_full_index(spark):
    """Prefix filtering must emit EXACTLY the full inverted-index
    join's pair set at its t = 1/2 (recall 1 by the prefix theorem,
    precision 1 by verification) on a randomized corpus with planted
    near-dups."""
    import random

    from logicash_etl_spark.operators.caching import cache_scope
    from logicash_etl_spark.operators.dedup import jaccard_pairs, prefix_filter_pairs

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    for i in range(60):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(40))))
    # planted near-dups: copy with small edits
    for j in range(20):
        base = docs[j][1].split()
        k = rng.randrange(3)
        for _ in range(k):
            base[rng.randrange(len(base))] = rng.choice(vocab)
        docs.append((100 + j, " ".join(base)))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    with cache_scope():
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in prefix_filter_pairs(df, "doc_id").collect()
        }
        want = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in jaccard_pairs(df, "doc_id").collect()
            if r.jaccard >= 0.5
        }
    assert got == want
    assert want  # planted dups must actually appear


def test_prefix_index_smaller_and_df_cap_bounds_postings(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from logicash_etl_spark.operators.text import word_shingles

    docs = [(i, " ".join(f"w{(i * 7 + k) % 50}" for k in range(30))) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    sh = df.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", 3))).alias("s"),
    ).select("doc_id", F.xxhash64("s").alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("tdf"))
    t = 0.7
    pref = (
        sh.join(dfreq, "sh")
        .withColumn(
            "rk", F.row_number().over(Window.partitionBy("doc_id").orderBy("tdf", "sh"))
        )
        .join(sizes, "doc_id")
        .filter(F.col("rk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1)
    )
    full_n, pref_n = sh.count(), pref.count()
    assert pref_n < full_n * 0.5  # t=0.7 keeps ~30% of postings


def test_qgram_edit_join_lossless_vs_bruteforce(spark):
    """Randomized vocabulary incl. strings below the q-gram cutoff
    (q*(d+1) = 6): the count+length filters are lossless theorems, so
    the output must EQUAL the brute-force Levenshtein scan."""
    import random

    from logicash_etl_spark.operators.joins import qgram_edit_join

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(99)
    alpha = "abcde"
    vocab = {"".join(rng.choice(alpha) for _ in range(rng.randint(1, 12))) for _ in range(150)}
    vocab |= {"a", "ab", "abc", "x", ""}  # short-pool edge cases
    vocab.discard("")
    names = sorted(vocab)
    df = spark.createDataFrame([(n,) for n in names], "nm string")

    got = {(r.name_a, r.name_b, r.dist) for r in qgram_edit_join(df, "nm").collect()}
    want = {
        (a, b, lev(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1 :]
        if lev(a, b) <= 2
    }
    assert got == want
    assert want


def test_sssp_bounded_matches_python_bellman_ford(spark):
    """Random weighted digraph: bounded-hop distances must equal the
    Python Bellman-Ford DP, including NULL for nodes unreachable
    within the hop budget."""
    import random

    from logicash_etl_spark.operators.graph import SSSP_ITERATIONS, sssp_bounded

    rng = random.Random(41)
    n = 30
    nodes = [f"n{i:02d}" for i in range(n)]
    edges = set()
    while len(edges) < 90:
        a, b = rng.sample(range(n), 2)
        edges.add((nodes[a], nodes[b]))
    wedges = [(s, d, rng.randint(1, 50)) for s, d in sorted(edges)]

    dist = {nodes[0]: 0}
    for _ in range(SSSP_ITERATIONS):
        nxt = dict(dist)
        for s, d, w in wedges:
            if s in dist and dist[s] + w < nxt.get(d, 1 << 60):
                nxt[d] = dist[s] + w
        dist = nxt
    ndf = spark.createDataFrame([(x,) for x in nodes], "node string")
    edf = spark.createDataFrame(wedges, "src string, dst string, w bigint")
    src = ndf.agg(F.min("node").alias("node"))
    got = {r.node: r.dist for r in sssp_bounded(ndf, edf, src).collect()}
    want = {x: dist.get(x) for x in nodes}
    assert got == want
    assert None in got.values()  # the hop budget truncates


def test_interval_union_matches_python_merge(spark):
    """Randomized variable-length intervals per user: island count and
    covered length must equal the classic sort-and-merge sweep."""
    import datetime as dt
    import random

    from logicash_etl_spark.queries.analytics import user_active_coverage

    rng = random.Random(5)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in range(6):
        t = 0
        for i in range(40):
            t += rng.randint(0, 90)
            rows.append(
                (uid * 100 + i, base + dt.timedelta(seconds=t), uid, "e",
                 round(rng.uniform(0, 120), 2), "{}")
            )
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    import math
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        sf = os.path.join(d, "sf")
        os.makedirs(sf)
        df.write.parquet(f"{sf}/events.parquet")
        got = {
            r.user_id: (r.n_islands, r.active_us)
            for r in user_active_coverage(spark, sf).collect()
        }

    want = {}
    for uid in range(6):
        ivs = sorted(
            (
                int(r[1].timestamp() * 1_000_000),
                int(r[1].timestamp() * 1_000_000) + math.floor(r[4] * 1_000_000),
            )
            for r in rows
            if r[2] == uid
        )
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        want[uid] = (len(merged), sum(e - s for s, e in merged))
    assert got == want


def test_hits_int_geometry(spark):
    from logicash_etl_spark.operators.graph import hits_int

    # a and b both point at c; d points at a. c is the pure
    # authority, a and b the strong hubs; z is isolated.
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("z",)], "node string"
    )
    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("d", "a")],
        "src string, dst string",
    )
    scale = 10**6
    out = {
        r.node: (r.authority, r.hub)
        for r in hits_int(nodes, edges).collect()
    }
    # c: max authority (both hubs point at it), zero hub (no out-edges)
    assert out["c"] == (scale, 0)
    # a, b: identical max hub scores (same single out-edge to c);
    # a carries some authority (d points at it), b none
    assert out["a"][1] == scale and out["b"][1] == scale
    assert out["a"][0] > 0 and out["b"][0] == 0
    # isolated node: no mass invented
    assert out["z"] == (0, 0)
    # d: hub only via a's (smaller) authority — strictly below a/b
    assert 0 < out["d"][1] < scale and out["d"][0] == 0


def test_prefix_filter_pairs_exact_rational_boundary(spark):
    """Threshold arithmetic must be exact at J == t: a (10, 20)-shingle
    pair whose Jaccard is exactly 10/20 = 1/2 passes the prefix,
    length and final filters, and one shingle less of overlap fails
    them."""
    from logicash_etl_spark.operators.dedup import prefix_filter_pairs

    small_words = [f"w{i}" for i in range(12)]  # 12 words -> 10 shingles
    extra = [f"x{i}" for i in range(10)]  # + 10 -> 20 shingles total
    other = [f"v{i}" for i in range(11)]
    docs = [
        (1, " ".join(small_words)),
        (2, " ".join(small_words + extra)),
        # 9 of the 10 shingles shared: J = 9/21 < 1/2
        (3, " ".join(other + ["y"])),
        (4, " ".join(other + ["z"] + [f"u{i}" for i in range(10)])),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = prefix_filter_pairs(df, "doc_id").collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]
    assert got[0].jaccard == 0.5


def test_bloom_probe_literal_rejects_m_bits_mismatch(spark):
    """Probing with a smaller m_bits than the filter was built with
    would silently drop out-of-range words -> false negatives; the
    literal probe must refuse the parameter mismatch (advice r6)."""
    import pytest

    from logicash_etl_spark.operators.joins import (
        bloom_filter_build,
        bloom_filter_probe_literal,
    )

    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    bloom = bloom_filter_build(keys, "k", m_bits=8192, k_hashes=3)
    probe = spark.range(0, 10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="m_bits mismatch"):
        bloom_filter_probe_literal(probe, "k", bloom, m_bits=4096, k_hashes=3)


def test_hits_int_edgeless_graph_yields_zeros(spark):
    """On a graph with no edges the round normalizer is an empty
    aggregate (NULL max); scores must be COALESCE-0, never NULL
    (advice r6)."""
    from logicash_etl_spark.operators.graph import hits_int

    nodes = spark.createDataFrame([("a",), ("b",)], "node string")
    edges = spark.createDataFrame([], "src string, dst string")
    out = {
        r.node: (r.authority, r.hub)
        for r in hits_int(nodes, edges).collect()
    }
    assert out == {"a": (0, 0), "b": (0, 0)}


def _py_morton(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_sql_matches_python_reference():
    """The loop-generated SQL interleave (shared by the Spark
    expression and the DuckDB oracle) must agree with an independent
    Python implementation on edge and random-ish coordinates."""
    import duckdb

    from logicash_etl_spark.queries.advanced import _morton_sql

    pts = [(0, 0), (1023, 1023), (1, 0), (0, 1), (512, 511), (700, 45)]
    sql = (
        "SELECT "
        + _morton_sql("x", "y")
        + " AS z FROM (SELECT unnest("
        + str([p[0] for p in pts])
        + ") AS x, unnest("
        + str([p[1] for p in pts])
        + ") AS y)"
    )
    got = [r[0] for r in duckdb.sql(sql).fetchall()]
    assert got == [_py_morton(x, y) for x, y in pts]


def test_zorder_cells_bound_both_dimensions(spark, sf_dir):
    """The zorder layout must bound BOTH coordinate spans per file
    (the Morton property the report exists to show); the linear
    layout must bound only its sort key."""
    from logicash_etl_spark.queries import QUERIES

    rows = {
        r["layout"]: r
        for r in QUERIES["zorder_file_skipping"](spark, sf_dir).collect()
    }
    z, lin = rows["zorder"], rows["linear_x"]
    assert z["avg_x_span"] <= 128 and z["avg_y_span"] <= 128
    assert lin["avg_x_span"] <= 16
    # a y-band predicate prunes most zorder files but no linear ones
    assert z["files_scan_y_band"] < lin["files_scan_y_band"]
    assert lin["files_scan_y_band"] == lin["n_files"]


def test_histogram_estimator_interpolates_exactly(spark, tmp_path):
    """On a perfectly uniform integer column the equi-depth estimate
    must be exact (zero relative error) for any threshold that lands
    on a bucket boundary of the uniform grid."""
    # 3200 rows, values 100..320000 step 100 -> buckets of equal
    # width (full orders schema: the reader's contract fails fast on
    # missing columns)
    import datetime as dt

    from logicash_etl_spark.queries import QUERIES
    from logicash_etl_spark.schemas import ORDERS

    rows = [
        (
            i,
            i % 7,
            "F",
            float((i + 1) * 100),
            dt.datetime(2024, 1, 1),
            "1-URGENT",
        )
        for i in range(3200)
    ]
    spark.createDataFrame(rows, ORDERS).write.parquet(
        f"{tmp_path}/orders.parquet"
    )

    got = {
        r["threshold"]: r
        for r in QUERIES["histogram_selectivity_report"](
            spark, str(tmp_path)
        ).collect()
    }
    # threshold 150000 -> exactly 1500 of 3200 rows
    assert got[150000.0]["actual_rows"] == 1500
    assert abs(got[150000.0]["est_rows"] - 1500) < 2
    assert abs(got[150000.0]["rel_err_pct"]) < 0.15
