"""Similarity-search queries over the embeddings table.

All oracle-checked as of r5. Brute-force cosine top-k, the kNN label
vote, and the hyperplane-LSH ANN have EXACT DuckDB oracles
(sequential-fold doubles are bitwise identical across engines, and
the LSH hyperplanes are data-independent literals the oracle embeds).
The two k-means-quantizer queries (IVF ANN, SemDeDup) are iterative —
their result sets aren't SQL-expressible — so they emit
driver-hashable verdict rows (bound-check booleans + SQL-derivable
exact counts), with the detailed outputs exact-twin-tested in numpy
(tests/test_extensions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logicash_etl_spark.operators.caching import scoped_persist
from logicash_etl_spark.operators.similarity import (
    EMBED_DIM,
    LSH_PLANES,
    LSH_PROBES,
    LSH_TABLES,
    MMR_DIVERSITY,
    MMR_PICKS,
    MMR_RELEVANCE,
    TOP_K,
    cosine_topk,
    knn_label_vote,
    lsh_ann_topk,
)
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table

_COSINE_TOPK_SQL = r"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS cosine_sim
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS INT) AS rank
      FROM scored
    )
"""


@query(
    "cosine_topk_bruteforce",
    oracle=_COSINE_TOPK_SQL + "SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 5",
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: top-5 cosine neighbors for the first 10
    vectors. Queries broadcast; corpus streams once; JVM fold dot
    product (bitwise-deterministic doubles)."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk(emb, queries)
    return out.withColumn("rank", F.col("rank").cast("int"))


@query(
    "knn_label_vote",
    oracle=_COSINE_TOPK_SQL
    + r"""
    , top5 AS (
      SELECT query_id, vec_id FROM ranked WHERE rank <= 5
    ), votes AS (
      SELECT t.query_id, e.label, count(*) AS votes
      FROM top5 t JOIN embeddings e USING (vec_id)
      GROUP BY t.query_id, e.label
    )
    SELECT query_id, label AS predicted_label, votes FROM (
      SELECT query_id, label, votes,
             row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
      FROM votes
    ) WHERE rn = 1
    """,
)
def knn_label_vote_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification by retrieval: majority label of the top-5
    neighbors."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    top5 = cosine_topk(emb, queries)
    return knn_label_vote(top5, emb)


@query(
    "embedding_dup_pairs",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
      FROM embeddings
    )
    SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.e, b.e) / (a.n * b.n) AS cosine_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) / (a.n * b.n) >= 0.4
    """,
)
def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold):
    the semantic-dedup primitive. Pairs are generated within a coarse
    blocking key (here the label column) and scored exactly — the
    IVF-style shape: a coarse partitioner bounds the quadratic blow-up
    to within-block pairs, the equi-join on the block key shuffles
    instead of cross-joining. At 100 TB the block key comes from LSH
    buckets or a k-means coarse quantizer; scoring is unchanged."""
    from logicash_etl_spark.operators.partitioning import scale_out
    from logicash_etl_spark.operators.similarity import _dot, _norm, as_double

    emb = read_table(spark, sf_dir, "embeddings")
    # norms once per vector (N folds), not once per pair (3x N^2 folds);
    # scale_out so the folds don't run on the scan's single split
    v = scale_out(emb.select("label", "vec_id", "embedding")).select(
        "label", "vec_id", as_double("embedding").alias("__v"),
        _norm(as_double("embedding")).alias("__n"),
    )
    # distinct alias per side: a.label == b.label on two selects of the
    # SAME lineage resolves both to one attribute and Catalyst drops
    # the equality as trivially true — turning the blocked join into a
    # full cross join (the "Constructing trivially true equals
    # predicate" warning)
    a = v.select(F.col("label").alias("label"), F.col("vec_id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"))
    b = v.select(F.col("label").alias("__label_b"), F.col("vec_id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
    pairs = a.join(b, on=[F.col("label") == F.col("__label_b"), F.col("id_a") < F.col("id_b")]).select(
        "label", "id_a", "id_b",
        (_dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))).alias("cosine_sim"),
    )
    return pairs.filter(F.col("cosine_sim") >= 0.4)


def _lsh_oracle_sql() -> str:
    """Full SQL twin of the multi-probe hyperplane-LSH pipeline, at
    the operator's own ``LSH_*``/``TOP_K`` constants.

    The hyperplanes are deterministic +-1 literal matrices computed on
    the driver (operators/similarity._sign_matrix — seeded PRNG, no
    data dependency), so they embed verbatim into a static oracle:
    DuckDB re-derives per-table sign buckets, the multi-probe bit
    flips (least-confident = smallest |projection| first, plane index
    as tie-break, matching numpy argsort on real-valued projections),
    the candidate union, and the exact cosine re-rank. The only
    cross-engine float risk is a projection within ~1ulp of zero or an
    exact |projection| tie — measure-zero for real embeddings, and the
    parity test would surface it."""
    from logicash_etl_spark.operators.similarity import _sign_matrix

    rows = []
    for t in range(LSH_TABLES):
        for p, h in enumerate(_sign_matrix(EMBED_DIM, LSH_PLANES, t * LSH_PLANES)):
            lit = "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in h) + "]"
            rows.append(f"({t}, {p}, {lit}::DOUBLE[])")
    values = ",\n      ".join(rows)
    return f"""
    WITH hp(tbl, plane, h) AS (VALUES
      {values}
    ), emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS n
      FROM embeddings
    ), proj AS (
      SELECT e.vec_id, hp.tbl, hp.plane, list_dot_product(e.v, hp.h) AS d
      FROM emb e, hp
    ), cbuck AS (
      SELECT vec_id, tbl,
             SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << plane)
                      ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id, tbl
    ), qbase AS (
      SELECT vec_id, tbl, bucket FROM cbuck WHERE vec_id < 10
    ), qconf AS (
      SELECT vec_id, tbl, plane,
             row_number() OVER (PARTITION BY vec_id, tbl
                                ORDER BY abs(d), plane) AS conf_rank
      FROM proj WHERE vec_id < 10
    ), qprobe AS (
      SELECT vec_id, tbl, bucket FROM qbase
      UNION
      SELECT c.vec_id, c.tbl,
             xor(b.bucket, CAST(1 AS BIGINT) << c.plane)
      FROM qconf c JOIN qbase b USING (vec_id, tbl)
      WHERE c.conf_rank <= {LSH_PROBES}
    ), cand AS (
      SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS cand_id
      FROM qprobe p JOIN cbuck c ON p.tbl = c.tbl AND p.bucket = c.bucket
      WHERE c.vec_id <> p.vec_id
    ), scored AS (
      SELECT cand.query_id, cand.cand_id AS vec_id,
             list_dot_product(q.v, c.v) / greatest(q.n * c.n, 1e-12)
               AS cosine_sim
      FROM cand
        JOIN emb q ON q.vec_id = cand.query_id
        JOIN emb c ON c.vec_id = cand.cand_id
    ), ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, vec_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= {TOP_K}
    """


@query("ann_lsh_topk", oracle=_lsh_oracle_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-probe random-hyperplane LSH
    (8 tables x 4 planes, 2 least-confident-bit probes per table,
    recall@5 ~0.96 here — beats 16 single-probe tables at HALF the
    corpus-side index) with exact cosine re-rank on the candidate
    union — the scale path when Q ~ N and brute force is O(N^2).

    Oracle upgrade (r5): the hyperplanes are data-independent literal
    matrices, so the ENTIRE pipeline — bucketing, multi-probe flips,
    candidate union, re-rank — is SQL-expressed (_lsh_oracle_sql) and
    driver-hash-checked: a bucketing or probing regression now fails
    the row, not just the local recall property test."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10)
    out = lsh_ann_topk(emb, queries)
    return out


@query(
    "ivf_ann_topk",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_returned,
           TRUE AS recall_ok,
           TRUE AS sims_well_formed
    FROM embeddings WHERE vec_id < 10
    """,
)
def ivf_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means coarse quantizer (lowest-id
    init, Lloyd iterations on a driver-sampled training set),
    inverted-file cells, the 3 nearest of 8 cells exact-re-ranked per
    query. The other classic ANN scale path beside LSH: candidate
    fraction ~ 3/8, and the cell assignment doubles as the
    blocking key for embedding dedup (cf. embedding_dup_pairs).

    Oracle upgrade (r5, bound-check-boolean pattern — the
    approx_sketches precedent): the quantizer is iterative + BLAS, so
    the returned id set is not SQL-expressible; instead the query
    emits per-query verdicts the driver CAN hash: the full top-k came
    back, at least 2 of the exact top-5 are among them (exact top-5
    recomputed in-query by brute force — every fixture clears this
    with margin; the operator's true recall distribution stays
    property-tested in tests/test_extensions.py), and the returned
    similarities are valid descending cosines. A broken cell join,
    probe collapse, or scoring bug flips a boolean and fails the
    driver hash."""
    from logicash_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        kmeans_lite,
    )

    # persisted: the k-means sample, the IVF cell scan and the
    # exact-recall brute force all read this 2-column frame; approx is
    # k x |queries| rows with the whole IVF lineage behind it, and
    # feeds two consumers.
    emb = scoped_persist(
        read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    centroids = kmeans_lite(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    # 10-query batch vs the whole corpus: broadcast the probed query
    # side so the 8-distinct-value cell join never shuffles the corpus
    approx = scoped_persist(ivf_ann_topk(emb, queries, centroids))
    exact = cosine_topk(emb, queries).select(
        "query_id", F.col("vec_id").alias("__exact_id")
    )
    hits = approx.join(
        exact,
        on=[
            approx["query_id"] == exact["query_id"],
            approx["vec_id"] == exact["__exact_id"],
        ],
        how="left_semi",
    )
    per_q = approx.groupBy("query_id").agg(
        F.count("*").alias("n_returned"),
        F.min("cosine_sim").alias("__min_sim"),
        F.max("cosine_sim").alias("__max_sim"),
    )
    n_hits = hits.groupBy("query_id").agg(F.count("*").alias("__hits"))
    return (
        per_q.join(n_hits, "query_id", "left")
        .select(
            "query_id",
            "n_returned",
            (F.coalesce("__hits", F.lit(0)) >= 2).alias("recall_ok"),
            (
                (F.col("__min_sim") >= -1.000001) & (F.col("__max_sim") <= 1.000001)
            ).alias("sims_well_formed"),
        )
    )


@query(
    "semantic_dedup_stats",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_cells,
           count(*) AS total_vecs,
           TRUE AS conservation_ok,
           TRUE AS removal_rate_in_band,
           TRUE AS retention_floor_ok
    FROM embeddings
    """,
)
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (Abbas et al. 2023): deterministic k-means
    cells as the semantic blocking key, exact cosine within cells,
    greedy keep-lowest-id removal. The embedding near-dup pruning a
    100 TB pretraining corpus runs AFTER exact/MinHash text dedup —
    catches paraphrases exact hashing can't.

    Oracle upgrade (r5, bound-check-boolean pattern): the quantizer is
    iterative, so per-cell stats aren't SQL-expressible; the query
    instead emits one verdict row the driver hashes: the number of
    populated cells (all 8 on every fixture), the EXACT total vector
    count (must equal the SQL COUNT — one row lost or duplicated
    through assign/pair/remove fails the hash), conservation
    (removed + kept == total), the corpus-level removal rate inside a
    wide empirical band (observed 3.8%/4.6%/14.5% across fixtures;
    band 0.5%-30%), and a 0.5 retention floor per cell. Per-vector
    removal decisions stay exact-twin-tested in numpy
    (tests/test_extensions.py)."""
    from logicash_etl_spark.operators.similarity import kmeans_lite, semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = kmeans_lite(emb)
    marked = semantic_dedup(emb, centroids)
    per_cell = marked.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.col("removed").cast("long")).alias("n_removed"),
        F.sum((~F.col("removed")).cast("long")).alias("n_kept"),
    )
    return per_cell.agg(
        F.count("*").alias("n_cells"),
        F.sum("n_vecs").alias("total_vecs"),
        (F.sum("n_removed") + F.sum("n_kept") == F.sum("n_vecs")).alias(
            "conservation_ok"
        ),
        (
            (F.sum("n_removed") / F.sum("n_vecs") >= 0.005)
            & (F.sum("n_removed") / F.sum("n_vecs") <= 0.30)
        ).alias("removal_rate_in_band"),
        (F.min(F.col("n_kept") / F.col("n_vecs")) >= 0.5).alias(
            "retention_floor_ok"
        ),
    )


@query(
    "pq_ann_topk",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_returned,
           TRUE AS recall_ok,
           TRUE AS dists_well_formed
    FROM embeddings WHERE vec_id < 10
    """,
)
def pq_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011), the THIRD classic
    ANN scale path beside LSH and IVF — the memory-bound one: the
    corpus is searched through m=8 one-byte codes per vector (32x
    smaller than the raw 64 floats), with approx distance = sum of
    per-subspace ||q_sub - centroid[code]||^2 read off the literal
    codebooks. At 100 TB this is the difference between scanning
    codes from hot storage and paging raw vectors: search never
    touches the embedding column at all
    (operators/similarity.py:pq_train_codebooks/pq_encode/pq_ann_topk).

    Oracle: the IVF verdict-boolean pattern — codebooks are iterative
    + BLAS (not SQL-expressible), so the query emits per-query
    verdicts the driver hashes: full top-5 returned, >= 2 of the
    exact L2 top-5 among them (exact recomputed in-query by brute
    force; every fixture clears the bar with margin), and distances
    are non-negative ascending. A broken encode, codebook, or lookup
    flips a boolean and fails the driver hash."""
    from logicash_etl_spark.operators.similarity import (
        as_double,
        pq_ann_topk,
        pq_train_codebooks,
    )
    from pyspark.sql import Window as W

    # persisted: the codebook sample, code scan, rerank fetch and the
    # in-query exact-recall brute force all read this 2-column frame
    emb = scoped_persist(
        read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    books = pq_train_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    approx = pq_ann_topk(emb, queries, books)
    # exact L2 top-5 by brute force, in-query, for the recall verdict
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    )
    sq = F.aggregate(
        F.zip_with(
            as_double("embedding"), F.col("qv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ex = (
        emb.join(F.broadcast(q), on=emb["vec_id"] != F.col("query_id"))
        .select("query_id", "vec_id", sq.alias("d"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("d").asc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("query_id", F.col("vec_id").alias("__exact_id"))
    )
    hits = approx.join(
        ex,
        on=[
            approx["query_id"] == ex["query_id"],
            approx["vec_id"] == ex["__exact_id"],
        ],
        how="left_semi",
    )
    per_q = approx.groupBy("query_id").agg(
        F.count("*").alias("n_returned"),
        F.min("approx_sq_l2").alias("__min_d"),
    )
    n_hits = hits.groupBy("query_id").agg(F.count("*").alias("__hits"))
    return (
        per_q.join(n_hits, "query_id", "left")
        .select(
            "query_id",
            "n_returned",
            (F.coalesce("__hits", F.lit(0)) >= 2).alias("recall_ok"),
            (F.col("__min_d") >= 0.0).alias("dists_well_formed"),
        )
    )


@query(
    "hard_negative_mining",
    oracle=r"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ), scored AS (
      SELECT q.query_id, e.vec_id, (e.label = q.qlabel) AS same,
             list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))) AS sim
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    ), best AS (
      SELECT query_id, vec_id, same, sim,
             row_number() OVER (PARTITION BY query_id, same
                                ORDER BY sim DESC, vec_id) AS rn
      FROM scored
    )
    SELECT p.query_id,
           p.vec_id AS pos_id, p.sim AS pos_sim,
           n.vec_id AS neg_id, n.sim AS neg_sim,
           p.sim - n.sim AS margin
    FROM (SELECT * FROM best WHERE same AND rn = 1) p
      JOIN (SELECT * FROM best WHERE NOT same AND rn = 1) n
      USING (query_id)
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each query vector, its nearest SAME-label neighbor (the positive)
    and its nearest DIFFERENT-label neighbor (the hard negative — the
    impostor that makes the best training signal), plus the margin
    between them. Rows with small or negative margin are exactly the
    pairs a triplet/InfoNCE fine-tune needs most — the curation step
    between raw embeddings and a training set.

    Same execution scheme as the brute-force top-k: queries broadcast
    with their labels, corpus streams once, JVM sequential-fold dot
    products (bitwise-deterministic doubles), one window per
    (query, side). At 100 TB the scored frame is corpus x Q rows —
    bound Q per pass and use the LSH/IVF shortlist (ann_lsh_topk /
    ivf_ann_topk) as the candidate generator, with this exact scorer
    re-ranking; the per-(query, side) argmax then runs over shortlist
    rows, not the corpus."""
    from logicash_etl_spark.operators.partitioning import scale_out
    from logicash_etl_spark.operators.similarity import _dot, _norm, as_double
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        as_double("embedding").alias("__qv"),
        _norm(as_double("embedding")).alias("__qn"),
    )
    c = scale_out(emb.select("vec_id", "label", "embedding")).select(
        "vec_id",
        "label",
        as_double("embedding").alias("__cv"),
        _norm(as_double("embedding")).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (F.col("label") == F.col("qlabel")).alias("same"),
            (_dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id", "same").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    pos = best.filter(F.col("same")).select(
        "query_id", F.col("vec_id").alias("pos_id"), F.col("sim").alias("pos_sim")
    )
    neg = best.filter(~F.col("same")).select(
        "query_id", F.col("vec_id").alias("neg_id"), F.col("sim").alias("neg_sim")
    )
    return pos.join(neg, on="query_id").withColumn(
        "margin", F.col("pos_sim") - F.col("neg_sim")
    )


@query(
    "embedding_centroid_drift",
    oracle="""
    WITH mx AS (
      SELECT max(vec_id) AS m FROM embeddings
    ), t AS (
      SELECT CASE WHEN vec_id * 2 <= (SELECT m FROM mx) THEN 0 ELSE 1 END
               AS half,
             embedding
      FROM embeddings
    ), dims AS (
      SELECT CAST(range AS BIGINT) + 1 AS i FROM range(0, 64)
    ), comp AS (
      SELECT half, d.i AS pos,
             SUM(CAST(embedding[d.i] AS DOUBLE)) AS s
      FROM t, dims d
      GROUP BY half, d.i
    ), j AS (
      SELECT a.s AS s0, b.s AS s1
      FROM comp a JOIN comp b ON a.pos = b.pos
      WHERE a.half = 0 AND b.half = 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM t WHERE half = 0)
             AS n_first,
           (SELECT CAST(count(*) AS BIGINT) FROM t WHERE half = 1)
             AS n_second,
           round(SUM(s0 * s1)
                 / (sqrt(SUM(s0 * s0)) * sqrt(SUM(s1 * s1))), 6)
             AS centroid_cosine
    FROM j
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift: cosine between the CENTROIDS of
    the corpus's first and second half (by vec_id) — the modality
    companion to value_drift_psi: when new embeddings stop pointing
    where the index was trained (model swap, domain shift, encoder
    bug), the centroid cosine drops long before ANN recall visibly
    degrades. Cosine of centroids equals cosine of the per-component
    SUM vectors (scale cancels), so no division happens until the
    single-row edge.

    Determinism: float components widen to double (exact), partial
    sums are the engines' standard mergeable SUM, and only the final
    cosine is rounded (6dp absorbs summation-order ulps — the
    stat_moments rule; magnitudes here are ~1e1 sums of ~1e0 terms,
    noise ~1e-13 relative).

    The oracle pins the testdata's dim = 64 as a literal (DuckDB's
    generate_series takes constants only) — the same contract as the
    hyperplane-literal ANN oracles; the Spark side adapts to any dim.

    Scale: one posexplode pass (rows x dim, map-only) into a
    (2 x dim)-group map-side-combinable SUM — shuffle state is 128
    doubles per map task regardless of corpus size; the cosine is a
    dim-row fold on one row."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mx = emb.agg(F.max("vec_id").alias("m"))
    t = emb.crossJoin(F.broadcast(mx)).select(
        F.when(F.col("vec_id") * 2 <= F.col("m"), 0).otherwise(1).alias("half"),
        "embedding",
    )
    comp = (
        t.select("half", F.posexplode("embedding").alias("pos", "e"))
        .groupBy("half", "pos")
        .agg(F.sum(F.col("e").cast("double")).alias("s"))
    )
    a = comp.filter(F.col("half") == 0).select(
        F.col("pos").alias("p0"), F.col("s").alias("s0")
    )
    b = comp.filter(F.col("half") == 1).select(
        F.col("pos").alias("p1"), F.col("s").alias("s1")
    )
    j = a.join(b, a.p0 == b.p1)
    counts = t.groupBy().agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_first"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_second"),
    )
    cos = j.agg(
        F.round(
            F.sum(F.col("s0") * F.col("s1"))
            / (
                F.sqrt(F.sum(F.col("s0") * F.col("s0")))
                * F.sqrt(F.sum(F.col("s1") * F.col("s1")))
            ),
            6,
        ).alias("centroid_cosine")
    )
    return counts.crossJoin(cos)


@query(
    "rrf_hybrid_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) AS dot,
             list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
             / greatest(sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[]))),
                        1e-12) AS cos
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank_cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, vec_id) AS rank_dot
      FROM scored
    ), fused AS (
      SELECT query_id, vec_id,
             CAST((CASE WHEN rank_cos <= 20
                        THEN 1000000 // (60 + rank_cos) ELSE 0 END)
                + (CASE WHEN rank_dot <= 20
                        THEN 1000000 // (60 + rank_dot) ELSE 0 END)
                  AS BIGINT) AS rrf_score
      FROM ranked
      WHERE rank_cos <= 20 OR rank_dot <= 20
    )
    SELECT query_id, vec_id, rrf_score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, vec_id) AS INT)
             AS fused_rank
    FROM fused
    QUALIFY fused_rank <= 5
    """,
)
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via RECIPROCAL-RANK FUSION (Cormack et al.
    SIGIR'09) — the standard way production search fuses rankings
    from incomparable scorers (dense cosine + BM25, or here:
    NORMALIZED cosine vs RAW inner product, whose rankings diverge
    exactly on norm outliers — the popularity-vs-similarity split).
    Each system contributes 1/(60+rank) for its top-20 shortlist;
    fusion uses only RANKS, so the fused result is integer-exact
    (contributions scaled to 1e6 with floor division) and the driver
    hash pins both underlying rankings end-to-end — a regression in
    either scorer reorders a shortlist and flips the hash.

    Scale: ONE corpus pass scores both systems (queries broadcast,
    dot product computed once, cosine derived from it), and both rank
    windows share the single query_id shuffle; the fused frame is
    |Q| x <=40 rows. At 100 TB each system's shortlist comes from its
    ANN index (lsh_ann_topk / pq_ann_topk) and this same fusion runs
    over the union of shortlists — rank-only fusion never needs the
    scores to be comparable."""
    from pyspark.sql import Window as W

    from logicash_etl_spark.operators.partitioning import scale_out
    from logicash_etl_spark.operators.similarity import _dot, _norm, as_double

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double("embedding").alias("__qv"),
        _norm(as_double("embedding")).alias("__qn"),
    )
    c = scale_out(emb.select("vec_id", "embedding")).select(
        "vec_id",
        as_double("embedding").alias("__cv"),
        _norm(as_double("embedding")).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _dot(F.col("__qv"), F.col("__cv")).alias("dot"),
            (
                _dot(F.col("__qv"), F.col("__cv"))
                / F.greatest(F.col("__qn") * F.col("__cn"), F.lit(1e-12))
            ).alias("cos"),
        )
    )
    w_cos = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    w_dot = W.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    ranked = scored.select(
        "query_id", "vec_id",
        F.row_number().over(w_cos).alias("rank_cos"),
        F.row_number().over(w_dot).alias("rank_dot"),
    )
    contrib = (
        F.when(
            F.col("rank_cos") <= 20,
            F.expr("CAST(1000000 div (60 + rank_cos) AS BIGINT)"),
        ).otherwise(F.lit(0).cast("bigint"))
        + F.when(
            F.col("rank_dot") <= 20,
            F.expr("CAST(1000000 div (60 + rank_dot) AS BIGINT)"),
        ).otherwise(F.lit(0).cast("bigint"))
    )
    fused = ranked.filter(
        (F.col("rank_cos") <= 20) | (F.col("rank_dot") <= 20)
    ).select(
        "query_id", "vec_id", contrib.cast("bigint").alias("rrf_score")
    )
    w_f = W.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("vec_id")
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(w_f).cast("int")
        )
        .filter(F.col("fused_rank") <= 5)
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection — distortion report
# ---------------------------------------------------------------------------
# Deterministic +/-1 sign matrix (Achlioptas 2003: Rademacher entries
# satisfy the JL lemma with the same guarantees as Gaussians, and make
# the projection exact integer +/- sums): entry (j, i) derives from
# md5, so both engines can reproduce the projection from the SAME
# literal matrix — data-independent, embedded in query and oracle
# alike (the LSH-hyperplane convention above).
_JL_K = 16
_JL_D = 64


def _jl_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"jl_{j}_{i}".encode()).digest()[0] % 2 == 0
            else -1
            for i in range(_JL_D)
        ]
        for j in range(_JL_K)
    ]


def _jl_oracle_sql() -> str:
    m = _jl_signs()
    m_lit = (
        "["
        + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in m)
        + "]"
    )
    return f"""
    WITH pairs AS (
      SELECT a.label AS label,
             list_transform(range(1, {_JL_D} + 1),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    - CAST(b.embedding[i] AS DOUBLE)) AS diff
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ), dist AS (
      SELECT label,
             list_reduce(list_transform(diff, x -> x * x),
                         (acc, e) -> acc + e) AS d2,
             list_transform(range(1, {_JL_K} + 1),
               j -> list_reduce(
                      list_transform(range(1, {_JL_D} + 1),
                                     i -> diff[i] * ({m_lit})[j][i]),
                      (acc, e) -> acc + e) * 0.25) AS proj
      FROM pairs
    ), ratio AS (
      SELECT label,
             CAST(floor(1000000 * (
               list_reduce(list_transform(proj, x -> x * x),
                           (acc, e) -> acc + e) / d2) + 0.5) AS BIGINT)
               AS ppm
      FROM dist WHERE d2 > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(CAST(SUM(ppm) AS BIGINT) AS DOUBLE)
                 / count(*) / 1000000.0, 6) AS mean_ratio,
           round(CAST(min(ppm) AS DOUBLE) / 1000000.0, 6) AS min_ratio,
           round(CAST(max(ppm) AS DOUBLE) / 1000000.0, 6) AS max_ratio,
           round(CAST(SUM(CASE WHEN ppm BETWEEN 700000 AND 1300000
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_within_30pct
    FROM ratio GROUP BY label
    """


@query("jl_projection_distortion", oracle=_jl_oracle_sql())
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a measured
    distortion report: project the 64-dim embeddings to 16 dims
    through a deterministic Rademacher (+/-1) matrix (Achlioptas
    2003) and report, per label, how well pairwise SQUARED DISTANCES
    survive — mean/min/max of the projected/original ratio and the
    fraction within +/-30%. This is the go/no-go check before
    swapping the full-dim embedding column for a k-dim projection in
    ANN pre-filtering (4x fewer bytes per vector, same bucketing
    machinery): the JL lemma promises eps ~ sqrt(8 ln n / k), and
    this REPORT is the empirical verification of that promise on the
    actual corpus rather than a constant in a paper.

    Scale (100 TB posture): the projection is a map-side transform
    (k x d multiply-adds per row against a LITERAL sign matrix — no
    shuffle, no UDF, whole-stage codegen over array lambdas); the
    distortion probe pairs each vector with its vec_id successor
    (ONE equi-join on a monotone key, AQE-splittable, never all
    pairs); the report is a single groupBy(label) over exact integer
    ppm ratios. At 100 TB the pair probe rides a deterministic
    sample gate (vec_id % s = 0) — the matrix and projection cost do
    not change.

    Determinism: signs are +/-1 literals shared with the oracle;
    diff/fold arithmetic is sequential IEEE identical on both
    engines; ratios quantize to integer ppm via floor(x*1e6 + 0.5)
    BEFORE aggregation, so sums/min/max are exact integers and the
    output divides exact integers, rounding once at the edge."""
    m = _jl_signs()
    mat = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in m]
    )
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    a = emb.select(
        F.col("vec_id"), F.col("label"), F.col("e").alias("ea")
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("e").alias("eb")
    )
    diff = F.zip_with("ea", "eb", lambda x, y: x - y)
    pairs = a.join(b, on="vec_id").select("label", diff.alias("diff"))
    d2 = F.aggregate(
        F.transform("diff", lambda x: x * x),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    proj = F.transform(
        F.sequence(F.lit(1), F.lit(_JL_K)),
        lambda j: F.aggregate(
            F.zip_with(
                "diff",
                F.element_at(mat, j),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        * 0.25,
    )
    dist = pairs.select(
        "label", d2.alias("d2"), proj.alias("proj")
    ).filter(F.col("d2") > 0)
    p2 = F.aggregate(
        F.transform("proj", lambda x: x * x),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    ratio = dist.select(
        "label",
        F.floor(1000000 * (p2 / F.col("d2")) + 0.5)
        .cast("bigint")
        .alias("ppm"),
    )
    n = F.count("*")
    return ratio.groupBy("label").agg(
        n.cast("bigint").alias("n_pairs"),
        F.round(
            F.sum("ppm").cast("bigint").cast("double") / n / 1000000.0, 6
        ).alias("mean_ratio"),
        F.round(F.min("ppm").cast("double") / 1000000.0, 6).alias(
            "min_ratio"
        ),
        F.round(F.max("ppm").cast("double") / 1000000.0, 6).alias(
            "max_ratio"
        ),
        F.round(
            F.sum(
                F.when(
                    F.col("ppm").between(700000, 1300000), 1
                ).otherwise(0)
            ).cast("double")
            / n,
            6,
        ).alias("frac_within_30pct"),
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance — diverse exemplar selection
# ---------------------------------------------------------------------------
def _mmr_ctes() -> str:
    """Unrolled greedy-MMR oracle (the BPE-train unrolled-loop
    convention), at the operator's own ``MMR_*`` constants: stage i
    picks argmax of round(0.7*rel - 0.3*msim, 6) over the pool minus
    stages 1..i-1, msim = max cosine to the already-selected vectors.
    Cosines are sequential folds with the 1e-12 norm floor — bitwise
    identical to the Spark operator's."""

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / greatest("
            f"sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b})), 1e-12)"
        )

    parts = [
        """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id > 0
    ), q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id = 0
    ), rel AS (
      SELECT vec_id, v, """
        + cos("v", "qv")
        + """ AS rel
      FROM base, q
    ), s1 AS (
      SELECT vec_id, v, round(""" + repr(MMR_RELEVANCE) + """ * rel, 6) AS score
      FROM rel ORDER BY score DESC, vec_id LIMIT 1
    )"""
    ]
    for i in range(2, MMR_PICKS + 1):
        prev_ids = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, i)
        )
        prev_vs = " UNION ALL ".join(
            f"SELECT v FROM s{j}" for j in range(1, i)
        )
        parts.append(
            f""", c{i} AS (
      SELECT r.vec_id, r.v, r.rel,
             (SELECT max({cos('r.v', 's.v')})
              FROM ({prev_vs}) s(v)) AS msim
      FROM rel r WHERE r.vec_id NOT IN ({prev_ids})
    ), s{i} AS (
      SELECT vec_id, v, round({MMR_RELEVANCE!r} * rel - {MMR_DIVERSITY!r} * msim, 6) AS score
      FROM c{i} ORDER BY score DESC, vec_id LIMIT 1
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS rank, vec_id, score AS mmr_score"
        f" FROM s{i}"
        for i in range(1, MMR_PICKS + 1)
    )
    return "".join(parts) + "\n    " + finals


@query("mmr_diverse_exemplars", oracle=_mmr_ctes())
def mmr_diverse_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse exemplar selection via greedy MMR (Carbonell &
    Goldstein SIGIR'98): the 5 vectors most relevant to the query
    (vec_id 0's embedding) under a diversity penalty against the
    already-picked set — what a few-shot prompt builder or eval-set
    curator wants where plain top-k returns near-copies of one
    neighborhood. Operator: operators/similarity.mmr_select (k
    sequential passes over a persisted relevance-scored pool, the
    selected set folded map-side as k literal vectors; driver state
    bounded by k — see the operator docstring for the 100 TB
    contract). Oracle: the greedy loop unrolled into k CTE stages
    (the BPE-train convention), bit-identical fold cosines, identical
    6dp-rounded argmax keys."""
    from logicash_etl_spark.operators.similarity import mmr_select

    emb = read_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.transform("embedding", lambda x: x.cast("double")))
        .collect()
    )
    if not qrows:
        raise ValueError(
            "mmr_diverse_exemplars: query vector vec_id=0 not found "
            "(empty or filtered embeddings table)"
        )
    return mmr_select(emb.filter(F.col("vec_id") > 0), qrows[0][0])
