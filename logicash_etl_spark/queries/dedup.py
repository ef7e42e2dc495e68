"""Deduplication queries over the documents table.

All oracle-checked as of r5: exact + n-gram-Jaccard directly;
MinHash-LSH (and the clustering built on its edges) against the exact
pair SQL — valid because the LSH output is exact-Jaccard-verified
(precision 1 by construction) and empirically total-recall on the
fixtures, so the emitted set equals the exact set and any signature /
banding regression fails the driver hash. SimHash signatures are
md5-derived (SQL-portable), so its pipeline has a direct oracle too.
Distributional recall properties stay in tests/test_curation.py.

Work sharing: the expensive pair pipelines are materialized ONCE per
(process, sf_dir) to a temp parquet lot and re-read by every query
that needs them — ``ngram_jaccard_dups`` and ``dedup_clusters_exact``
share the exact-Jaccard pairs; ``minhash_lsh_dups`` and
``dedup_clusters`` share the MinHash-verified pairs. Results are
identical to recomputing (the pipelines are deterministic and parquet
round-trips longs/doubles bitwise); a driver running the full catalog
just stops paying for the same inverted-index join twice. Each build
runs inside a ``cache_scope`` so operator-persisted intermediates are
freed as soon as the lot is written; lots are removed at process exit
(logicash_etl_spark/tmp.py).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from logicash_etl_spark.operators.caching import cache_scope, scoped_persist
from logicash_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_dedup_pairs,
    simhash_dup_pairs,
)
from logicash_etl_spark.queries._lots import build_once
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table
from logicash_etl_spark.tmp import session_tmpdir

# (abspath(sf_dir), lot name) -> parquet path + schema DDL of the lot
_LOTS: dict[tuple[str, str], tuple[str, str]] = {}

def _pair_lot(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Materialize ``build()`` once per (process, sf_dir) and read it
    back; subsequent calls — including from OTHER queries — reuse the
    lot. The explicit read schema keeps zero-row lots readable."""
    def materialize() -> tuple[str, str]:
        path = os.path.join(session_tmpdir("lq_dedup_lot_"), name)
        with cache_scope():
            df = build()
            df.write.mode("overwrite").parquet(path)
        return path, df.schema.json()

    key = (os.path.abspath(sf_dir), name)
    path, schema_json = build_once(_LOTS, key, materialize)
    schema = StructType.fromJson(json.loads(schema_json))
    return spark.read.schema(schema).parquet(path)


def _exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs at threshold 0.35 (the shared ground
    truth for `ngram_jaccard_dups` and `dedup_clusters_exact`)."""
    return _pair_lot(
        spark,
        sf_dir,
        "exact_jaccard_pairs",
        lambda: jaccard_pairs(read_table(spark, sf_dir, "documents"), "doc_id"),
    )


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16 bands) candidates verified at exact Jaccard
    0.35 (shared by `minhash_lsh_dups` and `dedup_clusters`)."""
    return _pair_lot(
        spark,
        sf_dir,
        "minhash_pairs",
        lambda: minhash_dedup_pairs(read_table(spark, sf_dir, "documents"), "doc_id"),
    )


@query(
    "exact_dedup_docs",
    oracle=r"""
    WITH keyed AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
      FROM documents
    ), keep AS (
      SELECT min(doc_id) AS doc_id FROM keyed GROUP BY h
    )
    SELECT d.doc_id, d.source, d.n_chars FROM documents d
    WHERE EXISTS (SELECT 1 FROM keep k WHERE k.doc_id = d.doc_id)
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-content md5, keep the
    min doc_id of each group (deterministic survivor)."""
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id").select("doc_id", "source", "n_chars")


# Exact 3-gram-Jaccard pair SQL (threshold 0.35, max_doc_freq 100) —
# shared by ngram_jaccard_dups (its own semantics) and
# minhash_lsh_dups (the LSH path is exact-verified and empirically
# 100%-recall on the fixtures, so its output must EQUAL this set; a
# recall regression in banding/signatures fails the driver hash).
_EXACT_PAIRS_SQL = r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(ws) >= 3
                    THEN list_transform(generate_series(1, len(ws) - 2),
                                        i -> array_to_string(ws[i:i+2], ' '))
                    ELSE [] END)) AS s
      FROM w
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), idx AS (
      SELECT doc_id, s FROM sh
      WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING count(*) > 100)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.35
"""


@query("ngram_jaccard_dups", oracle=_EXACT_PAIRS_SQL)
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard near-dup pairs via inverted-index join —
    the ground truth the approximate detectors are tested against.

    ``max_doc_freq=100`` caps inverted-index skew: a shingle appearing
    in k docs otherwise fans out to k^2 join rows (one boilerplate
    sentence at 100 TB = a stuck executor). Pruned shingles only shrink
    CANDIDATE generation; surviving pairs are re-scored exactly against
    the unfiltered index, and the oracle mirrors the same prune +
    re-score so results hash-match."""
    return _exact_pairs(spark, sf_dir)


@query("minhash_lsh_dups", oracle=_EXACT_PAIRS_SQL)
def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms) + banded LSH(16 bands) candidates, exact-
    Jaccard verified at 0.35 — the 100 TB near-dup path (candidates
    only, never all pairs).

    Oracle upgrade (r5): the LSH output is exact-verified, so
    precision is 100% by construction, and recall is empirically 100%
    on every fixture (verified at sf0.001/0.01/0.1 — the s-curve at
    64 hashes x 16 bands catches every true pair at these Jaccard
    levels). The emitted set therefore EQUALS the SQL-expressible
    exact pair set, and the driver's hash now pins the whole pipeline:
    any signature/banding regression that drops a true pair fails the
    row. (Distributional recall properties remain in
    tests/test_curation.py against randomized corpora.)"""
    return _minhash_pairs(spark, sf_dir)


# shared CTE chain: shingles -> exact pairs -> symmetric edges ->
# transitive closure; _CLUSTERS_SQL labels every doc from it and
# leakage_safe_split_report audits split assignments over it
_CLUSTERS_CTES = r"""
    WITH RECURSIVE w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(ws) >= 3
                    THEN list_transform(generate_series(1, len(ws) - 2),
                                        i -> array_to_string(ws[i:i+2], ' '))
                    ELSE [] END)) AS s
      FROM w
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), idx AS (
      SELECT doc_id, s FROM sh
      WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING count(*) > 100)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
      GROUP BY c.id_a, c.id_b
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.35
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), closure AS (
      SELECT a, b FROM edges
      UNION
      SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a WHERE e.b <> c.a
    )
"""

_CLUSTERS_SQL = _CLUSTERS_CTES + """
    SELECT d.doc_id,
           least(d.doc_id, coalesce(min(c.b), d.doc_id)) AS cluster_id,
           d.doc_id = least(d.doc_id, coalesce(min(c.b), d.doc_id)) AS is_canonical
    FROM documents d LEFT JOIN closure c ON c.a = d.doc_id
    GROUP BY d.doc_id
"""


@query("dedup_clusters", oracle=_CLUSTERS_SQL)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH pairs -> connected
    components (driver union-find) -> one canonical doc per cluster.

    Oracle upgrade (r5): the MinHash edge set equals the exact-Jaccard
    edge set on the fixtures (see minhash_lsh_dups — exact-verified
    candidates, empirically total recall), so the recursive-CTE
    transitive-closure oracle of `dedup_clusters_exact` pins THIS
    query's output too: both the approximate edge generation and the
    clustering are driver-hash-checked end to end."""
    from logicash_etl_spark.operators.graph import dedup_clusters

    docs = read_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return dedup_clusters(pairs.select("id_a", "id_b"), docs, "doc_id")


@query(
    "simhash_dups",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ), h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM tok
    ), votes AS (
      SELECT doc_id, bs.b AS b,
             SUM(CASE WHEN (h >> bs.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, generate_series(0, 59) AS bs(b)
      GROUP BY doc_id, bs.b
    ), sig0 AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sim
      FROM votes GROUP BY doc_id
    ), sig AS (
      SELECT d.doc_id, CAST(COALESCE(s.sim, 0) AS BIGINT) AS sim
      FROM documents d LEFT JOIN sig0 s USING (doc_id)
    ), blocked AS (
      SELECT doc_id, sim, bs.b AS blk, (sim >> (bs.b * 16)) & 65535 AS val
      FROM sig, generate_series(0, 3) AS bs(b)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
    """,
)
def simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups within Hamming<=3 via pigeonhole banding.

    Oracle upgrade (r5): the signature's token hash is md5-derived
    (operators/dedup.simhash_signatures — first 15 md5 hex chars as a
    60-bit int), which DuckDB reproduces bit-identically, so the WHOLE
    pipeline — per-bit votes, bit packing, 16-bit pigeonhole banding,
    Hamming verify — is SQL-expressed and driver-hash-checked. The
    oracle mirrors the banding (not just the O(n^2) truth) so the
    candidate structure is pinned too; for max_hamming=3 with 4 bands
    pigeonhole makes banding exact, so both equal the brute force."""
    docs = read_table(spark, sf_dir, "documents")
    return _pair_lot(
        spark,
        sf_dir,
        "simhash_pairs",
        lambda: simhash_dup_pairs(docs, "doc_id"),
    )


@query("dedup_clusters_exact", oracle=_CLUSTERS_SQL)
def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering with a FULL hash-exact oracle:
    edges are the exact n-gram-Jaccard pairs (SQL-expressible, unlike
    the xxhash64-seeded MinHash edges of `dedup_clusters`), and DuckDB
    reproduces the clustering itself with a recursive-CTE transitive
    closure — so the clustering's OUTPUT is hash-checked, not just
    row-counted. Same operator either way: the driver union-find of
    operators/graph.connected_components. The pair frame is the lot
    `ngram_jaccard_dups` materializes (computed once whichever query
    runs first)."""
    from logicash_etl_spark.operators.graph import dedup_clusters

    docs = read_table(spark, sf_dir, "documents")
    pairs = _exact_pairs(spark, sf_dir)
    return dedup_clusters(pairs.select("id_a", "id_b"), docs, "doc_id")


# Exact cross-split (incoming vs history) near-dup verdict SQL —
# ground truth for incremental_minhash_dedup: every incoming doc's
# exact history matches at Jaccard >= 0.35, folded to per-doc
# verdicts. Mirrors _EXACT_PAIRS_SQL's tokenization exactly.
_INCR_NEARDUP_SQL = r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(ws) >= 3
                    THEN list_transform(generate_series(1, len(ws) - 2),
                                        i -> array_to_string(ws[i:i+2], ' '))
                    ELSE [] END)) AS s
      FROM w
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), cand AS (
      SELECT DISTINCT i.doc_id AS id_in, h.doc_id AS id_hist
      FROM sh i JOIN sh h ON i.s = h.s
      WHERE i.doc_id % 10 >= 8 AND h.doc_id % 10 < 8
    ), inter AS (
      SELECT c.id_in, c.id_hist, count(*) AS n
      FROM cand c
        JOIN sh a ON a.doc_id = c.id_in
        JOIN sh b ON b.doc_id = c.id_hist AND b.s = a.s
      GROUP BY c.id_in, c.id_hist
    ), j AS (
      SELECT id_in, id_hist,
             CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) AS jac
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_in
        JOIN sizes sb ON sb.doc_id = id_hist
      WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.35
    ), per AS (
      SELECT id_in, CAST(count(*) AS BIGINT) AS n_hist_matches,
             MAX(jac) AS best_jaccard
      FROM j GROUP BY id_in
    )
    SELECT d.doc_id, d.source,
           COALESCE(p.n_hist_matches, 0) AS n_hist_matches,
           COALESCE(p.best_jaccard, 0.0) AS best_jaccard,
           CASE WHEN p.id_in IS NOT NULL THEN 'near_dup_of_history'
                ELSE 'new' END AS status
    FROM documents d LEFT JOIN per p ON p.id_in = d.doc_id
    WHERE d.doc_id % 10 >= 8
"""


@query("incremental_minhash_dedup", oracle=_INCR_NEARDUP_SQL)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: each incoming doc probed against the
    history corpus through an asymmetric MinHash-LSH join
    (operators/dedup.py:minhash_probe_pairs) — the near-dup sibling
    of ``incremental_lot_dedup`` (exact fp) and
    ``bloom_history_dedup`` (membership), completing the incremental
    family: in production the history side is a STORED (id, band,
    bhash) index that each lot appends to, so a new lot costs its own
    signatures + one equi-join on bucket keys — history is never
    re-signed and never self-joined. Candidates are exact-Jaccard
    verified (precision 1.0 by construction); recall is empirically
    100% at these settings (64 hashes x 16 bands at J >= 0.35 — the
    same s-curve minhash_lsh_dups pins corpus-wide), so the per-doc
    verdicts EQUAL the SQL-exact cross-split answer and the driver
    hash catches any signature/banding regression."""
    from logicash_etl_spark.operators.dedup import minhash_probe_pairs

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    hist = docs.filter(F.col("doc_id") % 10 < 8)
    incoming = docs.filter(F.col("doc_id") % 10 >= 8)
    pairs = minhash_probe_pairs(incoming, hist, "doc_id")
    per = pairs.groupBy("id_in").agg(
        F.count("*").cast("bigint").alias("n_hist_matches"),
        F.max("jaccard").alias("best_jaccard"),
    )
    return incoming.join(
        per, incoming["doc_id"] == per["id_in"], "left"
    ).select(
        "doc_id",
        "source",
        F.coalesce("n_hist_matches", F.lit(0)).cast("bigint").alias(
            "n_hist_matches"
        ),
        F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        F.when(F.col("id_in").isNotNull(), "near_dup_of_history")
        .otherwise("new")
        .alias("status"),
    )


# Jaccard over the df-capped shingle space (boilerplate shingles with
# document frequency > 100 removed from the sets themselves) — the
# semantics prefix filtering keeps exact end-to-end. Distinct from
# _EXACT_PAIRS_SQL, which prunes candidates but re-scores full sets.
_RARE_JACCARD_SQL = r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), sh0 AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(ws) >= 3
                    THEN list_transform(generate_series(1, len(ws) - 2),
                                        i -> array_to_string(ws[i:i+2], ' '))
                    ELSE [] END)) AS s
      FROM w
    ), sh AS (
      SELECT doc_id, s FROM sh0
      WHERE s NOT IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 100)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
"""


@query("prefix_jaccard_dups", oracle=_RARE_JACCARD_SQL)
def prefix_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.5 pairs via PREFIX FILTERING (SSJoin /
    All-Pairs / PPJoin lineage): each doc indexes only its
    ``sz - ceil(t*sz) + 1`` globally-rarest shingles, candidates come
    from the prefix index alone, a length filter prunes size-skewed
    pairs, and survivors are re-scored exactly — recall 1 by the
    prefix theorem, precision 1 by verification, so the driver hash
    pins the whole pipeline against the plain inverted-index SQL.

    Shingles with document frequency > 100 are dropped from the sets
    themselves (Jaccard over content shingles, not boilerplate),
    which both keeps the theorem exact and caps every posting list —
    the 100 TB posture: candidate fan-out is bounded by df^2 per
    shingle AND shrunk ~(1-t)x by the prefix, the two knobs
    composing. See operators/dedup.py:prefix_filter_pairs."""
    from logicash_etl_spark.operators.dedup import prefix_filter_pairs

    with cache_scope():
        out = prefix_filter_pairs(read_table(spark, sf_dir, "documents"), "doc_id")
        out = out.localCheckpoint()
    return out


@query(
    "leakage_safe_split_report",
    oracle=_CLUSTERS_CTES
    + """
    , lab AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(c.b), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN closure c ON c.a = d.doc_id
      GROUP BY d.doc_id
    ), pv AS (
      SELECT p.id_a, p.id_b, la.cluster_id AS ca, lb.cluster_id AS cb
      FROM pairs p
        JOIN lab la ON la.doc_id = p.id_a
        JOIN lab lb ON lb.doc_id = p.id_b
    )
    SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_dup_pairs,
           CAST((SELECT count(*) FROM
                   (SELECT cluster_id FROM lab
                    GROUP BY cluster_id HAVING count(*) > 1))
                AS BIGINT) AS n_multi_clusters,
           CAST(SUM(CASE WHEN id_a % 2 <> id_b % 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS naive_split_leaks,
           CAST(SUM(CASE WHEN ca % 2 <> cb % 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS cluster_split_leaks,
           CAST((SELECT SUM(CASE WHEN cluster_id % 2 = 0 THEN 1 ELSE 0 END)
                 FROM lab) AS BIGINT) AS n_train_docs
    FROM pv
    """,
)
def leakage_safe_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-AWARE train/test splitting — the leakage guard every
    LLM data pipeline needs and naive row hashing violates: a naive
    doc_id-parity split strands near-duplicate documents on opposite
    sides (the test set then "contains" training data up to a
    paraphrase), while splitting by DEDUP-CLUSTER key keeps every
    near-dup family on one side BY CONSTRUCTION. The report counts
    both schemes' cross-split leaks over the exact near-dup pair set:
    naive > 0 on this corpus, cluster-aware == 0 — an invariant the
    driver hash re-proves every round, end to end through pair
    generation AND clustering (a component split by a clustering
    regression shows up as a nonzero cluster_split_leaks).

    Scale: rides the shared exact-pair lot and the driver union-find
    of connected_components (same posture as dedup_clusters);
    the audit itself is two broadcast-sized joins of the pair list
    against the label frame and a single-row rollup."""
    from logicash_etl_spark.operators.graph import dedup_clusters

    docs = read_table(spark, sf_dir, "documents")
    pairs = _exact_pairs(spark, sf_dir).select("id_a", "id_b")
    # the label frame (2 ints per doc) feeds FOUR consumers (both pv
    # join sides, doc_stats, multi) — persisted, the clustering and
    # its documents scan execute once instead of per consumer
    lab = scoped_persist(
        dedup_clusters(pairs, docs, "doc_id").select("doc_id", "cluster_id")
    )
    pv = (
        pairs.join(
            lab.select(
                F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("ca")
            ),
            "id_a",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("cb")
            ),
            "id_b",
        )
    )
    pair_stats = pv.agg(
        F.count("*").cast("bigint").alias("n_dup_pairs"),
        F.sum((F.col("id_a") % 2 != F.col("id_b") % 2).cast("int"))
        .cast("bigint").alias("naive_split_leaks"),
        F.sum((F.col("ca") % 2 != F.col("cb") % 2).cast("int"))
        .cast("bigint").alias("cluster_split_leaks"),
    )
    doc_stats = lab.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("cluster_id") % 2 == 0).cast("int"))
        .cast("bigint").alias("n_train_docs"),
    )
    multi = (
        lab.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count("*").cast("bigint").alias("n_multi_clusters"))
    )
    return (
        pair_stats.crossJoin(F.broadcast(doc_stats))
        .crossJoin(F.broadcast(multi))
        .select(
            "n_docs", "n_dup_pairs", "n_multi_clusters",
            "naive_split_leaks", "cluster_split_leaks", "n_train_docs",
        )
    )
