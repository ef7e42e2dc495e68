"""Similarity search over embedding columns (array<float>).

Beyond-reference scope (SURVEY.md section 7): ANN over an embedding column.

- brute-force cosine top-k: the correctness baseline. Query side is
  broadcast; the dot product is a JVM-side sequential fold
  (zip_with + aggregate) — deterministic doubles, no Python boundary.
- LSH-bucketed ANN (random hyperplanes): the scale path. Signatures
  are seeded-hash hyperplanes with +-1 components — no stored model,
  reproducible on any cluster. Candidates = same bucket (plus
  multi-probe neighbors), exact cosine re-rank on candidates only.

At 100 TB: brute force is O(Q x N) — fine for small Q (broadcast), a
wall for Q ~ N; LSH trades recall for a ~buckets-fold candidate cut.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from logicash_etl_spark.operators.partitioning import scale_out

# column names of the embedding tables (fixtures' embeddings.parquet)
ID_COL = "vec_id"
VEC_COL = "embedding"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    queries is broadcast (small Q); the corpus streams once; per-query
    heap via window row_number. Deterministic: doubles from a
    sequential fold, ties broken by neighbor id. The query point
    itself (matched by id) is dropped before ranking.
    """
    # norms computed once per vector on each side — a per-pair cosine()
    # would fold each vector's norm Q (resp. N) times over
    q = queries.select(
        F.col(ID_COL).alias("query_id"),
        as_double(VEC_COL).alias("__qv"),
        _norm(as_double(VEC_COL)).alias("__qn"),
    )
    # scale_out: the N x Q score loop is CPU-bound and must not run on
    # the scan's (possibly single-split) layout
    c = scale_out(corpus.select(ID_COL, VEC_COL)).select(
        F.col(ID_COL),
        as_double(VEC_COL).alias("__cv"),
        _norm(as_double(VEC_COL)).alias("__cn"),
    )
    scored = c.crossJoin(F.broadcast(q))
    scored = scored.filter(F.col(ID_COL) != F.col("query_id")).select(
        "query_id",
        ID_COL,
        # eps floor: see note in lsh_ann_topk — bitwise identical for
        # nonzero norms, zero vectors score 0.0 instead of ANSI error
        (
            _dot(F.col("__qv"), F.col("__cv"))
            / F.greatest(F.col("__qn") * F.col("__cn"), F.lit(1e-12))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.col(ID_COL).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _sign_matrix(dim: int, planes: int, plane_offset: int = 0) -> list[list[float]]:
    """Deterministic +-1 hyperplane components from a seeded PRNG —
    computed once on the driver, shipped as a literal (no per-element
    hashing on executors). plane_offset yields independent sets for
    multi-table LSH."""
    import random

    out = []
    for p in range(planes):
        rng = random.Random(1_000_003 * (plane_offset + p) + 42)
        out.append([1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)])
    return out


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    planes: int = 4,
    tables: int = 8,
    k: int = 5,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Each of ``tables`` hash tables buckets vectors by the signs of
    ``planes`` dot products (distinct hyperplanes per table via index
    offset); candidates = union over tables of same-bucket pairs,
    deduped, then exact cosine re-rank on candidates only.

    Tuning: candidate fraction ~= tables / 2^planes; recall rises with
    tables and falls with planes. planes=4/tables=8 suits ~1e3-row
    buckets; at 1e9 rows use planes~16, tables~16 and the candidate
    cut is ~2^-12 — the whole point at 100 TB. Recall is property-
    tested against cosine_topk (tests/test_extensions.py).

    ``multi_probe`` > 0 additionally probes, per table, the buckets
    reached by flipping the query's ``multi_probe`` least-confident
    sign bits (smallest |margin| first — multi-probe LSH, Lv et al.
    2007). Probing is QUERY-side only: recall comparable to ~2x the
    tables at half the corpus-side index size — at scale the corpus
    side is the one that costs shuffle and memory.
    """
    # All T signatures in one Arrow pass: dense vector x sign-matrix is
    # exactly the workload pandas UDFs are for — (N,D) @ (D, T*P) BLAS
    # matmul, then bit-pack: ~50x less plan/codegen overhead than
    # T x P higher-order-function folds over the same sign matrices.
    mflat = np.array(
        [_sign_matrix(dim, planes, t * planes) for t in range(tables)]
    ).reshape(tables * planes, dim).T
    pow2 = 2.0 ** np.arange(planes)

    @F.pandas_udf("array<long>")
    def _sigs(col: pd.Series) -> pd.Series:
        v = np.vstack(col.values)
        bits = (v @ mflat > 0).reshape(len(v), tables, planes)
        return pd.Series(list((bits * pow2).sum(axis=2).astype("int64")))

    @F.pandas_udf("array<long>")
    def _sigs_probed(col: pd.Series) -> pd.Series:
        # per table: base bucket + multi_probe single-bit flips, least-
        # confident (smallest |margin|) bits first
        v = np.vstack(col.values)
        proj = (v @ mflat).reshape(len(v), tables, planes)
        base = ((proj > 0) * pow2).sum(axis=2).astype("int64")  # (n, T)
        order = np.argsort(np.abs(proj), axis=2)                # (n, T, P)
        out = [base]
        for j in range(multi_probe):
            out.append(base ^ (1 << order[:, :, j]).astype("int64"))
        stacked = np.stack(out, axis=2)                         # (n, T, 1+mp)
        return pd.Series(list(stacked.reshape(len(v), -1)))

    def keyed(df: DataFrame, out: str, probes: int = 0) -> DataFrame:
        udf = _sigs_probed if probes else _sigs
        if not probes:  # corpus side: parallelize the BLAS batches
            df = scale_out(df.select(ID_COL, VEC_COL))
        keys = df.select(
            F.col(ID_COL).alias(out),
            F.posexplode(udf(as_double(VEC_COL))).alias("pos", "bucket"),
        )
        # probed arrays are laid out (tbl, probe): tbl = pos // (1+probes)
        return keys.select(
            out, (F.col("pos") / (1 + probes)).cast("int").alias("tbl"), "bucket"
        )

    c_keys = keyed(corpus, "cand_id")
    q_keys = keyed(queries, "query_id", probes=multi_probe)
    cand = (
        q_keys.join(c_keys, on=["tbl", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    q_vec = queries.select(
        F.col(ID_COL).alias("query_id"),
        as_double(VEC_COL).alias("__qv"),
        _norm(as_double(VEC_COL)).alias("__qn"),
    )
    c_vec = scale_out(corpus.select(ID_COL, VEC_COL)).select(
        F.col(ID_COL).alias("cand_id"),
        as_double(VEC_COL).alias("__cv"),
        _norm(as_double(VEC_COL)).alias("__cn"),
    )
    scored = (
        cand.join(F.broadcast(q_vec), "query_id")
        .join(c_vec, "cand_id")
        .select(
            "query_id",
            F.col("cand_id").alias(ID_COL),
            # eps floor on the norm product: zero vectors score 0.0
            # instead of ANSI divide-by-zero; bitwise identical for all
            # nonzero norms, so oracle parity is unaffected
            (
                _dot(F.col("__qv"), F.col("__cv"))
                / F.greatest(F.col("__qn") * F.col("__cn"), F.lit(1e-12))
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.col(ID_COL).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_label_vote(topk: DataFrame, labels: DataFrame) -> DataFrame:
    """Majority label among a query's top-k neighbors (classification
    by retrieval). Ties broken by smaller label value."""
    joined = topk.join(labels.select(ID_COL, "label"), on=ID_COL)
    counts = joined.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    w = W.partitionBy("query_id").orderBy(F.desc("votes"), F.col("label").asc())
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )


# ---------------------------------------------------------------------------
# IVF: k-means coarse quantizer + cell-probed exact re-rank
# ---------------------------------------------------------------------------

def kmeans_lite(
    vectors: DataFrame,
    k: int = 16,
    iterations: int = 5,
    train_sample: int = 65536,
) -> DataFrame:
    """Deterministic coarse quantizer, trained the way production IVF
    indexes train (FAISS practice): Lloyd's k-means in numpy on a
    driver-sized sample — the quantizer never needs the full corpus;
    only the CELL ASSIGNMENT pass (ivf_ann_topk) is distributed.

    The sample is the ``train_sample`` rows with the lowest
    xxhash64(id): uniform-ish, fully reproducible (no RNG), and
    selected with TakeOrderedAndProject — per-partition top-K then a
    driver merge, so at 100 TB it costs one scan and O(K) memory per
    partition, never a full sort shuffle. Init = the k lowest-id
    sample vectors. Returns (centroid_id, centroid array<double>).
    """
    v = vectors.select(F.col(ID_COL).alias("id"), as_double(VEC_COL).alias("v"))
    # Arrow transfer (toPandas), not collect(): a 64k x 64-double
    # sample is ~33 MB — Row-object deserialization costs seconds,
    # the Arrow batch milliseconds
    pdf = (
        v.orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(train_sample)
        .toPandas()
        .sort_values("id")
    )
    if len(pdf) < k:
        raise ValueError(
            f"kmeans_lite: training sample has {len(pdf)} vectors < k={k} "
            "— shrink k or widen train_sample"
        )
    M = np.vstack(pdf["v"].to_numpy())                   # (n, d)
    # eps-guard: an all-zero embedding otherwise yields NaN rows that
    # poison every cosine assignment they touch
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    C = M[:k].copy()                                     # k lowest-id init
    for _ in range(iterations):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        cell = np.argmax(Mn @ Cn.T, axis=1)              # cosine assignment
        for c in range(k):
            members = M[cell == c]
            if len(members):                             # empty cell keeps centroid
                C[c] = members.mean(axis=0)
    sess = vectors.sparkSession
    return sess.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(k)],
        "centroid_id int, centroid array<double>",
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    broadcast_queries: bool = False,
) -> DataFrame:
    """IVF search: corpus rows live in their nearest centroid's cell;
    each query probes its ``n_probe`` nearest cells and exact-cosine
    re-ranks only those cells' members. Candidate fraction ~ n_probe/k.

    The inverted-file structure is just a partitioned DataFrame —
    persist (or write bucketed by cell) to amortize across queries.

    ``broadcast_queries=True`` broadcasts the probed query side of the
    cell join. The cell key has only ``#centroids`` distinct values,
    so the default shuffle join funnels the WHOLE corpus into that
    many skewed partitions; with a small query batch the broadcast
    keeps the corpus map-side (measured 2.4x at sf0.1). Leave False
    when Q is large (batch self-search) — there the corpus-side
    shuffle is amortized over many queries.
    """
    cent = [(int(r.centroid_id), np.array(r.centroid)) for r in centroids.collect()]
    C = np.array([c for _, c in cent])
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def cells_udf(top_n: int):
        @F.pandas_udf("array<int>")
        def cells(col: pd.Series) -> pd.Series:
            M = np.vstack(col.values)
            # zero vectors: eps keeps them finite (deterministic cell 0
            # via argsort tie-break) instead of NaN similarities
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            sims = Mn @ Cn.T
            order = np.argsort(-sims, axis=1)[:, :top_n].astype("int32")
            return pd.Series(list(order))
        return cells

    c_vec = scale_out(corpus.select(ID_COL, VEC_COL)).select(
        F.col(ID_COL).alias("cand_id"),
        as_double(VEC_COL).alias("__cv"),
        _norm(as_double(VEC_COL)).alias("__cn"),
        F.element_at(cells_udf(1)(as_double(VEC_COL)), 1).alias("cell"),
    )
    q_vec = queries.select(
        F.col(ID_COL).alias("query_id"),
        as_double(VEC_COL).alias("__qv"),
        _norm(as_double(VEC_COL)).alias("__qn"),
        F.explode(cells_udf(n_probe)(as_double(VEC_COL))).alias("cell"),
    )
    if broadcast_queries:
        q_vec = F.broadcast(q_vec)
    scored = (
        q_vec.join(c_vec, on="cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("cand_id").alias(ID_COL),
            # eps floor on the norm product: zero vectors score 0.0
            # instead of ANSI divide-by-zero; bitwise identical for all
            # nonzero norms, so oracle parity is unaffected
            (
                _dot(F.col("__qv"), F.col("__cv"))
                / F.greatest(F.col("__qn") * F.col("__cn"), F.lit(1e-12))
            ).alias("cosine_sim"),
        )
        # no dedup needed: every corpus vector lives in exactly ONE
        # cell and a query's probed cells are distinct, so each
        # (query, candidate) pair joins at most once
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.col(ID_COL).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Nearest-centroid (cosine) cell assignment with ZERO shuffle:
    the k centroids are inlined as a literal array of structs and the
    argmax runs as a row-local JVM fold (``array_max`` over
    struct<sim, cell> — struct ordering picks max sim, largest cell id
    on exact ties). The distributed alternative (explode k rows per
    vector + window) shuffles n*k rows on the vector id; at 100 TB the
    literal-broadcast fold is a map-only pass over the scan.

    Returns the input columns plus ``cell``. Centroid count is
    bounded by what fits in a plan literal (~thousands) — IVF/SemDeDup
    coarse quantizers are exactly that size.
    """
    cent = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()
    ]
    v = as_double(VEC_COL)
    vn = _norm(v)
    scored = F.array(
        *[
            F.struct(
                (
                    _dot(v, F.array(*[F.lit(x) for x in cv]))
                    / (vn * F.lit(float(np.linalg.norm(cv)) or 1e-12))
                ).alias("sim"),
                F.lit(cid).alias("cell"),
            )
            for cid, cv in cent
        ]
    )
    return vectors.withColumn("cell", F.array_max(scored)["cell"])


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cells
    as the blocking key, exact cosine within each cell, and a greedy
    keep-lowest-id policy — a vector is removed iff some SMALLER-id
    vector in its cell is within ``threshold`` cosine. Cross-cell
    near-dups are invisible by design (the paper's recall trade);
    raise k to bound cell sizes, since within-cell scoring is
    quadratic in the cell population.

    Returns one row per vector: (id, cell, removed). The pair join
    shuffles on the cell id only; at 100 TB the quantizer k is sized
    so n/k rows fit a partition (FAISS sizing practice), and skewed
    cells fall to AQE skew-join splitting.
    """
    from logicash_etl_spark.operators.caching import scoped_persist

    # assigned feeds THREE consumers (both pair-join sides + the final
    # verdict join); unpersisted, Catalyst re-ran the scan and the
    # centroid-argmax fold per consumer (r13 scan-audit fix).
    assigned = scoped_persist(
        assign_cells(
            scale_out(vectors.select(ID_COL, VEC_COL)), centroids
        ).select(
            F.col(ID_COL).alias("id"),
            as_double(VEC_COL).alias("__v"),
            _norm(as_double(VEC_COL)).alias("__n"),
            "cell",
        )
    )
    # distinct alias per side (same-lineage equality would collapse to
    # a trivially-true predicate and cross-join — see
    # queries/similarity.embedding_dup_pairs)
    a = assigned.select(
        F.col("cell").alias("cell"), F.col("id").alias("id_a"),
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = assigned.select(
        F.col("cell").alias("__cell_b"), F.col("id").alias("id_b"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    dup_of = (
        a.join(
            b,
            on=[F.col("cell") == F.col("__cell_b"), F.col("id_a") < F.col("id_b")],
        )
        .filter(
            _dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
            >= threshold
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("removed", F.lit(True))
    )
    return (
        assigned.select("id", "cell")
        .join(dup_of, on="id", how="left")
        .select(
            F.col("id").alias(ID_COL),
            "cell",
            F.coalesce("removed", F.lit(False)).alias("removed"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-bound ANN (Jegou et al. 2011)
# ---------------------------------------------------------------------------

def pq_train_codebooks(
    vectors: DataFrame,
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    iterations: int = 5,
    train_sample: int = 65536,
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks (``k_codes`` centroids of
    ``dim/m`` dims each) with L2 Lloyd's on a driver-sized sample —
    the same deterministic sampling rule as ``kmeans_lite`` (lowest
    xxhash64(id) rows via TakeOrderedAndProject, k lowest-id init, no
    RNG). Returns plain nested lists: the codebooks are MODEL
    literals (m * k_codes * dim/m doubles ~ 8 KB at defaults) meant
    to be inlined into encode/search expressions and shipped inside
    the plan, exactly like the IVF centroids and LSH hyperplanes."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    v = vectors.select(F.col(ID_COL).alias("id"), as_double(VEC_COL).alias("v"))
    pdf = (
        v.orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(train_sample)
        .toPandas()
        .sort_values("id")
    )
    if len(pdf) < k_codes:
        raise ValueError(
            f"pq_train_codebooks: sample {len(pdf)} < k_codes={k_codes}"
        )
    M = np.vstack(pdf["v"].to_numpy())  # (n, dim)
    books: list[list[list[float]]] = []
    for s in range(m):
        S = M[:, s * dsub:(s + 1) * dsub]
        C = S[:k_codes].copy()  # k lowest-id init, per subspace
        for _ in range(iterations):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            cell = np.argmin(d2, axis=1)
            for c in range(k_codes):
                members = S[cell == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def _d(x: float) -> str:
    """Exact double literal for Spark SQL text (repr round-trips)."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _pq_book_sql(book: list[list[float]]) -> str:
    """One subspace codebook as a SQL array<array<double>> literal."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(_d(c) for c in row) + ")" for row in book
        )
        + ")"
    )


def pq_encode(
    vectors: DataFrame,
    books: list[list[list[float]]],
) -> DataFrame:
    """Encode each vector to ``m`` one-byte codes: argmin centroid per
    subspace, run as a numpy ``mapInArrow`` batch pass (r14; guide
    §4.2) — the same zero-shuffle map-only plan as the retired r12
    literal-codebook expression fold (MapInArrow over the scan, no
    Exchange, no Join), but the m*k*dsub multiply-adds per row run
    vectorized instead of as interpreted higher-order-function lambda
    evals (measured 2.4x on the encode pass warm).

    On well-formed rows the codes equal the retired fold's by
    construction: the accumulation adds (a_t - b_t)^2 one subvector
    element at a time in the fold's order — the identical IEEE op
    sequence — so every distance, and therefore every argmin, rounds
    the same way. Ties break to the lowest code (np.argmin first
    minimum == array_position first minimum).

    Rows whose vector is NULL or whose length differs from m*dsub
    yield NULL codes in every subspace (the fixed-dim contract made
    explicit — the fold produced NULL codes on such rows too). A NULL
    element yields a NULL code for its own subspace only, as in the
    fold, where it made every distance of that subspace NULL.

    Output rows are m ints instead of dim floats (32x compression at
    the defaults: the property that lets a 100 TB embedding corpus
    fit hot storage as codes while raw vectors stay cold). Only the
    two needed columns cross the Python boundary (§4.1 column-pruning
    caveat: mapInArrow ships whatever it is given — so it is given
    exactly (id, vector))."""
    m = len(books)
    dsub = len(books[0][0])
    dim = m * dsub
    codebooks = [np.asarray(b, dtype=np.float64) for b in books]
    id_type = vectors.schema[ID_COL].dataType.simpleString()
    out_schema = f"{ID_COL} {id_type}, " + ", ".join(
        f"code_{s} int" for s in range(m)
    )

    def _encode(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(0)
            col = batch.column(1)
            n = len(col)
            lengths = pc.fill_null(pc.list_value_length(col), -1)
            ok = pc.equal(lengths, dim).to_numpy(zero_copy_only=False)
            idx = None
            sub_col = col
            if not ok.all():
                idx = np.flatnonzero(ok)
                sub_col = col.take(pa.array(idx))
            flat = pc.list_flatten(sub_col)
            vals = flat.to_numpy(zero_copy_only=False)
            emb = vals.astype(np.float64, copy=False).reshape(-1, dim)
            holes = (
                pc.is_null(flat).to_numpy(zero_copy_only=False).reshape(-1, dim)
                if flat.null_count
                else None
            )
            arrays, names = [ids], [ID_COL]
            for s in range(m):
                sub = emb[:, s * dsub : (s + 1) * dsub]
                bk = codebooks[s]
                d = np.zeros((emb.shape[0], bk.shape[0]), dtype=np.float64)
                for t in range(dsub):
                    diff = sub[:, t, None] - bk[None, :, t]
                    d += diff * diff
                codes = d.argmin(axis=1).astype(np.int32) if len(d) else (
                    np.zeros(0, dtype=np.int32)
                )
                valid = ok.copy()
                if holes is not None:
                    valid[ok] = ~holes[:, s * dsub : (s + 1) * dsub].any(axis=1)
                if valid.all():
                    arrays.append(pa.array(codes))
                else:
                    full = np.zeros(n, dtype=np.int32)
                    full[ok] = codes
                    arrays.append(pa.array(full, mask=~valid))
                names.append(f"code_{s}")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return vectors.select(ID_COL, VEC_COL).mapInArrow(_encode, out_schema)


def pq_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    rerank_candidates: int = 0,
) -> DataFrame:
    """PQ asymmetric-distance top-k: approx squared L2 from each query
    to each corpus vector = sum over subspaces of ||q_sub -
    centroid[code]||^2, where only the CODES of the corpus are read —
    the raw corpus vectors never participate in the scan (that is the
    PQ deal: m byte-lookups + adds per row instead of dim float
    multiplies, over 32x less data).

    With ``rerank_candidates = C > 0`` this runs the way production
    PQ indexes run (FAISS's IndexPQ + refine): the code scan builds a
    per-query shortlist of C candidates, and ONLY those C rows fetch
    their raw vectors for an exact L2 re-rank — quantization error
    then only costs recall if a true neighbor falls outside the
    shortlist, and the expensive exact arithmetic touches C rows per
    query, never the corpus. ``approx_sq_l2`` holds the exact re-rank
    distance in that mode.

    Plan: queries broadcast (small batch), codes scanned once,
    centroid lookup = element_at into the literal codebook, per-query
    top-k via window over the query partition. Returns (query_id,
    vec_id, approx_sq_l2, rank). Self-matches excluded."""
    dsub = len(books[0][0])
    m = len(books)
    codes = pq_encode(vectors, books)
    q = queries.select(
        F.col(ID_COL).alias("query_id"), as_double(VEC_COL).alias("__qv")
    )
    joined = codes.join(F.broadcast(q), on=codes[ID_COL] != F.col("query_id"))
    # asymmetric distance as ONE server-parsed expression: per
    # subspace, element_at into the literal codebook by this row's
    # code, then a zip_with fold against the query subvector (built
    # as TEXT — a Column-object build of the same tree costs
    # thousands of py4j round trips for an expression Catalyst
    # parses from text in milliseconds)
    dist = "+".join(
        "aggregate(zip_with("
        f"slice(__qv,{s * dsub + 1},{dsub}),"
        f"element_at({_pq_book_sql(books[s])}, code_{s} + 1),"
        "(a,b) -> (a-b)*(a-b)), 0D, (acc,x) -> acc + x)"
        for s in range(m)
    )
    scored = joined.select(
        "query_id", F.col(ID_COL), F.expr(dist).alias("approx_sq_l2")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("approx_sq_l2").asc(), F.col(ID_COL).asc()
    )
    # a shortlist smaller than k could only shrink the answer set
    shortlist_n = max(rerank_candidates, k) if rerank_candidates > 0 else k
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_n)
    )
    if rerank_candidates <= 0:
        return shortlist
    # exact re-rank: raw vectors fetched for the C shortlist rows only
    raw = vectors.select(F.col(ID_COL), as_double(VEC_COL).alias("__rv"))
    exact = F.aggregate(
        F.zip_with(F.col("__rv"), F.col("__qv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rescored = (
        shortlist.drop("rank", "approx_sq_l2")
        .join(raw, on=ID_COL)
        .join(F.broadcast(q), on="query_id")
        .select("query_id", F.col(ID_COL), exact.alias("approx_sq_l2"))
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mmr_select(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Greedy MAXIMAL MARGINAL RELEVANCE selection (Carbonell &
    Goldstein, SIGIR'98): pick ``k`` exemplars that are relevant to
    ``query_vec`` but mutually diverse — at step i the winner
    maximizes ``lam * cos(x, q) - (1 - lam) * max_{s in S} cos(x, s)``
    over the not-yet-selected pool (first pick: relevance alone).
    The selection a few-shot prompt builder or eval-set curator wants
    instead of plain top-k, whose neighbors are often near-copies.

    Scale contract: greedy MMR is inherently k sequential passes —
    each pass is ONE scan of the (persisted) relevance-scored pool
    with the selected set as k LITERAL vectors folded map-side (no
    join, no shuffle; the per-candidate work is |S| sequential-fold
    cosines). Driver state is the k selected (id, vector) rows —
    bounded by k, the centroids/codebook precedent. At 100 TB the
    pool is a pre-filtered candidate set (an ANN shortlist or a
    stratified sample), not the raw corpus; the per-pass plan is
    unchanged.

    Determinism: every cosine is a sequential IEEE fold with the
    1e-12 norm floor (bitwise reproducible — the lsh_ann_topk
    convention); the selected vectors re-enter as literals whose
    doubles round-trip exactly; ``lam`` and ``1-lam`` must BOTH be
    given as exact literals by the caller convention (0.7/0.3 —
    computing 1-0.7 would yield 0.30000000000000004); ties break by
    ascending id. Scores round to 6dp IN the plan (engine rounding,
    not Python's banker's rounding)."""
    import math

    from logicash_etl_spark.operators.caching import scoped_persist

    spark = corpus.sparkSession

    def _pynorm(vec) -> float:
        # bitwise twin of _norm's JVM fold: square each component,
        # left-fold sum from 0.0, correctly-rounded sqrt — identical
        # IEEE ops in identical order, so the driver-computed literal
        # equals the per-row fold bit for bit (r13: norms of LITERAL
        # vectors were re-folded per pool row per pass)
        s = 0.0
        for x in vec:
            s += float(x) * float(x)
        return math.sqrt(s)

    q_lit = F.array(*[F.lit(float(v)) for v in query_vec])
    q_norm = F.lit(_pynorm(query_vec))
    xv = as_double(VEC_COL)
    # __n rides in the persisted pool: each pass's |S| cosine folds
    # reuse it instead of re-deriving the candidate norm per selected
    # vector (the step-i expression previously held i+1 norm folds per
    # row; now exactly the dot folds remain)
    base = scoped_persist(
        corpus.select(F.col(ID_COL), xv.alias("__v"), _norm(xv).alias("__n"))
        .withColumn(
            "__rel",
            _dot(F.col("__v"), q_lit)
            / F.greatest(F.col("__n") * q_norm, F.lit(1e-12)),
        )
    )
    lam_c = F.lit(float(lam))
    div_c = F.lit(round(1.0 - lam, 10))
    selected: list[tuple] = []
    out: list[tuple] = []
    for step in range(1, k + 1):
        if selected:
            sims = [
                _dot(F.col("__v"), F.array(*[F.lit(float(x)) for x in sv]))
                / F.greatest(
                    F.col("__n") * F.lit(_pynorm(sv)),
                    F.lit(1e-12),
                )
                for _, sv in selected
            ]
            msim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = lam_c * F.col("__rel") - div_c * msim
        else:
            score = lam_c * F.col("__rel")
        pool = base
        if selected:
            pool = base.filter(
                ~F.col(ID_COL).isin([sid for sid, _ in selected])
            )
        picked = (
            pool.select(
                F.col(ID_COL),
                "__v",
                F.round(score, 6).alias("__score"),
            )
            .orderBy(F.desc("__score"), F.asc(ID_COL))
            .limit(1)
            .collect()
        )
        if not picked:
            # pool exhausted (k > candidates, or empty corpus): stop
            # with the exemplars found — the contract every greedy
            # selector follows — instead of an IndexError (found by
            # the r10 empty-corpus sweep)
            break
        top = picked[0]
        selected.append((top[ID_COL], list(top["__v"])))
        out.append((step, top[ID_COL], float(top["__score"])))
    return spark.createDataFrame(
        out, f"rank int, {ID_COL} long, mmr_score double"
    )
