"""Deduplication operators — exact and near-dup, at pipeline scale.

Beyond-reference scope (SURVEY.md section 7): first-class components of a
training-data pipeline. Design for 100 TB:

- exact: hash-groupBy on a content fingerprint — shuffle carries only
  (hash, id), never the text.
- MinHash + LSH: shingle -> k seeded xxhash64 minima -> band buckets ->
  candidates via equi-join on (band, band_hash) — the join never
  compares all pairs; verification re-checks exact Jaccard on the
  candidate set only.
- SimHash: 64-bit signature from token-hash bit majorities; near-dup =
  band-partitioned Hamming join.
- embedding near-dup: cosine >= threshold via the similarity module.

All signatures use seeded xxhash64 (JVM, codegen) — deterministic
across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logicash_etl_spark.operators.caching import scoped_persist
from logicash_etl_spark.operators.partitioning import scale_out
from logicash_etl_spark.operators.text import content_hash, tokens, word_shingles

# Near-dup shape of the catalog's text dedup: 3-word shingles, pairs at
# exact Jaccard >= 0.35, MinHash signatures of 64 seeded minima banded
# into 16 LSH bands of 4 rows.
NEAR_DUP_JACCARD = 0.35
MINHASH_HASHES = 64
MINHASH_BANDS = 16


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str) -> DataFrame:
    """Keep one row per identical (normalized) ``text``: group by
    md5 fingerprint, keep the min id — deterministic, unlike
    dropDuplicates which keeps an arbitrary row."""
    keep_ids = (
        df.select(F.col(id_col), content_hash(F.col("text")).alias("__h"))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .drop("__h")
    )
    # semi join back: only ids survive the shuffle, not text payloads
    return df.join(keep_ids, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _signatures_from_exploded(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, __s shingle) rows -> (id, __mh0..__mh{k-1}) MinHash
    signatures: min over distinct shingles of xxhash64(shingle, seed_i).

    Plan shape: ONE groupBy(id) with k min-aggregates (seeds are python
    ints -> flat codegen). Shuffle carries k longs per doc. Docs with
    no shingles are absent (nothing to near-dup on)."""
    return sh.groupBy(id_col).agg(
        *[F.min(F.xxhash64("__s", F.lit(i))).alias(f"__mh{i}") for i in range(MINHASH_HASHES)]
    )


def _banded_keys(with_sig: DataFrame, id_col: str) -> DataFrame:
    """(id, __mh0..__mh{k-1}) signatures -> (id, band, bhash) LSH
    bucket keys: one xxhash64 over each band's signature slice."""
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    return with_sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"__mh{i}")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        ).alias("bhash"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash")
    )


def minhash_lsh_candidates(shingles: DataFrame, id_col: str) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over ``shingles`` (id, sh
    array): split each MinHash signature into ``MINHASH_BANDS`` groups
    of ``MINHASH_HASHES / MINHASH_BANDS`` values, bucket on (band_idx,
    xxhash64(band values)), self-join buckets.

    Shuffle volume: num_docs x bands small rows; candidate pairs only
    where a full band collides (the LSH s-curve). Returns distinct
    (id_a, id_b), id_a < id_b.
    """
    exploded = shingles.select(F.col(id_col), F.explode("sh").alias("__s"))
    banded = scoped_persist(
        _banded_keys(_signatures_from_exploded(exploded, id_col), id_col)
        # persist: both self-join sides otherwise recompute the whole
        # signature pipeline (explode + k-agg groupBy). bands rows x
        # 20 bytes per doc; freed by the innermost cache_scope (callers
        # without a scope own cleanup, as before).
    )

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bhash") == F.col("b.bhash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def jaccard_pairs(df: DataFrame, id_col: str, max_doc_freq: int = 100) -> DataFrame:
    """EXACT 3-word-shingle Jaccard near-dup pairs (>= NEAR_DUP_JACCARD)
    of ``text`` via inverted index: explode distinct shingles ->
    self-join on shingle -> |intersect| = co-occurrence count ->
    Jaccard = inter / (|A|+|B|-inter).

    No all-pairs comparison: only documents sharing >=1 shingle meet.
    At 100 TB, hot shingles are the skew risk: a shingle in k docs
    produces k^2 candidate rows. Shingles above ``max_doc_freq``
    document frequency are dropped from the inverted index, which then
    serves as CANDIDATE GENERATION only; surviving pairs are re-scored
    exactly from their full shingle sets (so scores are still exact).
    Pairs sharing ONLY stop-shingles are missed — the deliberate trade
    (boilerplate overlap, not content overlap). A cap of at least the
    document count makes no shingle hot: the plain inverted index.

    Caching: the (id, hash) projection is persisted because the plan
    consumes it up to 4x. The returned DataFrame is lazy, so the
    cache must outlive this call — materialize inside a
    ``cache_scope()`` (operators/caching.py) to free it
    deterministically; without a scope, callers own cleanup
    (``spark.catalog.clearCache()``), as perfbench does between
    queries.
    """
    # join/shuffle on the 64-bit shingle hash, not the string: smaller
    # shuffle rows, cheaper comparisons; P(collision) ~ n^2/2^64 is
    # negligible for intersection counting
    sh = scoped_persist(
        # scale_out first: tokenization is CPU-bound and must not be
        # serialized onto the scan's (possibly single-split) layout
        scale_out(df.select(id_col, "text"))
        .select(
            F.col(id_col), F.explode(F.array_distinct(word_shingles("text", 3))).alias("__s")
        )
        .select(id_col, F.xxhash64("__s").alias("sh"))
        # consumed 3x (sizes + both join sides): persist the tiny
        # (id, hash64) projection instead of re-tokenizing the corpus
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))

    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("sh")
    )
    index = sh.join(F.broadcast(hot), on="sh", how="left_anti")
    hot_idx = sh.join(F.broadcast(hot), on="sh", how="left_semi")

    a, b = index.alias("a"), index.alias("b")
    inter = (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )

    # The rare index undercounts each candidate's intersection by
    # exactly |hot(A) & hot(B)| (shingle sets partition into rare +
    # hot), so correct with the TINY hot sub-index only — never
    # re-score against the full index: that join scales with
    # candidates x shingles-per-doc and triples the query at sf0.1
    # even when zero shingles are actually hot.
    inter = scoped_persist(inter)  # consumed twice below
    hot_a = hot_idx.select(F.col(id_col).alias("id_a"), F.col("sh").alias("__hsh"))
    hot_b = hot_idx.select(F.col(id_col).alias("id_b"), F.col("sh").alias("__hsh"))
    hot_inter = (
        inter.select("id_a", "id_b")
        .join(hot_a, on="id_a")
        .join(hot_b, on=["id_b", "__hsh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__hot_n"))
    )
    inter = (
        inter.join(hot_inter, on=["id_a", "id_b"], how="left")
        .withColumn("inter", F.col("inter") + F.coalesce("__hot_n", F.lit(0)))
        .drop("__hot_n")
    )

    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= NEAR_DUP_JACCARD)
    )
    return out.select("id_a", "id_b", "jaccard")


def minhash_dedup_pairs(df: DataFrame, id_col: str) -> DataFrame:
    """Full MinHash-LSH near-dup over 3-word shingles of ``text``: LSH
    candidates, then exact-Jaccard verification (>= NEAR_DUP_JACCARD)
    on the candidate set only (the scale path: candidates << all
    pairs).

    Caching: the shingle-array projection is persisted (feeds the
    signature path and both verification joins). As with
    ``jaccard_pairs``, the result is lazy — materialize inside a
    ``cache_scope()`` for deterministic cleanup."""
    # tokenize once: the shingle-array projection feeds both the LSH
    # signature path and the verification joins
    sh = scoped_persist(
        scale_out(df.select(id_col, "text"))
        .select(F.col(id_col), F.array_distinct(word_shingles("text", 3)).alias("sh"))
    )
    cands = minhash_lsh_candidates(sh, id_col)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= NEAR_DUP_JACCARD)
    )
    return verified.select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str) -> DataFrame:
    """SimHash signatures of ``text``: (id, __sim bigint). Bit b of the signature
    = 1 iff sum over token OCCURRENCES of (bit b of hash60(token) ?
    +1 : -1) > 0.

    The token hash is the first 15 hex chars of md5 parsed as a 60-bit
    integer — NOT xxhash64: md5 exists bit-identically in every SQL
    engine, so the entire signature pipeline (and therefore the
    banded near-dup query built on it) is reproducible by the DuckDB
    oracle and driver-hash-checked end to end. 60 bits keep the value
    inside a signed long with headroom; the top 4 signature bits are
    structurally 0, which leaves the pigeonhole banding guarantee of
    :func:`banded_hamming_pairs` intact (both members of any pair
    agree on those bits trivially).

    Plan shape: explode tokens -> hash once -> ONE groupBy(id) with
    60 conditional sums (all whole-stage codegen) -> pack bits.
    Scales linearly in corpus token count; shuffle carries 60
    ints per doc. Docs with no tokens get signature 0.
    """
    tok = scale_out(df.select(id_col, "text")).select(
        F.col(id_col), F.explode_outer(tokens("text")).alias("__t")
    )
    # conv(NULL) is NULL, so no-token docs (explode_outer's single
    # NULL row) hit the null vote branch below -> signature 0
    hashed = tok.select(
        id_col,
        F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10).cast("long").alias("__h"),
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("__h").isNull(), 0)
                .when(F.shiftright("__h", b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"__v{b}")
            for b in range(60)
        ]
    )
    sig = None
    for b in range(60):
        term = F.when(F.col(f"__v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig.bitwiseOR(term)
    return votes.select(F.col(id_col), sig.alias("__sim"))


def simhash_dup_pairs(df: DataFrame, id_col: str) -> DataFrame:
    """Near-dup pairs of ``text`` with Hamming(simhash_a, simhash_b) <= 3,
    via :func:`banded_hamming_pairs` (exact recall at 4 bands).
    """
    # persist: both sides of the block self-join consume the signature
    # pipeline (explode + 64-agg groupBy) — without this it runs twice.
    # (id, sim64) is 16 bytes/doc; freed by the innermost cache_scope.
    sig = scoped_persist(simhash_signatures(df, id_col))
    return banded_hamming_pairs(sig, id_col=id_col, sig_col="__sim", max_hamming=3)


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int,
) -> DataFrame:
    """Pairs with Hamming(sig_a, sig_b) <= max_hamming over ANY 64-bit
    signature frame (SimHash, perceptual image hash, audio hash...).

    Pigeonhole LSH: split 64 bits into 4 chunks; any pair within
    Hamming <= 3 must agree exactly on >=1 chunk -> block on
    (chunk_idx, chunk_value), verify Hamming on candidates via
    bit_count(xor). Exact recall for max_hamming <= 3.
    Callers own persisting ``sig`` (both join sides consume it).
    """
    bands = 4
    chunk = 64 // bands
    blocked = sig.select(
        id_col,
        F.col(sig_col).alias("__sim"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned(F.col(sig_col), b * chunk)
                        .bitwiseAND(F.lit((1 << chunk) - 1))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "__sim", F.col("bk.blk").alias("blk"), F.col("bk.val").alias("val"))
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.val") == F.col("b.val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))).alias("hamming"),
        )
        # filter BEFORE distinct: the Hamming verify is a row-local
        # expression, so evaluating it first shrinks the distinct's
        # shuffle input to true near-dups (a pair colliding on k bands
        # ships k copies into the distinct otherwise)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# Exact-substring (suffix-run) dedup — Lee et al., "Deduplicating
# Training Data Makes Language Models Better" (the ExactSubstr pass)
# ---------------------------------------------------------------------------

def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """Maximal token spans every position of which lies inside SOME
    repeated >= 8-token substring — exactly the REMOVAL
    SET of the exact-substring dedup pass production LM curation runs
    (Lee et al. 2022 cut any repeated 50-token substring; the
    reference implementation builds a corpus suffix array).

    Semantics note: the fused span itself need not repeat as a whole.
    Two adjacent shingles can be duplicated against DIFFERENT partner
    documents, fusing into one maximal span that occurs only here —
    but every token in it belongs to some >= L-token substring that
    does repeat, so cutting the span is precisely Lee et al.'s
    removal semantics (and what exact_substring_cut_stats /
    exact_substring_dedup_apply account and apply). Consumers needing
    per-span "this exact string repeats" evidence should re-verify
    span text, not assume it.

    Spark-first reformulation: a duplicated L-shingle IS a repeated
    L-token substring, and any repeated >= L-token substring is
    covered by its (all duplicated) L-shingles — so the union of
    duplicated-shingle windows equals the removal set exactly, and it
    materializes as maximal RUNS of consecutive duplicated positions:

    1. per doc, hash every L-token shingle at its position — pure JVM
       ``transform``/``slice``/``md5``, one row per token position;
    2. corpus-duplicated shingles = groupBy(shingle) HAVING count>1 —
       partial aggregation absorbs hot (boilerplate) shingles
       map-side; only (shingle, count) ever shuffles;
    3. keep duplicated positions via a shingle-keyed semi join, then
       gaps-and-islands per doc (``pos - row_number()``) to fuse
       consecutive positions into runs; a run [a, b] covers tokens
       [a, b + L - 1].

    Returns one row per maximal span: (id, span_start, span_end,
    span_tokens), token positions 1-based inclusive. Spans of the same
    doc can OVERLAP when two runs sit closer than L apart (each span
    extends L-1 past its run) — union their lengths with
    ``merge_spans_stats`` before counting cut tokens.

    100 TB shape: the only corpus-sized shuffles key on the shingle
    hash (the agg and the semi join) — the same O(total tokens) work
    class as suffix-array construction, but embarrassingly parallel
    and with no giant sorted index to materialize. The per-doc
    islands window is bounded by document length, never corpus size.
    """
    from pyspark.sql import Window

    L = 8
    # tokens_col lets a caller that ALSO needs the token arrays (the
    # apply/stats pair) tokenize the corpus once and share the frame —
    # the expression below must stay identical to the default path
    # (tokens(lower(text))) or the shingle hashes diverge.
    if tokens_col is not None:
        toks = df.select(F.col(id_col), F.col(tokens_col).alias("__t"))
    else:
        toks = df.select(
            F.col(id_col), tokens(F.lower(F.col("text"))).alias("__t")
        )
    # guard: sequence(1, 0) would DESCEND in Spark, fabricating
    # positions for short docs — emit an empty shingle array instead
    sh = toks.select(
        id_col,
        F.posexplode(
            F.expr(
                f"if(size(__t) >= {L}, "
                f"transform(sequence(1, size(__t) - {L - 1}), "
                f"i -> md5(array_join(slice(__t, i, {L}), ' '))), "
                "array())"
            )
        ).alias("__p0", "__s"),
    ).select(
        id_col, (F.col("__p0") + 1).alias("pos"), F.col("__s").alias("s")
    )
    # persisted: sh feeds both the duplicate-shingle agg and the semi
    # join, each of which would re-tokenize and re-hash the corpus
    sh = scoped_persist(sh)
    dup = sh.groupBy("s").agg(F.count("*").alias("__n")).filter(
        F.col("__n") > 1
    )
    dpos = sh.join(dup.select("s"), on="s", how="left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = dpos.withColumn(
        "__grp", F.col("pos") - F.row_number().over(w)
    )
    return (
        runs.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (L - 1)).cast("bigint").alias("span_end"),
        )
        .withColumn(
            "span_tokens",
            (F.col("span_end") - F.col("span_start") + 1).cast("bigint"),
        )
        .drop("__grp")
    )


def merge_spans_stats(spans: DataFrame, id_col: str) -> DataFrame:
    """Union overlapping [span_start, span_end] intervals per id and
    return one row per id with the UNION length (``tokens_cut``) and interval
    count — the piece that turns repeated-substring spans into honest
    per-doc cut accounting (overlapping spans must not double-count).

    Classic running-max islands: a new island starts when an
    interval's start exceeds the max end seen so far. Windows
    partition per id (bounded by spans-per-doc), never corpus-wide."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("span_start", "span_end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy(id_col).orderBy("span_start", "span_end")
    islands = spans.withColumn(
        "__pmax", F.max("span_end").over(w_prev)
    ).withColumn(
        "__isl",
        F.sum(
            F.when(
                F.col("__pmax").isNull()
                | (F.col("span_start") > F.col("__pmax")),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    merged = islands.groupBy(id_col, "__isl").agg(
        F.min("span_start").alias("__s"), F.max("span_end").alias("__e")
    )
    return merged.groupBy(id_col).agg(
        F.sum(F.col("__e") - F.col("__s") + 1).cast("bigint").alias("tokens_cut"),
        F.count("*").cast("bigint").alias("n_spans_merged"),
    )


def minhash_probe_pairs(
    incoming: DataFrame,
    history: DataFrame,
    id_col: str,
) -> DataFrame:
    """ASYMMETRIC MinHash-LSH probe: near-dup pairs between an
    incoming lot and a (much larger) history corpus — the incremental
    form of ``minhash_dedup_pairs``, and the shape continuous
    curation actually runs: the history side's (id, band, bhash)
    bucket keys are a STORED index in production (bands x 20 bytes
    per doc, built once, appended per lot), so each arriving lot
    costs its own signatures plus one equi-join against the index —
    never a corpus self-join, never re-signing history.

    Candidates collide on (band, bhash) exactly as in the symmetric
    operator (same s-curve); verification re-scores every candidate
    at exact Jaccard (>= NEAR_DUP_JACCARD) on the full shingle arrays,
    so precision is 100% by construction. Returns (id_in, id_hist,
    jaccard).

    Skew note: a viral boilerplate bucket fans out |lot-bucket| x
    |hist-bucket|; both sides of the join carry only (id, band,
    bhash) so AQE's skew split applies, and the verify join caps the
    damage at candidate count, not pair count squared."""
    # persisted: each shingle frame feeds its band keys and the verify join
    sh_in = scoped_persist(
        scale_out(incoming.select(id_col, "text")).select(
            F.col(id_col),
            F.array_distinct(word_shingles("text", 3)).alias("sh"),
        )
    )
    sh_hist = scoped_persist(
        scale_out(history.select(id_col, "text")).select(
            F.col(id_col),
            F.array_distinct(word_shingles("text", 3)).alias("sh"),
        )
    )

    def banded(sh: DataFrame) -> DataFrame:
        exploded = sh.select(F.col(id_col), F.explode("sh").alias("__s"))
        return _banded_keys(_signatures_from_exploded(exploded, id_col), id_col)

    cands = (
        banded(sh_in)
        .select(F.col(id_col).alias("id_in"), "band", "bhash")
        .join(
            banded(sh_hist).select(
                F.col(id_col).alias("id_hist"), "band", "bhash"
            ),
            on=["band", "bhash"],
        )
        .select("id_in", "id_hist")
        .distinct()
    )
    a = sh_in.select(F.col(id_col).alias("id_in"), F.col("sh").alias("sh_a"))
    b = sh_hist.select(
        F.col(id_col).alias("id_hist"), F.col("sh").alias("sh_b")
    )
    return (
        cands.join(a, "id_in")
        .join(b, "id_hist")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= NEAR_DUP_JACCARD)
        .select("id_in", "id_hist", "jaccard")
    )


def prefix_filter_pairs(df: DataFrame, id_col: str) -> DataFrame:
    """EXACT Jaccard >= t = 1/2 near-dup pairs of ``text``'s 3-word
    shingles via PREFIX FILTERING (Chaudhuri
    et al. SSJoin'06 / Bayardo et al. All-Pairs WWW'07 / Xiao et al.
    PPJoin WWW'08): order every document's shingle set by a global
    total order (document frequency ascending — rarest first), index
    only each document's first ``|d| - ceil(t*|d|) + 1`` shingles,
    and generate candidates from the PREFIX index alone.

    The prefix theorem makes this lossless: if J(A,B) >= t, the
    globally-smallest common shingle w must sit inside both prefixes
    (if w fell outside A's prefix, at least ``|A| - p_A + 1 =
    ceil(t|A|)`` shingles of A would precede it, none shared, so
    |A ∩ B| <= |A| - ceil(t|A|) < t|A| <= |A ∩ B| — contradiction).
    So recall is exactly 1 for ANY consistent tie-broken order, and
    the final exact re-score makes precision 1: the output EQUALS the
    full inverted-index join's, while the candidate join touches only
    prefix postings — at t=0.5 that is ~half of the index, and the
    df-ascending order concentrates prefixes on RARE shingles, so
    posting lists in the candidate join are short where it matters.
    A length filter (min_sz >= t * max_sz, implied by J >= t since
    J <= min/max) prunes candidates before the verify join.

    Shingles with document frequency above 100 are REMOVED from the
    shingle space entirely and Jaccard is computed over the remaining
    (content-bearing) shingles — unlike ``jaccard_pairs``' candidate-
    only prune + full-set re-score, this keeps the prefix theorem exact
    over the filtered sets AND bounds every posting list at 100, which
    is the 100 TB posture: boilerplate never fans out, and the
    quadratic term is capped at df^2 per shingle.

    Returns (id_a, id_b, jaccard) over the (filtered) shingle space.
    Caching: the (id, shingle-hash) projection is consumed 4x
    (df ranks, sizes, both verify legs) — persisted via
    ``scoped_persist``; materialize within a ``cache_scope()``.
    """
    from pyspark.sql import Window

    # t = 1/2 as the exact rational p/q: all three bounds (prefix,
    # length filter, final Jaccard cut) use integer arithmetic on p/q,
    # so a pair at exactly J = t is kept (a float ceil(t*sz) can
    # overshoot the prefix theorem's integer bound).
    t_num, t_den = 1, 2

    sh = (
        scale_out(df.select(id_col, "text"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(word_shingles("text", 3))).alias("__s"),
        )
        .select(id_col, F.xxhash64("__s").alias("sh"))
    )
    # ONE df-count shuffle: the hot filter AND the prefix ranks both
    # read the persisted count table (dropping hot shingles cannot
    # change any surviving shingle's count, so post-filter df ==
    # pre-filter df for every kept shingle).
    wc = scoped_persist(sh.groupBy("sh").agg(F.count("*").alias("tdf")))
    hot = wc.filter(F.col("tdf") > 100).select("sh")
    # broadcast anti-join: stays map-side
    sh = sh.join(F.broadcast(hot), on="sh", how="left_anti")
    dfreq = wc.filter(F.col("tdf") <= 100)

    # per-doc sorted set + size in ONE groupBy (sizes was a second
    # full shuffle on the same key); doc_sets persists for its three
    # consumers (size joins in cand + both verify legs)
    doc_sets = scoped_persist(
        sh.groupBy(id_col).agg(
            F.array_sort(F.collect_list("sh")).alias("__set"),
            F.count("*").alias("sz"),
        )
    )
    sizes = doc_sets.select(id_col, "sz")
    # global order: (df asc, hash asc) — any consistent total order
    # preserves the theorem; df-ascending minimizes candidate fan-out
    ranked = sh.join(dfreq, on="sh").withColumn(
        "rk", F.row_number().over(Window.partitionBy(id_col).orderBy("tdf", "sh"))
    )
    prefix = (
        ranked.join(sizes, on=id_col)
        .filter(
            F.col("rk")
            <= F.col("sz")
            - F.expr(f"(({t_num} * sz) + {t_den - 1}) div {t_den}")
            + 1
        )
        .select(id_col, "sh", "rk")
    )

    a = prefix.select(
        F.col(id_col).alias("id_a"), "sh", F.col("rk").alias("__rka")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "sh", F.col("rk").alias("__rkb")
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    # POSITIONAL filtering (PPJoin, Xiao et al. WWW'08, set-based
    # aggregate form a la Vernica et al. SIGMOD'10): for a candidate
    # pair let c = #shared PREFIX tokens and (pmax_a, pmax_b) the
    # ranks of the globally-LAST shared prefix token in each doc.
    # Because ranks follow one global total order, any shared token
    # NOT in both prefixes must order after that token in BOTH docs
    # (a shared token ranked before it in both would land inside both
    # prefixes and be counted in c), so
    #   overlap <= c + min(sz_a - pmax_a, sz_b - pmax_b),
    # while J >= t requires overlap*(p+q) >= p*(sz_a+sz_b) exactly.
    # The groupBy replaces the old distinct() (same shuffle, same
    # key), so the filter is free; it only shrinks the verify join's
    # fan-in. Exact rational arithmetic throughout (see above).
    cand = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("__c"),
            F.max("__rka").alias("__pa"),
            F.max("__rkb").alias("__pb"),
        )
        .join(sa, on="id_a")
        .join(sb, on="id_b")
        .filter(
            F.least("sz_a", "sz_b") * t_den
            >= F.greatest("sz_a", "sz_b") * t_num
        )
        .filter(
            (
                F.col("__c")
                + F.least(
                    F.col("sz_a") - F.col("__pa"),
                    F.col("sz_b") - F.col("__pb"),
                )
            )
            * (t_num + t_den)
            >= (F.col("sz_a") + F.col("sz_b")) * t_num
        )
        .drop("__c", "__pa", "__pb")
    )
    # VERIFY on compact per-doc shingle arrays: joining each survivor
    # back to the exploded posting frame costs candidates x
    # shingles-per-doc intermediate rows (measured ~18M at sf0.1)
    # plus a pair-keyed shuffle to count; two array lookups plus a
    # row-local array_intersect touch the same data as ~2 bigints per
    # shingle with NO post-join shuffle. The arrays are per-document
    # (bounded by the doc's own shingle count, df-capped corpus-wide),
    # so rows stay small at any corpus size. (doc_sets is built above,
    # fused with the size aggregate.)
    inter = (
        cand.join(
            doc_sets.select(
                F.col(id_col).alias("id_a"), F.col("__set").alias("__seta")
            ),
            on="id_a",
        )
        .join(
            doc_sets.select(
                F.col(id_col).alias("id_b"), F.col("__set").alias("__setb")
            ),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("__seta", "__setb")).alias("inter"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(
            F.col("inter") * t_den
            >= (F.col("sz_a") + F.col("sz_b") - F.col("inter")) * t_num
        )
        .select("id_a", "id_b", "jaccard")
    )
